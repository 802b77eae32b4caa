package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Components, Fixpoint, TextOps}

/** Pins the Fixpoint.checkpointFresh contract that q104 (pagerank), q65
  * (star contraction), and q143 (BPE training) rely on: a loop that
  * checkpoints each round's state must NOT let plan-statistics estimates
  * compound across rounds. `localCheckpoint` truncates execution lineage
  * but inherits the origin plan's stats; a self-join step therefore
  * SQUARES the inherited sizeInBytes each round (digit count doubles —
  * the r9 forensic: seconds-long BigInt multiplications in the driver by
  * round ~17). checkpointFresh's createDataFrame rebuild resets to fresh
  * default stats, so the estimate is a round-independent constant.
  *
  * The assertion is on the stats BigInt itself (deterministic), not on
  * wall-clock — the digit count IS the planning-time driver.
  *
  * Also pins `Fixpoint.onDriver`, the side selection of the pagerank,
  * PPR and k-core loops, on the plan leaf each side returns. */
class FixpointSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** One fixpoint-shaped round: compose the loop state with the base
    * edge relation (u→u+1), i.e. advance every chain one hop — the
    * q104/q65 shape of joining round state against a static side. */
  private def step(e: DataFrame, base: DataFrame): DataFrame = {
    val l = e.select(col("u").as("lu"), col("v").as("lv"))
    l.join(base, col("lv") === col("u"))
      .select(col("lu").as("u"), col("v"))
  }

  private def digits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length

  test("checkpointFresh keeps per-round plan-size estimates flat where " +
      "plain localCheckpoint compounds them (VERDICT r9 #2)") {
    val e0 = s.range(32).select(col("id").as("u"), (col("id") + 1).as("v"))
    val rounds = 12 // ~2x the shipped loops' sf0.1 round counts (5-8)

    // Foil: the inherited-stats path. Digit count must GROW — if Spark
    // ever starts resetting stats in localCheckpoint, checkpointFresh's
    // rebuild (and this spec) can be retired.
    var plain = step(e0, e0).localCheckpoint(false)
    val d0 = digits(plain)
    var dPrev = d0
    var grew = false
    for (_ <- 2 to rounds) {
      plain = step(plain, e0).localCheckpoint(false)
      val d = digits(plain)
      grew ||= d > dPrev
      dPrev = d
    }
    assert(grew && dPrev > 2 * d0,
      s"foil did not compound: round-1 $d0 digits, round-$rounds $dPrev")

    // The shipped path: flat at the fresh-stats constant, every round.
    var fresh = Fixpoint.checkpointFresh(step(e0, e0))
    val f0 = digits(fresh)
    for (r <- 2 to rounds) {
      fresh = Fixpoint.checkpointFresh(step(fresh, e0))
      assert(digits(fresh) == f0,
        s"round $r estimate ${digits(fresh)} digits != round-1 $f0")
    }

    // and the loop still computes the right thing on the data path:
    // u -> u+rounds edges survive all rounds for the surviving range
    val got = fresh.orderBy("u").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 32 - rounds)
    assert(got.forall { case (u, v) => v == u + rounds + 1 })
  }

  test("checkpointRound bounds estimates to the reset window at any " +
      "depth (the shipped amortized form)") {
    // The shipped loops use checkpointRound: plain lazy checkpoints
    // (partitioning-preserving, no per-round exchange) with a full
    // reset every RESET_EVERY rounds. The estimate must be PERIODIC —
    // every round's digit count equals the same-phase round one window
    // earlier — i.e. bounded forever, never compounding.
    val e0 = s.range(64).select(col("id").as("u"), (col("id") + 1).as("v"))
    val rounds = 26 // > 3 reset windows
    var st = Fixpoint.checkpointRound(step(e0, e0), 1)
    val ds = scala.collection.mutable.ArrayBuffer(digits(st))
    for (r <- 2 to rounds) {
      st = Fixpoint.checkpointRound(step(st, e0), r)
      ds += digits(st)
    }
    val w = Fixpoint.RESET_EVERY
    // compare full post-first-reset windows (phases align from round
    // w+1 on; the pre-reset phase may differ at its entry point)
    for (r <- 2 * w + 1 to rounds)
      assert(ds(r - 1) == ds(r - 1 - w),
        s"round $r estimate ${ds(r - 1)} digits != round ${r - w} " +
          s"${ds(r - 1 - w)} — not window-periodic: $ds")
    // growth within a window exists (it is the plain-checkpoint phase)
    assert(ds.max > ds.min, s"expected within-window growth: $ds")
    // data path: 26 hops over the 64-chain
    val got = st.orderBy("u").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 64 - rounds)
    assert(got.forall { case (u, v) => v == u + rounds + 1 })
  }

  test("the stride-aware form resets on CROSSING a window boundary for " +
      "strides that don't divide RESET_EVERY (ADVICE r13)") {
    // converge2 advances `unroll` rounds per job; with stride 3 the old
    // round % RESET_EVERY == 0 test fired only every lcm(3, 8) = 24
    // rounds. The stride form must keep the estimate bounded to the
    // window at ANY depth: assert the digit count never exceeds the
    // max seen in the first two windows (a compounding path would blow
    // past it — the foil above doubles digits per round).
    val e0 = s.range(128).select(col("id").as("u"), (col("id") + 1).as("v"))
    val stride = 3
    val jobs = 20 // 60 rounds ≈ 7.5 windows; lcm-aligned resets get 2
    var st = Fixpoint.checkpointRound(step(step(step(e0, e0), e0), e0),
      stride, 0)
    val ds = scala.collection.mutable.ArrayBuffer(digits(st))
    for (j <- 2 to jobs) {
      st = Fixpoint.checkpointRound(
        step(step(step(st, e0), e0), e0), j * stride, (j - 1) * stride)
      ds += digits(st)
    }
    val w = Fixpoint.RESET_EVERY
    val perWindow = (w + stride - 1) / stride // jobs per window, ceil
    val bound = ds.take(2 * perWindow).max
    assert(ds.forall(_ <= bound),
      s"stride-$stride estimates escaped the two-window bound $bound: $ds")
    // data path: 60 hops over the 128-chain
    val rounds = jobs * stride
    val got = st.orderBy("u").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 128 - rounds)
    assert(got.forall { case (u, v) => v == u + rounds + 1 })
  }

  test("side selection: a LocalRelation at or under the driver pair " +
      "limit, a LogicalRDD above it or when it is -1") {
    import s.implicits._
    // a path into a 5-cycle with two seeds (10, 20): 9 pairs, which is
    // also k-core's normalized edge count
    val pairs = Seq((10L, 1L), (1L, 2L), (2L, 3L), (1L, 20L), (20L, 21L),
      (21L, 22L), (22L, 23L), (23L, 24L), (24L, 20L)).toDF("u", "v")
    val rows = 9L
    val loops: Seq[(String, () => DataFrame)] = Seq(
      "kCore" -> (() => Components.kCore(pairs, 2, 30)),
      "pageRankConverged" -> (() => TextOps.pageRankConverged(pairs)),
      "pprConverged" -> (() => TextOps.pprConverged(pairs)))
    for ((name, loop) <- loops) {
      def at(limit: Long) = TestSpark.onSide(limit)(loop())
      def leaves(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()
      for (t <- Seq(rows, rows + 1)) {
        val l = leaves(at(t))
        assert(l.nonEmpty && l.forall(_.isInstanceOf[LocalRelation]),
          s"$name at limit $t: $l")
      }
      for (t <- Seq(rows - 1, 0L, -1L)) {
        val l = leaves(at(t))
        assert(l.nonEmpty && l.forall(_.isInstanceOf[LogicalRDD]),
          s"$name at limit $t: $l")
      }
      // unbound, the limit is DRIVER_MAX_PAIRS
      assert(leaves(loop()).forall(_.isInstanceOf[LocalRelation]), name)
      // same columns, types and nullability on both sides
      assert(at(rows).schema === at(-1L).schema, name)
    }
  }
}
