package graft.queries

import org.apache.spark.sql.DataFrame
import Lineage.LineageOps

/** Shared helpers for driver-paced fixpoint loops (q104 pagerank, q158
  * personalized pagerank, q149 k-core, q65 star contraction, q143 BPE
  * training).
  *
  * SIDE SELECTION. The pagerank, PPR and k-core loops run on one of two
  * sides, picked once per call by [[onDriver]]:
  *  - small graph: [[collectPairs]] collects the materialized pair list
  *    once into primitive arrays, and the loop iterates on them in the
  *    driver, returning a `LocalRelation` with the distributed side's
  *    columns and types. The arithmetic is the same integer floor
  *    division, so the results are bit-identical and a query pays one
  *    collect instead of ~20–45 near-empty jobs;
  *  - everything else: the distributed loop below, one Spark job per
  *    round (or per unrolled stride), with the checkpoint cadence of
  *    [[checkpointRound]].
  * The gate reads a row count the loop takes anyway, from the job that
  * materializes its input (k-core's normalized edge count, pagerank's
  * and PPR's pair count), and compares it with [[DRIVER_MAX_PAIRS]].
  * It is a fixed pair count, not a byte estimate tied to a Spark
  * setting, so tuning a join knob never moves a loop between sides.
  * Plan statistics cannot serve as the gate: [[checkpointFresh]] resets
  * them to defaults.
  *
  * CHECKPOINT CADENCE (distributed side): materialize a round's state
  * AND cut the plan-statistics lineage.
  *
  * Why the second half matters (round-9 finding, caught by jstack on a
  * stalled q104): `Dataset.localCheckpoint` truncates the EXECUTION
  * lineage but INHERITS the origin plan's statistics, and Catalyst's
  * SizeInBytesOnlyStatsPlanVisitor estimates a join as the PRODUCT of
  * its children's sizeInBytes (an unbounded BigInt). In a loop that
  * rebuilds joins on top of the previous round's checkpoint, the
  * inherited estimate compounds multiplicatively: with one reference to
  * the previous state the BigInt's digit count grows linearly per round
  * (quadratic total driver time — the invisible tax r8's loops paid);
  * with two references (the r9 carry-prev delta optimization) digits
  * DOUBLE per round and the driver ends up in seconds-long Toom-Cook-3
  * multiplications around round 17 (measured: 0.4 s/round flat through
  * round 16, then 3.8 → 9.2 → 22 → 58 → 151 s).
  *
  * Rebuilding the frame from the checkpointed RDD through the public
  * createDataFrame API yields a LogicalRDD with FRESH default
  * statistics — constant-size stats per round, flat round cost. The
  * Row round-trip is a linear, per-partition re-encode of already
  * materialized data (no shuffle); static auto-broadcast decisions on
  * the loop state are lost, which AQE's runtime re-planning restores
  * where warranted.
  *
  * The checkpoint is LAZY (`eager = false`): the marked RDD
  * materializes on the loop's own per-round action (q104's delta
  * aggregate, q65's sig(), q143's argmax head) and is reused by every
  * later reference, so a round stays ONE job — an eager checkpoint
  * here would silently re-add the extra job per round that the r8
  * single-job-per-round optimization removed (ADVICE r9).
  */
object Fixpoint {
  /** Largest pair list the driver side takes. Time gives no crossover
    * to set it from: with each side forced (`ScaleDebug loopside`,
    * synthetic clique graphs, local[4] on 4 vCPUs) the driver side was
    * faster at every size measured, 30k to 3M pairs (q104 18–39×, q158
    * 11–25×, q149 2.7–4.2×, the k-core margin narrowing with size). The
    * bound is set by driver memory instead. The driver side holds at
    * most 48 B per pair while [[collectPairs]] indexes, then 16 B per
    * pair and 41 B per node while a kernel iterates, then its output
    * rows: 88 (k-core) to 176 (PPR) B per node, measured with Spark's
    * SizeEstimator. At 500k pairs that is at most ~0.25 GB even if
    * every pair brings two new nodes (1M nodes); real similarity graphs
    * have far fewer nodes than pairs (sf1: 285,896 pairs, 51,708 nodes),
    * and at the bound the synthetic graph ran all three loops on either
    * side in a 1 GB heap. */
  val DRIVER_MAX_PAIRS: Long = 500000L

  /** The limit [[onDriver]] applies; tests bind it to force a side
    * (-1: always distributed, Long.MaxValue: always the driver). */
  private[graft] val driverMaxPairs =
    new scala.util.DynamicVariable[Long](DRIVER_MAX_PAIRS)

  /** The side selection described above: true when a loop input of
    * `pairs` rows runs on the driver. Runs no action. */
  def onDriver(pairs: Long): Boolean = pairs <= driverMaxPairs.value

  /** A pair list collected for the driver side: `ids` holds the
    * distinct endpoints in ascending order, and pair e joins nodes
    * `a(e)` and `b(e)`, positions in `ids`. */
  final class CollectedPairs(val ids: Array[Long], val a: Array[Int],
      val b: Array[Int]) {
    def size: Int = a.length
  }

  /** Collects the first two (long) columns of `pairs` once, straight
    * from the internal rows into one primitive array per partition (no
    * boxed Rows), and indexes the endpoints. Duplicate pairs and
    * self-loops are kept. */
  def collectPairs(pairs: DataFrame): CollectedPairs = {
    val flat = Array.concat(pairs.queryExecution.toRdd.mapPartitions { rows =>
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r => out += r.getLong(0); out += r.getLong(1) }
      Iterator.single(out.result())
    }.collect().toIndexedSeq: _*) // u0 v0 u1 v1 …
    val ids = distinctSorted(flat)
    val a = new Array[Int](flat.length / 2)
    val b = new Array[Int](flat.length / 2)
    for (e <- a.indices) {
      a(e) = java.util.Arrays.binarySearch(ids, flat(2 * e))
      b(e) = java.util.Arrays.binarySearch(ids, flat(2 * e + 1))
    }
    new CollectedPairs(ids, a, b)
  }

  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val sorted = xs.clone()
    java.util.Arrays.sort(sorted)
    var m = 0
    for (x <- sorted)
      if (m == 0 || sorted(m - 1) != x) { sorted(m) = x; m += 1 }
    java.util.Arrays.copyOf(sorted, m)
  }

  /** Timing caveat (round-10 measurement, q149): even with
    * `eager = false`, building the rebuilt frame touches `ck.rdd`, and
    * under AQE that materializes every INTERMEDIATE query stage of the
    * input subtree right there (AdaptiveSparkPlanExec executes shuffle
    * stages eagerly to re-plan; only the final stage stays lazy). So a
    * loop's CONSTRUCTION — not its first action — pays the input
    * subtree's cost, and per-round wall timers see only final stages.
    * Harmless for correctness and for the one-job-per-round shape, but
    * anyone profiling a fixpoint should put the clock around the
    * whole build, not the first count. */
  def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = df.cut(eager = false)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Amortized reset interval for [[checkpointRound]]. Between resets
    * the inherited estimate grows ≤ RESET_EVERY doublings — a ≤ ~10³
    * digit BigInt, microseconds of planner arithmetic — and then snaps
    * back to the fresh-stats constant, so planning cost is bounded at
    * ANY round depth. */
  val RESET_EVERY = 8

  /** Per-round checkpoint for a loop's CARRIED state (r10, after a
    * measured A/B): `checkpointFresh` every round costs an extra
    * exchange per round — the createDataFrame rebuild forgets the
    * round output's hash partitioning, so the next round re-shuffles
    * state that was already partitioned on the loop key. Measured on
    * q65+q102+q143 at sf0.1 (tagged bench artifacts): 19.2 s total
    * with a reset every round vs 15.0 s with plain checkpoints vs
    * ~16.2 s amortized — and q104's per-round time is 0.3–0.4 s flat
    * through 47 rounds under the amortized form, identical to the
    * every-round-reset shape. The plain lazy
    * `localCheckpoint` keeps the partitioning but inherits compounding
    * stats; taking it RESET_EVERY−1 rounds out of RESET_EVERY bounds
    * the stats BigInt to a trivial size while keeping the
    * exchange-free round shape. Round numbers are 1-based.
    *
    * Single-step form: the loop advanced one round, so the previous
    * round is `round - 1`. */
  def checkpointRound(df: DataFrame, round: Int): DataFrame =
    checkpointRound(df, round, round - 1)

  /** Stride-aware form (ADVICE r13): a loop that materializes SEVERAL
    * rounds per job (TextOps.converge2's unroll) calls this with the
    * job's end round and the round it carried IN. The old
    * `round % RESET_EVERY == 0` test only fired when a stride happened
    * to LAND on a multiple of RESET_EVERY — for strides that don't
    * divide it (3, 5, 6, 7; unroll 6 is actively benched) the reset
    * degraded to every lcm(stride, RESET_EVERY) = 24–56 rounds,
    * re-admitting the compounding sizeInBytes growth the reset exists
    * to bound (multiplied, post-unroll, through steps+1 join references
    * per job). Firing on CROSSING a multiple — any multiple of
    * RESET_EVERY in (prevRound, round] — keeps the amortization bound
    * (≤ RESET_EVERY + stride − 1 rounds of inherited-stats growth
    * between resets) for every stride, and is identical to the old
    * test at stride 1. */
  def checkpointRound(df: DataFrame, round: Int, prevRound: Int): DataFrame =
    if (prevRound / RESET_EVERY < round / RESET_EVERY) checkpointFresh(df)
    else df.cut(eager = false)
}
