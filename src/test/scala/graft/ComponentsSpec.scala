package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Components

/** Pins the q65 scale fix: large-star/small-star converges in O(log n)
  * rounds on a graph whose DIAMETER exceeds the naive propagation cap,
  * while the naive form now fails loudly instead of silently returning
  * partial labels (the r4 defect).
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** Path graph 0–1–2–…–30: diameter 30, component min 0. */
  private def pathEdges = {
    import s.implicits._
    (0L until 30L).map(i => (i, i + 1)).toDF("u", "v")
  }

  /** kCore on one side of the driver gate, as a (doc_id → core_deg) map. */
  private def kCoreOn(maxPairs: Long, edges: DataFrame, k: Int,
      cap: Int = 30): Map[Long, Long] = TestSpark.onSide(maxPairs) {
    Components.kCore(edges, k, cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("naive min-label propagation fails loudly past its round cap") {
    val e = intercept[IllegalStateException] {
      Components.minLabelPropagation(pathEdges, maxIter = 20).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star contraction converges on the 30-deep path in O(log n) rounds") {
    val (labels, rounds) = Components.starContractionWithRounds(pathEdges)
    val rows = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size === 31)
    assert(rows.values.forall(_ == 0L), s"all labels must be the component min: $rows")
    assert(rounds <= 10, s"star contraction took $rounds rounds on a 31-node path")
  }

  test("star contraction matches naive propagation on a multi-component graph") {
    import s.implicits._
    // two cycles, a star, a chain and an isolated edge — mixed shapes,
    // several components, ids deliberately non-contiguous
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),             // triangle → min 1
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), // 4-cycle → min 10
      (20L, 25L), (20L, 26L), (20L, 27L),        // star → min 20
      (30L, 31L), (31L, 32L), (32L, 33L),        // chain → min 30
      (40L, 41L)                                 // edge → min 40
    ).toDF("u", "v")
    val star = Components.starContraction(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = Components.minLabelPropagation(edges, maxIter = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === naive)
    assert(star(3L) === 1L && star(13L) === 10L && star(27L) === 20L &&
      star(33L) === 30L && star(41L) === 40L)
  }

  test("triangle counts: clique saturated, cycle/star/chain triangle-free, " +
      "input normalization tolerated") {
    import s.implicits._
    // K4 on {1,2,3,4} (each node in C(3,2)=3 triangles), a 4-cycle, a
    // star hub and a chain (all triangle-free) — plus a reversed
    // duplicate edge and a self-loop the normalization must absorb
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L),                                  // reversed duplicate
      (5L, 5L),                                  // self-loop
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), // 4-cycle
      (20L, 25L), (20L, 26L), (20L, 27L),        // star
      (30L, 31L), (31L, 32L)                     // chain
    ).toDF("u", "v")
    val got = Components.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("k-core: chains dissolve, cycles survive, the pendant peel cascades") {
    import s.implicits._
    // triangle with a 3-edge pendant chain (each peel round exposes the
    // next under-degree node — 3 cascade rounds), a 4-cycle (minimal
    // 2-core with no triangles), an isolated edge, plus the same
    // normalization abuse the triangle test uses
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),              // triangle → survives
      (3L, 10L), (10L, 11L), (11L, 12L),         // pendant chain → cascades away
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L), // 4-cycle → survives
      (2L, 1L),                                  // reversed duplicate
      (7L, 7L),                                  // self-loop
      (30L, 31L)                                 // isolated edge → peels
    ).toDF("u", "v")
    for ((side, maxPairs) <- TestSpark.LOOP_SIDES)
      assert(kCoreOn(maxPairs, edges, 2) === Map(1L -> 2L, 2L -> 2L,
        3L -> 2L, 20L -> 2L, 21L -> 2L, 22L -> 2L, 23L -> 2L), side)
  }

  test("k=3 core: the attached triangle peels, K4 survives exactly") {
    import s.implicits._
    // K4 on {1,2,3,4} plus a triangle {4,5,6}: 5 and 6 sit at degree 2,
    // peel under k=3, and drop node 4 from degree 5 back to 3 — the
    // fixpoint must report CORE degrees, not input degrees
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)
    ).toDF("u", "v")
    for ((side, maxPairs) <- TestSpark.LOOP_SIDES)
      assert(kCoreOn(maxPairs, edges, 3) ===
        Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), side)
  }

  test("k-core matches local peeling on the seeded hot-hub graph, and " +
      "peeling below the cap") {
    import s.implicits._
    val rnd = new scala.util.Random(149)
    val n = 60
    val base = (for {
      u <- 0 until n; v <- (u + 1) until n
      if rnd.nextDouble() < 0.08 || (u == 0 && v % 3 == 0)
    } yield (u.toLong, v.toLong)).distinct
    // local reference: same parallel peel, plain Scala
    var es = base
    var changed = true
    while (changed) {
      val deg = es.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (x, l) => x -> l.size }
      val alive = deg.filter(_._2 >= 3).keySet
      val next = es.filter(e => alive(e._1) && alive(e._2))
      changed = next.size != es.size
      es = next
    }
    val want = es.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (x, l) => x -> l.size.toLong }
    assert(want.nonEmpty, "seeded graph unexpectedly has an empty 3-core")
    for ((side, maxPairs) <- TestSpark.LOOP_SIDES)
      assert(kCoreOn(maxPairs, base.toDF("u", "v"), 3) === want, side)
  }

  test("k-core fails loudly past the round cap instead of returning a " +
      "half-peeled subgraph") {
    import s.implicits._
    // a 13-node path peels from both ends: ~6 rounds at k=2, cap 2 trips
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("u", "v")
    def peels(maxPairs: Long, cap: Int): Boolean =
      try { kCoreOn(maxPairs, chain, 2, cap); true }
      catch { case e: IllegalArgumentException =>
        assert(e.getMessage.contains(s"still peeling after $cap rounds"))
        false
      }
    // both sides: the same lowest successful cap (peel depth plus the
    // confirming round), and the same exception at every cap below it
    val lowest = TestSpark.LOOP_SIDES.map { case (side, maxPairs) =>
      side -> (1 to 30).find(peels(maxPairs, _)).get
    }
    assert(lowest.map(_._2).distinct.size === 1, s"lowest caps $lowest")
    assert(lowest.head._2 > 2, "the 13-node path must need more than 2 rounds")
  }

  test("triangle counts match a local brute-force census on a seeded " +
      "random graph with a forced hot hub") {
    import s.implicits._
    val rnd = new scala.util.Random(148)
    val n = 60
    // ~8% random edges + a hub (node 0) wired to every third node: the
    // hub's degree (~20) dwarfs the rest, exercising the η-orientation's
    // hot-node path (its edges must all point INTO it)
    val base = for {
      u <- 0 until n; v <- (u + 1) until n
      if rnd.nextDouble() < 0.08 || (u == 0 && v % 3 == 0)
    } yield (u.toLong, v.toLong)
    val got = Components.triangleCounts(base.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = base.foldLeft(Map.empty[Long, Set[Long]].withDefaultValue(Set.empty[Long])) {
      case (m, (u, v)) => m.updated(u, m(u) + v).updated(v, m(v) + u)
    }
    val want = (0L until n.toLong).map { x =>
      val nb = adj(x).toSeq
      x -> nb.combinations(2).count { case Seq(y, z) => adj(y)(z) }.toLong
    }.filter(_._2 > 0).toMap
    assert(want.nonEmpty, "seeded graph unexpectedly triangle-free")
    assert(got === want)
  }
}
