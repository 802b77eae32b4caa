package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Partition-independence, tested rather than asserted: the queries whose
  * semantics could most plausibly leak partitioning (hash-bucket split,
  * reservoir sampling, hash-seeded k-means, LSH banding with caps,
  * vocabulary tie-breaks, star-contraction rounds) are run twice — once
  * under the normal test layout and once with the input split into many
  * tiny file partitions and a co-prime shuffle partition count — and must
  * produce row-identical output. At 100 TB the partition layout is never
  * under the query author's control, so any layout-sensitivity is a
  * correctness bug, not a nuisance.
  */
class PartitionInvarianceSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val QUERIES = Seq(
    "q66_hash_split",
    "q67_stratified_sample",
    "q68_kmeans",
    "q27_minhash_near_dup",
    "q65_dedup_clusters",
    "q90_vocab_coverage",
    // r6 sketch/serving tier: CMS merge order, top-8 tie-break, bloom
    // partial-bitset merge, and the md5 Bernoulli draw must all be
    // layout-free
    "q98_cms_heavy_hitters",
    "q100_bloom_prefilter",
    // r7 SemDeDup: hash-seeded k-means feeding a per-cell dominance
    // self-join — centroid rank ties and the distinct() must be
    // layout-free
    "q129_semdedup",
    // r7 HLL rollup: sketch build + union partials merge in whatever
    // order the layout dictates — the within_bound verdict (and the
    // exact columns) must not see it
    "q136_hll_rollup",
    "q137_hll_sliding",
    "q101_source_mix_resample",
    "q102_cluster_safe_split",
    // late r6: the A-ES weighted ranks must not depend on merge order
    "q107_weighted_sample",
    // the broadcast as-of rebuilds its (ts, tie)-sorted index per TASK
    // from broadcast rows whose arrival order the layout controls — the
    // sort + binary search must erase that order completely
    "q113_asof_broadcast",
    // incremental dedup: the persisted index's bucket cap and the
    // broadcast probe must not depend on build/probe partitioning
    "q114_incremental_dedup",
    // selection tier: the DSIR decimal sum must be summation-order-free
    // and the MMR greedy's per-round argmax (centroid avg, first()-on-
    // constant groups, driver-collected picks) must be layout-free
    "q115_dsir_selection",
    "q119_mmr_selection",
    // retrieval tier: BM25's decimal contribution sum and rank ties,
    // the containment top-k boundary, and the curriculum histogram cut
    // must all be summation-/layout-order-free
    "q120_bm25_retrieval",
    "q123_containment",
    "q124_curriculum_bins",
    // CMS join-size estimate: integer cell sums + min-over-depth must
    // not see merge order
    "q126_join_size_estimate",
    // time-series tier: the decimal daily sums feeding the forward fill
    // and the unrolled-lag EWMA must be summation-order-free, and the
    // fill/lag windows must see only the (user, day) total order
    "q127_gap_fill",
    "q128_ewma")

  /** The graph loops (integer-quanta pagerank and PPR sums, k-core's
    * edge-count fixpoint) run on one of two sides, picked by
    * queries.Fixpoint.onDriver. Both sides must be layout-free, and they
    * must agree with each other. */
  private val LOOP_QUERIES = Seq(
    "q104_pagerank", "q149_kcore", "q158_personalized_pagerank")

  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(s, sfDir).collect()

  /** Runs `body` with the input split into many tiny file partitions and
    * a co-prime shuffle partition count. */
  private def shattered[T](body: => T): T =
    // ~64 KB splits shatter even sf0.001 parquet into many input
    // partitions; 7 is co-prime to the default 4 so every shuffle
    // re-buckets differently
    TestSpark.withConf("spark.sql.files.maxPartitionBytes", Some("65536")) {
      TestSpark.withConf("spark.sql.shuffle.partitions", Some("7"))(body)
    }

  private def assertLayoutFree(queries: Seq[String]): Map[String, Seq[Row]] = {
    val baseline = queries.map(q => q -> run(q).toSeq).toMap
    shattered {
      queries.foreach { q =>
        assert(run(q).toSeq === baseline(q),
          s"$q changed under a different partition layout")
      }
    }
    baseline
  }

  test("partition layout does not change any partition-sensitive query") {
    assertLayoutFree(QUERIES)
    val bySide = TestSpark.LOOP_SIDES.map { case (side, maxPairs) =>
      side -> TestSpark.onSide(maxPairs)(assertLayoutFree(LOOP_QUERIES))
    }
    for (q <- LOOP_QUERIES) {
      assert(bySide.head._2(q).nonEmpty, s"$q is empty at $sfDir")
      assert(bySide.map(_._2(q)).distinct.size === 1,
        s"$q differs between the sides")
    }
  }
}
