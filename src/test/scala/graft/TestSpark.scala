package graft

import org.apache.spark.sql.SparkSession

/** Shared test session — one JVM-wide session matching the Verify/Bench
  * builder configuration (UTC, nanosAsLong, graft extensions). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with `key` set to `value` (None = unset), restoring the
    * previous setting afterwards. */
  def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val saved = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The two sides of the small-graph loops (pagerank, PPR, k-core;
    * queries.Fixpoint.onDriver), each forced by binding the driver
    * side's pair limit. */
  val LOOP_SIDES: Seq[(String, Long)] =
    Seq("driver" -> Long.MaxValue, "distributed" -> -1L)

  def onSide[T](maxPairs: Long)(body: => T): T =
    queries.Fixpoint.driverMaxPairs.withValue(maxPairs)(body)
}
