package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload, one client in a closed loop.
  *
  *  1. Build a `local[cores]` session configured as `graft.Bench` does.
  *  2. Cold pass, in the listed order: every result is written as parquet to
  *     `<out>/check/<query>` for the oracle check. `setup_s` ends here.
  *  3. `passes` warm passes, each in its own seed-permuted order, every
  *     result materialized by a `noop` write.
  *  4. Heap and storage left after a forced GC, then `record.json`.
  *
  * A traced run (`--trace 1`) mixes untraced and traced warm passes, so
  * the two can be compared; in traced passes each query's jobs carry
  * its span id as job group and the phase as description, and
  * `spans.jsonl` is written at the end. The untraced run registers no
  * listener at all. Metrics are derived from the record by `run.py`.
  *
  * Usage: Main <workload> <q1,q2,...> <seed> <passes> <trace 0|1>
  *             <dataDir> <outDir> <cores> [<fixturesFrom> <fixturesTo>]
  *
  * The optional pair redirects fixture reads that the catalog pins to the
  * directory it was written in (see [[RemapFileSystem]]).
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, queryList, seedArg, passesArg, traceArg, data,
      outArg, coresArg) = args.take(8)
    val remap = if (args.length == 10) Some(args(8) -> args(9)) else None
    val queries = queryList.split(",").toSeq
    val seed = seedArg.toLong
    val passCount = passesArg.toInt
    val traced = traceArg == "1"
    val out = Paths.get(outArg)
    val cores = coresArg.toInt

    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", out.resolve("tmp").toString)
    remap.foreach { case (from, to) =>
      builder
        .config("spark.hadoop.fs.file.impl", classOf[RemapFileSystem].getName)
        .config("spark.hadoop.perfbench.remap.from", from)
        .config("spark.hadoop.perfbench.remap.to", to)
    }
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = secs(t0)

    val tracer = new Tracer
    val querySpans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Lookup, construction and write of one query; never throws. */
    def runQuery(pass: Int, name: String, tracing: Boolean)(
        write: DataFrame => Unit): Map[String, Any] = {
      val id = s"p$pass/$name"
      def phase(p: String): Unit =
        if (tracing) sc.setJobGroup(id, p, interruptOnCancel = false)
      if (tracing) tracer.current = id
      val wall0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var n1, n2 = n0
      val error = try {
        phase("lookup")
        val build = graft.SparkEntry.queries(name)
        n1 = System.nanoTime()
        phase("construct")
        val df = build(spark, data)
        n2 = System.nanoTime()
        phase("write")
        write(df)
        None
      } catch { case e: Throwable =>
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).take(12)
          .map(c => s"${c.getClass.getName}: ${c.getMessage}").toSeq
        errors += Map("query" -> name, "pass" -> pass, "cause_chain" -> chain)
        Some(chain.head)
      } finally if (tracing) sc.clearJobGroup()
      val n3 = System.nanoTime()
      if (n1 == n0) n1 = n3
      if (n2 == n0) n2 = n3
      val sample = mutable.LinkedHashMap[String, Any](
        "query" -> name, "s" -> (n3 - n0) / 1e9,
        "lookup_ms" -> (n1 - n0) / 1e6, "construct_s" -> (n2 - n1) / 1e9,
        "write_s" -> (n3 - n2) / 1e9, "ok" -> error.isEmpty,
        "error" -> error.orNull)
      if (tracing) {
        PerfbenchBus.drain(sc)
        val c = tracer.countersOf(id)
        val cs = wall0 + (n1 - n0) / 1000000L
        val ce = wall0 + (n2 - n0) / 1000000L
        sample("counters") = c.toMap
        sample("construct_job_s") = covered(c.constructJobSpans.toSeq, cs, ce) / 1e3
        val end = wall0 + (n3 - n0) / 1000000L
        querySpans += Map("id" -> id, "parent" -> s"p$pass", "kind" -> "query",
          "start_ms" -> wall0, "end_ms" -> end, "ok" -> error.isEmpty)
        Seq(("lookup", wall0, cs), ("construct", cs, ce), ("write", ce, end))
          .foreach { case (p, a, b) =>
            querySpans += Map("id" -> s"$id/$p", "parent" -> id,
              "kind" -> "phase", "start_ms" -> a, "end_ms" -> b)
          }
      }
      sample.toMap
    }

    // Cold pass: first use of every query, results kept for the check.
    val cold = queries.map(q => runQuery(0, q, tracing = false) { df =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(out.resolve("check").resolve(q).toString)
    })
    val setupS = secs(t0)

    val warm0 = System.nanoTime()
    val passes = (1 to passCount).map { index =>
      // Untraced and traced passes alternate in pairs (u t t u u t t u ...),
      // so both halves sit equally late in the warm-up.
      val tracing = traced && index % 4 >= 2
      val order = new Random(seed * 1000003L + index).shuffle(queries)
      if (tracing) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val loadBefore = loadAvg()
      val passWall0 = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val samples = order.map(q => runQuery(index, q, tracing) {
        _.write.format("noop").mode("overwrite").save()
      })
      val wall = secs(p0)
      val pass = mutable.LinkedHashMap[String, Any](
        "index" -> index, "traced" -> tracing, "wall_s" -> wall,
        "load_before" -> loadBefore, "load_after" -> loadAvg(),
        "samples" -> samples)
      if (tracing) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        val storage = sc.getRDDStorageInfo
        pass("persisted_rdds") = sc.getPersistentRDDs.size
        pass("rdd_storage_bytes") = storage.map(r => r.memSize + r.diskSize).sum
        querySpans += Map("id" -> s"p$index", "parent" -> null, "kind" -> "pass",
          "start_ms" -> passWall0, "end_ms" -> System.currentTimeMillis())
      }
      pass.toMap
    }
    val measuredS = secs(warm0)

    // What the run keeps: JVM heap after a forced GC plus storage memory
    // still held by the block manager.
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    val heapBytes = rt.totalMemory() - rt.freeMemory()
    val storageBytes = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum

    val record = Map(
      "workload" -> workload, "queries" -> queries, "seed" -> seed,
      "traced" -> traced,
      "host" -> Map(
        "cores" -> cores,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "java" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "scala" -> util.Properties.versionNumberString),
      "session_s" -> sessionS, "setup_s" -> setupS, "cold" -> cold,
      "passes" -> passes, "measured_s" -> measuredS,
      "heap_retained_bytes" -> heapBytes, "storage_retained_bytes" -> storageBytes,
      "errors" -> errors)
    Files.writeString(out.resolve("record.json"), json.writeValueAsString(record))
    if (traced) {
      val lines = (querySpans ++ tracer.spans).map(json.writeValueAsString)
      Files.write(out.resolve("spans.jsonl"), lines.asJava)
    }
    spark.stop()
  }

  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Milliseconds of [lo, hi] covered by the union of `spans`. */
  private def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((a, b) <- spans.sortBy(_._1)) {
      val s = math.max(a, reach)
      val e = math.min(b, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }
}
