package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes `{query: oracle SQL}` for the named queries as JSON, without
  * starting Spark. Usage: Oracles <q1,q2,...> <out.json> */
object Oracles {
  def main(args: Array[String]): Unit = {
    val Array(names, out) = args
    val wanted = names.split(",").toSet
    val sql = graft.SparkEntry.oracleSql.filter(kv => wanted(kv._1))
    Files.writeString(Paths.get(out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(sql))
  }
}
