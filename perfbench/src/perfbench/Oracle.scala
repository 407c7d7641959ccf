package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The DuckDB oracle side of the output checks. `dumpSql` writes the
  * engine's oracle SQL for every query the benchmark checks; `oracle.py`
  * turns it into canonical digests, which `load` reads back.
  */
object Oracle {
  final case class Expected(digest: String, rows: Int, cols: Seq[String])

  def dumpSql(file: String): Unit = {
    val all = graft.SparkEntry.oracleSql
    val body = Workloads.OracleNames.map(n => Json.str(n) + ":" + Json.str(all(n)))
      .mkString("{", ",\n", "}")
    Files.writeString(Paths.get(file), body + "\n")
  }

  def load(file: String): Map[String, Expected] = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(file)))
    root.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("digest").asText, v.get("rows").asInt,
        v.get("cols").elements().asScala.map(_.asText).toSeq)
    }.toMap
  }
}
