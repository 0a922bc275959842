package perfbench

import java.nio.file.{Files, Paths}

/** Writes `graft.SparkEntry.oracleSql` — the frozen DuckDB oracle text that
  * `graft.Verify` emits as oracle_sql.json — to the file given as argument,
  * without starting Spark.
  *
  * Usage: OracleSql FILE */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val json = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(args(0)), json)
  }
}
