package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the program's registered DuckDB oracle SQL (`SparkEntry.oracleSql`)
  * and the workloads' job names to a JSON file, so the Python side can
  * compute the reference results before the harness starts.
  *
  * Usage: `perfbench.OracleSql OUT.json` */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args(0)), Json.write(Map(
      "oracle_sql" -> graft.SparkEntry.oracleSql,
      "jobs" -> Jobs.workloads.map { case (w, js) => w -> js.map(_.name) }))
      .getBytes(StandardCharsets.UTF_8))
}
