package perfbench

import java.nio.file.Paths

/** Writes the query_sweep base tables and the DuckDB oracle SQL of every
  * query in the subset, for derive_expected.py to count:
  * `OracleDump --data <dir> --out <file.json>`.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = Paths.get(a("out")).toAbsolutePath.getParent
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    try {
      val dir = Data.ensure(spark, Paths.get(a("data")), QueryWorkload.Sf, Data.AllTables)
      Json.write(Paths.get(a("out")), Map("dir" -> dir.toString, "sf" -> QueryWorkload.Sf,
        "sql" -> QueryWorkload.Subset.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    } finally spark.stop()
  }
}
