package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — names, when given,
    // restrict the dump (local iteration); the driver passes none.
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = MainSession.build(defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // a failed query leaves no dump; the closing stderr line names
    // every such query so the gap is visible without reading the log
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Evidence.quote(k)}: ${Evidence.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] ${failed.size} failed" +
      (if (failed.isEmpty) "" else s": ${failed.mkString(" ")}"))
    spark.stop()
  }
}
