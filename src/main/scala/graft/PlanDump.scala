package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Evidence experiment `plan_dump`: dump `.explain("formatted")` for
  * named registry queries to files. Usage:
  *
  *   sbt "runMain graft.Evidence plan_dump <outDir> <suffix> <name1,name2,...>"
  *
  * writes `<outDir>/<name>_<suffix>.txt` per query, built against
  * SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01). The driver
  * cannot run Spark; these files are how the judge checks plan-shape
  * claims in OPTIMIZATION_r*.md against reality.
  */
object PlanDump {
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length == 3, "usage: plan_dump <outDir> <suffix> <names-csv>")
    val Seq(outDir, suffix, namesCsv) = args
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(Paths.get(outDir))
    val byName = SparkEntry.registry.map(q => q.name -> q.fn).toMap
    namesCsv.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = byName.getOrElse(name, sys.error(s"unknown query: $name"))
      val df = fn(spark, dir)
      // formatted mode shows scan details (PushedFilters/ReadSchema),
      // exchanges, join strategies — but with AQE on it is the INITIAL
      // plan; exchange/stage reuse only materializes at runtime. So
      // also execute through the noop sink and append the FINAL
      // adaptive plan, where ReusedExchange / reused shuffle stages
      // are visible.
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      df.collect() // finalizes THIS df's adaptive plan (a noop write
      // would execute a separate QueryExecution and leave this one
      // isFinalPlan=false); results are sf0.01-sized
      val finalPlan = df.queryExecution.executedPlan.toString
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt + "\n\n== FINAL ADAPTIVE PLAN (after execution) ==\n\n" + finalPlan)
      println(s"WROTE $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
  }
}
