package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the mains (Verify, Bench,
  * Evidence) and the perfbench harness: one place for the fixture
  * confs and for the SPARK_GRAFT_MASTER override that runs any main
  * under multi-process `local-cluster[n,cores,mem]` execution — the
  * evidence mode that exercises what single-JVM local[n] cannot:
  * real closure/broadcast serialization across process boundaries,
  * executor-sized heaps, and shuffle blocks fetched between JVMs.
  *
  * In local-cluster mode the standalone Master and Workers run inside
  * the driver JVM but every executor is a separate process launched
  * from SPARK_HOME; those JVMs need this library on their classpath,
  * which we derive from our own code-source location (sbt's classes
  * directory or a packaged jar — either works as an executor
  * extraClassPath entry on a single machine).
  */
private[graft] object MainSession {
  def build(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS); see Tables.events. Set here once
      // so the first events read doesn't depend on loader ordering.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules", GraftSession.ExcludedRules)
      // long-lived evidence sessions cycle corpus-sized shuffles
      // (multi-fixture sweeps, cold-restart IVM timing): shuffle files
      // are reclaimed by the ContextCleaner only when the driver GCs
      // the dependency, and the default 30 min periodic GC lets tens
      // of GB of dead spill accumulate inside one app — the r10
      // IvmTiming 1000×-docs sweep filled the disk exactly this way.
      // One driver GC a minute is noise next to any Spark job.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
    val configured = if (master.startsWith("local-cluster")) {
      // via toURI, not getPath: the URL form is percent-encoded (a
      // path with spaces/non-ASCII would %20-mangle and silently break
      // the executor classpath). Note this ships ONLY the graft
      // classes dir/jar — everything else (including Derby) must be
      // Spark-provided from $SPARK_HOME/jars, which holds today.
      val cp = java.nio.file.Paths.get(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI).toString
      b.config("spark.executor.extraClassPath", cp)
        // sized for the canonical local-cluster[4,8,4096] worker;
        // SPARK_GRAFT_EXECUTOR_MEM overrides for other shapes
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
        // Spark 4 on JDK 17: executor JVMs need the module opens too.
        // The standalone launcher injects them itself, but pinning the
        // exact list here keeps the run independent of launcher-version
        // behavior (same list build.sbt passes to the forked driver).
        .config("spark.executor.extraJavaOptions",
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    } else b
    val spark = configured.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
