package graft.sources

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-process commit-race check for [[TxLog]] — the cross-JVM
  * evidence the table's central atomicity claim rests on. TxLogSpec's
  * races run threads in ONE JVM; the hard-link create-if-absent
  * arbitration in `commit()` exists precisely for writers in
  * DIFFERENT processes (two jobs on two drivers sharing a table), so
  * this harness forks two real child JVMs against one table and
  * checks the three contracts end-to-end:
  *
  *  1. '''Concurrent appends commute''' — both writers land all their
  *     batches in some serial order: no lost update, no duplicate, a
  *     DENSE version chain (every version readable, monotone counts).
  *  2. '''Exactly-once across processes''' — both writers replay the
  *     SAME (appId, batchId) sequence concurrently (the two-driver
  *     failover picture); each batch's rows must appear exactly once
  *     (the r11 in-loop txn recheck, raced from two processes).
  *  3. '''Overwrite arbitration''' — both writers overwrite
  *     simultaneously, five gated rounds: each round at least one
  *     wins and nobody's write is silently lost (winner count +
  *     [[TxLog.ConflictException]] count = 2 — a round where both
  *     "won" means they genuinely serialized, base re-resolved after
  *     the other's commit); at least one round must produce a real
  *     conflict, and the final content is exactly the last winner's
  *     (never a merge of two writers).
  *
  * Coordination is file-based (ready/go markers) so the writers hit
  * each phase together. Evidence experiment `txlog_race`: prints one
  * JSON line, then fails on any protocol violation. Run:
  * `SPARK_GRAFT_CPUS=8 sbt "runMain graft.Evidence txlog_race"`.
  */
object TxRaceCheck {
  private[sources] val AppendsPerWriter = 12
  private[sources] val BatchesShared = 10
  private[sources] val OverwriteRounds = 5

  /** Blocks until every path exists; fails after ~180 s of polls. */
  private[sources] def awaitFiles(paths: Seq[Path], pollMs: Int, what: String): Unit = {
    var polls = 180000 / pollMs
    while (!paths.forall(Files.exists(_))) {
      if (polls == 0) sys.error(s"timed out waiting for $what")
      polls -= 1
      Thread.sleep(pollMs.toLong)
    }
  }

  def run(spark: SparkSession): Unit = {
    val work = Files.createTempDirectory("graft-txrace")
    val table = work.resolve("table").toString
    val coord = work.resolve("coord")
    Files.createDirectories(coord)

    TxLog.create(spark, table, spark.range(0, 0)
      .select(lit("seed").as("writer"), col("id").as("seq")))

    val children = Seq("w1", "w2").map(id => fork(table, coord.toString, id))
    def go(phase: String): Unit = {
      awaitFiles(Seq("w1", "w2").map(id => coord.resolve(s"ready-$phase-$id")),
        50, s"children to reach phase $phase")
      Files.write(coord.resolve(s"go-$phase"), Array.empty[Byte])
      ()
    }
    go("A"); go("B")
    (0 until OverwriteRounds).foreach(r => go(s"C$r"))
    val codes = children.map(_.waitFor())
    require(codes.forall(_ == 0), s"child exit codes $codes (see child logs in $work)")

    // phase A+B content is checked via TIME TRAVEL at the last
    // append-era version (phase C overwrites the live table)
    val appendHead = 2L * AppendsPerWriter + BatchesShared

    // ---- phase A: commuting appends ----
    val a = TxLog.read(spark, table, Some(appendHead))
      .filter(col("writer").isin("w1", "w2") && col("seq") < AppendsPerWriter)
    val aCounts = a.groupBy(col("writer"), col("seq")).count()
      .select(min(col("count")).as("mn"), max(col("count")).as("mx"),
        count(lit(1)).as("groups")).collect()(0)
    val aOk = aCounts.getLong(2) == 2L * AppendsPerWriter &&
      aCounts.getLong(0) == 1L && aCounts.getLong(1) == 1L

    // ---- phase B: exactly-once across processes ----
    val b = TxLog.read(spark, table, Some(appendHead))
      .filter(col("writer") === "shared")
    val bCounts = b.groupBy(col("seq")).count()
      .select(min(col("count")).as("mn"), max(col("count")).as("mx"),
        count(lit(1)).as("groups")).collect()(0)
    val bOk = bCounts.getLong(2) == BatchesShared.toLong &&
      bCounts.getLong(0) == 1L && bCounts.getLong(1) == 1L &&
      TxLog.lastCommittedBatch(spark, table, "shared").contains(BatchesShared - 1L)

    // ---- phase C: overwrite arbitration, per round ----
    val rounds = (0 until OverwriteRounds).map { r =>
      Seq("w1", "w2").map { id =>
        new String(Files.readAllBytes(coord.resolve(s"result-C$r-$id")), "UTF-8")
      }
    }
    val perRoundOk = rounds.forall { rs =>
      rs.count(_.startsWith("winner")) >= 1 &&
      rs.count(_.startsWith("winner")) + rs.count(_ == "conflict") == 2
    }
    val totalConflicts = rounds.map(_.count(_ == "conflict")).sum
    val cContent = TxLog.read(spark, table).select(col("writer")).distinct()
      .collect().map(_.getString(0)).toSet
    // last round's winner(s): content must be exactly ONE writer's
    // final-round payload, and that writer must have reported a win
    val lastTags = rounds.last.zip(Seq("w1", "w2")).collect {
      case (res, id) if res.startsWith("winner") => s"$id-r${OverwriteRounds - 1}"
    }.toSet
    val cOk = perRoundOk && totalConflicts >= 1 &&
      cContent.size == 1 && cContent.subsetOf(lastTags)

    // dense chain: every append-era version resolves and counts are
    // monotone (create = v0, then appends + exactly-once batches)
    val head = TxLog.currentVersion(spark, table)
    var dense = true
    var prev = -1L
    (0L to appendHead).foreach { v =>
      val n = TxLog.read(spark, table, Some(v)).count()
      if (n < prev) dense = false
      prev = n
    }

    graft.Evidence.emit("metric" -> "txlog_race", "appends_ok" -> aOk,
      "exactly_once_ok" -> bOk, "overwrite_ok" -> cOk,
      "conflicts_observed" -> totalConflicts,
      "dense_chain_ok" -> dense, "versions" -> head,
      "rounds" -> rounds.map(_.mkString("+")).mkString(";"))
    if (!(aOk && bOk && cOk && dense))
      throw new IllegalStateException(s"txlog race protocol violated (child logs in $work)")
  }

  /** Child JVM: this process's classpath, Spark's JDK-17 module
    * opens, small heap, quiet UI.
    */
  private def fork(table: String, coord: String, id: String): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions()
      .split("\\s+").filter(_.nonEmpty).toSeq
    val cmd = Seq(java) ++ opens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.sources.TxRaceWriter", table, coord, id)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectOutput(new File(coord, s"child-$id.log"))
    pb.redirectErrorStream(true)
    pb.start()
  }
}

/** Child writer for [[TxRaceCheck]] — one real JVM hammering the
  * shared table. Phases are gated on the parent's go-files so both
  * children enter each race window together.
  */
object TxRaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(table, coord, id) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    def await(phase: String): Unit = {
      Files.write(Paths.get(coord, s"ready-$phase-$id"), Array.empty[Byte])
      TxRaceCheck.awaitFiles(Seq(Paths.get(coord, s"go-$phase")), 20, s"go for $phase")
    }
    try {
      await("A")
      (0 until TxRaceCheck.AppendsPerWriter).foreach { i =>
        TxLog.append(spark, table, spark.range(i, i + 1)
          .select(lit(id).as("writer"), col("id").as("seq")))
      }
      await("B")
      (0 until TxRaceCheck.BatchesShared).foreach { i =>
        TxLog.appendBatch(spark, table, spark.range(i, i + 1)
          .select(lit("shared").as("writer"), col("id").as("seq")),
          "shared", i.toLong)
      }
      (0 until TxRaceCheck.OverwriteRounds).foreach { r =>
        await(s"C$r")
        val outcome =
          try {
            TxLog.overwrite(spark, table, spark.range(0, 3)
              .select(lit(s"$id-r$r").as("writer"), col("id").as("seq")))
            "winner"
          } catch { case _: TxLog.ConflictException => "conflict" }
        Files.write(Paths.get(coord, s"result-C$r-$id"), outcome.getBytes("UTF-8"))
      }
      ()
    } finally spark.stop()
  }
}
