package graft.stream

import org.apache.spark.sql.SparkSession

/** The file-backed exactly-once ingest protocol as a library-side
  * verification harness — the production ingest path end-to-end on
  * disk: FileStreamSource offset tracking, the parquet FileStreamSink
  * transaction log (`_spark_metadata`), and their interaction across
  * a KILLED query. The kill is simulated at the worst point: after
  * the sink committed a batch but BEFORE the offsets commit marker
  * was written (deleting `commits/<n>` re-creates exactly that
  * state), so the restarted query MUST re-execute the micro-batch and
  * the sink's log must recognize and skip the already-committed batch
  * — the at-least-once replay turning into exactly-once output.
  *
  * Lives in src/main (not the spec) so the protocol can run under ANY
  * master: the spec harness pins `local[4,2]` in one JVM, while the
  * `exactly_once` experiment of [[graft.Evidence]] runs the same
  * function under `SPARK_GRAFT_MASTER=local-cluster[...]` —
  * multi-process executors,
  * real HDFSBackedStateStore recovery and sink-log reads across JVM
  * boundaries — without shipping test classes to executors (every
  * closure here is in the main jar [[graft.MainSession]] already
  * ships). Failures throw IllegalStateException; StreamingSpec
  * delegates to this and surfaces them as test failures.
  */
object ExactlyOnceHarness {

  def run(spark: SparkSession): Unit = {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-eo-src").toFile
    val stage = java.nio.file.Files.createTempDirectory("graft-eo-stage")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eo-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-eo-out")
      .resolve("t").toString
    def drop(name: String, lines: Seq[String]): Unit = {
      val tmp = stage.resolve(name)
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, new java.io.File(srcDir, name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def ev(t: String, et: String, v: Double, u: Long): String =
      s"""{"ts":"$t","event_type":"$et","value":$v,"user_id":$u}"""
    def check(cond: Boolean, msg: => String): Unit =
      if (!cond) throw new IllegalStateException(msg)
    def start() = {
      val src = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING, value DOUBLE, user_id BIGINT")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("maxFilesPerTrigger", "1") // several batches → several commits
        .json(srcDir.getAbsolutePath)
      StreamOps.dedupStream(src, Seq("user_id", "event_type"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }

    drop("f1.json", Seq(
      ev("2024-01-01 00:10:00", "click", 1.0, 1),
      ev("2024-01-01 00:11:00", "click", 9.0, 1), // in-file duplicate key
      ev("2024-01-01 00:12:00", "view", 2.0, 2)))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()

    // crash simulation: the sink committed batch N, the offsets side
    // didn't — strip the newest commit marker
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    check(commits.nonEmpty, "no commit markers written — wrong checkpoint layout?")
    java.nio.file.Files.delete(commits.last.toPath)
    // ...and its Hadoop LocalFS checksum sidecar: a real crash would
    // have published neither (the rename is the publish), and a stale
    // .crc makes the replay's rename fail as a concurrent-writer error
    java.nio.file.Files.deleteIfExists(
      commits.last.toPath.resolveSibling("." + commits.last.getName + ".crc"))

    val q2 = start() // replays the uncommitted batch from the offsets log
    try {
      q2.processAllAvailable()
      // second file AFTER the restart: a cross-restart duplicate key
      // (dedup state must have survived) plus a genuinely new key
      drop("f2.json", Seq(
        ev("2024-01-01 00:20:00", "click", 5.0, 1), // dup of (1, click)
        ev("2024-01-01 00:21:00", "buy", 7.0, 3)))
      q2.processAllAvailable()
    } finally q2.stop()

    // the _spark_metadata-respecting read is the sink's contract
    val sink = spark.read.parquet(out)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    check(sink.size == sink.distinct.size,
      s"replayed batch duplicated rows in the sink: ${sink.sorted}")
    // batch twin over the same input files: same keys, one row each
    val twin = spark.read
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE, user_id BIGINT")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(srcDir.getAbsolutePath)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    check(sink.toSet == twin.toSet && sink.size == twin.size,
      s"sink ${sink.sorted} != batch twin ${twin.sorted}")
  }
}
