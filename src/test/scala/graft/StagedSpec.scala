package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** [[Staged]] — the one writer of on-disk fixture copies. Every copy
  * must be findable by the benchmark's cold-state guard (a depth-3
  * walk of `$tmp/graft-src` for names containing the fixture's
  * `Tables.dirKey`), be written once under concurrency, replace a
  * crashed run's leftovers, and mark nothing when its write fails.
  */
class StagedSpec extends AnyFunSuite {
  import TestSpark._

  private val root = Paths.get(sys.props("java.io.tmpdir"), "graft-src")

  /** A fixture-dir key no other spec stages under. */
  private def freshDir(label: String): String = s"/staged-spec/$label-${System.nanoTime}"

  /** Deletes a spec's copy, then its kind dir once that is empty. */
  private def remove(p: Path): Unit = {
    if (Files.exists(p)) org.apache.commons.io.FileUtils.forceDelete(p.toFile)
    p.getParent.toFile.delete()
    ()
  }

  test("every staged copy of a fixture lies under graft-src within depth 3, named by its dirKey") {
    val stagingQueries = Seq(
      "source_csv", "source_json", "source_orc", "source_xml", "source_avro",
      "source_avro_evolved", "source_evolved_schema", "source_csv_corrupt", "source_jdbc",
      "source_partition_pruned", "join_bucketed", "mr_file_word_count",
      "txlog_head", "txlog_merge", "txlog_cluster", "txlog_evolve", "txlog_mor_merge",
      "phrase_match_indexed", "dedup_minhash_incr_durable", "dedup_clusters_incr_durable")
    stagingQueries.foreach(q => SparkEntry.queries(q)(spark, sfTiny))
    val key = Tables.dirKey(sfTiny)
    val staged = Staged.stagedFor(sfTiny).map(Paths.get(_))
    val kinds = staged.map(p => root.relativize(p).getName(0).toString).toSet
    assert(kinds == Set("csv", "json", "orc", "xml", "avro", "avro-evolve", "evolve",
      "corrupt", "derby", "part_events", "bucketed", "raw", "txlog", "txlog-merge",
      "txlog-cluster", "txlog-evolve", "txlog-mor", "postings", "ivm"),
      s"staged kinds: $kinds")
    assert(staged.size == 22, s"staged copies: ${staged.mkString("\n")}")
    val walk = Files.walk(root, 3)
    val guardSees =
      try walk.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.contains(key)).toSet
      finally walk.close()
    staged.foreach { p =>
      assert(p.startsWith(root) && root.relativize(p).getNameCount <= 3, s"$p outside depth 3")
      assert(p.getFileName.toString.contains(key), s"$p does not carry $key")
      assert(guardSees(p), s"the cold guard's walk misses $p")
    }
  }

  test("four threads staging one key run the write once and each sees the whole copy") {
    val fixture = freshDir("race")
    val writes = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val callers = (1 to 4).map(_ => Future {
        assert(start.await(30, TimeUnit.SECONDS))
        val out = Staged.dir("spec-race", fixture) { out =>
          writes.incrementAndGet()
          Files.createDirectories(Paths.get(out))
          (0 until 4).foreach { i =>
            Thread.sleep(50) // a slow write widens the race window
            Files.writeString(Paths.get(out, s"part-$i"), i.toString)
          }
        }
        (0 until 4).map(i => Files.readString(Paths.get(out, s"part-$i")))
      })
      start.countDown()
      callers.foreach(c => assert(Await.result(c, 60.seconds) == Seq("0", "1", "2", "3")))
      assert(writes.get == 1, s"${writes.get} writes for one key")
    } finally {
      pool.shutdown()
      remove(Paths.get(Staged.path("spec-race", fixture)))
    }
  }

  test("a leftover file at the staged path is gone after staging") {
    val fixture = freshDir("stale")
    val out = Paths.get(Staged.path("spec-stale", fixture))
    try {
      Files.createDirectories(out)
      Files.writeString(out.resolve("leftover"), "from a crashed run")
      Staged.dir("spec-stale", fixture) { o =>
        Files.createDirectories(Paths.get(o))
        Files.writeString(Paths.get(o, "fresh"), "ok")
      }
      assert(!Files.exists(out.resolve("leftover")), "the stale file survived staging")
      assert(Files.readString(out.resolve("fresh")) == "ok")
    } finally remove(out)
  }

  test("a write that throws marks nothing, so the next call writes again") {
    val fixture = freshDir("fail")
    val out = Paths.get(Staged.path("spec-fail", fixture))
    val writes = new AtomicInteger
    def stage(fail: Boolean): String = Staged.dir("spec-fail", fixture) { o =>
      writes.incrementAndGet()
      Files.createDirectories(Paths.get(o))
      Files.writeString(Paths.get(o, "half"), "partial")
      if (fail) throw new java.io.IOException("disk full")
      Files.writeString(Paths.get(o, "whole"), "complete")
    }
    try {
      assertThrows[java.io.IOException](stage(fail = true))
      stage(fail = false)
      assert(writes.get == 2, "the failed write must not count as staged")
      assert(Files.readString(out.resolve("whole")) == "complete")
      stage(fail = false)
      assert(writes.get == 2, "a completed copy is written once")
    } finally remove(out)
  }
}
