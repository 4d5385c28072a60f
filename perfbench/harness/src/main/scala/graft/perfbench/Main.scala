package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Benchmark client: one driver process, one closed-loop client that
  * issues a workload's queries serially, pass after pass, until the
  * measuring time is spent. Each pass reads its own hard-linked copy of
  * the timed fixture, so every pass starts with no memo entry, cached
  * frame or temp-dir fixture of an earlier one.
  *
  * Usage: Main <workload> <warmDir> <timedDir> <workDir> <seconds>
  *             <trace 0|1> <spawnEpochMs> <resultJson>
  *
  * Writes one JSON result (per-query phase times, per-pass layer
  * figures when traced) for perfbench/run.py, which checks the
  * outputs and prints the metrics.
  */
object Main {
  private final case class QueryRec(name: String, pkg: String,
      construct: Double, plan: Double, execute: Double,
      error: Option[String], out: String)

  private final case class PassRec(pass: Int, traced: Boolean, wallS: Double,
      queries: Seq[QueryRec], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(workload, warmDir, timedDir, workDir, secondsArg, traceArg,
      spawnMsArg, resultPath) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jobs = Workloads(workload)

    val spark = graft.MainSession.build(
      defaultCpus = Runtime.getRuntime.availableProcessors.toString)
    val sc = spark.sparkContext

    val sessionS = (System.currentTimeMillis() - spawnMsArg.toLong) / 1000.0
    // warm-up on another fixture dir: JIT, codegen and broadcast set-up
    val warm = jobs.map(j => runQuery(spark, j, -1, warmDir, s"$workDir/warm/${j.name}", _ => ()))
    clearState(spark)
    val setupS = (System.currentTimeMillis() - spawnMsArg.toLong) / 1000.0

    val tracer = new Tracer
    val spans = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[PassRec]()
    val guardFailures = ArrayBuffer[String]()
    val t0 = System.nanoTime()
    var k = 0
    // whole passes only: start another while it is expected to end
    // within the measuring time. A traced run makes exactly three,
    // untraced - traced - untraced, so the tracing overhead compares
    // the traced pass with the passes around it.
    def more = if (trace) k < 3 else k == 0 || {
      val lastWall = passes.lastOption.map(_.wallS).getOrElse(0.0)
      (System.nanoTime() - t0) / 1e9 + lastWall <= seconds
    }
    while (guardFailures.isEmpty && more) {
      val traced = trace && k == 1
      if (traced) sc.addSparkListener(tracer)
      val dir = linkFixture(timedDir, s"$workDir/p$k/in")
      clearState(spark)
      if (workload == "curate_cold") guardFailures ++= coldGuard(spark, dir)
      if (guardFailures.isEmpty) {
        if (traced) { org.apache.spark.graftperf.BusFlush(sc); tracer.reset() }
        val phases = ArrayBuffer[Phase]()
        val startMs = System.currentTimeMillis()
        val start = System.nanoTime()
        val qs = jobs.map(j =>
          runQuery(spark, j, k, dir, s"$workDir/p$k/out/${j.name}", phases += _))
        val wall = (System.nanoTime() - start) / 1e9
        val endMs = System.currentTimeMillis()
        val layers = if (!traced) Map.empty[String, Double] else {
          org.apache.spark.graftperf.BusFlush(sc)
          val sinks = jobs.filter(_.pkg == "mr").map(j => new File(s"$workDir/p$k/out/${j.name}"))
          val l = Layers(spark, tracer, phases.toSeq, startMs, endMs, wall, sinks)
          spans ++= passSpans(k, startMs, endMs, phases.toSeq, tracer)
            .map(_ + ("run" -> s"$workload-$spawnMsArg"))
          l
        }
        if (traced) sc.removeSparkListener(tracer)
        passes += PassRec(k, traced, wall, qs, layers)
      }
      k += 1
    }
    clearState(spark)
    val rssMb = peakRssMb()
    spark.stop()

    if (trace) {
      val w = Files.newBufferedWriter(Paths.get(s"$workDir/spans.jsonl"))
      try spans.foreach(s => { w.write(json(s)); w.newLine() }) finally w.close()
    }
    val result = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "session_s" -> sessionS,
      "warm_s" -> warm.map(q => q.name -> (q.construct + q.plan + q.execute)).toMap,
      "warm_errors" -> warm.flatMap(q => q.error.map(e => s"${q.name}: $e")),
      "guard_failures" -> guardFailures.toSeq,
      "oracle_sql" -> jobs.flatMap(j => j.oracle.map(j.name -> _)).toMap,
      "spans" -> (if (trace) Some(s"$workDir/spans.jsonl") else None),
      "passes" -> passes.map { p =>
        Map("pass" -> p.pass, "traced" -> p.traced, "wall_s" -> p.wallS,
          "layers" -> p.layers,
          "queries" -> p.queries.map { q =>
            Map("name" -> q.name, "pkg" -> q.pkg, "construct_s" -> q.construct,
              "plan_s" -> q.plan, "execute_s" -> q.execute, "error" -> q.error,
              "out" -> q.out)
          })
      })
    Files.writeString(Paths.get(resultPath), json(result))
  }

  private def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** Times the three calls into the program for one query: construct
    * the result, plan it, run the action. Each call runs under its own
    * job group so the listener can attribute its jobs.
    */
  private def runQuery(spark: SparkSession, j: Job, pass: Int, dir: String,
      out: String, record: Phase => Unit): QueryRec = {
    val sc = spark.sparkContext
    val phases = ArrayBuffer[Phase]()
    def timed[T](phase: String)(body: => T): T = {
      sc.setJobGroup(Phase.group(pass, j.name, phase), j.name)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val s = (System.nanoTime() - t0) / 1e9
        val p = Phase(pass, j.name, j.pkg, phase, ms0, System.currentTimeMillis(), s)
        phases += p
        record(p)
        sc.clearJobGroup()
      }
    }
    val error =
      try {
        val ds = timed("construct")(j.build(spark, dir))
        timed("plan")(ds.queryExecution.executedPlan)
        timed("execute")(j.sink(ds, out))
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    def secs(name: String) = phases.filter(_.phase == name).map(_.seconds).sum
    QueryRec(j.name, j.pkg, secs("construct"), secs("plan"), secs("execute"), error, out)
  }

  /** Frees every cached frame and persisted RDD, then collects garbage
    * so shuffle files of dropped plans are cleaned before the next pass.
    */
  private def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** A fresh directory of hard links to the fixture's files. */
  private def linkFixture(src: String, dst: String): String = {
    val d = Paths.get(dst)
    Files.createDirectories(d)
    Files.list(Paths.get(src)).forEach { f =>
      if (Files.isRegularFile(f)) Files.createLink(d.resolve(f.getFileName), f)
    }
    d.toString
  }

  /** Cold-state guard: nothing persisted, and no temp-dir fixture keyed
    * on the timed directory.
    */
  private def coldGuard(spark: SparkSession, dir: String): Seq[String] = {
    val persisted = spark.sparkContext.getPersistentRDDs.keys.toSeq.sorted
    val key = graft.Tables.dirKey(dir)
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val staged = Seq("graft-src", "graft-raw").map(tmp.resolve).filter(Files.isDirectory(_))
      .flatMap { root =>
        val walk = Files.walk(root, 3)
        try walk.toArray.toSeq.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.contains(key)).map(_.toString)
        finally walk.close()
      }
    (if (persisted.isEmpty) Nil else Seq(s"persisted RDDs ${persisted.mkString(",")}")) ++
      staged.map(p => s"temp fixture $p")
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Spans of one traced pass: pass -> query -> phase -> Spark job. */
  private def passSpans(pass: Int, startMs: Long, endMs: Long, phases: Seq[Phase],
      tracer: Tracer): Seq[Map[String, Any]] = {
    val (jobs, _, _, _) = tracer.snapshot()
    val jobPhase = Layers.attribute(jobs, phases)
    val passId = s"p$pass"
    val passSpan = Map("id" -> passId, "parent" -> None, "kind" -> "pass",
      "name" -> passId, "start_ms" -> startMs, "end_ms" -> endMs)
    val querySpans = phases.groupBy(_.query).toSeq.map { case (q, ps) =>
      Map("id" -> s"$passId/$q", "parent" -> passId, "kind" -> "query", "name" -> q,
        "start_ms" -> ps.map(_.startMs).min, "end_ms" -> ps.map(_.endMs).max)
    }.sortBy(_("start_ms").asInstanceOf[Long])
    val phaseSpans = phases.map { p =>
      Map("id" -> s"$passId/${p.query}/${p.phase}", "parent" -> s"$passId/${p.query}",
        "kind" -> "phase", "name" -> p.phase, "start_ms" -> p.startMs, "end_ms" -> p.endMs,
        "jobs" -> jobs.filter(j => jobPhase.get(j.id).contains(p)).map(_.id))
    }
    val jobSpans = jobs.map { j =>
      Map("id" -> s"$passId/job${j.id}",
        "parent" -> jobPhase.get(j.id).map(p => s"$passId/${p.query}/${p.phase}"),
        "kind" -> "job", "name" -> s"job ${j.id}", "start_ms" -> j.submitMs,
        "end_ms" -> j.endMs)
    }
    (passSpan +: querySpans) ++ phaseSpans ++ jobSpans
  }
}
