package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer figures of one traced pass, derived from the listener's
  * jobs, stages and tasks and from the harness's phase windows.
  */
object Layers {
  val Pkgs: Seq[String] = Seq("ops", "functions", "dedup", "text", "sim", "ml", "mr")
  private val MB = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total length of the union of [start, end) intervals, clipped to a window. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (s max lo, e min hi) }.filter(i => i._1 < i._2)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = curE max e
      }
    if (curE > curS) total += curE - curS
    total
  }

  private def within(p: Phase, t: Long) = t >= p.startMs && t <= p.endMs

  /** The phase a job's group names, if its window holds the submission. */
  private def byGroup(j: JobRec, groups: Map[String, Phase]): Option[Phase] =
    j.group.flatMap(groups.get).filter(within(_, j.submitMs))

  /** Job id -> phase. The group decides when it names a window that
    * contains the submission; otherwise the window that does.
    */
  def attribute(jobs: Seq[JobRec], phases: Seq[Phase]): Map[Int, Phase] = {
    val groups = phases.map(p => p.group -> p).toMap
    jobs.flatMap { j =>
      byGroup(j, groups).orElse(phases.find(within(_, j.submitMs))).map(j.id -> _)
    }.toMap
  }

  def apply(spark: SparkSession, tracer: Tracer, phases: Seq[Phase],
      passStartMs: Long, passEndMs: Long, wallS: Double,
      sinkDirs: Seq[java.io.File]): Map[String, Double] = {
    val (jobs, stageJob, stages, tasks) = tracer.snapshot()
    val jobPhase = attribute(jobs, phases)
    val taskPhase: Seq[Option[Phase]] =
      tasks.map(t => stageJob.get(t.stageId).flatMap(jobPhase.get))
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()

    for (pkg <- Pkgs) {
      val ph = phases.filter(_.pkg == pkg)
      val pj = jobPhase.values.filter(_.pkg == pkg)
      out(s"$pkg.construct_s") = ph.filter(_.phase == "construct").map(_.seconds).sum
      out(s"$pkg.construct_jobs") = pj.count(_.phase == "construct").toDouble
      out(s"$pkg.execute_s") = ph.filter(_.phase == "execute").map(_.seconds).sum
      out(s"$pkg.jobs") = pj.size.toDouble
    }

    val plans = phases.filter(_.phase == "plan").map(_.seconds)
    out("plans.plan_s") = plans.sum
    out("plans.plan_p50_ms") = median(plans) * 1000

    val byStage = tasks.groupBy(_.stageId)
    val scanStages = byStage.filter(_._2.exists(t => t.inputBytes > 0 || t.inputRecords > 0))
    out("Tables.scan_tasks") = scanStages.values.map(_.size).sum.toDouble
    out("Tables.single_task_scans") = scanStages.count(_._2.size == 1).toDouble
    out("Tables.input_mb") = tasks.map(_.inputBytes).sum / MB
    out("Tables.input_records") = tasks.map(_.inputRecords).sum.toDouble

    // A persisted RDD is materialized by the first completed stage that
    // lists it; every later stage that lists it reads the cached copy.
    val sc = spark.sparkContext
    val frames = sc.getPersistentRDDs.size
    val seen = scala.collection.mutable.Set[Int]()
    var cachedReads = 0
    stages.foreach(_.persistedRdds.foreach(id => if (!seen.add(id)) cachedReads += 1))
    out("KeyedMemo.persisted_frames") = frames.toDouble
    out("KeyedMemo.storage_mb") =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    out("KeyedMemo.cached_stage_reads") = cachedReads.toDouble
    out("KeyedMemo.reuse_ratio") = if (frames == 0) 0.0 else cachedReads.toDouble / frames

    val taskSpans = tasks.map(t => (t.launchMs, t.finishMs))
    out("spark.jobs") = jobs.size.toDouble
    out("spark.stages") = stages.size.toDouble
    out("spark.tasks") = tasks.size.toDouble
    out("spark.tasks_per_job") = if (jobs.isEmpty) 0.0 else tasks.size.toDouble / jobs.size
    out("spark.driver_gap_s") =
      wallS - covered(taskSpans, passStartMs, passEndMs) / 1000.0
    out("spark.busy_cores") = taskSpans.map(s => s._2 - s._1).sum / 1000.0 / wallS
    out("spark.task_run_s") = tasks.map(_.runMs).sum / 1000.0
    out("spark.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    out("spark.deser_s") = tasks.map(_.deserMs).sum / 1000.0
    out("spark.gc_s") = tasks.map(_.gcMs).sum / 1000.0
    out("spark.shuffle_write_mb") = tasks.map(_.shuffleWriteBytes).sum / MB
    out("spark.shuffle_read_mb") = tasks.map(_.shuffleReadBytes).sum / MB
    out("spark.shuffle_fetch_wait_s") = tasks.map(_.fetchWaitMs).sum / 1000.0
    out("spark.spill_mb") = tasks.map(_.spillBytes).sum / MB
    val skews = byStage.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      d.max / (median(d) max 1.0)
    }.toSeq
    out("spark.task_skew_p50") = median(skews)
    out("spark.task_skew_max") = if (skews.isEmpty) 0.0 else skews.max

    val mrTasks = tasks.zip(taskPhase).collect { case (t, Some(p)) if p.pkg == "mr" => t }
    val mrIn = mrTasks.map(_.inputRecords).sum
    out("mr.shuffle_records_per_input_record") =
      if (mrIn == 0) 0.0 else mrTasks.map(_.shuffleWriteRecords).sum.toDouble / mrIn
    out("mr.sink_mb") = mrTasks.map(_.outputBytes).sum / MB
    out("mr.sink_files") = sinkDirs.map { d =>
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .count(f => f.isFile && f.getName.startsWith("part-"))
    }.sum.toDouble

    out("spark.unattributed_tasks") = taskPhase.count(_.isEmpty).toDouble
    // jobs whose group was missing or stale (submitted from a pooled
    // thread) and that the submission window attributed instead
    val groups = phases.map(p => p.group -> p).toMap
    out("spark.window_attributed_jobs") =
      jobs.count(j => byGroup(j, groups).isEmpty && jobPhase.contains(j.id)).toDouble

    // self time: the part of a phase no Spark job of that phase covers
    val jobsOf = jobs.groupBy(j => jobPhase.get(j.id).map(_.group))
    for (kind <- Seq("construct", "plan", "execute")) {
      out(s"$kind.self_s") = phases.filter(_.phase == kind).map { p =>
        val js = jobsOf.getOrElse(Some(p.group), Nil)
          .map(j => (j.submitMs, if (j.endMs < 0) p.endMs else j.endMs))
        p.seconds - covered(js, p.startMs, p.endMs) / 1000.0
      }.sum
    }
    scala.collection.immutable.ListMap.from(out)
  }
}
