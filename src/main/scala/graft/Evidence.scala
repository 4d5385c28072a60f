package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.sources.TxRaceCheck
import graft.stream.ExactlyOnceHarness

/** The evidence runner: one main for every measurement and check that
  * BASELINE.md records outside the registry sweep.
  *
  *   sbt "runMain graft.Evidence <experiment> [args...]"
  *
  * Each experiment body lives next to the code it measures as a plain
  * `run`; this object owns what they share — the session (built once,
  * stopped in a `finally`), the fixture-dir arguments, the timer, the
  * JSON line writer and the cold-state reset. A failed check throws,
  * and the run exits nonzero.
  */
object Evidence {
  private val experiments: Seq[(String, (SparkSession, Seq[String]) => Unit)] = Seq(
    "candidate_economy" -> ((spark, args) => CandidateEconomy.run(spark, dirs(args))),
    "skew_join" -> ((spark, args) => SkewBench.run(spark, dirs(args))),
    "txlog_economy" -> ((spark, args) => TxLogEconomy.run(spark, dirs(args))),
    "ivm_timing" -> ((spark, args) => IvmTiming.run(spark, dirs(args))),
    "txlog_race" -> ((spark, _) => TxRaceCheck.run(spark)),
    "exactly_once" -> ((spark, _) => exactlyOnce(spark)),
    "plan_dump" -> ((spark, args) => PlanDump.run(spark, args)),
  )

  private val usage: String =
    "usage: graft.Evidence <experiment> [args...]; experiments: " +
      experiments.map(_._1).mkString(", ")

  /** The experiment `args.head` names, bound to the rest of the args;
    * the usage line when the name is missing or unknown.
    */
  private[graft] def dispatch(args: Seq[String]): Either[String, SparkSession => Unit] =
    args.headOption.flatMap(name => experiments.collectFirst { case (`name`, body) => body }) match {
      case Some(body) => Right(spark => body(spark, args.tail))
      case None => Left(usage)
    }

  def main(args: Array[String]): Unit = dispatch(args.toSeq) match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(2)
    case Right(body) =>
      val spark = MainSession.build(defaultCpus = "32")
      val ok =
        try { body(spark); true }
        catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); false }
        finally spark.stop()
      if (!ok) sys.exit(1)
  }

  /** Fixture dirs: the args, else SPARK_GRAFT_SF_DIR, else sf0.1. */
  private[graft] def dirs(args: Seq[String]): Seq[String] =
    if (args.nonEmpty) args
    else Seq(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))

  /** `body`'s result and its wall time in seconds. */
  private[graft] def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** JSON string literal: backslash, quote and every control char
    * (< 0x20) escaped — a tab in a fixture path or in hand-written
    * oracle SQL would otherwise break the reader's `json.load`.
    */
  private[graft] def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One JSON object, fields in the given order. Strings are quoted,
    * doubles written `%.3f` in `Locale.ROOT` (a comma-decimal default
    * locale would corrupt the line), sequences as arrays; counts and
    * booleans as they print.
    */
  private[graft] def json(fields: (String, Any)*): String = {
    def value(v: Any): String = v match {
      case s: String => quote(s)
      case d: Double => String.format(Locale.ROOT, "%.3f", Double.box(d))
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case other => other.toString
    }
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  }

  private[graft] def emit(fields: (String, Any)*): Unit = println(json(fields: _*))

  /** Cold Spark state: every memo, cached frame and persisted RDD
    * dropped, then a driver GC — the dropped frames' shuffle files are
    * reclaimed only when the driver collects their dependencies, so
    * back-to-back cold runs would otherwise stack corpus-sized spill
    * on one disk.
    */
  private[graft] def dropCachedState(spark: SparkSession): Unit = {
    KeyedMemo.clearAll()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  /** [[ExactlyOnceHarness]] under whatever SPARK_GRAFT_MASTER names —
    * with a `local-cluster` master, the protocol runs across
    * multi-process executors. A protocol violation throws.
    */
  private def exactlyOnce(spark: SparkSession): Unit = {
    val (_, sec) = timed(ExactlyOnceHarness.run(spark))
    emit("metric" -> "exactly_once_protocol", "master" -> spark.sparkContext.master,
      "ok" -> true, "sec" -> sec)
  }
}
