package graft.perfbench

import graft.mr.{FileMeta, MapReduce, MrJobs}
import org.apache.spark.sql.{Dataset, SparkSession}

/** One query the client issues: `build` is the call into the program
  * that constructs the result, `sink` the action that materializes it.
  */
final case class Job(name: String, pkg: String,
    build: (SparkSession, String) => Dataset[_],
    sink: (Dataset[_], String) => Unit, oracle: Option[String] = None)

object Workloads {
  private def parquetSink(ds: Dataset[_], out: String): Unit =
    ds.write.mode("overwrite").parquet(out)

  private def textSink(ds: Dataset[_], out: String): Unit =
    ds.write.mode("overwrite").text(out)

  /** The chosen queries of the given module families, in registry order. */
  private def registry(families: Seq[(String, Seq[graft.Q])])(
      keep: (Seq[graft.Q], Int) => Boolean): Seq[Job] = {
    val pkgOf = families.flatMap { case (pkg, qs) =>
      qs.indices.filter(keep(qs, _)).map(i => qs(i).name -> pkg)
    }.toMap
    graft.SparkEntry.registry.filter(q => pkgOf.contains(q.name))
      .map(q => Job(q.name, pkgOf(q.name), q.fn, parquetSink, q.oracle))
  }

  /** Every fifteenth query of each analytics module, its first
    * included, plus join_size_estimate, the query that runs jobs from
    * driver-side futures: 13 of the 119, every module kept, sized so
    * that a warm-up plus one pass fits the benchmark's run budget.
    */
  def olapMix: Seq[Job] = registry(Seq(
    "ops" -> graft.ops.Relational.all, "ops" -> graft.ops.Joins.all,
    "ops" -> graft.ops.Aggregates.all, "ops" -> graft.ops.WindowOps.all,
    "ops" -> graft.ops.ScalarOps.all, "ops" -> graft.ops.SetOps.all,
    "ops" -> graft.ops.AsOf.all,
    "functions" -> graft.functions.TypedAggregators.all))(
      (qs, i) => i % 15 == 0 || qs(i).name == "join_size_estimate")

  /** One query per curation mechanism: the shingle-substrate memo with
    * the prefix-filter join, MinHash over the memoized substrate,
    * clustering, rule-based quality filters, LSH ANN and k-means.
    */
  val CurateQueries: Set[String] = Set("dedup_prefix_filter", "dedup_minhash",
    "dedup_clusters", "gopher_rules", "cosine_topk_lsh", "kmeans_iterate")

  def curateCold: Seq[Job] = registry(Seq(
    "dedup" -> graft.dedup.DedupOps.all,
    "text" -> graft.text.CurationRules.all, "text" -> graft.text.Bpe.all,
    "sim" -> graft.sim.SimOps.all, "sim" -> graft.sim.RetrievalOps.all,
    "ml" -> graft.ml.ClusterOps.all))((qs, i) => CurateQueries(qs(i).name))

  /** The reference's two jobs written as user code against the public
    * MapReduce API: word count on the associative path, read both
    * through whole files with a record iterator and through the line
    * reader, and the inverted index on the generic path. Each emits
    * one text line per key, like the reference's per-reducer output.
    */
  def mrWordcount: Seq[Job] = Seq(
    Job("wordcount_files", "mr", (s, d) => wordCount(s, fileLines(s, d)), textSink),
    Job("wordcount_lines", "mr", (s, d) => wordCount(s, lineRecords(s, d)), textSink),
    Job("inverted_index", "mr", invertedIndex, textSink))

  def apply(name: String): Seq[Job] = name match {
    case "olap_mix" => olapMix
    case "curate_cold" => curateCold
    case "mr_wordcount" => mrWordcount
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def fileName(meta: FileMeta): String =
    meta.path.substring(meta.path.lastIndexOf('/') + 1)

  /** (file name, line) records from whole-file reads. */
  private def fileLines(s: SparkSession, dir: String): Dataset[(String, String)] = {
    import s.implicits._
    MapReduce.iterate[String, String](MapReduce.wholeFiles(s, dir),
      (bytes, meta) => {
        val f = fileName(meta)
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator.map(line => (f, line))
      })
  }

  /** (line index, line) records from the default line reader. */
  private def lineRecords(s: SparkSession, dir: String): Dataset[(Long, String)] =
    MapReduce.textLines(s, dir)

  private def wordCount[K](s: SparkSession, lines: Dataset[(K, String)]): Dataset[String] = {
    import s.implicits._
    MapReduce.runReduced[(K, String), String, Long, String](lines,
      { case (_, line) => MrJobs.tokenize(line).map(w => (w, 1L)) },
      _ + _,
      (word, n) => s"$word\t$n")
  }

  private def invertedIndex(s: SparkSession, dir: String): Dataset[String] = {
    import s.implicits._
    MapReduce.run[(String, String), String, String, String](fileLines(s, dir),
      { case (file, line) => MrJobs.tokenize(line).distinct.map(w => (w, file)) },
      (word, files) => Iterator(s"$word\t${files.toVector.distinct.sorted.mkString(",")}"))
  }
}
