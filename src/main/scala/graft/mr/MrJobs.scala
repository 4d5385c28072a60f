package graft.mr

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Q, Tables}

/** The reference's two shipped jobs re-expressed *through the generic
  * MapReduce contract* (not the declarative TextOps plans) and checked
  * against the same DuckDB oracles — proving the contract computes
  * what the reference's user API computes. A user porting any
  * reference job writes exactly this shape.
  */
object MrJobs {

  /** The reference tokenizer: re.findall(r"\b[a-z]+\b", text.lower())
    * (reference word_count.py:35-41).
    */
  private val Token = "[a-z]+".r
  def tokenize(text: String): List[String] =
    Token.findAllIn(text.toLowerCase).toList

  /** Word count via the associative path (map emits (word, 1); the
    * combiner sums map-side — reference word_count.py:44-56 but
    * without shipping every 1 through the shuffle).
    */
  def mrWordCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select("text").as[String]
    MapReduce.runReduced[String, String, Long, (String, Long)](
      docs,
      text => tokenize(text).map(w => (w, 1L)),
      _ + _,
      (word, n) => (word, n))
      .toDF("word", "cnt")
  }

  /** Inverted index via the generic reduce (needs the full doc-id set
    * per word — reference inverted_index.py:50-62). Map-side
    * per-document dedup before the shuffle, like the reference's
    * set(words) (inverted_index.py:44-47).
    */
  def mrInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select("doc_id", "text").as[(Long, String)]
    MapReduce.run[(Long, String), String, Long, (String, String)](
      docs,
      { case (docId, text) => tokenize(text).distinct.map(w => (w, docId)) },
      (word, docIds) =>
        Iterator((word, docIds.toSeq.distinct.sorted.mkString(","))))
      .toDF("word", "docs")
  }

  /** One-time materialization of documents.text as raw .txt files —
    * the reference's native input format (its upload filter accepts
    * only .txt, reference upload_data.py:48). Staged once per
    * fixture dir ([[graft.Staged]], kind `raw`) so the raw-file
    * queries below exercise the bytes-from-disk path the reference's
    * worker actually runs (reference worker.py:129-145), while their
    * DuckDB oracles keep reading the same documents parquet.
    */
  def rawTextDir(s: SparkSession, dir: String): String =
    graft.Staged.dir("raw", dir) { out =>
      Tables.documents(s, dir).select("text")
        .write.mode("overwrite").text(out)
    }

  /** Word count over raw file BYTES — the reference's primary entry
    * path end-to-end: whole-file scan (S1) → custom record iterator
    * (S3, line splitting as in the default reader S2) → map →
    * combiner-reduce. Differentially checked against the same oracle
    * as word_count: the .txt round-trip must lose nothing.
    */
  def mrFileWordCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = MapReduce.wholeFiles(s, rawTextDir(s, dir))
    val records = MapReduce.iterate[Long, String](files,
      (bytes, _) => new String(bytes, "UTF-8").split("\n", -1).iterator
        .zipWithIndex.map { case (line, i) => (i.toLong, line) })
    MapReduce.runReduced[(Long, String), String, Long, (String, Long)](
      records,
      { case (_, line) => tokenize(line).map(w => (w, 1L)) },
      _ + _,
      (word, n) => (word, n))
      .toDF("word", "cnt")
  }

  /** Word count over the default line-record reader (S2): text source,
    * per-file line index — the shape a reference job gets when it
    * supplies no iterator fn (reference worker.py:141-145).
    */
  def mrLinesWordCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = MapReduce.textLines(s, rawTextDir(s, dir))
    MapReduce.runReduced[(Long, String), String, Long, (String, Long)](
      lines,
      { case (_, line) => tokenize(line).map(w => (w, 1L)) },
      _ + _,
      (word, n) => (word, n))
      .toDF("word", "cnt")
  }

  private def oracleOf(name: String): String =
    graft.text.TextOps.all.find(_.name == name).get.oracle.get

  val all: Seq[Q] = Seq(
    Q("mr_word_count", oracleOf("word_count"))(mrWordCount),
    Q("mr_inverted_index", oracleOf("inverted_index"))(mrInvertedIndex),
    Q("mr_file_word_count", oracleOf("word_count"))(mrFileWordCount),
    Q("mr_lines_word_count", oracleOf("word_count"))(mrLinesWordCount),
  )
}
