package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Reference-parity text operators.
  *
  * The reference's two shipped jobs (its entire demonstrated query
  * surface) are word count (reference word_count.py:35-56) and an
  * inverted index (reference inverted_index.py:38-62), both over the
  * tokenizer `re.findall(r"\b[a-z]+\b", text.lower())`. Here they are
  * declarative single-pass aggregations: scan → explode(tokens) →
  * hash-agg, with Catalyst's automatic partial aggregation playing the
  * combiner role the reference lacks (its reduce always sees the full
  * value list, reference worker.py:193-207).
  *
  * Scale: both are one shuffle on the token key; token frequency skew
  * (stopwords) is absorbed by map-side partial agg, so no salting
  * needed even at 100 TB.
  */
object TextOps {

  /** `\b[a-z]+\b` over lowered text — [a-z] runs can't have letter
    * neighbors after lower(), so the \b anchors are redundant; plain
    * `[a-z]+` matches the reference tokenizer exactly.
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** [[tokens]] in the oracle SQL dialect; every oracle that tokenizes
    * text names it, so the two engines split words one way.
    */
  private[graft] final val tokensSql = "regexp_extract_all(lower(text), '[a-z]+')"

  def wordCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // per-document dedup before the shuffle (reference
      // inverted_index.py:44-47 does set(words) map-side)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy("word")
      .agg(array_join(sort_array(collect_set(col("doc_id"))), ",").as("docs"))

  /** Scale path for the inverted index: a stopword's posting list is
    * the whole corpus, so `collect_set` over a bare word key is the
    * classic unbounded group at 100 TB. Postings are built per
    * (word, pmod(doc_id, B)) — every first-stage group is ~1/B of the
    * word's df, and the merge stage receives at most B pre-built rows
    * per word instead of df individual ids. Same output contract (and
    * oracle) as [[invertedIndex]]. At true 100 TB the merge row per
    * word is still the full list — production would keep the bucketed
    * form as the stored index; the merge here proves equivalence.
    */
  def invertedIndexBucketed(s: SparkSession, dir: String): DataFrame = {
    val B = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy(col("word"), pmod(col("doc_id"), lit(B)).as("bucket"))
      .agg(collect_set(col("doc_id")).as("docs_b"))
      .groupBy(col("word"))
      .agg(array_join(array_sort(flatten(collect_list(col("docs_b")))), ",").as("docs"))
  }

  val all: Seq[Q] = Seq(
    Q("word_count",
      s"""SELECT word, COUNT(*) AS cnt
         |FROM (SELECT unnest($tokensSql) AS word FROM documents)
         |GROUP BY word""".stripMargin)(wordCount),
    Q("inverted_index",
      s"""SELECT word,
         |  array_to_string(list_sort(list_distinct(list(doc_id))), ',') AS docs
         |FROM (SELECT doc_id, unnest($tokensSql) AS word FROM documents)
         |GROUP BY word""".stripMargin)(invertedIndex),
    Q("inverted_index_bucketed",
      s"""SELECT word,
         |  array_to_string(list_sort(list_distinct(list(doc_id))), ',') AS docs
         |FROM (SELECT doc_id, unnest($tokensSql) AS word FROM documents)
         |GROUP BY word""".stripMargin)(invertedIndexBucketed),
  )
}
