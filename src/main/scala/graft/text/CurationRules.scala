package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Corpus-curation scoring operators from the published LLM-data
  * literature, each a deterministic differential-gate citizen:
  * Gopher-style quality rules (Rae et al. 2021 §A1.1), DSIR-style
  * hashed-n-gram importance weights (Xie et al. 2023), BM25 relevance
  * scoring (Robertson/Sparck Jones), and corpus-wide repeated-span
  * fractions (the practical stand-in for exact substring dedup, Lee
  * et al. 2022). The reference engine has no curation surface; these
  * extend it the way its users would have had to hand-write
  * map/reduce pairs (reference worker.py:129-145).
  *
  * Scale design, per operator:
  *  - gopherRules is a pure scan-side projection — zero shuffle,
  *    whole-stage codegen'd; at 100 TB it is embarrassingly parallel.
  *  - dsirWeights aggregates the corpus into a 64-row hashed-bucket
  *    language model (one partial+final agg), then scores documents
  *    by a BROADCAST join of that tiny model onto the token stream —
  *    the corpus is scanned twice, shuffled on doc_id once.
  *  - bm25 keeps only query-term tokens before any shuffle (the
  *    filter sits under the explode), so the aggregated state is
  *    O(matching docs × |query|), never O(corpus tokens).
  *  - spanDupFraction is one inverted-span equi-join, the same shape
  *    as DedupOps.ngramJaccard; at 100 TB the join key becomes an
  *    8-byte hash and hot spans get a document-frequency cap (both
  *    documented there) — here the string key keeps the oracle exact.
  *
  * Cross-engine determinism: every double is rounded to 6 decimals
  * before it feeds a threshold or a sum; per-document sums of
  * rounded terms go through DECIMAL(18,6) (exact, order-independent)
  * and only the final value is cast back to DOUBLE — the same policy
  * as ops/Relational.scala's exact-decimal money sums.
  */
object CurationRules {

  import TextOps.{tokens, tokensSql}

  // ---- Gopher quality rules ----------------------------------------

  /** Rule constants (fixture-scaled analogues of Gopher §A1.1: word
    * count bounds, mean-word-length band, symbol ratio cap, minimum
    * distinct stopword types).
    */
  private val MinWords = 50L
  private val MaxWords = 100000L
  private val MinMeanLen = 3.0
  private val MaxMeanLen = 10.0
  private val MaxSymbolRatio = 0.1
  private val MinStopTypes = 2L

  /** Per-document Gopher rule evaluation: token count in
    * [[MinWords]]..[[MaxWords]], mean token length in
    * [[MinMeanLen]]..[[MaxMeanLen]], symbol (non-alphanumeric,
    * non-space) character ratio under [[MaxSymbolRatio]], and at
    * least [[MinStopTypes]] distinct stopword types present. All
    * thresholds compare the ROUNDED metrics, so the keep bit can
    * never disagree with the reported columns across engines.
    */
  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nWords = size(t).cast("long")
    val meanLen = round(
      aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x)
        / greatest(size(t), lit(1)).cast("double"), 6)
    val symbolRatio = round(
      length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
        / greatest(length(col("text")), lit(1)).cast("double"), 6)
    val stopTypes =
      size(filter(typedLit(TextAnalysis.stopwords), x => array_contains(t, x)))
        .cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), stopTypes.as("n_stop_types"))
      .withColumn("keep",
        col("n_words").between(MinWords, MaxWords) &&
          col("mean_word_len").between(MinMeanLen, MaxMeanLen) &&
          col("symbol_ratio") < MaxSymbolRatio &&
          col("n_stop_types") >= MinStopTypes)
  }

  private val stopListSql =
    TextAnalysis.stopwords.mkString("['", "','", "']")

  private val gopherOracle =
    s"""SELECT doc_id, n_words, mean_word_len, symbol_ratio, n_stop_types,
       |  (n_words BETWEEN $MinWords AND $MaxWords
       |    AND mean_word_len BETWEEN $MinMeanLen AND $MaxMeanLen
       |    AND symbol_ratio < $MaxSymbolRatio
       |    AND n_stop_types >= $MinStopTypes) AS keep
       |FROM (
       |  SELECT doc_id,
       |    len(t) AS n_words,
       |    round(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
       |      / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS mean_word_len,
       |    round(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
       |      / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS symbol_ratio,
       |    len(list_filter($stopListSql, x -> list_contains(t, x)))
       |      AS n_stop_types
       |  FROM (SELECT doc_id, text, $tokensSql AS t FROM documents))""".stripMargin

  // ---- DSIR hashed-n-gram importance weights -----------------------

  private val DsirBuckets = 64
  private val TargetSource = "src0"

  /** md5-derived token bucket shared verbatim with the oracle — the
    * same construction as [[SplitHash]], modulus [[DsirBuckets]].
    */
  private def tokenBucket(c: Column): Column =
    pmod(conv(substring(md5(c.cast("binary")), 1, 15), 16, 10)
      .cast("long"), lit(DsirBuckets.toLong))

  private def tokenBucketSql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT) % $DsirBuckets"

  /** DSIR-style importance weight per document: a 64-bucket hashed
    * unigram model of the target slice (source = [[TargetSource]])
    * and of the raw corpus, Laplace-smoothed; each document scores
    * the sum over its tokens of the per-bucket log-likelihood ratio.
    * The two bucket models and their totals are 64-row/1-row frames
    * broadcast into the scoring join — the corpus never shuffles on
    * anything except doc_id for the final per-document sum. Log
    * ratios are rounded to 6 decimals and summed as DECIMAL(18,6)
    * (exact, order-free), the engine's standard determinism policy.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // r11 (guide §2.3 aggregate-before-shuffle): tokenize ONCE into
    // per-(doc, source, bucket) counts — a frame of ≤ 64 rows per
    // document — and derive raw/target/totals/per-doc score from that
    // aggregate. The four consumers' physical subtrees share one
    // identical Exchange (ReuseExchange), so the corpus-wide
    // explode+md5 runs once instead of four times, and everything
    // that shuffles afterwards is bucket-count-sized, not
    // token-stream-sized. All derived counts are exact long sums of
    // disjoint slices — bit-identical to counting the stream.
    val tok = docs
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
    val docBuckets0 = tok
      .groupBy(col("doc_id"), col("source"), tokenBucket(col("tok")).as("b"))
      .agg(count(lit(1)).as("cnt"))
    // lineage cut (the entity_resolution idiom): without it each
    // consumer pushes its own filters below the aggregate and the
    // exchange subtrees stop being identical — the corpus would be
    // re-tokenized per consumer. Behind the LogicalRDD leaf all four
    // consumer jobs share the aggregate's shuffle map stage.
    val docBuckets = docs.sparkSession
      .createDataFrame(docBuckets0.rdd, docBuckets0.schema)
    val raw = docBuckets.groupBy(col("b")).agg(sum(col("cnt")).as("cr"))
    val tgt = docBuckets.filter(col("source") === TargetSource)
      .groupBy(col("b")).agg(sum(col("cnt")).as("ct"))
    val totals = docBuckets.agg(
      sum(col("cnt")).as("nr"),
      coalesce(sum(when(col("source") === TargetSource, col("cnt"))), lit(0L))
        .as("nt"))
    // 64-row model join: raw buckets are a superset of target buckets
    // (every target token is a raw token), so a left join + coalesce 0
    // covers buckets the target slice never hits.
    val lr = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1)) / (col("nt") + lit(DsirBuckets)).cast("double")) /
            ((col("cr") + lit(1)) / (col("nr") + lit(DsirBuckets)).cast("double"))), 6)
          .cast("decimal(18,6)").as("lr"))
    // per-token Σ lr ≡ Σ_b cnt_b·lr_b — integer multiples of exact
    // decimals, so the decimal sum is bit-identical to the token-level
    // form while joining 64-row buckets instead of the token stream
    val perDoc = docBuckets.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"), sum(col("lr") * col("cnt")).as("w"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("w").cast("double"), lit(0.0)).as("dsir_weight"))
  }

  private val dsirOracle =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |    ${tokenBucketSql("unnest(" + tokensSql + ")")} AS b
       |  FROM documents),
       |raw AS (SELECT b, COUNT(*) AS cr FROM tok GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS ct FROM tok
       |  WHERE source = '$TargetSource' GROUP BY b),
       |totals AS (
       |  SELECT COUNT(*) AS nr,
       |    COUNT(*) FILTER (source = '$TargetSource') AS nt FROM tok),
       |lr AS (
       |  SELECT raw.b,
       |    CAST(round(ln(
       |      ((coalesce(ct, 0) + 1) / CAST(nt + $DsirBuckets AS DOUBLE)) /
       |      ((cr + 1) / CAST(nr + $DsirBuckets AS DOUBLE))), 6)
       |      AS DECIMAL(18,6)) AS lr
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, totals),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lr) AS w
       |  FROM tok JOIN lr ON tok.b = lr.b GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_tokens, 0) AS n_tokens,
       |  coalesce(CAST(w AS DOUBLE), 0.0) AS dsir_weight
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin

  // ---- BM25 --------------------------------------------------------

  private val QueryTerms = Seq("spark", "join", "stream")
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 score of every document against the fixed [[QueryTerms]]
    * bag. Only query-term tokens survive past the scan (the isin
    * filter sits inside the array before the explode), so the
    * shuffled state is O(matching docs × |query|); document length
    * and the global stats ride in as a map-only projection and a
    * broadcast 1-row frame. idf and each term contribution are
    * rounded to 6 decimals; the per-document sum over terms is exact
    * DECIMAL arithmetic.
    */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      round(avg(col("dl")), 6).as("avgdl"))
    val tf = docs
      .select(col("doc_id"),
        explode(filter(tokens(col("text")), t => t.isInCollection(QueryTerms)))
          .as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 6)
          .as("idf"),
        col("avgdl"))
    val contrib = tf.join(broadcast(idf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .select(col("doc_id"), col("term"),
        round(col("idf") * col("tf").cast("double") * lit(K1 + 1) /
          (col("tf").cast("double") + lit(K1) *
            (lit(1 - B) + lit(B) * col("dl").cast("double") / col("avgdl"))), 6)
          .cast("decimal(18,6)").as("c"))
    contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("c")).cast("double").as("bm25"))
  }

  private[graft] val bm25Oracle = {
    val terms = QueryTerms.mkString("['", "','", "']")
    s"""WITH dl AS (
       |  SELECT doc_id, len($tokensSql) AS dl FROM documents),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(list_filter($tokensSql, t -> list_contains($terms, t)))
       |        AS term
       |    FROM documents)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |idf AS (
       |  SELECT term,
       |    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf,
       |    avgdl
       |  FROM df, stats),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round(idf * CAST(tf AS DOUBLE) * ${K1 + 1} /
       |      (CAST(tf AS DOUBLE) + $K1 *
       |        (${1 - B} + $B * CAST(dl.dl AS DOUBLE) / avgdl)), 6)
       |      AS DECIMAL(18,6)) AS c
       |  FROM tf JOIN idf ON tf.term = idf.term
       |  JOIN dl ON dl.doc_id = tf.doc_id)
       |SELECT doc_id, COUNT(*) AS n_terms_hit,
       |  CAST(SUM(c) AS DOUBLE) AS bm25
       |FROM contrib GROUP BY doc_id""".stripMargin
  }

  // ---- Repeated-span fraction --------------------------------------

  private val SpanN = 8

  /** Corpus-wide repeated-span fraction per document: the share of a
    * document's distinct [[SpanN]]-token spans that also appear in at
    * least one OTHER document — the per-document score behind exact
    * substring dedup (docs above a cut get their repeated spans
    * clipped or are dropped). One typed flatMap emits the distinct
    * span bag; one equi-join on the span key computes cross-document
    * frequency. The join keys on the span STRING so the DuckDB
    * oracle is exact; the 100 TB form keys on xxhash64(span) and
    * caps hot spans' document frequency, exactly as
    * DedupOps.ngramJaccard documents for its shingle join.
    */
  def spanDupFraction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spans = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = graft.mr.MrJobs.tokenize(t)
        if (toks.lengthCompare(SpanN) < 0) Nil
        else toks.sliding(SpanN).map(_.mkString(" ")).toVector.distinct.map((id, _))
      }
      .toDF("doc_id", "span")
      // r11 (guide §2.4 — share one exchange instead of shingling
      // twice): the df aggregate and the df-attach join both consume
      // the span stream, and each consumer's column pruning /
      // predicate pushdown makes the subtrees non-identical, so the
      // flatMap used to run once per consumer (2 MapPartitions in the
      // before-plan). Repartition on the join/agg key and cut lineage
      // behind a LogicalRDD leaf (the entity_resolution idiom): both
      // consumer jobs then share the one shuffle's map stage by RDD
      // object identity — the corpus is shingled ONCE, the shuffle is
      // written once and read twice. Same rows out.
      .repartition(col("span"))
    val spansP = spans.sparkSession.createDataFrame(spans.rdd, spans.schema)
    val docFreq = spansP.groupBy(col("span"))
      .agg(count(lit(1)).as("span_df"))
    val perDoc = spansP.join(docFreq, Seq("span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("span_df") >= 2, 1)).as("n_shared"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dup_frac",
        round(col("n_shared") / greatest(col("n_spans"), lit(1L)).cast("double"), 6))
  }

  private val spanOracle = {
    val concat = (1 to SpanN).map(j => s"t[i+${j - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |sp AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, greatest(len(t) - ${SpanN - 2}, 1)),
       |      i -> $concat)) AS span
       |  FROM toks),
       |freq AS (SELECT span, COUNT(*) AS span_df FROM sp GROUP BY span),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_spans,
       |    COUNT(*) FILTER (span_df >= 2) AS n_shared
       |  FROM sp JOIN freq ON sp.span = freq.span GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_spans, 0) AS n_spans,
       |  coalesce(n_shared, 0) AS n_shared,
       |  round(coalesce(n_shared, 0)
       |    / CAST(greatest(coalesce(n_spans, 0), 1) AS DOUBLE), 6) AS dup_frac
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin
  }

  // ---- Blocklist filtering (C4 §2.2-style bad-word gate) -----------

  /** Term blocklist, a plan literal. Real pipelines carry thousands of
    * terms (C4's "List of Dirty, Naughty …" list); the mechanism is
    * identical — the list broadcasts with the plan and the membership
    * probe is a scan-side set intersection, so the gate costs one
    * codegen'd map pass at any corpus size. Fixture terms: one common
    * ("slow"), one rare ("dup"), one absent ("spill") — so the query
    * exercises hit-many / hit-few / hit-none paths.
    */
  private val Blocklist: Seq[String] = Seq("slow", "dup", "spill")

  /** Per-document blocklist verdict: how many DISTINCT blocklisted
    * terms appear (`array_intersect` de-duplicates — a document
    * repeating "slow" fifty times still counts 1), and the keep bit.
    * Zero shuffles, no UDF; `arrays_overlap`-class expressions stay
    * inside whole-stage codegen. At 100 TB this is the cheapest gate
    * in the curation chain and therefore runs FIRST (same
    * cheap-gates-first ordering as [[graft.dedup.DedupOps.curateCorpus]]).
    */
  def blocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val hits = array_intersect(tokens(col("text")),
      array(Blocklist.map(lit): _*))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(hits).cast("long").as("n_blocked"),
      (size(hits) === 0).as("keep"))
  }

  private val blocklistOracle = {
    val list = Blocklist.mkString("['", "','", "']")
    s"""SELECT doc_id,
       |  len(list_intersect($tokensSql, $list)) AS n_blocked,
       |  len(list_intersect($tokensSql, $list)) = 0 AS keep
       |FROM documents""".stripMargin
  }

  // ---- Adaptive per-source quality threshold -----------------------

  /** Keep fraction for [[qualityThresholdPerSource]]: top 20 % per
    * source, k = ceil(n/5) computed in INTEGER arithmetic ((n+4) div
    * 5) so both engines derive the identical cut count.
    */
  private val KeepNum = 4L // (n + KeepNum) div KeepDen == ceil(n/5)
  private val KeepDen = 5L

  /** Adaptive per-source quality cut — "keep the best 20 % of every
    * source" (the normalization step that stops one verbose source
    * from dominating a mixed corpus; per-source quality floors differ,
    * so a single global threshold over- or under-prunes). The score is
    * the rounded type-token ratio; the threshold is the k-th largest
    * score per source — a DISCRETE order statistic (an actual data
    * value, ties kept), not an interpolated quantile, so no
    * floating-point interpolation can disagree across engines.
    *
    * Scale shape: one partial+final aggregate collapses the corpus to
    * its per-(source, score) SPECTRUM — bounded by sources × distinct
    * rounded scores (≤10⁶ per source by construction), never by rows —
    * and the cumulative window runs over that aggregated frame,
    * partitioned by source. The corpus itself is scanned once,
    * map-only; no per-document window anywhere. (The same
    * aggregate-then-window pattern as [[graft.text.TextAnalysis]]'s
    * Good–Turing spectrum; at 100 TB the spectrum stays
    * executor-sized.) Output is the 20-row per-source summary —
    * threshold, doc counts — the artifact a pipeline broadcasts into
    * its filter stage.
    */
  def qualityThresholdPerSource(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val scored = Tables.documents(s, dir).select(
      col("source"),
      round(size(array_distinct(t))
        / greatest(size(t), lit(1)).cast("double"), 6).as("score"))
    val perSource = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("k", expr(s"(n_docs + $KeepNum) div $KeepDen"))
    val spectrum = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score").desc)
    val cum = spectrum.withColumn("cum", sum(col("c")).over(w))
    val thr = cum.join(broadcast(perSource), Seq("source"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("source"), col("n_docs"), col("k"))
      .agg(max(col("score")).as("threshold"))
    cum.join(broadcast(thr), Seq("source"))
      .filter(col("score") === col("threshold"))
      .select(col("source"), col("n_docs"), col("k"), col("threshold"),
        col("cum").as("kept"))
  }

  private val qualityThresholdOracle =
    s"""WITH d AS (
       |  SELECT source,
       |    round(len(list_distinct(t))
       |      / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS score
       |  FROM (SELECT source, $tokensSql AS t FROM documents)),
       |n AS (SELECT source, COUNT(*) AS n_docs,
       |  (COUNT(*) + $KeepNum) // $KeepDen AS k FROM d GROUP BY 1),
       |c AS (SELECT source, score, COUNT(*) AS c FROM d GROUP BY 1, 2),
       |cum AS (SELECT source, score,
       |  SUM(c) OVER (PARTITION BY source ORDER BY score DESC) AS cum
       |  FROM c),
       |t AS (SELECT cum.source, n_docs, k, MAX(score) AS threshold
       |  FROM cum JOIN n ON cum.source = n.source
       |  WHERE cum >= k GROUP BY 1, 2, 3)
       |SELECT t.source, n_docs, k, threshold, CAST(cum AS BIGINT) AS kept
       |FROM t JOIN cum ON t.source = cum.source
       |  AND cum.score = t.threshold""".stripMargin

  val all: Seq[Q] = Seq(
    Q("gopher_rules", gopherOracle)(gopherRules),
    Q("dsir_weights", dsirOracle)(dsirWeights),
    Q("bm25_score", bm25Oracle)(bm25),
    Q("span_dup_fraction", spanOracle)(spanDupFraction),
    Q("blocklist_filter", blocklistOracle)(blocklistFilter),
    Q("quality_threshold_per_source", qualityThresholdOracle)(qualityThresholdPerSource),
  )
}
