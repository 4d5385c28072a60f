package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.vecDot
import graft.text.TextOps.tokensSql

/** Hybrid retrieval and embedding-hygiene operators — the two sides
  * of a RAG/data-curation index the reference engine (a bare
  * MapReduce pipeline, reference worker.py:118-214) has no surface
  * for:
  *
  *  - [[rrfFusion]]: reciprocal-rank fusion (Cormack et al. 2009) of
  *    a lexical BM25 ranking and a dense cosine ranking — the
  *    standard way production search fuses keyword and embedding
  *    retrieval without score calibration (only ranks matter, so the
  *    two score distributions never need to be commensurable).
  *  - [[embeddingOutliers]]: distance-to-centroid outlier flagging —
  *    the embedding-space hygiene pass that catches encoder failures
  *    and off-distribution documents before they enter a training
  *    mix or an ANN index.
  *
  * Scale design: both rankings end in a global top-K with K tiny
  * (≤ [[KCand]]) — at 100 TB those are TakeOrdered over per-partition
  * heads, never a full sort. The fusion join touches ≤ 2·K rows. The
  * outlier pass is two corpus scans: one K·dim-group aggregate for
  * the centroid (broadcast back, model-sized like
  * ml.ClusterOps.kmeansUpdate), one per-vector aggregate for the
  * distance; the threshold is a 1-row broadcast.
  *
  * Cross-engine determinism: per-dimension sums and distance sums go
  * through DECIMAL(18,6) of 6-decimal-rounded terms (exact,
  * order-free); every double division/multiplication happens on
  * identical operands in both engines, so the results are
  * bit-identical — the repo's standard policy (ops/Relational.scala).
  */
object RetrievalOps {

  private val KCand = 20 // candidates kept from each ranking
  private val RrfK = 60 // the standard RRF dampening constant
  private val KOut = 10 // fused results returned
  private val QueryVec = 0L // dense query: embedding of vec_id 0

  /** Reciprocal-rank fusion of the BM25 ranking (query =
    * CurationRules.QueryTerms) with the dense cosine ranking against
    * the [[QueryVec]] embedding: score(d) = Σ_runs 1/([[RrfK]] +
    * rank_run(d)), summed over the runs that retrieved d. The two
    * 1/(k+r) terms are added in a fixed order (lexical first), so the
    * double is reproducible; ranks are dense integers, so the fusion
    * is calibration-free.
    */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    // Each run takes its top-K via orderBy().limit(K) — planned as
    // TakeOrderedAndProject (per-partition heads merged on the
    // driver), NOT a row_number over an un-partitioned window, which
    // would drag the whole scored corpus onto one partition. The
    // rank ordinals are then assigned by a window over the ≤K
    // surviving rows, where a global window is free.
    val wLex = graft.Bounded.global.orderBy(col("bm25").desc, col("doc_id"))
    val lex = graft.text.CurationRules.bm25(s, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(KCand)
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    // dense run: exact cosine of every non-query vector against the
    // query embedding (1-row broadcast)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
    val q = e.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("vq"), col("nrm").as("nrmq"))
    val wDense = graft.Bounded.global.orderBy(col("c").desc, col("vec_id"))
    val dense = e.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .withColumn("c", vecDot(col("embedding"), col("vq")) / (col("nrm") * col("nrmq")))
      .orderBy(col("c").desc, col("vec_id")).limit(KCand)
      .withColumn("dense_rank", row_number().over(wDense).cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    val wFused = graft.Bounded.global.orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(dense, Seq("doc_id"), "full")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("dense_rank")), lit(0.0)), 6))
      .withColumn("fused_rank", row_number().over(wFused).cast("long"))
      .filter(col("fused_rank") <= KOut)
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        col("rrf_score"), col("fused_rank"))
  }

  private val rrfOracle = {
    val dot =
      """list_sum(list_transform(range(1, len(e.v) + 1),
        |      i -> CAST(e.v[i] AS DOUBLE) * CAST(q.v[i] AS DOUBLE)))""".stripMargin
    s"""WITH lex AS (
       |  SELECT doc_id, lex_rank FROM (
       |    SELECT doc_id,
       |      CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
       |        AS lex_rank
       |    FROM (${graft.text.CurationRules.bm25Oracle}))
       |  WHERE lex_rank <= $KCand),
       |n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding AS v,
       |      sqrt(list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |    FROM embeddings) WHERE nrm > 0),
       |dense AS (
       |  SELECT doc_id, dense_rank FROM (
       |    SELECT e.vec_id AS doc_id,
       |      CAST(row_number() OVER (
       |        ORDER BY $dot / (e.nrm * q.nrm) DESC, e.vec_id) AS BIGINT)
       |        AS dense_rank
       |    FROM n e, (SELECT v, nrm FROM n WHERE vec_id = $QueryVec) q
       |    WHERE e.vec_id <> $QueryVec)
       |  WHERE dense_rank <= $KCand)
       |SELECT doc_id, lex_rank, dense_rank, rrf_score, fused_rank FROM (
       |  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |    lex_rank, dense_rank,
       |    round(coalesce(1.0 / ($RrfK + lex_rank), 0.0)
       |      + coalesce(1.0 / ($RrfK + dense_rank), 0.0), 6) AS rrf_score,
       |    CAST(row_number() OVER (
       |      ORDER BY round(coalesce(1.0 / ($RrfK + lex_rank), 0.0)
       |        + coalesce(1.0 / ($RrfK + dense_rank), 0.0), 6) DESC,
       |        coalesce(lex.doc_id, dense.doc_id)) AS BIGINT) AS fused_rank
       |  FROM lex FULL JOIN dense ON lex.doc_id = dense.doc_id)
       |WHERE fused_rank <= $KOut""".stripMargin
  }

  // ---- embedding outliers ------------------------------------------

  /** Euclidean distance of every embedding to the corpus centroid,
    * flagged as an outlier when the distance exceeds 1.5 × the mean
    * distance (⌈3·mean/2⌉ in integer micro units). The centroid (dim
    * rows) and the threshold (1 row) broadcast back onto the scan — the
    * corpus itself shuffles only on vec_id for the per-vector sum.
    * All sums are DECIMAL(18,6) of rounded terms, so centroid,
    * distances, and threshold are bit-identical across engines.
    */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    // means and the threshold round in INTEGER micro arithmetic (the
    // kneser_ney discipline): the sums are exact micro multiples, so
    // a float `round(sum/count, 6)` can land exactly on a .5e-6
    // boundary where the engines' round implementations legitimately
    // disagree about the same double; `((10·Σμ) div n + 5) div 10`
    // is bit-identical everywhere. NOTE: with truncating `div` this
    // is half-UP only for non-negative sums; a negative per-dim sum
    // (the fixture spans [-0.53, 0.46]) rounds toward zero instead
    // (mean −2.6μ → −2μ, not −3μ). That asymmetry is deliberate and
    // safe: DuckDB's `//`-based oracle truncates identically, so the
    // engines agree bit-for-bit — determinism, not IEEE half-away,
    // is the contract here
    val cent = e.groupBy(col("dim"))
      .agg(sum(round(col("v"), 6).cast("decimal(18,6)")).as("sv"),
        count(lit(1)).as("n"))
      .select(col("dim"),
        (expr("((10 * CAST(sv * 1000000 AS BIGINT)) div n + 5) div 10")
          / 1e6).as("cd"))
    val dist = e.join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(round(sqrt(
        sum(round((col("v") - col("cd")) * (col("v") - col("cd")), 6)
          .cast("decimal(18,6)")).cast("double")), 6).as("dist"))
    val thr = dist
      .agg(sum(col("dist").cast("decimal(18,6)")).as("sd"), count(lit(1)).as("n"))
      .select(
        (expr("(3 * (((10 * CAST(sd * 1000000 AS BIGINT)) div n + 5) div 10) + 1) div 2")
          / 1e6).as("thr")) // 1.5× the mean, half-up, still integer-exact
    dist.crossJoin(broadcast(thr))
      .select(col("vec_id"), col("dist"), (col("dist") > col("thr")).as("is_outlier"))
  }

  private val outlierOracle =
    s"""WITH e AS (
       |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |c AS (
       |  SELECT dim,
       |    ((10 * CAST(SUM(CAST(round(v, 6) AS DECIMAL(18,6))) * 1000000
       |        AS BIGINT)) // COUNT(*) + 5) // 10 / 1000000.0 AS cd
       |  FROM e GROUP BY 1),
       |d AS (
       |  SELECT vec_id, round(sqrt(CAST(
       |    SUM(CAST(round((v - cd) * (v - cd), 6) AS DECIMAL(18,6)))
       |    AS DOUBLE)), 6) AS dist
       |  FROM e JOIN c USING (dim) GROUP BY 1),
       |t AS (
       |  SELECT (3 * (((10 * CAST(SUM(CAST(dist AS DECIMAL(18,6))) * 1000000
       |      AS BIGINT)) // COUNT(*) + 5) // 10) + 1) // 2 / 1000000.0
       |    AS thr
       |  FROM d)
       |SELECT vec_id, dist, dist > thr AS is_outlier FROM d, t""".stripMargin

  // ---- sparse tf-idf cosine pairs ----------------------------------

  private val SparseDfCap = 60L // drop grams present in > cap docs
  private val SparsePairsK = 20 // pairs returned

  /** Sparse tf-idf cosine similarity — the lexical complement of the
    * dense-embedding pair search (DedupOps.embeddingNeardup): documents
    * are tf-idf vectors over their bigram terms, candidate pairs come
    * from a posting-list equi-join on the term, and the dot product is
    * the per-pair sum of weight products. The join is df-capped
    * ([[SparseDfCap]]) BEFORE the self-join — the same discipline as
    * DedupOps.dfCapped for shingles: a term appearing in d documents
    * contributes d·(d-1)/2 candidate pairs, so capping df bounds the
    * candidate set by Σ df² over kept terms and removes exactly the
    * terms whose idf≈0 carries no discrimination anyway (the standard
    * sparse-similarity pruning; Elasticsearch/Lucene's max_doc_freq).
    * At 100 TB the term key becomes an 8-byte hash (as the shingle
    * joins document); the final top-K is TakeOrderedAndProject.
    *
    * Cross-engine determinism: weights are rounded to 6 decimals;
    * norm² and dot products are DECIMAL(18,6) sums of rounded terms
    * (exact, order-free); the cosine divides identical doubles.
    */
  private val memo = graft.KeyedMemo.frames()

  /** The df-capped tf-idf bigram postings behind [[sparseCosinePairs]],
    * memoized per (session, dataset) under the KeyedMemo discipline:
    * the pair query reads this frame THREE times (norms + both join
    * sides), and without the memo each read re-tokenizes the corpus.
    * The compute closure caches its own output (a multi-step
    * derivation, not a rename), per the memo contract.
    */
  private def sparseWeights(s: SparkSession, dir: String): DataFrame =
    memo("sparse_weights", s, dir) {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val grams = docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          val toks = graft.mr.MrJobs.tokenize(t)
          if (toks.lengthCompare(2) < 0) Nil
          else toks.sliding(2).map(w => (id, w.mkString(" ")))
        }
        .toDF("doc_id", "gram")
      val tf = grams.groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("tf"))
      // df via groupBy + broadcast join, NOT a window over the gram
      // partition: a window puts a hot bigram's entire posting list
      // ("of the" at corpus scale) into ONE partition's sort buffer
      // BEFORE the df ≤ cap filter can drop it; the groupBy partial-
      // aggregates the same key map-side, and after the cap filter the
      // (gram, df) table holds only rare grams — broadcastable and
      // skew-immune (same shape tfidf uses, TextAnalysis.scala:103).
      val dfTable = tf.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= SparseDfCap)
      val capped = tf.join(broadcast(dfTable), Seq("gram"))
      val n = docs.agg(count(lit(1)).as("n"))
      capped.crossJoin(broadcast(n))
        .select(col("doc_id"), col("gram"),
          round(col("tf") * (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + 1), 6)
            .as("w"))
        .cache()
    }

  def sparseCosinePairs(s: SparkSession, dir: String): DataFrame = {
    val w = sparseWeights(s, dir)
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(round(col("w") * col("w"), 6).cast("decimal(18,6)"))
        .cast("double")).as("nrm"))
    val a = w.select(col("doc_id").as("doc_a"), col("gram"), col("w").as("wa"))
    val b = w.select(col("doc_id").as("doc_b"), col("gram"), col("w").as("wb"))
    a.join(b, Seq("gram")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(round(col("wa") * col("wb"), 6).cast("decimal(18,6)"))
        .cast("double").as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(SparsePairsK)
  }

  private val sparseCosineOracle =
    s"""WITH t0 AS (
       |  SELECT doc_id, $tokensSql AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t), 1)),
       |    i -> t[i] || ' ' || t[i+1])) AS gram
       |  FROM t0),
       |tf AS (
       |  SELECT doc_id, gram, COUNT(*) AS tf FROM g GROUP BY 1, 2),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY gram) AS df FROM tf)
       |  WHERE df <= $SparseDfCap),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |w AS (
       |  SELECT doc_id, gram,
       |    round(tf * (ln((1.0 + n.n) / (1.0 + df)) + 1), 6) AS w
       |  FROM capped, n),
       |nrm AS (
       |  SELECT doc_id, sqrt(CAST(
       |    SUM(CAST(round(w * w, 6) AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
       |  FROM w GROUP BY 1),
       |dots AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(SUM(CAST(round(a.w * b.w, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |      AS dot
       |  FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(dot / (na.nrm * nb.nrm), 6) AS cosine
       |FROM dots
       |JOIN nrm na ON dots.doc_a = na.doc_id
       |JOIN nrm nb ON dots.doc_b = nb.doc_id
       |ORDER BY cosine DESC, doc_a, doc_b LIMIT $SparsePairsK""".stripMargin

  // ---- RAG index build ---------------------------------------------

  /** End-to-end retrieval-index build — the composition a RAG corpus
    * actually runs: quality-gate the documents
    * (TextAnalysis.qualityFilter), chunk the survivors into
    * overlapping token windows (TextAnalysis.chunkDocs), and shard
    * every chunk into its document's IVF inverted list
    * (SimOps.ivfAssignments). Output is the index manifest: one row
    * per (kept chunk) with its list id — what an ANN service loads
    * per shard. Every stage is an oracled operator composed; the
    * joins are a semi-join on doc_id (AQE-broadcast once the kept
    * set proves small) and an equi-join onto the assignment frame.
    */
  def ragIndex(s: SparkSession, dir: String): DataFrame = {
    val kept = graft.text.TextAnalysis.qualityFilter(s, dir)
      .filter(col("keep")).select(col("doc_id"))
    val chunks = graft.text.TextAnalysis.chunkDocs(s, dir)
      .join(kept, Seq("doc_id"), "left_semi")
    val lists = SimOps.ivfAssignments(s, dir)
      .withColumnRenamed("vec_id", "doc_id")
    chunks.join(lists, Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("n_tok"),
        col("cent_id").as("ivf_list"))
  }

  private val ragOracle = {
    s"""WITH t0 AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |r AS (
       |  SELECT doc_id, len(t) AS n_tok,
       |    round(1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
       |      AS rep_ratio
       |  FROM (SELECT doc_id, t, list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
       |    FROM t0 WHERE len(t) >= 3)),
       |kept AS (
       |  SELECT doc_id FROM r
       |  WHERE NOT (n_tok < 30 OR n_tok > 90 OR rep_ratio > 0.02)),
       |ch AS (
       |  SELECT doc_id, st // ${graft.text.TextAnalysis.ChunkStride} AS chunk_idx,
       |    least(len(t) - st, ${graft.text.TextAnalysis.ChunkSize}) AS n_tok
       |  FROM t0,
       |    unnest(range(0, len(t), ${graft.text.TextAnalysis.ChunkStride})) AS u(st)),
       |${SimOps.normsCte},
       |cents AS (
       |  SELECT vec_id AS cent_id, v AS vcent, nrm AS nrmcent
       |  FROM n WHERE vec_id < ${SimOps.NumCentroids}),
       |simc AS (
       |  SELECT n.vec_id, cents.cent_id,
       |    list_sum(list_transform(range(1, len(n.v) + 1),
       |      i -> CAST(n.v[i] AS DOUBLE) * CAST(cents.vcent[i] AS DOUBLE)))
       |      / (n.nrm * cents.nrmcent) AS cs
       |  FROM n, cents),
       |assign AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, cent_id) AS arn FROM simc)
       |  WHERE arn = 1)
       |SELECT ch.doc_id, chunk_idx, ch.n_tok, cent_id AS ivf_list
       |FROM ch
       |JOIN kept ON ch.doc_id = kept.doc_id
       |JOIN assign ON ch.doc_id = assign.vec_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("rrf_fusion", rrfOracle)(rrfFusion),
    Q("embedding_outliers", outlierOracle)(embeddingOutliers),
    Q("rag_index", ragOracle)(ragIndex),
    Q("sparse_cosine_pairs", sparseCosineOracle)(sparseCosinePairs),
  )
}
