package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.vecDot

/** Similarity search over the embeddings table (`array<float>`).
  *
  * Two plans for the same capability:
  *  - [[cosineTopk]]: brute-force exact top-k — the correctness
  *    baseline. Query side is a small filtered set, so the product is
  *    |queries| × |corpus|, a broadcast nested-loop with the corpus
  *    streamed — linear in corpus size, parallel over its partitions.
  *  - [[cosineTopkLsh]]: the 100 TB path. Random-projection LSH
  *    (sign-of-dot-product with ±1 plane vectors, Charikar'02 /
  *    Achlioptas'01) buckets vectors into T tables × 2^B buckets; the
  *    search is an equi-join on (table, bucket) — shuffle on bucket
  *    keys, never all-pairs. The planes are deterministic literals
  *    replicated into the DuckDB oracle SQL, so the approximate
  *    algorithm itself is differentially tested, not just its recall.
  */
object SimOps {

  private val NQueries = 10 // query set = vec_id < 10
  private val TopK = 5

  /** Exact top-k cosine neighbors for each query vector. */
  def cosineTopk(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0) // cosine undefined for zero vectors; ANSI-safe
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("vq"), col("nrm").as("nrmq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("vc"), col("nrm").as("nrmc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    q.join(c, col("neighbor_id") =!= col("query_id"))
      .withColumn("c", vecDot(col("vq"), col("vc")) / (col("nrmq") * col("nrmc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("c"), 6).as("cosine"))
  }

  // ---- LSH ---------------------------------------------------------

  private val Dim = 64
  private val NumTables = 4
  private val BitsPerTable = 8
  /** ±1 plane components, seeded — shared verbatim with the oracle. */
  private val planes: Array[Array[Array[Int]]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(NumTables, BitsPerTable, Dim)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** Sequential-fold double dot of a float-vector column with a ±1
    * literal plane — bit-identical to the oracle's list_sum fold
    * (±1 is exact in float, so the float-array literal loses nothing).
    */
  private def planeDot(v: Column, plane: Array[Int]): Column =
    vecDot(v, typedLit(plane.map(_.toFloat).toSeq))

  /** Bucket id for one table: B sign bits packed into a long. */
  private def bucketCol(v: Column, t: Int): Column =
    (0 until BitsPerTable).map { b =>
      when(planeDot(v, planes(t)(b)) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def bucketSql(t: Int): String =
    (0 until BitsPerTable).map { b =>
      val plane = planes(t)(b).mkString("[", ",", "]")
      s"""CASE WHEN list_sum(list_transform(range(1, len(v) + 1),
         |    i -> CAST(v[i] AS DOUBLE) * ($plane[i]))) > 0
         |  THEN ${1L << b} ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")

  /** Normed embedding corpus shared by every LSH variant: zero
    * vectors dropped (cosine undefined; ANSI-safe).
    */
  private def normedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
  }

  /** The LSH index build: per-vector bucket id in each of the
    * [[NumTables]] tables — map-shaped, one corpus pass.
    */
  private def lshBuckets(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until NumTables).map(t =>
          struct(lit(t).as("tbl"), bucketCol(col("embedding"), t).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

  /** Exact-cosine rank of a (query_id, neighbor_id) candidate frame —
    * the verify step shared by the LSH variants: only candidates pay
    * the dot product, never all pairs.
    */
  private def rankCandidates(e: DataFrame, cand: DataFrame): DataFrame = {
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("vq"), col("nrm").as("nrmq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("vc"), col("nrm").as("nrmc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    cand.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("c", vecDot(col("vq"), col("vc")) / (col("nrmq") * col("nrmc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("c"), 6).as("cosine"))
  }

  /** LSH-bucketed approximate top-3: candidates share a bucket with
    * the query in ≥1 table; exact cosine ranks only candidates.
    */
  def cosineTopkLsh(s: SparkSession, dir: String): DataFrame = {
    val e = normedEmbeddings(s, dir)
    rankCandidates(e, lshCandidates(e, multiProbe = false))
  }

  /** Candidate pairs for [[cosineTopkLsh]] / the multi-probe variant
    * (exposed for SimSpec's candidate-economy assertions). Mask 0 is
    * always probed, so the multi-probe candidate set is a superset of
    * the single-probe one by construction.
    */
  private[graft] def lshCandidates(e: DataFrame, multiProbe: Boolean): DataFrame = {
    val buckets = lshBuckets(e)
    val qOwn = buckets.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val qb =
      if (!multiProbe) qOwn
      else qOwn
        .select(col("query_id"), col("tbl"),
          explode(typedLit(ProbeMasks)).as("mask"), col("bucket"))
        .select(col("query_id"), col("tbl"),
          col("bucket").bitwiseXOR(col("mask")).as("bucket"))
    qb.join(buckets.withColumnRenamed("vec_id", "neighbor_id"), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
  }

  /** Probe masks for multi-probe LSH: the query's own bucket (mask 0)
    * plus every bucket at Hamming distance 1 (flip one sign bit).
    */
  private val ProbeMasks: Seq[Long] = 0L +: (0 until BitsPerTable).map(b => 1L << b)

  /** Multi-probe LSH (Lv et al., VLDB'07 shape, ±1-plane signatures):
    * recall is raised by probing MORE BUCKETS per query — the query's
    * own bucket plus the [[BitsPerTable]] buckets that differ in one
    * sign bit — instead of building more tables. The flipped-bit
    * buckets are exactly where near-miss neighbors land (one plane
    * voted the other way), so candidate growth buys recall far more
    * cheaply than new tables: the CORPUS-side index is untouched
    * (same T·|corpus| rows — index reuse is the point at 100 TB) and
    * only the |queries|-sized probe side fans out ×(1+B). Still an
    * equi-join on (table, bucket); never all-pairs. SimSpec pins the
    * economics: candidate superset of single-probe, recall ≥
    * single-probe, candidates ≪ brute force.
    */
  def cosineTopkLshMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = normedEmbeddings(s, dir)
    rankCandidates(e, lshCandidates(e, multiProbe = true))
  }

  // ---- IVF ---------------------------------------------------------

  private[sim] val NumCentroids = 16
  private val Probes = 4

  /** The shared IVF substrate: normed corpus (zero vectors dropped),
    * per-(vector, centroid) cosine scores from a broadcast cross of
    * the [[NumCentroids]] centroid rows, and the argmin window. Every
    * IVF consumer ([[ivfAssignments]], [[cosineTopkIvf]],
    * [[RetrievalOps]]'s RAG index) derives from this one builder so
    * centroid selection and the zero-norm guard cannot drift apart.
    */
  private[sim] def ivfSubstrate(
      s: SparkSession, dir: String): (DataFrame, DataFrame,
      org.apache.spark.sql.expressions.WindowSpec) = {
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
    // Fixture artifact, documented: the fixed centroid model
    // (vec_id < 16) includes vec_id 7, which the incremental fixtures
    // also place in the "arriving batch" (doc_id % 10 == 7). The
    // maintenance identity the gate checks is unaffected — both sides
    // of the oracle use the same centroids — but strictly the settled
    // index is built against a model that has seen one batch vector.
    // A production deployment trains centroids on settled data only;
    // here the model must be a deterministic slice both engines can
    // name, and re-slicing around the batch would ripple through every
    // IVF oracle for no semantic gain.
    val cents = e.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("vcent"),
        col("nrm").as("nrmcent"))
    val simToCent = e.crossJoin(broadcast(cents))
      .withColumn("cs",
        vecDot(col("embedding"), col("vcent")) / (col("nrm") * col("nrmcent")))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cent_id"))
    (e, simToCent, wAssign)
  }

  /** Corpus → nearest-centroid assignment (the IVF inverted-list
    * structure), shared by [[cosineTopkIvf]] and the RAG index
    * composition in [[RetrievalOps]]. Centroids broadcast; the
    * assignment argmin is a per-vector window over [[NumCentroids]]
    * candidate rows.
    */
  def ivfAssignments(s: SparkSession, dir: String): DataFrame = {
    val (_, simToCent, wAssign) = ivfSubstrate(s, dir)
    simToCent
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("cent_id"))
  }

  /** IVF-style ANN: the corpus is partitioned into inverted lists by
    * nearest centroid; a query probes only the lists of its closest
    * [[Probes]] centroids. Centroid "training" is a deterministic
    * sample (vec_id < 16) so the oracle can replicate the structure —
    * a k-means refinement would drop in without changing the plan
    * shape. At scale: assignment is a broadcast join (centroids are
    * tiny), lists are shuffle-partitioned by centroid id, and a query
    * touches P/K of the corpus.
    */
  def cosineTopkIvf(s: SparkSession, dir: String): DataFrame =
    cosineTopkIvfWith(s, dir, Probes)

  /** [[cosineTopkIvf]] with an explicit probe count — the tuning
    * knob [[ivfRecallCurve]] sweeps.
    */
  private def cosineTopkIvfWith(
      s: SparkSession, dir: String, nProbes: Int): DataFrame = {
    val (e, simToCent, wAssign) = ivfSubstrate(s, dir)
    val assign = simToCent
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("cent_id"))
    ivfProbeAndRank(e, simToCent, wAssign, assign, nProbes)
  }

  /** The query side of the IVF index, shared by the one-shot build
    * and the incremental maintenance path: probe the [[Probes]]
    * nearest lists, exact-cosine only the candidates, rank per query.
    */
  private def ivfProbeAndRank(e: DataFrame, simToCent: DataFrame,
      wAssign: org.apache.spark.sql.expressions.WindowSpec,
      assign: DataFrame, nProbes: Int): DataFrame = {
    val probes = simToCent
      .filter(col("vec_id") < NQueries)
      .withColumn("prn", row_number().over(wAssign))
      .filter(col("prn") <= nProbes)
      .select(col("vec_id").as("query_id"), col("cent_id"))
    val cand = probes.join(assign.withColumnRenamed("vec_id", "neighbor_id"), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("vq"), col("nrm").as("nrmq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("vc"), col("nrm").as("nrmc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    cand.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("c", vecDot(col("vq"), col("vc")) / (col("nrmq") * col("nrmc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("c"), 6).as("cosine"))
  }

  /** Keyed memo for the settled ANN index state — the
    * [[graft.dedup.DedupOps.settledStars]] discipline applied to
    * similarity search: the inverted-list assignment of yesterday's
    * corpus is maintained state, not something to recompute per
    * ingest. One copy of the locking rules ([[graft.KeyedMemo]]);
    * ConcurrencySpec races the cold-miss path.
    */
  private val annMemo = graft.KeyedMemo.frames()

  /** Settled IVF inverted lists: nearest-centroid assignment of the
    * OLD corpus only (vec_id ≢ [[graft.dedup.DedupOps.IncBatchMod]]
    * mod 10 — the shared ingest-batch convention), memoized per
    * (session, dataset). Assignment is per-vector against the FIXED
    * broadcast centroid model, so the settled lists never change when
    * a batch arrives — exactly the property that makes IVF
    * maintenance an append, not a rebuild.
    */
  private[sim] def settledIvfAssignments(
      s: SparkSession, dir: String): DataFrame =
    annMemo("ivf_assign_settled", s, dir) {
      val (_, simToCent, wAssign) = ivfSubstrate(s, dir)
      val a = simToCent
        .filter(pmod(col("vec_id"), lit(10)) =!= graft.dedup.DedupOps.IncBatchMod)
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("cent_id"))
        .cache()
      a.count() // materialize: the memo contract for non-rename frames
      a
    }

  /** INCREMENTAL ANN maintenance — [[graft.dedup.DedupOps.dedupClustersIncremental]]'s
    * daily-ingest shape applied to [[cosineTopkIvf]]: a new embedding
    * batch (vec_id ≡ IncBatchMod mod 10) is assigned to the FIXED
    * centroid model (batch × [[NumCentroids]] broadcast — batch-sized
    * work) and appended to the memoized settled inverted lists; the
    * query side then runs unchanged over the merged lists. Because
    * assignment is per-vector against fixed centroids, settled ∪
    * batch is EXACTLY the full re-index's assignment, so the output
    * must equal [[cosineTopkIvf]] row-for-row — the registry entry
    * shares its oracle, making the gate check the maintenance
    * identity itself (the [[graft.dedup.DedupOps.dedupClustersIncremental]] precedent).
    * At 100 TB: the settled lists are the 100 TB; the per-ingest cost
    * is |batch|·K assignment scores plus the probe-bounded query —
    * the corpus is never rescanned. (A centroid-model REFRESH is the
    * orthogonal, deliberately rarer operation — re-running the
    * one-shot build — same trade every IVF store makes.)
    */
  def cosineTopkIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val (e, simToCent, wAssign) = ivfSubstrate(s, dir)
    val batchAssign = simToCent
      .filter(pmod(col("vec_id"), lit(10)) === graft.dedup.DedupOps.IncBatchMod)
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("cent_id"))
    val assign = settledIvfAssignments(s, dir).union(batchAssign)
    ivfProbeAndRank(e, simToCent, wAssign, assign, Probes)
  }

  private[sim] val normsCte =
    """n AS (
      |  SELECT * FROM (
      |    SELECT vec_id, embedding AS v,
      |      sqrt(list_sum(list_transform(embedding,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |    FROM embeddings) WHERE nrm > 0)""".stripMargin

  private[sim] val dotSql =
    """list_sum(list_transform(range(1, len(q.v) + 1),
      |      i -> CAST(q.v[i] AS DOUBLE) * CAST(c.v[i] AS DOUBLE)))""".stripMargin

  /** Per-dimension min/max int8 quantization of the embedding corpus
    * — the 4× storage shrink (float32 → int8) a 100 TB vector store
    * applies before indexing; per-dim affine scaling is the standard
    * symmetric-range scheme (q = round((v − lo)/(hi − lo)·255) − 128).
    * The scale model (64 rows of per-dim lo/hi) comes from one
    * posexplode aggregate and broadcasts back — the quantization pass
    * itself is map-shaped, so the corpus is read twice and shuffled
    * once (the K·dim model agg), at any scale. Constant dims quantize
    * to 0, matching the oracle's hi > lo guard.
    */
  def quantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val mm = e.groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    e.join(broadcast(mm), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        when(col("hi") > col("lo"),
          round((col("v") - col("lo")) / (col("hi") - col("lo")) * 255) - 128)
          .otherwise(0).cast("long").as("q"))
  }

  /** Per-dimension quantile normalization of the embedding corpus —
    * each value replaced by its within-dimension percent rank
    * ((rank − 1)/(n − 1), the rank-to-uniform map): the
    * distribution-free rescaling vector stores apply when dimensions
    * have wildly different spreads and min/max scaling
    * ([[quantizeEmbeddings]]) would let outliers crush the range.
    * One posexplode, one window per dim partition (dim count is
    * fixed, each partition holds corpus-size rows — at 100 TB the
    * rank comes from a per-dim sort within hash partitions, the same
    * per-key-window shape as every sessionize/rank op here). The
    * percent rank is an integer/integer division — identical doubles
    * in both engines.
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val w = Window.partitionBy(col("dim")).orderBy(col("v"), col("vec_id"))
    // floor-quantize to 6 decimals: floor is the one rounding both
    // engines define identically on doubles (CAST double→BIGINT
    // truncates in Spark but rounds in DuckDB — never use it here)
    e.withColumn("qn",
        floor(percent_rank().over(w) * 1000000) / lit(1000000.0))
      .select(col("vec_id"), col("dim"), col("qn"))
  }

  private lazy val cosineTopkSql =
    s"""WITH $normsCte,
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $dotSql / (q.nrm * c.nrm) AS c
       |  FROM n q JOIN n c
       |    ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, rank, round(c, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, neighbor_id) AS rank FROM s)
       |WHERE rank <= $TopK""".stripMargin

  private lazy val cosineTopkLshSql =
    s"""WITH $normsCte,
       |bk AS (
       |${(0 until NumTables).map(t =>
          s"  SELECT vec_id, v, $t AS tbl, ${bucketSql(t)} AS bucket FROM n")
          .mkString("\n  UNION ALL\n")}),
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
       |  FROM bk qb JOIN bk cb
       |    ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
       |   AND qb.vec_id < $NQueries AND cb.vec_id <> qb.vec_id),
       |s AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    $dotSql / (q.nrm * c.nrm) AS c
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.query_id
       |  JOIN n c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, rank, round(c, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, neighbor_id) AS rank FROM s)
       |WHERE rank <= 3""".stripMargin

  private lazy val cosineTopkLshMpSql =
    s"""WITH $normsCte,
       |bk AS (
       |${(0 until NumTables).map(t =>
          s"  SELECT vec_id, v, $t AS tbl, ${bucketSql(t)} AS bucket FROM n")
          .mkString("\n  UNION ALL\n")}),
       |qp AS (
       |  SELECT vec_id, tbl, xor(CAST(bucket AS BIGINT), m) AS bucket
       |  FROM bk, unnest([${ProbeMasks.mkString(", ")}]) AS mm(m)
       |  WHERE vec_id < $NQueries),
       |cand AS (
       |  SELECT DISTINCT qp.vec_id AS query_id, cb.vec_id AS neighbor_id
       |  FROM qp JOIN bk cb
       |    ON qp.tbl = cb.tbl AND qp.bucket = CAST(cb.bucket AS BIGINT)
       |   AND cb.vec_id <> qp.vec_id),
       |s AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    $dotSql / (q.nrm * c.nrm) AS c
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.query_id
       |  JOIN n c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, rank, round(c, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, neighbor_id) AS rank FROM s)
       |WHERE rank <= 3""".stripMargin

  /** Recall@3 of the LSH ANN against the exact brute-force top-3 —
    * the evaluation loop every ANN deployment runs before trusting an
    * index: per query, how many of the true top-3 neighbors the
    * approximate search returned. Composes the two existing pipelines
    * and differentially tests the COMPOSITION (both oracles are reused
    * verbatim as CTEs), so the recall numbers themselves are
    * cross-engine checked, not just eyeballed. Work is |queries|·k
    * rows on top of the underlying searches — negligible at any scale.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopk(s, dir).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val approx = cosineTopkLsh(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall",
        round(col("n_hit") / col("n_exact").cast("double"), 6))
  }

  /** [[annRecall]] for the multi-probe variant — the uplift the extra
    * probes buy is itself cross-engine checked, per query.
    */
  def annRecallMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopk(s, dir).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val approx = cosineTopkLshMultiprobe(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall",
        round(col("n_hit") / col("n_exact").cast("double"), 6))
  }

  /** Recall@3 as a function of IVF probe count — the tuning curve an
    * ANN deployment reads before fixing its probes knob (recall vs
    * fraction-of-corpus-touched is THE accuracy/cost dial of an IVF
    * index): for each probe budget in [[RecallCurveProbes]], the
    * probe-limited search re-runs and its top-3 is scored against the
    * exact brute-force top-3, aggregated to one micro-averaged recall
    * row per budget. The centroid/assignment substrate is shared
    * across budgets ([[ivfSubstrate]]); each budget adds only the
    * candidate join + re-rank over its probed lists — |queries|·k-row
    * frames at any corpus size.
    */
  private[sim] val RecallCurveProbes = Seq(1, 4, 8)

  def ivfRecallCurve(s: SparkSession, dir: String): DataFrame =
    annMemo("ivf_recall_curve", s, dir) { ivfRecallCurveBuild(s, dir) }

  /** The curve computation proper — memoized because the returned
    * 3-row frame must stay cached (its inputs are unpersisted below),
    * and re-caching an identical plan per invocation both leaks a
    * storage entry and trips CacheManager's already-cached WARN.
    */
  private def ivfRecallCurveBuild(s: SparkSession, dir: String): DataFrame = {
    // materialize the shared subtrees ONCE: Spark unions do not dedupe
    // common subplans, so without these caches every probe leg would
    // re-run the brute-force baseline and the centroid substrate
    val exact = cosineTopk(s, dir).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).cache()
    val (e, simToCent, wAssign) = ivfSubstrate(s, dir)
    val stc = simToCent
      .withColumn("prn", row_number().over(wAssign))
      .select(col("vec_id"), col("cent_id"), col("prn")).cache()
    // Materialize both shared caches BEFORE the probe legs: the final
    // union evaluates all three legs in one job, and each leg reads
    // both frames — cold, they'd be recomputed ~3× concurrently, with
    // every task shipping the full brute-force/substrate plan tree
    // (the 4–5 MiB task-binary WARNs of rounds ≤7).
    exact.count()
    stc.count()
    val assign = stc.filter(col("prn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id"))
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("vq"),
      col("nrm").as("nrmq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("vc"),
      col("nrm").as("nrmc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    val out = RecallCurveProbes.map { p =>
      val probes = stc.filter(col("prn") <= p && col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("cent_id"))
      val cand = probes.join(assign, Seq("cent_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id")).distinct()
      val approx = cand.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
        .withColumn("c", vecDot(col("vq"), col("vc")) / (col("nrmq") * col("nrmc")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(lit(p.toLong).as("probes"), col("n_exact"), col("n_hit"),
          round(col("n_hit") / col("n_exact").cast("double"), 6).as("recall"))
    }.reduce(_ union _).cache()
    out.count() // 3 rows — materialize, then release the shared inputs
    exact.unpersist()
    stc.unpersist()
    out
  }

  /** One probe-budget leg of the recall-curve oracle: probe set,
    * candidates, exact re-rank scores, top-3, and the scored metric
    * row. Shares `n`, `cents`, `simc`, `assign`, and `ex` with the
    * other legs.
    */
  private def recallLegSql(p: Int): String =
    s"""pr$p AS (
       |  SELECT vec_id AS query_id, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, cent_id) AS prn FROM simc)
       |  WHERE prn <= $p AND vec_id < $NQueries),
       |cd$p AS (
       |  SELECT DISTINCT pr$p.query_id, assign.neighbor_id
       |  FROM pr$p JOIN assign ON pr$p.cent_id = assign.cent_id
       |  WHERE assign.neighbor_id <> pr$p.query_id),
       |sc$p AS (
       |  SELECT cd$p.query_id, cd$p.neighbor_id,
       |    list_sum(list_transform(range(1, len(q.v) + 1),
       |      i -> CAST(q.v[i] AS DOUBLE) * CAST(c.v[i] AS DOUBLE)))
       |      / (q.nrm * c.nrm) AS c
       |  FROM cd$p
       |  JOIN n q ON q.vec_id = cd$p.query_id
       |  JOIN n c ON c.vec_id = cd$p.neighbor_id),
       |tp$p AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY c DESC, neighbor_id) AS rank FROM sc$p)
       |  WHERE rank <= 3),
       |m$p AS (
       |  SELECT CAST($p AS BIGINT) AS probes, COUNT(*) AS n_exact,
       |    CAST(SUM(CASE WHEN tp$p.neighbor_id IS NULL THEN 0 ELSE 1 END)
       |      AS BIGINT) AS n_hit,
       |    round(SUM(CASE WHEN tp$p.neighbor_id IS NULL THEN 0 ELSE 1 END)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS recall
       |  FROM ex LEFT JOIN tp$p
       |    ON ex.query_id = tp$p.query_id
       |   AND ex.neighbor_id = tp$p.neighbor_id)""".stripMargin

  private def ivfRecallCurveSql: String =
    s"""WITH $normsCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, v AS vcent, nrm AS nrmcent
       |  FROM n WHERE vec_id < $NumCentroids),
       |simc AS (
       |  SELECT n.vec_id, cents.cent_id,
       |    list_sum(list_transform(range(1, len(n.v) + 1),
       |      i -> CAST(n.v[i] AS DOUBLE) * CAST(cents.vcent[i] AS DOUBLE)))
       |      / (n.nrm * cents.nrmcent) AS cs
       |  FROM n, cents),
       |assign AS (
       |  SELECT vec_id AS neighbor_id, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, cent_id) AS arn FROM simc)
       |  WHERE arn = 1),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM ($cosineTopkSql)
       |  WHERE rank <= 3),
       |${RecallCurveProbes.map(recallLegSql).mkString(",\n")}
       |${RecallCurveProbes.map(p => s"SELECT * FROM m$p").mkString("\nUNION ALL ")}""".stripMargin

  // ---- Product quantization (PQ / ADC) -----------------------------

  /** PQ geometry: 64 dims → [[PqM]] subspaces of [[PqSub]] dims, each
    * quantized to one of [[PqK]] codewords → an 8-byte code per
    * vector, a 32× shrink of a float32 corpus (the FAISS IVF+PQ
    * memory model; Jégou et al. 2011). Codewords are the
    * deterministic sample vec_id < [[PqK]] — the same
    * oracle-replicable "training" device as [[cosineTopkIvf]]'s
    * centroids; a per-subspace k-means refinement
    * ([[graft.ml.ClusterOps]] has the loop) would drop in without
    * changing any plan shape.
    */
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 16

  /** Codebook = model state: PqK × 64 floats collected to the driver
    * (the k-means-centroid precedent — data never moves, the model
    * does) and re-entering every plan as LITERALS, so encoding is
    * map-only with zero joins and zero shuffles.
    */
  private def pqCodebook(s: SparkSession, dir: String): Array[Array[Double]] =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") < PqK)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).map(_._2)

  /** Encode the corpus to PQ codes: per (vector, subspace), the
    * argmin-distance codeword (first index on ties —
    * `array_position` finds the first match, mirroring the oracle's
    * `ORDER BY d2, j`). With the codebook inlined as literals this is
    * a single map pass over the corpus — the plan has no join, no
    * shuffle, no window; at 100 TB it is embarrassingly parallel and
    * emits 8 small ints per vector where the input had 64 floats.
    *
    * The per-codeword score is cc − 2·⟨sub, cw⟩, NOT the expanded
    * Σ(aᵢ−bᵢ)²: the ‖sub‖² term is constant across the argmin and
    * drops, cc folds to a plan-time literal (Scala left-fold, the
    * same ascending order as the oracle's list_sum), and the inner
    * product runs through the codegen'd [[vecDot]] over a `slice`d
    * subvector — 16 eight-float dots per subspace instead of a
    * thousand-node scalar expression tree (the naive form was 50×
    * slower: too big for whole-stage codegen, and the argmin
    * duplicated every distance). The oracle uses the identical
    * factored formula so float arithmetic matches term for term.
    */
  def pqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cb = pqCodebook(s, dir)
    // The argmin runs as a tight JVM loop in a typed flatMap, not as
    // a 128-dot Column expression feeding posexplode: that form put
    // ONE >64 KB method into Generate's consume path — past Janino's
    // limit — so the whole corpus-sized encode stage silently fell
    // back to interpreted execution (and CollapseProject re-inlines
    // any attempt to stage the trees in a Project below the explode,
    // since each alias is referenced once). The loop keeps the
    // oracle's arithmetic exactly: score = cc − 2·⟨sub,cw⟩ with both
    // sums ascending-index folds (== list_sum order), float×float
    // products widened to double, and the FIRST minimal codeword on
    // ties (strict < keeps the earliest, mirroring array_position of
    // array_min). Map-only, zero shuffle, 8 small rows out per
    // vector — the same plan shape, now without a codegen cliff.
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        (0 until PqM).iterator.map { m =>
          val off = m * PqSub
          var best = 0
          var bestScore = Double.MaxValue
          var j = 0
          while (j < PqK) {
            var sc = 0.0
            var cc = 0.0
            var i = 0
            while (i < PqSub) {
              val cw = cb(j)(off + i) // float-origin double: exact
              sc += v(off + i).toDouble * cw
              cc += cw * cw
              i += 1
            }
            val score = cc - 2.0 * sc
            if (score < bestScore) { bestScore = score; best = j }
            j += 1
          }
          (id, m.toLong, best.toLong)
        }
      }
      .toDF("vec_id", "m", "code")
  }

  /** ADC (asymmetric distance computation) top-k: queries stay
    * full-precision; per query a distance TABLE (PqM × PqK = 128
    * rounded-decimal cells) is computed against the literal codebook,
    * broadcast, and joined to the corpus CODES on (m, code) — the
    * approximate distance is the sum of 8 table lookups, never a
    * 64-dim arithmetic pass over corpus floats. Per-cell distances
    * round to 6 decimals and sum as DECIMAL(18,6) (exact,
    * order-independent — the repo-wide policy), so the ranking is
    * bit-deterministic in both engines; ranks break ties by
    * neighbor_id. Scale shape: one broadcast join + one (query,
    * neighbor) aggregate; ADC scores the whole corpus by design —
    * composition with [[cosineTopkIvf]]'s inverted lists (probe-then-
    * ADC) is the standard 100 TB pruning, and the per-query top-k
    * window here ranks only scored candidates, exactly as the brute
    * baseline does.
    */
  /** Per-query ADC distance table: PqM × PqK rounded-decimal cells
    * against the literal codebook — NQueries × 128 rows, always
    * broadcast-sized regardless of corpus scale.
    */
  private def pqDistTable(s: SparkSession, dir: String,
      cb: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.types._
    // The query set is a fixed NQueries-row frame — model state, the
    // same trade as the codebook itself (collected once, broadcast
    // back). Computing its 128 cells per query driver-side replaces
    // the giant 384-dot explode expression whose single generated
    // method crossed Janino's 64 KB limit (harmless at 10 rows, but
    // the fallback WARN would mask a real corpus-sized one). The
    // arithmetic is the oracle's factored form term for term:
    // (ss − 2·sc) + cc,
    // every sum an ascending-index fold, rounded HALF_UP to 6 dp into
    // DECIMAL(18,6) — bit-identical to the oracle.
    val qs = Tables.embeddings(s, dir)
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rows = for {
      (q, v) <- qs.toSeq
      m <- 0 until PqM
      j <- 0 until PqK
    } yield {
      val off = m * PqSub
      var ss = 0.0
      var sc = 0.0
      var cc = 0.0
      var i = 0
      while (i < PqSub) {
        val x = v(off + i).toDouble
        val cw = cb(j)(off + i)
        ss += x * x
        sc += x * cw
        cc += cw * cw
        i += 1
      }
      val d2 = (ss - 2.0 * sc) + cc
      org.apache.spark.sql.Row(q, m.toLong, j.toLong,
        java.math.BigDecimal.valueOf(d2)
          .setScale(6, java.math.RoundingMode.HALF_UP))
    }
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("m", LongType, nullable = false),
      StructField("code", LongType, nullable = false),
      StructField("d2", DecimalType(18, 6), nullable = false)))
    s.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  def pqTopk(s: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebook(s, dir)
    val codes = pqCodes(s, dir).withColumnRenamed("vec_id", "neighbor_id")
    val dt = pqDistTable(s, dir, cb)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    codes.join(broadcast(dt), Seq("m", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc").cast("double").as("adc_dist"))
  }

  /** IVF-pruned ADC — the actual 100 TB search path, composing the
    * two structures: the IVF probe bounds WHICH vectors are scored
    * (P/K of the corpus instead of all of it) and PQ bounds WHAT a
    * score costs (8 table lookups on an 8-byte code instead of 64-dim
    * float arithmetic). Same candidate generation as
    * [[cosineTopkIvf]], same broadcast distance tables as [[pqTopk]];
    * the only corpus-sized operations left are the map-only encode
    * and the candidate equi-join on centroid id.
    */
  def pqTopkIvf(s: SparkSession, dir: String): DataFrame = {
    val (_, simToCent, wAssign) = ivfSubstrate(s, dir)
    val assign = simToCent
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id"))
    val probes = simToCent
      .filter(col("vec_id") < NQueries)
      .withColumn("prn", row_number().over(wAssign))
      .filter(col("prn") <= Probes)
      .select(col("vec_id").as("query_id"), col("cent_id"))
    val cand = probes.join(assign, Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val cb = pqCodebook(s, dir)
    val codes = pqCodes(s, dir).withColumnRenamed("vec_id", "neighbor_id")
    val dt = pqDistTable(s, dir, cb)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    cand.join(codes, Seq("neighbor_id"))
      .join(broadcast(dt), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc").cast("double").as("adc_dist"))
  }

  /** Oracle building block: squared L2 between subspace `m` (0-based
    * SQL expr `mm.m`) of `vecExpr` and codeword list `cb.cw`, in the
    * same factored (ss − 2·sc) + cc form and index-ascending
    * summation as [[pqDistTable]]'s driver-side cells.
    */
  private def pqD2Sql(vecExpr: String): String =
    s"""(list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> CAST($vecExpr[mm.m * $PqSub + i] AS DOUBLE)
       |         * CAST($vecExpr[mm.m * $PqSub + i] AS DOUBLE)))
       |    - 2 * list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> CAST($vecExpr[mm.m * $PqSub + i] AS DOUBLE)
       |         * CAST(cb.cw[mm.m * $PqSub + i] AS DOUBLE))))
       |    + list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> CAST(cb.cw[mm.m * $PqSub + i] AS DOUBLE)
       |         * CAST(cb.cw[mm.m * $PqSub + i] AS DOUBLE)))""".stripMargin

  private val pqCodesCtes =
    s"""cb AS (
       |  SELECT vec_id AS j, embedding AS cw FROM embeddings
       |  WHERE vec_id < $PqK),
       |sub AS (
       |  SELECT e.vec_id, mm.m, cb.j,
       |    list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> CAST(cb.cw[mm.m * $PqSub + i] AS DOUBLE)
       |         * CAST(cb.cw[mm.m * $PqSub + i] AS DOUBLE)))
       |    - 2 * list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> CAST(e.embedding[mm.m * $PqSub + i] AS DOUBLE)
       |         * CAST(cb.cw[mm.m * $PqSub + i] AS DOUBLE))) AS d2
       |  FROM embeddings e, cb, unnest(range(0, $PqM)) AS mm(m)),
       |codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY d2, j) AS rn FROM sub)
       |  WHERE rn = 1)""".stripMargin

  private val pqCodesSql =
    s"""WITH $pqCodesCtes
       |SELECT vec_id, m, code FROM codes""".stripMargin

  private val pqQdtCte =
    s"""qdt AS (
       |  SELECT q.vec_id AS query_id, mm.m, cb.j AS code,
       |    CAST(round(${pqD2Sql("q.embedding")}, 6) AS DECIMAL(18,6)) AS d2
       |  FROM embeddings q, cb, unnest(range(0, $PqM)) AS mm(m)
       |  WHERE q.vec_id < $NQueries)""".stripMargin

  private val pqTopkSql =
    s"""WITH $pqCodesCtes,
       |$pqQdtCte,
       |adc AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, SUM(qdt.d2) AS adc
       |  FROM codes c JOIN qdt ON c.m = qdt.m AND c.code = qdt.code
       |  WHERE c.vec_id != qdt.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) AS BIGINT) AS rank,
       |  CAST(adc AS DOUBLE) AS adc_dist
       |FROM adc QUALIFY rank <= $TopK""".stripMargin

  /** IVF candidate-generation CTE chain (cents → simc → assign →
    * probes → cand), shared verbatim by the cosine-IVF and PQ-IVF
    * oracles; expects [[normsCte]]'s `n` in scope.
    */
  private val ivfCandCtes =
    s"""cents AS (
       |  SELECT vec_id AS cent_id, v AS vcent, nrm AS nrmcent
       |  FROM n WHERE vec_id < $NumCentroids),
       |simc AS (
       |  SELECT n.vec_id, cents.cent_id,
       |    list_sum(list_transform(range(1, len(n.v) + 1),
       |      i -> CAST(n.v[i] AS DOUBLE) * CAST(cents.vcent[i] AS DOUBLE)))
       |      / (n.nrm * cents.nrmcent) AS cs
       |  FROM n, cents),
       |assign AS (
       |  SELECT vec_id AS neighbor_id, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, cent_id) AS arn FROM simc)
       |  WHERE arn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, cent_id) AS prn FROM simc)
       |  WHERE prn <= $Probes AND vec_id < $NQueries),
       |cand AS (
       |  SELECT DISTINCT probes.query_id, assign.neighbor_id
       |  FROM probes JOIN assign ON probes.cent_id = assign.cent_id
       |  WHERE assign.neighbor_id <> probes.query_id)""".stripMargin

  /** Oracle for the IVF top-k — shared by `cosine_topk_ivf` and its
    * incremental-maintenance twin (same result by construction).
    */
  private val cosineTopkIvfSql =
    s"""WITH $normsCte,
       |$ivfCandCtes,
       |s AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    $dotSql / (q.nrm * c.nrm) AS c
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.query_id
       |  JOIN n c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, rank, round(c, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, neighbor_id) AS rank FROM s)
       |WHERE rank <= 3""".stripMargin

  private val pqTopkIvfSql =
    s"""WITH $normsCte,
       |$ivfCandCtes,
       |$pqCodesCtes,
       |$pqQdtCte,
       |adc AS (
       |  SELECT cand.query_id, cand.neighbor_id, SUM(qdt.d2) AS adc
       |  FROM cand
       |  JOIN codes c ON c.vec_id = cand.neighbor_id
       |  JOIN qdt ON qdt.query_id = cand.query_id
       |    AND qdt.m = c.m AND qdt.code = c.code
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) AS BIGINT) AS rank,
       |  CAST(adc AS DOUBLE) AS adc_dist
       |FROM adc QUALIFY rank <= 3""".stripMargin

  // ---- random projection -------------------------------------------

  /** Johnson–Lindenstrauss target dimension. 16 keeps the scale factor
    * exact: 1/√16 = 0.25, so both engines divide by the same 4.0.
    */
  private val ProjDim = 16

  /** Deterministic ±1 projection planes (Achlioptas'01 database-
    * friendly JL), seeded apart from the LSH planes and shared
    * verbatim with the oracle SQL.
    */
  private val projPlanes: Array[Array[Int]] = {
    val rnd = new scala.util.Random(13)
    Array.fill(ProjDim, Dim)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** Random-projection dimensionality reduction y = Pv/√K with ±1
    * planes — the JL compression step run before clustering or ANN
    * indexing when the full embedding width is too expensive to
    * shuffle. The planes ride as literals (like [[cosineTopkLsh]]'s
    * and kmeans' centroids), so the operator is a map-only scan —
    * zero shuffle, zero collect, codegen'd [[vecDot]] per output
    * dimension — and distances are preserved in expectation
    * (E‖y‖² = ‖v‖²; the spec bounds the realized distortion).
    */
  def projectEmbeddings(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val comps = (0 until ProjDim).map { k =>
      round(planeDot(col("embedding"), projPlanes(k)) / lit(4.0), 6).as(s"p$k")
    }
    Tables.embeddings(s, dir).select(col("vec_id") +: comps: _*)
  }

  private val projectSql = {
    val comps = (0 until ProjDim).map { k =>
      val plane = projPlanes(k).mkString("[", ",", "]")
      s"""round(list_sum(list_transform(range(1, len(embedding) + 1),
         |    i -> CAST(embedding[i] AS DOUBLE) * ($plane[i]))) / 4.0, 6)
         |    AS p$k""".stripMargin
    }
    s"SELECT vec_id,\n${comps.mkString(",\n")}\nFROM embeddings"
  }

  // ---- Gram matrix -------------------------------------------------

  /** HALF_UP 6-dp rounding to integer micro-units, bit-identical to
    * `BigDecimal.valueOf(d).setScale(6, HALF_UP).unscaledValue()` but
    * ~50× cheaper on the fast path (no String/BigInteger allocation
    * per cell — the r10 profile showed the Gram inner loop spending
    * most of its time here, §1.2-order "per-task work").
    *
    * Correctness argument: valueOf goes through Double.toString's
    * shortest decimal, which differs from d by < 0.5 ulp; the only
    * place that difference (plus the d·10⁶ multiply's own < 0.5 ulp)
    * can flip the rounded value is when |d|·10⁶ lands within the
    * combined error of a half-integer boundary (round-half-up's sole
    * discontinuity — straddling a plain integer does not change
    * floor(x+0.5)). Both errors are ≤ |y|·1.1e-16, so outside a
    * |y|·1e-12 + 1e-9 guard band the double path provably agrees and
    * is taken; inside it (≈1e-9 of uniformly-distributed inputs) we
    * fall back to the exact BigDecimal form. RoundMicrosSpec drives
    * both paths over 10⁶ products plus adversarial .5-boundary values.
    */
  private[graft] def roundMicrosHalfUp(d: Double): Long = {
    val y = d * 1e6
    val a = math.abs(y)
    val f = a - math.floor(a)
    val tol = 1e-9 + a * 1e-12
    if (math.abs(f - 0.5) > tol && a < 4.0e18)
      (if (d < 0) -math.floor(a + 0.5) else math.floor(a + 0.5)).toLong
    else
      java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
  }

  /** Distributed Gram matrix G = Σ_v v·vᵀ over the embedding corpus —
    * the d×d statistic behind PCA whitening, covariance outlier
    * models, and linear-probe fitting. The key scale property: each
    * vector emits its d(d+1)/2 upper-triangle products in a typed
    * flatMap (map-only, no join — a self-join of the exploded frame
    * would shuffle |corpus|·d rows), and the partial aggregate
    * collapses every partition to ≤ d(d+1)/2 groups BEFORE the one
    * shuffle, so the exchanged data is O(cells × partitions) no
    * matter the corpus size. The result frame is model-sized (2,080
    * rows at d = 64): the eigen step on top (power iteration — see
    * SimilaritySpec) is driver-side on the collected Gram, the
    * kmeansUpdate trade. Products are rounded to 6 dp and summed
    * through DECIMAL(18,6) — exact, order-free, engine-identical.
    */
  def embeddingGram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Per-partition accumulation instead of emitting |corpus|·d(d+1)/2
    // rows into a hash aggregate: each task folds its vectors into ONE
    // local d(d+1)/2 cell array and emits only that, so the aggregate
    // input is O(cells × partitions) regardless of corpus size (the
    // row-at-a-time form spent ~3 µs/row on tuple + decimal plumbing —
    // 200 s of task time at sf0.1's 66M cell terms). Terms are held in
    // exact micro-units (the 6-dp rounding grid): round-HALF_UP via
    // [[roundMicrosHalfUp]] — bit-identical to Spark's round() and the
    // oracle's — then summed as longs (|Σ| < 2^53, exact), so the
    // final division by 10⁶ reproduces the DECIMAL(18,6) sum to the
    // last bit.
    val cells = Tables.embeddings(s, dir)
      .select(col("embedding")).as[Seq[Float]]
      .mapPartitions { it =>
        var acc: Array[Long] = null
        var d = 0
        it.foreach { v =>
          val a = v.toArray
          if (acc == null) { d = a.length; acc = new Array[Long](d * (d + 1) / 2) }
          var i = 0
          var k = 0
          while (i < d) {
            val ai = a(i).toDouble
            var j = i
            while (j < d) {
              acc(k) += roundMicrosHalfUp(ai * a(j).toDouble)
              k += 1; j += 1
            }
            i += 1
          }
        }
        if (acc == null) Iterator.empty
        else {
          val out = new Array[(Long, Long, Long)](acc.length)
          var i = 0
          var k = 0
          while (i < d) {
            var j = i
            while (j < d) { out(k) = (i.toLong, j.toLong, acc(k)); k += 1; j += 1 }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("d1", "d2", "micros")
    cells.groupBy(col("d1"), col("d2"))
      .agg((sum(col("micros")).cast("double") / 1e6).as("g"))
  }

  private val embeddingGramSql =
    """SELECT i - 1 AS d1, j - 1 AS d2,
      |  CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE)
      |    * CAST(embedding[j] AS DOUBLE), 6) AS DECIMAL(18,6)))
      |    AS DOUBLE) AS g
      |FROM embeddings,
      |  unnest(range(1, len(embedding) + 1)) AS u(i),
      |  unnest(range(1, len(embedding) + 1)) AS w(j)
      |WHERE j >= i
      |GROUP BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(
    Q("embedding_gram", embeddingGramSql)(embeddingGram),
    Q("project_embeddings", projectSql)(projectEmbeddings),
    Q("pq_codes", pqCodesSql)(pqCodes),
    Q("pq_topk", pqTopkSql)(pqTopk),
    Q("quantize_embeddings",
      """WITH e AS (
        |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
        |mm AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM e GROUP BY 1)
        |SELECT vec_id, e.dim,
        |  CASE WHEN hi > lo
        |    THEN CAST(round((v - lo) / (hi - lo) * 255) - 128 AS BIGINT)
        |    ELSE 0 END AS q
        |FROM e JOIN mm ON e.dim = mm.dim""".stripMargin)(quantizeEmbeddings),
    Q("quantile_normalize",
      """SELECT vec_id, dim,
        |  floor(percent_rank() OVER (PARTITION BY dim
        |    ORDER BY v, vec_id) * 1000000) / 1000000.0 AS qn
        |FROM (
        |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i))""".stripMargin)(
      quantileNormalize),
    Q("cosine_topk", cosineTopkSql)(cosineTopk),
    Q("ivf_recall_curve", ivfRecallCurveSql)(ivfRecallCurve),
    Q("cosine_topk_lsh", cosineTopkLshSql)(cosineTopkLsh),
    Q("ann_recall",
      s"""WITH ex AS (
         |  SELECT query_id, neighbor_id FROM ($cosineTopkSql)
         |  WHERE rank <= 3),
         |ap AS (SELECT query_id, neighbor_id FROM ($cosineTopkLshSql))
         |SELECT ex.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
         |  round(SUM(CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS recall
         |FROM ex LEFT JOIN ap
         |  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
         |GROUP BY ex.query_id""".stripMargin)(annRecall),
    Q("cosine_topk_lsh_mp", cosineTopkLshMpSql)(cosineTopkLshMultiprobe),
    Q("ann_recall_mp",
      s"""WITH ex AS (
         |  SELECT query_id, neighbor_id FROM ($cosineTopkSql)
         |  WHERE rank <= 3),
         |ap AS (SELECT query_id, neighbor_id FROM ($cosineTopkLshMpSql))
         |SELECT ex.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
         |  round(SUM(CASE WHEN ap.neighbor_id IS NULL THEN 0 ELSE 1 END)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS recall
         |FROM ex LEFT JOIN ap
         |  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
         |GROUP BY ex.query_id""".stripMargin)(annRecallMultiprobe),
    Q("cosine_topk_ivf", cosineTopkIvfSql)(cosineTopkIvf),
    // maintenance path: must equal the one-shot build EXACTLY (per-
    // vector assignment against fixed centroids), so it shares the
    // oracle — the gate checks the append-only index identity itself
    Q("cosine_topk_ivf_incr", cosineTopkIvfSql)(cosineTopkIvfIncremental),
    Q("pq_topk_ivf", pqTopkIvfSql)(pqTopkIvf),
  )
}
