package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.text.TextOps.tokensSql

/** Deduplication operators for a large-scale training-data pipeline —
  * the capability the reference's MapReduce contract would be used for
  * at corpus scale (its jobs are the word-count / inverted-index shape,
  * reference word_count.py:44-56; dedup is the same explode→group
  * pattern over content keys).
  *
  * Scale design, per operator:
  *  - exact dedup: one hash-groupBy — a single shuffle on the content
  *    hash; no window over a global sort.
  *  - near-dup: MinHash signatures + banded LSH so candidate
  *    generation is a bucket equi-join (shuffle on band key), never an
  *    all-pairs product; exact Jaccard verification touches only
  *    candidates. This is the 100 TB path. The exact shingle-join
  *    variant (`dedup_ngram_jaccard`) is the correctness reference and
  *    is itself an equi-join on shingle, not a cross join.
  *  - embedding near-dup: brute-force here (correctness baseline);
  *    the bucketed scale path is `graft.sim.SimOps.cosineTopkLsh`.
  */
object DedupOps {

  import graft.text.TextOps.tokens

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup by content hash: one representative (min doc_id) per
    * distinct text plus the duplicate count. Aggregation, not a
    * row_number window — partial agg keeps it one shuffle at any scale.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(md5(col("text").cast("binary")).as("content_hash"), col("doc_id"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Keep-latest dedup over an event stream: one row per
    * (user_id, event_type), the one with the greatest (ts, event_id).
    * The window ranks within each key partition — Spark sorts within
    * hash partitions only, no global sort.
    */
  def dedupKeepLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
  }

  /** Distinct word-3-gram shingle set per document (the near-dup
    * content key). Guarded: <3 tokens → empty set. Column-expression
    * form for per-row use (specs, ad-hoc); the query pipelines use
    * [[shingleRows]] — Spark's higher-order functions are
    * CodegenFallback and interpret one lambda call per element, which
    * made this expression the dominant cost of both near-dup queries.
    */
  def shingleSet(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - 2), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** JVM-side shingling (same output as exploding [[shingleSet]]). */
  def shingleStrings(text: String): Seq[String] = {
    val toks = graft.mr.MrJobs.tokenize(text)
    if (toks.lengthCompare(3) < 0) Nil
    else toks.sliding(3).map(_.mkString(" ")).toVector.distinct
  }

  /** Keyed substrate memo — the verifiedPairs discipline extended one
    * level down, to the frames every dedup stage rebuilds from the
    * same deterministic input: the (doc, shingle) bag and the SimHash
    * fingerprints. Five registry queries consume the shingle bag and
    * three the fingerprints; without the memo each re-runs the
    * tokenize+shingle flatMap (the dominant cost of the dedup sweep).
    * The bag is corpus×shingles-sized — far bigger than the model
    * frames the other memos pin — so it persists MEMORY_AND_DISK
    * (spills, never OOMs) and exists for multi-query sweeps over one
    * dataset; a single 100 TB query pays exactly one pass either way.
    */
  private val substrate = graft.KeyedMemo.frames()

  /** One row per (document, distinct shingle) with the doc's shingle
    * count — a typed flatMap: a single JVM pass per document, emitted
    * once, memoized per (session, dataset), and reused by the exact
    * joins and the prefix family's rarity ranking.
    */
  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    substrate("shingles", s, dir) {
      import s.implicits._
      val bag = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val sh = shingleStrings(text)
          sh.map(x => (id, sh.length, x))
        }
        .toDF("doc_id", "n_sh", "shingle")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Materialize NOW: the first consumer is usually a self-join whose
      // independent map stages would otherwise cold-compute the same
      // blocks concurrently — the flatMap runs ~3× and BlockManager
      // logs "already exists" per duplicate. One count() job runs it once.
      bag.count()
      bag
    }

  /** Document-frequency cap shared by the exact pair joins: every
    * shingle key with df > [[MaxShingleDf]] is dropped BEFORE the
    * self-join. A single viral shingle (a boilerplate sentence, a
    * license header) appearing in d documents contributes d·(d−1)/2
    * candidate pairs — quadratic in ONE partition of the equi-join —
    * so an uncapped exact join melts at corpus scale no matter how
    * the keys hash. Capping bounds every shingle's fan-out at
    * cap²/2, and drops only keys that carry no near-dup signal
    * (a shingle shared by thousands of documents identifies none of
    * them). df comes from one partial+final count on the SAME key the
    * join shuffles on (the exchange is reusable), and the hot list is
    * heavy-hitters-small by construction — it rides a broadcast
    * anti-join, so the shingle bag never reshuffles for the gate.
    * The cap is 40× the sf0.1 fixture's max df (25), so fixture
    * results — and the DuckDB oracles — are unchanged.
    */
  val MaxShingleDf = 1000L

  private[dedup] def dfCapped(sh: DataFrame, maxDf: Long): DataFrame = {
    val hot = sh.groupBy(col("sh_h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("sh_h"))
    sh.join(broadcast(hot), Seq("sh_h"), "left_anti")
  }

  /** Exact pairwise n-gram Jaccard ≥ 0.8 via an inverted shingle join:
    * explode distinct shingles, equi-join on shingle (doc_a < doc_b),
    * count shared shingles, J = |∩| / (|A|+|B|−|∩|). Shuffles on the
    * shingle key, with hot shingles dropped by [[dfCapped]] so no
    * single key can go quadratic (the MinHash variant below remains
    * the preferred 100 TB path; this is the bounded exact baseline).
    * The per-doc sizes na/nb count the FULL shingle set (capping
    * prunes candidate keys, not the denominator), so J is exact
    * whenever no shared shingle was hot — always true on the fixture.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // join key is the 8-byte shingle hash, not the ~20-char string:
    // the (doc, shingle) bag is the largest shuffle in the query and
    // shrinks ~3× hashed. Collisions (~n²/2⁶⁵) would be deterministic
    // but are vanishingly improbable at any realistic shingle count.
    val sh = dfCapped(shingleRows(s, dir)
      .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("sh_h")),
      MaxShingleDf)
    val a = sh.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("sh_h"))
    val b = sh.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"), col("sh_h"))
    jaccardAtLeast(a.join(b, Seq("sh_h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter")), 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Keeps the rows whose Jaccard J = inter / (na + nb − inter) ≥ t,
    * from the intersection size `inter` and the two set sizes. Adds
    * the unrounded J as `j` (the histogram buckets it raw) and J
    * rounded to the oracles' 6 places as `jaccard`. The exact shingle
    * join counts `inter`; every set-based path takes it from
    * [[verifyJaccard]].
    */
  private def jaccardAtLeast(rows: DataFrame, t: Double): DataFrame =
    rows.withColumn("j", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("j") >= t)
      .withColumn("jaccard", round(col("j"), 6))

  /** The one exact-Jaccard verifier of candidate pairs. Each side's
    * hashed shingle set is looked up in its OWN source — doc_a in
    * `setsA`, doc_b in `setsB`, both (doc_id, hs, n_sh) — so a caller
    * whose two sides live in differently partitioned frames never has
    * to union them. Returns the joined rows that pass, with `j` and
    * `jaccard` added (see [[jaccardAtLeast]]); callers project.
    */
  private[dedup] def verifyJaccard(cand: DataFrame, setsA: DataFrame,
      setsB: DataFrame, t: Double): DataFrame = {
    val a = setsA.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
      col("n_sh").as("na"))
    val b = setsB.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
      col("n_sh").as("nb"))
    jaccardAtLeast(cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ha"), col("hb")))), t)
  }

  /** Exact Jaccard ≥ 0.8 via PREFIX FILTERING (the AllPairs/PPJoin
    * family, Bayardo et al. WWW'07; Chaudhuri et al. SSJoin) — the
    * exact-dedup SCALE path that needs neither a probabilistic sketch
    * nor [[dfCapped]]'s hot-key drop. Order every document's shingles
    * by GLOBAL rarity (df ASC, hash ASC — one total order corpus-wide)
    * and emit only the first |A| − ⌈t·|A|⌉ + 1 of each as join keys:
    * if two docs share NO prefix key, their intersection fits inside
    * one doc's suffix, |A∩B| ≤ ⌈t|A|⌉ − 1 < t·|A| ≤ t·|A∪B|, so
    * J < t — every qualifying pair is provably kept. At t = 0.8 the
    * prefix is ~20% of each doc's shingles, and because rarest-first
    * ordering puts high-df (boilerplate) shingles LAST, prefixes are
    * rare keys by construction — candidate fan-out per key is small
    * without dropping anything, where the df-capped baseline must
    * discard hot keys to stay bounded. Candidates are then verified
    * exactly against the full hashed shingle sets ([[verifyJaccard]],
    * as in [[minhashNeardup]]). Same output contract and
    * the SAME oracle as [[ngramJaccard]] — the differential gate
    * checks the completeness theorem itself. The result sets are
    * identical at fixture scale, where no shared shingle exceeds
    * [[MaxShingleDf]]; at corpus scale the df-capped baseline DROPS
    * hot keys and can miss pairs this complete filter keeps, which is
    * precisely why this is the exact-dedup scale path.
    * PrefixFilterSpec checks the candidate economy and threshold
    * boundary cases.
    */
  def prefixFilterJaccard(s: SparkSession, dir: String): DataFrame =
    prefixFilterJaccardAt(s, dir, 4, 5)

  /** Per-doc shingles ranked by the corpus-wide rarity order (df ASC,
    * hash ASC) — the shared substrate of the prefix-filter family
    * ([[prefixFilterJaccard]], [[ppjoinJaccard]],
    * [[containmentPrefixFilter]]). The rank window is per-doc, bounded
    * by the doc's own shingle count.
    */
  private def rarityRanked(s: SparkSession, dir: String): DataFrame =
    // r11: memoized under the same substrate discipline as the shingle
    // bag it derives from. Six registry queries (prefix, ppjoin, both
    // containment rungs, the histogram, plus the fuzz sweeps) each
    // rebuilt the df-count join + per-doc rank window from the bag —
    // the dominant repeated work of the dedup sweep after the bag
    // itself was memoized in round 4. The ranked frame is the bag
    // minus the shingle STRINGS (8-byte hashes + 3 ints), so it pins
    // LESS storage than the bag that every consumer would otherwise
    // re-scan; MEMORY_AND_DISK like the bag, one pass per dataset.
    substrate("rarity_ranked", s, dir) {
      val sh = shingleRows(s, dir)
        .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("sh_h"))
      val dfCount = sh.groupBy(col("sh_h")).agg(count(lit(1)).as("df"))
      val ranked = sh.join(dfCount, Seq("sh_h"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh_h"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ranked.count() // materialize once; self-join consumers would
      // otherwise cold-compute the same blocks concurrently
      ranked
    }

  /** AllPairs candidate generation: prefix-only self-join, one row per
    * (doc_a < doc_b) pair. Exposed so PrefixFilterSpec can compare
    * candidate economies across the filter ladder.
    */
  private[graft] def prefixFilterCandidates(
      s: SparkSession, dir: String): DataFrame =
    prefixFilterCandidatesAt(s, dir, 4, 5)

  /** [[prefixFilterCandidates]] at threshold t = p/q — the rational
    * form keeps the prefix-length ceiling exact at ANY threshold
    * (⌈p·n/q⌉ = (p·n + q − 1) div q), which is what DedupFuzzSpec
    * sweeps: the completeness theorem is threshold-generic, so the
    * property must hold at every sampled t, not only the registered
    * 0.8. The canonical entry point delegates with (4, 5).
    */
  private[graft] def prefixFilterCandidatesAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame = {
    // prefix length |A| − ⌈t·|A|⌉ + 1, in integer arithmetic
    val prefix = rarityRanked(s, dir)
      .filter(col("rnk") <=
        col("n_sh") - expr(s"($p * n_sh + ${q - 1}) div $q") + 1)
      .select(col("doc_id"), col("sh_h"))
    prefix.toDF("doc_a", "sh_h")
      .join(prefix.toDF("doc_b", "sh_h"), Seq("sh_h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Per-doc full hashed shingle sets (doc_id, hs, n_sh) for exact
    * verification: the corpus's [[minhashSketch]], so the sets come
    * from one document-local typed pass with no shuffle. Memoized
    * under the substrate discipline — five registry queries (prefix,
    * ppjoin, both containment rungs, the histogram) and
    * [[minhashNeardup]] verify against the same sets — but with
    * SIZE-AWARE ADMISSION: pinning is only free while the frame is
    * small next to the heap. Measured at the 100×-docs decade in the
    * 8 GiB local JVM, the extra ~350 MB pin squeezed execution memory
    * enough that the prefix family's largest verify join spilled
    * (dedup_prefix_filter 21.2→37.2 s) while every smaller decade won
    * (sf0.1 −0.2 s × 5 queries; 10×-docs prefix 3.64→2.76 s). The
    * admission bound — estimated cells × 8 B ≤ 2% of max heap — keeps
    * the memo at the decades where it pays; past them every call
    * reads the same stateless sketch, whose re-runs cost one pass over
    * the documents each.
    */
  private val admission = graft.KeyedMemo.values[Boolean]()

  private[dedup] def hashedSets(s: SparkSession, dir: String): DataFrame = {
    lazy val sketch = corpusSketch(s, dir)
    val admit = admission("sets_admission", s, dir) {
      // cells = Σ n_sh, one (doc, shingle) per cell
      val cells = sketch.agg(coalesce(sum(col("n_sh")), lit(0L))).head().getLong(0)
      cells * 8L * 50 <= Runtime.getRuntime.maxMemory
    }
    if (!admit) sketch
    else substrate("hashed_sets", s, dir) {
      val sets = sketch
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sets.count() // materialize once (cold-race discipline of the family)
      sets
    }
  }

  /** Fuzz-sweep entry points: the full filter-then-verify pipelines at
    * an arbitrary rational threshold t = p/q. DedupFuzzSpec compares
    * them against an independent in-JVM brute-force ground truth at
    * every sampled threshold — the completeness theorems are
    * threshold-generic and so must the code be. (The double-valued
    * verification filter is exact here: |∩|/|∪| is a rational with a
    * denominator ≤ a few thousand, so it either equals p/q — where
    * both sides round to the same double — or differs from it by far
    * more than double epsilon.)
    */
  private[graft] def prefixFilterJaccardAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame = {
    val sets = hashedSets(s, dir)
    verifyJaccard(prefixFilterCandidatesAt(s, dir, p, q), sets, sets,
      p.toDouble / q).select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private[graft] def ppjoinJaccardAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame = {
    val sets = hashedSets(s, dir)
    verifyJaccard(ppjoinCandidatesAt(s, dir, p, q), sets, sets,
      p.toDouble / q).select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[prefixFilterJaccard]] plus PPJoin's LENGTH and POSITIONAL
    * filters (Xiao et al., WWW'08) — the next rung on the AllPairs
    * ladder: same complete candidate space, strictly more pruning
    * before the expensive full-set verification.
    *
    *  - Length filter: J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|),
    *    and |A∩B| ≤ min(|A|,|B|), so min ≥ t·max — at t = 4/5 the
    *    integer form is 5·min(na,nb) ≥ 4·max(na,nb). Applied on the
    *    prefix join itself (both sides carry their set size), so
    *    length-incompatible pairs never reach the pair aggregation.
    *  - Positional filter: for a candidate pair take its FIRST shared
    *    prefix key in the global rarity order — positions (i, j) in
    *    A's and B's rank orders. Any common key ordered before it
    *    would sit at smaller ranks in BOTH prefixes (ranks restrict
    *    one global order) and would itself be an earlier shared
    *    prefix match, so no common key precedes it:
    *    |A∩B| ≤ 1 + min(na − i, nb − j). J ≥ t needs
    *    |A∩B| ≥ ⌈t/(1+t)·(na+nb)⌉ (= ⌈4(na+nb)/9⌉ at t = 4/5), so
    *    pairs whose positional bound falls short are pruned with NO
    *    set lookup. This is the standard batch/set-join adaptation of
    *    PPJoin's running positional filter: using only the first
    *    shared key keeps completeness (the in-order accumulation of
    *    the original is inherently sequential) while pruning the
    *    long-tail candidates whose only shared rare key sits deep in
    *    one doc's suffix.
    *
    * Same oracle as [[ngramJaccard]]/[[prefixFilterJaccard]] — the
    * gate checks that the extra filters lose nothing; PrefixFilterSpec
    * asserts the candidate set is a subset of the plain prefix
    * filter's (the economy that justifies the rung).
    */
  def ppjoinJaccard(s: SparkSession, dir: String): DataFrame =
    ppjoinJaccardAt(s, dir, 4, 5)

  private[graft] def ppjoinCandidates(
      s: SparkSession, dir: String): DataFrame =
    ppjoinCandidatesAt(s, dir, 4, 5)

  /** [[ppjoinCandidates]] at threshold t = p/q (see
    * [[prefixFilterCandidatesAt]]): length filter q·min ≥ p·max and
    * positional overlap requirement ⌈t/(1+t)·(na+nb)⌉ =
    * (p·(na+nb) + p+q−1) div (p+q), both exact at any rational t.
    */
  private[graft] def ppjoinCandidatesAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame = {
    val pr = rarityRanked(s, dir)
      .filter(col("rnk") <=
        col("n_sh") - expr(s"($p * n_sh + ${q - 1}) div $q") + 1)
    val a = pr.select(col("doc_id").as("doc_a"), col("n_sh").as("na"),
      col("rnk").as("ra"), col("sh_h"))
    val b = pr.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"),
      col("rnk").as("rb"), col("sh_h"))
    a.join(b, Seq("sh_h"))
      .filter(col("doc_a") < col("doc_b"))
      // length filter before the pair aggregation
      .filter(lit(q) * least(col("na"), col("nb")) >=
        lit(p) * greatest(col("na"), col("nb")))
      // first shared prefix key = lexicographic min of (ra, rb): both
      // rank orders restrict the same global order, so the key with
      // the smallest ra also has the smallest rb among shared keys
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(min(struct(col("ra"), col("rb"))).as("f"))
      .filter(lit(1) + least(col("na") - col("f.ra"), col("nb") - col("f.rb"))
        >= expr(s"($p * (na + nb) + ${p + q - 1}) div ${p + q}"))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Directional shingle containment C(A→B) = |A∩B| / |A| ≥ 0.9 — the
    * doc-inside-doc signal symmetric Jaccard misses: a short document
    * quoted whole inside a long one has high containment but low
    * Jaccard (the union is dominated by the long doc). Same inverted
    * shingle equi-join as [[ngramJaccard]] (one shuffle on 8-byte
    * shingle hashes, never all-pairs); the output is directional, so a
    * planted copy appears as both (A→B) and (B→A) only when the two
    * docs are near-identical in BOTH directions. Hot shingles are
    * dropped by [[dfCapped]] before the join (same rationale as
    * [[ngramJaccard]]: bounded fan-out per key, no signal lost).
    */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = dfCapped(shingleRows(s, dir)
      .select(col("doc_id"), col("n_sh"), xxhash64(col("shingle")).as("sh_h")),
      MaxShingleDf)
    val a = sh.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("sh_h"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh_h"))
    a.join(b, Seq("sh_h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") / col("na") >= 0.9)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / col("na"), 6).as("containment"))
  }

  /** Recursive-CTE transitive closure over the verified pairs — the
    * component oracle shared by `dedup_clusters` (min-label fixpoint)
    * and `dedup_clusters_star` (star contraction): two different
    * distributed algorithms, one ground truth.
    */
  private lazy val clustersOracle =
    s"""WITH RECURSIVE pairs AS (
       |$jaccardOracle),
       |bi AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM bi
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN bi e ON r.v = e.u)
       |SELECT u AS doc_id, least(u, min(v)) AS canonical
       |FROM reach GROUP BY u""".stripMargin

  /** [[containmentPairs]] through the ASYMMETRIC prefix filter — the
    * directional counterpart of [[prefixFilterJaccard]]: containment
    * C(A→B) = |A∩B|/|A| ≥ t bounds the intersection by t·|A| alone,
    * so only the CONTAINED side needs a prefix (|A| − ⌈t·|A|⌉ + 1
    * rarest shingles, ~10% at t = 0.9); the containing side joins
    * with its full bag. If A's rarity prefix misses A∩B entirely, the
    * intersection fits in the ⌈t|A|⌉ − 1 commonest shingles — smaller
    * than t·|A| — so C < t: every qualifying directed pair survives.
    * Same output contract and oracle as the df-capped baseline; the
    * gate checks completeness, PrefixFilterSpec checks equality.
    */
  def containmentPrefixFilter(s: SparkSession, dir: String): DataFrame =
    verifyContainmentPairs(s, dir, containmentPrefixCandidates(s, dir))

  /** Asymmetric prefix candidate generation: the contained side's
    * rarity prefix (t = 0.9 → |A| − ⌈0.9|A|⌉ + 1 rarest shingles)
    * against the containing side's FULL bag. Exposed so
    * PrefixFilterSpec and the candidate-economy instrumentation can
    * compare the ladder's rungs.
    */
  private[graft] def containmentPrefixCandidates(
      s: SparkSession, dir: String): DataFrame =
    containmentPrefixCandidatesAt(s, dir, 9, 10)

  /** [[containmentPrefixCandidates]] at threshold t = p/q (see
    * [[prefixFilterCandidatesAt]] for why the fuzzer needs the
    * rational form).
    */
  private[graft] def containmentPrefixCandidatesAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame = {
    val prefixA = rarityRanked(s, dir)
      .filter(col("rnk") <=
        col("n_sh") - expr(s"($p * n_sh + ${q - 1}) div $q") + 1)
      .select(col("doc_id").as("doc_a"), col("sh_h"))
    val fullB = shingleRows(s, dir)
      .select(col("doc_id").as("doc_b"), xxhash64(col("shingle")).as("sh_h"))
    prefixA.join(fullB, Seq("sh_h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** [[containmentPrefixFilter]] plus the ASYMMETRIC analogs of
    * PPJoin's length and positional filters AND a multi-witness
    * extended-prefix requirement (the asymmetric analog of PPJoin+'s
    * suffix-side tightening, in the aggregate-friendly form of
    * adaptive prefix filtering, Wang et al. VLDB'12) — the
    * directional counterpart of [[ppjoinJaccard]], added because the
    * plain containment prefix was the one scale path whose second
    * measured decade ran near-linear (its prefix joins the containing
    * side's FULL bag, so candidate fan-out tracks corpus growth).
    * With T = ⌈t·|A|⌉ the overlap a qualifying pair must reach:
    *
    *  - Length filter: |A∩B| ≥ T and |A∩B| ≤ |B| force |B| ≥ T — at
    *    t = 9/10 the integer form is 10·nb ≥ 9·na. There is
    *    deliberately NO upper bound on |B|: containment is
    *    indifferent to how much larger the containing doc is. Applied
    *    on the prefix⋈bag join itself.
    *  - Row-level positional filters: both rank columns restrict the
    *    SAME global rarity order ([[rarityRanked]] is corpus-wide),
    *    so for a qualifying pair the j-th globally-rarest common key
    *    has at most j−1 commons before it in EITHER bag (j ≤ ra and
    *    j ≤ rb) and at least T−j commons after it in BOTH. Hence
    *    every common key of a qualifying pair satisfies
    *    rb ≤ nb − T + ra and ra ≤ na − T + rb — checked per joined
    *    row, BEFORE the pair aggregation, so pruned rows never
    *    shuffle. (This subsumes the r8 pair-level min-struct bound:
    *    at the globally-first joined row it reduces to exactly
    *    1 + min(na−ra, nb−rb) ≥ T.)
    *  - Multi-witness extended prefix: any T-subset of A must put at
    *    least k of its members among A's first |A| − T + k
    *    rarity-ranked keys (pigeonhole: fewer than k witnesses there
    *    would leave more than T − k commons for the T − k remaining
    *    slots). So the A side emits the first |A| − T + 2 keys
    *    (one more than the classic prefix) and a pair must collect
    *    ≥ min(2, T) surviving joined rows. This is the filter with
    *    teeth against the dominant candidate class — pairs sharing
    *    exactly ONE rare shingle — which the positional bounds alone
    *    cannot touch when that shingle ranks early in both docs.
    *
    * Same output contract and the SAME oracle as [[containmentPairs]]
    * / [[containmentPrefixFilter]]: the differential gate checks that
    * the extra filters lose nothing, PrefixFilterSpec asserts the
    * candidate set is a strict subset of the plain asymmetric
    * prefix's (any pair with ≥ 2 distinct witness ranks ≤ na−T+2 has
    * one with rank ≤ na−T+1, i.e. in the classic prefix) and pins
    * crafted boundary fixtures for every bound above.
    */
  def containmentPpjoin(s: SparkSession, dir: String): DataFrame =
    verifyContainmentPairs(s, dir, containmentPpjoinCandidates(s, dir))

  private[graft] def containmentPpjoinCandidates(
      s: SparkSession, dir: String): DataFrame =
    containmentPpjoinCandidatesAt(s, dir, 9, 10)

  /** [[containmentPpjoinCandidates]] at threshold t = p/q (see
    * [[prefixFilterCandidatesAt]]): every bound below is stated in
    * terms of T = ⌈t·|A|⌉, so the rational form generalizes directly.
    */
  private[graft] def containmentPpjoinCandidatesAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame = {
    val rr = rarityRanked(s, dir)
      // ta = T(A) = ⌈t·|A|⌉ in integer arithmetic
      .withColumn("ta", expr(s"($p * n_sh + ${q - 1}) div $q"))
    val a = rr
      // extended prefix: one key beyond the classic |A| − T + 1
      .filter(col("rnk") <=
        least(col("n_sh"), col("n_sh") - col("ta") + 2))
      .select(col("doc_id").as("doc_a"), col("n_sh").as("na"),
        col("ta"), col("rnk").as("ra"), col("sh_h"))
    val b = rr.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"),
      col("rnk").as("rb"), col("sh_h"))
    a.join(b, Seq("sh_h"))
      .filter(col("doc_a") =!= col("doc_b"))
      // length filter: |B| ≥ ⌈t·|A|⌉, before the pair aggregation
      .filter(lit(q) * col("nb") >= lit(p) * col("na"))
      // row-level positional bounds (see doc) — prune before shuffle
      .filter(col("rb") <= col("nb") - col("ta") + col("ra"))
      .filter(col("ra") <= col("na") - col("ta") + col("rb"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("ta"))
      .agg(min(struct(col("ra"), col("rb"))).as("f"),
        count(lit(1)).as("wit"))
      // multi-witness requirement; min(2, T) handles one-shingle docs
      .filter(col("wit") >= least(lit(2), col("ta")))
      // pair-level positional bound kept from the r8 rung (redundant
      // given the row-level form, but free at pair granularity and it
      // keeps the rung's candidate set ⊆ the r8 rung's by construction)
      .filter(lit(1) + least(col("na") - col("f.ra"), col("nb") - col("f.rb"))
        >= col("ta"))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Exact verification of directed candidate pairs against the full
    * hashed shingle sets — shared by the asymmetric prefix family;
    * same output contract and rounding as [[containmentPairs]].
    */
  private def verifyContainmentPairs(
      s: SparkSession, dir: String, cand: DataFrame,
      t: Double = 0.9): DataFrame = {
    val sets = hashedSets(s, dir)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n_sh").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .filter(col("inter") / col("na") >= t)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / col("na"), 6).as("containment"))
  }

  /** Containment fuzz-sweep entry points at t = p/q — see
    * [[prefixFilterJaccardAt]].
    */
  private[graft] def containmentPrefixFilterAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame =
    verifyContainmentPairs(s, dir,
      containmentPrefixCandidatesAt(s, dir, p, q), p.toDouble / q)

  private[graft] def containmentPpjoinAt(
      s: SparkSession, dir: String, p: Int, q: Int): DataFrame =
    verifyContainmentPairs(s, dir,
      containmentPpjoinCandidatesAt(s, dir, p, q), p.toDouble / q)

  private val jaccardOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |  FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(inter / (sa.n + sb.n - inter), 6) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE inter / (sa.n + sb.n - inter) >= 0.8""".stripMargin

  // ---- MinHash + banded LSH ----------------------------------------

  /** 96 universal hashes h_i(x) = (a_i·x + b_i) mod p over 31-bit
    * shingle hashes; 24 bands × 4 rows. P[candidate | J=0.8] =
    * 1−(1−0.8⁴)²⁴ ≈ 1−3.5e-6 (and ≈1−1e-11 at the fixture's planted
    * J≥0.9), so at the 0.8 threshold LSH recall is ~1 and the
    * verified output equals the exact brute-force oracle. 96 keeps
    * the signature aggregation under spark.sql.codegen.maxFields
    * (default 100) — at 128 the whole-stage-codegen pass bails out
    * and the hottest aggregate in the query runs interpreted.
    */
  private val P = 2147483647L // 2^31 − 1
  val NumHashes = 96
  private[dedup] val Bands = 24
  private[dedup] val RowsPerBand = NumHashes / Bands
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(42)
    val a = Array.fill(NumHashes)(1L + 2L * rnd.nextInt(1 << 30)) // odd, < 2^31
    val b = Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** MinHash signature (array of [[NumHashes]] longs) from a
    * shingle-set column.
    * The base shingle hash is computed once per shingle; each
    * permutation is arithmetic over it — all codegen'd expressions.
    * Empty set → sentinel signature of p (matches nothing real).
    */
  def minhashSignature(sh: Column): Column = {
    val base = transform(sh, s => pmod(xxhash64(s), lit(P)))
    val mins = (0 until NumHashes).map { i =>
      coalesce(
        array_min(transform(base, x => pmod(lit(hashA(i)) * x + lit(hashB(i)), lit(P)))),
        lit(P))
    }
    array(mins: _*)
  }

  /** JVM twin of SQL `xxhash64(shingle)` — same algorithm, same
    * default seed 42 — so rows hashed on the executor in a typed pass
    * join SQL-built frames keyed on `xxhash64` output.
    */
  private[dedup] def hashShingle(sh: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(sh),
      org.apache.spark.sql.types.StringType, 42L)

  /** JVM twin of the MinHash signature: per-permutation minima over
    * 31-bit residues (pmod == `%` here — every operand is
    * non-negative, and products stay under 2⁶² so Long arithmetic
    * matches the SQL expressions exactly). Empty input → the
    * all-[[P]] sentinel, same as [[minhashSignature]].
    */
  private[dedup] def signatureOf(xs: Array[Long]): Array[Long] =
    Array.tabulate(NumHashes) { i =>
      var m = P
      var j = 0
      while (j < xs.length) {
        val h = (hashA(i) * xs(j) + hashB(i)) % P
        if (h < m) m = h
        j += 1
      }
      m
    }

  /** JVM twin of the band key: SQL `xxhash64(m0, m1, ..)` seed-chains
    * the arguments (each value hashed with the running hash as seed,
    * starting from 42) — replicated here so the typed path's keys equal
    * `xxhash64` over each band's slice of [[minhashSignature]].
    */
  private[dedup] def bandKey(sig: Array[Long], band: Int,
      rows: Int = RowsPerBand): Long = {
    var h = 42L
    var r = 0
    while (r < rows) {
      h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        sig(band * rows + r), org.apache.spark.sql.types.LongType, h)
      r += 1
    }
    h
  }

  /** Row kernel, text side: a document's distinct word-3-gram
    * shingles ([[shingleStrings]]), each hashed as SQL `xxhash64`
    * would ([[hashShingle]]). Empty below 3 tokens.
    */
  private[dedup] def hashedShingleSet(text: String): Array[Long] =
    shingleStrings(text).map(hashShingle).toArray

  /** Row kernel, set side: the band keys of a hashed shingle set under
    * a `bands`-way split of the [[NumHashes]]-long signature — 31-bit
    * residues, [[signatureOf]], then [[bandKey]] per band. Every
    * MinHash consumer reaches its band keys through here; DedupSpec
    * pins the result against the SQL forms bit-for-bit.
    */
  private[dedup] def bandKeys(hs: Array[Long], bands: Int): Array[Long] = {
    val sig = signatureOf(hs.map(v => ((v % P) + P) % P))
    Array.tabulate(bands)(b => bandKey(sig, b, NumHashes / bands))
  }

  /** The one MinHash sketch: per document of `docs` (doc_id, text) its
    * hashed shingle set `hs` and set size `n_sh`, in one typed,
    * document-local pass — no shuffle. A document with no shingles
    * emits nothing. The verification sets ([[hashedSets]]), the band
    * rows ([[bandRows]]), the settled index and the arriving batch of
    * the incremental paths are all projections of this frame.
    */
  private[dedup] def minhashSketch(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = hashedShingleSet(text)
        if (hs.isEmpty) None else Some((id, hs, hs.length))
      }
      .toDF("doc_id", "hs", "n_sh")
  }

  /** [[minhashSketch]] of the whole corpus — [[hashedSets]]' source,
    * and its frame as-is when admission refuses the memo.
    */
  private[dedup] def corpusSketch(s: SparkSession, dir: String): DataFrame =
    minhashSketch(Tables.documents(s, dir))

  /** The incremental split of the corpus: the arriving batch (doc_id
    * mod 10 == [[IncBatchMod]], as every `*_incr` row) or the settled
    * rest.
    */
  private def incSlice(s: SparkSession, dir: String, batch: Boolean): DataFrame = {
    val inBatch = pmod(col("doc_id"), lit(10)) === IncBatchMod
    Tables.documents(s, dir).filter(if (batch) inBatch else !inBatch)
  }

  /** Banded LSH index rows (doc_id, band, bkey) of a sketch frame: the
    * set-side kernel per document, `bands` rows each, no shuffle.
    */
  private def bandRows(sketch: DataFrame, bands: Int): DataFrame = {
    import sketch.sparkSession.implicits._
    sketch.select(col("doc_id"), col("hs")).as[(Long, Array[Long])]
      .flatMap { case (id, hs) =>
        bandKeys(hs, bands).iterator.zipWithIndex.map { case (k, b) => (id, b, k) }
      }
      .toDF("doc_id", "band", "bkey")
  }

  /** Candidate pairs (doc_a < doc_b) of band rows: the bucket
    * equi-join on (band, bkey), one row per pair however many bands
    * it collides in.
    */
  private def bandCandidates(buckets: DataFrame): DataFrame =
    buckets.toDF("doc_a", "band", "bkey")
      .join(buckets.toDF("doc_b", "band", "bkey"), Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()

  /** Banded LSH candidate pairs at an ARBITRARY band split of the
    * [[NumHashes]]-long signature (bands must divide it) — the
    * fuzz-sweep form of [[minhashNeardup]]'s candidate stage.
    * DedupFuzzSpec checks the deterministic pigeonhole guarantee at
    * every sampled split: two docs whose signatures disagree in FEWER
    * than `bands` positions cannot spoil every band, so they MUST
    * collide in at least one — in particular identical shingle sets
    * (identical signatures) are candidates under any split.
    */
  private[graft] def minhashBandedCandidatesAt(
      s: SparkSession, dir: String, bands: Int): DataFrame = {
    require(NumHashes % bands == 0, s"bands=$bands must divide $NumHashes")
    bandCandidates(bandRows(corpusSketch(s, dir), bands))
  }

  /** Banded-LSH candidate pairs verified by exact Jaccard ≥ 0.8 —
    * same output contract (and oracle) as [[ngramJaccard]], but the
    * join is on band buckets: shuffle cost O(docs × bands), never
    * all-pairs.
    *
    * Band keys come from the set-side kernel ([[bandRows]]) over the
    * [[hashedSets]] memo, which also serves the verification and the
    * prefix family, so the corpus is shingled once for all of them.
    * (The array-expression form in
    * [[minhashSignature]] builds a NumHashes-branch expression tree
    * that overflows whole-stage codegen; it is kept as the per-row
    * reference the kernel is checked against.)
    */
  def minhashNeardup(s: SparkSession, dir: String): DataFrame =
    minhashPairs(hashedSets(s, dir))

  /** [[minhashNeardup]] over a given verification-set frame
    * (doc_id, hs, n_sh). The doc_id repartition spreads the
    * 96-permutation signature fold across cores (a cached or scanned
    * frame may sit in one partition); it is hash-keyed, so
    * deterministic, and the per-permutation min is order-free.
    */
  private[dedup] def minhashPairs(sets: DataFrame): DataFrame = {
    val buckets = bandRows(
      sets.repartition(sets.sparkSession.sparkContext.defaultParallelism, col("doc_id")),
      Bands)
    verifyJaccard(bandCandidates(buckets), sets, sets, 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental MinHash maintenance — the banded-LSH ingest path,
    * completing the per-index-family maintenance set (star-CC:
    * [[dedupClustersIncremental]]; IVF: SimOps.cosineTopkIvfIncremental):
    * the settled corpus's band buckets and verification sets are
    * memoized state (built once per (session, dataset), the 100 TB
    * analog of a persisted LSH index), and an arriving batch
    * ([[incSlice]]) pays only its own sketch plus a bucket equi-join
    * against the settled index — O(batch·bands) new work, the corpus
    * is never re-signatured. Output is the verified cross-boundary
    * pairs in canonical doc_a < doc_b order; the oracle is the EXACT
    * Jaccard join filtered to the batch/base boundary (banded recall
    * ≈ 1 at J ≥ 0.8, same contract as `dedup_minhash`), so the gate
    * checks the maintenance identity itself. DedupSpec additionally
    * pins ≡ the full recompute's cross-boundary slice.
    */
  def dedupMinhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val (settledBuckets, settledSets) = settledMinhashIndex(s, dir)
    val batch = minhashSketch(incSlice(s, dir, batch = true))
    val cand = bandRows(batch, Bands).toDF("doc_n", "band", "bkey")
      .join(settledBuckets.toDF("doc_p", "band", "bkey"), Seq("band", "bkey"))
      .select(col("doc_n"), col("doc_p")).distinct()
      .select(least(col("doc_n"), col("doc_p")).as("doc_a"),
        greatest(col("doc_n"), col("doc_p")).as("doc_b"))
    val allSets = batch.union(settledSets)
    verifyJaccard(cand, allSets, allSets, 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The settled corpus's banded index as (band buckets, verification
    * sets), memoized per (session, dataset) — "yesterday's index",
    * shared by [[dedupMinhashIncremental]] and the streaming ingest
    * twin [[neardupIngest]]. The sets are the settled slice's
    * [[minhashSketch]] and the buckets are derived from those cached
    * sets, so the corpus is read and shingled once. Both frames are
    * cached+materialized at build so every later read is
    * index-lookup-shaped.
    */
  private[graft] def settledMinhashIndex(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sets = pairMemo("settled_minhash_sets", s, dir) {
      val f = minhashSketch(incSlice(s, dir, batch = false)).cache()
      f.count() // materialize: the settled index is READ thereafter
      f
    }
    val buckets = pairMemo("settled_minhash_buckets", s, dir) {
      val f = bandRows(sets, Bands).cache()
      f.count()
      f
    }
    (buckets, sets)
  }

  // ---- durable settled state (round 10) ----------------------------

  /** Bucket count for the durable settled tables. At fixture scale it
    * matches the session's shuffle width; a 100 TB corpus would use
    * thousands (each bucket file a few hundred MB).
    */
  private val IvmBuckets = 32

  /** The settled MinHash index as DURABLE bucketed+sorted TABLES —
    * the storage-residency answer to the round-9 finding that the
    * cache-backed [[settledMinhashIndex]] wins 3–6× over recompute
    * only while settled state fits in storage memory (at 5M docs
    * ~20 GB of settled state vs ~14 GB of storage memory the ratio
    * destabilized to 0.8×–1.9×, cache-state-dependent). A long-lived
    * corpus keeps its index on disk:
    *
    *  - verification sets (doc_id, hs, n_sh), bucketed by doc_id —
    *    the candidate pairs' set-lookup side. Written first, from the
    *    settled slice's [[minhashSketch]].
    *  - band buckets (doc_id, band, bkey), derived from the sets
    *    table (so the corpus is shingled once), bucketed+sorted by
    *    bkey — the probe join's key, so each ingest's candidate join
    *    reads the settled side with NO exchange and NO sort (broadcast
    *    of the batch keys or a zero-exchange merge, whichever AQE
    *    picks): a streaming columnar scan of three long columns,
    *    whose cost is disk-bandwidth-linear in settled state with a
    *    constant ~100× below re-signaturing the corpus, and — the
    *    point — INDEPENDENT of what happens to be cache-resident.
    *
    * Staged once per fixture dir as bucketed catalog tables
    * ([[graft.Staged.table]] — bucket metadata lives in the catalog,
    * so only `spark.table` reads recover the layout); the buckets
    * table is derived from the sets table, not from the corpus. True
    * O(batch) PAGE reads would need a point-lookup store (the B-tree
    * shape `source_jdbc` demonstrates); for a daily-crawl batch whose band keys hash uniformly over the key
    * space that rung only pays when batch ≪ page count — below that
    * crossover the streaming scan here reads every page exactly once,
    * which is also what a B-tree would do.
    */
  private[graft] def settledMinhashTables(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def sets = graft.Staged.table(s, "ivm", dir, "ivm_mh_sets", IvmBuckets, "doc_id") {
      minhashSketch(incSlice(s, dir, batch = false))
    }
    val buckets = graft.Staged.table(s, "ivm", dir, "ivm_mh_buckets", IvmBuckets, "bkey") {
      bandRows(sets, Bands)
    }
    (buckets, sets)
  }

  /** [[dedupMinhashIncremental]] against the DURABLE settled index —
    * same maintenance identity (verified cross-boundary pairs ≡ the
    * exact Jaccard join's cross slice; the registry entry shares the
    * oracle), but the settled buckets and verification sets are read
    * from the bucketed tables, never a cached memo, so the
    * maintenance cost is stable from cold storage (IvmTiming's
    * `ivm_minhash_durable` line measures exactly that, twice
    * back-to-back with all Spark caches dropped).
    *
    * The candidate join is on bkey ALONE (not (band, bkey)): bkey
    * seed-chains its band's signature rows through xxhash64, so a
    * cross-band key collision is a 2⁻⁶⁴ accident that the exact
    * Jaccard verification removes anyway — and the single-column key
    * is exactly the table's bucket+sort column, which keeps the
    * settled side exchange-free AND sort-free under the merge join.
    *
    * Verification looks each candidate side up in its OWN source —
    * the batch doc (doc_a here) in the batch's sketch, the settled
    * doc (doc_b) in the sets TABLE (bucketed on doc_id, so the corpus
    * side again moves no data) — never a batch∪settled union, which
    * would destroy the table's partitioning and reshuffle the
    * corpus-sized array column per ingest (measured: the union form
    * spilled ~30 GB of transient shuffle per run at the 1000×-docs
    * fixture).
    */
  def dedupMinhashIncrementalDurable(s: SparkSession, dir: String): DataFrame = {
    val (settledBuckets, settledSets) = settledMinhashTables(s, dir)
    val batch = minhashSketch(incSlice(s, dir, batch = true))
    val cand = bandRows(batch, Bands)
      .select(col("doc_id").as("doc_a"), col("bkey"))
      .join(settledBuckets.select(col("doc_id").as("doc_b"), col("bkey")),
        Seq("bkey"))
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyJaccard(cand, batch, settledSets, 0.8)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("jaccard"))
  }

  /** The settled component structure ([[settledStars]]) as a DURABLE
    * bucketed table — the cluster-state sibling of
    * [[settledMinhashTables]]: star edges are node-count-sized state
    * a daily pipeline owns for months, which is storage, not cache.
    * Bucketed+sorted by node (the contraction's join key).
    */
  private[graft] def settledStarsTable(s: SparkSession, dir: String): DataFrame =
    graft.Staged.table(s, "ivm", dir, "ivm_stars", IvmBuckets, "node") {
      settledStars(s, dir)
    }

  /** [[dedupClustersIncremental]] against the DURABLE star table —
    * same recompute identity (labels ≡ the full transitive-closure
    * oracle), with yesterday's components read from disk instead of a
    * memo. The RESULT is memoized like every clustering entry (the
    * registry discipline — repeated sweeps must not pin a fresh
    * labels frame per call); the SETTLED STATE is the table. IvmTiming
    * clears all memos and caches before each timed run, so its
    * durable line still measures the cold path.
    */
  def dedupClustersIncrementalDurable(s: SparkSession, dir: String): DataFrame =
    pairMemo("clusters_incr_durable", s, dir) {
      val isNew = (d: org.apache.spark.sql.Column) =>
        pmod(d, lit(10)) === IncBatchMod
      val batchPairs = verifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
        .filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      // rename-only projection of the contraction's cached output —
      // shares its cache entry and unpersists through
      connectedComponentsStar(
        settledStarsTable(s, dir).union(batchPairs.toDF("node", "label")))
        .toDF("doc_id", "canonical")
    }

  /** Streaming ingest-time near-dup flagging —
    * [[dedupMinhashIncremental]] re-expressed so the arriving documents
    * can be a STREAM: each document's hashed shingle set and band keys
    * are computed in ONE stateless typed pass on the executor (the row
    * kernel, [[hashedShingleSet]] then [[bandKeys]] — bit-for-bit the
    * SQL expressions), so the stream side needs no aggregation at all;
    * candidates come from a stream-static equi-join against the
    * memoized settled band buckets, verification from a second
    * stream-static join against the settled shingle sets, and the only
    * streaming state is the pair dedup (a pair can match in several
    * bands) — the event-time watermark (set here, after the flatMap: a
    * typed map re-creates attributes, which strips upstream event-time
    * metadata) lets `dropDuplicatesWithinWatermark` evict a pair's key
    * once the watermark passes it. At 100 TB/day: the settled side is
    * never re-SIGNATURED (that is what the memo buys — the corpus
    * pass); the join exchange itself re-runs per trigger, so at
    * production scale the settled buckets would be persisted
    * pre-partitioned by (band, bkey) (the bucketed-table pattern of
    * `join_bucketed`) so each trigger's probe is co-located, leaving
    * per-event cost at O(bands) lookups and state at horizon × match
    * rate. The typed pass replaced a Catalyst array-lambda form whose
    * CodegenFallback interpretation cost ~4 ms/document — the JVM loop
    * is ~10× cheaper and keeps ingest cost linear in the BATCH with a
    * constant that survives a 100× batch (slope table in BASELINE.md).
    *
    * Works identically on a batch frame (the watermark node is
    * optimizer-eliminated and the pair dedup runs as a plain
    * dropDuplicates), which is what the
    * registry's `stream_neardup` entry oracles — the same
    * cross-boundary exact-Jaccard oracle as `dedup_minhash_incr` —
    * while StreamingSpec runs the SAME function under MemoryStream
    * and pins result equality across micro-batch splits.
    *
    * `docs` must carry (doc_id, text, ts).
    */
  def neardupIngest(docs: DataFrame, settledBuckets: DataFrame,
      settledSets: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // one JVM pass per document: the row kernel, emitted as Bands
    // rows carrying the document's set. The kernel replicates SQL
    // xxhash64 bit-for-bit (seed 42, seed-chained for multi-argument),
    // so the stream-side keys agree with the settled index — the
    // property the oracle gate checks end-to-end (a parity break
    // empties the join). A shingle-less doc emits nothing, as in
    // [[minhashSketch]].
    val exploded = docs.select(col("doc_id"), col("text"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .flatMap { case (id, text, t) =>
        val hs = hashedShingleSet(text)
        if (hs.isEmpty) Iterator.empty
        else bandKeys(hs, Bands).iterator.zipWithIndex
          .map { case (k, b) => (id, t, hs, hs.length, b, k) }
      }
      .toDF("doc_a", "ts", "ha", "na", "band", "bkey")
      .withWatermark("ts", "1 hour")
    val settled = settledSets.select(col("doc_id").as("doc_b"),
      col("hs").as("hb"), col("n_sh").as("nb"))
    val verified = jaccardAtLeast(exploded
      .join(settledBuckets.toDF("doc_b", "band", "bkey"), Seq("band", "bkey"))
      .join(settled, Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ha"), col("hb")))), 0.8)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("jaccard"), col("ts"))
    // a pair's duplicate rows (one per colliding band) are
    // value-identical, so the watermark-bounded streaming dedup and
    // the plain batch dedup keep the same row; the within-watermark
    // form is streaming-only API, hence the branch
    val deduped =
      if (verified.isStreaming)
        verified.dropDuplicatesWithinWatermark("doc_a", "doc_b")
      else verified.dropDuplicates("doc_a", "doc_b")
    deduped.select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[neardupIngest]] over the batch slice of the fixture (the same
    * arriving batch as `dedup_minhash_incr`), with a synthetic
    * event-time column — the oracled batch twin of the streaming
    * ingest path.
    */
  def streamNeardup(s: SparkSession, dir: String): DataFrame = {
    val (buckets, sets) = settledMinhashIndex(s, dir)
    val batch = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(10)) === IncBatchMod)
      .select(col("doc_id"), col("text"),
        timestamp_seconds(col("doc_id")).as("ts"))
    neardupIngest(batch, buckets, sets)
  }

  /** The verified near-dup pair set, computed once per (session,
    * fixture dir) and cached through the CacheManager. Three
    * downstream operators consume the same pairs — edit-distance
    * verification, cluster resolution, corpus curation — exactly how
    * a real pipeline threads one candidate frame through its stages
    * rather than re-deriving the shingle join per stage. The
    * candidate-generation operators themselves (`dedup_ngram_jaccard`,
    * `dedup_minhash`) never read this cache: they are the thing being
    * measured.
    */
  private val pairMemo = graft.KeyedMemo.frames()

  def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    pairMemo("verified_pairs", s, dir) {
      // cache + materialize: consumers fan the pair set out through a
      // self-union (dedupIncremental's cross frame), whose two legs
      // would otherwise cold-compute the join concurrently.
      val pairs = ngramJaccard(s, dir).cache()
      pairs.count()
      pairs
    }

  /** Edit-distance verification over the near-dup candidate pairs:
    * Levenshtein is O(len²) per pair, so it only ever runs on the
    * (few) pairs a cheaper signal already surfaced — the composable
    * fuzzy-dedup pattern: candidates from Jaccard/MinHash, final call
    * by character-level distance. The distance is computed once per
    * pair; the ratio derives from the column.
    */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    pairs
      .join(docs.toDF("doc_a", "ta"), Seq("doc_a"))
      .join(docs.toDF("doc_b", "tb"), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        round(col("edit_dist") /
          greatest(length(col("ta")), length(col("tb"))).cast("double"), 6)
          .as("edit_ratio"))
  }

  /** Per-document duplication count: how many near-dup partners
    * (J ≥ 0.8) each document has, 0 for unique docs — the annotation
    * soft-dedup training pipelines weight by (keep one copy, or
    * downsample by 1/(1+dups)) instead of hard-dropping. Reuses the
    * session's cached verified-pairs frame; the count is a symmetric
    * union of both pair directions plus a left join back onto the
    * corpus — one aggregate over a pair set that LSH already bounded.
    */
  def dupCount(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir)
    val partners = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_neardup"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
  }

  /** Leakage-safe train/val/test split — the dedup-aware version of
    * TextAnalysis.hashSplit: membership is hashed on the near-dup
    * CLUSTER representative, not the document id, so two near-
    * duplicate documents can never land on opposite sides of the
    * train/eval boundary (the contamination path a plain per-doc hash
    * split leaves open — an eval doc whose twin trained is a leaked
    * answer). Composition: [[dedupClusters]] labels (components over
    * the LSH-verified pair graph) left-joined onto the corpus —
    * singletons fall back to their own id — then the shared
    * SplitHash bucket of the group id decides the split for every
    * member at once. At 100 TB this inherits the cluster pass's
    * bucketed-join scale shape plus one broadcast-able label join;
    * the split itself is map-only.
    */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.text.SplitHash
    val labels = dedupClusters(s, dir)
    val lab = Tables.documents(s, dir).select(col("doc_id"))
      .join(labels.withColumnRenamed("canonical", "cl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cl"), col("doc_id")).as("group_id"))
    val bucket = SplitHash.bucket(col("group_id"))
    lab.select(col("doc_id"), col("group_id"),
      when(bucket < 800, "train").when(bucket < 900, "val")
        .otherwise("test").as("split"))
  }

  private def leakageSafeSplitOracle =
    s"""WITH RECURSIVE pairs AS (
       |$jaccardOracle),
       |bi AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM bi
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN bi e ON r.v = e.u),
       |cl AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS canonical
       |  FROM reach GROUP BY u),
       |lab AS (
       |  SELECT d.doc_id, coalesce(cl.canonical, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
       |SELECT doc_id, group_id,
       |  CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT *, ${graft.text.SplitHash.bucketSql("group_id")} AS b
       |      FROM lab)""".stripMargin

  /** Near-dup cluster resolution — the final dedup step: connected
    * components over the verified pair graph, each doc labeled with
    * its component's minimum doc_id (the canonical representative to
    * keep). Min-label propagation, one join per round, running until
    * the fixpoint: labels only decrease and are bounded below, so the
    * monotone label sum converges in ≤ diameter(component) rounds —
    * no iteration cap that could silently return half-propagated
    * labels (near-dup clusters are shallow in practice).
    *
    * Memory/lineage: every generation is cache()d through the
    * CacheManager (localCheckpoint blocks can NOT be freed with
    * unpersist — they bypass the CacheManager) and the superseded
    * generation is unpersisted each round, so peak storage is two
    * label generations plus the edge list. Lineage grows one
    * join+agg per round; at production diameters switch to
    * `checkpoint()` with a checkpoint dir, the same trade GraphX
    * makes.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    // cluster labels are model state per (session, dataset) — the
    // entityResolution precedent: four consumers (clusters, keep_best,
    // leakage_safe_split, the star twin's oracle partner) must not
    // each re-run the component fixpoint. The memoized frame is a
    // RENAME-ONLY projection of the fixpoint's cached+materialized
    // output — which satisfies the KeyedMemo persistence contract:
    // rename-only projections canonically resolve to the child's
    // cache entry, so reads hit the cache and a race-loser's (or
    // clear()'s) unpersist propagates through the rename and actually
    // frees the pinned frame. CacheSemanticsSpec pins both properties;
    // caching the projection separately would be a no-op double-cache.
    pairMemo("clusters", s, dir) {
      connectedComponents(
        verifiedPairs(s, dir).select(col("doc_a"), col("doc_b")))
        .toDF("doc_id", "canonical")
    }

  /** Quality-aware cluster survivorship — the policy upgrade over
    * "keep the minimum doc_id": within each near-dup cluster keep the
    * member with the MOST tokens (ties to the lower id), the
    * longest-is-superset heuristic production dedup applies so a
    * truncated crawl of a page never survives over the full copy.
    * Clusters come from [[dedupClusters]] (one component fixpoint per
    * session+dataset via the verifiedPairs cache); the survivor pick
    * is one partitioned rank over cluster-sized frames joined to a
    * map-only token count. Swapping the ranking column for any other
    * oracled quality score (readability, gopher pass count) changes
    * no plan shape.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("canonical"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    clusters.join(toks, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("canonical"), col("n_tokens"), col("keep"))
  }

  /** Min-label connected components over an undirected pair list (any
    * two-column bigint frame; first column = one endpoint, second =
    * the other). Output: (node, label) with label = the component's
    * minimum node id.
    *
    * @param checkpointInterval every k rounds, truncate lineage with a
    *   reliable `checkpoint()` instead of `cache()` — the production
    *   setting for deep components, where unbounded lineage growth
    *   would eventually overwhelm the planner / closure serializer
    *   (the same trade GraphX's Pregel makes). Requires
    *   `sparkContext.setCheckpointDir`. 0 (the default) keeps the
    *   cache-only path: near-dup clusters are shallow in practice and
    *   fixture-scale runs shouldn't pay checkpoint I/O.
    */
  /** Checkpoint files backing a `checkpoint()`ed frame (empty for
    * cached frames). Used to reclaim superseded checkpoints: reliable
    * checkpoint files otherwise live for the whole SparkContext, and
    * `unpersist()` on a checkpointed frame is a no-op, so a deep
    * contraction would leak one stable-storage dir per interval.
    */
  private def checkpointFilesOf(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.flatMap(_.getCheckpointFile)

  /** Best-effort delete of superseded checkpoint dirs. Safe the moment
    * a NEWER eager reliable checkpoint exists: that one is
    * self-contained on stable storage, so no live lineage can reach
    * the older files. The NEWEST checkpoint is never deleted here —
    * it may back the frame returned to the caller. A failed delete
    * leaks only disk, so it is logged at WARN and the loop goes on.
    */
  private def deleteCheckpoints(s: SparkSession, paths: Seq[String]): Unit =
    paths.foreach { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).delete(path, true)
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"could not delete superseded checkpoint $p: $e")
      }
    }

  def connectedComponents(pairs: DataFrame, checkpointInterval: Int = 0): DataFrame = {
    // coalesce: sum over an empty frame is NULL (no pairs → no nodes).
    // decimal(38,0), not long: node ids may be full-width content
    // hashes (entityResolution's 2^60 SplitHash folds), whose long
    // sum overflows under ANSI mode even at fixture scale.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    val c = pairs.columns
    val sess = pairs.sparkSession
    val half = pairs.select(col(c(0)).as("u"), col(c(1)).as("v"))
    val edges = half
      .union(half.select(col("v"), col("u")))
      .cache() // read by every round (and the node seed) without recompute
    // Per-round LINEAGE CUT (r11 — the starContraction discipline,
    // guide §3.3 "very large plans: planning time itself becomes the
    // bottleneck"): cache() alone keeps EXECUTION cheap but the
    // logical tree still compounds ~4× per round (labels appears in
    // the neighbor join AND the fixpoint join), so a k-round fixpoint
    // hands every consumer a 4^k-node plan — curate_pipeline's
    // executed plan was 53k lines / ~2,000 operator nodes, and
    // Catalyst re-analysis, not data, dominated its runtime. Each
    // round therefore rebuilds over the cached round's RDD
    // (createDataFrame(df.rdd, schema)): plans stay bounded, the
    // cache still backs the data.
    var labelsCache = edges.select(col("u").as("node"))
      .distinct().withColumn("label", col("node")).cache()
    var labels = sess.createDataFrame(labelsCache.rdd, labelsCache.schema)
    var prevSum = labelSum(labels) // action: materializes the cache
    var round = 0
    var converged = false
    var liveCkpts: Seq[String] = Nil // newest-last; all but newest reclaimable
    while (!converged) {
      round += 1
      val prevCache = labelsCache
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "v2"), col("v") === col("v2"))
        .groupBy(col("u")).agg(min(col("label")).as("nl"))
      val next = labels
        .join(neighborMin.withColumnRenamed("u", "node"), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // checkpoint() is eager: it runs the round's job and rereads the
      // result from stable storage, cutting both lineage and the cache
      // chain (already a LogicalRDD leaf — no extra cut needed);
      // cache() keeps the in-memory fixpoint fast path.
      if (checkpointInterval > 0 && round % checkpointInterval == 0) {
        labelsCache = next.checkpoint()
        labels = labelsCache
      } else {
        labelsCache = next.cache()
        labels = sess.createDataFrame(labelsCache.rdd, labelsCache.schema)
      }
      val newSum = labelSum(labels)
      prevCache.unpersist()
      // once this round's eager checkpoint is on stable storage, every
      // earlier checkpoint is unreachable — reclaim its files now (the
      // newest stays: it may back the frame we return). Gated on the
      // round actually checkpointing: later CACHED rounds' plans still
      // contain the newest checkpoint's LogicalRDD leaf.
      if (checkpointInterval > 0 && round % checkpointInterval == 0) {
        val ck = checkpointFilesOf(labels)
        deleteCheckpoints(pairs.sparkSession, liveCkpts.filterNot(ck.toSet))
        liveCkpts = ck
      }
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
    }
    edges.unpersist()
    labels
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the 100 TB companion to the min-label
    * [[connectedComponents]] fixpoint: min-label needs O(diameter)
    * rounds (a 10⁶-node path graph = 10⁶ rounds), star contraction
    * converges in O(log²n) — practically < 10 — rounds REGARDLESS of
    * diameter, each round the same groupBy-min + equi-join shape.
    *
    * large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
    * v > u. small-star on the larger→smaller orientation: m = min of
    * the smaller neighbors; emit (v, m) for each smaller neighbor and
    * (u, m). Both preserve connectivity and strictly shrink a
    * potential until every component is a star on its minimum node.
    * Convergence = canonical edge set unchanged. The per-round
    * xxhash64-sum + count signature is a cheap PROBABILISTIC screen,
    * not the decision: when it reports "unchanged", equality is
    * confirmed exactly (both rounds are distinct sets, so equal
    * counts plus an empty one-sided EXCEPT imply set equality) — a
    * hash collision can cost one extra comparison job, never a wrong
    * early exit with half-contracted components.
    *
    * Same output contract as [[connectedComponents]], including the
    * `checkpointInterval` option: every k rounds the edge frame is
    * `checkpoint()`ed instead of cached, truncating the RDD lineage
    * that otherwise grows one round per iteration (the per-round
    * LogicalRDD rebuild bounds only the SQL plan tree). Requires
    * `sparkContext.setCheckpointDir`; 0 (the default) keeps the
    * cache-only path — star contraction converges in < 10 rounds in
    * practice, so fixture-scale runs shouldn't pay checkpoint I/O.
    * StarCCSpec pins equality on the fixture pairs, on random graphs
    * against a local union-find, the round count on a long PATH graph
    * (the diameter-killer min-label cannot survive at scale), and
    * label equality with checkpointing enabled on that same deep path.
    */
  def connectedComponentsStar(
      pairs: DataFrame, checkpointInterval: Int = 0): DataFrame =
    starContraction(pairs, checkpointInterval)._1

  private[graft] def starContraction(
      pairs: DataFrame, checkpointInterval: Int = 0): (DataFrame, Int) = {
    val s = pairs.sparkSession
    val c = pairs.columns
    val nodes = pairs.select(col(c(0)).as("node"))
      .union(pairs.select(col(c(1)).as("node"))).distinct().cache()
    // Each round's frame is rebuilt over the PREVIOUS round's RDD
    // (createDataFrame over df.rdd): the SQL plan of every round is a
    // bounded tree over a LogicalRDD leaf. Without this, each round
    // references the prior frame ~4× (symmetric view + two grouped
    // joins) and the logical tree grows 4^rounds — the planner OOMs
    // printing it long before the data is a problem. RDD lineage
    // still grows linearly under the cache-only path; every
    // checkpointInterval-th round instead runs an eager reliable
    // checkpoint(), which truncates BOTH lineages — the production
    // setting for deep contractions, exactly as in
    // [[connectedComponents]].
    var rounds = 0
    var liveCkpts: Seq[String] = Nil // newest-last; all but newest reclaimable
    def freshen(df: DataFrame, old: Option[DataFrame]): DataFrame = {
      val fresh =
        if (checkpointInterval > 0 && rounds > 0 && rounds % checkpointInterval == 0) {
          val ckd = df.checkpoint() // eager: runs the job, rereads from stable storage
          // this checkpoint is self-contained — earlier ones are now
          // unreachable; reclaim their files (newest kept: it may back
          // the labels frame we return)
          val ck = checkpointFilesOf(ckd)
          deleteCheckpoints(s, liveCkpts.filterNot(ck.toSet))
          liveCkpts = ck
          ckd
        } else {
          val f = s.createDataFrame(df.rdd, df.schema).cache()
          f.count() // materialize before releasing the prior round
          f
        }
      old.foreach(_.unpersist())
      fresh
    }
    var e = freshen(pairs
      .select(least(col(c(0)), col(c(1))).as("lo"),
        greatest(col(c(0)), col(c(1))).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct(), None)
    def checksum(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(
        coalesce(sum(xxhash64(col("lo"), col("hi")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")), count(lit(1))).head()
      (r.getDecimal(0), r.getLong(1))
    }
    var prev = checksum(e)
    var converged = false
    while (!converged) {
      rounds += 1
      assert(rounds <= 100, "star contraction failed to converge in 100 rounds")
      // LARGE-STAR over the symmetric view
      val sym = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(mins, Seq("u")).filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("lo"),
          greatest(col("v"), col("m")).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
      // SMALL-STAR on the larger→smaller orientation of the result
      val bySmall = ls.select(col("hi").as("u"), col("lo").as("v"))
      val mins2 = bySmall.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = bySmall.join(mins2, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins2.select(col("u").as("a"), col("m").as("b")))
        .select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
      val next = freshen(ss, None)
      val cur = checksum(next)
      // the checksum screens cheaply every round; only when it claims
      // convergence does the exact one-sided EXCEPT run (both frames
      // are distinct sets with equal counts at this point, so an empty
      // except proves set equality) — a collision delays by one round,
      // it cannot terminate the contraction early
      converged = cur == prev && next.except(e).isEmpty
      e.unpersist()
      e = next
      prev = cur
    }
    val labels = nodes
      .join(e.select(col("hi").as("node"), col("lo").as("label")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("label"), col("node")).as("label"))
      .cache()
    labels.count() // materialize (node-count-sized), then release inputs
    e.unpersist()
    nodes.unpersist()
    (labels, rounds)
  }

  /** INCREMENTAL cluster maintenance — merge a new ingest batch's
    * near-dup pairs into the EXISTING corpus's components without
    * re-clustering the corpus: the daily-crawl shape where the old
    * component structure is 100 TB of settled state and the batch is
    * a sliver. Old components collapse to star edges (node → root,
    * node-count-sized regardless of how many pairs built them), so
    * the incremental contraction runs over |old components| + |batch
    * pairs| edges — never the historical pair set — and, since the
    * old part is ALREADY stars, converges in O(log batch) rounds.
    * The new batch is [[dedupIncremental]]'s convention (doc_id ≡
    * [[IncBatchMod]] mod 10). Output must equal the full recompute
    * EXACTLY — the defining correctness claim of incremental view
    * maintenance — so the registry entry shares [[dedupClusters]]'s
    * transitive-closure oracle and StarCCSpec additionally pins
    * Spark-side equality with the one-shot clustering.
    *
    * The settled state is memoized ([[settledStars]]): "yesterday's
    * components" are computed once per (session, dataset) and every
    * subsequent call pays ONLY the incremental merge — which is the
    * point of IVM, and what the bench should time. The merged result
    * is itself memoized (the [[dedupClusters]] precedent) so repeated
    * sweeps don't pin a fresh labels frame per call; the
    * merge-vs-recompute economics are recorded by [[graft.IvmTiming]]
    * in BASELINE.md, and ConcurrencySpec races both memos cold.
    */
  def dedupClustersIncremental(s: SparkSession, dir: String): DataFrame =
    pairMemo("clusters_incr", s, dir) {
      val isNew = (d: org.apache.spark.sql.Column) =>
        pmod(d, lit(10)) === IncBatchMod
      val batchPairs = verifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
        .filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      // rename-only projection of the contraction's cached output —
      // shares its cache entry and unpersists through (the
      // [[dedupClusters]] pattern; CacheSemanticsSpec)
      connectedComponentsStar(
        settledStars(s, dir).union(batchPairs.toDF("node", "label")))
        .toDF("doc_id", "canonical")
    }

  /** The settled old-corpus component structure as star edges
    * (node → root, node-count-sized regardless of how many pairs
    * built it) — the 100 TB state a daily-ingest pipeline maintains
    * rather than recomputes. Memoized per (session, dataset): the
    * incremental entry then measures the MERGE, not a redundant
    * rebuild of state that is settled by definition. The inner
    * contraction's labels frame is released once the filtered star
    * edges are materialized.
    */
  private[graft] def settledStars(s: SparkSession, dir: String): DataFrame =
    pairMemo("settled_stars", s, dir) {
      val isNew = (d: org.apache.spark.sql.Column) =>
        pmod(d, lit(10)) === IncBatchMod
      val oldPairs = verifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
        .filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val labels = connectedComponentsStar(oldPairs)
      val stars = labels.filter(col("node") =!= col("label")).cache()
      stars.count() // materialize before releasing the labels frame
      labels.unpersist()
      stars
    }

  // ---- SimHash ------------------------------------------------------

  /** 60-bit SimHash over unigram tokens (occurrence-weighted): bit j
    * is set iff Σ_tokens (±1 by bit j of the token hash) > 0. Token
    * hash = first 15 hex chars of md5 — deliberately md5-based so the
    * DuckDB oracle can reproduce it bit-for-bit (DuckDB lacks
    * xxhash64). Hamming-distance pairing is covered in DedupSpec.
    * Computed in a typed map — the expression form (aggregate over a
    * 60-wide zip_with) is CodegenFallback and was the slowest query
    * in the bench.
    */
  /** Top 60 bits of the token's md5 — numerically identical to
    * parsing its first 15 hex chars (the oracle's form), but built
    * straight from the digest bytes: the hex format-and-reparse
    * round-trip was the hottest allocation in the simhash pass.
    */
  private def tokHash60(md: java.security.MessageDigest, tok: String): Long = {
    val d = md.digest(tok.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  private def simhashInto(md: java.security.MessageDigest,
      memo: java.util.HashMap[String, java.lang.Long], text: String): Long = {
    val acc = new Array[Long](60)
    graft.mr.MrJobs.tokenize(text).foreach { tok =>
      var hBox = if (memo == null) null else memo.get(tok)
      if (hBox == null) {
        hBox = java.lang.Long.valueOf(tokHash60(md, tok))
        // Zipfian reuse makes the memo pay for itself immediately;
        // the size cap keeps executor memory bounded on adversarial
        // (all-distinct) vocabularies
        if (memo != null && memo.size < (1 << 16)) memo.put(tok, hBox)
      }
      val h = hBox.longValue()
      var j = 0
      while (j < 60) {
        acc(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L)
        j += 1
      }
    }
    (0 until 60).foldLeft(0L)((s, j) => if (acc(j) > 0) s | (1L << j) else s)
  }

  def simhash60(text: String): Long =
    simhashInto(java.security.MessageDigest.getInstance("MD5"), null, text)

  /** The fingerprint computation in the shared oracle dialect, ending
    * in `fp(doc_id, simhash)` — one definition serving both the
    * fingerprint dump and the pairing oracle.
    */
  private val simhashSqlCtes =
    s"""toks AS (
      |  SELECT doc_id, $tokensSql AS t
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id, list_transform(t,
      |    tk -> CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT)) AS hl
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, list_transform(range(0, 60), j ->
      |    CASE WHEN coalesce(list_sum(list_transform(hl,
      |      h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
      |    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS bitvals
      |  FROM hs),
      |fp AS (
      |  SELECT doc_id, CAST(coalesce(list_sum(bitvals), 0) AS BIGINT) AS simhash
      |  FROM bits)""".stripMargin

  /** 4 bands of 15 bits ⇒ by pigeonhole any pair within hamming
    * distance ≤ [[SimhashMaxHamming]] = 3 agrees on at least one full
    * band — the banded candidate join is COMPLETE for the threshold,
    * not approximate.
    */
  val SimhashBands = 4
  val SimhashMaxHamming = 3

  /** SimHash near-dup pairing, the operator [[simhashFingerprint]]
    * exists for: candidate pairs from a banded equi-join on 15-bit
    * band keys (O(docs·bands) shuffle, never all-pairs — the MinHash
    * LSH discipline), verified by one xor/popcount per candidate.
    * Because 3 differing bits can touch at most 3 of the 4 bands,
    * the band join provably yields every pair with hamming ≤ 3; the
    * oracle computes the quadratic brute-force pairing, so the
    * differential gate checks the completeness claim itself.
    *
    * Scale caveat (measured, BASELINE.md round-7 slopes): with FIXED
    * 15-bit bands the 2¹⁵ buckets fill linearly with corpus size, so
    * random band-collision candidates grow ~n²/2¹⁵ — the 10×→100×
    * docs step measured e = 1.30 (super-linear), the one knee in the
    * dedup family. This is inherent to pigeonhole banding at a fixed
    * fingerprint width: hamming ≤ 3 over 60 bits forces ≥ 4 bands of
    * ≤ 15 bits. The production remedy at larger corpora is a LONGER
    * fingerprint (e.g. 128-bit SimHash → 4 × 32-bit bands: same
    * completeness guarantee, 2³² buckets — occupancy back to ~0 for
    * any realistic corpus); the 60-bit width here is what the
    * bit-exact DuckDB oracle can replicate ([[tokHash60]]).
    */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val fp = simhashFingerprint(s, dir)
    val banded = fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until SimhashBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7fffL))
              .as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val a = banded.toDF("doc_a", "ha", "band", "key")
    val b = banded.toDF("doc_b", "hb", "band", "key")
    // popcount BEFORE the distinct: a 15-bit band has only 32k keys,
    // so unrelated docs collide at birthday rates at corpus scale —
    // the xor/popcount is pennies map-side, and filtering first means
    // the dedup shuffle carries true near-dup pairs only (a duplicate
    // band match just popcounts twice, on its own partition)
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming")).distinct()
  }

  def simhashFingerprint(s: SparkSession, dir: String): DataFrame =
    substrate("simhash_fp", s, dir) {
      import s.implicits._
      val fp = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val memo = new java.util.HashMap[String, java.lang.Long](1 << 12)
          it.map { case (id, text) => (id, simhashInto(md, memo, text)) }
        }
        .toDF("doc_id", "simhash") // one 8-byte word per doc: tiny
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Materialized on build for the same reason as [[shingleRows]]:
      // the banded self-join's two map stages otherwise cold-compute
      // the fingerprint blocks concurrently (MD5 per doc, twice).
      fp.count()
      fp
    }

  // ---- Embedding cosine near-dup ------------------------------------

  /** Sequential-fold double dot product of two float-vector columns —
    * bit-identical to DuckDB's list_sum(list_transform(...)) with
    * explicit DOUBLE casts, so cosine scores are oracle-exact.
    * Higher-order-function form (CodegenFallback); the hot paths use
    * the codegen'd [[graft.functions.DotProductFloat]], which
    * computes the identical sequential double fold.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** All pairs with cosine ≥ 0.45. Brute-force a<b product — the
    * correctness baseline at fixture scale; at 100 TB use the
    * LSH-bucketed candidates (graft.sim.SimOps.cosineTopkLsh) in front
    * of this verification.
    */
  def embeddingNeardup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    import graft.functions.VectorFunctions.vecDot
    // nrm > 0: cosine is undefined for zero vectors, and under ANSI
    // mode the division would throw rather than yield NaN.
    // embeddingsSpread: the a<b nested-loop join streams THIS side,
    // so its partition count is the join's parallelism — a single-
    // row-group scan would run all |V|²/2 dot products in one task
    // (r12: 0.99→0.25 s)
    val e = Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("va"), col("nrm").as("nrma"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"), col("nrm").as("nrmb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("c", vecDot(col("va"), col("vb")) / (col("nrma") * col("nrmb")))
      .filter(col("c") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 6).as("cosine"))
  }

  /** End-to-end corpus curation — the pipeline all of the above
    * exists for: quality-filter (token count), then drop every
    * near-duplicate that is not its cluster's canonical
    * representative. Output is the kept corpus. Each stage is one of
    * the oracled operators above, composed.
    */
  def curateCorpus(s: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 20)
    val dropped = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("canonical"))
      .select(col("doc_id"))
    quality.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Eval-set prefix: doc_id < this plays the held-out benchmark. */
  private val EvalDocs = 20L

  /** The full training-corpus build, every stage an oracled operator
    * composed: quality gate (first-failing-rule filter) → exact dedup
    * (keep the min doc_id per content hash) → near-dup cluster drop
    * (keep canonicals only) → benchmark decontamination (drop docs
    * severely overlapping the eval set, and the eval prefix itself) →
    * deterministic train/val/test split. Output is the shippable
    * corpus manifest. Stage order matters at scale: the cheap
    * map-only gates (quality, hash) run first so the expensive
    * candidate joins see a smaller corpus; every stage is a semi/anti
    * join on doc_id, which AQE plans as broadcast joins once the drop
    * sets prove small.
    */
  def curatePipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val keepQuality = TextAnalysis.qualityFilter(s, dir)
      .filter(col("keep")).select(col("doc_id"))
    val exactKeep = dedupExact(s, dir)
      .select(col("keep_doc_id").as("doc_id"))
    val nearDupDrop = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("canonical")).select(col("doc_id"))
    val contaminated = decontaminate(s, dir)
      .filter(col("severe")).select(col("train_doc").as("doc_id")).distinct()
    val bucket = graft.text.SplitHash.bucket(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .filter(col("doc_id") >= EvalDocs)
      .join(keepQuality, Seq("doc_id"), "left_semi")
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDupDrop, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("split",
        when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test"))
  }

  /** Distinct 5-gram shingle hashes of `docs` — filter BEFORE this,
    * not after: a filter above the typed flatMap can't be pushed
    * through DeserializeToObject, so shingling a pre-filtered scan is
    * what keeps the eval side's cost proportional to the eval set.
    */
  private def shingles5(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = graft.mr.MrJobs.tokenize(t)
        if (toks.lengthCompare(5) < 0) Nil
        else toks.sliding(5).map(_.mkString(" ")).toVector.distinct.map((id, _))
      }
      .toDF("doc_id", "shingle")
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
  }

  /** Benchmark decontamination: find training documents sharing word
    * 5-grams with a held-out eval set (here the doc_id < [[EvalDocs]]
    * prefix stands in for the benchmark). Per-pair distinct-shingle
    * overlap counts, `severe` flagging heavy contamination. The scale
    * shape is the decisive part: eval sets are tiny relative to a
    * 100 TB corpus, so the eval shingle side is broadcast and the
    * training corpus is scanned once with NO shuffle before the
    * (already candidate-only) aggregation — decontamination cost is
    * one pass over the corpus, not a corpus×corpus join.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // each side shingles its own pre-filtered scan: the eval side
    // tokenizes 20 documents, not the whole corpus (the filters reach
    // the parquet scan as PushedFilters on doc_id)
    val ev = shingles5(docs.filter(col("doc_id") < EvalDocs))
      .select(col("doc_id").as("eval_doc"), col("sh_h"))
    val tr = shingles5(docs.filter(col("doc_id") >= EvalDocs))
      .select(col("doc_id").as("train_doc"), col("sh_h"))
    tr.join(broadcast(ev), Seq("sh_h"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("severe", col("n_common") >= 10)
  }

  /** Tile width for exact-substring dedup (tokens per tile). */
  private val TileN = 16

  /** Exact-substring dedup at tile granularity (the practical form of
    * Lee et al. 2022's suffix-array dedup): each document is cut into
    * non-overlapping [[TileN]]-token tiles; across the whole corpus
    * only the FIRST occurrence of each distinct tile (by doc_id, then
    * tile position) survives, and every document is re-assembled from
    * its kept tiles in order. Unlike [[graft.text.CurationRules
    * .spanDupFraction]] (which only SCORES repetition), this operator
    * performs the removal and returns the cleaned text.
    *
    * Scale shape: one typed flatMap emits (doc, pos, tile); ownership
    * is one window over the tile key (shuffle on tile — at 100 TB the
    * key becomes xxhash64(tile), as documented for the shingle joins);
    * reassembly is one aggregation on doc_id sorting each doc's
    * surviving tile list in memory (documents are bounded, so the
    * per-group sort is bounded).
    */
  def exactSubstringDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiles = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.mr.MrJobs.tokenize(t).grouped(TileN).zipWithIndex
          .map { case (tile, k) => (id, k.toLong, tile.mkString(" ")) }
      }
      .toDF("doc_id", "pos", "tile")
    val w = Window.partitionBy(col("tile")).orderBy(col("doc_id"), col("pos"))
    val owned = tiles
      .withColumn("keep", row_number().over(w) === 1)
    val perDoc = owned.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tiles"),
        count(when(col("keep"), 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("pos"), col("tile"))))),
          x => x.getField("tile")), " ").as("cleaned_text"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tiles"), lit(0L)).as("n_tiles"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  private val exactSubstringOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |tiles AS (
       |  SELECT doc_id, k AS pos,
       |    array_to_string(t[$TileN*k+1 : $TileN*(k+1)], ' ') AS tile
       |  FROM toks,
       |    unnest(range(0, CAST(ceil(len(t) / $TileN.0) AS BIGINT))) AS u(k)),
       |owned AS (
       |  SELECT doc_id, pos, tile,
       |    row_number() OVER (PARTITION BY tile ORDER BY doc_id, pos) = 1
       |      AS keep
       |  FROM tiles),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_tiles,
       |    COUNT(*) FILTER (keep) AS n_kept,
       |    string_agg(tile, ' ' ORDER BY pos) FILTER (keep) AS cleaned_text
       |  FROM owned GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_tiles, 0) AS n_tiles,
       |  coalesce(n_kept, 0) AS n_kept,
       |  coalesce(cleaned_text, '') AS cleaned_text
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin

  /** Candidate-pair similarity histogram — the threshold-tuning view
    * behind every dedup rollout: the full (unthresholded) Jaccard
    * distribution of shingle-sharing pairs, bucketed at 0.1, for
    * j ≥ 0.5. Picking 0.8 as the near-dup cut is a claim about this
    * histogram (a valley between the boilerplate hump and the planted
    * near-dups); shipping the histogram makes the claim inspectable.
    * Candidates come from [[ppjoinCandidatesAt]] at t = 1/2 —
    * provably complete for every pair with J ≥ 0.5 (the
    * threshold-generic prefix theorem plus PPJoin's lossless length +
    * positional filters, both of which DedupFuzzSpec checks at seeded
    * thresholds including candidate-set containment in the prefix
    * space), so the histogram is exact while the candidate space is
    * the tightest bound the family proves. The
    * raw shingle self-join this replaced is Θ(Σ df²): one boilerplate
    * shingle with df = k generates k²/2 pair rows before the j ≥ 0.5
    * filter can drop any of them — the all-pairs blowup [[ngramJaccard]]
    * caps with dfCapped, which the histogram (being unthresholded
    * below 0.5 only) cannot use without losing pairs. Bucket
    * arithmetic is floor(j·10)/10 over the UNROUNDED j — floor is the
    * rounding both engines define identically, and rounding j first
    * could flip a bucket at a 0.1 boundary.
    */
  /** Evidence-only (CandidateEconomy): the raw uncapped shingle
    * self-join's candidate space — distinct doc pairs sharing ANY
    * shingle. This is the Θ(Σ df²) shape [[similarityHistogram]] used
    * before round 10; kept so the economy of the t = 1/2 prefix
    * filter is measurable, never on a query path.
    */
  private[graft] def rawSharingPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleRows(s, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
    sh.select(col("doc_id").as("doc_a"), col("sh_h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_h")), Seq("sh_h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  def similarityHistogram(s: SparkSession, dir: String): DataFrame = {
    val sets = hashedSets(s, dir)
    verifyJaccard(ppjoinCandidatesAt(s, dir, 1, 2), sets, sets, 0.5)
      .groupBy((floor(col("j") * 10) / 10).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val similarityHistogramOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |  FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT inter / (sa.n + sb.n - inter) AS j
       |  FROM pairs
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |SELECT floor(j * 10) / 10 AS bucket, COUNT(*) AS n_pairs
       |FROM j WHERE j >= 0.5 GROUP BY 1""".stripMargin

  /** Modulus selecting the "incoming batch" slice: doc_id % 10 == 7. */
  private[graft] val IncBatchMod = 7

  /** Incremental dedup — the production shape: a new ingest batch
    * (here the deterministic doc_id % 10 == [[IncBatchMod]] slice)
    * checked against the EXISTING corpus, instead of re-deduping the
    * world. Each new document is labeled `exact_dup` (content hash
    * already present — hash equi-join against the base hash set),
    * else `near_dup` (a verified J ≥ 0.8 partner across the
    * batch/base boundary — the cached pair set filtered to cross
    * pairs), else `unique`. At 100 TB the base hash set is a bloom /
    * hash index lookup and the near-dup check is the MinHash bucket
    * join restricted to the batch's bands — both O(batch), never
    * O(corpus): the whole point of running dedup incrementally.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isNew = pmod(col("doc_id"), lit(10)) === IncBatchMod
    val newDocs = docs.filter(isNew)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val baseHash = docs.filter(!isNew)
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id").as("b"))
      .groupBy(col("h")).agg(min(col("b")).as("exact_partner"))
    val pairs = verifiedPairs(s, dir)
    val cross = pairs
      .select(col("doc_a").as("n"), col("doc_b").as("p"), col("jaccard"))
      .union(pairs.select(col("doc_b").as("n"), col("doc_a").as("p"), col("jaccard")))
      .filter(pmod(col("n"), lit(10)) === IncBatchMod &&
        pmod(col("p"), lit(10)) =!= IncBatchMod)
    val wBest = Window.partitionBy(col("n")).orderBy(col("jaccard").desc, col("p"))
    val near = cross
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("n").as("doc_id"), col("p").as("near_partner"), col("jaccard"))
    newDocs.join(baseHash, Seq("h"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_partner").isNotNull, "exact_dup")
          .when(col("near_partner").isNotNull, "near_dup")
          .otherwise("unique").as("status"),
        coalesce(col("exact_partner"), col("near_partner")).as("partner"),
        when(col("exact_partner").isNull, col("jaccard")).as("jaccard"))
  }

  private def incrementalOracle =
    s"""WITH pairs AS (
       |$jaccardOracle),
       |newdocs AS (
       |  SELECT doc_id, md5(text) AS h FROM documents
       |  WHERE doc_id % 10 = $IncBatchMod),
       |basehash AS (
       |  SELECT md5(text) AS h, MIN(doc_id) AS exact_partner
       |  FROM documents WHERE doc_id % 10 <> $IncBatchMod GROUP BY 1),
       |crossp AS (
       |  SELECT n, p, jaccard FROM (
       |    SELECT doc_a AS n, doc_b AS p, jaccard FROM pairs
       |    UNION ALL
       |    SELECT doc_b, doc_a, jaccard FROM pairs)
       |  WHERE n % 10 = $IncBatchMod AND p % 10 <> $IncBatchMod),
       |near AS (
       |  SELECT n AS doc_id, p AS near_partner, jaccard FROM (
       |    SELECT *, row_number() OVER (PARTITION BY n
       |      ORDER BY jaccard DESC, p) AS rn FROM crossp)
       |  WHERE rn = 1)
       |SELECT nd.doc_id,
       |  CASE WHEN exact_partner IS NOT NULL THEN 'exact_dup'
       |    WHEN near_partner IS NOT NULL THEN 'near_dup'
       |    ELSE 'unique' END AS status,
       |  coalesce(exact_partner, near_partner) AS partner,
       |  CASE WHEN exact_partner IS NULL THEN jaccard END AS jaccard
       |FROM newdocs nd
       |LEFT JOIN basehash bh ON nd.h = bh.h
       |LEFT JOIN near ON nd.doc_id = near.doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("dedup_incremental", incrementalOracle)(dedupIncremental),
    Q("dedup_similarity_histogram", similarityHistogramOracle)(similarityHistogram),
    Q("curate_pipeline",
      s"""WITH RECURSIVE pairs AS (
         |$jaccardOracle),
         |bi AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM bi
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN bi e ON r.v = e.u),
         |nd AS (
         |  SELECT u AS doc_id FROM reach
         |  GROUP BY u HAVING u <> least(u, min(v))),
         |q AS (SELECT doc_id FROM (
         |  SELECT doc_id, len(t) AS n_tok,
         |    round(1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
         |      AS rep_ratio
         |  FROM (SELECT doc_id, t, list_transform(range(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
         |    FROM (SELECT doc_id, $tokensSql AS t FROM documents)
         |    WHERE len(t) >= 3))
         |  WHERE n_tok >= 30 AND n_tok <= 90 AND rep_ratio <= 0.02),
         |ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |sh5 AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(t) - 3),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
         |         t[i+3] || ' ' || t[i+4]))) AS s
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents)
         |  WHERE len(t) >= 5),
         |cont AS (SELECT DISTINCT train_doc AS doc_id FROM (
         |  SELECT a.doc_id AS train_doc, b.doc_id AS eval_doc
         |  FROM sh5 a JOIN sh5 b ON a.s = b.s
         |  WHERE a.doc_id >= $EvalDocs AND b.doc_id < $EvalDocs
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 10))
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |    ${graft.text.SplitHash.bucketSql("doc_id")} AS b
         |  FROM documents WHERE doc_id >= $EvalDocs) d
         |JOIN q ON d.doc_id = q.doc_id
         |JOIN ex ON d.doc_id = ex.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM nd)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin)(
      curatePipeline),
    Q("decontaminate",
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(t) - 3),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
         |         t[i+3] || ' ' || t[i+4]))) AS s
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents)
         |  WHERE len(t) >= 5)
         |SELECT a.doc_id AS train_doc, b.doc_id AS eval_doc,
         |  COUNT(*) AS n_common, COUNT(*) >= 10 AS severe
         |FROM sh a JOIN sh b ON a.s = b.s
         |WHERE a.doc_id >= $EvalDocs AND b.doc_id < $EvalDocs
         |GROUP BY 1, 2""".stripMargin)(decontaminate),
    Q("dedup_exact",
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin)(dedupExact),
    Q("dedup_keep_latest",
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)(dedupKeepLatest),
    Q("dedup_containment",
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS t FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
         |  FROM toks),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(inter / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
         |WHERE inter / sa.n >= 0.9""".stripMargin)(containmentPairs),
    // asymmetric prefix filter, same oracle as the df-capped baseline:
    // the gate checks the directional completeness theorem
    Q("dedup_containment_prefix",
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS t FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
         |  FROM toks),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(inter / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
         |WHERE inter / sa.n >= 0.9""".stripMargin)(containmentPrefixFilter),
    // asymmetric length+positional filters on top, same oracle again:
    // the gate proves the extra pruning loses no qualifying pair
    Q("dedup_containment_ppjoin",
      s"""WITH toks AS (
         |  SELECT doc_id, $tokensSql AS t FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, greatest(len(t)-1, 1)),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
         |  FROM toks),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(inter / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
         |WHERE inter / sa.n >= 0.9""".stripMargin)(containmentPpjoin),
    Q("dup_count",
      s"""WITH pr AS (
         |$jaccardOracle),
         |pc AS (
         |  SELECT doc_id, COUNT(*) AS n_neardup FROM (
         |    SELECT doc_a AS doc_id FROM pr
         |    UNION ALL SELECT doc_b FROM pr)
         |  GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_neardup, 0) AS n_neardup
         |FROM documents d LEFT JOIN pc ON d.doc_id = pc.doc_id""".stripMargin)(
      dupCount),
    Q("dedup_ngram_jaccard", jaccardOracle)(ngramJaccard),
    Q("dedup_prefix_filter", jaccardOracle)(prefixFilterJaccard),
    // the positional/length-filter rung: same complete result, fewer
    // candidates reach verification — the gate shares the exact oracle
    Q("dedup_ppjoin", jaccardOracle)(ppjoinJaccard),
    Q("dedup_minhash", jaccardOracle)(minhashNeardup),
    // maintenance path: verified pairs crossing the batch/base
    // boundary must equal the exact Jaccard join's cross slice (the
    // gate checks the banded-index maintenance identity itself)
    Q("dedup_minhash_incr",
      s"""SELECT doc_a, doc_b, jaccard FROM (
         |$jaccardOracle)
         |WHERE (doc_a % 10 = $IncBatchMod) <> (doc_b % 10 = $IncBatchMod)""".stripMargin)(
      dedupMinhashIncremental),
    // same maintenance identity with the settled index as a DURABLE
    // bucketed table instead of a cached memo — the storage-residency
    // answer measured by IvmTiming's durable line
    Q("dedup_minhash_incr_durable",
      s"""SELECT doc_a, doc_b, jaccard FROM (
         |$jaccardOracle)
         |WHERE (doc_a % 10 = $IncBatchMod) <> (doc_b % 10 = $IncBatchMod)""".stripMargin)(
      dedupMinhashIncrementalDurable),
    // the streaming ingest twin, oracled on its batch form: per-row
    // signatures + stream-static joins against the settled index must
    // flag exactly the cross-boundary near-dup pairs
    Q("stream_neardup",
      s"""SELECT doc_a, doc_b, jaccard FROM (
         |$jaccardOracle)
         |WHERE (doc_a % 10 = $IncBatchMod) <> (doc_b % 10 = $IncBatchMod)""".stripMargin)(
      streamNeardup),
    // Detector-agreement readout: SimHash's hamming≤3 pairs scored
    // against the exact Jaccard≥0.8 pairs as truth — the one-row
    // precision/recall/F1 harness every near-dup threshold change is
    // judged by before it ships (the two detectors measure different
    // similarity families, so the overlap is a real measurement, not
    // 1.0 by construction). Composes two already-oracled pair
    // generators; each side is its own bounded equi-join pipeline and
    // the agreement join is on (doc_a, doc_b).
    Q("dedup_eval",
      s"""WITH truth AS ($jaccardOracle),
         |pred AS (
         |  WITH $simhashSqlCtes
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming),
         |m AS (SELECT COUNT(*) AS tp FROM pred
         |      JOIN truth USING (doc_a, doc_b)),
         |c AS (SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
         |             (SELECT COUNT(*) FROM truth) AS n_truth, tp FROM m)
         |SELECT n_pred, n_truth, tp,
         |  round(tp / CAST(n_pred AS DOUBLE), 6) AS precision,
         |  round(tp / CAST(n_truth AS DOUBLE), 6) AS recall,
         |  round(2 * tp / CAST(n_pred + n_truth AS DOUBLE), 6) AS f1
         |FROM c""".stripMargin) { (s, dir) =>
      // truth side rides the verifiedPairs memo (it IS ngramJaccard,
      // cached): dedup_eval is a readout over two already-measured
      // generators, not a generator itself, so reuse is legitimate
      val truth = verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val pred = simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val tp = pred.join(truth, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("tp"))
      pred.agg(count(lit(1)).as("n_pred"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(tp) // three 1-row aggregates — scalar joins
        .select(col("n_pred"), col("n_truth"), col("tp"),
          round(col("tp") / col("n_pred").cast("double"), 6).as("precision"),
          round(col("tp") / col("n_truth").cast("double"), 6).as("recall"),
          round(lit(2) * col("tp")
            / (col("n_pred") + col("n_truth")).cast("double"), 6).as("f1"))
    },
    Q("dedup_clusters", clustersOracle)(dedupClusters),
    // same oracle, different algorithm: the O(log n)-round star
    // contraction must produce exactly the min-label components.
    // Memoized like dedupClusters (rename-only projection of the
    // contraction's cached labels — shares its cache entry) so
    // repeated sweeps reuse one pinned frame instead of growing
    // storage by one labels cache per call.
    Q("dedup_clusters_star", clustersOracle) { (s, dir) =>
      pairMemo("clusters_star", s, dir) {
        connectedComponentsStar(
          verifiedPairs(s, dir).select(col("doc_a"), col("doc_b")))
          .toDF("doc_id", "canonical")
      }
    },
    // incremental maintenance must equal the full recompute exactly —
    // one more algorithm under the same transitive-closure oracle
    Q("dedup_clusters_incr", clustersOracle)(dedupClustersIncremental),
    // yesterday's components read from the durable star table (disk,
    // not memo); identical recompute-equality oracle
    Q("dedup_clusters_incr_durable", clustersOracle)(
      dedupClustersIncrementalDurable),
    Q("dedup_keep_best",
      s"""WITH RECURSIVE pairs AS (
         |$jaccardOracle),
         |bi AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM bi
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN bi e ON r.v = e.u),
         |cl AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS canonical
         |  FROM reach GROUP BY u),
         |tk AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT cl.doc_id, canonical, n_tokens,
         |    row_number() OVER (PARTITION BY canonical
         |      ORDER BY n_tokens DESC, cl.doc_id) AS rn
         |  FROM cl JOIN tk USING (doc_id))
         |SELECT doc_id, canonical, n_tokens, rn = 1 AS keep
         |FROM r""".stripMargin)(dedupKeepBest),
    Q("leakage_safe_split", leakageSafeSplitOracle)(leakageSafeSplit),
    Q("curate_corpus",
      s"""WITH RECURSIVE pairs AS (
         |$jaccardOracle),
         |bi AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM bi
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN bi e ON r.v = e.u),
         |clusters AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS canonical
         |  FROM reach GROUP BY u),
         |dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> canonical)
         |SELECT doc_id,
         |  len($tokensSql) AS n_tokens
         |FROM documents
         |WHERE len($tokensSql) >= 20
         |  AND doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin)(curateCorpus),
    Q("dedup_edit_distance",
      s"""WITH pairs AS (
         |$jaccardOracle)
         |SELECT p.doc_a, p.doc_b,
         |  levenshtein(a.text, b.text) AS edit_dist,
         |  round(levenshtein(a.text, b.text)
         |    / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE), 6) AS edit_ratio
         |FROM pairs p
         |JOIN documents a ON a.doc_id = p.doc_a
         |JOIN documents b ON b.doc_id = p.doc_b""".stripMargin)(editDistancePairs),
    Q("dedup_simhash",
      s"""WITH $simhashSqlCtes
         |SELECT doc_id, simhash FROM fp""".stripMargin)(simhashFingerprint),
    Q("simhash_pairs",
      // BRUTE-FORCE oracle on purpose: the Spark side generates
      // candidates through the banded equi-join, so a hash match
      // proves the band split loses no qualifying pair
      s"""WITH $simhashSqlCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming""".stripMargin)(
      simhashPairs),
    Q("dedup_embedding",
      """WITH n AS (
        |  SELECT * FROM (
        |    SELECT vec_id, embedding AS v,
        |      sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |    FROM embeddings) WHERE nrm > 0),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
        |      / (a.nrm * b.nrm) AS c
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(c, 6) AS cosine
        |FROM p WHERE c >= 0.45""".stripMargin)(embeddingNeardup),
    Q("dedup_exact_substring", exactSubstringOracle)(exactSubstringDedup),
  )
}
