package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}

/** Join surface (SURVEY.md §2.4): equi inner/left/full, semi, anti,
  * broadcast, theta. The reference can only express joins as user
  * map/reduce code (tag records by side, group on key, pair in the
  * reducer); here each is declarative and Catalyst picks the physical
  * strategy.
  *
  * Scale notes: dimension sides (part, supplier, nation) are
  * broadcast-joined — no shuffle of the fact table; fact-fact joins
  * shuffle on the join key and AQE handles skew at real scale.
  */
object Joins {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Inner equi-join fact→dim, then aggregate. */
  def joinInner(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))

  /** Explicit broadcast of a filtered dimension: the build side ships
    * to every executor, zero shuffle of lineitem.
    */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_size") < 10)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  /** EXISTS — left-semi join keeps only customer columns. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))

  /** NOT EXISTS — left-anti join. */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))

  /** Left outer join preserving customers with no orders. */
  def joinLeft(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0d)).as("total"))

  /** Right outer join — orders side optional, all customers kept.
    * Same result as joinLeft with sides swapped; registered so the
    * right-join code path itself is oracle-covered.
    */
  def joinRight(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"), "right")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0d)).as("total"))

  /** Full outer join of two aggregates (nation-level counts). */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val p = Tables.supplier(s, dir).groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, Seq("nk"), "full")
  }

  /** Theta join: equi key plus an inequality residual. */
  def joinTheta(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.supplier(s, dir),
        col("c_nationkey") === col("s_nationkey") && col("s_acctbal") > col("c_acctbal"))
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_pairs"))

  /** Salted join — the manual skew mitigation for when one probe-side
    * key floods a partition: the probe side gets a deterministic salt
    * (hash of another column mod R), the build side is replicated
    * once per salt value, and the join key becomes (key, salt), so a
    * hot key spreads over R reducers. Result is identical to the
    * unsalted join (the oracle is the plain SQL); AQE's skew-join
    * handles this automatically at runtime, this is the explicit form
    * for engines/plans where it can't.
    */
  def joinSalted(s: SparkSession, dir: String, saltR: Int = 8): DataFrame = {
    // Size R from the observed skew: a key holding fraction f of the
    // probe rows needs R ≥ f · shufflePartitions for its salted
    // pieces to shrink to the average partition (SkewBench measures
    // the 7%-hot-key Zipf fixture at R=8 vs 32). The cost of R is
    // build-side replication — dims are broadcast-sized, so ~free.
    val R = saltR
    // lineitemSpread: the salted probe side is about to shuffle on
    // (partkey, salt) anyway; spreading first parallelizes the cast +
    // salt map work of the single-row-group scan (r12: 0.81->0.59 s)
    val li = Tables.lineitemSpread(s, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(R)).cast("int"))
    val p = Tables.part(s, dir)
      .withColumn("salt", explode(typedLit(List.range(0, R))))
    li.join(p, col("l_partkey") === col("p_partkey") && li("salt") === p("salt"))
      .groupBy(col("p_brand"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
  }

  /** Interval bands for the range join — deliberately unequal widths
    * so the bucketing is non-trivial. (band_id, lo inclusive, hi
    * exclusive), covering l_quantity's domain [1, 50].
    */
  private val RangeBands: Seq[(Long, Double, Double)] = Seq(
    (0L, 1.0, 3.0), (1L, 3.0, 8.0), (2L, 8.0, 15.0),
    (3L, 15.0, 27.0), (4L, 27.0, 51.0))

  /** Range (interval) join, bucketized to an equi join — the 100 TB
    * pattern for `v BETWEEN lo AND hi`: Spark plans a raw range
    * predicate as BroadcastNestedLoopJoin (probe × bands comparisons
    * per row). Instead each band is exploded into the fixed-width
    * buckets it overlaps, the probe side computes its single bucket,
    * and the join is a broadcast HASH join on bucket with the exact
    * range as a cheap residual filter. Work per probe row is O(1)
    * regardless of band count; a band never matches a probe row twice
    * (its bucket list is distinct). The oracle is the plain BETWEEN
    * join — the rewrite must be semantically invisible.
    */
  def joinRangeBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 4.0 // bucket width, same unit as l_quantity
    val bandBuckets = RangeBands.flatMap { case (id, lo, hi) =>
      (math.floor(lo / W).toInt until math.ceil(hi / W).toInt)
        .map(b => (id, lo, hi, b))
    }
    val bands = bandBuckets.toDF("band_id", "lo", "hi", "bucket")
    Tables.lineitem(s, dir)
      .withColumn("bucket", floor(col("l_quantity") / W).cast("int"))
      .join(broadcast(bands), Seq("bucket"))
      .filter(col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  /** Bloom-filter pre-filtered join — the scale pattern for a
    * selective dim→fact join where the dim side is too big to
    * broadcast as a hash table but its *key set sketch* is not: build
    * a bloom filter over the dim keys (a distributed treeAggregate
    * via `stat.bloomFilter`, ~1 byte/key at 1% fpp), ship the sketch
    * to every fact partition, and drop non-matching fact rows BEFORE
    * the shuffle. False positives survive the pre-filter but are
    * removed by the exact join, so the result — and the oracle — is
    * the plain join; only shuffle volume changes. This is the manual
    * form of Spark's runtime row-level bloom pushdown
    * (spark.sql.optimizer.runtime.bloomFilter.*), which only triggers
    * on statistics; here it is explicit and deterministic. The sketch
    * build and probe are Spark's own catalyst expressions
    * (BloomFilterAggregate / BloomFilterMightContain — the exact pair
    * the runtime-filter rule injects, probe codegen'd, bloom
    * deserialized once per task), registered by hand because neither
    * is in the public function registry; the build rides a scalar
    * subquery, so the whole thing stays in-plan — no driver-side
    * sketch, no row-at-a-time ScalaUDF, no serialized filter shipped
    * per task closure.
    */
  def joinBloom(s: SparkSession, dir: String): DataFrame =
    joinBloomThreshold(s, dir, 9000d)

  /** Items/fpp sizing for the bloom build, mirroring the previous
    * driver-side `stat.bloomFilter(_, 100000, 0.01)` sketch: the
    * standard m = −n·ln(p)/ln²2 optimal-bits formula.
    */
  private val BloomItems = 100000L
  private val BloomNumBits =
    (-(BloomItems * math.log(0.01)) / (math.log(2) * math.log(2))).toLong

  private def registerBloomFns(s: SparkSession): Unit = {
    val r = s.sessionState.functionRegistry
    r.createOrReplaceTempFunction("bloom_filter_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs.head, exprs(1), exprs(2)), "built-in")
    r.createOrReplaceTempFunction("might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs.head, exprs(1)), "built-in")
  }

  /** [[joinBloom]] with the dim selectivity cut exposed, so specs can
    * drive the empty-build-side path: bloom_filter_agg over zero rows
    * yields NULL, might_contain(NULL, k) yields NULL, the filter
    * drops every fact row, and the (empty) result is exactly what the
    * exact join would produce — no special case needed. Keys enter
    * the bloom through xxhash64 on both sides, the same construction
    * Spark's InjectRuntimeFilter uses.
    */
  private[graft] def joinBloomThreshold(
      s: SparkSession, dir: String, minAcctbal: Double): DataFrame = {
    val s2 = s.newSession() // isolated temp views + function registry
    registerBloomFns(s2)
    Tables.customer(s2, dir).createOrReplaceTempView("customer")
    Tables.orders(s2, dir).createOrReplaceTempView("orders")
    try s2.sql(
      s"""WITH dim AS (
         |  SELECT c_custkey, c_mktsegment FROM customer
         |  WHERE c_acctbal > $minAcctbal)
         |SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders JOIN dim ON o_custkey = c_custkey
         |WHERE might_contain(
         |  (SELECT bloom_filter_agg(xxhash64(c_custkey),
         |     CAST($BloomItems AS BIGINT), CAST($BloomNumBits AS BIGINT))
         |   FROM dim),
         |  xxhash64(o_custkey))
         |GROUP BY c_mktsegment""".stripMargin)
    finally Seq("customer", "orders").foreach(s2.catalog.dropTempView)
  }

  /** Chunk width for the interval-overlap join, in MICROSECONDS (6 h).
    * Time math stays in epoch micros end-to-end: `unix_micros` /
    * `epoch_us` are exact integers in both engines, so there is no
    * millisecond-truncation ambiguity to straddle a comparison.
    */
  private val IntervalChunkUs = 21600000000L

  /** Interval-overlap join, bucketized to an equi join — the temporal
    * counterpart of [[joinRangeBucketed]] for the case where BOTH
    * sides are intervals (`a.start <= b.end AND b.start <= a.end`):
    * per-user daily activity spans against per-event-type daily burst
    * windows. Planned naively, an interval-overlap predicate is a
    * nested-loop join (every pair compared); here each interval
    * explodes into the fixed-width time chunks it covers
    * (`sequence(start div W, end div W)`), the join is a hash equi
    * join on chunk, the exact overlap predicate survives as a cheap
    * residual, and a pair that shares several chunks is collapsed by
    * a distinct BEFORE the aggregate — so the rewrite is semantically
    * invisible (the oracle is the plain overlap join) while the work
    * per interval is O(span/W), not O(|intervals|). Day keys and
    * chunk ids derive from epoch micros by floor division —
    * timezone-free (the Bucketed partitionedEventsDir lesson) and
    * floor (not truncate) so pre-1970 epochs would bucket identically
    * in both engines.
    */
  /** The chunked-equi rewrite itself, factored for property testing:
    * joins `left` (closed intervals [l_start, l_end] plus arbitrary
    * key columns) with `right` ([r_start, r_end] + keys) on interval
    * OVERLAP, each pair emitted exactly once regardless of how many
    * chunks it shares. Column names are the contract; both frames
    * must have distinct key-column sets.
    */
  private[graft] def intervalOverlapJoin(
      left: DataFrame, right: DataFrame, chunkUs: Long): DataFrame = {
    val chunk = (lo: Column, hi: Column) =>
      explode(sequence(floor(lo / lit(chunkUs.toDouble)),
        floor(hi / lit(chunkUs.toDouble)))).as("chunk")
    val lc = left.select(col("*"), chunk(col("l_start"), col("l_end")))
    val rc = right.select(col("*"), chunk(col("r_start"), col("r_end")))
    lc.join(rc, Seq("chunk"))
      .filter(col("l_start") <= col("r_end") && col("r_start") <= col("l_end"))
      .drop("chunk")
      .distinct()
  }

  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val user = e.groupBy(col("user_id"),
        floor(col("us") / lit(dayUs.toDouble)).as("u_day"))
      .agg(min(col("us")).as("l_start"), max(col("us")).as("l_end"))
    val burst = e.groupBy(col("event_type"),
        floor(col("us") / lit(dayUs.toDouble)).as("b_day"))
      .agg(min(col("us")).as("r_start"), max(col("us")).as("r_end"))
    intervalOverlapJoin(user, burst, IntervalChunkUs)
      // pairs are already distinct; (keys → bounds) is functional, so
      // the projection stays duplicate-free without a second distinct
      .select(col("user_id"), col("u_day"), col("event_type"), col("b_day"),
        (least(col("l_end"), col("r_end"))
          - greatest(col("l_start"), col("r_start"))).as("overlap_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("overlap_us")).as("overlap_us"))
  }

  /** Hard ceiling on fuzzy/ER block membership: a block the cap
    * rejects is a stop-word-like token carrying no linkage signal,
    * and dropping it outright bounds within-block pair count at
    * cap²/2 regardless of corpus size. Part of the operators'
    * documented semantics (mirrored in the oracle SQL), never reached
    * by real rarest-token blocks at the fixture scales.
    */
  private[graft] val FuzzyBlockCap = 4096L

  /** The deduplicated name dictionary with RAREST-TOKEN blocks: each
    * name's block key is its lowest-document-frequency token (ties
    * broken lexicographically) — the df-ranked rarest-first
    * discipline of [[graft.dedup.DedupOps.prefixFilterJaccard]]
    * applied at token granularity. First-token blocking (rounds
    * 2–10) keyed on the catalog's ~90-word leading-adjective
    * vocabulary, so blocks grew LINEARLY with the dictionary and
    * within-block pairs QUADRATICALLY — at 100× the catalog each
    * block held 10⁴× the pairs. A name's rarest token has df bounded
    * by the token-frequency tail, so block sizes stay near-constant
    * as the catalog grows (measured: CandidateEconomy's fuzzy line).
    * Every stage is a hash join/agg on tok / p_name / blk; the df
    * table is vocabulary-sized (Heaps-bounded → broadcastable).
    */
  private[graft] def blockedNames(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
    // array_distinct inside the row replaces a row-level DISTINCT
    // shuffle (a name's duplicate tokens never reach the exchange),
    // and n_parts rides along so no join back to the dictionary
    val toks = names.select(col("p_name"), col("n_parts"),
      explode(array_distinct(split(col("p_name"), " "))).as("tok"))
    // df and block-size tables are vocabulary-/block-count-sized
    // (Heaps-bounded) — broadcast them; the only real exchange in the
    // whole chain is the per-name min_by aggregation (skew-free: the
    // key is the unique name)
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val blk = toks.join(broadcast(dfreq), Seq("tok"))
      .groupBy(col("p_name"))
      .agg(max(col("n_parts")).as("n_parts"),
        min_by(col("tok"), struct(col("df"), col("tok"))).as("blk"))
    val sizes = blk.groupBy(col("blk")).agg(count(lit(1)).as("blk_n"))
    blk.join(broadcast(sizes), Seq("blk"))
      .filter(col("blk_n") <= FuzzyBlockCap)
      .select(col("blk"), col("p_name"), col("n_parts"))
  }

  /** Within-block candidate pairs under a given blocked dictionary —
    * the geometry CandidateEconomy counts (first-token vs rarest-
    * token) to show what the r11 re-block buys.
    */
  private def blockPairs(names: DataFrame): DataFrame = {
    val a = names.select(col("blk"), col("p_name").as("name_a"),
      col("n_parts").as("n_parts_a"))
    val b = names.select(col("blk"), col("p_name").as("name_b"),
      col("n_parts").as("n_parts_b"))
    a.join(b, Seq("blk")).filter(col("name_a") < col("name_b"))
  }

  /** The round-2–10 first-token geometry, kept ONLY as the economy
    * baseline (never a query path): its pair count is what the
    * rarest-token re-block is measured against.
    */
  private[graft] def fuzzyCandidatesFirstToken(s: SparkSession, dir: String): DataFrame =
    blockPairs(Tables.part(s, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", split(col("p_name"), " ").getItem(0)))

  private[graft] def fuzzyCandidatesRarest(s: SparkSession, dir: String): DataFrame =
    blockPairs(blockedNames(s, dir))

  /** Blocked fuzzy (edit-distance) join — record-linkage over the
    * part-name catalog: pairs of DISTINCT names within an edit
    * distance of 3, found without ever comparing all name pairs. The
    * 100 TB discipline is the blocking key — candidates must share
    * their RAREST token ([[blockedNames]]), so the self-join is a
    * hash equi join on the block and the quadratic levenshtein
    * predicate runs only inside df-bounded blocks (never
    * `ON lev(a,b) <= k` alone, which Catalyst can only plan as a
    * nested loop). Matching runs on the DEDUPLICATED name dictionary
    * (Heaps-bounded), not the part rows, and each name carries its
    * part count so a downstream merge knows the mass behind every
    * alias pair.
    */
  def joinFuzzy(s: SparkSession, dir: String): DataFrame =
    blockPairs(blockedNames(s, dir))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_parts_a"), col("n_parts_b"))

  /** [[joinFuzzy]] with a similarity score instead of an edit-distance
    * cut: Jaro–Winkler ≥ 0.88 via the custom codegen'd
    * [[graft.functions.JaroWinklerSimilarity]] expression (DuckDB
    * implements the identical standard definition, so the score — not
    * just the verdict — is oracle-compared). Same blocking geometry;
    * the score is rounded to 6 dp BEFORE the threshold so both
    * engines draw the same boundary, and the fixture's nearest score
    * sits 4.5e-4 from the cut — no straddle risk. Shared-adjective
    * names exercise the Winkler prefix boost (l = 4 common leading
    * chars); the boost-free region is covered by the spec's
    * below-threshold cases.
    */
  def joinFuzzyJaro(s: SparkSession, dir: String): DataFrame = {
    graft.functions.StringFunctions.register(s)
    val jw = graft.functions.StringFunctions.jaroWinkler _
    blockPairs(blockedNames(s, dir))
      .withColumn("sim", round(jw(col("name_a"), col("name_b")), 6))
      .filter(col("sim") >= 0.88)
      .select(col("name_a"), col("name_b"), col("sim"),
        col("n_parts_a"), col("n_parts_b"))
  }

  /** End-to-end entity resolution (record linkage) — the pipeline a
    * catalog/vendor master runs to collapse alias spellings into one
    * golden record: (1) block the deduplicated name dictionary on the
    * rarest token ([[blockedNames]]), (2) score candidate pairs with the codegen'd
    * Jaro–Winkler expression (the [[joinFuzzyJaro]] geometry — never
    * an all-pairs nested loop), (3) resolve transitive match chains
    * with min-label connected components
    * ([[graft.dedup.DedupOps.connectedComponents]] — A~B and B~C must
    * land in ONE entity even when A~C scores below threshold), and
    * (4) emit one golden record per entity: canonical name
    * (lexicographic min — the deterministic survivorship rule),
    * alias count, and total part mass behind the entity. Unmatched
    * names pass through as singleton entities.
    *
    * Node ids for the component step are [[SplitHash]] folds of the
    * name (content-stable, oracle-reproducible); the label join back
    * to the dictionary is an equi join on that id. At 100 TB the
    * dictionary is Heaps-bounded and every stage is a hash join on
    * block / id — the same shape at any corpus size.
    */
  /** Keyed result memo — the golden-record table is model state per
    * (session, dataset), exactly like the trained pageRank vector or
    * the verifiedPairs frame: the component fixpoint must not re-run
    * its multi-job loop on every repeated call in one session.
    * Locking discipline lives in [[graft.KeyedMemo]].
    */
  private val erMemo = graft.KeyedMemo.frames()

  def entityResolution(s: SparkSession, dir: String): DataFrame =
    erMemo("entity_resolution", s, dir) {
      val computed = entityResolutionUncached(s, dir).cache()
      computed.count() // materialize: dictionary-sized (golden records)
      computed
    }

  private def entityResolutionUncached(s: SparkSession, dir: String): DataFrame = {
    graft.functions.StringFunctions.register(s)
    val jw = graft.functions.StringFunctions.jaroWinkler _
    val names = Tables.part(s, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("nid", graft.text.SplitHash.fold(col("p_name").cast("binary")))
    // pairs come from the CAPPED rarest-token blocks; the final
    // aggregation runs over ALL names (a cap-dropped name passes
    // through as a singleton entity, it is never lost)
    val blocked = blockedNames(s, dir)
      .withColumn("nid", graft.text.SplitHash.fold(col("p_name").cast("binary")))
    val a = blocked.select(col("blk"), col("p_name").as("name_a"), col("nid").as("nid_a"))
    val b = blocked.select(col("blk"), col("p_name").as("name_b"), col("nid").as("nid_b"))
    val pairs = a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .filter(round(jw(col("name_a"), col("name_b")), 6) >= 0.88)
      .select(col("nid_a"), col("nid_b"))
    // lineage cut before the fixpoint: the component loop compounds
    // each round's plan on top of this tree, and the r11 blocking
    // chain (df → min_by → cap) is deep enough that Catalyst
    // re-planning — not data — dominated (measured 21 s of a 38 s ER
    // at sf0.1). A LogicalRDD leaf bounds every round's plan — the
    // same discipline as starContraction's per-round rebuild.
    val cut = s.createDataFrame(pairs.rdd, pairs.schema)
    val labels = graft.dedup.DedupOps.connectedComponents(cut)
      .toDF("nid", "entity")
    names.join(labels, Seq("nid"), "left")
      .withColumn("entity", coalesce(col("entity"), col("nid")))
      .groupBy(col("entity"))
      .agg(min(col("p_name")).as("canonical_name"),
        count(lit(1)).as("n_aliases"),
        sum(col("n_parts")).as("total_parts"))
      .select(col("canonical_name"), col("n_aliases"), col("total_parts"))
  }

  /** DuckDB mirror of [[blockedNames]]: rarest-token blocks with the
    * frequency cap. `nExtra` threads extra per-name expressions (the
    * ER node id) through the dictionary CTE.
    */
  private def blockedDictSql(nExtra: String): String =
    s"""n AS (
       |  SELECT p_name, COUNT(*) AS n_parts$nExtra
       |  FROM part GROUP BY p_name),
       |tokset AS (
       |  SELECT DISTINCT p_name, tok FROM (
       |    SELECT p_name, unnest(string_split(p_name, ' ')) AS tok FROM n)),
       |dfq AS (SELECT tok, COUNT(*) AS df FROM tokset GROUP BY 1),
       |blk AS (
       |  SELECT p_name, tok AS blk FROM (
       |    SELECT t.p_name, t.tok,
       |      row_number() OVER (PARTITION BY t.p_name ORDER BY d.df, t.tok) AS rn
       |    FROM tokset t JOIN dfq d USING (tok))
       |  WHERE rn = 1),
       |sz AS (SELECT blk, COUNT(*) AS blk_n FROM blk GROUP BY 1),
       |nb AS (
       |  SELECT n.*, b.blk
       |  FROM n JOIN blk b USING (p_name) JOIN sz USING (blk)
       |  WHERE blk_n <= $FuzzyBlockCap)""".stripMargin

  private val entityResolutionOracle =
    s"""WITH RECURSIVE ${blockedDictSql(s",\n    ${graft.text.SplitHash.foldSql("p_name")} AS nid")},
       |m AS (
       |  SELECT a.nid AS u, b.nid AS v FROM nb a JOIN nb b
       |  ON a.blk = b.blk AND a.p_name < b.p_name
       |  WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.88),
       |e AS (SELECT u, v FROM m UNION SELECT v, u FROM m),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |cl AS (
       |  SELECT u AS nid, least(u, min(v)) AS entity FROM reach GROUP BY u),
       |lab AS (
       |  SELECT n.p_name, n.n_parts, coalesce(cl.entity, n.nid) AS entity
       |  FROM n LEFT JOIN cl ON n.nid = cl.nid)
       |SELECT min(p_name) AS canonical_name, COUNT(*) AS n_aliases,
       |  CAST(SUM(n_parts) AS BIGINT) AS total_parts
       |FROM lab GROUP BY entity""".stripMargin

  private val rangeBandsValues = RangeBands
    .map { case (id, lo, hi) => s"($id, $lo, $hi)" }.mkString(", ")

  val all: Seq[Q] = Seq(
    Q("join_inner",
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)(joinInner),
    Q("join_broadcast",
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 10 GROUP BY p_brand""".stripMargin)(joinBroadcast),
    Q("join_semi",
      """SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_nationkey""".stripMargin)(joinSemi),
    Q("join_anti",
      """SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_nationkey""".stripMargin)(joinAnti),
    Q("join_left",
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin)(joinLeft),
    Q("join_right",
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0) AS total
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin)(joinRight),
    Q("join_full",
      """SELECT COALESCE(c.nk, s.nk) AS nk, c.n_cust, s.n_supp FROM
        |  (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL JOIN
        |  (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        |ON c.nk = s.nk""".stripMargin)(joinFull),
    Q("join_salted",
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin)(joinSalted(_, _)),
    Q("join_theta",
      """SELECT c_nationkey, COUNT(*) AS n_pairs
        |FROM customer JOIN supplier
        |  ON c_nationkey = s_nationkey AND s_acctbal > c_acctbal
        |GROUP BY c_nationkey""".stripMargin)(joinTheta),
    Q("join_bloom",
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000
        |GROUP BY c_mktsegment""".stripMargin)(joinBloom),
    Q("join_range_bucketed",
      s"""SELECT band_id, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |JOIN (VALUES $rangeBandsValues) AS bands(band_id, lo, hi)
         |  ON l_quantity >= lo AND l_quantity < hi
         |GROUP BY band_id""".stripMargin)(joinRangeBucketed),
    Q("join_interval",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |u AS (
        |  SELECT user_id, CAST(floor(us / 86400000000.0) AS BIGINT) AS u_day,
        |    MIN(us) AS u_start, MAX(us) AS u_end
        |  FROM e GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, CAST(floor(us / 86400000000.0) AS BIGINT) AS b_day,
        |    MIN(us) AS b_start, MAX(us) AS b_end
        |  FROM e GROUP BY 1, 2)
        |SELECT event_type, COUNT(*) AS n_pairs,
        |  CAST(SUM(least(u_end, b_end) - greatest(u_start, b_start)) AS BIGINT)
        |    AS overlap_us
        |FROM u JOIN b ON u_start <= b_end AND b_start <= u_end
        |GROUP BY 1""".stripMargin)(joinInterval),
    Q("join_fuzzy",
      s"""WITH ${blockedDictSql("")}
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM nb a JOIN nb b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin)(joinFuzzy),
    Q("join_fuzzy_jaro",
      s"""WITH ${blockedDictSql("")}
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim,
        |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM nb a JOIN nb b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.88"""
        .stripMargin)(joinFuzzyJaro),
    Q("entity_resolution", entityResolutionOracle)(entityResolution),
  )
}
