package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}

/** Aggregation surface (SURVEY.md §2.4): distinct aggregates,
  * moment-based statistics, rollup/cube/grouping-sets, pivot, approx
  * distinct. The reference's only aggregation is a full group-by-key
  * with a user reducer and no combiner (reference worker.py:193-207);
  * every query here gets Catalyst's partial aggregation for free.
  *
  * Statistics are computed from exact decimal power sums (sum x,
  * sum x²) so results are independent of partitioning / accumulation
  * order — the same plan is correct at 32 or 100,000 partitions.
  */
object Aggregates {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))

  /** min/max/mean/variance via exact power sums, finished in double.
    * The finished values are rounded (6 / 2 decimals): the power sums
    * are order-independent decimals, but the final double divisions
    * can differ from the oracle's by an ulp, which an exact compare
    * would flag (seen at sf0.001).
    */
  def aggStats(s: SparkSession, dir: String): DataFrame = {
    val p = dec(col("l_extendedprice"))
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        sum(p).cast("double").as("s1"),
        sum(p * p).cast("double").as("s2"))
      .select(col("l_linestatus"), col("n"), col("min_price"), col("max_price"),
        round(col("s1") / col("n"), 6).as("avg_price"),
        // n=1 → sample variance undefined: NULL, not a /0 ANSI error
        when(col("n") > 1,
          round((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), 2))
          .as("var_price"))
  }

  def aggRollup(s: SparkSession, dir: String): DataFrame =
    // lineitemSpread: rollup expands each row x3 before the partial
    // aggregate; spread, the expansion runs on 32 tasks
    Tables.lineitemSpread(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  def aggCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))

  def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }

  /** Pivot: one output column per order status. Spark's pivot yields
    * NULL for absent combinations; fill 0 to match COUNT FILTER.
    */
  def aggPivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0, Seq("F", "O", "P"))

  /** Unpivot (melt) — the inverse of aggPivot: wide per-status counts
    * back to (priority, name, val) rows. Pure row-local reshaping
    * after the aggregation, no extra shuffle.
    */
  def aggUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(when(col("o_orderstatus") === "F", 1)).as("f_cnt"),
        count(when(col("o_orderstatus") === "O", 1)).as("o_cnt"),
        count(when(col("o_orderstatus") === "P", 1)).as("p_cnt"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("f_cnt"), col("o_cnt"), col("p_cnt")), "name", "val")

  /** t-digest/Greenwald-Khanna sketch percentile — the 100 TB
    * replacement for aggPercentiles' exact sort. This is the
    * production form (sketch only); the registered query is
    * [[aggApproxPercentiles]], which audits it against the exact
    * percentile so the DuckDB gate can machine-check the error bound.
    */
  def aggApproxPercentilesSketch(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      // one sketch serves both quantiles (array form), not two
      .agg(approx_percentile(col("l_extendedprice"),
        array(lit(0.5), lit(0.9)), lit(1000)).as("aps"))
      .select(col("l_returnflag"),
        element_at(col("aps"), 1).as("ap50"),
        element_at(col("aps"), 2).as("ap90"))

  /** Gate-audited sketch percentile: the sketch estimates join the
    * exact per-group percentiles, and the output carries the exact
    * values plus `within 5%` verdict booleans. The raw estimate is
    * deliberately NOT a column — sketch algorithms differ across
    * engines, so it can never hash-match an oracle; the booleans can,
    * and turn the spec's error bound into a driver-checkable oracle
    * row (estimate out of bound → FALSE → hash mismatch → red gate).
    * The exact side exists only to audit the sketch at fixture scale;
    * production callers use [[aggApproxPercentilesSketch]].
    */
  def aggApproxPercentiles(s: SparkSession, dir: String): DataFrame =
    // r11 (guide §2.4): exact and sketch used to be two separate
    // aggregation pipelines over lineitem joined on the group key —
    // two fact scans, two shuffles, one join. Both are aggregate
    // functions over the same grouping, so ONE groupBy computes both
    // in a single pass (identical values, the join disappears).
    Tables.lineitemSpread(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_extendedprice"), array(lit(0.5), lit(0.9))).as("ps"),
        approx_percentile(col("l_extendedprice"),
          array(lit(0.5), lit(0.9)), lit(1000)).as("aps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 6).as("p50"),
        round(element_at(col("ps"), 2), 6).as("p90"),
        element_at(col("aps"), 1).as("ap50"),
        element_at(col("aps"), 2).as("ap90"))
      .select(col("l_returnflag"), col("p50"), col("p90"),
        (abs(col("ap50") - col("p50")) / col("p50") <= 0.05).as("ap50_ok"),
        (abs(col("ap90") - col("p90")) / col("p90") <= 0.05).as("ap90_ok"))

  /** HLL++ sketch — the production form (sketch only, no exact
    * counterpart in the same plan: pairing it with countDistinct at
    * 100 TB would make the exact side the bottleneck and defeat the
    * sketch). The registered query is [[aggApproxDistinct]], the
    * fixture-scale audit.
    */
  def aggApproxDistinctSketch(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))

  /** Gate-audited HLL++: exact per-group distinct count plus a
    * `within 5%` verdict for the sketch estimate (Spark's default rsd
    * is 5%). Same contract as [[aggApproxPercentiles]]: the estimate
    * itself can't hash-match a cross-engine oracle, its error bound
    * can.
    */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    exact.join(aggApproxDistinctSketch(s, dir), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          / col("exact_parts").cast("double") <= 0.05).as("est_ok"))
  }

  /** Mergeable approx-distinct sketches (HLL, Apache DataSketches) —
    * the sketch counterpart of [[aggMergePartials]]: per-(flag,
    * status) sketches of the part-key domain are UNIONED per flag and
    * estimated, next to the direct per-flag sketch estimate.
    * merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B) is what lets a
    * 100 TB pipeline keep per-partition/day sketches and answer any
    * rollup without rescanning the data. Register contents merge
    * losslessly, but DataSketches unions through an HLL_8 gadget
    * while a direct build estimates from HLL_4, so the two estimates
    * differ by ≈1% — ApproxDistinctSpec pins merged-vs-direct ≤2%
    * and both ≤5% from exact. DuckDB's approx_distinct is a
    * different algorithm, so the ESTIMATES can't cross an engine
    * boundary — the registered [[approxDistinctUnion]] audits them
    * instead.
    */
  def approxDistinctUnionSketch(s: SparkSession, dir: String): DataFrame = {
    val merged = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_distinct"))
    val direct = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey")))
        .as("direct_distinct"))
    merged.join(direct, Seq("l_returnflag"))
  }

  /** Gate-audited sketch union: exact distinct count per flag plus
    * three verdicts — merged sketch ≤5% from exact, direct sketch
    * ≤5% from exact, merged-vs-direct ≤2% (the HLL_8-gadget drift the
    * union path introduces). Any estimate outside its bound flips a
    * boolean and fails the hash compare.
    */
  def approxDistinctUnion(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    val err = (a: Column, b: Column) => abs(a - b) / b.cast("double")
    exact.join(approxDistinctUnionSketch(s, dir), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (err(col("merged_distinct"), col("exact_parts")) <= 0.05).as("merged_ok"),
        (err(col("direct_distinct"), col("exact_parts")) <= 0.05).as("direct_ok"),
        (err(col("merged_distinct"), col("direct_distinct")) <= 0.02)
          .as("merge_consistent"))
  }

  /** k-anonymity audit over a quasi-identifier tuple — the
    * re-identification screen run before a dataset leaves the
    * pipeline: every (nation, market-segment) equivalence class with
    * its population and a `risky` flag for classes smaller than k
    * (those rows are individually identifiable from the QI alone and
    * must be suppressed or generalized). One partial+final aggregate;
    * output is |QI-domain| rows at any table size.
    */
  val KAnonymity = 10L
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        (col("n") < KAnonymity).as("risky"))

  /** l-diversity audit — k-anonymity's companion check: a QI class
    * can be populous (k-anonymous) yet still leak if everyone in it
    * shares the same SENSITIVE value (the homogeneity attack). Per
    * (nation, market-segment) class, count distinct sensitive values
    * (account-balance bands of 1000) and flag classes with fewer than
    * l of them. Same single partial+final aggregate shape as
    * [[kAnonymity]] — the distinct lands on the class key, so the
    * fact table shuffles once; output is |QI-domain| rows at any
    * table size.
    */
  val LDiversity = 3L
  def lDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        countDistinct(floor(col("c_acctbal") / 1000).cast("long"))
          .as("n_sensitive"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        col("n_sensitive"), (col("n_sensitive") < LDiversity).as("homogeneous"))

  /** Equi-depth (equi-height) histogram of order totals — the column
    * statistic CBOs and drift monitors prefer over equi-width bins
    * (every bucket carries ≈the same row mass, so the tails aren't
    * crushed into one bar). Boundaries are the B−1 interior exact
    * percentiles, computed in ONE sort-aggregate (array percentile —
    * the aggPercentiles discipline) and collected as a model-sized
    * scalar row (B−1 doubles — the kmeansAssign "centroids as plan
    * literals" trade); the bucket assignment is then a map-only
    * literal-comparison pass and the final rollup one B-row
    * aggregate. No per-row window, no global sort of the data.
    *
    * Cross-engine determinism: both engines use the identical
    * sort-based linear interpolation (Spark `percentile` ≡ DuckDB
    * `quantile_cont`), and a boundary can only coincide with a data
    * value when the interpolation lands ON a sample (both engines
    * then produce that exact value), so the strict `>` bucket rule
    * draws the same line on both sides.
    */
  val EquidepthBuckets = 10

  /** Bucket id from collected boundary literals — the count of
    * boundaries strictly below the value. ONE definition per engine
    * side (the SplitHash discipline), shared with
    * [[Maintenance.psiDrift]] so the two binning operators can never
    * draw different lines.
    */
  private[graft] def bucketByBoundaries(v: Column, bs: Seq[Double]): Column =
    bs.foldLeft(lit(0)) { (acc, b) => acc + when(v > lit(b), 1).otherwise(0) }

  /** [[bucketByBoundaries]] in the oracle dialect: the CASE chain over
    * a `qs` quantile list in scope.
    */
  private[ops] def bucketCasesSql(vExpr: String, buckets: Int): String =
    (1 until buckets)
      .map(i => s"(CASE WHEN $vExpr > qs[$i] THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** The interior quantile points for a `buckets`-way equi-depth
    * split, as SQL list content.
    */
  private[ops] def quantilePointsSql(buckets: Int): String =
    (1 until buckets).map(i => s"${i.toDouble / buckets}").mkString(", ")

  def histogramEquidepth(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val qs = (1 until EquidepthBuckets).map(_.toDouble / EquidepthBuckets)
    val boundaries = o
      .agg(percentile(col("o_totalprice"), array(qs.map(lit): _*)).as("bs"))
      .head().getSeq[Double](0) // B−1 scalars: model-sized, like centroids
    o.groupBy(bucketByBoundaries(col("o_totalprice"), boundaries)
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
  }

  private val equidepthOracle =
    s"""WITH b AS (
       |  SELECT quantile_cont(o_totalprice,
       |    [${quantilePointsSql(EquidepthBuckets)}]) AS qs FROM orders)
       |SELECT CAST(${bucketCasesSql("o_totalprice", EquidepthBuckets)}
       |    AS BIGINT) AS bucket,
       |  COUNT(*) AS n_rows,
       |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
       |FROM orders, b GROUP BY 1""".stripMargin

  /** Per-type trimmed mean (10–90 interior mean) — the robust
    * location estimate telemetry dashboards prefer over the raw mean
    * when a metric has fat tails: two passes, first a per-group exact
    * percentile aggregate for the trim bounds (|types| rows,
    * broadcast back), then one conditional aggregate over the fact
    * table. The trim bounds are interpolated identically in both
    * engines (the [[aggPercentiles]] argument), and the kept-mass
    * mean divides an exact decimal sum — no accumulation-order
    * noise.
    */
  def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val bounds = e.groupBy(col("event_type"))
      .agg(percentile(col("value"), array(lit(0.1), lit(0.9))).as("ps"))
      .select(col("event_type"),
        element_at(col("ps"), 1).as("lo"), element_at(col("ps"), 2).as("hi"))
    val kept = col("value").between(col("lo"), col("hi"))
    e.join(broadcast(bounds), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(kept, lit(1L)).otherwise(lit(0L))).as("n_kept"),
        sum(when(kept, dec(col("value")))).cast("double").as("kept_sum"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"))
      .select(col("event_type"), col("n_total"), col("n_kept"),
        round(col("kept_sum") / col("n_kept").cast("double"), 6)
          .as("trimmed_mean"),
        round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
  }

  private val trimmedMeanOracle =
    """WITH b AS (
      |  SELECT event_type, quantile_cont(value, 0.1) AS lo,
      |    quantile_cont(value, 0.9) AS hi
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN value BETWEEN lo AND hi THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  round(CAST(SUM(CASE WHEN value BETWEEN lo AND hi
      |      THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN value BETWEEN lo AND hi THEN 1 ELSE 0 END)
      |      AS DOUBLE), 6) AS trimmed_mean,
      |  round(lo, 6) AS lo, round(hi, 6) AS hi
      |FROM events e JOIN b USING (event_type)
      |GROUP BY e.event_type, lo, hi""".stripMargin

  /** Day-of-week seasonality profile per event type — the weekly-
    * periodicity telemetry a traffic model (or an anomaly detector's
    * baseline) is built from: per (event_type, dow) cell, event count,
    * share of the type's week, and exact-decimal value mass. One
    * partial+final aggregate to a |types|×7 frame; the share window
    * partitions by type over that model-sized aggregate. Weekday
    * numbering is pinned to DuckDB's (0 = Sunday) so one convention
    * exists on both sides.
    */
  def seasonalityProfile(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("value_sum"))
    cells.select(col("event_type"), col("dow"), col("n_events"),
      round(col("n_events") / sum(col("n_events"))
        .over(Window.partitionBy(col("event_type"))).cast("double"), 6)
        .as("dow_share"),
      col("value_sum"))
  }

  private val seasonalityOracle =
    """SELECT event_type, CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT)
      |    AS dow,
      |  COUNT(*) AS n_events,
      |  round(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type)
      |    AS DOUBLE), 6) AS dow_share,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sketch set-algebra: intersection size via inclusion–exclusion
    * over three mergeable HLL sketches (|A∩B| ≈ |A|+|B|−|A∪B|) —
    * the audience-overlap primitive when A and B are too big to
    * join exactly. ONE pass builds all three sketches as conditional
    * aggregates (no self-join of the fact table); the exact
    * intersection — computed per-key (max(inA), max(inB)) so the fact
    * table shuffles once — audits the estimate with a ±15% verdict
    * (three ±5%-rsd estimates compound through the subtraction;
    * deterministic for a fixed corpus, green at all three fixture
    * scales). Production callers keep the sketches and skip the
    * exact side.
    */
  def hllIntersection(s: SparkSession, dir: String): DataFrame = {
    val inA = col("o_totalprice") > 300000
    val inB = col("o_orderstatus") === "F"
    val o = Tables.orders(s, dir)
    val est = o.agg(
      hll_sketch_estimate(hll_sketch_agg(when(inA, col("o_custkey"))))
        .as("est_a"),
      hll_sketch_estimate(hll_sketch_agg(when(inB, col("o_custkey"))))
        .as("est_b"),
      hll_sketch_estimate(hll_sketch_agg(when(inA || inB, col("o_custkey"))))
        .as("est_u"))
      .select((col("est_a") + col("est_b") - col("est_u")).as("est_i"))
    val exact = o.groupBy(col("o_custkey"))
      .agg(max(inA).as("a"), max(inB).as("b"))
      .filter(col("a") && col("b"))
      .agg(count(lit(1)).as("exact_intersection"))
    exact.crossJoin(est)
      .select(col("exact_intersection"),
        (abs(col("est_i") - col("exact_intersection"))
          / col("exact_intersection").cast("double") <= 0.15).as("est_ok"))
  }

  /** Exact percentiles (sort-based, linear interpolation — same
    * definition as DuckDB quantile_cont) and Pearson correlation.
    * corr accumulates co-moments whose merge order varies with
    * partitioning; round(6) absorbs the ~1e-15 relative noise. The
    * 100 TB variant of the percentile is approx_percentile (sketch,
    * spec-tested like HLL) — the exact one needs a per-group sort.
    */
  def aggPercentiles(s: SparkSession, dir: String): DataFrame =
    // lineitemSpread: the per-group percentile count-maps build in the
    // map stage; spread they build on 32 tasks (r12: 1.20->0.87 s)
    Tables.lineitemSpread(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // one array-typed percentile: a single sort serves all three
        // quantiles instead of three independent sort-aggregations
        percentile(col("l_extendedprice"),
          array(lit(0.5), lit(0.9), lit(0.99))).as("ps"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("price_qty_corr"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 6).as("p50"),
        round(element_at(col("ps"), 2), 6).as("p90"),
        round(element_at(col("ps"), 3), 6).as("p99"),
        col("price_qty_corr"))

  /** Least-squares regression aggregates (slope / intercept / R²) of
    * extended price on quantity per return flag — the regr_* family,
    * computed from exact decimal power sums instead of the built-in
    * streaming co-moment accumulators: the six sufficient statistics
    * (n, Σx, Σy, Σx², Σxy, Σy²) are order-independent decimals (the
    * aggStats discipline), and the closed-form finish is a fixed
    * scalar double expression both engines evaluate identically. The
    * built-ins merge co-moments in partition order — bitwise
    * nondeterministic under re-partitioning, which is exactly what
    * the driver's hash compare (and a 100k-partition re-run) would
    * expose. One partial+final hash aggregate; the finish runs on
    * |groups| rows.
    */
  def regrTrend(s: SparkSession, dir: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    // lineitemSpread: 6 decimal power sums per row (r12: 0.82->0.50 s)
    Tables.lineitemSpread(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(x * y).cast("double").as("sxy"),
        sum(y * y).cast("double").as("syy"))
      .select(col("l_returnflag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary"),
        col("sx"), col("sy"))
      .select(col("l_returnflag"), col("n"),
        when(col("varx") > 0, round(col("cov") / col("varx"), 6)).as("slope"),
        when(col("varx") > 0,
          round((col("sy") - col("cov") / col("varx") * col("sx")) / col("n"), 6))
          .as("intercept"),
        when(col("varx") > 0 && col("vary") > 0,
          round(col("cov") * col("cov") / (col("varx") * col("vary")), 6))
          .as("r2"))
  }

  private val regrTrendOracle =
    """WITH g AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
      |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT l_returnflag, n,
      |    n * sxy - sx * sy AS cov,
      |    n * sxx - sx * sx AS varx,
      |    n * syy - sy * sy AS vary, sx, sy
      |  FROM g)
      |SELECT l_returnflag, n,
      |  CASE WHEN varx > 0 THEN round(cov / varx, 6) END AS slope,
      |  CASE WHEN varx > 0
      |    THEN round((sy - cov / varx * sx) / n, 6) END AS intercept,
      |  CASE WHEN varx > 0 AND vary > 0
      |    THEN round(cov * cov / (varx * vary), 6) END AS r2
      |FROM d""".stripMargin

  /** Pairwise Pearson correlation matrix over three fact-table
    * measures (quantity, extended price, discount) per return flag —
    * the feature-correlation profile a modeling pipeline computes
    * before pruning redundant columns. Single pass, single
    * partial+final aggregate: the 9 sufficient statistics (n, three
    * sums, three sums of squares folded into products, three cross
    * products) are exact DECIMAL power sums (the [[regrTrend]] /
    * [[aggStats]] discipline — order-independent under any
    * partitioning, unlike the built-in co-moment `corr` whose merge
    * order varies run to run), and each correlation finishes as a
    * fixed closed-form double expression both engines evaluate
    * identically. O(cols²) statistics per group but one scan,
    * regardless of table size.
    */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val q = dec(col("l_quantity"))
    val p = dec(col("l_extendedprice"))
    val d = dec(col("l_discount"))
    val fin = (sxy: Column, sx: Column, sy: Column,
        sxx: Column, syy: Column, n: Column) =>
      round((n * sxy - sx * sy)
        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
    // lineitemSpread: 3 decimal casts + 6 decimal products + 10 sums
    // per row - the heaviest map side of the family (r12: 1.28->0.60 s)
    Tables.lineitemSpread(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(q).cast("double").as("sq"),
        sum(p).cast("double").as("sp"),
        sum(d).cast("double").as("sd"),
        sum(q * q).cast("double").as("sqq"),
        sum(p * p).cast("double").as("spp"),
        sum(d * d).cast("double").as("sdd"),
        sum(q * p).cast("double").as("sqp"),
        sum(q * d).cast("double").as("sqd"),
        sum(p * d).cast("double").as("spd"))
      .select(col("l_returnflag"), col("n"),
        fin(col("sqp"), col("sq"), col("sp"), col("sqq"), col("spp"), col("n"))
          .as("corr_qty_price"),
        fin(col("sqd"), col("sq"), col("sd"), col("sqq"), col("sdd"), col("n"))
          .as("corr_qty_disc"),
        fin(col("spd"), col("sp"), col("sd"), col("spp"), col("sdd"), col("n"))
          .as("corr_price_disc"))
  }

  private val corrMatrixOracle = {
    def s(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
    def s2(a: String, b: String) =
      s"CAST(SUM(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE)"
    def fin(sxy: String, sx: String, sy: String, sxx: String, syy: String) =
      s"round((n * $sxy - $sx * $sy) / sqrt((n * $sxx - $sx * $sx) * (n * $syy - $sy * $sy)), 6)"
    s"""WITH g AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    ${s("l_quantity")} AS sq, ${s("l_extendedprice")} AS sp,
       |    ${s("l_discount")} AS sd,
       |    ${s2("l_quantity", "l_quantity")} AS sqq,
       |    ${s2("l_extendedprice", "l_extendedprice")} AS spp,
       |    ${s2("l_discount", "l_discount")} AS sdd,
       |    ${s2("l_quantity", "l_extendedprice")} AS sqp,
       |    ${s2("l_quantity", "l_discount")} AS sqd,
       |    ${s2("l_extendedprice", "l_discount")} AS spd
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |  ${fin("sqp", "sq", "sp", "sqq", "spp")} AS corr_qty_price,
       |  ${fin("sqd", "sq", "sd", "sqq", "sdd")} AS corr_qty_disc,
       |  ${fin("spd", "sp", "sd", "spp", "sdd")} AS corr_price_disc
       |FROM g""".stripMargin
  }

  /** Mutual information between two categorical columns (return flag ×
    * line status) — the dependence screen for categorical feature
    * selection, reported per joint cell: observed count, joint
    * probability, pointwise MI in bits, and the total MI replicated
    * on every row. One partial+final aggregate builds the joint
    * spectrum (≤|X|·|Y| rows); the marginals and total are windows
    * over that already-aggregated frame, so the unpartitioned window
    * touches cells, never data rows. PMI's log2 argument is a ratio
    * of exact integer products (< 2^63) through one double division —
    * bit-identical across engines; log2 itself is the one libm call,
    * absorbed by the 6-dp round (the weightedSample ln() policy). The
    * MI total sums the 6-dp-ROUNDED per-cell terms through
    * DECIMAL(18,6) so accumulation order can't perturb it.
    */
  def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val joint = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_xy"))
    val wAll = graft.Bounded.global // |X|x|Y| categorical cells
    val ratio = (col("n_xy") * col("n")) / (col("n_x") * col("n_y"))
    joint
      .withColumn("n", sum(col("n_xy")).over(wAll))
      .withColumn("n_x",
        sum(col("n_xy")).over(Window.partitionBy(col("l_returnflag"))))
      .withColumn("n_y",
        sum(col("n_xy")).over(Window.partitionBy(col("l_linestatus"))))
      .withColumn("term",
        round((col("n_xy") / col("n").cast("double")) * log2(ratio), 6)
          .cast(DecimalType(18, 6)))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_xy"),
        round(col("n_xy") / col("n").cast("double"), 6).as("p_xy"),
        round(log2(ratio), 6).as("pmi"),
        sum(col("term")).over(wAll).cast("double").as("mi_bits"))
  }

  private val mutualInfoOracle =
    """WITH joint AS (
      |  SELECT l_returnflag, l_linestatus, COUNT(*) AS n_xy
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT l_returnflag, l_linestatus, n_xy,
      |    CAST(SUM(n_xy) OVER () AS BIGINT) AS n,
      |    CAST(SUM(n_xy) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n_x,
      |    CAST(SUM(n_xy) OVER (PARTITION BY l_linestatus) AS BIGINT) AS n_y
      |  FROM joint),
      |t AS (
      |  SELECT *,
      |    CAST(round((n_xy / CAST(n AS DOUBLE))
      |      * log2((n_xy * n) / (n_x * n_y)), 6) AS DECIMAL(18,6)) AS term
      |  FROM m)
      |SELECT l_returnflag, l_linestatus, n_xy,
      |  round(n_xy / CAST(n AS DOUBLE), 6) AS p_xy,
      |  round(log2((n_xy * n) / (n_x * n_y)), 6) AS pmi,
      |  CAST(SUM(term) OVER () AS DOUBLE) AS mi_bits
      |FROM t""".stripMargin

  /** A/B experiment readout — Welch's two-sample z statistic per
    * event type, with arms assigned by the content-stable
    * [[graft.text.SplitHash]] user bucket (the hash-split discipline:
    * assignment is a pure function of user_id, reproducible across
    * engines, runs, and partitionings — never an RNG). ONE
    * partial+final aggregate computes both arms' sufficient
    * statistics as conditional exact-decimal power sums (no self-join,
    * no second scan); the per-arm mean/variance are rounded to 6 dp
    * BEFORE the z composition so both engines build the statistic
    * from identical doubles. The fixture carries no real treatment
    * effect, so z hovers near 0 — exactly what an A/A test (the
    * standard pipeline health check) should show.
    */
  def abTestStats(s: SparkSession, dir: String): DataFrame = {
    val treat = graft.text.SplitHash.bucket(col("user_id")) < 500
    val v = dec(col("value"))
    val cnt = (p: Column) => count(when(p, 1))
    val s1 = (p: Column) => sum(when(p, v)).cast("double")
    val s2 = (p: Column) => sum(when(p, v * v)).cast("double")
    val mean = (s1c: Column, n: Column) => round(s1c / n, 6)
    val vr = (s1c: Column, s2c: Column, n: Column) =>
      round((s2c - s1c * s1c / n) / (n - 1), 6)
    Tables.events(s, dir)
      .withColumn("t", treat)
      .groupBy(col("event_type"))
      .agg(cnt(col("t")).as("n_t"), cnt(!col("t")).as("n_c"),
        s1(col("t")).as("s1_t"), s1(!col("t")).as("s1_c"),
        s2(col("t")).as("s2_t"), s2(!col("t")).as("s2_c"))
      .select(col("event_type"), col("n_t"), col("n_c"),
        mean(col("s1_t"), col("n_t")).as("mean_t"),
        mean(col("s1_c"), col("n_c")).as("mean_c"),
        vr(col("s1_t"), col("s2_t"), col("n_t")).as("var_t"),
        vr(col("s1_c"), col("s2_c"), col("n_c")).as("var_c"))
      .withColumn("z", round(
        (col("mean_t") - col("mean_c"))
          / sqrt(col("var_t") / col("n_t") + col("var_c") / col("n_c")), 6))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  private val abTestOracle = {
    val bucket = graft.text.SplitHash.bucketSql("user_id")
    s"""WITH g AS (
       |  SELECT event_type,
       |    COUNT(*) FILTER (($bucket) < 500) AS n_t,
       |    COUNT(*) FILTER (($bucket) >= 500) AS n_c,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
       |      FILTER (($bucket) < 500) AS DOUBLE) AS s1_t,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
       |      FILTER (($bucket) >= 500) AS DOUBLE) AS s1_c,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
       |      FILTER (($bucket) < 500) AS DOUBLE) AS s2_t,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
       |      FILTER (($bucket) >= 500) AS DOUBLE) AS s2_c
       |  FROM events GROUP BY 1),
       |m AS (
       |  SELECT event_type, n_t, n_c,
       |    round(s1_t / n_t, 6) AS mean_t,
       |    round(s1_c / n_c, 6) AS mean_c,
       |    round((s2_t - s1_t * s1_t / n_t) / (n_t - 1), 6) AS var_t,
       |    round((s2_c - s1_c * s1_c / n_c) / (n_c - 1), 6) AS var_c
       |  FROM g),
       |z AS (
       |  SELECT *, round((mean_t - mean_c)
       |    / sqrt(var_t / n_t + var_c / n_c), 6) AS z
       |  FROM m)
       |SELECT event_type, n_t, n_c, mean_t, mean_c, var_t, var_c, z,
       |  abs(z) > 1.96 AS significant
       |FROM z""".stripMargin
  }

  /** Re-aggregatable partial aggregates — the algebraic-merge
    * property hierarchical rollups rely on at 100 TB: per-split
    * partial states (count/sum/min/max over a hash split of the fact
    * table) merge under a second aggregation into exactly the
    * full-table result, without rescanning the data. The oracle
    * computes the direct full aggregate, so a pass means
    * merge(partials) ≡ total for any partitioning of the input — the
    * contract behind incremental daily-partition rollups (aggregate
    * today's partition, merge with yesterday's states) and behind
    * Catalyst's own partial+final split.
    */
  def aggMergePartials(s: SparkSession, dir: String): DataFrame = {
    val partials = Tables.lineitem(s, dir)
      .withColumn("split", pmod(col("l_orderkey"), lit(4)))
      .groupBy(col("l_returnflag"), col("split"))
      .agg(count(lit(1)).as("pn"),
        sum(dec(col("l_quantity"))).as("psum"),
        min(col("l_quantity")).as("pmin"),
        max(col("l_quantity")).as("pmax"))
    partials.groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).as("n"),
        sum(col("psum")).cast("double").as("sum_qty"),
        min(col("pmin")).as("min_qty"),
        max(col("pmax")).as("max_qty"))
      .withColumn("avg_qty", round(col("sum_qty") / col("n"), 6))
  }

  /** Equi-width numeric histogram — the column-profiling primitive
    * behind data-quality dashboards and partition-size planning. Bin
    * assignment is a codegen'd floor-divide on the scan (map-only),
    * the count is one partial+final hash aggregate, and the share
    * column is a window over the already-aggregated (≤#bins rows)
    * frame — so the single-partition global window touches bins, not
    * data, and the whole query is one corpus shuffle regardless of
    * scale. Bin edges are IEEE-double exact (values ≪ 2^53), so both
    * engines bin identically.
    */
  val HistWidth = 5000d
  def histogramPrices(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .select((floor(col("l_extendedprice") / HistWidth) * HistWidth)
        .cast("long").as("bin_lo"))
      .groupBy("bin_lo")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pct",
        round(col("cnt") / sum(col("cnt")).over(graft.Bounded.global), 6))
  }

  /** Percentile winsorization — the outlier-clipping cleanup step for
    * numeric telemetry (clip each event's value into its event-type's
    * [p05, p95] band, flagging which side was clipped). The band model
    * is one exact-percentile aggregate over the fact table (5 rows)
    * broadcast back onto the scan, so the clipping pass is map-shaped
    * at any scale. Bounds are rounded to 6 decimals BEFORE comparing
    * so the keep/clip boundary is identical in both engines (the same
    * policy as the quality gate's rounded rep_ratio).
    */
  def winsorizeValues(s: SparkSession, dir: String): DataFrame = {
    val pct = Tables.events(s, dir).groupBy("event_type")
      .agg(round(percentile(col("value"), lit(0.05)), 6).as("lo"),
        round(percentile(col("value"), lit(0.95)), 6).as("hi"))
    Tables.events(s, dir).join(broadcast(pct), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(least(greatest(col("value"), col("lo")), col("hi")), 6)
          .as("clipped"),
        (col("value") < col("lo")).as("clipped_low"),
        (col("value") > col("hi")).as("clipped_high"))
  }

  /** Robust per-user anomaly scores: z = (v − median) / (1.4826·MAD),
    * flagged at |z| > 3 — the outlier detector for telemetry streams.
    * Median/MAD instead of mean/stddev for two reasons: robustness
    * (one glitch can't drag the baseline it is judged against), and
    * DETERMINISM — exact percentiles are order-insensitive selections,
    * while a distributed stddev's floating-point accumulation order
    * varies run to run (the same reason the double-precision policy
    * sums in decimal). Median and MAD are rounded to 6 dp before the
    * score so both engines draw identical anomaly boundaries. Plan:
    * two aggregates on user_id — the join output is already hash-
    * partitioned on user_id, so the MAD aggregate and final join
    * reuse that exchange rather than reshuffling.
    */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    // eventsSpread: all three consumers key on user_id, so the one
    // fan-out exchange feeds the whole plan (r12 bench records:
    // 0.529→0.462 s)
    val e = Tables.eventsSpread(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val med = e.groupBy("user_id")
      .agg(round(percentile(col("value"), lit(0.5)), 6).as("med"))
    val mad = e.join(med, Seq("user_id"))
      .groupBy("user_id", "med")
      .agg(round(percentile(abs(col("value") - col("med")), lit(0.5)), 6)
        .as("mad"))
    val z = when(col("mad") > 0,
      round((col("value") - col("med")) / (lit(1.4826) * col("mad")), 6))
    e.join(mad, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("med"), col("mad"), z.as("z"),
        coalesce(abs(z) > 3, lit(false)).as("is_anomaly"))
  }

  /** Key-skew diagnostics — the telemetry behind the salted-join /
    * AQE-skew decisions: the top-20 heaviest join keys with their
    * corpus share and skew factor (count ÷ mean count). The per-key
    * aggregate is one partial+final shuffle; the top-20 cut is a
    * TakeOrderedAndProject (never a global sort); the global totals
    * (one row) ride in on a broadcast scalar cross join, the same
    * documented pattern as tfidf's corpus-N. Rank is a window over
    * the 20 surviving rows only.
    */
  def skewReport(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val totals = counts
      .agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    val top = counts.orderBy(col("cnt").desc, col("user_id")).limit(20)
    top.crossJoin(broadcast(totals))
      .withColumn("rnk", row_number().over(
        graft.Bounded.global.orderBy(col("cnt").desc, col("user_id"))))
      .select(col("user_id"), col("cnt"),
        round(col("cnt") / col("total").cast("double"), 6).as("share"),
        round(col("cnt") / (col("total").cast("double") / col("n_keys")), 6)
          .as("skew"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Order-independent table checksum — the replication / migration
    * integrity primitive: each row folds to a bounded hash through
    * the engine-shared md5-prefix construction (over the stable
    * non-float columns; float formatting is engine-specific) and the
    * table fingerprint is the SUM — commutative, so the checksum is
    * identical under any partitioning, ordering, or executor count.
    * One partial+final aggregate, no shuffle of row data, scales to
    * any table size.
    */
  def tableChecksum(s: SparkSession, dir: String): DataFrame = {
    val rowHash = pmod(
      graft.text.SplitHash.fold(concat_ws("|", col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment")).cast("binary")),
      lit(2147483647L))
    Tables.customer(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(rowHash).as("checksum"))
  }

  /** Declarative data-quality constraint sweep (the
    * expectations/dbt-test pattern): each constraint reports how many
    * rows it checked and how many violate it — range bounds, primary
    * key uniqueness, referential integrity, cross-table temporal
    * consistency, domain membership, and derived-column consistency.
    * The fixture's lineitem ships before its order half the time, so
    * the temporal rule genuinely fires; the rest hold — a DQ run on
    * real data looks exactly like this, one loud rule among quiet
    * ones.
    *
    * Scale shape: one aggregate pass per table (all of a table's
    * row-local rules fold into a single partial+final agg), and ONE
    * left join covering both referential integrity and the
    * cross-table rule — never a scan per rule. Output is
    * |constraints| rows.
    */
  def qualityConstraints(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val lchk = l.agg(
      count(lit(1)).as("n"),
      count(when(!col("l_quantity").between(1, 50), 1)).as("q_viol"),
      count(when(!col("l_discount").between(0, 0.1), 1)).as("d_viol"))
    val ochk = o.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_viol"),
      count(when(col("o_totalprice") <= 0, 1)).as("price_viol"))
    val jchk = l.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("o_orderkey").isNull, 1)).as("fk_viol"),
        count(when(col("o_orderkey").isNotNull &&
          col("l_shipdate") < col("o_orderdate"), 1)).as("ship_viol"))
    val echk = Tables.events(s, dir).agg(
      count(lit(1)).as("n"),
      count(when(col("value") < 0, 1)).as("neg_viol"),
      count(when(!col("event_type").isin(
        "view", "click", "purchase", "signup", "error"), 1)).as("dom_viol"))
    val dchk = Tables.documents(s, dir).agg(
      count(lit(1)).as("n"),
      count(when(col("n_chars") =!= length(col("text")), 1)).as("len_viol"))
    def unfold(df: DataFrame, rows: (String, String)*): DataFrame =
      rows.map { case (name, violCol) =>
        df.select(lit(name).as("constraint_name"),
          col("n").as("n_checked"), col(violCol).as("n_violations"))
      }.reduce(_.unionAll(_))
    unfold(lchk, "lineitem_quantity_range" -> "q_viol",
        "lineitem_discount_range" -> "d_viol")
      .unionAll(unfold(ochk, "orders_pk_unique" -> "pk_viol",
        "orders_price_positive" -> "price_viol"))
      .unionAll(unfold(jchk, "lineitem_fk_orders" -> "fk_viol",
        "lineitem_ships_after_order" -> "ship_viol"))
      .unionAll(unfold(echk, "events_value_nonneg" -> "neg_viol",
        "events_type_domain" -> "dom_viol"))
      .unionAll(unfold(dchk, "documents_nchars_consistent" -> "len_viol"))
  }

  private val constraintsOracle =
    """WITH lchk AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (l_quantity NOT BETWEEN 1 AND 50) AS q_viol,
      |    COUNT(*) FILTER (l_discount NOT BETWEEN 0 AND 0.1) AS d_viol
      |  FROM lineitem),
      |ochk AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_viol,
      |    COUNT(*) FILTER (o_totalprice <= 0) AS price_viol
      |  FROM orders),
      |jchk AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (o_orderkey IS NULL) AS fk_viol,
      |    COUNT(*) FILTER (o_orderkey IS NOT NULL
      |      AND l_shipdate < o_orderdate) AS ship_viol
      |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey),
      |echk AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (value < 0) AS neg_viol,
      |    COUNT(*) FILTER (event_type NOT IN
      |      ('view','click','purchase','signup','error')) AS dom_viol
      |  FROM events),
      |dchk AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (n_chars <> length(text)) AS len_viol
      |  FROM documents)
      |SELECT 'lineitem_quantity_range' AS constraint_name,
      |  n AS n_checked, q_viol AS n_violations FROM lchk
      |UNION ALL SELECT 'lineitem_discount_range', n, d_viol FROM lchk
      |UNION ALL SELECT 'orders_pk_unique', n, pk_viol FROM ochk
      |UNION ALL SELECT 'orders_price_positive', n, price_viol FROM ochk
      |UNION ALL SELECT 'lineitem_fk_orders', n, fk_viol FROM jchk
      |UNION ALL SELECT 'lineitem_ships_after_order', n, ship_viol FROM jchk
      |UNION ALL SELECT 'events_value_nonneg', n, neg_viol FROM echk
      |UNION ALL SELECT 'events_type_domain', n, dom_viol FROM echk
      |UNION ALL SELECT 'documents_nchars_consistent', n, len_viol FROM dchk""".stripMargin

  val all: Seq[Q] = Seq(
    Q("quality_constraints", constraintsOracle)(qualityConstraints),
    Q("table_checksum",
      s"""SELECT COUNT(*) AS n_rows,
         |  CAST(SUM(${graft.text.SplitHash.foldSql(
              "concat_ws('|', c_custkey, c_name, c_nationkey, c_mktsegment)")}
         |    % 2147483647) AS BIGINT) AS checksum
         |FROM customer""".stripMargin)(tableChecksum),
    Q("skew_report",
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM c),
        |top AS (SELECT * FROM c ORDER BY cnt DESC, user_id LIMIT 20)
        |SELECT user_id, cnt,
        |  round(cnt / CAST(total AS DOUBLE), 6) AS share,
        |  round(cnt / (CAST(total AS DOUBLE) / n_keys), 6) AS skew,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rnk
        |FROM top, t""".stripMargin)(skewReport),
    Q("anomaly_zscore",
      """WITH med AS (
        |  SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.user_id, med,
        |    round(quantile_cont(abs(e.value - med), 0.5), 6) AS mad
        |  FROM events e JOIN med USING (user_id) GROUP BY 1, 2)
        |SELECT event_id, e.user_id, value, med, mad,
        |  CASE WHEN mad > 0
        |    THEN round((value - med) / (1.4826 * mad), 6) END AS z,
        |  COALESCE(abs(CASE WHEN mad > 0
        |    THEN round((value - med) / (1.4826 * mad), 6) END) > 3, FALSE)
        |    AS is_anomaly
        |FROM events e JOIN mad USING (user_id)""".stripMargin)(anomalyZscore),
    Q("winsorize_values",
      """WITH p AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS lo,
        |    round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        |  round(least(greatest(value, lo), hi), 6) AS clipped,
        |  value < lo AS clipped_low,
        |  value > hi AS clipped_high
        |FROM events e JOIN p ON e.event_type = p.event_type""".stripMargin)(
      winsorizeValues),
    Q("histogram_prices",
      """WITH h AS (
        |  SELECT CAST(floor(l_extendedprice / 5000) * 5000 AS BIGINT) AS bin_lo,
        |    COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT bin_lo, cnt,
        |  round(cnt / CAST(SUM(cnt) OVER () AS DOUBLE), 6) AS pct
        |FROM h""".stripMargin)(histogramPrices),
    Q("agg_distinct",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(aggDistinct),
    Q("agg_stats",
      """WITH g AS (
        |  SELECT l_linestatus, COUNT(*) AS n,
        |    MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_linestatus)
        |SELECT l_linestatus, n, min_price, max_price,
        |  round(s1 / n, 6) AS avg_price,
        |  CASE WHEN n > 1
        |    THEN round((s2 - s1 * s1 / n) / (n - 1), 2) END AS var_price
        |FROM g""".stripMargin)(aggStats),
    Q("agg_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)(aggRollup),
    Q("agg_cube",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)(aggCube),
    Q("agg_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)(aggGroupingSets),
    Q("agg_pivot",
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin)(aggPivot),
    Q("agg_unpivot",
      """SELECT o_orderpriority, name, CAST(val AS BIGINT) AS val FROM (
        |  SELECT o_orderpriority,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
        |    COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        |  FROM orders GROUP BY 1)
        |UNPIVOT (val FOR name IN (f_cnt, o_cnt, p_cnt))""".stripMargin)(aggUnpivot),
    Q("regr_trend", regrTrendOracle)(regrTrend),
    Q("corr_matrix", corrMatrixOracle)(corrMatrix),
    Q("ab_test_stats", abTestOracle)(abTestStats),
    Q("k_anonymity",
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
        |  COUNT(*) < 10 AS risky
        |FROM customer GROUP BY 1, 2""".stripMargin)(kAnonymity),
    Q("l_diversity",
      s"""SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
         |  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
         |    AS n_sensitive,
         |  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
         |    < $LDiversity AS homogeneous
         |FROM customer GROUP BY 1, 2""".stripMargin)(lDiversity),
    Q("histogram_equidepth", equidepthOracle)(histogramEquidepth),
    Q("seasonality_profile", seasonalityOracle)(seasonalityProfile),
    Q("trimmed_mean", trimmedMeanOracle)(trimmedMean),
    Q("hll_intersection",
      """SELECT COUNT(*) AS exact_intersection, TRUE AS est_ok FROM (
        |  SELECT o_custkey,
        |    MAX(o_totalprice > 300000) AS a,
        |    MAX(o_orderstatus = 'F') AS b
        |  FROM orders GROUP BY 1)
        |WHERE a AND b""".stripMargin)(hllIntersection),
    Q("mutual_info", mutualInfoOracle)(mutualInfo),
    Q("agg_merge_partials",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_qty
        |FROM lineitem GROUP BY 1""".stripMargin)(aggMergePartials),
    Q("agg_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
        |  round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(aggPercentiles),
    Q("agg_approx_distinct",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS est_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(aggApproxDistinct),
    Q("approx_distinct_union",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS merged_ok, TRUE AS direct_ok, TRUE AS merge_consistent
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(approxDistinctUnion),
    Q("agg_approx_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        |  TRUE AS ap50_ok, TRUE AS ap90_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(aggApproxPercentiles),
  )
}
