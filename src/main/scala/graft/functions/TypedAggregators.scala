package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.text.TextOps.tokensSql

/** Typed `Aggregator[IN, BUF, OUT]` surface (SURVEY.md §2.4 R16) —
  * the UDAF shape a reference user writes when the reduce is an
  * associative fold. The buffer merges associatively, so Spark runs
  * it with map-side partial aggregation; exact BigDecimal sums keep
  * the result independent of merge order (same policy as the
  * decimal-sum SQL aggregates).
  */
object TypedAggregators {

  /** Quantity-weighted mean price: Σ(w·x) / Σ(w), both exact. */
  object WeightedMean extends Aggregator[(BigDecimal, BigDecimal), (BigDecimal, BigDecimal), Double] {
    override def zero: (BigDecimal, BigDecimal) = (BigDecimal(0), BigDecimal(0))
    override def reduce(b: (BigDecimal, BigDecimal), a: (BigDecimal, BigDecimal)): (BigDecimal, BigDecimal) =
      (b._1 + a._1 * a._2, b._2 + a._1)
    override def merge(x: (BigDecimal, BigDecimal), y: (BigDecimal, BigDecimal)): (BigDecimal, BigDecimal) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (BigDecimal, BigDecimal)): Double =
      if (r._2 == 0) 0.0 else r._1.toDouble / r._2.toDouble
    override def bufferEncoder: Encoder[(BigDecimal, BigDecimal)] =
      Encoders.product[(BigDecimal, BigDecimal)] // decimal(38,18) — 20 integral digits
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Weighted mean price per return flag, via the Aggregator wrapped
    * as an untyped UDAF column (`functions.udaf`). The oracle is
    * plain decimal SQL — the Aggregator must agree with the
    * relational algebra exactly.
    */
  def aggWeightedMean(s: SparkSession, dir: String): DataFrame = {
    val wm = udaf(WeightedMean)
    // the Aggregator's input encoder is decimal(38,18); cast through
    // (18,2) first so values carry exactly the 2-decimal money scale.
    // lineitemSpread: the decimal(38,18) encoder work per row is the
    // heaviest map side in the registry (r12: 1.06->0.43 s)
    Tables.lineitemSpread(s, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").cast("decimal(38,18)").as("w"),
        col("l_extendedprice").cast("decimal(18,2)").cast("decimal(38,18)").as("x"))
      .groupBy(col("l_returnflag"))
      .agg(round(wm(col("w"), col("x")), 6).as("wmean_price"))
  }

  /** Count–Min sketch geometry: width 2048 → ε = 2/w ≈ 0.1% of the
    * stream length per estimate, depth 5 → overshoot probability
    * e⁻⁵ ≈ 0.7% per query. Fixed Murmur3 seeds make the sketch
    * content a pure function of the multiset of inputs — identical
    * under any partitioning or merge order (counters add
    * commutatively).
    */
  val CmsWidth = 2048
  val CmsDepth = 5

  private[graft] def cmsIndex(word: String, row: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.stringHash(word, row)
    java.lang.Math.floorMod(h, CmsWidth)
  }

  /** Point estimate = min over rows (the CMS query). */
  private[graft] def cmsEstimate(sketch: Array[Long], word: String): Long = {
    var best = Long.MaxValue
    var d = 0
    while (d < CmsDepth) {
      val c = sketch(d * CmsWidth + cmsIndex(word, d))
      if (c < best) best = c
      d += 1
    }
    best
  }

  /** Mergeable Count–Min sketch as a typed Aggregator — the custom
    * mergeable-sketch UDAF shape (the HLL rows cover Spark's built-in
    * sketches; this is the roll-your-own path a pipeline takes for a
    * sketch Spark lacks). The buffer is the flat d×w counter array;
    * `reduce` mutates in place (Aggregator contract allows returning
    * the same buffer), `merge` is elementwise addition — associative
    * and commutative, so Catalyst runs it with map-side partial
    * aggregation and the result is partition-invariant by
    * construction. At 100 TB this is one map-side-combined aggregate
    * producing a 10 KB row — the streaming heavy-hitter / quota
    * primitive.
    */
  object CountMinSketch extends Aggregator[String, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](CmsWidth * CmsDepth)
    override def reduce(b: Array[Long], word: String): Array[Long] = {
      var d = 0
      while (d < CmsDepth) { b(d * CmsWidth + cmsIndex(word, d)) += 1; d += 1 }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Gate-audited CMS heavy hitters, the sketch-audit contract the
    * HLL/percentile rows established: the exact top-20 tokens (a
    * TakeOrdered with the (cnt DESC, word) total tiebreak) carry two
    * verdict booleans per word — `est ≥ exact` (true by construction:
    * collisions only ADD) and `est ≤ exact + ⌈εN⌉` (the CMS
    * guarantee; deterministic for a fixed corpus + fixed seeds,
    * verified at all three fixture scales). The sketch estimates ride
    * a closure over the model-sized (10 KB) collected sketch — the
    * kmeans-centroid discipline: collecting a MODEL is legitimate,
    * and the scoring UDF touches only the 20 survivor rows, never the
    * corpus. Production callers take [[CountMinSketch]] itself (the
    * sketch row) and query it; the exact side exists to audit at
    * fixture scale.
    */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps.tokens
    val toks = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
    val cms = udaf(CountMinSketch)
    val sketch = toks.agg(cms(col("tok"))).head().getSeq[Long](0).toArray
    val n = toks.count()
    val slack = math.ceil(2.0 * n / CmsWidth).toLong
    val est = udf((w: String) => cmsEstimate(sketch, w))
    toks.groupBy(col("tok").as("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
      .withColumn("est", est(col("word")))
      .select(col("word"), col("cnt"),
        (col("est") >= col("cnt")).as("est_lower_ok"),
        (col("est") <= col("cnt") + lit(slack)).as("est_upper_ok"))
  }

  /** Join-cardinality estimation from per-side Count–Min sketches —
    * the sketch-algebra trick a planner uses to size `A ⋈ B` WITHOUT
    * running the join: the CMS inner product
    * min_d Σ_j cA[d][j]·cB[d][j] estimates Σ_k fA(k)·fB(k), which IS
    * the equi-join row count. Each side is one map-side-combined
    * sketch aggregate (a 10 KB model row); the dot product runs on
    * the driver over the two collected sketches (model-sized, the
    * kmeans-centroid discipline). The audited verdicts follow the
    * [[cmsHeavyHitters]] contract: the estimate can only
    * OVERESTIMATE (collision terms add), and the classic Markov
    * bound caps the overshoot at ε·|A|·|B| with ε = 2/width —
    * deterministic for fixed seeds, so both booleans hash-compare.
    * The exact join count rides along as a distributed aggregate to
    * audit at fixture scale; production callers keep the sketches
    * and skip it.
    */
  def joinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    val cms = udaf(CountMinSketch)
    val a = Tables.orders(s, dir).select(col("o_orderkey").cast("string").as("k"))
    val b = Tables.lineitem(s, dir).select(col("l_orderkey").cast("string").as("k"))
    // The two sketch builds are independent single-task-scan jobs over
    // different tables — run them concurrently (guide §2.6: overlap
    // independent jobs so the second job back-fills cores the first
    // leaves idle). Results are bitwise order-independent (CMS cells
    // are counter sums), so concurrency cannot perturb the estimate.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fA = Future(a.agg(cms(col("k"))).head().getSeq[Long](0).toArray)
    val fB = Future(b.agg(cms(col("k"))).head().getSeq[Long](0).toArray)
    val sA = Await.result(fA, Duration.Inf)
    val sB = Await.result(fB, Duration.Inf)
    // BigInt, not Long: dot is bounded by |A|·|B|, which wraps a Long
    // well below the table sizes this operator is documented for
    val est = (0 until CmsDepth).map { d =>
      (0 until CmsWidth).map(j =>
        BigInt(sA(d * CmsWidth + j)) * BigInt(sB(d * CmsWidth + j))).sum
    }.min
    // each sketch row's mass IS the side's row count (the linearity
    // invariant CmsSpec pins) — no second scan of either table
    val nA = (0 until CmsWidth).map(j => BigInt(sA(j))).sum
    val nB = (0 until CmsWidth).map(j => BigInt(sB(j))).sum
    val slack = (BigInt(2) * nA * nB + CmsWidth - 1) / CmsWidth
    def dec(v: BigInt): Column =
      lit(new java.math.BigDecimal(v.bigInteger)).cast("decimal(38,0)")
    val exact = col("exact_rows").cast("decimal(38,0)")
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("exact_rows"))
      .select(col("exact_rows"),
        (dec(est) >= exact).as("est_lower_ok"),
        (dec(est) <= exact + dec(slack)).as("est_upper_ok"))
  }

  val all: Seq[Q] = Seq(
    Q("agg_weighted_mean",
      """SELECT l_returnflag,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS wmean_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(aggWeightedMean),
    Q("cms_heavy_hitters",
      s"""SELECT tok AS word, COUNT(*) AS cnt,
        |  TRUE AS est_lower_ok, TRUE AS est_upper_ok
        |FROM (SELECT unnest($tokensSql) AS tok
        |      FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 20""".stripMargin)(
      cmsHeavyHitters),
    Q("join_size_estimate",
      // verdicts are TRUE by the CMS guarantee (deterministic for
      // fixed seeds); the oracle audits the exact side distributedly
      """SELECT (SELECT COUNT(*) FROM orders JOIN lineitem
        |          ON o_orderkey = l_orderkey) AS exact_rows,
        |  TRUE AS est_lower_ok, TRUE AS est_upper_ok""".stripMargin)(
      joinSizeEstimate),
  )
}
