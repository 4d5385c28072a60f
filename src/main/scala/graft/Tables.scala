package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central loader for the driver-generated parquet fixtures
  * (TESTDATA.md): TPC-H-ish star schema + `events` + `documents` +
  * `embeddings`, one parquet per table under the scale-factor dir.
  *
  * At 100 TB these would be partitioned parquet/iceberg table roots;
  * the single-file layout here is only the test fixture. All queries
  * take the dir as a parameter so the same code runs at any scale.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** How many independent scan tasks a parquet path can actually
    * yield. Spark splits files by size, but a parquet ROW GROUP is
    * the atomic read unit — a single-row-group file is one task no
    * matter how it is split, and every test fixture here is exactly
    * that (one file, one row group). Counting is bounded: once the
    * file count alone reaches `atLeast` no footer is opened, so at
    * real scale (thousands of files) this is a directory listing,
    * not a metadata sweep. Cached per path — layout is immutable for
    * a fixture's lifetime — but only when the count succeeds: a failed
    * listing or footer read is logged at WARN and answers `atLeast`
    * ("assume parallel enough", so no fan-out) for this call alone,
    * and the next call retries.
    */
  private val scanUnitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[graft] def scanUnits(s: SparkSession, path: String, atLeast: Int): Int = {
    val key = path + "#" + atLeast
    val cached = scanUnitCache.get(key)
    if (cached != null) cached.intValue()
    else try {
      val n = countScanUnits(s, path, atLeast)
      scanUnitCache.putIfAbsent(key, Integer.valueOf(n))
      n
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"scan-unit count failed for $path; assuming $atLeast " +
          s"(no map-side fan-out) for this scan: $e")
        atLeast
    }
  }

  private def countScanUnits(s: SparkSession, path: String, atLeast: Int): Int = {
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).toSeq.filter(f => f.isFile &&
          !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
      else Seq(st)
    }
    if (files.size >= atLeast) files.size
    else files.map { f =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try in.getRowGroups.size finally in.close()
    }.sum
  }

  /** Scale-adaptive map-side fan-out (optimization guide §2: make
    * partitioning scale-adaptive, never a constant tuned for one
    * deployment). When the scan can already feed at least
    * `defaultParallelism` tasks — any production-sized table — this
    * is the identity and the plan is untouched. When it cannot (the
    * single-row-group fixture files), every downstream map-side
    * operator — decimal casts, tokenization, shingling, partial
    * aggregation — would otherwise run inside ONE task while the
    * other cores idle (measured: the r11 driver bench's top queries
    * scale ~1.0× from 8→32 cores for exactly this reason). A hash
    * repartition on the table's canonical join key spreads that work;
    * the key choice makes the added exchange double as the join /
    * window exchange wherever downstream keys match (numPartitions ==
    * spark.sql.shuffle.partitions == cores under the bench session),
    * and Catalyst still pushes filters and column pruning below a
    * RepartitionByExpression, so scan-level pushdown is preserved.
    */
  private def spread(s: SparkSession, dir: String, table: String,
      key: String): DataFrame =
    spreadDf(s, load(s, dir, table), s"$dir/$table.parquet", key)

  private def spreadDf(s: SparkSession, df: DataFrame, path: String,
      key: String): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (scanUnits(s, path, cores) >= cores) df
    else df.repartition(cores, org.apache.spark.sql.functions.col(key))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** [[lineitem]] with the map side fanned out on l_orderkey. OPT-IN
    * per query, never blanket: an r12 full-sweep A/B showed the
    * fan-out exchange costs +0.15–0.3 s for consumers that reduce
    * lineitem cheaply (their partial aggregate already collapses rows
    * before any shuffle, so spreading only adds a 600k-row exchange —
    * agg_distinct 0.48→1.21 s, q20 0.66→1.29 s) while consumers with
    * heavy per-row map work win 2–3× (corr_matrix 1.28→0.60 s,
    * agg_weighted_mean 1.06→0.43 s, agg_percentiles 1.20→0.87 s:
    * decimal casts/products and percentile maps that otherwise run
    * inside the one scan task).
    */
  def lineitemSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "lineitem", "l_orderkey")

  /** [[lineitemSpread]] keyed on l_partkey — for the derived-partsupp
    * family (q2/q11): HashPartitioning(l_partkey) satisfies BOTH the
    * (l_partkey, l_suppkey) pair aggregate (subset rule) and the
    * downstream per-part window/aggregate, so the one fan-out exchange
    * replaces the aggregate exchange AND the window exchange.
    */
  def lineitemSpreadByPart(s: SparkSession, d: String): DataFrame =
    spread(s, d, "lineitem", "l_partkey")
  /** `events.ts` has shipped in two physical encodings across fixture
    * generations, so the loader adapts to what the file actually
    * holds (one schema probe, no data read):
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]) unless the session sets
    *    `spark.sql.legacy.parquet.nanosAsLong=true` at build time
    *    (GraftSession / Verify / Bench / TestSpark all do), which
    *    reads the column as a raw nanos long — truncated here to
    *    microseconds, matching DuckDB's `CAST(ts AS TIMESTAMP)`.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    *    TIMESTAMP_NTZ — cast to TIMESTAMP, which under the session's
    *    pinned UTC timezone keeps the same wall-clock instant DuckDB
    *    sees as a naive timestamp, so `unix_micros(ts)` ==
    *    `epoch_us(ts)` in every downstream comparison.
    * Either way downstream code sees one canonical shape: `ts` as
    * TIMESTAMP at microsecond precision. Session conf is never
    * mutated here — that would be a surprise for library users.
    */
  /** [[events]] with the map side fanned out on user_id (the window
    * family's partition key, so the exchange doubles as the window
    * exchange). OPT-IN per query: blanket-spreading events regressed
    * more queries than it helped (the 2 MB fixture makes most event
    * plans exchange-overhead-bound — measured r12: rolling_actives
    * 0.58→1.29 s, join_interval 0.74→1.26 s), but per-user
    * compute-heavy consumers win big (ewma_smooth 1.17→0.58 s).
    */
  def eventsSpread(s: SparkSession, d: String): DataFrame =
    spreadDf(s, events(s, d), s"$d/events.parquet", "user_id")

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long fixture
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  // documents is NOT spread: the fixture corpus is ~0.6 MB / 5k docs,
  // so single-task tokenization is already sub-0.1 s and the added
  // exchange is pure overhead (measured r12: word_count 0.28→0.69 s,
  // perplexity_bigram 1.15→2.33 s with a doc fan-out, keyed or
  // decoupled). At real scale a 100 TB corpus arrives as many row
  // groups and spread() would be the identity anyway.
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** [[embeddings]] with the map side fanned out — OPT-IN for
    * consumers whose per-row vector math dominates (same rationale
    * and evidence discipline as [[eventsSpread]]; measured r12:
    * dedup_embedding 0.99→0.25 s, while the memoized ANN/PQ probe
    * paths regressed under a blanket spread).
    */
  def embeddingsSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "embeddings", "vec_id")

  /** Injective filesystem/identifier key for a fixture dir. The
    * readable sanitized form alone is NOT injective ("/data/a-b" and
    * "/data/a_b" both sanitize to "_data_a_b" — two fixtures would
    * silently share one cached tmp copy), so an md5 prefix of the
    * original path is appended to make distinct dirs distinct.
    */
  def dirKey(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(dir.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    // leading "d": an absolute path sanitizes to a LEADING underscore
    // ("/root/…" → "_root_…"), and Spark's file index treats
    // underscore-prefixed names as hidden (the _SUCCESS/_metadata
    // convention) — a staged dir named that way is silently ignored
    // by DataFrame reads ("All paths were ignored" WARNs in the
    // bench log). The prefix keeps the key identifier-safe and
    // injective while never colliding with the hidden-file rule.
    s"d${dir.replaceAll("[^a-zA-Z0-9]", "_")}_$h"
  }
}
