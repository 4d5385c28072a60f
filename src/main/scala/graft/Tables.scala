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
    * not a metadata sweep. Memoized per (session, path) in a value
    * [[KeyedMemo]] — layout is immutable for a fixture's lifetime —
    * which stores only a successful count: a failed listing or footer
    * read is logged at WARN and answers `atLeast` ("assume parallel
    * enough", so no fan-out) for this call alone, and the next call
    * retries.
    */
  private val scanUnitMemo = KeyedMemo.values[Int]()

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[graft] def scanUnits(s: SparkSession, path: String, atLeast: Int): Int =
    try scanUnitMemo(s"scan_units#$atLeast", s, path)(countScanUnits(s, path, atLeast))
    catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"scan-unit count failed for $path; assuming $atLeast " +
          s"(no map-side fan-out) for this scan: $e")
        atLeast
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

  /** `events.ts` has shipped in two physical encodings across fixture
    * generations, so the loader adapts to what the file actually
    * holds (one schema probe, no data read):
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]) unless the session sets
    *    `spark.sql.legacy.parquet.nanosAsLong=true` at build time
    *    (MainSession, GraftSession and TestSpark all do), which
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

/** The one writer of on-disk fixture copies: every derived copy of a
  * fixture dir (re-encoded formats, layouts, TxLog tables, raw text,
  * durable indexes) lands at `$tmp/graft-src/<kind>/…<dirKey>…`, so
  * one walk of that root finds every copy of a fixture. Each copy is
  * written once — a directory once per JVM, a bucketed table once per
  * catalog — behind a lock on its own path, never a module-wide lock
  * held across Spark writes: copies of different keys stage
  * concurrently, and a body may stage another key (the MinHash
  * buckets table reads the sets table). Whatever a crashed run left at
  * the path is deleted before the write, and a write that throws
  * marks nothing, so the next call writes again.
  */
private[graft] object Staged {
  private val root = s"${sys.props("java.io.tmpdir")}/graft-src"

  /** path → fixture dir of every copy staged in this JVM; for
    * directories this is also the written-once mark.
    */
  private val staged = scala.collection.mutable.Map[String, String]()
  private val locks = scala.collection.mutable.Map[String, AnyRef]()

  private[graft] def stagedFor(dir: String): Seq[String] =
    staged.synchronized { staged.collect { case (p, d) if d == dir => p }.toSeq.sorted }

  /** Where a directory copy of kind `kind` for `dir` lives. */
  def path(kind: String, dir: String): String = s"$root/$kind/${Tables.dirKey(dir)}"

  private def once(out: String, dir: String)(done: => Boolean)(write: => Unit): Unit =
    locks.synchronized(locks.getOrElseUpdate(out, new Object)).synchronized {
      if (!done) {
        val f = new java.io.File(out)
        if (f.exists) org.apache.commons.io.FileUtils.forceDelete(f)
        write
        staged.synchronized { staged(out) = dir }
      }
    }

  /** A directory copy, written by `write(path)` once per JVM. */
  def dir(kind: String, fixtureDir: String)(write: String => Unit): String = {
    val out = path(kind, fixtureDir)
    once(out, fixtureDir)(staged.synchronized(staged.contains(out)))(write(out))
    out
  }

  /** A bucketed (and sorted) external table `graft_<name>_<dirKey>`,
    * written from `df` once per catalog. Bucket metadata lives in the
    * session catalog — `spark.table` reads recover the layout, plain
    * path reads would not — hence `saveAsTable`, not `.parquet(path)`.
    * Rows sort by `by`, then by `thenBy`.
    */
  def table(s: SparkSession, kind: String, dir: String, name: String,
      buckets: Int, by: String, thenBy: String*)(df: => DataFrame): DataFrame = {
    val table = s"graft_${name}_${Tables.dirKey(dir)}"
    val out = s"$root/$kind/$table"
    once(out, dir)(s.catalog.tableExists(table)) {
      df.write.mode("overwrite")
        .bucketBy(buckets, by).sortBy(by, thenBy: _*)
        .option("path", out)
        .saveAsTable(table)
    }
    s.table(table)
  }
}
