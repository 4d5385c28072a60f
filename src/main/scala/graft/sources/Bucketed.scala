package graft.sources

import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Staged, Tables}

/** Storage-layout levers: bucketing and partition pruning.
  *
  * The reference has exactly one physical layout — whole text files
  * split into contiguous map slices (reference master.py:234-256) —
  * so every join it could express re-shuffles its full input. At
  * 100 TB the decisive storage decisions happen at WRITE time:
  *
  *  - **Bucketing**: pre-hash-partition (and pre-sort) both fact
  *    tables on the join key when they land. Every later
  *    orderkey-join is then a zero-exchange sort-merge join — the
  *    single biggest shuffle eliminated in a star-schema pipeline,
  *    paid once at ingest instead of per query.
  *  - **Partition pruning**: lay data out by a coarse time/tenant key
  *    so a day-scoped query opens one directory, not the table.
  *    Pruning happens at plan time from the file listing — zero data
  *    touched for excluded partitions (the scan reports
  *    `PartitionFilters`, pinned in BucketedSpec).
  *
  * Both round-trips are under the differential gate: the bucketed /
  * partitioned copies are staged once per fixture dir
  * ([[graft.Staged]]) and the DuckDB oracle computes from the
  * ORIGINAL parquet, so a row lost or re-typed by the layout step
  * flips the check.
  */
object Bucketed {

  private val Buckets = 8

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** A projected copy of `table`, bucketed and sorted on `key`. */
  private[sources] def bucketedTable(
      s: SparkSession, dir: String, table: String, key: String,
      cols: Seq[String]): DataFrame =
    Staged.table(s, "bucketed", dir, s"b_$table", Buckets, key) {
      Tables.load(s, dir, table).select(cols.map(col): _*)
    }

  /** Fact-to-fact join on the bucket key: lineitem ⋈ orders with both
    * sides pre-bucketed on orderkey. The join plans as a sort-merge
    * join with NO exchange on either side (bucket layout satisfies the
    * required hash distribution; the sortBy satisfies the merge
    * order) — the only shuffle left in the query is the tiny
    * post-join priority rollup. BucketedSpec pins exactly that shape.
    */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    val l = bucketedTable(s, dir, "lineitem", "l_orderkey",
      Seq("l_orderkey", "l_extendedprice", "l_discount"))
    val o = bucketedTable(s, dir, "orders", "o_orderkey",
      Seq("o_orderkey", "o_orderpriority"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  /** Events re-laid-out as day-partitioned parquet, staged once per
    * dir. `day` is a directory key, not a data column — the
    * 30 fixture days become 30 directories, the shape a 100 TB event
    * log actually has. The key is the UTC-calendar day computed from
    * the raw epoch micros (floor division, so pre-1970 instants also
    * land on their calendar day) — NOT date_format, which renders in
    * the session timezone: a non-UTC session writing this layout
    * first would shift every partition boundary, and the staged copy
    * (written once per JVM) would then pin the shift for every later
    * gated run. The oracle's timezone-naive CAST(ts AS DATE) sees the
    * same UTC day by construction.
    */
  private[sources] def partitionedEventsDir(s: SparkSession, dir: String): String =
    Staged.dir("part_events", dir) { out =>
      val utcDay = expr("date_add(DATE'1970-01-01', " +
        "CAST((unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) " +
        "div 86400000000 AS INT))")
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          utcDay.cast("string").as("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
    }

  /** One-day rollup over the partitioned layout. The day predicate is
    * resolved against directory names during planning, so 29 of the 30
    * partitions are never opened — `PartitionFilters` in the scan,
    * data-proportional to the day, not the table.
    */
  def partitionPruned(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(partitionedEventsDir(s, dir))
      .filter(col("day") === "2024-01-15")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))

  val all: Seq[Q] = Seq(
    Q("join_bucketed",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)(joinBucketed),
    Q("source_partition_pruned",
      """SELECT event_type, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY 1""".stripMargin)(partitionPruned))
}
