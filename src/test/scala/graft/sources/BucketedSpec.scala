package graft.sources

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the two storage-layout plan properties Bucketed.scala exists
  * for: the bucketed fact join runs without exchanging either side,
  * and the day filter prunes partitions at plan time.
  */
class BucketedSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed fact join is a zero-exchange sort-merge join") {
    // Broadcast would hide the bucket layout (valid, but not the
    // property under test) — disable it for the plan assertion only.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Bucketed.joinBucketed(spark, sfTiny)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ in:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).length
      // exactly one exchange: the post-join rollup. Zero on the join.
      assert(exchanges == 1, s"expected 1 exchange (final agg), got $exchanges:\n$p")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed scan selects all declared buckets") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Bucketed.joinBucketed(spark, sfTiny)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 8 out of 8"),
        s"bucket metadata not used by the scan:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dynamic partition pruning fires when the day filter arrives via a join") {
    // The static-pruning case (literal day) is the test below; here
    // the days to keep are only known from a DIMENSION table, the
    // real star-join shape — Spark must inject a runtime subquery
    // into the fact scan's PartitionFilters (dynamicpruning#...),
    // so only the dim's days are read. At 100 TB this is the
    // difference between scanning 2 days and scanning the table.
    import spark.implicits._
    val factDir = Bucketed.partitionedEventsDir(spark, sfTiny)
    val fact = spark.read.parquet(factDir)
    // DPP preconditions: a SELECTIVE predicate on the dim side (the
    // planner only prunes when the dim is filtered) that SURVIVES
    // optimization — over a local Seq the filter constant-folds into
    // the LocalTableScan, so the dim must be file-backed — and a
    // broadcast join (reuseBroadcastOnly reuses it as the pruning
    // subquery for free)
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp")
    try {
      val dimPath = dimDir.toString
      Seq(("2024-01-10", "campaign_a"), ("2024-01-20", "campaign_b"),
          ("2024-01-25", "other"))
        .toDF("day", "campaign")
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
        .filter(col("campaign").startsWith("campaign"))
    val joined = fact.join(dim, Seq("day"))
      .groupBy(col("campaign")).count()
    val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"no dynamic pruning subquery in the fact scan:\n${p.take(2000)}")
      assert(joined.collect().map(_.getLong(1)).sum > 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dimDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ANALYZE TABLE statistics reach the optimizer (CBO inputs)") {
    Bucketed.bucketedTable(spark, sfTiny, "orders",
      "o_orderkey", Seq("o_orderkey", "o_orderpriority"))
    val name = s"graft_b_orders_${graft.Tables.dirKey(sfTiny)}"
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    // rowCount reaches plan Statistics only under CBO
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table(name).queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined && stats.rowCount.get > 0,
        s"no rowCount after ANALYZE: $stats")
      assert(stats.sizeInBytes > 0)
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("day filter becomes a partition filter, not a data filter") {
    val df = Bucketed.partitionPruned(spark, sfTiny)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), s"no PartitionFilters in:\n$p")
    assert(p.contains("2024-01-15"), s"day literal not in partition filter:\n$p")
    // the pruned scan must not carry the day predicate as a row filter
    assert(!p.contains("PushedFilters: [IsNotNull(day)"),
      "day leaked into data filters — pruning did not happen at plan time")
    assert(df.count() > 0)
  }
}
