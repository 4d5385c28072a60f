package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evidence tool (CandidateEconomy's sibling): the skew story
  * measured on a fixture with REAL key skew — tools/skew10.py rewrites
  * l_partkey Zipf(1), putting ~7% of all lineitem rows on one part.
  * Three legs of the same lineitem⋈part brand rollup:
  *
  *  - plain:  shuffle hash/sort-merge join, AQE off — the shape that
  *            melts at scale when a hot key floods one reducer;
  *  - salted: [[graft.ops.Joins.joinSalted]]'s explicit (key, salt)
  *            spread, AQE off — the write-time fix;
  *  - aqe:    plain form again with AQE skew-join ON (thresholds
  *            lowered to fixture scale, as AqeSkewSpec pins; the
  *            defaults are sized for 256 MB cluster partitions) —
  *            the runtime fix.
  *
  * All three run with autoBroadcastJoinThreshold=-1: the 20k-row part
  * dim would otherwise broadcast and no leg would shuffle at all —
  * the skew problem only exists when the build side is too big to
  * broadcast, which is what the -1 simulates (at 100 TB, broadcast IS
  * the first answer when the dim fits). Result equality of the three
  * legs is asserted before timings are printed; one JSON line per
  * fixture dir.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val dirs: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else Seq(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = MainSession.build(defaultCpus = "32")
    val f3 = (d: Double) =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

    def plainJoin(dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"), count(lit(1)).as("n"))

    def withConfs[T](kv: (String, String)*)(body: => T): T = {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    // partitions ≫ cores — the cluster shape, where a uniform load
    // rides task waves evenly and ONE hot partition straggles across
    // them all: at 32 partitions the 7% Zipf head is only ~2x the
    // mean partition and disappears into scheduling noise; at 256 it
    // is ~18x — the shape that kills the reduce stage at 100 TB
    val base = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "256")
    val aqeOff = base :+ ("spark.sql.adaptive.enabled" -> "false")
    val aqeSkew = base ++ Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

    def time(df: => DataFrame): Double = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      pass() // warm-up
      math.min(pass(), pass())
    }

    for (dir <- dirs) {
      // result equality across the legs, before any timing
      def canon(df: DataFrame): Seq[String] =
        df.collect().map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}").sorted.toSeq
      val expect = withConfs(aqeOff: _*)(canon(plainJoin(dir)))
      val saltedRes = withConfs(aqeOff: _*)(
        canon(graft.ops.Joins.joinSalted(spark, dir)))
      val aqeRes = withConfs(aqeSkew: _*)(canon(plainJoin(dir)))
      require(saltedRes == expect, s"salted join diverged at $dir")
      require(aqeRes == expect, s"AQE-split join diverged at $dir")

      val tPlain = withConfs(aqeOff: _*)(time(plainJoin(dir)))
      val tSalted = withConfs(aqeOff: _*)(
        time(graft.ops.Joins.joinSalted(spark, dir)))
      // R sized to the fixture's skew: 7% hot key x 256 partitions
      // needs R ≈ 18+ for the salted pieces to reach the mean
      val tSalted32 = withConfs(aqeOff: _*)(
        time(graft.ops.Joins.joinSalted(spark, dir, saltR = 32)))
      val tAqe = withConfs(aqeSkew: _*)(time(plainJoin(dir)))
      println(s"""{"metric":"skew_join","sf":"$dir",""" +
        s""""plain_sec":${f3(tPlain)},"salted_sec":${f3(tSalted)},""" +
        s""""salted32_sec":${f3(tSalted32)},"aqe_sec":${f3(tAqe)}}""")
    }
    spark.stop()
  }
}
