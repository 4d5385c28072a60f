package graft

/** Evidence tool (Bench/IvmTiming's sibling): candidate-pair counts
  * for the prefix-filter dedup ladder, per fixture — the number that
  * separates "candidate generation dominates" from "verification
  * dominates" when a scale path's cross-decade slope drifts toward
  * linear. For each fixture dir it counts, for both the symmetric
  * (Jaccard ≥ 0.8) and the asymmetric (containment ≥ 0.9) families:
  * the plain prefix-filter candidates, the PPJoin-filtered
  * candidates (length + positional bounds), and the verified result
  * pairs. The ratio candidates/results is the wasted-verification
  * factor; the plain/ppjoin candidate ratio is what the extra
  * filters buy at that scale. One JSON line per (fixture, family);
  * recorded in BASELINE.md next to the slope tables.
  */
object CandidateEconomy {
  def main(args: Array[String]): Unit = {
    val dirs: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else Seq(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = MainSession.build(defaultCpus = "32")
    import graft.dedup.DedupOps

    for (dir <- dirs) {
      val jPlain = DedupOps.prefixFilterCandidates(spark, dir).count()
      val jPp = DedupOps.ppjoinCandidates(spark, dir).count()
      val jRes = DedupOps.prefixFilterJaccard(spark, dir).count()
      println(s"""{"metric":"candidate_economy","family":"jaccard",""" +
        s""""sf":"$dir","prefix_candidates":$jPlain,""" +
        s""""ppjoin_candidates":$jPp,"result_pairs":$jRes}""")
      val cPlain = DedupOps.containmentPrefixCandidates(spark, dir).count()
      val cPp = DedupOps.containmentPpjoinCandidates(spark, dir).count()
      val cRes = DedupOps.containmentPrefixFilter(spark, dir).count()
      println(s"""{"metric":"candidate_economy","family":"containment",""" +
        s""""sf":"$dir","prefix_candidates":$cPlain,""" +
        s""""ppjoin_candidates":$cPp,"result_pairs":$cRes}""")
      // Histogram family (t = 1/2): what the r10 prefix-filter rewrite
      // of similarityHistogram buys over the raw shingle self-join it
      // replaced. raw_pairs = distinct pairs sharing ANY shingle (the
      // old candidate space, Θ(Σ df²) to enumerate); prefix_candidates
      // = the t = 1/2 prefix filter's space; result_pairs = pairs at
      // j ≥ 0.5 (the histogram's total mass).
      val hRaw = DedupOps.rawSharingPairs(spark, dir).count()
      val hPrefix = DedupOps.prefixFilterCandidatesAt(spark, dir, 1, 2).count()
      // the rung the histogram actually runs on since the ppjoin swap
      val hPp = DedupOps.ppjoinCandidatesAt(spark, dir, 1, 2).count()
      val hRes = DedupOps.similarityHistogram(spark, dir)
        .agg(org.apache.spark.sql.functions.sum("n_pairs")).collect()(0).getLong(0)
      println(s"""{"metric":"candidate_economy","family":"histogram",""" +
        s""""sf":"$dir","raw_pairs":$hRaw,"prefix_candidates":$hPrefix,""" +
        s""""ppjoin_candidates":$hPp,"result_pairs":$hRes}""")
      // Fuzzy/ER family (r11): within-block pair count of the retired
      // first-token geometry vs the rarest-token blocks the family
      // now runs on — the cut is what bounds the quadratic hot block
      // at catalog scale. result_pairs = JW >= 0.88 verified pairs.
      val fFirst = graft.ops.Joins.fuzzyCandidatesFirstToken(spark, dir).count()
      val fRarest = graft.ops.Joins.fuzzyCandidatesRarest(spark, dir).count()
      val fRes = graft.ops.Joins.joinFuzzyJaro(spark, dir).count()
      println(s"""{"metric":"candidate_economy","family":"fuzzy",""" +
        s""""sf":"$dir","first_token_pairs":$fFirst,""" +
        s""""rarest_token_pairs":$fRarest,"result_pairs":$fRes}""")
    }
    spark.stop()
  }
}
