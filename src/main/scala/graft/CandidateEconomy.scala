package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

import graft.Evidence.{emit, timed}
import graft.dedup.DedupOps
import graft.ops.Joins

/** Evidence experiment `candidate_economy`: candidate-pair counts
  * for the prefix-filter dedup ladder and the fuzzy/ER blocks, per
  * fixture — the number that separates "candidate generation
  * dominates" from "verification dominates" when a scale path's
  * cross-decade slope drifts toward linear. For the symmetric
  * (Jaccard ≥ 0.8) and the asymmetric (containment ≥ 0.9) families it
  * counts the plain prefix-filter candidates, the PPJoin-filtered
  * candidates (length + positional bounds), and the verified result
  * pairs. The ratio candidates/results is the wasted-verification
  * factor; the plain/ppjoin candidate ratio is what the extra filters
  * buy at that scale.
  *
  * A family runs only when its input table is in the dir: the three
  * document families need `documents.parquet`, the fuzzy family
  * `part.parquet` — so a tools/scale_names.py catalog, which holds
  * only `part`, yields just the fuzzy line. One JSON line per
  * (fixture, family); recorded in BASELINE.md next to the slope tables.
  */
object CandidateEconomy {
  def run(spark: SparkSession, dirs: Seq[String]): Unit =
    for (dir <- dirs) {
      def has(table: String): Boolean = {
        val p = new Path(s"$dir/$table.parquet")
        p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
      }
      val (docs, parts) = (has("documents"), has("part"))
      require(docs || parts, s"$dir holds neither documents.parquet nor part.parquet")
      if (docs) documentFamilies(spark, dir)
      if (parts) fuzzyFamily(spark, dir)
    }

  private def documentFamilies(spark: SparkSession, dir: String): Unit = {
    def line(family: String, counts: (String, Long)*): Unit =
      emit(Seq("metric" -> "candidate_economy", "family" -> family, "sf" -> dir) ++ counts: _*)
    line("jaccard",
      "prefix_candidates" -> DedupOps.prefixFilterCandidates(spark, dir).count(),
      "ppjoin_candidates" -> DedupOps.ppjoinCandidates(spark, dir).count(),
      "result_pairs" -> DedupOps.prefixFilterJaccard(spark, dir).count())
    line("containment",
      "prefix_candidates" -> DedupOps.containmentPrefixCandidates(spark, dir).count(),
      "ppjoin_candidates" -> DedupOps.containmentPpjoinCandidates(spark, dir).count(),
      "result_pairs" -> DedupOps.containmentPrefixFilter(spark, dir).count())
    // Histogram family (t = 1/2): what the r10 prefix-filter rewrite
    // of similarityHistogram buys over the raw shingle self-join it
    // replaced. raw_pairs = distinct pairs sharing ANY shingle (the
    // old candidate space, Θ(Σ df²) to enumerate); prefix_candidates
    // = the t = 1/2 prefix filter's space; ppjoin_candidates = the
    // rung the histogram actually runs on; result_pairs = pairs at
    // j ≥ 0.5 (the histogram's total mass).
    line("histogram",
      "raw_pairs" -> DedupOps.rawSharingPairs(spark, dir).count(),
      "prefix_candidates" -> DedupOps.prefixFilterCandidatesAt(spark, dir, 1, 2).count(),
      "ppjoin_candidates" -> DedupOps.ppjoinCandidatesAt(spark, dir, 1, 2).count(),
      "result_pairs" -> DedupOps.similarityHistogram(spark, dir)
        .agg(sum("n_pairs")).collect()(0).getLong(0))
  }

  /** Fuzzy/ER family (r11): within-block pair count of the retired
    * first-token geometry vs the rarest-token blocks the family now
    * runs on — the cut is what bounds the quadratic hot block at
    * catalog scale. The stock fixtures hold the SAME ~64 distinct part
    * names at every scale factor, so the blocking slope
    * e = log(pairs₁₀ₓ/pairs₁ₓ)/log(10) is only measurable on a
    * tools/scale_names.py catalog whose dictionary actually grows:
    * first-token blocks key on a fixed leading vocabulary and go
    * quadratic (e → 2), rarest-token blocks key on the Heaps tail and
    * stay near-linear. result_pairs = JW ≥ 0.88 verified pairs.
    */
  private def fuzzyFamily(spark: SparkSession, dir: String): Unit = {
    val (first, firstSec) = timed(Joins.fuzzyCandidatesFirstToken(spark, dir).count())
    val (rarest, rarestSec) = timed(Joins.fuzzyCandidatesRarest(spark, dir).count())
    emit("metric" -> "candidate_economy", "family" -> "fuzzy", "sf" -> dir,
      "first_token_pairs" -> first, "rarest_token_pairs" -> rarest,
      "result_pairs" -> Joins.joinFuzzyJaro(spark, dir).count(),
      "first_sec" -> firstSec, "rarest_sec" -> rarestSec)
  }
}
