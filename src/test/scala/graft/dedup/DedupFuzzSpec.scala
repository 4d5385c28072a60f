package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Parameter-space fuzzing for the dedup ladder — the round-9 gap the
  * relational plan fuzzer left open: the prefix/PPJoin families'
  * correctness rested on fixed-threshold oracles (0.8 / 0.9), but
  * their completeness theorems are threshold-generic, so the code
  * must be too. For seeded random rational thresholds t = p/q this
  * spec checks, against an INDEPENDENT in-JVM brute force over the
  * same hashed shingle sets:
  *
  *  - exactness: filter-then-verify pipelines return exactly the
  *    brute-force pair set at every sampled t (completeness AND
  *    soundness — a lost boundary pair or an off-by-one in the
  *    ⌈t·n⌉ integer arithmetic fails here);
  *  - the candidate-economy ladder: ppjoin candidates ⊆ prefix
  *    candidates at every t (the extra filters only prune);
  *  - banded MinHash pigeonhole at every divisor split of the
  *    signature: two docs whose signatures disagree in fewer than
  *    `bands` positions must collide in some band.
  */
class DedupFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private val P = 2147483647L

  private lazy val sets: Map[Long, Set[Long]] = {
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id", "text").collect()
    docs.iterator
      .map(r => r.getLong(0) ->
        DedupOps.hashedShingleSet(r.getString(1)).toSet)
      .filter(_._2.nonEmpty)
      .toMap
  }

  private def bruteJaccard(p: Int, q: Int): Set[(Long, Long)] = {
    val ids = sets.keys.toArray.sorted
    (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      sa = sets(ids(i)); sb = sets(ids(j))
      inter = (sa & sb).size
      // integer-exact t = p/q compare: q·|∩| ≥ p·|∪|
      if q.toLong * inter >= p.toLong * (sa.size + sb.size - inter)
    } yield (ids(i), ids(j))).toSet
  }

  private def bruteContainment(p: Int, q: Int): Set[(Long, Long)] =
    (for {
      (a, sa) <- sets.iterator
      (b, sb) <- sets.iterator
      if a != b
      inter = (sa & sb).size
      if q.toLong * inter >= p.toLong * sa.size
    } yield (a, b)).toSet

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // seeded threshold sample: q ∈ [5, 12], p/q ∈ (1/2, 1) — the range
  // where prefix filtering is meaningful (below 1/2 the "prefix" is
  // most of the doc and the join degenerates to the inverted baseline)
  private def thresholds(seed: Long, n: Int): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val q = 5 + rnd.nextInt(8)
      val p = (q / 2 + 1) + rnd.nextInt(q - q / 2 - 1)
      (p, q)
    }.distinct
  }

  test("jaccard prefix + ppjoin pipelines match brute force at seeded thresholds") {
    val ts = Seq(777L, 31415L, 424242L, 99999L, 7L, 2026L)
      .flatMap(thresholds(_, 1)).distinct
    assert(ts.size >= 5, s"degenerate threshold sample: $ts")
    var totalPairs = 0
    for ((p, q) <- ts) {
      val brute = bruteJaccard(p, q)
      totalPairs += brute.size
      val prefCand = pairsOf(DedupOps.prefixFilterCandidatesAt(spark, sfTiny, p, q))
      val ppCand = pairsOf(DedupOps.ppjoinCandidatesAt(spark, sfTiny, p, q))
      assert(brute.subsetOf(prefCand),
        s"t=$p/$q: completeness broken — brute pair missing from prefix candidates")
      assert(ppCand.subsetOf(prefCand),
        s"t=$p/$q: ppjoin candidates escaped the prefix candidate space")
      assert(brute.subsetOf(ppCand),
        s"t=$p/$q: a qualifying pair was pruned by length/positional bounds")
      assert(pairsOf(DedupOps.prefixFilterJaccardAt(spark, sfTiny, p, q)) == brute,
        s"t=$p/$q: verified prefix-filter result diverged from brute force")
      assert(pairsOf(DedupOps.ppjoinJaccardAt(spark, sfTiny, p, q)) == brute,
        s"t=$p/$q: verified ppjoin result diverged from brute force")
    }
    assert(totalPairs > 0, "every sampled threshold returned zero pairs — vacuous sweep")
  }

  test("containment prefix + ppjoin pipelines match brute force at seeded thresholds") {
    val ts = Seq(13L, 556L, 90210L, 31337L, 424L, 11L)
      .flatMap(thresholds(_, 1)).distinct
    assert(ts.size >= 5, s"degenerate threshold sample: $ts")
    var totalPairs = 0
    for ((p, q) <- ts) {
      val brute = bruteContainment(p, q)
      totalPairs += brute.size
      val prefCand = pairsOf(DedupOps.containmentPrefixCandidatesAt(spark, sfTiny, p, q))
      val ppCand = pairsOf(DedupOps.containmentPpjoinCandidatesAt(spark, sfTiny, p, q))
      assert(brute.subsetOf(prefCand),
        s"t=$p/$q: directed completeness broken at the prefix stage")
      assert(ppCand.subsetOf(prefCand),
        s"t=$p/$q: containment ppjoin candidates escaped the prefix space")
      assert(brute.subsetOf(ppCand),
        s"t=$p/$q: a qualifying directed pair was pruned (length/positional/witness)")
      assert(pairsOf(DedupOps.containmentPrefixFilterAt(spark, sfTiny, p, q)) == brute,
        s"t=$p/$q: verified containment prefix result diverged from brute force")
      assert(pairsOf(DedupOps.containmentPpjoinAt(spark, sfTiny, p, q)) == brute,
        s"t=$p/$q: verified containment ppjoin result diverged from brute force")
    }
    assert(totalPairs > 0, "every sampled threshold returned zero pairs — vacuous sweep")
  }

  test("similarity histogram (ppjoin-driven, t = 1/2) equals brute-force buckets") {
    // r10: similarityHistogram drives from ppjoinCandidatesAt at
    // t = 1/2 — the one threshold the seeded sweep above excludes by
    // construction (its range is (1/2, 1)), and the histogram's
    // completeness depends on it. Check the candidate theorem for
    // BOTH rungs (prefix, and the tighter ppjoin the histogram uses)
    // AND the exact floor-bucket counts against in-JVM brute force.
    val ids = sets.keys.toArray.sorted
    val brutePairs = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      sa = sets(ids(i)); sb = sets(ids(j))
      inter = (sa & sb).size
      if 2L * inter >= (sa.size + sb.size - inter) // j ≥ 1/2, integer-exact
    } yield (ids(i), ids(j))).toSet
    assert(brutePairs.nonEmpty, "no j ≥ 0.5 pairs in fixture — vacuous")
    val cand = pairsOf(DedupOps.prefixFilterCandidatesAt(spark, sfTiny, 1, 2))
    assert(brutePairs.subsetOf(cand),
      "t=1/2: completeness broken — a j ≥ 0.5 pair missing from prefix candidates")
    val ppCand = pairsOf(DedupOps.ppjoinCandidatesAt(spark, sfTiny, 1, 2))
    assert(ppCand.subsetOf(cand),
      "t=1/2: ppjoin candidates escaped the prefix candidate space")
    assert(brutePairs.subsetOf(ppCand),
      "t=1/2: completeness broken — a j ≥ 0.5 pair missing from ppjoin candidates")
    val bruteBuckets = brutePairs.toSeq.map { case (a, b) =>
      val sa = sets(a); val sb = sets(b)
      val inter = (sa & sb).size
      val jac = inter.toDouble / (sa.size + sb.size - inter)
      math.floor(jac * 10) / 10
    }.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val got = DedupOps.similarityHistogram(spark, sfTiny).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(got == bruteBuckets,
      s"histogram diverged from brute force: got $got, want $bruteBuckets")
  }

  test("banded minhash pigeonhole holds at every sampled band split") {
    // in-JVM signatures via the same twins the streaming path pins
    // against SQL (DedupSpec); the property under test is the BANDING:
    // < bands disagreeing positions cannot spoil every band
    val sigs: Map[Long, Array[Long]] = sets.map { case (id, sh) =>
      id -> DedupOps.signatureOf(
        sh.toArray.map(v => ((v % P) + P) % P))
    }
    val ids = sigs.keys.toArray.sorted
    def hamming(a: Array[Long], b: Array[Long]): Int =
      a.indices.count(i => a(i) != b(i))
    var nonVacuous = 0
    for (bands <- Seq(8, 12, 16, 24, 32, 48)) {
      val must = (for {
        i <- ids.indices.iterator
        j <- (i + 1) until ids.length
        if hamming(sigs(ids(i)), sigs(ids(j))) < bands
      } yield (ids(i), ids(j))).toSet
      val cand = pairsOf(DedupOps.minhashBandedCandidatesAt(spark, sfTiny, bands))
      assert(must.subsetOf(cand),
        s"bands=$bands: signature-close pair missing from banded candidates " +
          s"(${(must -- cand).take(3)})")
      if (must.nonEmpty) nonVacuous += 1
    }
    assert(nonVacuous > 0,
      "no signature-close pairs at any band split — fixture degenerate")
  }
}
