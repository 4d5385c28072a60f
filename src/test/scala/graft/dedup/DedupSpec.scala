package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

class DedupSpec extends AnyFunSuite {
  import TestSpark._

  test("minhash LSH finds exactly the brute-force near-dup pairs (sf0.01)") {
    // At threshold 0.8 with 24 bands × 4 rows, LSH recall ≈ 1−3.5e-6
    // (≈1−1e-11 at the fixture's planted J≥0.9), so on the fixture
    // the bucketed plan must equal the exact one.
    val lsh = DedupOps.minhashNeardup(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = DedupOps.ngramJaccard(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("typed JVM hashing matches the SQL expression forms bit-for-bit") {
    // every MinHash path hashes on the executor through the typed row
    // kernel (hashedShingleSet, then bandKeys); pin both steps — and
    // the signature between them — against the SQL expression forms
    // on real fixture documents
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfSmall)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .limit(40).collect()
    val sqlSide = docs.toSeq.toDF("doc_id", "text")
      .withColumn("sh",
        DedupOps.shingleSet(graft.text.TextOps.tokens(col("text"))))
      .withColumn("x64", transform(col("sh"), x => xxhash64(x)))
      .withColumn("sig", DedupOps.minhashSignature(col("sh")))
    val bandCols = (0 until DedupOps.Bands).map { b =>
      xxhash64((0 until DedupOps.RowsPerBand)
        .map(r => element_at(col("sig"), b * DedupOps.RowsPerBand + r + 1)): _*)
    }
    val got = sqlSide
      .select(col("doc_id") +: col("x64") +: col("sig") +: bandCols: _*)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getSeq[Long](2),
          (0 until DedupOps.Bands).map(b => r.getLong(3 + b))))
      .toMap
    var nonTrivial = 0
    docs.foreach { case (id, text) =>
      val x64 = DedupOps.hashedShingleSet(text)
      val sig = DedupOps.signatureOf(
        x64.map(v => ((v % 2147483647L) + 2147483647L) % 2147483647L))
      val (sqlX64, sqlSig, sqlBands) = got(id)
      assert(x64.toSeq == sqlX64, s"doc $id shingle hashes diverge")
      assert(sig.toSeq == sqlSig, s"doc $id signature diverges")
      assert(DedupOps.bandKeys(x64, DedupOps.Bands).toSeq == sqlBands,
        s"doc $id band keys diverge")
      if (x64.nonEmpty) nonTrivial += 1
    }
    assert(nonTrivial > 10, "fixture slice should have shingled docs")
  }

  test("refused-admission verification sets: stateless, same sets, same pairs") {
    // past the admission bound hashedSets serves the corpus sketch
    // unpersisted, so every reference re-runs it: it must stay a
    // shuffle-free per-document pass and verify exactly like the memo
    graft.KeyedMemo.clearAll()
    val refused = DedupOps.corpusSketch(spark, sfSmall)
    val plan = refused.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("collect_set"),
      s"refused-branch sets shuffle:\n$plan")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(DedupOps.ngramJaccard(spark, sfSmall))
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(pairs(DedupOps.minhashPairs(refused)) == exact)
    assert(pairs(DedupOps.verifyJaccard(
      DedupOps.prefixFilterCandidates(spark, sfSmall), refused, refused, 0.8)
      .select("doc_a", "doc_b", "jaccard")) == exact)
    def setsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toSet, r.getInt(2))).toMap
    val refusedSets = setsOf(refused)
    val admitted = DedupOps.hashedSets(spark, sfSmall)
    assert(admitted.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "sf0.01 sets should be admitted to the memo")
    assert(refusedSets == setsOf(admitted))
  }

  test("incremental minhash equals the full recompute's cross-boundary slice") {
    // the IVM identity for the banded index: batch-vs-settled pairs
    // from the memoized index must equal the one-shot build's pairs
    // restricted to the batch/base boundary
    val incr = DedupOps.dedupMinhashIncremental(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val m = DedupOps.IncBatchMod
    val full = DedupOps.minhashNeardup(spark, sfSmall)
      .filter((pmod(col("doc_a"), lit(10)) === m) =!=
        (pmod(col("doc_b"), lit(10)) === m))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == full)
    assert(incr.nonEmpty, "fixture should plant cross-boundary near-dups")
    // r10: the DURABLE-table variant (settled index on disk, not in a
    // memo) must return the identical pair set
    val durable = DedupOps.dedupMinhashIncrementalDurable(spark, sfSmall)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(durable == full,
      "durable-table maintenance diverged from the recompute slice")
  }

  test("minhash signature estimates Jaccard on planted pairs") {
    import spark.implicits._
    val pairs = DedupOps.ngramJaccard(spark, sfSmall)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sigs = graft.Tables.documents(spark, sfSmall)
      .select(col("doc_id"),
        DedupOps.minhashSignature(
          DedupOps.shingleSet(graft.text.TextOps.tokens(col("text")))).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    pairs.foreach { case (a, b, j) =>
      val est = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
        .toDouble / DedupOps.NumHashes
      assert(math.abs(est - j) < 0.15, s"pair ($a,$b): est $est vs true $j")
    }
  }

  test("simhash: identical texts collide, near-dups are hamming-close") {
    import spark.implicits._
    val fps = DedupOps.simhashFingerprint(spark, sfSmall)
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val near = DedupOps.ngramJaccard(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(near.nonEmpty)
    near.foreach { case (a, b) =>
      assert(hamming(fps(a), fps(b)) <= 12,
        s"near-dup pair ($a,$b) hamming ${hamming(fps(a), fps(b))}")
    }
    // random non-dup pairs should be far apart on average
    val ids = fps.keys.toSeq.sorted.take(40)
    val nearSet = near.toSet
    val dists = for {
      a <- ids; b <- ids
      if a < b && !nearSet((a, b))
    } yield hamming(fps(a), fps(b))
    assert(dists.sum.toDouble / dists.size > 15.0)
  }

  test("simhash 4×15 band split shares a band for any pair within hamming 3") {
    // the pigeonhole guarantee simhash_pairs' banded join relies on:
    // ≤3 flipped bits touch ≤3 of the 4 bands, so one band survives
    def bands(h: Long): Seq[Long] =
      (0 until DedupOps.SimhashBands).map(b => (h >> (b * 15)) & 0x7fffL)
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val h = rnd.nextLong() & ((1L << 60) - 1)
      val flips = rnd.between(0, DedupOps.SimhashMaxHamming + 1)
      val h2 = (1 to flips).foldLeft(h)((x, _) => x ^ (1L << rnd.between(0, 60)))
      assert(bands(h).zip(bands(h2)).exists { case (a, b) => a == b },
        s"no shared band for ${h.toBinaryString} vs ${h2.toBinaryString}")
    }
  }

  test("JVM shingling equals the column-expression form") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfTiny)
    val exprForm = docs
      .select(col("doc_id"),
        DedupOps.shingleSet(graft.text.TextOps.tokens(col("text"))).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val jvmForm = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> DedupOps.shingleStrings(t) }.toMap
    assert(exprForm.keySet == jvmForm.keySet)
    exprForm.foreach { case (id, sh) =>
      assert(sh.toSet == jvmForm(id).toSet, s"doc $id shingle mismatch")
    }
  }

  test("connectedComponents resolves a deep chain with checkpointing") {
    import spark.implicits._
    // path graph 0-1-2-...-19: diameter 19, worst case for min-label
    // propagation (VERDICT r2 #6: exercise the checkpoint path on a
    // component deeper than any fixture cluster).
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    val prevDir = spark.sparkContext.getCheckpointDir
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val labels = DedupOps.connectedComponents(pairs, checkpointInterval = 3)
        .as[(Long, Long)].collect().toMap
      assert(labels.size == 20)
      assert(labels.values.forall(_ == 0L), s"unconverged labels: $labels")
      // two components + an isolated-free graph: disjoint chains stay apart
      val two = ((0L until 4L).map(i => (i, i + 1)) ++
        (100L until 109L).map(i => (i, i + 1))).toDF("a", "b")
      val l2 = DedupOps.connectedComponents(two, checkpointInterval = 2)
        .as[(Long, Long)].collect().toMap
      assert((0L to 4L).forall(l2(_) == 0L))
      assert((100L to 109L).forall(l2(_) == 100L))
    } finally prevDir.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("dedup_exact keeps one representative per distinct content") {
    val out = DedupOps.dedupExact(spark, sfTiny).collect()
    assert(out.map(_.getString(0)).distinct.length == out.length)
    val total = out.map(_.getLong(2)).sum
    assert(total == graft.Tables.documents(spark, sfTiny).count())
  }

  test("dedup_keep_latest: one row per (user, type), and it is the latest") {
    val events = graft.Tables.events(spark, sfTiny)
    val out = DedupOps.dedupKeepLatest(spark, sfTiny)
    assert(out.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() == 0)
    assert(out.count() ==
      events.select("user_id", "event_type").distinct().count())
  }

  test("containment pairs equal an all-pairs local recompute") {
    val sets = graft.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> DedupOps.shingleStrings(r.getString(1)).toSet)
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      c = (sa intersect sb).size.toDouble / sa.size if c >= 0.9
    } yield (a, b) -> math.round(c * 1e6) / 1e6).toMap
    val got = DedupOps.containmentPairs(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == want, "containment pairs diverge from recompute")
    assert(got.nonEmpty, "fixture has planted containment pairs")
    // directionality is real: some pair must hold in one direction only
    // (a short doc inside a long one, not mutual near-identity)
    assert(got.keys.exists { case (a, b) => !got.contains((b, a)) },
      "all pairs symmetric — containment adds nothing over Jaccard here")
  }

  test("similarity histogram buckets cover every verified near-dup pair") {
    val hist = DedupOps.similarityHistogram(spark, sfSmall).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(hist.keys.forall(b => b >= 0.5 && b <= 1.0))
    val pairs = DedupOps.ngramJaccard(spark, sfSmall).collect()
      .map(r => r.getDouble(2))
    // every J >= 0.8 pair must be counted in a bucket at or above 0.8
    val high = hist.filter(_._1 >= 0.8 - 1e-9).values.sum
    assert(high == pairs.length.toLong,
      s"histogram high-bucket mass $high vs ${pairs.length} verified pairs")
  }

  test("incremental dedup labels the batch against the base corpus correctly") {
    import graft.Tables
    import org.apache.spark.sql.functions.col
    val texts = Tables.documents(spark, sfSmall)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (batch, base) = texts.keys.partition(_ % 10 == 7)
    val baseByText = base.groupBy(texts)
    val pairs = DedupOps.ngramJaccard(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val crossBest = (pairs.map(p => (p._1, p._2, p._3)) ++
        pairs.map(p => (p._2, p._1, p._3)))
      .filter { case (n, p, _) => n % 10 == 7 && p % 10 != 7 }
      .groupBy(_._1).view
      .mapValues(_.minBy { case (_, p, j) => (-j, p) }).toMap
    val got = DedupOps.dedupIncremental(spark, sfSmall).collect()
      .map { r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }
    assert(got.map(_._1).toSet == batch.toSet, "batch slice mismatch")
    got.foreach { case (id, status, partner, j) =>
      baseByText.get(texts(id)) match {
        case Some(dups) =>
          assert(status == "exact_dup" && partner.contains(dups.min) && j.isEmpty,
            s"doc $id should be exact_dup of ${dups.min}")
        case None =>
          crossBest.get(id) match {
            case Some((_, p, jac)) =>
              assert(status == "near_dup" && partner.contains(p) && j.contains(jac),
                s"doc $id should be near_dup of $p")
            case None =>
              assert(status == "unique" && partner.isEmpty && j.isEmpty,
                s"doc $id should be unique")
          }
      }
    }
    // the fixture's planted duplicates must make the label set non-trivial
    assert(got.exists(_._2 != "unique"), "no duplicate ever detected")
    assert(got.exists(_._2 == "unique"), "everything flagged duplicate")
  }

  test("df cap drops a planted viral shingle and bounds the candidate join") {
    import spark.implicits._
    // 40 docs: each carries ONE shared (viral) shingle plus 5 unique
    // shingles. Uncapped, the viral key alone contributes
    // 40·39/2 = 780 candidate pairs; capped at df ≤ 10 it contributes
    // zero and the unique keys contribute zero — the quadratic
    // blow-up a single boilerplate sentence causes at corpus scale.
    val n = 40
    val bag = (0 until n).flatMap { d =>
      (0L +: (1L to 5L).map(u => 1000L + d * 10L + u))
        .map(h => (d.toLong, 6L, h)) // (doc_id, n_sh, sh_h); 0 = viral
    }.toDF("doc_id", "n_sh", "sh_h")
    def candidates(sh: org.apache.spark.sql.DataFrame): Long = {
      val a = sh.select(col("doc_id").as("doc_a"), col("sh_h"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh_h"))
      a.join(b, Seq("sh_h")).filter(col("doc_a") < col("doc_b")).count()
    }
    assert(candidates(bag) == n.toLong * (n - 1) / 2)
    val capped = DedupOps.dfCapped(bag, 10)
    assert(candidates(capped) == 0L, "df cap must break the viral-key quadratic")
    // only viral rows were dropped: every doc keeps its 5 unique keys
    assert(capped.count() == n * 5L)
    assert(capped.filter(col("sh_h") === 0L).count() == 0L)
    // and the production cap sits far above the fixture's max df, so
    // the oracled queries are unchanged by construction
    val maxDf = DedupOps.dfCapped(bag, DedupOps.MaxShingleDf).count()
    assert(maxDf == bag.count(), "fixture-scale dfs must pass the production cap")
  }

  test("exact-substring dedup keeps each tile's first occurrence and rebuilds docs") {
    import graft.Tables
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> graft.mr.MrJobs.tokenize(r.getString(1)))
    val tiles = docs.flatMap { case (id, toks) =>
      toks.grouped(16).zipWithIndex.map { case (t, k) =>
        (id, k.toLong, t.mkString(" "))
      }
    }
    val firstOwner = tiles.groupBy(_._3).view
      .mapValues(_.minBy(t => (t._1, t._2))).toMap
    val want = docs.map { case (id, toks) =>
      val mine = tiles.filter(_._1 == id).sortBy(_._2)
      val kept = mine.filter(t => firstOwner(t._3) == t)
      id -> (mine.length.toLong, kept.length.toLong,
        kept.map(_._3).mkString(" "))
    }.toMap
    val got = DedupOps.exactSubstringDedup(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got == want, "tile ownership or reassembly diverges from recompute")
    // removal really happens somewhere: the fixture plants near-dup docs
    assert(got.values.exists(v => v._2 < v._1),
      "no duplicate tile ever removed — fixture should contain planted copies")
    // and every doc's kept text is a subsequence of its token stream
    got.foreach { case (id, (_, _, cleaned)) =>
      val orig = docs.toMap.apply(id).mkString(" ")
      assert(cleaned.isEmpty || orig.contains(cleaned.split(" ").head),
        s"doc $id cleaned text diverges from source tokens")
    }
  }

  test("leakage_safe_split keeps every near-dup pair on one side; plain hash split would not") {
    val split = DedupOps.leakageSafeSplit(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(split.size == graft.Tables.documents(spark, sfSmall).count())
    assert(split.values.map(_._2).toSet == Set("train", "val", "test"),
      "all three splits must be populated at sf0.01")
    // cluster integrity: same group id ⇒ same split (by construction),
    // and every VERIFIED near-dup pair shares a group — so no pair
    // can straddle the train/eval boundary
    val pairs = DedupOps.ngramJaccard(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) in different groups")
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) straddles splits")
    }
    // the motivation is real on this fixture: the per-doc hash split
    // DOES separate at least one near-dup pair
    val perDoc = graft.text.TextAnalysis.hashSplit(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(pairs.exists { case (a, b) => perDoc(a) != perDoc(b) },
      "fixture has no pair the naive split separates — spec loses its teeth")
  }

  test("keep-best survivorship keeps exactly the longest member per cluster") {
    val clusters = DedupOps.dedupClusters(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val toks = graft.Tables.documents(spark, sfSmall)
      .select(col("doc_id"), size(graft.text.TextOps.tokens(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val expected = clusters.groupBy(_._2).flatMap { case (can, members) =>
      val best = members.map(_._1).minBy(d => (-toks(d), d))(
        Ordering.Tuple2[Long, Long])
      members.toSeq.map { case (d, _) => (d, can, toks(d), d == best) }
    }.toSet
    val got = DedupOps.dedupKeepBest(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == expected)
    // exactly one survivor per cluster, and the policy must actually
    // differ from min-id survivorship somewhere on this fixture
    val byCluster = got.groupBy(_._2)
    byCluster.values.foreach(ms => assert(ms.count(_._4) == 1))
    assert(got.exists { case (d, can, _, keep) => keep && d != can },
      "longest-member policy never disagrees with min-id — vacuous")
  }

  test("dedup_eval scores simhash against jaccard truth consistently") {
    val truth = DedupOps.ngramJaccard(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pred = DedupOps.simhashPairs(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tp = (pred intersect truth).size.toLong
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = SparkEntry.queries("dedup_eval")(spark, sfSmall).head()
    assert(row.getLong(0) == pred.size.toLong)
    assert(row.getLong(1) == truth.size.toLong)
    assert(row.getLong(2) == tp)
    assert(row.getDouble(3) == round6(tp.toDouble / pred.size))
    assert(row.getDouble(4) == round6(tp.toDouble / truth.size))
    assert(row.getDouble(5) == round6(2.0 * tp / (pred.size + truth.size)))
    // the harness must measure something non-degenerate: detectors
    // overlap but neither contains the other at this fixture
    assert(tp > 0 && (row.getDouble(3) < 1.0 || row.getDouble(4) < 1.0))
  }
}
