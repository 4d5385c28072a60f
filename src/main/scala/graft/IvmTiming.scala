package graft

import org.apache.spark.sql.functions.{col, lit, pmod}

/** Evidence tool (Bench's sibling): the incremental-vs-oneshot timing
  * pair for near-dup cluster maintenance — the number that SHOWS the
  * IVM economics (merge cost ≪ recompute cost) instead of arguing
  * them. The registry's `dedup_clusters_incr` entry proves the
  * CORRECTNESS identity (incremental ≡ full recompute, against the
  * transitive-closure oracle); this main measures the cost side on
  * the same fixture:
  *
  *  - oneshot  = a full star contraction over ALL verified pairs
  *    (what a pipeline that re-clusters the corpus per ingest pays);
  *  - incremental = the merge of the batch's pairs into the memoized
  *    settled star edges ([[graft.dedup.DedupOps.settledStars]] —
  *    "yesterday's index", warmed untimed), i.e. what the maintenance
  *    path actually pays per ingest.
  *
  * Both sides run after an untimed warm-up contraction so JIT/codegen
  * warm-up doesn't land on the oneshot number. Candidate generation
  * (verifiedPairs) is warmed untimed too — it is identical work on
  * both sides and already measured by `dedup_ngram_jaccard`.
  *
  * Wall-clock alone understates the saving at fixture scale twice
  * over: a contraction round costs ~fixed scheduler overhead plus
  * data-proportional work (the fixed part dominates on kilobyte
  * fixtures), and the fixture's pair graph is ~1:1 pairs-to-nodes
  * (shallow planted clusters), so the edge collapse that funds IVM —
  * a settled d-member cluster is d·(d−1)/2 historical pairs but only
  * d−1 star edges — is structurally absent. The fixture line
  * therefore also reports input edge counts and rounds, and a second
  * line measures a deterministic DENSE-cluster graph (many cliques,
  * the shape real near-dup clusters take: J ≥ 0.8 is near-transitive,
  * so a duplicated page's cluster is almost a clique) where the
  * collapse is visible in wall-clock, not just in the edge counts.
  * A third line measures the same economics for the OTHER memoized
  * index family: MinHash banded-LSH maintenance
  * ([[graft.dedup.DedupOps.dedupMinhashIncremental]]) — oneshot
  * re-signatures every document and self-joins all band buckets;
  * the maintenance path signatures only the arriving batch and
  * equi-joins the memoized settled buckets. Unlike the cluster pair,
  * this one is wall-clock-visible even at fixture scale because the
  * avoided work (per-document shingling + 96 hash minima) is
  * data-proportional, not scheduler-overhead-shaped.
  *
  * Three JSON lines; recorded in BASELINE.md.
  */
object IvmTiming {
  def main(args: Array[String]): Unit = {
    // one or more fixture dirs: with several (e.g. sf0.1, the 10×-docs
    // and 100×-docs fixtures) the per-fixture lines record how the
    // maintenance economics SCALE — the oneshot/incremental ratio
    // should grow with corpus size since oneshot re-signatures the
    // whole corpus while the batch stays a fixed fraction
    val dirs: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else Seq(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = MainSession.build(defaultCpus = "32")

    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val f3 = (d: Double) =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    for (dir <- dirs) {
    // cross-fixture isolation (see Bench): fixture N's pinned
    // substrates must not compete with fixture N+1's storage memory
    if (dirs.size > 1) {
      KeyedMemo.clearAll()
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc() // reclaim the previous fixture's shuffle files too
    }
    val pairs = graft.dedup.DedupOps.verifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    pairs.count() // warm the pair memo — not part of either side

    // untimed warm-up contraction (JIT, codegen, broadcast plumbing)
    locally {
      val warm = graft.dedup.DedupOps.connectedComponentsStar(pairs)
      warm.count(); warm.unpersist()
    }
    var oneshotRounds = 0
    val oneshot = secs {
      val (cc, r) = graft.dedup.DedupOps.starContraction(pairs)
      cc.count(); cc.unpersist()
      oneshotRounds = r
    }
    val oneshotEdges = pairs.count()
    // settle yesterday's index untimed, then time the merge only
    val stars = graft.dedup.DedupOps.settledStars(spark, dir)
    val starEdges = stars.count()
    // build the durable star table now too (idempotent; the memo is
    // warm, so this is a node-count-sized write, not a re-derivation)
    graft.dedup.DedupOps.settledStarsTable(spark, dir)
    val isNew = pmod(col("doc_a"), lit(10)) === graft.dedup.DedupOps.IncBatchMod ||
      pmod(col("doc_b"), lit(10)) === graft.dedup.DedupOps.IncBatchMod
    val batchEdges = pairs.filter(isNew).count()
    // land the batch pairs in a tiny parquet NOW, while the pair memo
    // is warm — the durable-cluster leg below runs from fully cold
    // state and must not re-derive the pair generator (a corpus-sized
    // shuffle per cold run at the 1000×-docs fixture)
    val batchPath = Staged.path("ivm-batch", dir)
    pairs.filter(isNew)
      .select(col("doc_a").as("node"), col("doc_b").as("label"))
      .write.mode("overwrite").parquet(batchPath)
    var incrRounds = 0
    val incremental = secs {
      val (cc, r) = graft.dedup.DedupOps.starContraction(
        stars.union(pairs.filter(isNew).toDF("node", "label")))
      cc.count(); cc.unpersist()
      incrRounds = r
    }
    println(s"""{"metric":"ivm_cluster_maintenance","sf":"$dir",""" +
      s""""oneshot_sec":${f3(oneshot)},"incremental_sec":${f3(incremental)},""" +
      s""""oneshot_edges":$oneshotEdges,"incremental_edges":${starEdges + batchEdges},""" +
      s""""oneshot_rounds":$oneshotRounds,"incremental_rounds":$incrRounds}""")

    // MinHash banded-index maintenance pair: both sides warmed once
    // untimed (JIT + the OS file cache on the oneshot side; the
    // settled-index memos on the incremental side), then timed on a
    // second call — so the oneshot number repays ALL its work per
    // call (nothing in minhashNeardup is memoized) while the
    // incremental number pays exactly the per-ingest cost: batch
    // signatures + a bucket join against the settled index.
    locally {
      val w = graft.dedup.DedupOps.minhashNeardup(spark, dir)
      w.count()
    }
    val mhOneshot = secs {
      graft.dedup.DedupOps.minhashNeardup(spark, dir).count()
    }
    locally { // settle yesterday's band index untimed
      graft.dedup.DedupOps.dedupMinhashIncremental(spark, dir).count()
    }
    val mhIncr = secs {
      graft.dedup.DedupOps.dedupMinhashIncremental(spark, dir).count()
    }
    println(s"""{"metric":"ivm_minhash_index","sf":"$dir",""" +
      s""""oneshot_sec":${f3(mhOneshot)},"incremental_sec":${f3(mhIncr)},""" +
      s""""speedup":${f3(mhOneshot / mhIncr)}}""")

    // DURABLE-table maintenance (round 10): the settled index as a
    // bucketed+sorted table on disk instead of a cached memo — the
    // answer to the round-9 residency-boundary finding (the memo win
    // destabilized to 0.8×–1.9× once settled state outgrew storage
    // memory). Build the tables untimed (state settles once), then
    // time maintenance TWICE, each run from fully cold Spark state
    // (all memos, cached frames and persisted RDDs dropped): the two
    // readings should agree — the cache-state variance is the thing
    // this design removes — and each should beat the oneshot.
    def coldClear(): Unit = {
      KeyedMemo.clearAll()
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      // the dropped frames' shuffle dependencies free their spill
      // files only when the driver GCs them (ContextCleaner); force it
      // so back-to-back cold runs at the 1000×-docs fixture don't
      // stack three corpus-sized shuffle footprints on one disk
      System.gc()
    }
    graft.dedup.DedupOps.settledMinhashTables(spark, dir)
    val mhDur = (1 to 2).map { _ =>
      coldClear()
      secs {
        graft.dedup.DedupOps.dedupMinhashIncrementalDurable(spark, dir).count()
      }
    }
    println(s"""{"metric":"ivm_minhash_durable","sf":"$dir",""" +
      s""""oneshot_sec":${f3(mhOneshot)},""" +
      s""""durable_cold_sec":[${f3(mhDur(0))},${f3(mhDur(1))}],""" +
      s""""speedup":[${f3(mhOneshot / mhDur(0))},${f3(mhOneshot / mhDur(1))}]}""")

    // cluster-state sibling: yesterday's components from the durable
    // star table. Batch-pair generation is identical work on both
    // sides of the comparison and warmed untimed by this file's
    // standing convention — here it lands in a tiny parquet ONCE
    // (cross-boundary pairs are batch-sized) so the cold runs time
    // exactly the MERGE against the durable table: a cold
    // re-derivation of the pair generator at the 1000×-docs fixture
    // spills a corpus-sized shuffle per run, which is neither part of
    // the maintenance claim nor affordable twice on this disk.
    graft.dedup.DedupOps.settledStarsTable(spark, dir)
    val ccDur = (1 to 2).map { _ =>
      coldClear()
      secs {
        val (cc, _) = graft.dedup.DedupOps.starContraction(
          graft.dedup.DedupOps.settledStarsTable(spark, dir)
            .union(spark.read.parquet(batchPath)))
        cc.count(); cc.unpersist()
      }
    }
    println(s"""{"metric":"ivm_cluster_durable","sf":"$dir",""" +
      s""""oneshot_sec":${f3(oneshot)},""" +
      s""""durable_cold_sec":[${f3(ccDur(0))},${f3(ccDur(1))}]}""")
    } // per-fixture lines

    // dense-cluster demonstration: k settled cliques of m members,
    // plus a batch that adds one new member to each cluster. Oneshot
    // re-contracts all k·m·(m−1)/2 pairs; maintenance contracts the
    // k·(m−1) star edges + the k batch pairs. Deterministic — no RNG
    // — and executed through the same starContraction code. Two scale
    // points: 2000×50 (2.45M pairs — the round-7/8 line, which stays
    // scheduler-dominated at one JVM) and 20000×50 (24.5M pairs, a
    // decade up, where the avoided work is wall-clock-visible).
    import spark.implicits._
    // same isolation before the synthetic section: the last fixture's
    // spilled substrates must not shape the clique measurements
    KeyedMemo.clearAll()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    for ((k, m) <- Seq((2000, 50), (20000, 50))) {
      val cliquePairs = spark.range(k.toLong).as[Long].flatMap { cl =>
        val base = cl * 1000L
        for (i <- 0 until m; j <- (i + 1) until m)
          yield (base + i, base + j)
      }.toDF("a", "b").cache()
      val nPairs = cliquePairs.count()
      val newMember = spark.range(k.toLong).as[Long]
        .map(cl => (cl * 1000L, cl * 1000L + m))
        .toDF("a", "b").cache()
      val nBatch = newMember.count()
      locally { // warm-up for the bigger shuffle sizes
        val (w, _) = graft.dedup.DedupOps.starContraction(cliquePairs)
        w.count(); w.unpersist()
      }
      var denseOneRounds = 0
      val denseOneshot = secs {
        val (cc, r) = graft.dedup.DedupOps.starContraction(
          cliquePairs.union(newMember))
        cc.count(); cc.unpersist()
        denseOneRounds = r
      }
      val (settled, _) = graft.dedup.DedupOps.starContraction(cliquePairs)
      val denseStars = settled.filter(col("node") =!= col("label")).cache()
      val nStars = denseStars.count()
      settled.unpersist()
      var denseIncrRounds = 0
      val denseIncr = secs {
        val (cc, r) = graft.dedup.DedupOps.starContraction(
          denseStars.union(newMember.toDF("node", "label")))
        cc.count(); cc.unpersist()
        denseIncrRounds = r
      }
      println(s"""{"metric":"ivm_dense_clusters","cliques":$k,"members":$m,""" +
        s""""oneshot_sec":${f3(denseOneshot)},"incremental_sec":${f3(denseIncr)},""" +
        s""""oneshot_edges":${nPairs + nBatch},"incremental_edges":${nStars + nBatch},""" +
        s""""oneshot_rounds":$denseOneRounds,"incremental_rounds":$denseIncrRounds,""" +
        s""""speedup":${f3(denseOneshot / denseIncr)}}""")
      cliquePairs.unpersist(); newMember.unpersist(); denseStars.unpersist()
    }
    spark.stop()
  }
}
