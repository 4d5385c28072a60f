package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.Evidence.{dropCachedState, emit, timed}
import graft.dedup.DedupOps

/** Evidence experiment `ivm_timing`: the incremental-vs-oneshot
  * timing pair for near-dup cluster maintenance — the number that
  * SHOWS the IVM economics (merge cost ≪ recompute cost) instead of
  * arguing them. The registry's `dedup_clusters_incr` entry proves
  * the CORRECTNESS identity (incremental ≡ full recompute, against the
  * transitive-closure oracle); this experiment measures the cost side
  * on the same fixture:
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
  * Four JSON lines per fixture (the cluster and MinHash pairs, each
  * from memo and from durable tables) and two dense-cluster lines;
  * recorded in BASELINE.md.
  */
object IvmTiming {
  /** With several fixture dirs (e.g. sf0.1, the 10×-docs and
    * 100×-docs fixtures) the per-fixture lines record how the
    * maintenance economics SCALE — the oneshot/incremental ratio
    * should grow with corpus size since oneshot re-signatures the
    * whole corpus while the batch stays a fixed fraction.
    */
  def run(spark: SparkSession, dirs: Seq[String]): Unit = {
    // one star contraction, materialized and released: its rounds
    def contract(edges: DataFrame): Int = {
      val (cc, rounds) = DedupOps.starContraction(edges)
      cc.count(); cc.unpersist()
      rounds
    }
    for (dir <- dirs) {
      // cross-fixture isolation (see Bench): fixture N's pinned
      // substrates must not compete with fixture N+1's storage memory
      if (dirs.size > 1) dropCachedState(spark)
      val pairs = DedupOps.verifiedPairs(spark, dir)
        .select(col("doc_a"), col("doc_b"))
      pairs.count() // warm the pair memo — not part of either side

      // untimed warm-up contraction (JIT, codegen, broadcast plumbing)
      contract(pairs)
      val (oneshotRounds, oneshot) = timed(contract(pairs))
      val oneshotEdges = pairs.count()
      // settle yesterday's index untimed, then time the merge only
      val stars = DedupOps.settledStars(spark, dir)
      val starEdges = stars.count()
      // build the durable star table now too (idempotent; the memo is
      // warm, so this is a node-count-sized write, not a re-derivation)
      DedupOps.settledStarsTable(spark, dir)
      val isNew = pmod(col("doc_a"), lit(10)) === DedupOps.IncBatchMod ||
        pmod(col("doc_b"), lit(10)) === DedupOps.IncBatchMod
      val batchEdges = pairs.filter(isNew).count()
      // land the batch pairs in a tiny parquet NOW, while the pair memo
      // is warm — the durable-cluster leg below runs from fully cold
      // state and must not re-derive the pair generator (a corpus-sized
      // shuffle per cold run at the 1000×-docs fixture)
      val batchPath = Staged.path("ivm-batch", dir)
      pairs.filter(isNew)
        .select(col("doc_a").as("node"), col("doc_b").as("label"))
        .write.mode("overwrite").parquet(batchPath)
      val (incrRounds, incremental) = timed(contract(
        stars.union(pairs.filter(isNew).toDF("node", "label"))))
      emit("metric" -> "ivm_cluster_maintenance", "sf" -> dir,
        "oneshot_sec" -> oneshot, "incremental_sec" -> incremental,
        "oneshot_edges" -> oneshotEdges, "incremental_edges" -> (starEdges + batchEdges),
        "oneshot_rounds" -> oneshotRounds, "incremental_rounds" -> incrRounds)

      // MinHash banded-index maintenance pair: both sides warmed once
      // untimed (JIT + the OS file cache on the oneshot side; the
      // settled-index memos on the incremental side), then timed on a
      // second call — so the oneshot number repays ALL its work per
      // call (nothing in minhashNeardup is memoized) while the
      // incremental number pays exactly the per-ingest cost: batch
      // signatures + a bucket join against the settled index.
      DedupOps.minhashNeardup(spark, dir).count()
      val (_, mhOneshot) = timed(DedupOps.minhashNeardup(spark, dir).count())
      DedupOps.dedupMinhashIncremental(spark, dir).count() // settle yesterday's band index
      val (_, mhIncr) = timed(DedupOps.dedupMinhashIncremental(spark, dir).count())
      emit("metric" -> "ivm_minhash_index", "sf" -> dir,
        "oneshot_sec" -> mhOneshot, "incremental_sec" -> mhIncr,
        "speedup" -> mhOneshot / mhIncr)

      // DURABLE-table maintenance (round 10): the settled index as a
      // bucketed+sorted table on disk instead of a cached memo — the
      // answer to the round-9 residency-boundary finding (the memo win
      // destabilized to 0.8×–1.9× once settled state outgrew storage
      // memory). Build the tables untimed (state settles once), then
      // time maintenance TWICE, each run from fully cold Spark state:
      // the two readings should agree — the cache-state variance is
      // the thing this design removes — and each should beat the
      // oneshot.
      DedupOps.settledMinhashTables(spark, dir)
      val mhDur = (1 to 2).map { _ =>
        dropCachedState(spark)
        timed(DedupOps.dedupMinhashIncrementalDurable(spark, dir).count())._2
      }
      emit("metric" -> "ivm_minhash_durable", "sf" -> dir,
        "oneshot_sec" -> mhOneshot, "durable_cold_sec" -> mhDur,
        "speedup" -> mhDur.map(mhOneshot / _))

      // cluster-state sibling: yesterday's components from the durable
      // star table. Batch-pair generation is identical work on both
      // sides of the comparison and warmed untimed by this file's
      // standing convention — here it lands in a tiny parquet ONCE
      // (cross-boundary pairs are batch-sized) so the cold runs time
      // exactly the MERGE against the durable table: a cold
      // re-derivation of the pair generator at the 1000×-docs fixture
      // spills a corpus-sized shuffle per run, which is neither part of
      // the maintenance claim nor affordable twice on this disk.
      DedupOps.settledStarsTable(spark, dir)
      val ccDur = (1 to 2).map { _ =>
        dropCachedState(spark)
        timed(contract(DedupOps.settledStarsTable(spark, dir)
          .union(spark.read.parquet(batchPath))))._2
      }
      emit("metric" -> "ivm_cluster_durable", "sf" -> dir,
        "oneshot_sec" -> oneshot, "durable_cold_sec" -> ccDur)
    }

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
    dropCachedState(spark)
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
      contract(cliquePairs) // warm-up for the bigger shuffle sizes
      val (denseOneRounds, denseOneshot) = timed(contract(cliquePairs.union(newMember)))
      val (settled, _) = DedupOps.starContraction(cliquePairs)
      val denseStars = settled.filter(col("node") =!= col("label")).cache()
      val nStars = denseStars.count()
      settled.unpersist()
      val (denseIncrRounds, denseIncr) = timed(contract(
        denseStars.union(newMember.toDF("node", "label"))))
      emit("metric" -> "ivm_dense_clusters", "cliques" -> k, "members" -> m,
        "oneshot_sec" -> denseOneshot, "incremental_sec" -> denseIncr,
        "oneshot_edges" -> (nPairs + nBatch), "incremental_edges" -> (nStars + nBatch),
        "oneshot_rounds" -> denseOneRounds, "incremental_rounds" -> denseIncrRounds,
        "speedup" -> denseOneshot / denseIncr)
      cliquePairs.unpersist(); newMember.unpersist(); denseStars.unpersist()
    }
  }
}
