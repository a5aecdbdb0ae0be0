package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale validation of the HEAVY operator families above the sf0.1
  * fixtures — the query-surface counterpart of [[ConvDecadeBench]]
  * (which pushed only the converter a decade up). The sf0.1 tables
  * stop at 600k lineitem / 5k documents / 2k embeddings / 100k
  * events; every "one shuffle at any corpus size" claim for the
  * dedup-LSH, ANN, BM25, and streaming-upsert families otherwise
  * rests on design reading alone. This bench renders ×R fixtures ONCE
  * into java.io.tmpdir (reusable across runs) and times each family
  * at that scale, so SCALING.md can cite measured growth ratios
  * instead of arguments.
  *
  * Replication is structure-preserving, not copy-paste:
  *   - documents: replica k's every word gets a `~k` suffix — shingle
  *     equality WITHIN a replica is untouched (the planted near-dup
  *     pairs scale exactly ×R) while cross-replica Jaccard is 0 (no
  *     spurious R-clique blow-up that would change the problem's
  *     complexity class).
  *   - embeddings: replica k perturbed per-dimension by a small
  *     deterministic offset (distinct directions, same clustering
  *     shape).
  *   - lineitem / events: disjoint key ranges (orderkey / event_id /
  *     user_id offsets), so distinct-key cardinalities scale ×R too
  *     (the upsert state table genuinely holds R× more keys).
  *
  * The serve batches exercise the REAL maintenance paths: the dedup
  * batch is replica 0 re-suffixed on every 10th word (Jaccard ≈ 0.57
  * against its original — every batch doc verifies as a true
  * near-dup), and the index builds use the production sizing dials
  * ([[TextIndexStore.suggestedBuckets]], [[AnnIndexStore
  * .suggestedNlist]]) rather than the fixture defaults.
  *
  * Run: sbt 'Test/runMain graft.ops.ScaleBench [reps ...]'
  * (default tiers: 4 and 20 — the ratio between them is the
  * scale-growth evidence; 20× sf0.1 is sf2-ish: 12M lineitem rows,
  * 100k documents, 2M events). */
object ScaleBench {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Render the ×R fixture set once; return its dir. */
  private def render(s: SparkSession, sf: String, reps: Int): String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_scale_x$reps")
    val done = dir.resolve("_RENDERED")
    if (Files.exists(done)) return dir.toString
    val t0 = System.nanoTime()

    val docs0 = Tables.documents(s, sf)
    val maxDoc = docs0.agg(max("doc_id")).head.getLong(0) + 1
    (0 until reps).map { k =>
      val d = docs0.withColumn("doc_id", col("doc_id") + lit(k.toLong * maxDoc))
      if (k == 0) d
      else d.withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "), w => concat(w, lit(s"~$k")))))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val emb0 = Tables.embeddings(s, sf)
    val maxVec = emb0.agg(max("vec_id")).head.getLong(0) + 1
    (0 until reps).map { k =>
      emb0.withColumn("vec_id", col("vec_id") + lit(k.toLong * maxVec))
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => (x + lit(0.01f) * ((lit(k) * (i + 7)) % 11 - lit(5)).cast("float"))))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val li0 = Tables.lineitem(s, sf)
    val maxOk = li0.agg(max("l_orderkey")).head.getLong(0) + 1
    (0 until reps).map { k =>
      li0.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * maxOk))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val ev0 = Tables.events(s, sf)
    val maxEv = ev0.agg(max("event_id")).head.getLong(0) + 1
    val maxUs = ev0.agg(max("user_id")).head.getLong(0) + 1
    (0 until reps).map { k =>
      ev0.withColumn("event_id", col("event_id") + lit(k.toLong * maxEv))
        .withColumn("user_id", col("user_id") + lit(k.toLong * maxUs))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    Files.writeString(done, s"reps=$reps")
    println(f"#SCALE# rendered x$reps once in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    dir.toString
  }

  /** Replica-0 docs under NEW ids with every 10th word re-suffixed:
    * each batch doc keeps ~73%% of its original's shingles (Jaccard
    * ≈ 0.57 ≥ 0.5) — a realistic near-dup ingest batch whose every
    * row exercises the verify path. */
  private def nearDupBatch(docs0: DataFrame, idOffset: Long): DataFrame =
    docs0.withColumn("doc_id", col("doc_id") + lit(idOffset))
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "),
          (w, i) => when(pmod(i, lit(10)) === 0, concat(w, lit("~b"))).otherwise(w))))

  private def runTier(s: SparkSession, sf: String, reps: Int): Unit = {
    val dir = render(s, sf, reps)
    def tbl(n: String) = s.read.parquet(s"$dir/$n.parquet")
    val docs = tbl("documents").select(col("doc_id"), col("text"))
    val docs0 = Tables.documents(s, sf).select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val emb = tbl("embeddings")
    val nVec = emb.count()
    val li = tbl("lineitem")
    val ev = tbl("events")
    val q = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // --- relational: the q1 aggregate and a sessionize window -------
    q("agg_q1") = time {
      li.filter(col("l_shipdate") <= lit("2002-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          avg("l_discount"), count(lit(1)))
        .collect().length
    }._2
    val evn = Tables.normalizeEventTs(ev, s"$dir/events.parquet")
    q("window_sessionize") = time {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      evn
        .withColumn("gap", unix_timestamp(col("ts")) -
          unix_timestamp(lag(col("ts"), 1).over(w)))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
        .groupBy(col("user_id")).agg(sum("new_sess").as("n_sessions"))
        .agg(sum("n_sessions")).head.getLong(0)
    }._2

    // --- dedup: the full LSH pipeline, then the durable index -------
    val (nPairs, tPipe) = time {
      val cands = DedupOps.lshCandidates(DedupOps.minhashSignatures(docs))
      val sh = DedupOps.shingled(docs)
      val verified = cands
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
        .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("u", size(col("sha")) + size(col("shb")) - col("c"))
        .filter(col("c") * lit(2) >= col("u"))
        .select(col("doc_a"), col("doc_b"))
      DedupOps.connectedComponents(verified).count()
    }
    q("dedup_pipeline") = tPipe

    val dedupDir = Files.createTempDirectory(s"graft_scale_dis_x$reps").toString
    val dFan = DedupIndexStore.suggestedBuckets(nDocs)
    q("dedup_index_build") = time {
      DedupIndexStore.build(docs, dedupDir, numBuckets = dFan, docBuckets = dFan)
    }._2
    val batch = nearDupBatch(docs0, idOffset = 10000000L)
    val (nServed, tServe) = time {
      DedupIndexStore.nearDups(s, dedupDir,
        DedupIndexStore.open(dedupDir), batch).count()
    }
    q("dedup_index_serve") = tServe
    // a production-shaped DAILY batch (100 docs, constant across
    // tiers): its band keys probe a shrinking FRACTION of the posting
    // buckets as the corpus grows — serve time should stay near-flat
    // while the full-corpus-sized batch above legitimately scales
    val smallBatch = nearDupBatch(docs0.filter(col("doc_id") % 50 === 0),
      idOffset = 20000000L)
    q("dedup_serve_100") = time {
      DedupIndexStore.nearDups(s, dedupDir,
        DedupIndexStore.open(dedupDir), smallBatch).count()
    }._2
    // grow-path: re-hash postings + squash registry at 2x the fan-outs
    // (one flip, zero corpus jobs) - must track the build's byte
    // volume, never exceed it
    q("dedup_reshard") = time {
      DedupIndexStore.reshard(s, dedupDir, dFan * 2, dFan * 2)
    }._2

    // --- line-level dedup: the argmin-aggregate plan (r13 item 3) ---
    // One combinable min(struct) per distinct line + doc-bounded
    // reassembly — growth across tiers must track corpus volume, never
    // any single line's occurrence count (the heavy-hitter path itself
    // is spec-pinned with a planted 10k-copy line in DedupOpsSpec).
    q("line_dedup") = time {
      DedupOps.d_line_dedup(s, dir).write.mode("overwrite").format("noop").save()
    }._2

    // --- text: BM25 build at the suggested fan-out, serve, delta ----
    val textDir = Files.createTempDirectory(s"graft_scale_tis_x$reps").toString
    // size-derived fan-out (target file size) — the round-14 ×100 fix
    // for the √N rule's measured small-file superlinearity; the build
    // measures its own posting volume and picks the fan-out
    q("bm25_build") = time {
      TextIndexStore.build(docs, textDir, numBuckets = TextIndexStore.SizeDerived)
    }._2
    val tFan = TextIndexStore.open(textDir).numBuckets
    println(s"#SCALE# x$reps bm25 fanOut=$tFan (size-derived)")
    val (bmServed, tBm) = time {
      val served = TextIndexStore.bm25Scores(s, textDir, TextIndexStore.open(textDir))
      val n = served.count()
      // the probe-read bound must hold at EVERY fan-out: ≤ BmQueryK
      // posting buckets touched regardless of corpus size
      val bucketsRead = served.inputFiles
        .flatMap(_.split('/').find(_.matches("b\\d+"))).distinct.length
      require(bucketsRead <= TextOps.BmQueryK,
        s"BM25 probe read $bucketsRead buckets at fan-out $tFan")
      n
    }
    q("bm25_serve") = tBm

    // --- decontamination: inline corpus join vs index-served probe --
    // (runs BEFORE bm25_delta mutates the index). A production eval
    // set is CONSTANT-size across corpus growth, so it is pinned to
    // replica 0's probe docs at every tier: the inline path must
    // re-shingle the whole xR corpus per screen, while the served
    // path's rare-token postings stay replica-0-sized (replica-k
    // vocabularies are ~k-suffixed) — served should stay near-flat
    // while inline grows with the corpus. Both must agree exactly.
    val evalSh = PipelineOps.evalShingleSet(
      docs0.filter(col("doc_id") % 97 === 0)).localCheckpoint()
    val (nInline, tInline) = time {
      PipelineOps.deconHitsInline(docs, evalSh).count()
    }
    q("decon_inline") = tInline
    val (nDecSrv, tDecSrv) = time {
      PipelineOps.deconHitsServed(s, docs, evalSh, textDir).count()
    }
    q("decon_served") = tDecSrv
    require(nInline == nDecSrv,
      s"served decon diverged at x$reps: inline=$nInline served=$nDecSrv")

    q("bm25_delta") = time {
      TextIndexStore.applyDelta(s, textDir, batch)
    }._2
    q("bm25_reshard") = time { TextIndexStore.reshard(s, textDir, tFan * 2) }._2

    // --- ANN: IVF build at the suggested nlist, serve ---------------
    val annDir = Files.createTempDirectory(s"graft_scale_ann_x$reps").toString
    // size-derived nlist (target cell rows): probed-cell volume stays
    // constant at fixed nprobe as the corpus grows (round-14 item 6);
    // the build is nlist-robust since the native NearestCentroids
    // assignment (plan O(1) in nlist, no per-row sort)
    val nlist = AnnIndexStore.sizedNlist(nVec)
    // production pattern: train the quantizer on a sample, index all
    val trainSample = emb.sample(withReplacement = false, math.min(1.0, 8000.0 / nVec), 42L)
    q("ann_build") = time {
      AnnIndexStore.build(trainSample, annDir, k = nlist, index = Some(emb))
    }._2
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val (annServed, tAnn) = time {
      AnnIndexStore.topK(s, annDir, AnnIndexStore.open(annDir), queries,
        k = 5, nprobe = 5).count()
    }
    q("ann_serve") = tAnn

    // --- ANN serve dial: nprobe sweep with MEASURED recall ----------
    // (round-12 verdict #8: ann_serve grew 1.7× across ×4→×50 because
    // probed-CELL volume grows with nlist at fixed nprobe — nprobe is
    // the serving-cost dial, so time AND recall it at three widths
    // against the exact brute-force top-5 over the full tier corpus)
    val brute = SimilarityOps.bruteForceTopK(queries,
        emb.select(col("vec_id").as("cid"), col("embedding").as("ce")), 5)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(1, 5, 15).map { np =>
      val (got, tNp) = time {
        AnnIndexStore.topK(s, annDir, AnnIndexStore.open(annDir), queries,
            k = 5, nprobe = np)
          .select(col("qid"), col("cid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      q(s"ann_serve_np$np") = tNp
      np -> got.intersect(brute).size * 100 / brute.size
    }

    // --- hybrid retrieval served from BOTH persisted artifacts ------
    // (round-12 verdict #4: the fused path had no growth row) —
    // lexical leg from the text index, vector leg from the ANN index,
    // RRF fusion in rank space over two ≤20-row lists
    q("hybrid_served") = time {
      import org.apache.spark.sql.expressions.Window
      val bm = TextIndexStore.bm25Scores(s, textDir, TextIndexStore.open(textDir))
        .orderBy(desc("score_e6"), col("doc_id")).limit(20)
        .withColumn("r_bm25",
          row_number().over(Window.orderBy(desc("score_e6"), col("doc_id"))))
        .select(col("doc_id"), col("r_bm25"))
      val vec = AnnIndexStore.topK(s, annDir, AnnIndexStore.open(annDir),
          queries.filter(col("qid") === 0), k = 20, nprobe = 5)
        .select(col("cid").as("doc_id"), col("rk").as("r_vec"))
      bm.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf_e12",
          coalesce(expr("1000000000000L div (60L + r_bm25)"), lit(0L)) +
            coalesce(expr("1000000000000L div (60L + r_vec)"), lit(0L)))
        .orderBy(desc("rrf_e12"), col("doc_id")).limit(10)
        .collect().length
    }._2

    // constant-size insert batch (100 fresh vectors) into the xR index:
    // the affected-cells-only merge should stay batch-proportional as
    // the corpus grows — the ANN half of the hybrid dual ingest's
    // per-micro-batch cost (the text half is bm25_delta above). Runs
    // LAST against annDir so the recall sweep and fused serve above
    // measured the unpolluted corpus.
    val annBatch = emb.filter(col("vec_id") % 50 === 3).limit(100)
      .select((col("vec_id") + lit(30000000L)).as("vec_id"), col("embedding"),
        lit("insert").as("op"),
        lit(null).cast(emb.schema("embedding").dataType).as("old_embedding"))
      .localCheckpoint()
    q("ann_delta") = time { AnnIndexStore.applyDelta(s, annDir, annBatch) }._2

    // --- maxsim late-interaction served from the persisted IVF ------
    // (r13 newcomer): stage-1 pool from the persisted index, stage-2
    // rerank pool-bounded (queries × MaxSimPool pairs — NEVER corpus-
    // shaped), witness against the exact twin. First call pays the
    // one-time SessionCache index build; the timed call is the
    // steady-state serve + witness, which should grow only with the
    // exact twin's stage-1 brute-force leg (linear scan), the served
    // rerank staying pool-sized and near-flat.
    SimilarityOps.s_maxsim_served(s, dir)
      .write.mode("overwrite").format("noop").save()
    q("maxsim_served") = time {
      SimilarityOps.s_maxsim_served(s, dir)
        .write.mode("overwrite").format("noop").save()
    }._2

    // --- MV store: corpus-sized build vs DELTA-proportional refresh -
    // (round-12 verdict #4: the "refresh never re-reads history" claim
    // had no growth row — exactly the claim ScaleBench exists to
    // falsify). Delta partials are materialized BEFORE the clock so
    // the timed refresh is the store's work, not the base-table scan.
    val mvDir = Files.createTempDirectory(s"graft_scale_mv_x$reps").toString
    val liM = li.withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
    def mvPartials(rows: DataFrame) = rows
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val maxM = liM.agg(max(col("m"))).head.getString(0)
    val deltaP = mvPartials(liM.filter(col("m") === maxM)).localCheckpoint()
    q("mv_build") = time {
      MvStore.build(mvPartials(liM.filter(col("m") < maxM)), mvDir,
        Seq("l_returnflag"), Seq("cents"))
    }._2
    q("mv_refresh") = time { MvStore.refresh(s, mvDir, deltaP) }._2
    q("mv_changefeed") = time { MvStore.changeFeed(s, mvDir, 0L, 1L).count() }._2
    q("mv_changed_keys") = time { MvStore.changedKeys(s, mvDir, 0L, 1L).count() }._2
    q("mv_reshard") = time { MvStore.reshard(s, mvDir, MvStore.NumBuckets * 4) }._2

    // --- WAP governed table: the publish/abort must be metadata-only -
    // stage and audit legitimately scale with the batch (one write, one
    // predicate pass with pushdown); publish is a rename + manifest
    // flip and must stay FLAT at any data size — that flatness is the
    // protocol's whole value (a refused batch never costs a rollback)
    val wapDir = Files.createTempDirectory(s"graft_scale_wap_x$reps").toString
    val wapBase = li.select(col("l_orderkey"), col("l_linenumber"),
      round(col("l_extendedprice") * 100).cast("long").as("cents_v"))
    q("wap_build") = time {
      GovernedTable.build(wapBase.filter(col("l_orderkey") % 2 === 0), wapDir)
    }._2
    val (staged, tStage) = time {
      GovernedTable.stage(wapBase.filter(col("l_orderkey") % 2 === 1), wapDir)
    }
    q("wap_stage") = tStage
    q("wap_audit") = time {
      GovernedTable.stagedView(s, wapDir, staged)
        .filter(col("cents_v") < 0).count()
    }._2
    q("wap_publish") = time { GovernedTable.publish(s, wapDir, staged) }._2
    // change feed must read ONLY the fresh segment — a change-
    // proportional cost, here ~half the table because the published
    // batch IS half; the flat-at-scale claim is the metadata diff +
    // pruned read, checked against wap_build's full-scan shape
    q("wap_changefeed") = time {
      GovernedTable.changeFeed(s, wapDir, 0L, 1L).count()
    }._2

    // --- multi-writer CAS publish under contention (r15 newcomer,
    // r16 verdict item 7): two producers' stages are written OUTSIDE
    // the clock (stage cost is the batch write, already measured by
    // wap_stage); the timed section is the CONTENDED flip sequence —
    // two publishCas racing on real threads through the commit lock,
    // then the loser's restage (one rename) + re-publish. All three
    // commits are metadata-only, so this row must stay FLAT across
    // tiers; growth here would mean the lock is serializing data work.
    val casA = GovernedTable.stageAs(
      wapBase.filter(col("l_orderkey") % 1000 === 2).limit(500)
        .withColumn("l_orderkey", col("l_orderkey") + lit(900000000L)),
      wapDir, "wA")
    val casB = GovernedTable.stageAs(
      wapBase.filter(col("l_orderkey") % 1000 === 3).limit(500)
        .withColumn("l_orderkey", col("l_orderkey") + lit(910000000L)),
      wapDir, "wB")
    q("wap_cas_contention") = time {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(() => GovernedTable.publishCas(s, wapDir, casA))
        val fb = pool.submit(() => GovernedTable.publishCas(s, wapDir, casB))
        val (ra, rb) = (fa.get(), fb.get())
        require(ra.isRight != rb.isRight, s"exactly one CAS must win: $ra / $rb")
        val loser = if (ra.isLeft) casA else casB
        val retried = GovernedTable.publishCas(s, wapDir,
          GovernedTable.restage(wapDir, loser))
        require(retried.isRight, s"CAS retry must land, got $retried")
      } finally pool.shutdown()
    }._2

    // --- column-mapped serve overhead (r16 verdict item 7): the id-
    // based resolution (per-segment projection + rename indirection)
    // against the same table's plain union-by-name read at this tier.
    // The mapping is manifest-only, so the delta must be plan-build
    // constants, never a data-proportional cost.
    val (nPlain, tPlain) = time {
      GovernedTable.read(s, wapDir).agg(count(lit(1))).head.getLong(0)
    }
    q("wap_read_plain") = tPlain
    GovernedTable.enableColumnMapping(s, wapDir)
    GovernedTable.renameColumn(s, wapDir, "cents_v", "cents_w")
    val (nMapped, tMapped) = time {
      GovernedTable.read(s, wapDir)
        .filter(col("cents_w").isNotNull).agg(count(lit(1))).head.getLong(0)
    }
    q("wap_read_mapped") = tMapped
    require(nPlain == nMapped,
      s"column-mapped read diverged: plain=$nPlain mapped=$nMapped")

    // --- streaming WAP ingest (r14 newcomer): full 3-batch drain ----
    // through the governed gate — fixed batch count, data grows ×R, so
    // the drain decomposes as (per-batch stage/audit/flip overhead ×3)
    // + data-proportional stage writes, the same amortization story as
    // dlq/decon_ingest_drain above.
    q("gov_ingest_drain") = time {
      graft.streaming.StreamingOps.st_gov_ingest(s, dir)
        .write.mode("overwrite").format("noop").save()
    }._2

    // --- passage chunking (r14 newcomer): one pass over ×R docs -----
    q("t_chunk_q") = time {
      TextOps.t_chunk(s, dir).write.mode("overwrite").format("noop").save()
    }._2

    // --- stream-stream interval join: full drain over R× events -----
    // (round-12 verdict #4) — watermarks bound state to 1 h per side,
    // so the drain should scale with DATA volume, never with state
    val (joined, tJoin) = time {
      graft.streaming.StreamingOps.st_stream_join(s, dir).count()
    }
    q("stream_join") = tJoin

    // --- streaming ingest gates (r13 newcomers): full 4-batch drains -
    // through the dead-letter and decontamination gates. Batch count
    // is FIXED (doc_id % 4 routing), data grows ×R, so the drain time
    // decomposes as (per-batch fixed gate overhead × 4) + data-
    // proportional work; near-tier-proportional growth here means the
    // gate overhead is amortized, a flat floor means overhead
    // dominates at fixture scale.
    q("dlq_ingest_drain") = time {
      graft.streaming.StreamingOps.st_dlq_ingest(s, dir)
        .write.mode("overwrite").format("noop").save()
    }._2
    q("decon_ingest_drain") = time {
      graft.streaming.StreamingOps.st_decon_ingest(s, dir)
        .write.mode("overwrite").format("noop").save()
    }._2

    // --- streaming upsert: 4 merge batches over R× distinct keys ----
    val upsertDir = Files.createTempDirectory(s"graft_scale_ups_x$reps").toString
    q("upsert_4batches") = time {
      (0 until 4).foreach { b =>
        graft.streaming.StreamingOps.mergeUpsertBatch(s, upsertDir,
          evn.filter(pmod(col("event_id"), lit(4)) === b)): Unit
      }
    }._2

    val rows = Map("documents" -> nDocs, "embeddings" -> nVec,
      "lineitem" -> li.count(), "events" -> ev.count(),
      "dedup_pairs_served" -> nServed, "bm25_docs_served" -> bmServed,
      "decon_docs_hit" -> nInline,
      "ann_rows_served" -> annServed, "stream_join_rows" -> joined) ++
      recalls.map { case (np, r) => s"ann_recall_np$np" -> r.toLong }
    println(s"""#SCALE# {"metric":"scale","reps":$reps,"unit":"sec",""" +
      s""""fanouts":{"dedup":$dFan,"text":$tFan,"nlist":$nlist},""" +
      s""""rows":{${rows.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},""" +
      s""""queries":{${q.map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")}}}""")

    Seq(dedupDir, textDir, annDir, upsertDir, mvDir, wapDir)
      .foreach(p => graft.Fs.deleteRecursively(new java.io.File(p)))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tiers = if (args.nonEmpty) args.flatMap(_.toIntOption).toSeq else Seq(4, 20)
    tiers.foreach(r => runTier(spark, sf, r))
    spark.stop()
  }
}
