package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndexStore, SimilarityOps, Tables}

/** The durable-ANN-index contract (round-10 verdict item 2): the index
  * on disk is a complete, versioned artifact — a later session opens
  * the manifest and serves WITHOUT any training job, incremental
  * maintenance commits atomically behind the manifest flip, and old
  * epochs stay readable until retention GC drops them.
  */
class AnnIndexStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def e0 = Tables.embeddings(spark, sf)
  private def queries = e0.filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))
  private def cands = e0.filter(col("vec_id") >= 8)
    .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  private def topKey(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "rk", "cid", "cos_e6").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

  private def postingKey(df: org.apache.spark.sql.DataFrame) =
    df.select("cent", "vec_id", "nrm_e6").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("a fresh session serves bit-identical top-k from the persisted index, zero training") {
    val dir = SimilarityOps.persistedIndexDir(spark, sf)
    // the in-session plan the served result must reproduce exactly
    val expected = topKey(
      SimilarityOps.ivfTopK(e0, cands, queries, k = 5, nprobe = 5))
    // a separate session (fresh SQL conf/temp state; one JVM is the
    // closest a test gets to "second process") opens the manifest —
    // centroids come from JSON, not from any fit
    val s2 = spark.newSession()
    val before = SimilarityOps.kmeansTrainCount.get()
    val m = AnnIndexStore.open(dir)
    val served = AnnIndexStore.topK(s2, dir, m,
      Tables.embeddings(s2, sf).filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      k = 5, nprobe = 5)
    assert(topKey(served) == expected,
      "served top-k must be bit-identical to the in-session IVF plan")
    assert(SimilarityOps.kmeansTrainCount.get() == before,
      "serving from the persisted index must run ZERO training jobs")
  }

  test("manifest centroids round-trip the trained quantizer exactly") {
    val dir = SimilarityOps.persistedIndexDir(spark, sf)
    val m = AnnIndexStore.open(dir)
    val trained = SimilarityOps.kmeansCentroids(e0, SimilarityOps.NumCentroids)
    assert(m.centroids.map(_._1) == trained.map(_._1))
    m.centroids.zip(trained).foreach { case ((_, got), (_, exp)) =>
      assert(got.toSeq == exp.toSeq, "JSON round-trip must be bit-exact")
    }
  }

  test("PQ serve path: codebooks from the manifest, zero training, cross-session identical") {
    val dir = SimilarityOps.persistedIndexDir(spark, sf)
    val m = AnnIndexStore.open(dir)
    assert(m.codebooks.nonEmpty, "persisted index must carry PQ codebooks")
    // codebooks round-trip the trained artifact bit-exactly
    val trained = SimilarityOps.pqCodebooks(e0).map(_.map(_._2))
    assert(m.codebooks.size == trained.size)
    m.codebooks.zip(trained).foreach { case (got, exp) =>
      got.zip(exp).foreach { case (g, x) => assert(g.toSeq == x.toSeq) }
    }
    def serve(s: org.apache.spark.sql.SparkSession) =
      AnnIndexStore.topKPq(s, dir, AnnIndexStore.open(dir),
        Tables.embeddings(s, sf).filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        k = 5, nprobe = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val inSession = serve(spark)
    val kmBefore = SimilarityOps.kmeansTrainCount.get()
    val pqBefore = SimilarityOps.pqTrainCount.get()
    val crossSession = serve(spark.newSession())
    assert(crossSession == inSession, "PQ serve must be session-independent")
    assert(SimilarityOps.kmeansTrainCount.get() == kmBefore &&
      SimilarityOps.pqTrainCount.get() == pqBefore,
      "PQ serving must run zero training jobs (both artifacts from the manifest)")
    // and it meets the shared recall contract
    val w = SimilarityOps.s_ann_pq_persisted(spark, sf).head
    assert(w.getBoolean(1), "persisted-PQ recall@5 must be >= 0.9")
  }

  test("applyDelta flips atomically and keeps the pre-delta epoch readable (time travel)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec_").toString
    try {
      val m0 = AnnIndexStore.build(e0, dir)
      val before = postingKey(AnnIndexStore.postings(spark, dir, m0))
      val maxId = e0.agg(max(col("vec_id"))).head.getLong(0)
      val commit = AnnIndexStore.applyDelta(spark, dir,
        SimilarityOps.ivfDeltaBatch(e0.select(col("vec_id"), col("embedding")), maxId))
      assert(commit.manifest.epoch == 1L)
      assert(AnnIndexStore.open(dir).epoch == 1L)
      // the epoch-0 snapshot resolves to exactly the pre-delta postings
      val snap = postingKey(
        AnnIndexStore.postings(spark, dir, AnnIndexStore.openAt(dir, 0L)))
      assert(snap == before, "epoch-0 snapshot must replay the pre-delta index")
      // and the live view differs (the delta really landed)
      val live = postingKey(
        AnnIndexStore.postings(spark, dir, AnnIndexStore.open(dir)))
      assert(live != before)
      // untouched cells still serve through their ORIGINAL epoch-0 dirs
      val untouched = m0.cells.keySet -- commit.affected
      untouched.foreach { c =>
        assert(AnnIndexStore.open(dir).cells(c) == s"c$c/e0") }
    } finally deleteDir(dir)
  }

  test("racing committers: two concurrent applyDelta calls serialize, no stomped cells, both land") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec_").toString
    try {
      val m0 = AnnIndexStore.build(e0, dir)
      val beforeIds = AnnIndexStore.postings(spark, dir, m0)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val maxId = beforeIds.max
      def inserts(off: Long) = e0.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"),
          lit("insert").as("op"),
          lit(null).cast(e0.schema("embedding").dataType).as("old_embedding"))
      val idsA = inserts(maxId + 1).select("vec_id").collect().map(_.getLong(0)).toSet
      val idsB = inserts(maxId + 100000).select("vec_id").collect().map(_.getLong(0)).toSet
      // pre-round-16 each committer computed epoch 1 from the same open
      // and the loser silently overwrote the winner's cell dirs AND
      // manifest; the shared whole-op commit lock serializes them
      import java.util.concurrent.Executors
      val pool = Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(() =>
          AnnIndexStore.applyDelta(spark, dir, inserts(maxId + 1)))
        val fb = pool.submit(() =>
          AnnIndexStore.applyDelta(spark, dir, inserts(maxId + 100000)))
        val (ca, cb) = (fa.get(), fb.get())
        assert(Set(ca.manifest.epoch, cb.manifest.epoch) == Set(1L, 2L),
          s"the two commits must land as consecutive epochs, got $ca / $cb")
      } finally pool.shutdown()
      val live = AnnIndexStore.postings(spark, dir, AnnIndexStore.open(dir))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(live == beforeIds ++ idsA ++ idsB,
        "every posting of BOTH racing deltas (and the base) must serve: " +
          s"missing=${(beforeIds ++ idsA ++ idsB) -- live}")
      assert(AnnIndexStore.open(dir).epoch == 2L)
    } finally deleteDir(dir)
  }

  test("applyDelta delete op: the before-image names the cell, victim postings physically gone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec_").toString
    try {
      val m0 = AnnIndexStore.build(e0, dir)
      val before = postingKey(AnnIndexStore.postings(spark, dir, m0))
      val victims = e0.filter(col("vec_id") % 10 === 2)
      val victimIds = victims.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(victimIds.nonEmpty)
      val commit = AnnIndexStore.applyDelta(spark, dir,
        victims.select(col("vec_id"), col("embedding"), lit("delete").as("op"),
          col("embedding").as("old_embedding")))
      val live = postingKey(AnnIndexStore.postings(spark, dir, commit.manifest))
      // exactly the victims' postings disappeared; survivors' rows are
      // byte-identical (no re-encode, no cell reshuffle)
      assert(live == before.filterNot(p => victimIds.contains(p._2)),
        "delete must remove exactly the victims' postings and nothing else")
      // the merge touched only the cells the before-images name
      val victimCells = before.filter(p => victimIds.contains(p._2)).map(_._1)
      assert(commit.affected.toSet == victimCells,
        s"delete read cells ${commit.affected} but victims live in $victimCells")
      // untouched cells keep their original epoch-0 dirs
      (m0.cells.keySet -- commit.affected).foreach { c =>
        assert(commit.manifest.cells(c) == s"c$c/e0") }
    } finally deleteDir(dir)
  }

  test("retention GC drops epochs beyond the horizon; evicted snapshots fail pointedly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec_gc_").toString
    try {
      AnnIndexStore.build(e0, dir)
      val base = e0.select(col("vec_id"), col("embedding"))
      val maxId = e0.agg(max(col("vec_id"))).head.getLong(0)
      // four insert-only delta batches at disjoint fresh ids → epochs 1..4
      (0 until 4).foreach { i =>
        val delta = base.filter(col("vec_id") % 17 === i)
          .select((col("vec_id") + lit((maxId + 1) * (i + 1))).as("vec_id"),
            col("embedding"), lit("insert").as("op"),
            lit(null).cast(base.schema("embedding").dataType).as("old_embedding"))
        AnnIndexStore.applyDelta(spark, dir, delta)
      }
      // RetainEpochs = 3 → epochs 2,3,4 retained; 0 and 1 gone
      assert(AnnIndexStore.listEpochs(dir) == Seq(2L, 3L, 4L))
      val err = intercept[IllegalStateException](AnnIndexStore.openAt(dir, 0L))
      assert(err.getMessage.contains("not retained"))
      // every dir a retained manifest references still exists on disk
      AnnIndexStore.listEpochs(dir).foreach { ep =>
        AnnIndexStore.openAt(dir, ep).cells.values.foreach { rel =>
          assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, rel)),
            s"retained epoch $ep references missing dir $rel")
        }
      }
      // and the retained snapshots still read cleanly end-to-end
      val oldest = AnnIndexStore.listEpochs(dir).head
      assert(AnnIndexStore.postings(spark, dir,
        AnnIndexStore.openAt(dir, oldest)).count() > 0)
    } finally deleteDir(dir)
  }

  test("snapshot lease: GC spares a leased epoch; evicted lease fails pointedly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annspec_lease_").toString
    try {
      AnnIndexStore.build(e0, dir)
      val base = e0.select(col("vec_id"), col("embedding"))
      val maxId = e0.agg(max(col("vec_id"))).head.getLong(0)
      AnnIndexStore.applyDelta(spark, dir,
        SimilarityOps.ivfDeltaBatch(base, maxId))
      assert(AnnIndexStore.listEpochs(dir) == Seq(0L, 1L))
      // a reader pins epoch 0 while a maintenance commit (retain=1,
      // which would evict it) lands mid-read: the leased epoch and
      // every dir it references must survive the pass
      val got = AnnIndexStore.withSnapshot(dir, 0L) { m0 =>
        val delta = base.filter(col("vec_id") % 17 === 0)
          .select((col("vec_id") + lit(2 * (maxId + 1))).as("vec_id"),
            col("embedding"), lit("insert").as("op"),
            lit(null).cast(base.schema("embedding").dataType).as("old_embedding"))
        AnnIndexStore.applyDelta(spark, dir, delta, retain = 1)
        assert(AnnIndexStore.listEpochs(dir).contains(0L),
          "leased epoch GC'd out from under an active reader")
        m0.cells.values.foreach { rel =>
          assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, rel))) }
        AnnIndexStore.postings(spark, dir, m0).count()
      }
      assert(got > 0)
      // the round-10 residual, closed: a lease landing between GC's
      // intent and its lease listing (the afterIntent seam) spares
      // the epoch — direct gc call, same pass shape as applyDelta's
      AnnIndexStore.gc(dir, current = 1L, retain = 1,
        afterIntent = e => if (e == 0L) {
          java.nio.file.Files.writeString(graft.EpochGuard.leasePath(
            java.nio.file.Paths.get(dir), 0L, "racer"), """{"epoch":0}""")
          ()
        })
      assert(AnnIndexStore.listEpochs(dir).contains(0L),
        "epoch evicted despite a lease landing between GC's intent and its list")
      java.nio.file.Files.delete(graft.EpochGuard.leasePath(
        java.nio.file.Paths.get(dir), 0L, "racer"))
      // lease released: the next maintenance pass evicts epoch 0 and a
      // late lease attempt fails pointedly, leaving no stray lease file
      val delta2 = base.filter(col("vec_id") % 19 === 0)
        .select((col("vec_id") + lit(3 * (maxId + 1))).as("vec_id"),
          col("embedding"), lit("insert").as("op"),
          lit(null).cast(base.schema("embedding").dataType).as("old_embedding"))
      AnnIndexStore.applyDelta(spark, dir, delta2, retain = 1)
      assert(!AnnIndexStore.listEpochs(dir).contains(0L))
      val err = intercept[IllegalStateException](
        AnnIndexStore.withSnapshot(dir, 0L)(_ => ()))
      assert(err.getMessage.contains("snapshot expired"), err.getMessage)
      val strays = Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("_lease-"))
      assert(strays.isEmpty, s"lease files leaked: $strays")
    } finally deleteDir(dir)
  }

  test("rebalance: retrains on the drifted corpus, equals a fresh build, time-travels across the quantizer change") {
    // rebalancedIndexDir = build (without a third of the candidates)
    // → applyDelta (inserting them: real drift) → rebalance. Epochs:
    // 0 = seeded build, 1 = post-delta, 2 = rebalanced.
    val dir = SimilarityOps.rebalancedIndexDir(spark, sf)
    val m2 = AnnIndexStore.open(dir)
    val m1 = AnnIndexStore.openAt(dir, 1L)
    assert(m2.epoch == 2L && m1.epoch == 1L)
    // the quantizer actually changed — rebalance is a retrain, not a
    // re-encode under the old centroids
    assert(m2.centroids.map(_._2.toSeq) != m1.centroids.map(_._2.toSeq),
      "rebalance must refit the quantizer on the current corpus")
    // no vector lost or invented by the re-encode: same id set, and
    // every id appears exactly CandAssign times (distinct cells)
    val ids1 = AnnIndexStore.postings(spark, dir, m1)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    val p2 = AnnIndexStore.postings(spark, dir, m2)
    val ids2 = p2.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids2 == ids1, "rebalance must preserve the indexed id set")
    assert(p2.count() == ids2.size.toLong * SimilarityOps.CandAssign)
    // content equality with a FRESH build over the same corpus rows:
    // rebalance ≡ build-from-scratch on the current postings (the
    // deterministic-order training input makes this well-defined)
    val corpus = AnnIndexStore.postings(spark, dir, m1)
      .groupBy(col("vec_id")).agg(first(col("embedding")).as("embedding"))
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val dir2 = java.nio.file.Files.createTempDirectory("graft_reb_fresh_").toString
    try {
      val mf = AnnIndexStore.build(corpus, dir2)
      assert(mf.centroids.map(_._2.toSeq) == m2.centroids.map(_._2.toSeq),
        "rebalanced quantizer must equal a fresh fit on the same corpus")
      assert(postingKey(AnnIndexStore.postings(spark, dir2, mf)) == postingKey(p2),
        "rebalanced postings must equal a fresh build's")
      // time travel ACROSS the quantizer change: the pre-rebalance
      // epoch serves complete top-k under ITS OWN manifest centroids
      val served = AnnIndexStore.topK(spark, dir, m1,
        e0.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        k = 5, nprobe = 5)
      val perQ = served.groupBy("qid").count().collect().map(_.getLong(1))
      assert(perQ.nonEmpty && perQ.forall(_ == 5L),
        "pre-rebalance snapshot must serve full top-5 under the old quantizer")
    } finally deleteDir(dir2)
  }

  test("applyDeltaIdempotent: a replayed batch no-ops, a batch gap fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idem_").toString
    try {
      AnnIndexStore.build(e0, dir,
        index = Some(e0.filter(col("vec_id") >= 8 && col("vec_id") % 2 === 0)))
      val delta = e0.filter(col("vec_id") >= 8 && col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"), lit("insert").as("op"),
          lit(null).cast(e0.schema("embedding").dataType).as("old_embedding"))
      val m1 = AnnIndexStore.applyBatch(dir, batchId = 0L)(AnnIndexStore.applyDelta(spark, dir, delta))
      assert(m1.epoch == 1L)
      val before = postingKey(AnnIndexStore.postings(spark, dir, m1))
      // the at-least-once REPLAY: same batch id again — must not
      // double-apply (a blind applyDelta would duplicate every insert)
      val m1b = AnnIndexStore.applyBatch(dir, batchId = 0L)(AnnIndexStore.applyDelta(spark, dir, delta))
      assert(m1b.epoch == 1L, "replayed batch must not advance the epoch")
      assert(postingKey(AnnIndexStore.postings(spark, dir,
        AnnIndexStore.open(dir))) == before,
        "replayed batch must leave the postings byte-identical")
      // a GAP (skipped batch) must fail pointedly, never index around a hole
      val err = intercept[RuntimeException](
        AnnIndexStore.applyBatch(dir, batchId = 5L)(AnnIndexStore.applyDelta(spark, dir, delta)))
      assert(err.getMessage.contains("gap"), err.getMessage)
    } finally deleteDir(dir)
  }

  test("streaming ingest: one epoch per micro-batch, restart fires zero batches") {
    val root = Fs.scratchDir("anning_spec").toString
    try {
      var batches = List.empty[Long]
      val idx = streaming.StreamingOps.runAnnIngest(spark, sf, root,
        onBatch = id => batches ::= id)
      assert(batches.sorted == (0L until streaming.StreamingOps.FeedBatches),
        s"expected one micro-batch per delta file, got $batches")
      val m = AnnIndexStore.open(idx)
      assert(m.epoch == streaming.StreamingOps.FeedBatches.toLong,
        "each micro-batch must commit exactly one index epoch")
      // the index holds EVERY candidate exactly CandAssign times
      val ids = AnnIndexStore.postings(spark, idx, m)
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      val want = e0.filter(col("vec_id") >= 8).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == want, "stream-assembled index must cover all candidates")
      // RESTART against the drained checkpoint: the offset log says
      // everything is processed — zero batches fire, epoch unchanged
      var restart = 0
      streaming.StreamingOps.runAnnIngest(spark, sf, root,
        onBatch = _ => restart += 1)
      assert(restart == 0, "restart of a drained stream must fire no batches")
      assert(AnnIndexStore.open(idx).epoch ==
        streaming.StreamingOps.FeedBatches.toLong)
    } finally deleteDir(root)
  }

  test("served recall meets the same witness floor as the in-session IVF path") {
    val r = SimilarityOps.s_ann_persisted(spark, sf).head
    assert(r.getLong(0) > 0)
    assert(r.getBoolean(1), "persisted-index recall@5 must be >= 0.9")
  }

  test("nlist sizing: sizedNlist targets constant cell rows with a sqrt floor and a cap") {
    // tiny corpora keep the classical sqrt balance (the floor)
    assert(AnnIndexStore.sizedNlist(100L) == AnnIndexStore.suggestedNlist(100L))
    // past the floor, cells hold ~TargetCellRows — nlist ∝ N, so the
    // probed volume nprobe × N/nlist is CONSTANT as the corpus grows
    val t = AnnIndexStore.TargetCellRows
    assert(AnnIndexStore.sizedNlist(t * 1000) == 1000)
    assert(AnnIndexStore.sizedNlist(t * 2000) == 2000,
      "nlist must double when the corpus doubles (constant cell rows)")
    // the centroid-scan cap: past 2^16 cells, nprobe becomes the dial
    assert(AnnIndexStore.sizedNlist(Long.MaxValue / 4) == (1 << 16))
  }

  private def deleteDir(d: String): Unit =
    graft.Fs.deleteRecursively(new java.io.File(d))
}
