package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the WRITE-AUDIT-PUBLISH protocol promised at
  * GovernedTable.scala: staged batches are invisible until the
  * manifest flips, aborts leave serving untouched, publishes are one
  * flip with time travel, and the crash seams (re-stage, rename-then-
  * crash) replay cleanly.
  */
class GovernedTableSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private def rows(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, i.toLong * 100)).toDF("id", "v")
  }

  test("staged batch is invisible; publish is one flip; time travel serves the old epoch") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 10), dir)
    val staged = GovernedTable.stage(rows(10 until 15), dir)
    // invisible: the serving view is still exactly the base
    assert(GovernedTable.read(spark, dir).count() == 10)
    // the audit view is base ∪ staged
    assert(GovernedTable.stagedView(spark, dir, staged).count() == 15)
    val before = graft.ManifestIo.listEpochs(java.nio.file.Paths.get(dir))
    GovernedTable.publish(spark, dir, staged)
    val after = graft.ManifestIo.listEpochs(java.nio.file.Paths.get(dir))
    assert(after.size == before.size + 1, "publish must be exactly one epoch flip")
    assert(GovernedTable.read(spark, dir).count() == 15)
    // time travel: epoch 0 still serves only the base
    assert(GovernedTable.readAt(spark, dir, 0L).count() == 10)
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("abort leaves no trace; a dirty WAP round never touches serving") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 10), dir)
    val dirty = rows(10 until 20).withColumn("v", -col("v"))
    val (violations, published) =
      GovernedTable.writeAuditPublish(spark, dir, dirty)(
        _.filter(col("v") < 0).count())
    assert(violations == 10L && published.isEmpty)
    assert(GovernedTable.open(dir).epoch == 0L, "abort must not advance the epoch")
    assert(GovernedTable.read(spark, dir).count() == 10)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "stage-e1")),
      "aborted stage dir must be gone")
    // the next clean round reuses the same epoch slot
    val (v2, m2) = GovernedTable.writeAuditPublish(spark, dir, rows(10 until 15))(
      _.filter(col("v") < 0).count())
    assert(v2 == 0L && m2.exists(_.epoch == 1L))
    assert(GovernedTable.read(spark, dir).count() == 15)
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("crash seams: re-stage overwrites in place; stale stage fails pointedly; rename-then-crash replays") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    // crashed audit → re-stage the same batch: same handle, no dup rows
    val s1 = GovernedTable.stage(rows(5 until 8), dir)
    val s2 = GovernedTable.stage(rows(5 until 8), dir)
    assert(s1 == s2)
    assert(spark.read.parquet(s"$dir/$s2").count() == 3)
    GovernedTable.publish(spark, dir, s2)
    // stale handle: a stage taken before the table advanced must refuse
    val stale = intercept[IllegalArgumentException] {
      GovernedTable.publish(spark, dir, s2)
    }
    assert(stale.getMessage.contains("stale stage"))
    // rename-done-flip-missed crash: simulate by staging, renaming by
    // hand, then calling publish — it must heal (move-if-present)
    val s3 = GovernedTable.stage(rows(8 until 10), dir)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, s3),
      java.nio.file.Paths.get(dir, "e2"))
    val m = GovernedTable.publish(spark, dir, s3)
    assert(m.epoch == 2L && m.segments.last == "e2")
    assert(GovernedTable.read(spark, dir).count() == 10)
    // the OTHER recovery path for the same crash: the whole round
    // replays (stage → publish) — the re-staged duplicate must yield
    // to the already-renamed segment instead of colliding
    val s4 = GovernedTable.stage(rows(10 until 12), dir)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, s4),
      java.nio.file.Paths.get(dir, "e3"))
    val s4b = GovernedTable.stage(rows(10 until 12), dir) // round replay
    assert(s4b == s4)
    val m3 = GovernedTable.publish(spark, dir, s4b)
    assert(m3.epoch == 3L && m3.segments.last == "e3")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s4)),
      "re-staged duplicate must be discarded in favor of the renamed segment")
    assert(GovernedTable.read(spark, dir).count() == 12)
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("column evolution: added column null-fills history, audit sees the widened view, time travel serves the old schema") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    val s = spark
    import s.implicits._
    GovernedTable.build(rows(0 until 5), dir)
    val widened = (5 until 8).map(i => (i.toLong, i.toLong * 100, s"c$i"))
      .toDF("id", "v", "tag")
    val (viol, m) = GovernedTable.writeAuditPublish(spark, dir, widened)(
      v => v.filter(col("id") >= 5 && col("tag").isNull).count())
    assert(viol == 0L && m.nonEmpty)
    val served = GovernedTable.read(spark, dir)
    assert(served.columns.toSeq == Seq("id", "v", "tag"))
    assert(served.filter(col("tag").isNull).count() == 5,
      "pre-evolution rows must null-fill the added column")
    assert(served.filter(col("tag").isNotNull).count() == 3)
    // time travel to the pre-evolution epoch serves the OLD schema
    assert(GovernedTable.readAt(spark, dir, 0L).columns.toSeq == Seq("id", "v"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("publish refuses to discard a re-staged batch that differs from the renamed segment") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    val s1 = GovernedTable.stage(rows(5 until 8), dir)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, s1),
      java.nio.file.Paths.get(dir, "e1"))
    GovernedTable.stage(rows(5 until 9), dir) // replay staged DIFFERENT rows
    val e = intercept[IllegalArgumentException] {
      GovernedTable.publish(spark, dir, s1)
    }
    assert(e.getMessage.contains("non-deterministic replay"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("ingestBatch: exactly-once verdicts — replay no-ops, gap fails, rejection epoch time-travels") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    def noNeg(v: org.apache.spark.sql.DataFrame): Long =
      v.filter(col("v") < 0).count()
    // batch 0 clean: publishes epoch 1, verdict logged
    val (v0, m0) = GovernedTable.ingestBatch(spark, dir, rows(5 until 8), 0L)(noNeg)
    assert(v0 == 0L && m0.epoch == 1L && m0.batches == Map(0L -> 1L))
    // batch 1 dirty: REJECTION epoch 2, no new segment, serving unchanged
    val s = spark
    import s.implicits._
    val dirty = Seq((8L, -1L)).toDF("id", "v")
    val (v1, m1) = GovernedTable.ingestBatch(spark, dir, dirty, 1L)(noNeg)
    assert(v1 == 1L && m1.epoch == 2L && m1.segments == m0.segments)
    assert(m1.batches(1L) == -2L)
    assert(GovernedTable.read(spark, dir).count() == 8)
    // time travel: the rejection epoch serves exactly what epoch 1 did
    assert(GovernedTable.readAt(spark, dir, 2L).count() == 8)
    // replayed batches (accepted AND refused) no-op on the logged verdict
    val (rv0, rm0) = GovernedTable.ingestBatch(spark, dir, rows(5 until 8), 0L)(noNeg)
    assert(rv0 == 0L && rm0 == m1)
    val (rv1, rm1) = GovernedTable.ingestBatch(spark, dir, dirty, 1L)(noNeg)
    assert(rv1 == 0L && rm1 == m1)
    // a batch GAP fails loudly instead of silently skipping data
    val gap = intercept[IllegalArgumentException] {
      GovernedTable.ingestBatch(spark, dir, rows(9 until 10), 3L)(noNeg)
    }
    assert(gap.getMessage.contains("batch gap"))
    // batch 2 clean: epoch 3, and the log survives the round-trip
    val (v2, m2) = GovernedTable.ingestBatch(spark, dir, rows(9 until 12), 2L)(noNeg)
    assert(v2 == 0L && m2.epoch == 3L)
    assert(GovernedTable.open(dir).batches == Map(0L -> 1L, 1L -> -2L, 2L -> 3L))
    assert(GovernedTable.read(spark, dir).count() == 11)
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("change feed: segment-diff only, empty across a rejection epoch, re-baseline after compact") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    def noNeg(v: org.apache.spark.sql.DataFrame): Long =
      v.filter(col("v") < 0).count()
    GovernedTable.ingestBatch(spark, dir, rows(5 until 8), 0L)(noNeg)   // e1
    val s = spark
    import s.implicits._
    GovernedTable.ingestBatch(spark, dir,
      Seq((8L, -1L)).toDF("id", "v"), 1L)(noNeg)                        // e2 reject
    GovernedTable.ingestBatch(spark, dir, rows(9 until 12), 2L)(noNeg)  // e3
    // the 0→1 delta is batch 0, nothing else
    assert(GovernedTable.changeFeed(spark, dir, 0L, 1L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (5L until 8L))
    // a feed across the rejection epoch is EMPTY, not an error — and
    // the returned PLAN holds no parquet scan at all (the documented
    // "never touches history" contract covers the empty path too:
    // the schema resolve reads footers once, the plan is a local
    // empty relation)
    val emptyFeed = GovernedTable.changeFeed(spark, dir, 1L, 2L)
    assert(emptyFeed.count() == 0)
    assert(emptyFeed.inputFiles.isEmpty,
      "empty change feed must plan no file scan")
    assert(!emptyFeed.queryExecution.executedPlan.toString.contains("FileScan"),
      "empty change feed must not plan a parquet scan over history")
    // 1→3 spans the rejection: exactly batch 2
    assert(GovernedTable.changeFeed(spark, dir, 1L, 3L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (9L until 12L))
    // and the feed never reads the base segments: e0 is not in the plan
    val plan = GovernedTable.changeFeed(spark, dir, 0L, 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("e0") && plan.contains("e1"),
      s"change feed scanned history:\n${plan.take(2000)}")
    // compaction rewrites the segment list: the consumer must re-baseline
    GovernedTable.compact(spark, dir)
    val e = intercept[IllegalArgumentException] {
      GovernedTable.changeFeed(spark, dir, 1L, 4L)
    }
    assert(e.getMessage.contains("re-baseline"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("staged-only audit never reads published segments; verdicts match the full view for per-row invariants") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 10), dir)
    val staged = GovernedTable.stage(rows(10 until 15), dir)
    val so = GovernedTable.stagedOnly(spark, dir, staged)
    assert(so.count() == 5)
    // the batch-proportional claim, pinned at the inputFiles level:
    // every file in the audit plan lives under the staged dir
    val files = so.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(staged)),
      s"staged-only audit read outside the stage: ${files.mkString(",")}")
    GovernedTable.abort(dir, staged)
    // and through ingestBatch: staged-only audits produce the same
    // verdicts as full-view audits when the invariant is per-row
    def noNeg(v: org.apache.spark.sql.DataFrame): Long =
      v.filter(col("v") < 0).count()
    val (v0, m0) = GovernedTable.ingestBatch(spark, dir, rows(10 until 13), 0L,
      auditStagedOnly = true)(noNeg)
    assert(v0 == 0L && m0.epoch == 1L)
    val s = spark
    import s.implicits._
    val (v1, m1) = GovernedTable.ingestBatch(spark, dir,
      Seq((13L, -5L)).toDF("id", "v"), 1L, auditStagedOnly = true)(noNeg)
    assert(v1 == 1L && m1.segments == m0.segments, "dirty batch must refuse")
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("verdict log is bounded: window caps, high-water mark keeps aged-out replays idempotent") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    def noNeg(v: org.apache.spark.sql.DataFrame): Long =
      v.filter(col("v") < 0).count()
    GovernedTable.ingestBatch(spark, dir, rows(5 until 8), 0L)(noNeg)
    // plant a full verdict window by hand (driving 64 real batches
    // through the gate would test the same code 64× slower): ids
    // 0..63 recorded, hwm 63, epoch/segments as live
    val m = GovernedTable.open(dir)
    val planted = (0L to 63L).map(i => s""""$i":${if (i == 0) 1 else -(i + 1)}""")
      .mkString(",")
    graft.ManifestIo.commit(java.nio.file.Paths.get(dir), m.epoch + 1,
      s"""{"epoch":${m.epoch + 1},"segments":${
        m.segments.map(x => s""""$x"""").mkString("[", ",", "]")
      },"batches":{$planted},"batchHwm":63}""")
    val full = GovernedTable.open(dir)
    assert(full.batches.size == 64 && full.batchHwm == 63L)
    // the next commit caps the window and advances the hwm
    val (_, m2) = GovernedTable.ingestBatch(spark, dir, rows(8 until 10), 64L)(noNeg)
    assert(m2.batches.size == GovernedTable.BatchLogWindow,
      s"window must cap at ${GovernedTable.BatchLogWindow}, got ${m2.batches.size}")
    assert(m2.batchHwm == 64L)
    assert(!m2.batches.contains(0L), "oldest id must age out of the window")
    assert(m2.batches.contains(64L))
    // a replay of the AGED-OUT id still no-ops (hwm check, not window)
    val (rv, rm) = GovernedTable.ingestBatch(spark, dir, rows(5 until 8), 0L)(noNeg)
    assert(rv == 0L && rm == m2, "aged-out replay must no-op on the hwm")
    // the gap check runs against the hwm
    val gap = intercept[IllegalArgumentException] {
      GovernedTable.ingestBatch(spark, dir, rows(10 until 11), 66L)(noNeg)
    }
    assert(gap.getMessage.contains("expected batch 65"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("crash-heal witness is content, not cardinality: same-count different rows refuse") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    val s1 = GovernedTable.stage(rows(5 until 8), dir)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, s1),
      java.nio.file.Paths.get(dir, "e1"))
    // replay stages the SAME cardinality but different values — the
    // old row-count witness would silently discard it
    GovernedTable.stage(rows(5 until 8).withColumn("v", col("v") + 1), dir)
    val e = intercept[IllegalArgumentException] {
      GovernedTable.publish(spark, dir, s1)
    }
    assert(e.getMessage.contains("non-deterministic replay"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("multi-writer: racing publishers — exactly one CAS wins, the loser restages and lands") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    // two producers stage concurrently against the same live epoch —
    // disjoint dirs, no collision
    val sA = GovernedTable.stageAs(rows(5 until 8), dir, "wA")
    val sB = GovernedTable.stageAs(rows(8 until 12), dir, "wB")
    assert(sA != sB)
    assert(GovernedTable.read(spark, dir).count() == 5, "stages invisible")
    // race the flips on real threads through the commit lock
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => GovernedTable.publishCas(spark, dir, sA))
      val fb = pool.submit(() => GovernedTable.publishCas(spark, dir, sB))
      val (ra, rb) = (fa.get(), fb.get())
      assert(ra.isRight != rb.isRight, s"exactly one must win: $ra / $rb")
      val loser = if (ra.isLeft) sA else sB
      // the loser's rows are untouched; restage is a rename, re-audit,
      // retry — and it lands as the NEXT epoch
      val re = GovernedTable.restage(dir, loser)
      assert(GovernedTable.stagedView(spark, dir, re)
        .filter(col("v") < 0).count() == 0L) // the re-audit
      val m2 = GovernedTable.publishCas(spark, dir, re)
      assert(m2.isRight && m2.toOption.get.epoch == 2L)
      assert(GovernedTable.read(spark, dir).count() == 12,
        "both batches must serve after the retry")
    } finally pool.shutdown()
    // a handle staged against a long-gone epoch keeps failing the CAS
    val old = GovernedTable.stageAs(rows(12 until 13), dir, "wC")
    GovernedTable.publishCas(spark, dir,
      GovernedTable.stageAs(rows(13 until 14), dir, "wD")) match {
      case Right(_) => ()
      case Left(e) => fail(s"unraced publish must win, got Left($e)")
    }
    assert(GovernedTable.publishCas(spark, dir, old).isLeft)
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("ingestBatch racing publishCas: both land serialized — no lost segment, re-audited rebase") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    // a CAS producer stages against the live epoch BEFORE the ingest
    val sW = GovernedTable.stageAs(rows(20 until 24), dir, "w1")
    var audits = 0
    val (viol, m) = GovernedTable.ingestBatch(spark, dir, rows(5 until 10),
      batchId = 0L) { view =>
      audits += 1
      // the historically lost-update interleaving: a CAS publish lands
      // WHILE the ingest's audit is still running (pre-round-16, the
      // ingest's unlocked commit then silently overwrote this epoch)
      if (audits == 1)
        assert(GovernedTable.publishCas(spark, dir, sW).isRight)
      view.filter(col("v") < 0).count()
    }
    assert(viol == 0L)
    assert(audits == 2,
      "the ingest must re-audit after losing the race — its first verdict " +
        "described a table that no longer exists")
    assert(m.epoch == 2L && m.segments.size == 3, s"no lost segment: $m")
    assert(m.batches.get(0L).contains(2L), "verdict must ride the final flip")
    assert(GovernedTable.read(spark, dir).count() == 14,
      "both the CAS batch and the ingested batch must serve")
    // replay of the same batch id still no-ops after the contested land
    val (v2, m2) = GovernedTable.ingestBatch(spark, dir, rows(5 until 10),
      batchId = 0L)(_ => fail("replay must not re-audit"))
    assert(v2 == 0L && m2.epoch == 2L)
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("compact racing publishCas: the stale rewrite is discarded and compaction retries against the advanced table") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    GovernedTable.publish(spark, dir, GovernedTable.stage(rows(5 until 8), dir)) // e1
    // plant a competing publish that lands between compact's open and
    // its flip, via the racing thread pool (compact's rewrite runs
    // outside the lock, so a real race window exists every run)
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    try {
      val sW = GovernedTable.stageAs(rows(8 until 12), dir, "rc")
      val fCas = pool.submit(() => GovernedTable.publishCas(spark, dir, sW))
      val fCompact = pool.submit(() => GovernedTable.compact(spark, dir))
      val (cas, compacted) = (fCas.get(), fCompact.get())
      // whichever order the race resolved, nothing may be lost: the
      // compacted table serves every row of every batch that landed
      val served = GovernedTable.read(spark, dir).count()
      val casLanded = cas.isRight
      assert(compacted.segments.size == 1, "compact must leave ONE segment")
      if (casLanded) assert(served == 12, s"CAS batch lost by compaction: $served")
      else assert(served == 8)
      // a CAS loser (if the compact flip beat it) still lands afterwards
      if (!casLanded) {
        assert(GovernedTable.publishCas(spark, dir,
          GovernedTable.restage(dir, sW)).isRight)
        assert(GovernedTable.read(spark, dir).count() == 12)
      }
    } finally pool.shutdown()
    // no orphaned rewrite images survive
    val leftovers = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(".compact-"))
    assert(leftovers.isEmpty, s"orphaned compact image: ${leftovers.mkString(",")}")
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("column mapping rejects an unmappable physical name at STAGE time, pre-mutation") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    GovernedTable.enableColumnMapping(spark, dir)
    val weird = rows(5 until 8).withColumnRenamed("v", "v value") // space: parquet-legal, manifest-illegal
    val e = intercept[IllegalArgumentException](
      GovernedTable.stage(weird, dir))
    assert(e.getMessage.contains("v value") &&
      e.getMessage.contains("column mapping"))
    // pre-mutation: nothing staged, nothing renamed, epoch unchanged
    assert(new java.io.File(dir).listFiles()
      .forall(f => !f.getName.startsWith("stage-")), "stage dir must not exist")
    assert(GovernedTable.open(dir).epoch == 1L)
    // and the same guard covers the multi-writer stage path
    val e2 = intercept[IllegalArgumentException](
      GovernedTable.stageAs(weird, dir, "w9"))
    assert(e2.getMessage.contains("column mapping"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("gc grace: a CAS loser's writer-suffixed stage survives the sweep inside the retention window") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    GovernedTable.publish(spark, dir, GovernedTable.stage(rows(5 until 8), dir))   // e1
    val loser = GovernedTable.stageAs(rows(8 until 10), dir, "slow")               // stage-e2-slow
    GovernedTable.publish(spark, dir, GovernedTable.stage(rows(10 until 12), dir)) // e2 (wins)
    GovernedTable.publish(spark, dir, GovernedTable.stage(rows(12 until 14), dir)) // e3
    def names() = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(names().contains(loser))
    // retain=3: horizon 1 < stage epoch 2 — the in-flight stage is spared
    GovernedTable.gc(dir, retain = 3)
    assert(names().contains(loser), "in-flight stage swept inside its grace window")
    // ...and the loser can still restage + land after the sweep
    val re = GovernedTable.restage(dir, loser)
    assert(GovernedTable.publishCas(spark, dir, re).isRight)
    assert(GovernedTable.read(spark, dir).count() == 14)
    // an ANCIENT suffixed stage (below the horizon) is a crash leftover
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "stage-e1-dead"))
    GovernedTable.gc(dir, retain = 2)
    assert(!names().contains("stage-e1-dead"), "stale suffixed stage must sweep")
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("column mapping: rename/drop/widen are manifest-only; ids read old bytes; time travel serves old names") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    val s = spark
    import s.implicits._
    GovernedTable.build(rows(0 until 5), dir)                                 // e0: (id, v)
    GovernedTable.publish(spark, dir, GovernedTable.stage(rows(5 until 8), dir)) // e1
    val mEnable = GovernedTable.enableColumnMapping(spark, dir)               // epoch 2
    assert(mEnable.cols == Seq(0 -> "id", 1 -> "v"))
    assert(GovernedTable.read(spark, dir).columns.toSeq == Seq("id", "v"),
      "enabling the mapping must be observationally a no-op")
    val preRenameEpoch = mEnable.epoch
    // RENAME: v -> amount. No segment rewritten (same dirs on disk).
    val dirsBefore = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(f => f.getName -> f.lastModified()).toMap
    val mRen = GovernedTable.renameColumn(spark, dir, "v", "amount")
    assert(mRen.cols == Seq(0 -> "id", 1 -> "amount"))
    val served = GovernedTable.read(spark, dir)
    assert(served.columns.toSeq == Seq("id", "amount"))
    assert(served.agg(sum(col("amount"))).head.getLong(0) ==
      (0 until 8).map(_ * 100L).sum, "renamed column must read the OLD bytes")
    val dirsAfter = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(f => f.getName -> f.lastModified()).toMap
    assert(dirsAfter == dirsBefore, "rename must rewrite no segment")
    // time travel BEFORE the rename serves the old name
    assert(GovernedTable.readAt(spark, dir, preRenameEpoch).columns.toSeq ==
      Seq("id", "v"))
    // a post-rename batch writes the NEW name; old segments keep
    // resolving by id underneath
    val batch = (8 until 10).map(i => (i.toLong, i * 100L)).toDF("id", "amount")
    GovernedTable.publish(spark, dir, GovernedTable.stage(batch, dir))
    assert(GovernedTable.read(spark, dir).agg(sum(col("amount"))).head.getLong(0) ==
      (0 until 10).map(_ * 100L).sum)
    // ADD under mapping: a new physical column gets a FRESH id
    val wide = (10 until 12).map(i => (i.toLong, i * 100L, s"t$i"))
      .toDF("id", "amount", "tag")
    val mAdd = GovernedTable.publish(spark, dir, GovernedTable.stage(wide, dir))
    assert(mAdd.cols.map(_._2) == Seq("id", "amount", "tag"))
    assert(GovernedTable.read(spark, dir).filter(col("tag").isNotNull).count() == 2)
    // WIDEN: amount int->decimal served as the wider type everywhere
    GovernedTable.widenColumn(spark, dir, "amount", "decimal(20,0)")
    val widened = GovernedTable.read(spark, dir)
    assert(widened.schema("amount").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0))
    assert(widened.count() == 12)
    // DROP: tag leaves the served schema, history unrewritten
    GovernedTable.dropColumn(spark, dir, "tag")
    assert(GovernedTable.read(spark, dir).columns.toSeq == Seq("id", "amount"))
    // re-ADD the same name: a NEW id — the dropped bytes stay dropped
    val reAdd = (12 until 13).map(i => (i.toLong, i * 100L, "fresh"))
      .toDF("id", "amount", "tag")
    GovernedTable.publish(spark, dir, GovernedTable.stage(reAdd, dir))
    val after = GovernedTable.read(spark, dir)
    assert(after.filter(col("tag").isNotNull).count() == 1,
      "re-added column must NOT resurrect the dropped column's bytes")
    // compact makes the mapping physical and keeps serving identical
    val mC = GovernedTable.compact(spark, dir)
    assert(mC.colTypes.isEmpty, "compaction must clear the serve-time casts")
    val compacted = GovernedTable.read(spark, dir)
    assert(compacted.columns.toSeq == Seq("id", "amount", "tag"))
    assert(compacted.count() == 13)
    assert(compacted.schema("amount").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("retention gc: sweeps unreferenced segments and stale stages, spares the live view") {
    val dir = graft.Fs.scratchDir("wap_spec").toString
    GovernedTable.build(rows(0 until 5), dir)
    GovernedTable.publish(spark, dir, GovernedTable.stage(rows(5 until 10), dir))
    GovernedTable.publish(spark, dir, GovernedTable.stage(rows(10 until 15), dir))
    // compaction makes e0..e2 superseded (live manifest references e3 only)
    GovernedTable.compact(spark, dir)
    // a crash leftover: a stale stage at an already-published epoch
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "stage-e2"))
    def dirNames() = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirNames() == Set("e0", "e1", "e2", "e3", "stage-e2"))
    // retain 2: manifests e2/e3 stay — e2 still references e0..e2, so
    // only the stale stage sweeps
    GovernedTable.gc(dir, retain = 2)
    assert(dirNames() == Set("e0", "e1", "e2", "e3"))
    assert(GovernedTable.readAt(spark, dir, 2L).count() == 15)
    // retain 1: only the live manifest remains — the superseded
    // segments sweep, the live view is untouched
    GovernedTable.gc(dir, retain = 1)
    assert(dirNames() == Set("e3"))
    assert(GovernedTable.read(spark, dir).count() == 15)
    assert(graft.ManifestIo.listEpochs(java.nio.file.Paths.get(dir)) == Seq(3L))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }
}
