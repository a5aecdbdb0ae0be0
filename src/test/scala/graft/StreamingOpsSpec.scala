package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Tables
import graft.streaming.StreamingOps

class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("windowed top-k ranks the closed-window counts: contiguous ranks, batch-exact counts") {
    val rows = StreamingOps.st_window_topk(spark, sf).collect()
    assert(rows.nonEmpty)
    // per window: ranks are 1..min(3, types), no gaps, counts non-increasing
    rows.groupBy(_.getTimestamp(0)).foreach { case (ws, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length),
        s"ranks not contiguous in window $ws")
      assert(byRank.length <= 3, s"more than top-3 emitted in window $ws")
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(3) >= b.getLong(3), s"counts not ranked in window $ws")
        case _ =>
      }
    }
    // every emitted count equals the batch windowed count under the
    // same watermark cutoff (the streaming agg invented nothing)
    val events = Tables.events(spark, sf)
    val mx = events.agg(max("ts")).head.getTimestamp(0)
    val batch = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n"))
      .filter(col("window_end") <= lit(new java.sql.Timestamp(mx.getTime - 3600 * 1000)))
      .collect().map(r => (r.getTimestamp(0), r.getString(2)) -> r.getLong(3)).toMap
    rows.foreach { r =>
      assert(batch((r.getTimestamp(0), r.getString(2))) == r.getLong(3),
        s"count drifted from batch replay: $r")
    }
  }

  test("tumbling append emits exactly the watermark-closed windows of the batch answer") {
    val streamed = StreamingOps.st_tumbling(spark, sf)
    val events = Tables.events(spark, sf)
    val mx = events.agg(max("ts")).head.getTimestamp(0)
    val batch = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n"))
      .filter(col("window_end") <= lit(new java.sql.Timestamp(mx.getTime - 3600 * 1000)))
    assert(streamed.count() == batch.count())
    assert(streamed.join(batch, Seq("window_start", "event_type", "n"), "left_anti").count() == 0)
  }

  test("streaming dedup emits each (day, user, type) key exactly once and actually drops rows") {
    val r = StreamingOps.st_dedup(spark, sf)
    val events = Tables.events(spark, sf)
    val batchKeys = events
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"), col("event_type"))
      .distinct()
    assert(r.count() == batchKeys.count())
    assert(r.count() < events.count(), "fixture must contain duplicate keys for the dedup to be non-vacuous")
    assert(r.join(batchKeys, Seq("day", "user_id", "event_type"), "left_anti").count() == 0)
  }

  test("streaming cdc: final state equals the batch last-write-wins reduce") {
    val got = StreamingOps.st_cdc(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("tus"), col("event_type"), col("cents"))).as("m"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getStruct(1).getLong(0), r.getStruct(1).getString(1),
        r.getStruct(1).getLong(2), r.getLong(2)))
    val live = batch.filter(_._3 != "error")
    assert(got.keySet == live.map(_._1).toSet, "retired keys must be absent")
    assert(batch.exists(_._3 == "error"), "fixture must retire at least one key")
    live.foreach { case (u, tus, _, cents, n) =>
      assert(got(u) == ((tus, cents, n)), s"state for user $u")
    }
  }

  test("cdc TTL: output identical to st_cdc while the state store sheds idle keys") {
    var stateRows = -1L
    var drained = false
    val got = StreamingOps.st_cdc_ttl_run(spark, sf, { q =>
      drained = true
      // last progress of the terminal (timeout-firing) batch
      stateRows = q.lastProgress.stateOperators.apply(0).numRowsTotal
    }).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(drained)
    val noTtl = StreamingOps.st_cdc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == noTtl.toSeq, "TTL must shed state, never change output")
    // expected survivors: keys whose LAST event is within 12h of the
    // terminal watermark (max ts - 1h); everyone else timed out and
    // was removed from the store
    val lastByUser = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(max(unix_micros(col("ts"))).as("last_tus"))
    val wmUs = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts")))).head.getLong(0) - 3600L * 1000000L
    val expectedLive = lastByUser
      .filter(col("last_tus") / 1000L + 43_200_000L > wmUs / 1000L).count()
    val allKeys = lastByUser.count()
    assert(expectedLive < allKeys, "fixture must contain idle keys for the TTL to shed")
    assert(stateRows == expectedLive,
      s"state store holds $stateRows rows, expected $expectedLive live of $allKeys keys")
  }

  test("custom state: burst stats cover every user and are internally consistent") {
    val r = StreamingOps.st_custom_state(spark, sf).collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r.length == users)
    val events = Tables.events(spark, sf).count()
    assert(r.map(_.getLong(1)).sum == events, "per-user event counts must total the corpus")
    r.foreach { row =>
      assert(row.getInt(2) >= 1)                    // at least one burst
      assert(row.getInt(3) <= row.getLong(1))       // max burst <= events
      assert(row.getInt(2).toLong <= row.getLong(1)) // bursts <= events
    }
  }

  test("stream-stream interval join equals the batch self-join") {
    val streamed = StreamingOps.st_stream_join(spark, sf)
    val e = Tables.events(spark, sf)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val batch = p.join(c, col("user_id") === col("cu") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select("user_id", "purchase_id", "click_id")
    assert(streamed.count() == batch.count())
    assert(streamed.count() > 0, "fixture must produce attribution pairs")
    assert(streamed.select("user_id", "purchase_id", "click_id")
      .join(batch, Seq("user_id", "purchase_id", "click_id"), "left_anti").count() == 0)
  }

  test("sliding append emits exactly the watermark-closed windows of the batch answer") {
    val streamed = StreamingOps.st_sliding(spark, sf)
    val events = Tables.events(spark, sf)
    val mx = events.agg(max("ts")).head.getTimestamp(0)
    val batch = events
      .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n"))
      .filter(col("window_end") <= lit(new java.sql.Timestamp(mx.getTime - 3600 * 1000)))
    assert(streamed.count() == batch.count())
    assert(streamed.count() > 0, "fixture must close at least one sliding window")
    assert(streamed.join(batch, Seq("window_start", "event_type", "n"), "left_anti").count() == 0)
    // each closed window still covers its events via BOTH slide offsets:
    // every emitted (start, end) spans exactly 2 days on a 1-day grid
    streamed.collect().foreach { row =>
      val span = row.getTimestamp(1).getTime - row.getTimestamp(0).getTime
      assert(span == 2L * 24 * 3600 * 1000, row.toString)
    }
  }

  test("parquet file sink commits exactly the memory-sink answer") {
    val viaFiles = StreamingOps.st_parquet_sink(spark, sf)
    val viaMemory = StreamingOps.st_tumbling(spark, sf)
    assert(viaFiles.count() == viaMemory.count())
    assert(viaFiles.count() > 0)
    assert(viaFiles.join(viaMemory,
      Seq("window_start", "window_end", "event_type", "n", "value_cents"),
      "left_anti").count() == 0)
  }

  test("parquet sink restart is exactly-once: rerun over the same checkpoint adds zero rows") {
    // A real deployment restarts streams constantly (deploys, crashes,
    // AvailableNow batch cadence). The file sink's commit log must make
    // the restart a no-op when no new input arrived — duplicated window
    // rows here would silently corrupt every downstream aggregate.
    val out = java.nio.file.Files.createTempDirectory("graft_restart_out_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt_")
    StreamingOps.runParquetSink(spark, sf, out.toString, ckpt.toString)
    val firstRows = spark.read.parquet(out.toString).collect().toSeq
    assert(firstRows.nonEmpty)
    // restart: same checkpoint, same input — the source offset log says
    // everything is processed, the sink log lists the committed files
    StreamingOps.runParquetSink(spark, sf, out.toString, ckpt.toString)
    val secondRows = spark.read.parquet(out.toString).collect().toSeq
    assert(secondRows.sortBy(_.toString) == firstRows.sortBy(_.toString),
      "restart must not append or change committed rows")
  }

  test("sink compaction: fewer files, identical rows, idempotent, crash window heals") {
    val out = java.nio.file.Files.createTempDirectory("graft_cmpspec_out_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cmpspec_ckpt_")
    StreamingOps.runParquetSink(spark, sf, out.toString, ckpt.toString)
    def files(suffix: String) = Option(out.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(suffix) && !f.getName.startsWith("."))
    val before = spark.read.parquet(out.toString).collect().toSeq.sortBy(_.toString)
    val nBefore = files(".parquet").size
    assert(nBefore >= 2, s"state partitions should have committed several files, got $nBefore")

    val res = StreamingOps.compactParquetSink(spark, out.toString)
    assert(res.filesBefore == nBefore)
    assert(res.filesAfter == 1 && files(".parquet").size == 1,
      "a tiny table must compact to a single target-size file")
    assert(res.rows == before.size)
    val after = spark.read.parquet(out.toString).collect().toSeq.sortBy(_.toString)
    assert(after == before, "compaction must not lose or invent rows")
    // the compacted table is finalized: no streaming metadata log left
    assert(!new java.io.File(out.toFile, "_spark_metadata").exists())

    // idempotent: compacting a compacted table changes nothing
    val res2 = StreamingOps.compactParquetSink(spark, out.toString)
    assert(res2.filesBefore == 1 && res2.filesAfter == 1 && res2.rows == before.size)
    assert(spark.read.parquet(out.toString).collect().toSeq.sortBy(_.toString) == before)

    // crash-window recovery: simulate dying between the two swap
    // renames (dir moved to .compact-bak, tmp not yet moved in) — the
    // entry check must restore the backup and proceed normally
    val bak = new java.io.File(out.toFile.getParentFile, out.toFile.getName + ".compact-bak")
    assert(out.toFile.renameTo(bak))
    val res3 = StreamingOps.compactParquetSink(spark, out.toString)
    assert(res3.rows == before.size)
    assert(spark.read.parquet(out.toString).collect().toSeq.sortBy(_.toString) == before)
    assert(!bak.exists())
  }

  test("foreachBatch upsert: multi-batch merge equals the batch arg-max; buckets partitioned") {
    val batches = scala.collection.mutable.ArrayBuffer[Long]()
    val got = StreamingOps.st_upsert_run(spark, sf, id => batches.synchronized { batches += id; () })
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // the 8-file split + maxFilesPerTrigger=2 must actually exercise
    // the MERGE loop across several micro-batches
    assert(batches.distinct.size >= 3, s"expected >=3 micro-batches, saw $batches")
    val exp = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("tus"), col("event_type"), col("cents"))).as("m"))
      .select(col("user_id"), col("m.tus"), col("m.event_type"), col("m.cents"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == exp.toSeq,
      "final upsert state must equal the batch last-write-wins reduce regardless of batching")
    assert(got.map(_._1).distinct.length == got.length, "exactly one state row per key")
  }

  test("empty micro-batch commits an empty epoch: head advances, buckets untouched") {
    // runDualSink pins the upsert step's epoch to the BATCH ID; an
    // empty batch that skipped its commit would permanently misalign
    // every later batch's pin — so an empty merge must flip the
    // manifest (unchanged bucket pointers, zero data moved)
    val state = java.nio.file.Files.createTempDirectory("graft_upsert_empty_state_")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    // first-ever batch EMPTY: epoch 0 with no buckets, not a skip
    assert(StreamingOps.mergeUpsertBatch(spark, state.toString, ev.limit(0)) == 0L)
    assert(StreamingOps.readUpsertEpochHead(state.toString) == 0L)
    StreamingOps.mergeUpsertBatch(spark, state.toString, ev.limit(200)): Unit
    val filesBefore = java.nio.file.Files.walk(state).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val rowsBefore = StreamingOps.readUpsertStateAt(spark, state.toString, 1L)
      .collect().map(_.toString).sorted.toSeq
    val e = StreamingOps.mergeUpsertBatch(spark, state.toString, ev.limit(0))
    assert(e == 2L, s"empty batch must commit the next epoch, got $e")
    assert(StreamingOps.readUpsertEpochHead(state.toString) == 2L)
    val filesAfter = java.nio.file.Files.walk(state).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(filesAfter == filesBefore, "empty epoch must move zero data files")
    val rowsAfter = StreamingOps.readUpsertStateAt(spark, state.toString, 2L)
      .collect().map(_.toString).sorted.toSeq
    assert(rowsAfter == rowsBefore, "empty epoch must serve the identical state")
    graft.Fs.deleteRecursively(state.toFile)
  }

  test("upsert fan-out persists in the manifest: later merges route under it; zero-bucket epoch reads typed-empty") {
    val state = java.nio.file.Files.createTempDirectory("graft_upsert_fan_state_")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    // first-ever batch EMPTY at a NON-default fan-out: epoch 0 has zero
    // buckets — the snapshot read must return the typed empty frame,
    // not an unpointed AnalysisException (advisor fix, round 13)
    assert(StreamingOps.mergeUpsertBatch(spark, state.toString, ev.limit(0),
      numBuckets = 4) == 0L)
    val empty = StreamingOps.readUpsertStateAt(spark, state.toString, 0L)
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq == Seq("user_id", "last_tus", "last_type", "cents"))
    // later merges use the MANIFEST's fan-out even though the call
    // passes nothing (the argument only seeds a first-ever batch)
    StreamingOps.mergeUpsertBatch(spark, state.toString, ev.limit(400)): Unit
    StreamingOps.mergeUpsertBatch(spark, state.toString, ev.limit(800)): Unit
    val bucketDirs = java.nio.file.Files.list(state).toArray.map(_.toString)
      .flatMap(p => "/b(\\d+)$".r.findFirstMatchIn(p).map(_.group(1).toInt))
    assert(bucketDirs.nonEmpty && bucketDirs.forall(b => b >= 0 && b < 4),
      s"merges must route under the persisted fan-out 4, got dirs ${bucketDirs.toSeq}")
    // ...and the state content is the usual LWW reduce
    val head = StreamingOps.readUpsertEpochHead(state.toString)
    val before = StreamingOps.readUpsertStateAt(spark, state.toString, head)
      .collect().map(_.toString).sorted.toSeq
    assert(before.nonEmpty)
    // RESHARD to 8: one flip, same rows, later merges route at 8
    val e = StreamingOps.reshardUpsertState(spark, state.toString, 8)
    assert(e == head + 1, "reshard took more than one epoch")
    val after = StreamingOps.readUpsertStateAt(spark, state.toString, e)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "reshard changed state rows")
    StreamingOps.mergeUpsertBatch(spark, state.toString, ev.limit(1000)): Unit
    val bucketDirsAfter = java.nio.file.Files.list(state).toArray.map(_.toString)
      .flatMap(p => "/b(\\d+)$".r.findFirstMatchIn(p).map(_.group(1).toInt))
    assert(bucketDirsAfter.exists(b => b >= 4),
      s"post-reshard merges must use the widened fan-out, got $bucketDirsAfter")
    assert(bucketDirsAfter.forall(b => b >= 0 && b < 8))
    graft.Fs.deleteRecursively(state.toFile)
  }

  test("upsert restart is idempotent: rerun over the same checkpoint fires zero batches") {
    val state = java.nio.file.Files.createTempDirectory("graft_upsert_restart_state_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_restart_ckpt_")
    val first = StreamingOps.runUpsert(spark, sf, state.toString, ckpt.toString)
      .collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty)
    val stateFiles = java.nio.file.Files.walk(state).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    var rerunBatches = 0
    val second = StreamingOps.runUpsert(spark, sf, state.toString, ckpt.toString,
        _ => rerunBatches += 1)
      .collect().map(_.toString).sorted.toSeq
    assert(rerunBatches == 0, "offset log must mark all input processed on restart")
    assert(second == first, "restart must not change the state table")
    val stateFiles2 = java.nio.file.Files.walk(state).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(stateFiles2 == stateFiles, "restart must not rewrite any state partition")
  }

  test("upsert commit is atomic across buckets: torn epoch dirs are invisible to readers") {
    // Round-9 verdict item 4. A crash between the per-bucket epoch-dir
    // renames and the manifest flip leaves NEW epoch dirs on disk with
    // the OLD manifest — the exact mixed-epoch state a concurrent
    // reader could previously observe under dynamic partition
    // overwrite. Simulate that torn state after a completed run by
    // planting unreferenced epoch dirs (bogus rows) plus a stale
    // staging dir, then read the table again: the manifest-resolved
    // view must be byte-for-byte the committed state, garbage unseen.
    val state = java.nio.file.Files.createTempDirectory("graft_upsert_torn_state_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_torn_ckpt_")
    val first = StreamingOps.runUpsert(spark, sf, state.toString, ckpt.toString)
      .collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty)
    // torn state: an un-flipped "future epoch" for bucket 0 and a
    // half-written staging dir, both with poison rows that would
    // corrupt the result if any reader resolved paths by listing
    import spark.implicits._
    val poison = Seq((-999L, 0L, "POISON", -1L)).toDF("user_id", "tus", "event_type", "cents")
    poison.write.parquet(state.resolve("b0").resolve("e999").toString)
    poison.write.parquet(state.resolve(".stage-e999").resolve("bucket=0").toString)
    // a restart over the drained checkpoint fires zero batches and
    // reads the state table exactly as an external reader would
    val second = StreamingOps.runUpsert(spark, sf, state.toString, ckpt.toString)
      .collect().map(_.toString).sorted.toSeq
    assert(!second.exists(_.contains("POISON")),
      "unreferenced epoch dirs must be invisible to the manifest-resolved read")
    assert(second == first, "torn-commit garbage must not change the committed state")
  }

  test("session windows: n sums to watermark-closed prefix, gap respected") {
    val r = StreamingOps.st_session(spark, sf).collect()
    assert(r.nonEmpty)
    // session invariant: end - start >= gap (end = last event + 30min)
    r.foreach { row =>
      val span = row.getTimestamp(1).getTime - row.getTimestamp(0).getTime
      assert(span >= 30 * 60 * 1000, row.toString)
    }
    // no overlapping sessions per user
    r.groupBy(_.getLong(2)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getTimestamp(0).getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(1).getTime <= b.getTimestamp(0).getTime,
            s"overlap: $a / $b")
        case _ =>
      }
    }
  }

  test("upsert time travel: retained epoch snapshots are monotone LWW prefixes") {
    val state = java.nio.file.Files.createTempDirectory("graft_upsert_tt_state_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_tt_ckpt_")
    locally {
      val live = StreamingOps.runUpsert(spark, sf, state.toString, ckpt.toString)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      val epochs = StreamingOps.listUpsertEpochs(state.toString)
      assert(epochs.length >= 2, s"need >= 2 retained epochs, got $epochs")
      assert(epochs.length <= StreamingOps.UpsertRetainEpochs + 1)
      // snapshot at the newest epoch IS the live table
      val atHead = StreamingOps.readUpsertStateAt(spark, state.toString, epochs.last)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      assert(atHead == live, "head snapshot must equal the live manifest read")
      // across consecutive snapshots: key set grows, per-key LWW struct
      // is monotone under the (tus, type, cents) order — the defining
      // invariant of a max-merge upsert's history
      val snaps = epochs.map(e =>
        e -> StreamingOps.readUpsertStateAt(spark, state.toString, e)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap)
      var changed = false
      snaps.sliding(2).foreach {
        case Seq((e1, s1), (e2, s2)) =>
          assert(s1.keySet.subsetOf(s2.keySet), s"keys shrank from e$e1 to e$e2")
          s1.foreach { case (k, v1) =>
            val v2 = s2(k)
            assert(Ordering[(Long, String, Long)].lteq(v1, v2),
              s"key $k regressed from $v1 (e$e1) to $v2 (e$e2)")
          }
          if (s1 != s2) changed = true
        case _ => ()
      }
      assert(changed, "snapshots must actually differ across epochs (non-vacuous)")
    }
  }

  test("upsert retention GC: epochs beyond the horizon are dropped, retained reads stay whole") {
    val state = java.nio.file.Files.createTempDirectory("graft_upsert_gc_state_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_gc_ckpt_")
    locally {
      StreamingOps.runUpsert(spark, sf, state.toString, ckpt.toString,
        retainEpochs = 1)
      val epochs = StreamingOps.listUpsertEpochs(state.toString)
      assert(epochs.length == 1, s"retain=1 must keep exactly the head epoch, got $epochs")
      // the head snapshot still resolves every bucket dir it references
      val rows = StreamingOps.readUpsertStateAt(spark, state.toString, epochs.head).count()
      assert(rows > 0)
      // no unreferenced sub-horizon epoch dirs survive on disk
      val head = epochs.head
      val leftover = Option(state.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
        .flatMap(b => Option(b.listFiles()).toSeq.flatten.map(e => s"${b.getName}/${e.getName}"))
        .filter(_.split("/e")(1).toLong < head)
      val referenced = StreamingOps.readUpsertStateAt(spark, state.toString, head)
        .inputFiles.toSeq
      leftover.foreach { rel =>
        assert(referenced.exists(_.contains(rel)),
          s"sub-horizon epoch dir $rel survives but nothing references it")
      }
    }
  }

  test("snapshot read vs GC: lease spares the epoch, expired snapshot fails pointedly") {
    val state = java.nio.file.Files.createTempDirectory("graft_upsert_lease_state_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_lease_ckpt_")
    locally {
      StreamingOps.runUpsert(spark, sf, state.toString, ckpt.toString)
      val epochs = StreamingOps.listUpsertEpochs(state.toString)
      assert(epochs.length >= 2, s"need >= 2 retained epochs, got $epochs")
      val oldest = epochs.head
      val head = epochs.last
      // INTERLEAVING 1 — reader holds a lease while GC tries to drop
      // its epoch: inside withUpsertSnapshot, run a GC pass whose
      // horizon excludes `oldest` (retain=1 keeps only the head). The
      // leased epoch must survive the pass and the read must return
      // the complete snapshot afterwards — the grace-window half.
      val expected = StreamingOps.readUpsertStateAt(spark, state.toString, oldest)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      val got = StreamingOps.withUpsertSnapshot(spark, state.toString, oldest) { df =>
        StreamingOps.gcUpsertEpochs(
          java.nio.file.Paths.get(state.toString), head, retain = 1)
        // GC ran mid-read: the leased epoch's manifest and dirs must
        // still be there, and the frame must materialize whole
        assert(StreamingOps.listUpsertEpochs(state.toString).contains(oldest),
          "leased epoch was GC'd out from under an active reader")
        df.collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      }
      assert(got == expected, "leased snapshot read must be complete, never partial")
      // INTERLEAVING 1b — the round-10 residual, now closed: a lease
      // that lands AFTER GC has decided to collect (its intent is
      // published) but BEFORE its lease listing must be seen, sparing
      // the epoch. The afterIntent seam plants the lease at exactly
      // that point.
      StreamingOps.gcUpsertEpochs(
        java.nio.file.Paths.get(state.toString), head, retain = 1,
        afterIntent = e => if (e == oldest) {
          java.nio.file.Files.writeString(
            graft.EpochGuard.leasePath(state, oldest, "racer"),
            s"""{"epoch":$oldest}""")
          ()
        })
      assert(StreamingOps.listUpsertEpochs(state.toString).contains(oldest),
        "epoch evicted despite a lease landing between GC's intent and its list")
      assert(StreamingOps.readUpsertStateAt(spark, state.toString, oldest).count() > 0)
      java.nio.file.Files.delete(graft.EpochGuard.leasePath(state, oldest, "racer"))
      // INTERLEAVING 2 — lease released, same GC pass now evicts the
      // epoch; a late reader gets the pointed error, never a partial
      // table: the expired-epoch half.
      StreamingOps.gcUpsertEpochs(
        java.nio.file.Paths.get(state.toString), head, retain = 1)
      assert(!StreamingOps.listUpsertEpochs(state.toString).contains(oldest))
      val err = intercept[IllegalStateException](
        StreamingOps.readUpsertStateAt(spark, state.toString, oldest))
      assert(err.getMessage.contains("snapshot expired"), err.getMessage)
      // and a lease attempt on the evicted epoch also fails pointedly
      // (the lease-landed-too-late race), leaving no stray lease file
      val err2 = intercept[IllegalStateException](
        StreamingOps.withUpsertSnapshot(spark, state.toString, oldest)(_ => ()))
      assert(err2.getMessage.contains("snapshot expired"), err2.getMessage)
      val strays = Option(state.toFile.listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("_lease-"))
      assert(strays.isEmpty, s"lease files leaked: $strays")
      // the head epoch is untouched throughout
      assert(StreamingOps.readUpsertStateAt(spark, state.toString, head).count() > 0)
    }
  }

  test("scd join: dim really changes between micro-batches, per-batch as-of resolution") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val res = graft.streaming.StreamingOps.st_scd_join_run(spark, sf,
      (id, dimRows) => { val n = dimRows(); seen.synchronized { seen += ((id, n)); () } })
    val byBatch = seen.sortBy(_._1)
    // three real micro-batches, one per arrival file
    assert(byBatch.map(_._1) == Seq(0L, 1L, 2L), s"batches: $byBatch")
    // the dimension GREW between batches: each batch saw strictly more
    // version rows than the previous (v0 all users, then +v1, +v2) —
    // the dim demonstrably changed between two real micro-batches
    assert(byBatch.map(_._2).sliding(2).forall {
        case Seq(a: Long, b: Long) => a < b; case _ => true },
      s"dim version rows must grow across batches: $byBatch")
    // batch replay of the full resolution (the oracle's CASE, in Spark)
    val ev = Tables.events(spark, sf)
      .select((col("event_id") % 3).as("b"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val expected = ev.withColumn("v",
        when(col("b") >= 2 && col("user_id") % 5 === 0, 2L)
          .when(col("b") >= 1 && col("user_id") % 2 === 0, 1L)
          .otherwise(0L))
      .groupBy(col("event_type"), ((col("user_id") + col("v")) % 4).as("tier"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val got = res.collect().map(r => (r.getString(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected, "streamed changing-dim enrichment must equal the batch as-of replay")
    // a plan-time dim snapshot would give every row tier = user_id % 4:
    // prove the result is NOT that (batches 1-2 really saw new versions)
    val stale = ev
      .groupBy(col("event_type"), (col("user_id") % 4).as("tier"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got != stale, "result must differ from a frozen-dim enrichment")
  }

  test("late data: beyond-watermark stragglers dropped, within-watermark merged") {
    var dropped = -1L
    val res = graft.streaming.StreamingOps.st_late_data_run(spark, sf, q => {
      dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
    }).collect()
    val ev = Tables.events(spark, sf)
    val cut = lit("2024-01-30 00:00:00").cast("timestamp")
    // drop clones come from the pre-Jan-29 history (they must arrive
    // two batches after the data that advanced the watermark). The
    // engine's numRowsDroppedByWatermark counts rows reaching the
    // STATEFUL operator — i.e. after map-side partial aggregation has
    // collapsed the batch to one row per (window, event_type) — so the
    // expected count is the clones' distinct pair count, not their raw
    // row count.
    val nDropPairs = ev
      .filter(col("ts") < lit("2024-01-29 00:00:00").cast("timestamp") &&
        col("event_id") % 7 === 0)
      .select(date_trunc("day", col("ts") - expr("INTERVAL 25 DAYS")), col("event_type"))
      .distinct().count()
    assert(nDropPairs > 0, "fixture must plant beyond-watermark clones")
    assert(dropped == nDropPairs,
      s"engine dropped $dropped aggregate rows, planted clones span $nDropPairs (window, type) pairs")
    // the dropped clones' 25-day-shifted windows must not exist at all
    val minWindow = res.map(_.getTimestamp(0)).min
    assert(minWindow.toString.startsWith("2024-01-01"),
      s"a beyond-watermark clone leaked into window $minWindow")
    // the within-watermark clones must be MERGED: Jan 29 windows carry
    // strictly more rows than the on-time history alone
    val jan29Streamed = res
      .filter(_.getTimestamp(0).toString.startsWith("2024-01-29"))
      .map(_.getAs[Long]("n")).sum
    val jan29Base = ev.filter(
      col("ts") >= lit("2024-01-29 00:00:00").cast("timestamp") && col("ts") < cut).count()
    val jan29Keep = ev.filter(
      col("ts") >= lit("2024-01-29 00:00:00").cast("timestamp") && col("ts") < cut &&
        col("event_id") % 11 === 0).count()
    assert(jan29Keep > 0, "fixture must plant within-watermark clones")
    assert(jan29Streamed == jan29Base + jan29Keep,
      s"Jan 29 count $jan29Streamed != on-time $jan29Base + merged stragglers $jan29Keep")
  }

  test("streaming histogram quantile: within one bin of the exact order statistic, batch-equal fold") {
    val rows = StreamingOps.st_quantile(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
    val width = StreamingOps.QuantileBinWidth
    rows.foreach { r =>
      val (et, n) = (r.getString(0), r.getLong(1))
      // exact order statistic: the ⌈q·n⌉-th smallest value of the type
      def orderStat(q: Double): Double = {
        val k = math.ceil(q * n).toLong
        ev.filter(col("event_type") === et).select(col("value"))
          .orderBy(col("value")).limit(k.toInt).orderBy(col("value").desc)
          .head.getDouble(0)
      }
      Seq(0.5 -> r.getDouble(2), 0.95 -> r.getDouble(3)).foreach { case (q, hi) =>
        val exact = orderStat(q)
        assert(exact < hi && hi - exact <= width,
          s"$et p$q: sketch upper bound $hi not within one bin of exact $exact")
      }
      // n really is the type's row count (the fold lost nothing)
      assert(n == ev.filter(col("event_type") === et).count())
    }
  }

  test("upsert schema evolution: old epochs never rewritten, widen-on-merge, winner era decides prop_k") {
    import scala.jdk.CollectionConverters._
    val state = java.nio.file.Files.createTempDirectory("graft_evolve_spec_")
    def epochFiles(): Map[String, (Long, Long)] =
      java.nio.file.Files.walk(state).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.toString.matches(""".*/b\d+/e\d+/.*\.parquet"""))
        .map(f => f.toString -> ((java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis))).toMap
    var phase1Epoch = -1L
    var phase1Files: Map[String, (Long, Long)] = Map.empty
    val out = StreamingOps.st_upsert_evolve_run(spark, sf, state.toString, {
      case (1, e) => phase1Epoch = e; phase1Files = epochFiles()
      case _      => ()
    })
    val got = out.collect().map(r => r.getLong(0) -> r.getInt(4)).toMap

    // 1. winner-era semantics: prop_k is -1 iff the user's LWW winner
    //    (argmax under tus, event_type, cents, event_id) is pre-cutoff
    val ev = Tables.events(spark, sf)
    val half = StreamingOps.evolveCutoff(ev.count())
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("tus").desc, col("event_type").desc, col("cents").desc,
        col("event_id").desc)
    val exp = ev.select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_type"), round(col("value") * 100).cast("long").as("cents"),
        col("event_id"),
        when(col("event_id") >= half,
          get_json_object(col("props"), "$.k").cast("int")).as("prop_k"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), coalesce(col("prop_k"), lit(-1)).as("prop_k"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == exp, "evolved MERGE state drifted from the batch argmax replay")
    assert(exp.values.exists(_ == -1) && exp.values.exists(_ >= 0),
      "fixture must produce winners in BOTH eras or the test is vacuous")

    // 2. evolution rewrote NOTHING: every pre-evolution epoch file
    //    that survives retention GC is byte-identical (size + mtime)
    //    and its footer schema still lacks prop_k — widening happened
    //    in the merge read path, not by touching history. (Files the
    //    GC dropped fell below the retention horizon — that is
    //    retention at work, not a rewrite; #4 proves the retained
    //    phase-1 snapshot still resolves in full.)
    assert(phase1Files.nonEmpty, "phase-1 drain must have committed epoch files")
    val after = epochFiles()
    val surviving = phase1Files.keySet.intersect(after.keySet)
    assert(surviving.nonEmpty, "no pre-evolution epoch file survived retention")
    surviving.foreach { p =>
      assert(after(p) == phase1Files(p), s"pre-evolution file was rewritten: $p")
    }
    val v1Dir = surviving.head.replaceAll("""/[^/]*\.parquet$""", "")
    assert(!spark.read.parquet(v1Dir).columns.contains("prop_k"),
      s"pre-evolution epoch dir $v1Dir gained prop_k — history was rewritten")

    // 3. post-evolution epochs carry the new column
    val newDirs = (after.keySet -- phase1Files.keySet)
      .map(_.replaceAll("""/[^/]*\.parquet$""", ""))
    assert(newDirs.nonEmpty, "phase-2 drain must have committed new epoch dirs")
    assert(newDirs.exists(d => spark.read.parquet(d).columns.contains("prop_k")),
      "no post-evolution epoch dir carries prop_k")

    // 4. time travel ACROSS the evolution boundary: the phase-1 head
    //    snapshot still reads (v1 shape) and equals the batch LWW over
    //    pre-cutoff events only
    val snap = StreamingOps.readUpsertStateAt(spark, state.toString, phase1Epoch)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    val expV1 = ev.filter(col("event_id") < half)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"), col("event_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(snap == expV1,
      "pre-evolution snapshot must equal the LWW over pre-cutoff events")
  }

  test("dual sink: crash between the two commits recovers exactly-once; batch pins stop re-application") {
    def tmp(t: String) =
      java.nio.file.Files.createTempDirectory(s"graft_dual_$t").toString
    val (mv, st, ck, tx) = (tmp("mv"), tmp("st"), tmp("ck"), tmp("tx"))
    Seq(mv, st, ck, tx).foreach(p => graft.Fs.deleteRecursively(new java.io.File(p)))
    var execs = List.empty[(Long, String)]
    val note = (i: Long, s: String) => { execs ::= (i -> s); () }

    // the process "dies" between batch 1's MV flip and its upsert flip
    val boom = intercept[Exception](StreamingOps.runDualSink(spark, sf,
      mv, st, ck, tx, crashBefore = Some((1L, "upsert")), onExec = note))
    assert(boom.getMessage != null)
    assert(graft.ArtifactTxn.pending(java.nio.file.Paths.get(tx)).map(_.id) == Seq("b1"),
      "batch 1's intent must survive the crash")
    assert(graft.ops.MvStore.open(mv).epoch == 2L,
      "MV must hold bootstrap + batches 0 and 1")
    assert(StreamingOps.readUpsertEpochHead(st) == 0L,
      "upsert must hold only batch 0")

    // restart on the same checkpoint: batch 1 replays with identical
    // data, recovery completes ONLY the missing store
    execs = Nil
    StreamingOps.runDualSink(spark, sf, mv, st, ck, tx, onExec = note)
    assert(!execs.contains(1L -> "mv"), "recovery re-applied the flipped MV leg")
    assert(execs.contains(1L -> "upsert"), "recovery skipped the missing upsert leg")
    assert(graft.ArtifactTxn.pending(java.nio.file.Paths.get(tx)).isEmpty)

    // both artifacts converged to the direct batch computation
    val served = StreamingOps.st_dual_sink(spark, sf) // memoized separate dirs
    assert(served.count() > 0)
    val ev = graft.ops.Tables.events(spark, sf)
    val expectMv = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val gotMv = graft.ops.MvStore.serve(spark, mv, graft.ops.MvStore.open(mv))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotMv == expectMv, "MV leg drifted after crash recovery")

    // a rerun over a FRESH checkpoint replays every batch: the batch
    // pins skip every step — zero re-applications, answers unchanged
    execs = Nil
    StreamingOps.runDualSink(spark, sf, mv, st, tmp("ck2"), tx, onExec = note)
    assert(execs.isEmpty, s"pinned steps re-applied on full replay: $execs")
    val gotMv2 = graft.ops.MvStore.serve(spark, mv, graft.ops.MvStore.open(mv))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotMv2 == expectMv, "full replay changed the additive MV")

    Seq(mv, st, ck, tx).foreach(p => graft.Fs.deleteRecursively(new java.io.File(p)))
  }

  test("deletion vectors: zero rewrite at delete, exact MoR serve, physical compaction, stale guard") {
    val st = java.nio.file.Files.createTempDirectory("graft_dvspec_state_").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_dvspec_ckpt_").toString
    val full = StreamingOps.runUpsert(spark, sf, st, ck).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    def dataFiles(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(st)).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.toString.matches(""".*/b\d+/e\d+/.*\.parquet"""))
        .map(f => f.toString -> ((java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis))).toMap
    }
    val before = dataFiles()
    val n = StreamingOps.commitDv(spark, st)
    assert(n > 0, "victim slice empty — witness vacuous")
    assert(dataFiles() == before, "delete rewrote data files — not merge-on-read")

    // MoR serve = full state minus exactly the victims
    val expect = full.filter(_._1 % 23 != 5).toSeq
    def served() = StreamingOps.serveUpsertMor(spark, st).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(served() == expect, "MoR serve drifted from the filtered state")
    assert(full.count(_._1 % 23 == 5).toLong == n)

    // physical compaction: vector applied, dropped; answer unchanged;
    // only vector-touched buckets rewrote
    StreamingOps.compactDv(spark, st)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(st, "_dv.json")))
    assert(served() == expect, "compaction changed the answer")
    val after = dataFiles()
    val survivingOld = before.keySet.intersect(after.keySet)
    assert(survivingOld.nonEmpty, "every bucket rewrote — compaction not targeted")
    survivingOld.foreach(p => assert(after(p) == before(p), s"rewritten in place: $p"))

    // stale-vector guard: a vector pinned to an old epoch is rejected
    val man = java.nio.file.Files.readString(java.nio.file.Paths.get(st, "_manifest.json"))
    val epoch = """"epoch":(\d+)""".r.findFirstMatchIn(man).get.group(1).toLong
    graft.ManifestIo.atomicWrite(java.nio.file.Paths.get(st, "_dv.json"),
      s"""{"epoch":${epoch - 1},"rel":"dv/e${epoch - 1}","n":0}""")
    val stale = intercept[IllegalArgumentException](
      StreamingOps.serveUpsertMor(spark, st).collect())
    assert(stale.getMessage.contains("re-base or drop"))

    graft.Fs.deleteRecursively(new java.io.File(st))
    graft.Fs.deleteRecursively(new java.io.File(ck))
  }

  test("streaming distinct MV: sketch epochs pin to batches, estimates land, restart fires nothing") {
    val root = graft.Fs.scratchDir("mvdistspec").toString
    var batches = List.empty[Long]
    val store = StreamingOps.runMvDistinct(spark, sf, root, id => batches ::= id)
    assert(batches.sorted == (0L until StreamingOps.FeedBatches).toList,
      s"expected one batch per file, got $batches")
    val head = graft.ops.MvStore.open(store)
    assert(head.epoch == StreamingOps.FeedBatches.toLong,
      "one epoch per micro-batch plus the bootstrap")
    assert(head.kinds == Seq("hll"), "the streamed view must persist its merge kind")
    // the stream-maintained sketch estimates land within 5% of exact
    val est = graft.ops.MvStore.serve(spark, store, head)
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.ops.Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet, "streamed view missing an event type")
    exact.foreach { case (t, n) =>
      assert(math.abs(est(t) - n) * 100 <= n * 5, s"$t: est ${est(t)} vs exact $n")
    }
    // restart over the same checkpoint fires zero batches
    var again = 0
    StreamingOps.runMvDistinct(spark, sf, root, _ => again += 1)
    assert(again == 0, s"restart re-fired $again batches")
    assert(graft.ops.MvStore.open(store).epoch == head.epoch)
    graft.Fs.deleteRecursively(new java.io.File(root))
  }

  test("streaming MV ingest: exactly-once epochs, replay no-op, gap error, restart fires nothing") {
    val root = graft.Fs.scratchDir("mvingspec").toString
    var batches = List.empty[Long]
    val store = StreamingOps.runMvIngest(spark, sf, root, id => batches ::= id)
    assert(batches.sorted == (0L until StreamingOps.FeedBatches).toList,
      s"expected one batch per file, got $batches")
    val head = graft.ops.MvStore.open(store)
    assert(head.epoch == StreamingOps.FeedBatches.toLong,
      "one epoch per micro-batch plus the bootstrap")

    // the streamed view equals the direct aggregate
    val got = graft.ops.MvStore.serve(spark, store, head).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expect = graft.ops.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rc"),
        sum(round(col("l_quantity")).cast("long")).as("q"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, "streamed MV drifted from the from-scratch aggregate")

    // replayed batch: no-op, zero writes — every artifact byte identical
    def snapshot(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString ->
          java.nio.file.Files.getLastModifiedTime(f).toMillis).toMap
    }
    val before = snapshot()
    val someDelta = graft.ops.Tables.lineitem(spark, sf).limit(50)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"), count(lit(1)).as("n"))
    graft.ops.MvStore.refreshIdempotent(spark, store, someDelta,
      batchId = 0L) // long committed
    assert(snapshot() == before, "replayed batch wrote to the store")

    // a batch past a hole fails loudly instead of committing around it
    val gap = intercept[RuntimeException](graft.ops.MvStore.refreshIdempotent(
      spark, store, someDelta, batchId = head.epoch + 5))
    assert(gap.getMessage.contains("gap"))

    // restart against the drained checkpoint: ZERO batches fire
    var restarted = 0
    StreamingOps.runMvIngest(spark, sf, root, _ => restarted += 1)
    assert(restarted == 0, s"restart re-fired $restarted batches")
    assert(graft.ops.MvStore.open(store).epoch == head.epoch)

    graft.Fs.deleteRecursively(new java.io.File(root))
  }

  test("stream-stream outer join: null emission gated on the min-of-sources watermark") {
    val rows = StreamingOps.st_stream_outer_join(spark, sf).collect()
    val (nulls, inner) = rows.partition(_.getLong(2) == -1L)
    assert(inner.nonEmpty && nulls.nonEmpty)

    val ev = Tables.events(spark, sf)
    def us(c: org.apache.spark.sql.Column) = unix_micros(c)
    // inner part = the batch interval join, exactly
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), us(col("ts")).as("ct"), col("event_id").as("cid"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), us(col("ts")).as("pt"), col("event_id").as("pid"))
    val H = 3600L * 1000000L
    val batchPairs = purchases.join(clicks, col("user_id") === col("cu") &&
        col("ct") >= col("pt") - H && col("ct") <= col("pt"))
      .collect().map(r => (r.getLong(2), r.getLong(5))).toSet // (pid, cid)
    assert(inner.map(r => (r.getLong(1), r.getLong(2))).toSet == batchPairs,
      "eagerly-emitted matches must equal the batch interval join")

    // null part = unmatched purchases STRICTLY below the final watermark,
    // which is min over the two sources (multipleWatermarkPolicy=min)
    val maxClick = clicks.agg(max(col("ct"))).head.getLong(0)
    val maxPurchase = purchases.agg(max(col("pt"))).head.getLong(0)
    val wm = math.min(maxClick, maxPurchase) - H
    val unmatched = purchases.join(clicks, col("user_id") === col("cu") &&
        col("ct") >= col("pt") - H && col("ct") <= col("pt"), "left_anti")
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap // pid -> pt
    val nullIds = nulls.map(_.getLong(1)).toSet
    val below = unmatched.filter(_._2 < wm).keySet
    val suppressed = unmatched.filter(_._2 >= wm).keySet
    assert(nullIds == below, "emitted nulls must be exactly the below-watermark unmatched")
    // the gating is load-bearing: some unmatched purchases are NOT yet
    // provably unmatchable and must stay unemitted
    assert(suppressed.nonEmpty, "no suppressed purchases — boundary rule vacuous")
    // robustness of the strict-< boundary: no purchase sits near it
    val dmin = unmatched.values.map(t => math.abs(t - wm)).min
    assert(dmin > 60L * 1000000L, s"unmatched purchase within 60s of watermark ($dmin us)")
  }

  test("stream-stream outer join: one file per micro-batch emits the same rows") {
    // the registered query drains the three-file layout in ONE data
    // micro-batch; draining the same layout one file per trigger
    // carries the join state (buffered purchases and clicks, the
    // min-watermark) across batches and must emit the same rows
    val ss = StreamingOps.streamSession(spark)
    val src = StreamingOps.outerLayout(ss, sf)
    val schema = ss.read.parquet(s"$src/batch0.parquet").schema
    var dataBatches = 0L
    val rows = StreamingOps.outerJoinDrain(
      ss.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet"),
      q => dataBatches = q.recentProgress.count(_.numInputRows > 0).toLong)
      .collect().toSeq
    assert(dataBatches > 1, s"expected several data micro-batches, got $dataBatches")
    assert(rows == StreamingOps.st_stream_outer_join(spark, sf).collect().toSeq,
      "the cross-batch join state changed the emitted rows")
  }

  test("dlq ingest: replay never double-quarantines, restart fires zero batches, index holds only valid docs") {
    import graft.ops.TextIndexStore
    val root = graft.Fs.scratchDir("dlq_spec").toString
    var batches = List.empty[Long]
    val (tDir, qDir) = StreamingOps.runDlqIngest(spark, sf, root,
      onBatch = id => batches ::= id)
    assert(batches.sorted == (0L until StreamingOps.FeedBatches),
      s"expected one micro-batch per feed file, got $batches")
    def quarantined() = spark.read.option("basePath", qDir)
      .parquet(s"$qDir/batch=*")
      .select("doc_id", "reason", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val q1 = quarantined()
    // the quarantine holds EXACTLY the planted blanks, batch-routed
    val docs = Tables.documents(spark, sf)
    val planted = docs
      .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 31 === 7)
      .select(col("doc_id")).collect()
      .map(r => (r.getLong(0), "empty_text", (r.getLong(0) % 4 - 1).toInt)).toSet
    assert(q1 == planted, "quarantine table must equal the planted invalid set")
    // CRASH REPLAY of the LAST batch (reconstructed by the same rule
    // the feed files encode): the quarantine half must rewrite in
    // place (same rows, no duplicates) and the index half must no-op
    val src = docs
      .select(col("doc_id"),
        when(col("doc_id") % 31 === 7, lit("")).otherwise(col("text")).as("text"))
      .filter(col("doc_id") % 4 === StreamingOps.FeedBatches)
    val epochBefore = TextIndexStore.open(tDir).epoch
    StreamingOps.applyDlqBatch(tDir, qDir, src, StreamingOps.FeedBatches - 1L)
    assert(quarantined() == planted, "replay must not duplicate quarantine rows")
    assert(TextIndexStore.open(tDir).epoch == epochBefore,
      "replay must not advance the index epoch")
    // the index holds exactly the valid docs (planted blanks absent)
    val reg = {
      val m = TextIndexStore.open(tDir)
      spark.read.parquet(m.docs.map(rel => s"$tDir/$rel"): _*)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val blanks = planted.map(_._1)
    assert(blanks.intersect(reg).isEmpty, "a blank doc leaked into the index")
    val valid = docs.select("doc_id").collect().map(_.getLong(0)).toSet -- blanks
    assert(reg == valid, "a valid doc went missing from the index")
    // restart against the drained checkpoint: zero batches fire
    var restart = 0
    StreamingOps.runDlqIngest(spark, sf, root,
      onBatch = _ => restart += 1)
    assert(restart == 0, "restart of a drained stream must fire no batches")
  }

  test("decon gate: replay never double-quarantines, clean/contaminated partition is exact") {
    import graft.ops.{PipelineOps, TextIndexStore}
    val (tDir, qDir) = StreamingOps.runDeconIngest(spark, sf,
      graft.Fs.scratchDir("decon_spec").toString)
    // ground truth: the exact contaminated set from the batch operator
    val contaminated = PipelineOps.p_decontaminate(spark, sf).collect()
      .filter(_.getBoolean(3)).map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(contaminated.nonEmpty, "fixture has no contamination — gate witness moot")
    def quarantined() = spark.read.option("basePath", qDir)
      .parquet(s"$qDir/batch=*")
      .select("doc_id", "n_hits", "batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val q1 = quarantined()
    // quarantine = exactly the STREAMED contaminated docs, with the
    // same hit counts the batch operator computes, batch-routed
    val expected = contaminated.collect {
      case (id, hits) if id % 4 != 0 => (id, hits, (id % 4 - 1).toInt)
    }.toSet
    assert(q1 == expected, s"quarantine diverged: got $q1 expected $expected")
    // crash replay of the last batch: in-place rewrite + index no-op
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val last = docs.filter(col("doc_id") % 4 === 3)
    val epochBefore = TextIndexStore.open(tDir).epoch
    StreamingOps.applyDeconBatch(tDir, qDir,
      PipelineOps.evalShingleSet(
        docs.filter(col("doc_id") % PipelineOps.ProbeMod === 0)),
      last, 2L)
    assert(quarantined() == q1, "replay must not duplicate quarantine rows")
    assert(TextIndexStore.open(tDir).epoch == epochBefore,
      "replay must not advance the index epoch")
    // the index registry holds exactly the clean corpus — bootstrap
    // and stream alike
    val reg = {
      val m = TextIndexStore.open(tDir)
      spark.read.parquet(m.docs.map(rel => s"$tDir/$rel"): _*)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reg == all -- contaminated.keySet,
      "index must hold exactly the uncontaminated corpus")
  }

  test("hybrid dual ingest: crash between the two applies heals on replay, epochs stay aligned") {
    import graft.ops.{AnnIndexStore, TextIndexStore}
    var batches = List.empty[Long]
    val (tDir, aDir) = StreamingOps.runHybridIngest(spark, sf,
      graft.Fs.scratchDir("hyb_spec").toString, onBatch = id => batches ::= id)
    assert(batches.sorted == (0L until StreamingOps.FeedBatches),
      s"expected one micro-batch per feed file, got $batches")
    // lock-step epochs: both stores at exactly batches-drained
    val (tm, am) = (TextIndexStore.open(tDir), AnnIndexStore.open(aDir))
    assert(tm.epoch == am.epoch && tm.epoch == StreamingOps.FeedBatches.toLong,
      s"stores diverged: text@${tm.epoch} ann@${am.epoch}")

    // CRASH INTERLEAVING: batch N+1's text apply lands, then the
    // process dies before the ANN apply — simulated by applying the
    // text half alone. The stores now genuinely diverge...
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val e = Tables.embeddings(spark, sf)
    // a fresh never-indexed record set: queries (vec_id < 8) are not
    // in the candidate index, so reusing them as inserts is clean
    val extra = docs
      .join(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    val nextId = StreamingOps.FeedBatches.toLong
    TextIndexStore.applyDeltaIdempotent(spark, tDir,
      extra.select(col("doc_id"), col("text")), nextId)
    assert(TextIndexStore.open(tDir).epoch == nextId + 1)
    assert(AnnIndexStore.open(aDir).epoch == nextId, "ann must still be behind")
    // ...and the engine's at-least-once REPLAY of the full batch heals
    // the pair: text no-ops behind its pin, ANN applies, epochs align.
    StreamingOps.applyHybridBatch(tDir, aDir, extra, nextId)
    val (tm2, am2) = (TextIndexStore.open(tDir), AnnIndexStore.open(aDir))
    assert(tm2.epoch == nextId + 1 && am2.epoch == nextId + 1,
      s"replay failed to converge: text@${tm2.epoch} ann@${am2.epoch}")
    // the healed pair serves both representations of the new docs:
    // every replayed doc_id is in the text registry AND the ANN postings
    val newIds = extra.select("doc_id").collect().map(_.getLong(0)).toSet
    val annIds = AnnIndexStore.postings(spark, aDir, am2)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(newIds.subsetOf(annIds), "ANN postings missing replayed docs")
    val clash = intercept[IllegalArgumentException](
      TextIndexStore.applyDelta(spark, tDir, extra.select(col("doc_id"), col("text"))))
    assert(clash.getMessage.contains("append-only"),
      "text registry must already hold the replayed docs")
  }
}
