package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Tables, TextIndexStore, TextOps}

/** The durable-text-index contract — the lexical mirror of
  * [[AnnIndexStoreSpec]]: the inverted index on disk is a complete,
  * versioned artifact (postings + vocab stats + scalars), a later
  * session serves BM25 from it with ZERO corpus jobs, serving reads
  * only the query terms' posting buckets, append maintenance converges
  * exactly to the full rebuild, old epochs time-travel, and the
  * append-only contract fails loudly.
  */
class TextIndexStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))

  private def scoreKey(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "score_e6", "n_hit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("a fresh session serves scores identical to the from-scratch pipeline, zero corpus jobs") {
    val dir = Fs.scratchDir("tis_serve").toString
    TextIndexStore.build(docs, dir)
    val expected = scoreKey(TextOps.bm25Scores(docs))
    val s2 = spark.newSession()
    val before = TextIndexStore.buildCount.get()
    val served = TextIndexStore.bm25Scores(s2, dir, TextIndexStore.open(dir))
    assert(scoreKey(served) == expected, "served scores drifted from the corpus pipeline")
    assert(TextIndexStore.buildCount.get() == before,
      "serving must not rebuild anything — the artifacts are on disk")
    // ...and every file the serve plan reads lives INSIDE the index
    // dir: no path back to the corpus parquet exists in the plan
    served.collect()
    val inputs = served.inputFiles
    assert(inputs.nonEmpty)
    inputs.foreach(f => assert(f.contains(dir.split('/').last),
      s"serve plan read outside the index: $f"))
  }

  test("serving reads only the query terms' posting buckets (manifest-pruned scan)") {
    val dir = Fs.scratchDir("tis_prune").toString
    TextIndexStore.build(docs, dir)
    val m = TextIndexStore.open(dir)
    val served = TextIndexStore.bm25Scores(spark, dir, m)
    served.collect()
    val bucketDirsRead = served.inputFiles
      .flatMap(_.split('/').find(seg => seg.matches("b\\d+"))).distinct.sorted
    // 5 query terms can touch at most 5 of the populated buckets;
    // the fixture populates (nearly) all NumBuckets
    assert(m.buckets.size > TextOps.BmQueryK,
      s"fixture must populate more buckets than query terms (got ${m.buckets.size})")
    assert(bucketDirsRead.length <= TextOps.BmQueryK,
      s"read ${bucketDirsRead.mkString(",")} — more buckets than query terms")
  }

  test("append delta converges exactly to the full rebuild; untouched buckets keep their dirs") {
    val dir = Fs.scratchDir("tis_delta").toString
    val base = docs.filter(col("doc_id") % 13 =!= 0)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    val m0 = TextIndexStore.build(base, dir)
    val commit = TextIndexStore.applyDelta(spark, dir, batch)
    // scores after the append == scores of a from-scratch build on all docs
    val full = scoreKey(TextOps.bm25Scores(docs))
    assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, commit.manifest)) == full,
      "incremental index diverged from the full rebuild")
    // the batch touched a strict subset of buckets; untouched buckets
    // still point at their epoch-0 dirs (no gratuitous rewrite)
    assert(commit.affected.nonEmpty && commit.affected.size <= m0.buckets.size)
    val untouched = m0.buckets.keySet -- commit.affected.toSet
    untouched.foreach { b =>
      assert(commit.manifest.buckets(b) == m0.buckets(b),
        s"untouched bucket $b was rewritten")
    }
    // scalars bumped exactly
    val batchN = batch.count()
    assert(commit.manifest.nDocs == m0.nDocs + batchN)
    assert(commit.manifest.sumDl > m0.sumDl)
    // every merge read lay inside the affected buckets' old dirs
    commit.readPaths.foreach(p =>
      assert(commit.affected.exists(b => p.contains(s"/b$b/")), s"stray merge read: $p"))
  }

  test("time travel: the pre-delta epoch still serves its old scores bit-identically") {
    val dir = Fs.scratchDir("tis_tt").toString
    val base = docs.filter(col("doc_id") % 13 =!= 0)
    TextIndexStore.build(base, dir)
    val preDelta = scoreKey(TextIndexStore.bm25Scores(spark, dir, TextIndexStore.open(dir)))
    TextIndexStore.applyDelta(spark, dir, docs.filter(col("doc_id") % 13 === 0))
    assert(TextIndexStore.listEpochs(dir) == Seq(0L, 1L))
    val atZero = TextIndexStore.withSnapshot(dir, 0L) { m0 =>
      scoreKey(TextIndexStore.bm25Scores(spark, dir, m0))
    }
    assert(atZero == preDelta, "epoch-0 snapshot no longer serves its committed scores")
    // and the live epoch differs (the delta genuinely changed N/df)
    val live = scoreKey(TextIndexStore.bm25Scores(spark, dir, TextIndexStore.open(dir)))
    assert(live != preDelta, "delta was a no-op — the time-travel test is vacuous")
  }

  test("append-only contract: re-adding an indexed doc_id fails loudly") {
    val dir = Fs.scratchDir("tis_dup").toString
    TextIndexStore.build(docs, dir)
    val err = intercept[IllegalArgumentException] {
      TextIndexStore.applyDelta(spark, dir, docs.limit(3))
    }
    assert(err.getMessage.contains("append-only"))
    // the failed commit left the manifest on epoch 0
    assert(TextIndexStore.open(dir).epoch == 0L)
  }

  test("tombstone delete: survivors serve under exact scalars, zero posting bytes touched") {
    val dir = Fs.scratchDir("tis_del").toString
    val m0 = TextIndexStore.build(docs, dir)
    val victims = docs.filter(col("doc_id") % 7 === 3)
    val nVict = victims.count()
    val commit = TextIndexStore.applyDelete(spark, dir, victims.select(col("doc_id")))
    assert(commit.nDeleted == nVict && commit.dlDeleted > 0L)
    // scalars decremented EXACTLY (Σdl recomputable as the victims'
    // raw token count)
    val expectDl = victims.select(explode(split(col("text"), " "))).count()
    assert(commit.manifest.nDocs == m0.nDocs - nVict)
    assert(commit.manifest.sumDl == m0.sumDl - expectDl)
    // not a single posting or stats byte moved: same dirs, same epoch
    assert(commit.manifest.buckets == m0.buckets, "delete rewrote posting buckets")
    assert(commit.manifest.stats == m0.stats, "delete rewrote vocab stats")
    assert(commit.manifest.docs == m0.docs, "delete rewrote the registry")
    assert(commit.manifest.dels == Seq("dels/e1"))
    // served docs are exactly the pre-delete result minus victims
    val served = TextIndexStore.bm25Scores(spark, dir, commit.manifest)
    val ids = served.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && !ids.exists(_ % 7 == 3), "a tombstoned doc scored")
  }

  test("delete contract: unknown and double-deleted doc_ids fail loudly; insert-after-delete blocked until purge") {
    val dir = Fs.scratchDir("tis_delc").toString
    TextIndexStore.build(docs.filter(col("doc_id") % 2 === 0), dir)
    import spark.implicits._
    val unknown = intercept[IllegalArgumentException] {
      TextIndexStore.applyDelete(spark, dir, Seq(1L, 3L).toDF("doc_id"))
    }
    assert(unknown.getMessage.contains("never indexed"))
    val someIds = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(3)
    val some = docs.join(someIds, "doc_id")
    TextIndexStore.applyDelete(spark, dir, someIds)
    val twice = intercept[IllegalArgumentException] {
      TextIndexStore.applyDelete(spark, dir, someIds)
    }
    assert(twice.getMessage.contains("already tombstoned"))
    // a tombstoned id is still registry-resident: re-insert is blocked
    // (the documented update lifecycle requires the purge first)
    val reins = intercept[IllegalArgumentException] {
      TextIndexStore.applyDelta(spark, dir, some)
    }
    assert(reins.getMessage.contains("append-only"))
    // ...and after compact the id really is re-insertable
    val mC = TextIndexStore.compact(spark, dir)
    val back = TextIndexStore.applyDelta(spark, dir, some)
    assert(back.manifest.nDocs == mC.nDocs + 3,
      "re-insert after purge did not land as 3 new docs")
  }

  test("purge compaction: postings physically clean, df exact, equals a fresh build over survivors") {
    val dir = Fs.scratchDir("tis_purge").toString
    TextIndexStore.build(docs, dir)
    val survivors = docs.filter(col("doc_id") % 7 =!= 3)
    TextIndexStore.applyDelete(spark, dir,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    val preDel = TextIndexStore.open(dir)
    val m2 = TextIndexStore.compact(spark, dir)
    assert(m2.dels.isEmpty && m2.docs.size == 1)
    assert(m2.nDocs == preDel.nDocs && m2.sumDl == preDel.sumDl)
    // no tombstoned doc survives in ANY posting bucket on disk
    val onDisk = spark.read.parquet(m2.buckets.values.map(rel => s"$dir/$rel").toSeq: _*)
    assert(onDisk.filter(col("doc_id") % 7 === 3).count() == 0L,
      "purged postings still carry tombstoned docs")
    // vocab stats now EXACTLY match a fresh build over the survivors
    val fresh = Fs.scratchDir("tis_purgeref").toString
    val mRef = TextIndexStore.build(survivors, fresh)
    def statsKey(d: String, rel: String) =
      spark.read.parquet(s"$d/$rel").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(statsKey(dir, m2.stats) == statsKey(fresh, mRef.stats),
      "purged vocab stats drifted from the fresh-build stats")
    // ...and serving is identical to the fresh build (df debt repaid)
    assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, m2)) ==
      scoreKey(TextIndexStore.bm25Scores(spark, fresh, mRef)))
  }

  test("single-flip update: ONE epoch, no tombstone, old postings physically gone, equals fresh build over updated corpus") {
    val dir = Fs.scratchDir("tis_upd").toString
    val m0 = TextIndexStore.build(docs, dir)
    def updText(tag: String) = docs.filter(col("doc_id") % 11 === 5)
      .select(col("doc_id"),
        concat(lit(s"$tag alpha beta "), (col("doc_id") % 7).cast("string")).as("text"))
    val upd = updText("replacement")
    val commit = TextIndexStore.applyUpdate(spark, dir, upd)
    // ONE manifest flip, zero tombstones, same doc population
    assert(commit.manifest.epoch == m0.epoch + 1, "update took more than one epoch")
    assert(commit.manifest.dels.isEmpty, "update appended a tombstone")
    assert(commit.manifest.nDocs == m0.nDocs)
    assert(commit.dlBefore > commit.dlAfter, "wholesale replacement should shrink dl")
    // the updated docs' OLD postings are physically gone from disk —
    // every surviving posting of theirs carries only replacement tokens
    val onDisk = spark.read.parquet(
      commit.manifest.buckets.values.map(rel => s"$dir/$rel").toSeq: _*)
    val updIds = upd.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(updIds.nonEmpty)
    val survivingToks = onDisk.filter(col("doc_id").isin(updIds.toSeq: _*))
      .select("tok").distinct().collect().map(_.getString(0)).toSet
    val allowed = Set("replacement", "alpha", "beta") ++ (0 to 6).map(_.toString)
    assert(survivingToks.nonEmpty && survivingToks.subsetOf(allowed),
      s"stale pre-update postings on disk: ${survivingToks -- allowed}")
    // the updated index IS a fresh build over the updated corpus:
    // scalars, vocab stats (incl. tokens dropped at df=0), and scores
    val updatedCorpus = docs.filter(col("doc_id") % 11 =!= 5).unionByName(upd)
    val fresh = Fs.scratchDir("tis_updref").toString
    val mRef = TextIndexStore.build(updatedCorpus, fresh)
    assert(commit.manifest.nDocs == mRef.nDocs &&
      commit.manifest.sumDl == mRef.sumDl, "scalars drifted from fresh build")
    def statsKey(d: String, rel: String) =
      spark.read.parquet(s"$d/$rel").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(statsKey(dir, commit.manifest.stats) == statsKey(fresh, mRef.stats),
      "updated vocab stats drifted from the fresh-build stats")
    assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, commit.manifest)) ==
      scoreKey(TextIndexStore.bm25Scores(spark, fresh, mRef)))
    // the old 3-epoch dance's blocking constraint is gone: the SAME
    // docs update again immediately — one more flip, last-wins registry
    val again = TextIndexStore.applyUpdate(spark, dir, updText("rewritten"))
    assert(again.manifest.epoch == commit.manifest.epoch + 1)
    // ...and a delete AFTER two updates decrements by the CURRENT dl
    // (the last update's), proving the registry view resolves last-wins
    val one = upd.select(col("doc_id")).orderBy(col("doc_id")).limit(1)
    val oneId = one.collect().head.getLong(0)
    val curDl = spark.read.parquet(
      again.manifest.buckets.values.map(rel => s"$dir/$rel").toSeq: _*)
      .filter(col("doc_id") === oneId).agg(sum(col("tf"))).head.getLong(0)
    val del = TextIndexStore.applyDelete(spark, dir, one)
    assert(del.dlDeleted == curDl,
      s"delete used a stale registry dl: ${del.dlDeleted} != $curDl")
  }

  test("arbitrary-query serving: stats-looked-up df, pruned probes, OOV terms score nothing") {
    val dir = Fs.scratchDir("tis_query").toString
    TextIndexStore.build(docs, dir)
    val m = TextIndexStore.open(dir)
    // a mixed query: two real vocabulary terms + one out-of-vocabulary
    val vocab = spark.read.parquet(s"$dir/${m.stats}")
      .orderBy(desc("df"), col("tok")).limit(2)
      .collect().map(_.getString(0)).toSeq
    val served = TextIndexStore.bm25ScoresFor(spark, dir, m,
      vocab :+ "zzz-never-a-token")
    val rows = served.collect()
    assert(rows.nonEmpty)
    // n_hit bounded by the PRESENT terms (the OOV term scores nothing)
    assert(rows.forall(_.getLong(2) <= 2))
    // probe reads ≤ present terms' buckets
    val bucketsRead = served.inputFiles
      .flatMap(_.split('/').find(_.matches("b\\d+"))).distinct
    assert(bucketsRead.length <= 2)
    // an all-OOV query returns the typed empty answer, not a throw
    val none = TextIndexStore.bm25ScoresFor(spark, dir, m, Seq("zzz-never"))
    assert(none.count() == 0L)
    assert(none.columns.toSeq == Seq("doc_id", "score_e6", "n_hit"))
  }

  test("reshard: 4x fan-out in one flip, same scores, probes bounded under the new fan-out, updates keep working") {
    val dir = Fs.scratchDir("tis_reshard").toString
    val m0 = TextIndexStore.build(docs, dir)
    val before = scoreKey(TextIndexStore.bm25Scores(spark, dir, m0))
    val m1 = TextIndexStore.reshard(spark, dir, TextIndexStore.NumBuckets * 4)
    assert(m1.epoch == m0.epoch + 1, "reshard took more than one epoch")
    assert(m1.numBuckets == TextIndexStore.NumBuckets * 4)
    assert(m1.nDocs == m0.nDocs && m1.sumDl == m0.sumDl)
    assert(m1.stats == m0.stats, "stats are fan-out independent and must carry by reference")
    // observationally a no-op...
    val served = TextIndexStore.bm25Scores(spark, dir, m1)
    assert(scoreKey(served) == before, "reshard changed served scores")
    // ...but the probe bound now holds against the NEW fan-out
    served.collect()
    val bucketsRead = served.inputFiles
      .flatMap(_.split('/').find(_.matches("b\\d+"))).distinct
    assert(bucketsRead.length <= TextOps.BmQueryK)
    assert(m1.buckets.size > TextIndexStore.NumBuckets,
      s"resharded index must spread past the old fan-out (got ${m1.buckets.size})")
    // the regenerated registry doc->buckets map points at the new
    // fan-out: a single-flip update still locates old postings exactly
    val one = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(1)
    val upd = TextIndexStore.applyUpdate(spark, dir,
      one.withColumn("text", lit("post reshard replacement text")))
    assert(upd.manifest.epoch == m1.epoch + 1)
  }

  test("update contract: unknown, tombstoned, and empty-text updates fail loudly") {
    val dir = Fs.scratchDir("tis_updc").toString
    TextIndexStore.build(docs.filter(col("doc_id") % 2 === 0), dir)
    import spark.implicits._
    val unknown = intercept[IllegalArgumentException] {
      TextIndexStore.applyUpdate(spark, dir, Seq((1L, "odd doc")).toDF("doc_id", "text"))
    }
    assert(unknown.getMessage.contains("never indexed"))
    val someIds = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(2)
    TextIndexStore.applyDelete(spark, dir, someIds)
    val tomb = intercept[IllegalArgumentException] {
      TextIndexStore.applyUpdate(spark, dir,
        someIds.withColumn("text", lit("resurrect attempt")))
    }
    assert(tomb.getMessage.contains("tombstoned"))
    val liveId = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")).orderBy(desc("doc_id")).limit(1)
    // a null text tokenizes to ZERO posting rows (explode of null) —
    // the one way a doc can be token-free under this tokenizer, and
    // exactly the data bug the pointed error exists for
    val empty = intercept[IllegalArgumentException] {
      TextIndexStore.applyUpdate(spark, dir,
        liveId.withColumn("text", lit(null).cast("string")))
    }
    assert(empty.getMessage.contains("no tokens"))
  }

  test("time travel across the delete: the pre-delete epoch still serves the deleted docs") {
    val dir = Fs.scratchDir("tis_deltt").toString
    TextIndexStore.build(docs, dir)
    val pre = scoreKey(TextIndexStore.bm25Scores(spark, dir, TextIndexStore.open(dir)))
    TextIndexStore.applyDelete(spark, dir,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    val atZero = TextIndexStore.withSnapshot(dir, 0L) { m0 =>
      scoreKey(TextIndexStore.bm25Scores(spark, dir, m0))
    }
    assert(atZero == pre, "epoch-0 snapshot no longer serves pre-delete scores")
    assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, TextIndexStore.open(dir))) != pre,
      "delete was a no-op — the time-travel test is vacuous")
  }

  test("fan-out is a persisted build parameter: non-default builds serve/delta/delete identically") {
    // the version hazard this pins down: probe-time bucket hashing
    // must come from the MANIFEST, never the compile-time default —
    // an index built at fan-out 8 or 64 has to serve the exact same
    // scores as the default build, through every lifecycle step
    val expected = scoreKey(TextOps.bm25Scores(docs))
    for (fanOut <- Seq(8, 64)) {
      val dir = Fs.scratchDir(s"tis_fan$fanOut").toString
      val base = docs.filter(col("doc_id") % 13 =!= 0)
      val m0 = TextIndexStore.build(base, dir, numBuckets = fanOut)
      assert(m0.numBuckets == fanOut, "build did not record its fan-out")
      assert(TextIndexStore.open(dir).numBuckets == fanOut,
        "manifest round-trip lost the fan-out")
      assert(m0.buckets.keySet.forall(b => b >= 0 && b < fanOut))
      // delta hashes under the MANIFEST fan-out (a default-hashed merge
      // would scatter the batch into the wrong buckets)
      val c = TextIndexStore.applyDelta(spark, dir, docs.filter(col("doc_id") % 13 === 0))
      assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, c.manifest)) == expected,
        s"fan-out-$fanOut index diverged from the corpus pipeline")
      // ...and so do delete + compact
      TextIndexStore.applyDelete(spark, dir,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))): Unit
      val mC = TextIndexStore.compact(spark, dir)
      assert(mC.numBuckets == fanOut, "lifecycle steps dropped the fan-out")
      assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, mC)) ==
        scoreKey(TextOps.bm25Scores(docs.filter(col("doc_id") % 7 =!= 3))),
        s"fan-out-$fanOut purge diverged from the survivor pipeline")
    }
    // legacy manifests (no numBuckets field) parse to the historical 16
    val legacy = Fs.scratchDir("tis_fanlegacy").toString
    TextIndexStore.build(docs, legacy): Unit
    val p = java.nio.file.Paths.get(legacy, "_manifest.json")
    val stripped = java.nio.file.Files.readString(p)
      .replaceFirst(""""numBuckets":\d+,""", "")
    java.nio.file.Files.writeString(p, stripped)
    assert(TextIndexStore.open(legacy).numBuckets == TextIndexStore.NumBuckets,
      "legacy manifest must default to the historical fan-out")
    // production sizing: √N rounded to a power of two, fixture-floored
    assert(TextIndexStore.suggestedBuckets(100L) == 16)
    assert(TextIndexStore.suggestedBuckets(1000000L) == 1024)
    assert(TextIndexStore.suggestedBuckets(1000000000L) == 32768)
  }

  test("size-derived fan-out targets a file size and serves bit-identically") {
    // the arithmetic: one bucket ≈ TargetPostingRowsPerBucket rows,
    // pow2-rounded, fixture-floored, capped — file count grows
    // LINEARLY with posting volume (the ×100 small-file fix), unlike
    // the √N doc-count rule
    val t = TextIndexStore.TargetPostingRowsPerBucket
    assert(TextIndexStore.sizedBuckets(1L) == TextIndexStore.NumBuckets)
    assert(TextIndexStore.sizedBuckets(t * 100) == 128)
    assert(TextIndexStore.sizedBuckets(t * 128) == 128)
    assert(TextIndexStore.sizedBuckets(t * 129) == 256)
    assert(TextIndexStore.sizedBuckets(Long.MaxValue / 4) == (1 << 20))
    // a SizeDerived build measures its own posting volume, records the
    // derived fan-out in the manifest, and serves scores identical to
    // an explicitly-sized build (fan-out changes layout, never scores)
    val dir = Fs.scratchDir("tis_sized").toString
    val m = TextIndexStore.build(docs, dir,
      numBuckets = TextIndexStore.SizeDerived)
    val nPostings = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select("doc_id", "tok").distinct().count()
    assert(m.numBuckets == TextIndexStore.sizedBuckets(nPostings),
      s"manifest fan-out ${m.numBuckets} != derived from $nPostings postings")
    assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, m)) ==
      scoreKey(TextOps.bm25Scores(docs)),
      "size-derived build diverged from the corpus pipeline")
  }

  test("retention GC drops old epochs' manifests and unreferenced component dirs") {
    val dir = Fs.scratchDir("tis_gc").toString
    // retain=1 GC after two deltas: only the newest epoch must survive
    TextIndexStore.build(docs.filter(col("doc_id") % 13 =!= 0), dir)
    TextIndexStore.applyDelta(spark, dir,
      docs.filter(col("doc_id") % 13 === 0 && col("doc_id") % 2 === 0))
    TextIndexStore.applyDelta(spark, dir,
      docs.filter(col("doc_id") % 13 === 0 && col("doc_id") % 2 =!= 0))
    TextIndexStore.gc(dir, 2L, retain = 1)
    assert(TextIndexStore.listEpochs(dir) == Seq(2L))
    val m = TextIndexStore.open(dir)
    // stats of dropped epochs are swept; the live one survives
    val statsDirs = Option(new java.io.File(dir, "stats").listFiles()).toSeq.flatten
      .map(_.getName).sorted
    assert(statsDirs == Seq("e2"), s"stale stats epochs survive GC: $statsDirs")
    // all bucket-epoch dirs on disk are referenced by the live manifest
    val onDisk = for {
      bd <- Option(new java.io.File(dir).listFiles()).toSeq.flatten
        if bd.isDirectory && bd.getName.matches("b\\d+")
      ed <- Option(bd.listFiles()).toSeq.flatten if ed.getName.matches("e\\d+")
    } yield s"${bd.getName}/${ed.getName}"
    assert(onDisk.toSet == m.buckets.values.toSet,
      s"unreferenced bucket dirs survive GC: ${onDisk.toSet -- m.buckets.values.toSet}")
    // doc-registry segments referenced by the live manifest all resolve
    m.docs.foreach(rel => assert(new java.io.File(dir, rel).exists()))
    // and serving the live epoch still matches the full rebuild
    assert(scoreKey(TextIndexStore.bm25Scores(spark, dir, m)) ==
      scoreKey(TextOps.bm25Scores(docs)))
  }

  test("default retention: RetainEpochs + 2 deltas keep the last RetainEpochs epochs; swept bucket dirs are gone") {
    val dir = Fs.scratchDir("tis_retain").toString
    val n = TextIndexStore.RetainEpochs + 2
    val m0 = TextIndexStore.build(docs.filter(col("doc_id") % 13 =!= 0), dir)
    // n disjoint insert batches, no retain argument → epochs 1..n
    val refs = m0.buckets.values.toSet ++ (0 until n).flatMap { i =>
      TextIndexStore.applyDelta(spark, dir,
        docs.filter(col("doc_id") % 13 === 0 && col("doc_id") % n === i))
        .manifest.buckets.values
    }
    val kept = (n - TextIndexStore.RetainEpochs + 1 to n).map(_.toLong)
    assert(TextIndexStore.listEpochs(dir) == kept)
    val live = kept.flatMap(e => TextIndexStore.openAt(dir, e).buckets.values).toSet
    val swept = refs -- live
    assert(swept.nonEmpty, "the deltas rewrote no bucket an evicted epoch referenced")
    swept.foreach(rel => assert(!new java.io.File(dir, rel).exists(), s"$rel survives GC"))
    live.foreach(rel => assert(new java.io.File(dir, rel).exists(), s"$rel swept while live"))
  }

  test("applyDeltaIdempotent: a replayed batch no-ops, a batch gap fails loudly") {
    val dir = Fs.scratchDir("tis_idem").toString
    TextIndexStore.build(docs.filter(col("doc_id") % 2 === 0), dir)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val m1 = TextIndexStore.applyBatch(dir, batchId = 0L)(TextIndexStore.applyDelta(spark, dir, delta))
    assert(m1.epoch == 1L)
    val before = scoreKey(TextIndexStore.bm25Scores(spark, dir, m1))
    // the at-least-once REPLAY: same batch id again — must not
    // double-apply (a blind applyDelta would trip its own clash check,
    // crashing the stream; the gate no-ops instead)
    val m1b = TextIndexStore.applyBatch(dir, batchId = 0L)(TextIndexStore.applyDelta(spark, dir, delta))
    assert(m1b.epoch == 1L, "replayed batch must not advance the epoch")
    assert(scoreKey(TextIndexStore.bm25Scores(spark, dir,
      TextIndexStore.open(dir))) == before,
      "replayed batch must leave the served scores identical")
    // a GAP (skipped batch) must fail pointedly, never index around a hole
    val err = intercept[RuntimeException](
      TextIndexStore.applyBatch(dir, batchId = 5L)(TextIndexStore.applyDelta(spark, dir, delta)))
    assert(err.getMessage.contains("gap"), err.getMessage)
  }

  test("streaming ingest: one epoch per micro-batch, restart fires zero batches, scores equal from-scratch") {
    val root = Fs.scratchDir("tis_ing").toString
    var batches = List.empty[Long]
    val idx = streaming.StreamingOps.runTextIngest(spark, sf, root,
      onBatch = id => batches ::= id)
    assert(batches.sorted == (0L until streaming.StreamingOps.FeedBatches),
      s"expected one micro-batch per delta file, got $batches")
    val m = TextIndexStore.open(idx)
    assert(m.epoch == streaming.StreamingOps.FeedBatches.toLong,
      "each micro-batch must commit exactly one index epoch")
    // the stream-assembled index scores exactly like the from-scratch pipeline
    assert(scoreKey(TextIndexStore.bm25Scores(spark, idx, m)) ==
      scoreKey(TextOps.bm25Scores(docs)),
      "stream-assembled index must score like a batch build over the full corpus")
    // RESTART against the drained checkpoint: zero batches fire, epoch unchanged
    var restart = 0
    streaming.StreamingOps.runTextIngest(spark, sf, root,
      onBatch = _ => restart += 1)
    assert(restart == 0, "restart of a drained stream must fire no batches")
    assert(TextIndexStore.open(idx).epoch ==
      streaming.StreamingOps.FeedBatches.toLong)
  }
}
