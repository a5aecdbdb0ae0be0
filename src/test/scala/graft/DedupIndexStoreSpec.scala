package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DedupIndexStore, Tables}

/** The durable-dedup-index contract — the third durable store next to
  * [[AnnIndexStoreSpec]] and [[TextIndexStoreSpec]]: the LSH postings
  * + shingle registry on disk are a complete, versioned artifact, a
  * later session screens a batch against them with zero corpus jobs,
  * probing reads only the batch's band-key buckets, append maintenance
  * converges exactly to the full rebuild, the over-cap exact-dup route
  * works, and the append-only contract fails loudly.
  *
  * The expected answer is recomputed here from FIRST PRINCIPLES (an
  * all-pairs crossJoin + exact Jaccard over spec-local shingling) — a
  * different derivation than both the store (banded LSH) and the
  * driver's DuckDB oracle, so agreement is three-way.
  */
class DedupIndexStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
  private def oldDocs = docs.filter(col("doc_id") % 5 =!= 4)
  private def batchDocs = docs.filter(col("doc_id") % 5 === 4)

  /** Spec-local 3-word shingling (mirrors the DuckDB oracle's
    * `w[i] || ' ' || w[i+1] || ' ' || w[i+2]`, distinct). */
  private def shingles(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(0), size(col("w")) - 3),
        i => concat_ws(" ", slice(col("w"), i + 1, lit(3))))).as("sh"))

  /** All-pairs OLD × NEW exact Jaccard ≥ 0.5 — the brute-force truth
    * (spec scale only; the store exists so production never does this). */
  private def expectedPairs(old: DataFrame, batch: DataFrame): Set[(Long, Long, Long)] =
    shingles(old).select(col("doc_id").as("doc_old"), col("sh").as("sha"))
      .crossJoin(broadcast(
        shingles(batch).select(col("doc_id").as("doc_new"), col("sh").as("shb"))))
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("u", size(col("sha")) + size(col("shb")) - col("c"))
      .filter(col("c") * lit(2) >= col("u"))
      .select(col("doc_new"), col("doc_old"),
        round(lit(1000000.0) * col("c") / col("u")).cast("long").as("jac_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def pairKey(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_new", "doc_old", "jac_e6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("a fresh session screens the batch identically to brute force, zero corpus jobs") {
    val dir = Fs.scratchDir("dis_serve").toString
    DedupIndexStore.build(oldDocs, dir)
    val expected = expectedPairs(oldDocs, batchDocs)
    assert(expected.nonEmpty, "fixture has no OLD x NEW near-dups - test is vacuous")
    val s2 = spark.newSession()
    val batch2 = Tables.documents(s2, sf).filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text"))
    val before = DedupIndexStore.buildCount.get()
    val served = DedupIndexStore.nearDups(s2, dir, DedupIndexStore.open(dir), batch2)
    assert(pairKey(served) == expected, "served pairs drifted from brute force")
    assert(DedupIndexStore.buildCount.get() == before,
      "serving must not rebuild anything - the artifacts are on disk")
    // every file the serve plan reads is either an index artifact or
    // the incoming batch itself - no path back to the INDEXED corpus
    // beyond the persisted registry
    val inputs = served.inputFiles
    assert(inputs.nonEmpty)
    val idxTag = dir.split('/').last
    inputs.foreach(f => assert(f.contains(idxTag) || f.contains("documents"),
      s"serve plan read outside the index and batch: $f"))
  }

  test("probing reads only the batch's band-key buckets (manifest-pruned scan)") {
    val dir = Fs.scratchDir("dis_prune").toString
    DedupIndexStore.build(oldDocs, dir)
    val m = DedupIndexStore.open(dir)
    // a 1-doc batch has 16 band keys - they cannot cover all 16
    // buckets at this fixture's hash layout (empirically ~10)
    val one = batchDocs.orderBy(col("doc_id")).limit(1)
    val (served, diag) = DedupIndexStore.nearDupsDiag(spark, dir, m, one)
    served.collect()
    assert(diag.probedBuckets.nonEmpty && diag.probedBuckets.size < DedupIndexStore.NumBuckets,
      s"1-doc batch probed every bucket: ${diag.probedBuckets}")
    diag.postingPaths.foreach(p =>
      assert(diag.probedBuckets.exists(b => p.contains(s"/b$b/")), s"stray probe read: $p"))
    // the executed scan stayed inside the probed buckets
    val bucketDirsRead = served.inputFiles
      .flatMap(_.split('/').find(seg => seg.matches("b\\d+"))).distinct
    bucketDirsRead.foreach(bd =>
      assert(diag.probedBuckets.contains(bd.stripPrefix("b").toInt),
        s"scan read unprobed bucket $bd"))
  }

  test("append delta converges exactly to the full rebuild; a small delta leaves buckets untouched") {
    val dir = Fs.scratchDir("dis_delta").toString
    val half = oldDocs.filter(col("doc_id") % 5 < 2)
    val rest = oldDocs.filter(col("doc_id") % 5 >= 2)
    val m0 = DedupIndexStore.build(half, dir)
    val commit = DedupIndexStore.applyDelta(spark, dir, rest)
    assert(pairKey(DedupIndexStore.nearDups(spark, dir, commit.manifest, batchDocs)) ==
      expectedPairs(oldDocs, batchDocs),
      "incremental index diverged from the full rebuild")
    assert(commit.manifest.nDocs == m0.nDocs + shingles(rest).count())
    // a 1-doc append touches a strict subset of buckets; untouched
    // buckets keep their earlier dirs (no gratuitous rewrite)
    val extraId = 1000000L
    val extra = spark.range(1).select(lit(extraId).as("doc_id"),
      lit("one extra appended document with enough words to shingle").as("text"))
    val c2 = DedupIndexStore.applyDelta(spark, dir, extra)
    assert(c2.affected.nonEmpty && c2.affected.size < DedupIndexStore.NumBuckets,
      s"1-doc delta touched every bucket: ${c2.affected}")
    val untouched = commit.manifest.buckets.keySet -- c2.affected.toSet
    assert(untouched.nonEmpty)
    untouched.foreach { b =>
      assert(c2.manifest.buckets(b) == commit.manifest.buckets(b),
        s"untouched bucket $b was rewritten")
    }
    c2.readPaths.foreach(p =>
      assert(c2.affected.exists(b => p.contains(s"/b$b/")), s"stray merge read: $p"))
  }

  test("over-cap band keys take the exact-dup route: a planted 150-copy corpus still screens") {
    val dir = Fs.scratchDir("dis_hot").toString
    val text = "exact duplicate passage repeated across the planted corpus many times over"
    val planted = spark.range(150).select((col("id") + 1).as("doc_id"), lit(text).as("text"))
    DedupIndexStore.build(planted, dir)
    // every band bucket of this signature holds 150 docs - far over
    // LshBucketCap (100), so candidate generation must route through
    // full-signature equality instead of the pairwise band join
    val probe = spark.range(1).select(lit(9999L).as("doc_id"), lit(text).as("text"))
    val served = DedupIndexStore.nearDups(spark, dir, DedupIndexStore.open(dir), probe)
    val got = pairKey(served)
    assert(got == (1L to 150L).map(i => (9999L, i, 1000000L)).toSet,
      s"over-cap route lost exact duplicates: got ${got.size} pairs")
  }

  test("time travel: the pre-delta epoch still screens against its old corpus only") {
    val dir = Fs.scratchDir("dis_tt").toString
    val half = oldDocs.filter(col("doc_id") % 5 < 2)
    DedupIndexStore.build(half, dir)
    val preDelta = pairKey(DedupIndexStore.nearDups(spark, dir, DedupIndexStore.open(dir), batchDocs))
    DedupIndexStore.applyDelta(spark, dir, oldDocs.filter(col("doc_id") % 5 >= 2))
    assert(DedupIndexStore.listEpochs(dir) == Seq(0L, 1L))
    val atZero = DedupIndexStore.withSnapshot(dir, 0L) { m0 =>
      pairKey(DedupIndexStore.nearDups(spark, dir, m0, batchDocs))
    }
    assert(atZero == preDelta, "epoch-0 snapshot no longer screens its committed corpus")
    assert(atZero == expectedPairs(half, batchDocs))
    val live = pairKey(DedupIndexStore.nearDups(spark, dir, DedupIndexStore.open(dir), batchDocs))
    assert(live != preDelta, "delta was a no-op - the time-travel test is vacuous")
  }

  test("append-only contract: re-adding an indexed doc_id fails loudly") {
    val dir = Fs.scratchDir("dis_dup").toString
    DedupIndexStore.build(oldDocs, dir)
    val err = intercept[IllegalArgumentException] {
      DedupIndexStore.applyDelta(spark, dir, oldDocs.limit(3))
    }
    assert(err.getMessage.contains("append-only"))
    assert(DedupIndexStore.open(dir).epoch == 0L)
  }

  test("retention GC drops old epochs' manifests and unreferenced bucket dirs") {
    val dir = Fs.scratchDir("dis_gc").toString
    DedupIndexStore.build(oldDocs.filter(col("doc_id") % 5 < 2), dir)
    DedupIndexStore.applyDelta(spark, dir, oldDocs.filter(col("doc_id") % 5 === 2))
    DedupIndexStore.applyDelta(spark, dir, oldDocs.filter(col("doc_id") % 5 === 3))
    DedupIndexStore.gc(dir, 2L, retain = 1)
    assert(DedupIndexStore.listEpochs(dir) == Seq(2L))
    val m = DedupIndexStore.open(dir)
    val onDisk = for {
      bd <- Option(new java.io.File(dir).listFiles()).toSeq.flatten
        if bd.isDirectory && bd.getName.matches("b\\d+")
      ed <- Option(bd.listFiles()).toSeq.flatten if ed.getName.matches("e\\d+")
    } yield s"${bd.getName}/${ed.getName}"
    assert(onDisk.toSet == m.buckets.values.toSet,
      s"unreferenced bucket dirs survive GC: ${onDisk.toSet -- m.buckets.values.toSet}")
    // registry segments are append-only: the live manifest references
    // all three, so all three survive and resolve
    assert(m.docs == Seq("docs/e0", "docs/e1", "docs/e2"))
    m.docs.foreach(rel => assert(new java.io.File(dir, rel).exists()))
    assert(pairKey(DedupIndexStore.nearDups(spark, dir, m, batchDocs)) ==
      expectedPairs(oldDocs, batchDocs))
  }

  test("default retention: RetainEpochs + 2 deltas keep the last RetainEpochs epochs; swept bucket dirs are gone") {
    val dir = Fs.scratchDir("dis_retain").toString
    val n = DedupIndexStore.RetainEpochs + 2
    val m0 = DedupIndexStore.build(oldDocs.filter(col("doc_id") % 5 < 2), dir)
    // n disjoint insert batches, no retain argument → epochs 1..n
    val fresh = oldDocs.filter(col("doc_id") % 5 >= 2)
    val refs = m0.buckets.values.toSet ++ (0 until n).flatMap { i =>
      DedupIndexStore.applyDelta(spark, dir,
        fresh.filter(pmod(xxhash64(col("doc_id")), lit(n.toLong)) === i))
        .manifest.buckets.values
    }
    val kept = (n - DedupIndexStore.RetainEpochs + 1 to n).map(_.toLong)
    assert(DedupIndexStore.listEpochs(dir) == kept)
    val live = kept.flatMap(e => DedupIndexStore.openAt(dir, e).buckets.values).toSet
    val swept = refs -- live
    assert(swept.nonEmpty, "the deltas rewrote no bucket an evicted epoch referenced")
    swept.foreach(rel => assert(!new java.io.File(dir, rel).exists(), s"$rel survives GC"))
    live.foreach(rel => assert(new java.io.File(dir, rel).exists(), s"$rel swept while live"))
  }

  test("compaction squashes registry segments: same pairs, fewer leaf reads, snapshots intact") {
    val dir = Fs.scratchDir("dis_compact").toString
    DedupIndexStore.build(oldDocs.filter(col("doc_id") % 5 < 2), dir)
    DedupIndexStore.applyDelta(spark, dir, oldDocs.filter(col("doc_id") % 5 === 2))
    val pre = DedupIndexStore.applyDelta(spark, dir, oldDocs.filter(col("doc_id") % 5 === 3))
    assert(pre.manifest.docs.size == 3)
    val (_, preDiag) = DedupIndexStore.nearDupsDiag(spark, dir, pre.manifest, batchDocs)
    val expected = expectedPairs(oldDocs, batchDocs)

    val m2 = DedupIndexStore.compact(spark, dir)
    assert(m2.docs.size == 1 && m2.nDocs == pre.manifest.nDocs)
    assert(m2.buckets == pre.manifest.buckets, "compaction must not touch postings")
    val (served, postDiag) = DedupIndexStore.nearDupsDiag(spark, dir, m2, batchDocs)
    assert(pairKey(served) == expected, "compaction changed the served answer")
    // the same candidate set now resolves through a third of the leaf
    // dirs (3 segments -> 1)
    assert(postDiag.registryPaths.nonEmpty &&
      postDiag.registryPaths.size * 3 == preDiag.registryPaths.size,
      s"expected 3x fewer registry leaf reads, got ${preDiag.registryPaths.size} -> " +
        s"${postDiag.registryPaths.size}")
    // the pre-compaction epoch still time-travels through its own segments
    val atPre = DedupIndexStore.withSnapshot(dir, pre.manifest.epoch) { mPre =>
      pairKey(DedupIndexStore.nearDups(spark, dir, mPre, batchDocs))
    }
    assert(atPre == expected)
    // retain=1 GC after one more maintenance commit sweeps the old segments
    val head = DedupIndexStore.applyDelta(spark, dir,
      spark.range(1).select(lit(2000000L).as("doc_id"),
        lit("a single fresh appended document with plenty of words").as("text")))
      .manifest.epoch
    DedupIndexStore.gc(dir, head, retain = 1)
    val segDirs = Option(new java.io.File(dir, "docs").listFiles()).toSeq.flatten
      .map(_.getName).sorted
    assert(segDirs == Seq("e3", "e4"),
      s"pre-compaction segments survive a retain=1 GC: $segDirs")
  }

  test("exact delete: victims' postings physically gone, survivors' pairs untouched") {
    val dir = Fs.scratchDir("dis_del").toString
    val m0 = DedupIndexStore.build(oldDocs, dir)
    val victims = oldDocs.filter(col("doc_id") % 3 === 1)
    val survivors = oldDocs.filter(col("doc_id") % 3 =!= 1)
    val full = expectedPairs(oldDocs, batchDocs)
    val kept = expectedPairs(survivors, batchDocs)
    assert(full != kept, "no victim participated in any pair - the delete test is vacuous")
    val commit = DedupIndexStore.applyDelete(spark, dir, victims.select(col("doc_id")))
    assert(commit.nDeleted == victims.count())
    assert(commit.manifest.nDocs == m0.nDocs - commit.nDeleted)
    assert(commit.manifest.dels == Seq("dels/e1"))
    // registry segments untouched (immutable, shared with snapshots)
    assert(commit.manifest.docs == m0.docs)
    // not a single victim posting survives in ANY live bucket
    val liveBuckets = commit.manifest.buckets.values.map(rel => s"$dir/$rel").toSeq
    val stale = spark.read.parquet(liveBuckets: _*)
      .join(victims.select(col("doc_id")), "doc_id").count()
    assert(stale == 0L, s"$stale victim postings survive the delete")
    // ...and serving needs no filtering: pairs == brute force over survivors
    assert(pairKey(DedupIndexStore.nearDups(spark, dir, commit.manifest, batchDocs))
      == kept, "served pairs after delete drifted from the surviving-corpus truth")
  }

  test("single-flip update: ONE epoch, old postings physically gone, equals fresh build over updated corpus") {
    val dir = Fs.scratchDir("dis_upd").toString
    val m0 = DedupIndexStore.build(oldDocs, dir)
    def retext(tag: String) = oldDocs.filter(col("doc_id") % 9 === 2)
      .select(col("doc_id"),
        concat(lit(s"$tag entirely new content alpha beta gamma delta epsilon "),
          (col("doc_id") % 5).cast("string")).as("text"))
    val upd = retext("rewritten")
    val updatedCorpus = oldDocs.filter(col("doc_id") % 9 =!= 2).unionByName(upd)
    val before = expectedPairs(oldDocs, batchDocs)
    val after = expectedPairs(updatedCorpus, batchDocs)
    assert(before != after, "no updated doc participated in any pair - vacuous")
    val commit = DedupIndexStore.applyUpdate(spark, dir, upd)
    // ONE manifest flip, same doc population, no delete marker
    assert(commit.manifest.epoch == m0.epoch + 1, "update took more than one epoch")
    assert(commit.manifest.nDocs == m0.nDocs)
    assert(commit.manifest.dels.isEmpty, "update recorded a delete marker")
    // the old versions' postings are physically gone from live buckets:
    // every surviving posting of an updated doc re-derives from its NEW
    // shingles (checked via the from-scratch pair truth below), and the
    // served screen equals a fresh build over the updated corpus
    assert(pairKey(DedupIndexStore.nearDups(spark, dir, commit.manifest, batchDocs))
      == after, "served pairs after update drifted from the updated-corpus truth")
    // last-wins registry: updating the SAME docs again works (one more
    // flip), and a later delete re-derives postings from the CURRENT
    // version — both the old 3-epoch dance's blockers, lifted
    val again = DedupIndexStore.applyUpdate(spark, dir, retext("twice"))
    assert(again.manifest.epoch == commit.manifest.epoch + 1)
    val del = DedupIndexStore.applyDelete(spark, dir,
      upd.select(col("doc_id")).limit(2))
    val liveBuckets = del.manifest.buckets.values.map(rel => s"$dir/$rel").toSeq
    val stale = spark.read.parquet(liveBuckets: _*)
      .join(upd.select(col("doc_id")).limit(2), "doc_id").count()
    assert(stale == 0L, s"$stale postings of deleted-after-update docs survive")
    // ...and compact squashes the three registry segments to one with
    // the update supersession made physical (count check inside)
    val mC = DedupIndexStore.compact(spark, dir)
    assert(mC.docs.size == 1)
  }

  test("reshard: 4x both fan-outs in one flip, same pairs, probes bounded under the new fan-outs, maintenance keeps working") {
    val dir = Fs.scratchDir("dis_reshard").toString
    val m0 = DedupIndexStore.build(oldDocs, dir)
    val before = pairKey(DedupIndexStore.nearDups(spark, dir, m0, batchDocs))
    val m1 = DedupIndexStore.reshard(spark, dir, 64, 64)
    assert(m1.epoch == m0.epoch + 1, "reshard took more than one epoch")
    assert(m1.numBuckets == 64 && m1.docBuckets == 64)
    assert(m1.nDocs == m0.nDocs)
    assert(m1.docs.size == 1, "registry must squash to one segment")
    // observationally a no-op, probed under the NEW fan-outs
    val (served, diag) = DedupIndexStore.nearDupsDiag(spark, dir, m1, batchDocs)
    assert(pairKey(served) == before, "reshard changed served pairs")
    assert(diag.probedBuckets.forall(b => b >= 0 && b < 64))
    // maintenance across the reshard: delta, update, delete all hash
    // under the manifest's new fan-outs
    import spark.implicits._
    val delta = DedupIndexStore.applyDelta(spark, dir,
      Seq((90000001L, "a brand new document appended after the reshard step")).toDF("doc_id", "text"))
    assert(delta.manifest.nDocs == m1.nDocs + 1)
    val one = oldDocs.select(col("doc_id")).orderBy(col("doc_id")).limit(1)
    val upd = DedupIndexStore.applyUpdate(spark, dir,
      one.withColumn("text",
        lit("fully replaced content after reshard with enough words to shingle")))
    assert(upd.manifest.epoch == delta.manifest.epoch + 1)
    val del = DedupIndexStore.applyDelete(spark, dir, one)
    assert(del.manifest.nDocs == m1.nDocs)
  }

  test("update contract: unknown, deleted, and shingle-free updates fail loudly") {
    val dir = Fs.scratchDir("dis_updc").toString
    DedupIndexStore.build(oldDocs, dir)
    import spark.implicits._
    val unknown = intercept[IllegalArgumentException] {
      DedupIndexStore.applyUpdate(spark, dir,
        Seq((4L, "a batch doc not in the index")).toDF("doc_id", "text"))
    }
    assert(unknown.getMessage.contains("never indexed"))
    val someIds = oldDocs.select(col("doc_id")).orderBy(col("doc_id")).limit(2)
    DedupIndexStore.applyDelete(spark, dir, someIds)
    val deleted = intercept[IllegalArgumentException] {
      DedupIndexStore.applyUpdate(spark, dir,
        someIds.withColumn("text", lit("resurrect attempt")))
    }
    assert(deleted.getMessage.contains("deleted"))
    val liveId = oldDocs.select(col("doc_id")).orderBy(desc("doc_id")).limit(1)
    // a 2-word text has no 3-word shingle: token-free for this store
    val empty = intercept[IllegalArgumentException] {
      DedupIndexStore.applyUpdate(spark, dir,
        liveId.withColumn("text", lit("too short")))
    }
    assert(empty.getMessage.contains("no"))
  }

  test("delete contract: unknown/double deletes loud; re-insert blocked until compact purges") {
    val dir = Fs.scratchDir("dis_delc").toString
    DedupIndexStore.build(oldDocs, dir)
    import spark.implicits._
    val unknown = intercept[IllegalArgumentException] {
      // % 5 = 4 ids are the batch side - never indexed
      DedupIndexStore.applyDelete(spark, dir,
        batchDocs.select(col("doc_id")).orderBy(col("doc_id")).limit(2))
    }
    assert(unknown.getMessage.contains("never indexed"))
    val someIds = oldDocs.select(col("doc_id")).orderBy(col("doc_id")).limit(3)
    val some = oldDocs.join(someIds, "doc_id")
    DedupIndexStore.applyDelete(spark, dir, someIds)
    val twice = intercept[IllegalArgumentException] {
      DedupIndexStore.applyDelete(spark, dir, someIds)
    }
    assert(twice.getMessage.contains("already deleted"))
    // registry rows persist until compact, so re-insert stays blocked
    val reins = intercept[IllegalArgumentException] {
      DedupIndexStore.applyDelta(spark, dir, some)
    }
    assert(reins.getMessage.contains("append-only"))
    // the purge frees the ids: postings were already gone, registry
    // rows drop now, and the re-insert lands as 3 new docs
    val mC = DedupIndexStore.compact(spark, dir)
    assert(mC.dels.isEmpty)
    val regPost = spark.read.parquet(
      mC.docs.map(rel => s"$dir/$rel"): _*)
    assert(regPost.join(someIds, "doc_id").count() == 0L,
      "purged registry still carries deleted docs")
    val back = DedupIndexStore.applyDelta(spark, dir, some)
    assert(back.manifest.nDocs == mC.nDocs + 3,
      "re-insert after purge did not land as 3 new docs")
  }

  test("time travel across the delete: the pre-delete epoch still pairs against victims") {
    val dir = Fs.scratchDir("dis_deltt").toString
    DedupIndexStore.build(oldDocs, dir)
    val full = expectedPairs(oldDocs, batchDocs)
    DedupIndexStore.applyDelete(spark, dir,
      oldDocs.filter(col("doc_id") % 3 === 1).select(col("doc_id")))
    val atZero = DedupIndexStore.withSnapshot(dir, 0L) { m0 =>
      pairKey(DedupIndexStore.nearDups(spark, dir, m0, batchDocs))
    }
    assert(atZero == full, "epoch-0 snapshot no longer serves pre-delete pairs")
    val live = pairKey(DedupIndexStore.nearDups(spark, dir,
      DedupIndexStore.open(dir), batchDocs))
    assert(live != full, "delete was a no-op - the time-travel test is vacuous")
  }

  test("fan-outs are persisted build parameters: non-default builds screen/delta/delete identically") {
    // probe-time hashing (band-key buckets AND registry dbuckets) must
    // come from the MANIFEST, never the compile-time defaults — an
    // index built at (8, 4) has to screen exactly like the default
    // build through every lifecycle step
    val dir = Fs.scratchDir("dis_fan").toString
    val half = oldDocs.filter(col("doc_id") % 5 < 2)
    val rest = oldDocs.filter(col("doc_id") % 5 >= 2)
    val m0 = DedupIndexStore.build(half, dir, numBuckets = 8, docBuckets = 4)
    assert(m0.numBuckets == 8 && m0.docBuckets == 4,
      "build did not record its fan-outs")
    val mOpen = DedupIndexStore.open(dir)
    assert(mOpen.numBuckets == 8 && mOpen.docBuckets == 4,
      "manifest round-trip lost the fan-outs")
    assert(m0.buckets.keySet.forall(b => b >= 0 && b < 8))
    val c = DedupIndexStore.applyDelta(spark, dir, rest)
    assert(pairKey(DedupIndexStore.nearDups(spark, dir, c.manifest, batchDocs)) ==
      expectedPairs(oldDocs, batchDocs),
      "fan-out-(8,4) index diverged from brute force after delta")
    // exact delete re-derives victims' postings under the MANIFEST
    // fan-out (default-hashed rederivation would miss their buckets)
    val victims = oldDocs.filter(col("doc_id") % 7 === 3)
    DedupIndexStore.applyDelete(spark, dir, victims.select(col("doc_id"))): Unit
    val mC = DedupIndexStore.compact(spark, dir)
    assert(mC.numBuckets == 8 && mC.docBuckets == 4,
      "lifecycle steps dropped the fan-outs")
    val survivors = oldDocs.filter(col("doc_id") % 7 =!= 3)
    assert(pairKey(DedupIndexStore.nearDups(spark, dir, mC, batchDocs)) ==
      expectedPairs(survivors, batchDocs),
      "fan-out-(8,4) post-delete screen diverged from survivor brute force")
    // legacy manifests (no fan-out fields) parse to the historical 16s
    val legacy = Fs.scratchDir("dis_fanlegacy").toString
    DedupIndexStore.build(half, legacy): Unit
    val p = java.nio.file.Paths.get(legacy, "_manifest.json")
    val stripped = java.nio.file.Files.readString(p)
      .replaceFirst(""""numBuckets":\d+,"docBuckets":\d+,""", "")
    java.nio.file.Files.writeString(p, stripped)
    val mL = DedupIndexStore.open(legacy)
    assert(mL.numBuckets == DedupIndexStore.NumBuckets &&
      mL.docBuckets == DedupIndexStore.DocBuckets,
      "legacy manifest must default to the historical fan-outs")
  }

  test("an empty batch serves an empty, well-typed result") {
    val dir = Fs.scratchDir("dis_empty").toString
    DedupIndexStore.build(oldDocs.limit(50), dir)
    val served = DedupIndexStore.nearDups(spark, dir, DedupIndexStore.open(dir),
      docs.limit(0))
    assert(served.columns.toSeq == Seq("doc_new", "doc_old", "jac_e6"))
    assert(served.count() == 0L)
  }

  test("applyDeltaIdempotent: a replayed batch no-ops, a batch gap fails loudly") {
    val dir = Fs.scratchDir("dis_idem").toString
    DedupIndexStore.build(oldDocs.filter(col("doc_id") % 2 === 0), dir)
    val delta = oldDocs.filter(col("doc_id") % 2 === 1)
    val m1 = DedupIndexStore.applyBatch(dir, batchId = 0L)(DedupIndexStore.applyDelta(spark, dir, delta))
    assert(m1.epoch == 1L)
    val before = pairKey(
      DedupIndexStore.nearDups(spark, dir, m1, batchDocs))
    // the at-least-once REPLAY: same batch id again — must not
    // double-apply (a blind applyDelta would trip its own clash check,
    // crashing the stream; the gate no-ops instead)
    val m1b = DedupIndexStore.applyBatch(dir, batchId = 0L)(DedupIndexStore.applyDelta(spark, dir, delta))
    assert(m1b.epoch == 1L, "replayed batch must not advance the epoch")
    assert(pairKey(DedupIndexStore.nearDups(spark, dir,
      DedupIndexStore.open(dir), batchDocs)) == before,
      "replayed batch must leave the served screen identical")
    // a GAP (skipped batch) must fail pointedly, never index around a hole
    val err = intercept[RuntimeException](
      DedupIndexStore.applyBatch(dir, batchId = 5L)(DedupIndexStore.applyDelta(spark, dir, delta)))
    assert(err.getMessage.contains("gap"), err.getMessage)
  }

  test("streaming ingest: one epoch per micro-batch, restart fires zero batches, screen equals brute force") {
    val root = Fs.scratchDir("dis_ing").toString
    var batches = List.empty[Long]
    val idx = streaming.StreamingOps.runDedupIngest(spark, sf, root,
      onBatch = id => batches ::= id)
    assert(batches.sorted == (0L until streaming.StreamingOps.FeedBatches),
      s"expected one micro-batch per delta file, got $batches")
    val m = DedupIndexStore.open(idx)
    assert(m.epoch == streaming.StreamingOps.FeedBatches.toLong,
      "each micro-batch must commit exactly one index epoch")
    // the stream-assembled index screens exactly like brute force over
    // the full OLD corpus (a third derivation vs store and oracle)
    assert(pairKey(DedupIndexStore.nearDups(spark, idx, m, batchDocs)) ==
      expectedPairs(oldDocs, batchDocs),
      "stream-assembled index must screen like a batch build over the old corpus")
    // RESTART against the drained checkpoint: zero batches fire, epoch unchanged
    var restart = 0
    streaming.StreamingOps.runDedupIngest(spark, sf, root,
      onBatch = _ => restart += 1)
    assert(restart == 0, "restart of a drained stream must fire no batches")
    assert(DedupIndexStore.open(idx).epoch ==
      streaming.StreamingOps.FeedBatches.toLong)
  }
}
