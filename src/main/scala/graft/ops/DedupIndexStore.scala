package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ManifestIo.publishPartitions
import java.nio.file.Paths

/** Durable, versioned NEAR-DUP (MinHash-LSH) index — the third member
  * of the durable-index family ([[AnnIndexStore]] for vectors,
  * [[TextIndexStore]] for BM25): with all three on disk, every
  * retrieval/curation primitive that probes the corpus — semantic
  * search, lexical search, and daily near-dup screening — serves from
  * persisted artifacts with batch-proportional work at query time.
  *
  * The production shape this closes: [[DedupOps.d_dedup_incremental]]
  * proves daily dedup is O(batch) when the corpus side is an INDEX —
  * but an in-session index is rebuilt every day, a corpus-sized job at
  * 100 TB. This store persists the two artifacts that computation
  * needs, under the same atomic-manifest-flip commit discipline as its
  * two siblings:
  *
  * {{{
  *   dir/
  *     _manifest.json       current-epoch pointer (atomic replace)
  *     _manifest-eN.json    immutable snapshot: {epoch, nDocs,
  *                          buckets: {K -> "bK/eM"}, docs: ["docs/e0", ...]}
  *     bK/eM/  (parquet)    band-key bucket K's LSH postings as of
  *                          epoch M: (band, key, doc_id, sfull, bucket)
  *     docs/eM/ (parquet)   the shingle-registry SEGMENT appended by
  *                          epoch M, partitioned by dbucket=K:
  *                          (doc_id, sh) — the exact-verify corpus
  *     dels/eM/ (parquet)   doc_ids deleted at epoch M ([[applyDelete]]
  *                          removes their postings EXACTLY; the marker
  *                          guards double-deletes and drives the
  *                          registry purge at [[compact]])
  * }}}
  *
  *   - POSTINGS are the corpus's banded MinHash keys (the same
  *     [[DedupOps.bandedKeys]] derivation as the in-session
  *     [[DedupOps.lshCandidates]]): a batch probes by computing ITS
  *     OWN band keys (a batch-sized job) and equi-joining ONLY the
  *     fan-out-hashed posting buckets those keys live in (explicit
  *     manifest paths, never listing). Both fan-outs are [[build]]
  *     parameters RECORDED IN THE MANIFEST — probes, deltas, and
  *     deletes all hash under the index's own fan-out, so re-tuning
  *     the defaults never mis-routes reads against existing epochs. The over-cap skew
  *     guard carries over: a (band, key) wider than
  *     [[DedupOps.LshBucketCap]] in the index pairs on full-signature
  *     equality (`sfull`) only — the exact-dup route, linear in true
  *     duplicates; a hot key's NEAR-dups (unequal signatures) still
  *     get their 15 other bands, the same no-signal argument as the
  *     in-session cap. Inert at fixture scale (no over-cap buckets),
  *     exercised directly by the spec's planted 150-copy corpus.
  *   - The REGISTRY holds each indexed doc's shingle set — candidate
  *     verification needs exact Jaccard, and re-shingling the corpus
  *     per batch would be the corpus-sized job this store exists to
  *     avoid. It is hash-partitioned by `dbucket`; serve materializes
  *     the (batch-proportional, two-longs-per-row) candidate set once
  *     via `localCheckpoint`, collects its ≤ docBuckets distinct
  *     `dbucket` ids (a bounded driver list, same shape as the IVF
  *     cell probe), and reads ONLY those leaf partition dirs —
  *     path-level pruning that holds by construction rather than by
  *     an optimizer rule firing.
  *   - [[applyDelta]] is INSERT-ONLY maintenance (same contract and
  *     same loud check as the text index): the batch's postings merge
  *     into only the affected buckets, the registry gains one appended
  *     segment, one atomic flip, retention GC. Serving after a delta
  *     is provably identical to a fresh build over the unioned corpus
  *     ([[DedupOps.d_dedup_index_delta]] hash-checks exactly that
  *     against DuckDB's from-scratch replay). [[applyDelete]] removes
  *     docs EXACTLY in batch-proportional work (the registry's shingle
  *     sets re-derive the victims' postings — no tombstone filtering
  *     at serve time), and [[compact]] purges the dead registry rows.
  *   - Retention GC + [[withSnapshot]] leases mirror the other two
  *     stores via [[graft.EpochGuard]]; [[openAt]] time-travels.
  */
object DedupIndexStore extends graft.EpochStore("dedup index", "b\\d+|docs|dels") {
  import graft.Fs.deleteRecursively

  /** Default band-key-hash posting fan-out at fixture scale (thousands
    * in production — the unit of delta-merge work and of probe-time
    * read amplification, same dial as the text index). The REAL dial
    * is a [[build]] parameter persisted in the manifest — every probe,
    * delta, and delete hashes under the fan-out the index was built
    * with, never under this constant, so re-tuning the default cannot
    * silently mis-route probes against existing epochs. */
  val NumBuckets = 16

  /** Default registry hash-partition fan-out — the unit of verify-time
    * partition pruning. Also a [[build]] parameter persisted in the
    * manifest, for the same version-safety reason. */
  val DocBuckets = 16

  /** Production sizing (same ~√nDocs power-of-two rule as
    * [[TextIndexStore.suggestedBuckets]], same rationale). */
  def suggestedBuckets(nDocs: Long): Int = TextIndexStore.suggestedBuckets(nDocs)

  /** Bumps ONLY when [[build]] runs a corpus job — the spec's
    * zero-recompute proof reads it around a second-session serve. */
  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicLong

  case class DedupManifest(epoch: Long, nDocs: Long,
                           buckets: Map[Int, String], docs: Seq[String],
                           dels: Seq[String] = Nil,
                           numBuckets: Int = NumBuckets,
                           docBuckets: Int = DocBuckets)
    extends graft.EpochStore.Versioned

  // ------------------------------------------------------ manifest io

  // open/openAt/withSnapshot/listEpochs/commit/gc: graft.EpochStore.
  // Registry segments are append-only and referenced by every later
  // manifest's prefix, so a segment is deletable only when NO retained
  // manifest lists it — exactly the shared GC rule.
  type M = DedupManifest
  protected def manifestType = manifest[M]
  protected def referenced(m: DedupManifest) = m.buckets.values ++ m.docs ++ m.dels

  // ----------------------------------------------------------- build

  private def bandBucket(band: org.apache.spark.sql.Column,
                         key: org.apache.spark.sql.Column, fanOut: Int) =
    pmod(xxhash64(band, key), lit(fanOut.toLong)).cast("int")

  private def docBucket(docId: org.apache.spark.sql.Column, fanOut: Int) =
    pmod(xxhash64(docId), lit(fanOut.toLong)).cast("int")

  /** (band, key, doc_id, sfull, bucket) LSH postings of pre-shingled
    * (doc_id, sh) rows — signatures via the codegen'd MinHash
    * expression, band keys via [[DedupOps.bandedKeys]], bucket as a
    * narrow hash at the index's OWN fan-out (build parameter /
    * manifest field). */
  private def postingsOf(sh: DataFrame, fanOut: Int): DataFrame =
    DedupOps.bandedKeys(DedupOps.signatureRows(sh))
      .withColumn("bucket", bandBucket(col("band"), col("key"), fanOut))
      .select(col("band"), col("key"), col("doc_id"), col("sfull"), col("bucket"))

  /** Shingle-registry rows: docs with ≥1 shingle (an empty-shingle doc
    * has no signature and can never verify at Jaccard ≥ 0.5 — the same
    * filter the signature path applies). */
  private def registryRows(sh: DataFrame, docFanOut: Int): DataFrame =
    sh.filter(size(col("sh")) > 0)
      .withColumn("dbucket", docBucket(col("doc_id"), docFanOut))

  private def writeRegistrySegment(sh: DataFrame, dir: String, rel: String,
                                   docFanOut: Int): Long = {
    // repartition on the partition column: one file per leaf dir, not
    // tasks × fan-out (same small-file argument as ManifestIo
    // .publishPartitions)
    registryRows(sh, docFanOut).repartition(col("dbucket")).write.mode("overwrite")
      .partitionBy("dbucket").parquet(s"$dir/$rel")
    // count folds the just-written parquet (metadata-sized read), not
    // a second pass over the shingling job
    sh.sparkSession.read.parquet(s"$dir/$rel").count()
  }

  /** Existing registry leaf dirs (`docs/eM/dbucket=K`) for the given
    * bucket ids across every segment — sibling partitioned roots can't
    * go through one multi-root read (Spark rejects the conflicting
    * structure), and explicit leaves double as the serve-time pruning
    * mechanism. */
  private def registryLeafPaths(dir: String, m: DedupManifest,
                                buckets: Seq[Int]): Seq[String] =
    for {
      rel <- m.docs
      b <- buckets
      p = s"$dir/$rel/dbucket=$b"
      if new java.io.File(p).exists()
    } yield p

  /** The EFFECTIVE registry rows for the given dbuckets — per doc the
    * row from the LATEST segment wins: [[applyUpdate]] appends a
    * SUPERSEDING (doc_id, sh) row for an already-registered doc, and
    * segments are ordered by their epoch (parsed from the `docs/eN`
    * rel). For never-updated docs there is exactly one row and the
    * resolve short-circuits (single-segment fast path — the common
    * case costs what the raw read did). `restrictTo` (broadcast
    * semi-join per segment read) bounds the resolve to candidate
    * doc_ids so serve-time work stays batch-proportional. */
  private def latestRegistryRows(s: SparkSession, dir: String, m: DedupManifest,
                                 buckets: Seq[Int],
                                 restrictTo: Option[DataFrame]): DataFrame = {
    val perSeg = for {
      rel <- m.docs
      paths = buckets.map(b => s"$dir/$rel/dbucket=$b")
        .filter(p => new java.io.File(p).exists())
      if paths.nonEmpty
    } yield {
      val seg = s.read.parquet(paths: _*).select(col("doc_id"), col("sh"))
      val bounded = restrictTo.fold(seg)(ids =>
        seg.join(broadcast(ids), Seq("doc_id"), "left_semi"))
      bounded.withColumn("segE", lit(rel.stripPrefix("docs/e").toLong))
    }
    perSeg match {
      case Seq() =>
        s.emptyDataFrame.select(lit(0L).as("doc_id"),
          lit(null).cast("array<string>").as("sh")).limit(0)
      case Seq(one) => one.select(col("doc_id"), col("sh"))
      case many => many.reduce(_ unionByName _)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("segE"), col("sh"))).as("w"))
        .select(col("doc_id"), col("w.sh").as("sh"))
    }
  }

  /** Build epoch 0 from `docs` (doc_id, text). The only corpus-scanning
    * jobs of the index's life happen here and in [[applyDelta]]'s
    * batch-proportional merges. Both fan-outs are build parameters
    * PERSISTED in the manifest (size with [[suggestedBuckets]] at
    * scale); the compile-time defaults only seed new builds, never
    * probes. */
  def build(docs: DataFrame, dir: String,
            numBuckets: Int = NumBuckets,
            docBuckets: Int = DocBuckets): DedupManifest = locked(dir) {
    require(numBuckets > 0 && docBuckets > 0,
      s"fan-outs must be positive, got ($numBuckets, $docBuckets)")
    buildCount.incrementAndGet()
    val sh = DedupOps.shingled(docs).cache()
    try {
      val published = publishPartitions(
        postingsOf(sh, numBuckets), Paths.get(dir), 0L, "bucket", "b")
      val nDocs = writeRegistrySegment(sh, dir, "docs/e0", docBuckets)
      val m = DedupManifest(0L, nDocs, published, Seq("docs/e0"),
        numBuckets = numBuckets, docBuckets = docBuckets)
      commit(dir, m)
      m
    } finally { sh.unpersist(); () }
  }

  // ----------------------------------------------------------- serve

  /** Serve-side diagnostics the spec asserts on. */
  case class ServeDiag(probedBuckets: Seq[Int], postingPaths: Seq[String],
                       registryPaths: Seq[String] = Nil)

  /** Near-dup pairs of `batch` (doc_id, text) against the indexed
    * corpus, served from the persisted artifacts: the batch's own band
    * keys (batch-sized job) probe ONLY their posting buckets; exact
    * Jaccard ≥ 0.5 over the registry's shingle sets verifies every
    * candidate, with dynamic partition pruning bounding the registry
    * read by the candidates' `dbucket`s. Output (doc_new, doc_old,
    * jac_e6) — identical semantics to the from-scratch OLD × NEW
    * computation ([[DedupOps.d_dedup_served]] hash-checks that against
    * DuckDB), with zero corpus jobs at serve time. */
  def nearDups(s: SparkSession, dir: String, m: DedupManifest,
               batch: DataFrame): DataFrame = nearDupsDiag(s, dir, m, batch)._1

  private[graft] def nearDupsDiag(s: SparkSession, dir: String, m: DedupManifest,
                                  batch: DataFrame): (DataFrame, ServeDiag) = {
    val batchSh = DedupOps.shingled(batch)
    val bands = DedupOps.bandedKeys(DedupOps.signatureRows(batchSh))
      .withColumn("bucket", bandBucket(col("band"), col("key"), m.numBuckets))
    // bounded collect: distinct bucket ids, ≤ NumBuckets ints — the
    // same driver-side probe-list shape as the IVF cell probe
    val probed = bands.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val paths = probed.flatMap(m.buckets.get).map(rel => s"$dir/$rel")
    val empty = s.emptyDataFrame
      .select(lit(0L).as("doc_new"), lit(0L).as("doc_old"), lit(0L).as("jac_e6"))
      .limit(0)
    if (paths.isEmpty) return (empty, ServeDiag(probed, paths))

    // bucket width over the read postings (a probed bucket holds ALL
    // postings for its keys, so the window df is the index-wide width)
    val idx = s.read.parquet(paths: _*)
      .withColumn("bdf", count(lit(1)).over(Window.partitionBy(col("band"), col("key"))))
    val q = broadcast(bands
      .select(col("doc_id").as("doc_new"), col("sfull").as("qfull"),
        col("band"), col("key")))
    val under = idx.filter(col("bdf") <= DedupOps.LshBucketCap)
      .join(q, Seq("band", "key"))
    val over = idx.filter(col("bdf") > DedupOps.LshBucketCap)
      .join(q, Seq("band", "key")).filter(col("sfull") === col("qfull"))
    // the candidate set is batch-proportional and two longs wide:
    // materialize it ONCE (localCheckpoint truncates lineage, so the
    // bounded dbucket collect below doesn't re-run the probe join)
    val pairs = under.unionByName(over)
      .select(col("doc_new"), col("doc_id").as("doc_old")).distinct()
      .withColumn("dbucket", docBucket(col("doc_old"), m.docBuckets))
      .localCheckpoint()

    // exact-Jaccard verify: candidate old docs' shingles from ONLY the
    // registry leaf dirs holding a candidate (bounded driver list,
    // path-level pruning), batch docs' shingles recomputed in-batch
    val candBuckets = pairs.select(col("dbucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val regPaths = registryLeafPaths(dir, m, candBuckets)
    if (regPaths.isEmpty) return (empty, ServeDiag(probed, paths, regPaths))
    // last-wins registry resolve, bounded to the candidate old docs
    // (single-segment indexes skip the resolve entirely)
    val reg = latestRegistryRows(s, dir, m, candBuckets,
      Some(pairs.select(col("doc_old").as("doc_id"))))
    val verified = reg.join(broadcast(pairs), reg("doc_id") === pairs("doc_old"))
      .select(col("doc_new"), col("doc_old"), reg("sh").as("sha"))
      .join(broadcast(batchSh.select(col("doc_id").as("doc_new"), col("sh").as("shb"))),
        "doc_new")
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("u", size(col("sha")) + size(col("shb")) - col("c"))
      .filter(col("c") * lit(2) >= col("u")) // c/u >= 0.5, integer-exact
      .select(col("doc_new"), col("doc_old"),
        round(lit(1000000.0) * col("c") / col("u")).cast("long").as("jac_e6"))
    (verified, ServeDiag(probed, paths, regPaths))
  }

  // ----------------------------------------------- incremental delta

  /** Outcome of one append commit, with the diagnostics the spec
    * asserts on (affected buckets; posting paths the merge read). */
  case class DeltaCommit(manifest: DedupManifest, affected: Seq[Int],
                         readPaths: Seq[String])

  /** Append `newDocs` (doc_id, text) to the live index. INSERT-ONLY by
    * contract: a doc_id already in the registry fails loudly — even a
    * deleted one, whose registry rows persist until [[compact]] purges
    * them (the delete → compact → insert update lifecycle shared with
    * the text index; removal itself is [[applyDelete]]). Work is
    * batch-proportional: only the buckets the batch's band keys hash
    * into are read and merged, the registry gains one APPENDED
    * segment, one atomic flip commits, retention GC runs. */
  def applyDelta(s: SparkSession, dir: String,
                 newDocs: DataFrame): DeltaCommit = advance(dir) { (m, next) =>
    val sh = DedupOps.shingled(newDocs).cache()
    try {
      val regPaths = registryLeafPaths(dir, m, 0 until m.docBuckets)
      val clash =
        if (regPaths.isEmpty) 0L
        else sh.select(col("doc_id")).distinct()
          .join(s.read.parquet(regPaths: _*).select(col("doc_id")), "doc_id")
          .limit(1).count()
      require(clash == 0L,
        s"applyDelta is append-only: batch contains doc_ids already indexed at $dir")

      val rows = postingsOf(sh, m.numBuckets)
      val affected = rows.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val readPaths = affected.flatMap(m.buckets.get).map(rel => s"$dir/$rel")
      val oldAffected =
        if (readPaths.nonEmpty) s.read.parquet(readPaths: _*)
        else s.emptyDataFrame.select(lit(0).as("band"), lit(0L).as("key"),
          lit(0L).as("doc_id"), lit(0L).as("sfull"), lit(0).as("bucket")).limit(0)
      val merged = oldAffected
        .select(col("band"), col("key"), col("doc_id"), col("sfull"), col("bucket"))
        .unionByName(rows)
      val published = publishPartitions(merged, Paths.get(dir), next, "bucket", "b")

      val added = writeRegistrySegment(sh, dir, s"docs/e$next", m.docBuckets)
      // m.dels carries forward: an insert epoch keeps pending deletes
      // pending (they resolve at compact)
      val m2 = DedupManifest(next, m.nDocs + added, m.buckets ++ published,
        m.docs :+ s"docs/e$next", m.dels, m.numBuckets, m.docBuckets)
      (m2, DeltaCommit(m2, affected, readPaths))
    } finally { sh.unpersist(); () }
  }

  // --------------------------------------------------- single-flip update

  /** Outcome of one update commit (ONE epoch advanced; the posting
    * buckets rewritten — old keys' ∪ new keys'). */
  case class UpdateCommit(manifest: DedupManifest, affected: Seq[Int])

  /** SINGLE-FLIP content UPDATE of LIVE indexed docs — the dedup twin
    * of [[TextIndexStore.applyUpdate]], and like [[applyDelete]] it is
    * EXACT in batch-proportional work because the registry holds each
    * doc's shingles: the old signature re-derives from the registered
    * shingles (the same deterministic [[postingsOf]] pipeline that
    * placed it), locating every posting the old version owns, so ONLY
    * the buckets under the old keys ∪ the new keys are read,
    * anti-joined of the updated docs, merged with the new versions'
    * postings, and republished. The registry gains one SUPERSEDING
    * segment (last-wins — [[latestRegistryRows]] resolves every read;
    * [[compact]] makes the supersession physical). nDocs is unchanged;
    * one atomic flip commits, so a prober sees entirely-old or
    * entirely-new, never a doc half replaced.
    * [[DedupOps.d_dedup_updated]] hash-checks serve-after-update ≡ the
    * from-scratch OLD×NEW replay over the UPDATED corpus.
    *
    * Contract: every doc_id must be currently indexed and not deleted
    * (updating a deleted doc is a re-insert — after [[compact]], as
    * before), and must shingle to ≥1 shingle (an update-to-empty is a
    * delete). */
  def applyUpdate(s: SparkSession, dir: String,
                  updDocs: DataFrame): UpdateCommit = advance(dir) { (m, next) =>
    val newSh = DedupOps.shingled(updDocs).cache()
    try {
      val ids = updDocs.select(col("doc_id")).distinct()
        .withColumn("dbucket", docBucket(col("doc_id"), m.docBuckets))
      val vBuckets = ids.select(col("dbucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val oldSh = latestRegistryRows(s, dir, m, vBuckets,
        Some(ids.select(col("doc_id")))).cache()
      try {
        val (nBatch, nFound) =
          (ids.count(), oldSh.select(col("doc_id")).distinct().count())
        require(nFound == nBatch,
          s"update batch names ${nBatch - nFound} doc_ids never indexed at $dir")
        if (m.dels.nonEmpty) {
          val already = ids.join(
            s.read.parquet(m.dels.map(rel => s"$dir/$rel"): _*), "doc_id")
            .limit(1).count()
          require(already == 0L,
            s"update batch contains deleted doc_ids at $dir — a deleted " +
              "doc is re-inserted (after compact), not updated")
        }
        val nonEmpty = newSh.filter(size(col("sh")) > 0)
          .select(col("doc_id")).distinct().count()
        require(nonEmpty == nBatch,
          s"update batch contains ${nBatch - nonEmpty} docs with no " +
            "shingles — an update-to-empty is a delete (applyDelete), not an update")

        val newPost = postingsOf(newSh, m.numBuckets)
        val affected = postingsOf(oldSh, m.numBuckets).select(col("bucket"))
          .unionByName(newPost.select(col("bucket")))
          .distinct().collect().map(_.getInt(0)).toSeq.sorted
        val readPaths = affected.flatMap(m.buckets.get).map(rel => s"$dir/$rel")
        val cleaned =
          if (readPaths.nonEmpty) s.read.parquet(readPaths: _*)
            .join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"), "left_anti")
            .select(col("band"), col("key"), col("doc_id"), col("sfull"), col("bucket"))
          else newPost.limit(0)
        val published = publishPartitions(
          cleaned.unionByName(newPost), Paths.get(dir), next, "bucket", "b")
        writeRegistrySegment(newSh, dir, s"docs/e$next", m.docBuckets): Unit
        // a bucket emptied by the update drops from the manifest
        val m2 = DedupManifest(next, m.nDocs, (m.buckets -- affected) ++ published,
          m.docs :+ s"docs/e$next", m.dels, m.numBuckets, m.docBuckets)
        (m2, UpdateCommit(m2, affected))
      } finally { oldSh.unpersist(); () }
    } finally { newSh.unpersist(); () }
  }

  // --------------------------------------------------------- deletes

  /** Outcome of one delete commit, with the diagnostics the spec
    * asserts on (posting buckets the victims' keys hash into — the
    * only buckets rewritten). */
  case class DeleteCommit(manifest: DedupManifest, nDeleted: Long,
                          affected: Seq[Int])

  /** Delete documents EXACTLY, in batch-proportional work — this store
    * can do better than the text index's tombstone-only serve because
    * the registry holds each victim's shingle set: re-deriving the
    * MinHash signature from those shingles (the same deterministic
    * [[postingsOf]] pipeline that placed them) locates every posting
    * the victim owns, so ONLY the buckets its band keys hash into are
    * read, anti-joined, and republished — after the flip the victim
    * cannot appear as a candidate, with zero serve-time filtering.
    * The registry rows themselves are left in place (segments are
    * immutable and shared with retained snapshots) and recorded in a
    * `dels/eN` marker segment: they are unreachable at serve time — a
    * candidate must first match a posting — and [[compact]] purges
    * them physically, at which point the doc_id becomes re-insertable
    * (the same delete → compact → insert update lifecycle as the text
    * index). Unknown or already-deleted doc_ids fail loudly. */
  def applyDelete(s: SparkSession, dir: String,
                  delDocs: DataFrame): DeleteCommit = advance(dir) { (m, next) =>
    val ids = delDocs.select(col("doc_id")).distinct()
      .withColumn("dbucket", docBucket(col("doc_id"), m.docBuckets))
    // victims' shingles from ONLY their registry leaf dirs (bounded
    // driver list — the same path-pruning shape as the serve verify)
    val vBuckets = ids.select(col("dbucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val regPaths = registryLeafPaths(dir, m, vBuckets)
    require(regPaths.nonEmpty, s"delete batch names doc_ids never indexed at $dir")
    // last-wins resolve: a doc updated since its insert re-derives its
    // postings from the CURRENT shingles (the only postings that exist)
    val victims = latestRegistryRows(s, dir, m, vBuckets,
      Some(ids.select(col("doc_id")))).cache()
    try {
      val (nBatch, nFound) =
        (ids.count(), victims.select(col("doc_id")).distinct().count())
      require(nFound == nBatch,
        s"delete batch names ${nBatch - nFound} doc_ids never indexed at $dir")
      if (m.dels.nonEmpty) {
        val already = ids.join(
          s.read.parquet(m.dels.map(rel => s"$dir/$rel"): _*), "doc_id")
          .limit(1).count()
        require(already == 0L,
          s"delete batch contains doc_ids already deleted at $dir")
      }
      // the victims' postings, re-derived from their registered
      // shingles — identical keys to the ones build/delta placed
      val affected = postingsOf(victims, m.numBuckets).select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val readPaths = affected.flatMap(m.buckets.get).map(rel => s"$dir/$rel")
      val cleaned = s.read.parquet(readPaths: _*)
        .join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"), "left_anti")
        .select(col("band"), col("key"), col("doc_id"), col("sfull"), col("bucket"))
      val published = publishPartitions(cleaned, Paths.get(dir), next, "bucket", "b")
      val rel = s"dels/e$next"
      ids.select(col("doc_id")).write.mode("overwrite").parquet(s"$dir/$rel")
      // a bucket emptied by the delete drops out of the manifest
      // entirely (published ⊆ affected)
      val m2 = DedupManifest(next, m.nDocs - nFound, (m.buckets -- affected) ++ published,
        m.docs, m.dels :+ rel, m.numBuckets, m.docBuckets)
      (m2, DeleteCommit(m2, nFound, affected))
    } finally { victims.unpersist(); () }
  }

  /** RESHARD both fan-outs behind ONE flip — the grow-path sibling of
    * [[TextIndexStore.reshard]]: posting rows re-hash from their
    * stored (band, key) at the new posting fan-out, and the registry
    * squashes into one segment re-partitioned at the new doc fan-out
    * (last-wins resolve collapses update-superseded rows; rows of
    * docs pending delete carry — they purge at [[compact]], exactly
    * as before). Nothing re-shingles, nothing re-signs: a corpus-sized
    * byte rewrite with zero corpus jobs, scheduled off-peak. Probes,
    * deltas, deletes, and updates all hash under the manifest's NEW
    * fan-outs afterwards ([[DedupOps.d_dedup_resharded]] hash-checks
    * the served screen unchanged). */
  def reshard(s: SparkSession, dir: String, newBuckets: Int,
              newDocBuckets: Int): DedupManifest = advance(dir) { (m, next) =>
    require(newBuckets > 0 && newDocBuckets > 0 &&
      (newBuckets != m.numBuckets || newDocBuckets != m.docBuckets),
      s"reshard wants new positive fan-outs, got ($newBuckets, $newDocBuckets) " +
        s"(index at (${m.numBuckets}, ${m.docBuckets}))")
    val rehashed = s.read.parquet(m.buckets.values.map(rel => s"$dir/$rel").toSeq: _*)
      .select(col("band"), col("key"), col("doc_id"), col("sfull"))
      .withColumn("bucket", bandBucket(col("band"), col("key"), newBuckets))
    val published = publishPartitions(rehashed, Paths.get(dir), next, "bucket", "b")
    val rel = s"docs/e$next"
    latestRegistryRows(s, dir, m, 0 until m.docBuckets, None)
      .withColumn("dbucket", docBucket(col("doc_id"), newDocBuckets))
      .repartition(col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket").parquet(s"$dir/$rel")
    val m2 = DedupManifest(next, m.nDocs, published, Seq(rel), m.dels,
      newBuckets, newDocBuckets)
    (m2, m2)
  }

  // ------------------------------------------------------- compaction

  /** Squash the registry's delta segments into ONE segment under a new
    * epoch — the Lucene segment-merge step of this store's lifecycle.
    * Every [[applyDelta]] appends a `docs/eM` segment, and serve-time
    * verify reads one leaf dir PER SEGMENT per candidate bucket, so a
    * year of daily deltas multiplies the verify read 365×; compaction
    * resets that to 1× with a corpus-sized rewrite the operator
    * schedules off-peak (amortized: postings are NOT rewritten — delta
    * merges already keep each bucket single-segment). The rewrite also
    * purges rows [[applyDelete]] marked (their postings are already
    * gone; this drops the unreachable registry bytes and frees the
    * doc_ids for re-insertion) and resets the `dels` list. Old epochs
    * keep their own segment lists, so retained snapshots still
    * time-travel; their segments are swept only when no retained
    * manifest lists them (the standard GC rule). Serving after
    * compaction is provably identical ([[DedupOps.d_dedup_compacted]]
    * hash-checks it against the same from-scratch DuckDB replay as the
    * other two witnesses). */
  def compact(s: SparkSession, dir: String): DedupManifest = advance(dir) { (m, next) =>
    val regPaths = registryLeafPaths(dir, m, 0 until m.docBuckets)
    require(regPaths.nonEmpty, s"nothing to compact at $dir (empty registry)")
    val dels =
      if (m.dels.isEmpty)
        s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
      else s.read.parquet(m.dels.map(rel => s"$dir/$rel"): _*)
    // leaf-dir reads drop the dbucket partition value, so it is
    // recomputed from doc_id (the same deterministic hash that placed
    // the row); the repartition keeps the rewrite at one file per
    // leaf dir instead of tasks × fan-out
    val rel = s"docs/e$next"
    // last-wins squash: update-superseded rows die here along with the
    // delete-marked ones — the post-compact registry is one live row
    // per doc, exactly what a fresh build would write
    latestRegistryRows(s, dir, m, 0 until m.docBuckets, None)
      .join(broadcast(dels), Seq("doc_id"), "left_anti")
      .withColumn("dbucket", docBucket(col("doc_id"), m.docBuckets))
      .repartition(col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket").parquet(s"$dir/$rel")
    // the squashed registry must land exactly on the incrementally
    // maintained doc count — a mismatch means a commit drifted
    val n = s.read.parquet(s"$dir/$rel").count()
    require(n == m.nDocs,
      s"compaction recomputed nDocs $n != manifest ${m.nDocs} at $dir")
    val m2 = DedupManifest(next, m.nDocs, m.buckets, Seq(rel), Nil,
      m.numBuckets, m.docBuckets)
    (m2, m2)
  }
}
