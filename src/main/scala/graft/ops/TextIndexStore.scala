package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ManifestIo.publishPartitions
import java.nio.file.Paths

/** Durable, versioned INVERTED text index — the lexical twin of
  * [[AnnIndexStore]], completing the hybrid-retrieval production story
  * ([[SimilarityOps.s_hybrid_rrf]]): with both stores on disk, BOTH
  * legs of a hybrid search serve from persisted artifacts with zero
  * corpus jobs at query time.
  *
  * A BM25 index is three corpus artifacts: posting lists (term →
  * (doc, tf)), vocabulary statistics (term → df), and the global
  * scalars (N, Σdl). Recomputing any of them per session is a
  * corpus-sized job at 100 TB; this store computes them once and
  * serves every later session from the persisted bytes, under the same
  * atomic-manifest-flip commit discipline as the ANN index and the
  * streaming upsert table:
  *
  * {{{
  *   dir/
  *     _manifest.json       current-epoch pointer (atomic replace)
  *     _manifest-eN.json    immutable snapshot: {epoch, nDocs, sumDl,
  *                          buckets: {K -> "bK/eM"}, stats: "stats/eM",
  *                          docs: ["docs/e0", ...]}   (time travel)
  *     bK/eM/  (parquet)    token-bucket K's postings as of epoch M:
  *                          (tok, doc_id, tf, dl)
  *     stats/eM/ (parquet)  vocabulary stats as of epoch M: (tok, df)
  *     docs/eM/  (parquet)  the doc registry SEGMENT appended by epoch
  *                          M: (doc_id, dl) — append-only, read only by
  *                          maintenance (delta disjointness check)
  *     dels/eM/  (parquet)  TOMBSTONE segment appended by a delete
  *                          epoch M: (doc_id) — anti-joined at serve
  *                          time, purged by [[compact]]
  * }}}
  *
  *   - Postings are DENORMALIZED with the document length (`dl`) —
  *     the Lucene norm-in-posting design — so serving never joins a
  *     corpus-sized doc-length table: a query reads the vocab-sized
  *     stats table plus ONLY the fan-out-hashed posting buckets its
  *     terms live in (explicit manifest paths, never listing). The
  *     fan-out itself is a [[build]] parameter RECORDED IN THE
  *     MANIFEST — probes, deltas, and deletes all hash under the
  *     index's own fan-out, so re-tuning the default (or sizing via
  *     [[suggestedBuckets]]) never mis-routes reads against existing
  *     epochs.
  *   - The global scalars (nDocs, sumDl) ride in the manifest and
  *     enter the scoring plan as literals — the idf/norm denominators
  *     cost zero jobs.
  *   - [[applyDelta]] is INSERT-ONLY maintenance (the standard search
  *     segment model): new docs' tf/df merge into only the affected
  *     buckets, stats rewrite (vocab-sized), the registry gains one
  *     segment, scalars bump, one flip. Removal is [[applyDelete]]
  *     (tombstones, batch-proportional) made physical by [[compact]]
  *     (the purge merge). Tombstones here are GLOBAL (one anti-join
  *     set), not Lucene's per-segment bitmaps, so a deleted doc_id
  *     becomes re-insertable only after the purge. Content UPDATE of
  *     a LIVE doc, however, is [[applyUpdate]]: ONE epoch flip that
  *     physically rewrites just the affected posting buckets (located
  *     via the registry's doc→buckets map), adjusts vocab stats
  *     exactly, and supersedes the registry row — no tombstone, no
  *     purge in the path (the delete→compact→insert dance remains
  *     only for resurrecting a previously DELETED id).
  *     Serving after a delta is provably identical to a fresh build
  *     over the unioned corpus — [[TextOps.t_bm25_delta]] hash-checks
  *     exactly that against DuckDB's from-scratch replay; serving
  *     after an update hash-checks against a from-scratch build over
  *     the UPDATED corpus ([[TextOps.t_bm25_updated]]).
  *   - Retention GC + [[withSnapshot]] leases mirror the other two
  *     stores via [[graft.EpochGuard]]; [[openAt]] time-travels (an
  *     old epoch serves its old scores bit-identically, because its
  *     manifest pins its own stats, buckets, and scalars).
  */
object TextIndexStore extends graft.EpochStore("text index", "b\\d+|stats|docs|dels") {
  import graft.Fs.deleteRecursively

  /** Default token-hash posting fan-out at fixture scale. The REAL
    * dial is a [[build]] parameter persisted in the manifest — every
    * probe/merge reads it from there, never from this constant, so
    * changing the default (or sizing per corpus via
    * [[suggestedBuckets]]) cannot silently mis-route probes against
    * epochs built under an older fan-out. */
  val NumBuckets = 16

  /** ~√nDocs posting buckets (rounded up to a power of two, floored at
    * the fixture default): the HEURISTIC sizing when only the doc
    * count is known. Superseded by [[sizedBuckets]] for builds — the
    * round-14 ×100 ScaleBench tier measured this √N rule superlinear
    * on the BUILD side (28.3 s = 2.4× on 2× data): √N fan-out over a
    * modest corpus makes per-bucket parquet files tiny (≈150 KB at
    * 500k docs / fan-out 1024), and the build's cost picks up a
    * per-FILE constant (writer open/close, fs metadata, rename) that
    * grows with fan-out — measured directly by a round-15 phase probe
    * of the build: stage-write 2.8 s at 128 files vs 7.7 s at 4096
    * over the SAME 11.6M posting rows (SCALING.md's round-15 extension,
    * `bm25_build` row, records the size rule it led to). */
  def suggestedBuckets(nDocs: Long): Int = {
    val root = math.ceil(math.sqrt(math.max(1L, nDocs).toDouble)).toLong
    val pow2 = java.lang.Long.highestOneBit(root * 2 - 1)
    math.max(NumBuckets.toLong, math.min(pow2, 1L << 20)).toInt
  }

  /** Pass as [[build]]'s `numBuckets` to size the fan-out from the
    * corpus's MEASURED posting volume instead of a doc-count
    * heuristic. */
  val SizeDerived = 0

  /** Target posting rows per bucket for size-derived fan-out — ≈ a
    * few MB of parquet per bucket file, safely above the small-file
    * regime where the per-file constant dominates the build (measured,
    * see [[suggestedBuckets]]). */
  val TargetPostingRowsPerBucket = 65536L

  /** Size the posting fan-out at a TARGET FILE SIZE: one bucket ≈
    * [[TargetPostingRowsPerBucket]] rows (rounded up to a power of
    * two, floored at the fixture default, capped at 2²⁰ dirs). File
    * count then grows LINEARLY with posting volume — constant
    * per-byte build cost at every tier (the ×100 fix for the √N
    * rule's measured superlinearity) — while the probe fraction a
    * Q-term query reads, Q/fan-out, SHRINKS ∝ 1/N, strictly better
    * than the √N rule's 1/√N. At 10⁹ docs × ~25 postings/doc that is
    * ~380k buckets of ~64k rows; past the 2²⁰ cap, per-bucket bytes
    * grow linearly again — at that point one bucket is a healthy
    * parquet file and [[reshard]] is no longer needed for file-size
    * reasons. */
  def sizedBuckets(postingRows: Long): Int = {
    val want = math.max(1L,
      (postingRows + TargetPostingRowsPerBucket - 1) / TargetPostingRowsPerBucket)
    val pow2 = java.lang.Long.highestOneBit(want * 2 - 1)
    math.max(NumBuckets.toLong, math.min(pow2, 1L << 20)).toInt
  }

  /** Bumps ONLY when [[build]] runs a corpus job — the spec's
    * zero-recompute proof reads it around a second-session serve. */
  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicLong

  case class TextManifest(epoch: Long, nDocs: Long, sumDl: Long,
                          buckets: Map[Int, String], stats: String,
                          docs: Seq[String], dels: Seq[String] = Nil,
                          numBuckets: Int = NumBuckets)
    extends graft.EpochStore.Versioned

  // ------------------------------------------------------ manifest io

  // open/openAt/withSnapshot/listEpochs/commit/gc: graft.EpochStore.
  // Doc registry segments are append-only and referenced by every later
  // manifest's prefix, so a segment is deletable only when NO retained
  // manifest lists it — exactly the shared GC rule.
  type M = TextManifest
  protected def manifestType = manifest[M]
  protected def referenced(m: TextManifest) =
    m.buckets.values ++ Seq(m.stats) ++ m.docs ++ m.dels

  // ----------------------------------------------------------- build

  /** (doc_id, tok, tf, dl) postings of a corpus slice WITHOUT the
    * bucket column — tf/dl from one occurrence shuffle. Split out of
    * [[postingsOf]] so [[build]]'s size-derived path can count the
    * posting volume FIRST (over the cached base) and pick the fan-out
    * from it; the bucket hash is a narrow projection added after. */
  private def postingsBase(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = occ.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    occ.join(dl, "doc_id")
  }

  /** The bucket hash at the index's OWN fan-out (build parameter /
    * manifest field, so a delta against an old epoch always hashes
    * the way that epoch did). */
  private def withBucket(base: DataFrame, fanOut: Int): DataFrame =
    base.withColumn("bucket",
      pmod(xxhash64(col("tok")), lit(fanOut.toLong)).cast("int"))

  /** (doc_id, tok, tf, dl, bucket) postings of a corpus slice. */
  private def postingsOf(docs: DataFrame, fanOut: Int): DataFrame =
    withBucket(postingsBase(docs), fanOut)

  private def writeComponent(df: DataFrame, dir: String, rel: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$rel")

  /** One registry segment from a batch's posting rows: per doc its
    * length AND the distinct posting buckets its tokens hash into —
    * the doc→buckets map that lets [[applyUpdate]] locate a doc's old
    * postings in batch-proportional work (without it, replacing one
    * doc means scanning every bucket: doc_ids are scattered inside
    * token-hashed buckets, so no pushed filter prunes). ≤ min(fan-out,
    * distinct tokens) ints per doc — registry stays metadata-sized. */
  private def registrySegment(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(first(col("dl")).as("dl"), collect_set(col("bucket")).as("buckets"))

  /** The EFFECTIVE doc registry under a manifest: segments are
    * append-only, and [[applyUpdate]] appends a NEW row for an
    * already-registered doc — so per doc the row from the LATEST
    * segment wins (segment list order = commit order). Tombstoned
    * docs are NOT filtered here; callers that need survivors anti-join
    * `dels` themselves. Legacy segments (pre-update-support builds)
    * lack the `buckets` column — they surface it as null, and
    * [[applyUpdate]] fails pointedly on such docs ([[compact]]
    * regenerates the column, upgrading a legacy index). */
  private def registryView(s: SparkSession, dir: String, m: TextManifest): DataFrame = {
    val segs = m.docs.zipWithIndex.map { case (rel, i) =>
      val seg = s.read.parquet(s"$dir/$rel")
      val withBuckets =
        if (seg.columns.contains("buckets")) seg
        else seg.withColumn("buckets", lit(null).cast("array<int>"))
      withBuckets.select(col("doc_id"), col("dl"), col("buckets"))
        .withColumn("seg", lit(i))
    }
    segs.reduce(_ unionByName _)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("seg"), col("dl"), col("buckets"))).as("w"))
      .select(col("doc_id"), col("w.dl").as("dl"), col("w.buckets").as("buckets"))
  }

  /** Build epoch 0 from `docs` (doc_id, text): postings + stats + doc
    * registry + scalars, one manifest flip. The only corpus-scanning
    * jobs of the index's life happen here and in [[applyDelta]]'s
    * batch-proportional merges. `numBuckets` is the posting fan-out —
    * PERSISTED in the manifest so every later probe, delta, and delete
    * hashes under the fan-out this build used. Pass [[SizeDerived]] to
    * have the build measure its own posting volume (one count over
    * the cached postings the publish reuses anyway) and size the
    * fan-out at a target file size via [[sizedBuckets]] — the scale
    * default; an explicit positive fan-out pins it (fixture specs). */
  def build(docs: DataFrame, dir: String,
            numBuckets: Int = NumBuckets): TextManifest = locked(dir) {
    require(numBuckets >= 0, s"numBuckets must be ≥ 0, got $numBuckets")
    buildCount.incrementAndGet()
    val base = postingsBase(docs).cache()
    val fanOut =
      if (numBuckets == SizeDerived) sizedBuckets(base.count()) else numBuckets
    val rows = withBucket(base, fanOut)
    try {
      val published = publishPartitions(
        rows.select(col("tok"), col("doc_id"), col("tf"), col("dl"), col("bucket")),
        Paths.get(dir), 0L, "bucket", "b")
      val stats = rows.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
      writeComponent(stats, dir, "stats/e0")
      val reg = registrySegment(rows)
      writeComponent(reg, dir, "docs/e0")
      // scalars fold the just-written registry parquet (n_docs rows,
      // a metadata-sized read) — not a second groupBy over postings
      val scalars = docs.sparkSession.read.parquet(s"$dir/docs/e0")
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head
      val m = TextManifest(0L, scalars.getLong(0), scalars.getLong(1),
        published, "stats/e0", Seq("docs/e0"),
        numBuckets = fanOut)
      commit(dir, m)
      m
    } finally { base.unpersist(); () }
  }

  // ----------------------------------------------------------- serve

  /** The [[TextOps.BmQueryK]] highest-df query terms under a manifest
    * (df desc, tok — the same derivation [[TextOps.t_bm25]] uses),
    * read from the persisted vocab stats: (tok, df, bucket). */
  private def queryTerms(s: SparkSession, dir: String, m: TextManifest): Seq[(String, Long, Int)] =
    s.read.parquet(s"$dir/${m.stats}")
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(m.numBuckets.toLong)).cast("int"))
      .orderBy(desc("df"), col("tok")).limit(TextOps.BmQueryK)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq

  /** Serve BM25 from the persisted index: vocab stats pick the query
    * terms, ONLY their posting buckets are read (manifest paths; the
    * in-bucket `tok IN (...)` filter pushes into the parquet scan),
    * df/N/Σdl come from stats + manifest literals, and the scoring is
    * the IDENTICAL integer-exact formula as [[TextOps.bm25Scores]] —
    * so the served result hash-matches [[TextOps.t_bm25]]'s oracle
    * with ZERO corpus jobs ([[TextOps.t_bm25_served]]). Returns every
    * scored doc as (doc_id, score_e6, n_hit), unranked — the same
    * contract as [[TextOps.bm25Scores]]. */
  def bm25Scores(s: SparkSession, dir: String, m: TextManifest): DataFrame =
    scoreTerms(s, dir, m, queryTerms(s, dir, m))

  /** BM25 for an ARBITRARY query-term list — the actual search-serving
    * shape (the fixed top-df derivation above exists so witnesses are
    * deterministic): each term's df comes from the persisted vocab
    * stats (a pushed `tok IN (...)` filter over the vocab-sized
    * table), unknown terms simply score nothing (df lookup misses —
    * standard search semantics), and ONLY the present terms' posting
    * buckets are read. Zero corpus jobs for any query.
    * [[TextOps.t_bm25_query]] hash-checks a mid-df term list against
    * the from-scratch replay. */
  def bm25ScoresFor(s: SparkSession, dir: String, m: TextManifest,
                    qTerms: Seq[String]): DataFrame = {
    require(qTerms.nonEmpty, "bm25ScoresFor wants at least one query term")
    val terms = s.read.parquet(s"$dir/${m.stats}")
      .filter(col("tok").isin(qTerms: _*))
      .withColumn("bucket",
        pmod(xxhash64(col("tok")), lit(m.numBuckets.toLong)).cast("int"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    scoreTerms(s, dir, m, terms)
  }

  private def scoreTerms(s: SparkSession, dir: String, m: TextManifest,
                         terms: Seq[(String, Long, Int)]): DataFrame = {
    // a query whose every term is out-of-vocabulary scores NOTHING —
    // the standard search answer, as a typed empty frame (no parquet
    // exists to infer from)
    if (terms.isEmpty) {
      import org.apache.spark.sql.types._
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("score_e6", LongType), StructField("n_hit", LongType))))
    }
    val termRows = terms.map { case (t, df, _) => (t, df) }
    val termDf = s.createDataFrame(termRows).toDF("tok", "df")
    val bucketPaths = terms.map(_._3).distinct.sorted
      .flatMap(m.buckets.get).map(rel => s"$dir/$rel")
    val live = s.read.parquet(bucketPaths: _*)
      .filter(col("tok").isin(terms.map(_._1): _*))
    // tombstoned docs drop out via a broadcast anti-join (the delete
    // set is batch-sized, never corpus-sized); df stays the stale
    // pre-delete value until [[compact]] purges — the documented
    // Lucene deleted-docs semantics ([[applyDelete]])
    val surviving =
      if (m.dels.isEmpty) live
      else live.join(
        broadcast(s.read.parquet(m.dels.map(rel => s"$dir/$rel"): _*)),
        Seq("doc_id"), "left_anti")
    val hits = surviving.join(broadcast(termDf), "tok")
    // manifest scalars enter as constant-folded literal columns; the
    // arithmetic itself is TextOps.bm25ContribAgg — the SAME formula
    // definition the in-session path runs, not a second copy
    TextOps.bm25ContribAgg(hits
      .withColumn("n_docs", lit(m.nDocs))
      .withColumn("sum_dl", lit(m.sumDl)))
  }

  // ----------------------------------------------- incremental delta

  /** Outcome of one append commit, with the diagnostics the spec
    * asserts on (affected buckets; paths the merge read). */
  case class DeltaCommit(manifest: TextManifest, affected: Seq[Int],
                         readPaths: Seq[String])

  /** Append `newDocs` (doc_id, text) to the live index. INSERT-ONLY by
    * contract: a doc_id already in the registry fails loudly — even a
    * tombstoned one, because the tombstone anti-join is global and
    * would swallow the re-insert (see the update lifecycle in the
    * object doc: delete → [[compact]] → insert).
    * Work is batch-proportional for the postings (only the buckets the
    * batch's tokens hash into are read and merged) plus a vocab-sized
    * stats rewrite; the doc registry gains one APPENDED segment, the
    * scalars bump, one atomic flip commits, retention GC runs. */
  def applyDelta(s: SparkSession, dir: String,
                 newDocs: DataFrame): DeltaCommit = advance(dir) { (m, next) =>
    val rows = postingsOf(newDocs, m.numBuckets).cache()
    try {
      // insert-only contract, checked against the persisted registry
      val reg = s.read.parquet(m.docs.map(rel => s"$dir/$rel"): _*)
      val clash = rows.select(col("doc_id")).distinct()
        .join(reg, "doc_id").limit(1).count()
      require(clash == 0L,
        s"applyDelta is append-only: batch contains doc_ids already indexed at $dir")

      val affected = rows.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val readPaths = affected.flatMap(m.buckets.get).map(rel => s"$dir/$rel")
      // bucket is a stored posting column (kept through the partition
      // rename), so the merge needs no re-hash
      val oldAffected =
        if (readPaths.nonEmpty) s.read.parquet(readPaths: _*)
        else s.emptyDataFrame.select(lit("").as("tok"), lit(0L).as("doc_id"),
          lit(0L).as("tf"), lit(0L).as("dl"), lit(0).as("bucket")).limit(0)
      val merged = oldAffected
        .select(col("tok"), col("doc_id"), col("tf"), col("dl"), col("bucket"))
        .unionByName(rows
          .select(col("tok"), col("doc_id"), col("tf"), col("dl"), col("bucket")))
      val published = publishPartitions(merged, Paths.get(dir), next, "bucket", "b")

      // stats merge: disjoint docs ⇒ df adds exactly
      val statsNew = s.read.parquet(s"$dir/${m.stats}")
        .unionByName(rows.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df")))
        .groupBy(col("tok")).agg(sum(col("df")).as("df"))
      writeComponent(statsNew, dir, s"stats/e$next")
      val regSeg = registrySegment(rows)
      writeComponent(regSeg, dir, s"docs/e$next")
      val delta = regSeg.agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head

      // m.dels carries forward: an insert epoch must not resurrect
      // tombstoned docs
      val m2 = TextManifest(next, m.nDocs + delta.getLong(0),
        m.sumDl + delta.getLong(1), m.buckets ++ published, s"stats/e$next",
        m.docs :+ s"docs/e$next", m.dels, m.numBuckets)
      (m2, DeltaCommit(m2, affected, readPaths))
    } finally { rows.unpersist(); () }
  }

  // --------------------------------------------------- single-flip update

  /** Outcome of one update commit, with the diagnostics the spec
    * asserts on (ONE epoch advanced; buckets rewritten; Σdl moved). */
  case class UpdateCommit(manifest: TextManifest, affected: Seq[Int],
                          dlBefore: Long, dlAfter: Long)

  /** SINGLE-FLIP document UPDATE — replace already-indexed docs'
    * content in ONE epoch commit (round-11 verdict item 5: the old
    * lifecycle was delete → [[compact]] → insert, three epochs with a
    * corpus-rewriting purge in the middle, mandatory because
    * tombstones are global and would swallow the re-insert). An update
    * here appends NO tombstone at all: it physically rewrites exactly
    * the posting buckets that hold the doc's OLD postings (located via
    * the registry's doc→buckets map — batch-proportional, never a
    * corpus scan) plus the buckets its NEW tokens hash into.
    *
    * Per affected bucket: old postings minus the updated docs' rows,
    * plus the new versions' rows. Vocab stats rewrite exactly (df
    * decrements for the replaced postings' tokens, increments for the
    * new — a token left with df = 0 LEAVES the vocabulary, as a fresh
    * build over the updated corpus would have it). The registry gains
    * one segment whose rows SUPERSEDE the docs' previous rows (last
    * segment wins — [[registryView]]); nDocs is unchanged and Σdl
    * moves by exactly (new − old). One atomic flip commits all of it:
    * a reader sees entirely-old or entirely-new, never a doc half
    * replaced. [[TextOps.t_bm25_updated]] hash-checks the whole claim
    * — serving after applyUpdate ≡ a from-scratch build over the
    * updated corpus, via the identical DuckDB replay.
    *
    * Contract: every doc_id in `updDocs` must be currently indexed
    * and not tombstoned (updating a deleted doc is a re-insert — a
    * different operation with different compliance semantics), and
    * must tokenize to ≥1 token (an update-to-empty is a delete, and
    * silently vanishing a doc's postings while its registry row stays
    * live would corrupt the scalars). Indexes built before the
    * doc→buckets map fail pointedly; one [[compact]] upgrades them. */
  def applyUpdate(s: SparkSession, dir: String,
                  updDocs: DataFrame): UpdateCommit = advance(dir) { (m, next) =>
    val rows = postingsOf(updDocs, m.numBuckets).cache()
    try {
      val ids = updDocs.select(col("doc_id")).distinct()
      val found = ids.join(registryView(s, dir, m), "doc_id").cache()
      try {
        val (nBatch, nFound) = (ids.count(), found.count())
        require(nFound == nBatch,
          s"update batch names ${nBatch - nFound} doc_ids never indexed at $dir")
        if (m.dels.nonEmpty) {
          val tombstoned = ids.join(
            s.read.parquet(m.dels.map(rel => s"$dir/$rel"): _*), "doc_id")
            .limit(1).count()
          require(tombstoned == 0L,
            s"update batch contains tombstoned doc_ids at $dir — a deleted " +
              "doc is re-inserted (after compact), not updated")
        }
        val legacy = found.filter(col("buckets").isNull).limit(1).count()
        require(legacy == 0L,
          s"index at $dir predates the registry doc→buckets map; run " +
            "compact once to upgrade it, then retry the update")
        val nonEmpty = rows.select(col("doc_id")).distinct().count()
        require(nonEmpty == nBatch,
          s"update batch contains ${nBatch - nonEmpty} docs with no tokens " +
            s"— an update-to-empty is a delete (applyDelete), not an update")

        // ≤ fan-out driver-side ints: buckets holding OLD postings
        // (registry map) ∪ buckets receiving NEW postings
        val oldBuckets = found.select(explode(col("buckets")).as("b"))
          .distinct().collect().map(_.getInt(0))
        val newBuckets = rows.select(col("bucket")).distinct()
          .collect().map(_.getInt(0))
        val affected = (oldBuckets ++ newBuckets).distinct.sorted.toSeq
        val readPaths = affected.flatMap(m.buckets.get).map(rel => s"$dir/$rel")
        val updIds = broadcast(found.select(col("doc_id")))
        val oldAffected =
          if (readPaths.nonEmpty) s.read.parquet(readPaths: _*)
            .select(col("tok"), col("doc_id"), col("tf"), col("dl"), col("bucket"))
          else rows.select(col("tok"), col("doc_id"), col("tf"), col("dl"),
            col("bucket")).limit(0)
        // the replaced postings — recovered from the affected buckets
        // themselves (the registry map guarantees they all live here)
        val replaced = oldAffected.join(updIds, Seq("doc_id"), "left_semi").cache()
        try {
          val kept = oldAffected.join(updIds, Seq("doc_id"), "left_anti")
          val merged = kept.unionByName(rows
            .select(col("tok"), col("doc_id"), col("tf"), col("dl"), col("bucket")))
          val published = publishPartitions(merged, Paths.get(dir), next, "bucket", "b")
          // a bucket whose every posting belonged to updated docs can
          // come back EMPTY — it must leave the map (a fresh build
          // over the updated corpus would not have it), not keep
          // pointing at the stale pre-update epoch dir
          val buckets = (m.buckets -- affected) ++ published

          // stats: df −(replaced postings' tokens) +(new postings');
          // posting rows are unique per (tok, doc), so each count is
          // exactly the df movement. df = 0 ⇒ token leaves the vocab.
          val statsNew = s.read.parquet(s"$dir/${m.stats}")
            .unionByName(replaced.groupBy(col("tok"))
              .agg((-count(lit(1))).cast("long").as("df")))
            .unionByName(rows.groupBy(col("tok"))
              .agg(count(lit(1)).cast("long").as("df")))
            .groupBy(col("tok")).agg(sum(col("df")).as("df"))
            .filter(col("df") > 0L)
          writeComponent(statsNew, dir, s"stats/e$next")
          val regSeg = registrySegment(rows)
          writeComponent(regSeg, dir, s"docs/e$next")

          val dlBefore = found.agg(coalesce(sum(col("dl")), lit(0L))).head.getLong(0)
          val dlAfter = regSeg.agg(coalesce(sum(col("dl")), lit(0L))).head.getLong(0)
          val m2 = TextManifest(next, m.nDocs, m.sumDl - dlBefore + dlAfter,
            buckets, s"stats/e$next", m.docs :+ s"docs/e$next", m.dels,
            m.numBuckets)
          (m2, UpdateCommit(m2, affected, dlBefore, dlAfter))
        } finally { replaced.unpersist(); () }
      } finally { found.unpersist(); () }
    } finally { rows.unpersist(); () }
  }

  // ------------------------------------------------------- tombstones

  /** Outcome of one delete commit: the flipped manifest and the exact
    * (count, Σdl) the scalars dropped by. */
  case class DeleteCommit(manifest: TextManifest, nDeleted: Long, dlDeleted: Long)

  /** Delete documents by TOMBSTONE — the Lucene deleted-docs model,
    * which is the only delete a posting-bucketed index can do in
    * batch-proportional work: a doc's postings are scattered across
    * every bucket its tokens hash into, so physically removing them
    * is a corpus-sized rewrite (that job is [[compact]], scheduled
    * off-peak). The commit here touches NO posting bytes: it appends
    * one `dels/eN` segment (the batch's doc_ids), decrements the
    * manifest scalars EXACTLY (N and Σdl from a registry join — so
    * the serve-time norm/idf denominators are correct immediately),
    * and flips. Serving anti-joins the tombstone set (broadcast —
    * delete sets are batch-sized) before scoring; per-term `df`
    * stays STALE until compaction, exactly as Lucene serves deletes
    * before a segment merge — [[TextOps.t_bm25_deleted]]'s oracle
    * replays precisely these semantics (stale df, exact N/Σdl,
    * survivors only) and hash-matches. Unknown or already-deleted
    * doc_ids fail loudly: a delete that silently no-ops would let a
    * compliance pipeline believe data was removed when it never
    * existed under that id. */
  def applyDelete(s: SparkSession, dir: String,
                  delDocs: DataFrame): DeleteCommit = advance(dir) { (m, next) =>
    val ids = delDocs.select(col("doc_id")).distinct()
    // the EFFECTIVE registry (last segment wins): an updated doc has
    // one row per update epoch in the raw segments, and the delete's
    // exact scalar decrement needs its CURRENT dl, once
    val reg = registryView(s, dir, m)
    val found = ids.join(reg, "doc_id").cache()
    try {
      val (nBatch, nFound) = (ids.count(), found.count())
      require(nFound == nBatch,
        s"delete batch names ${nBatch - nFound} doc_ids never indexed at $dir")
      if (m.dels.nonEmpty) {
        val already = ids.join(
          s.read.parquet(m.dels.map(rel => s"$dir/$rel"): _*), "doc_id")
          .limit(1).count()
        require(already == 0L,
          s"delete batch contains doc_ids already tombstoned at $dir")
      }
      val rel = s"dels/e$next"
      found.select(col("doc_id")).write.mode("overwrite").parquet(s"$dir/$rel")
      val dropped = found.agg(sum(col("dl")).as("s")).head.getLong(0)
      val m2 = TextManifest(next, m.nDocs - nFound, m.sumDl - dropped,
        m.buckets, m.stats, m.docs, m.dels :+ rel, m.numBuckets)
      (m2, DeleteCommit(m2, nFound, dropped))
    } finally { found.unpersist(); () }
  }

  /** RESHARD to a new posting fan-out behind ONE flip — the grow-path
    * the persisted-fan-out design needs: `suggestedBuckets` sizes the
    * fan-out ~√N at build time, but a corpus that grows 100× would
    * otherwise be stuck with its birth fan-out (per-bucket posting
    * volume creeping linear) until a full REBUILD — a corpus re-scan +
    * re-tokenize. Reshard instead re-hashes the EXISTING posting rows
    * (tok → new bucket; tf/dl/df/scalars all carry — nothing is
    * recomputed from text) and republishes: a corpus-sized byte
    * rewrite scheduled off-peak, like [[compact]], but zero corpus
    * jobs. The registry rewrites alongside (one squashed segment) so
    * its doc→buckets maps point at the NEW fan-out — updates keep
    * working across the reshard. Stats and tombstones carry forward
    * by reference (both fan-out-independent). Serving after a reshard
    * is bit-identical ([[TextOps.t_bm25_resharded]] hash-checks it
    * against the same from-scratch oracle as [[TextOps.t_bm25]]). */
  def reshard(s: SparkSession, dir: String,
              newBuckets: Int): TextManifest = advance(dir) { (m, next) =>
    require(newBuckets > 0 && newBuckets != m.numBuckets,
      s"reshard wants a new positive fan-out, got $newBuckets (index at ${m.numBuckets})")
    val rehashed = s.read.parquet(m.buckets.values.map(rel => s"$dir/$rel").toSeq: _*)
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
      .withColumn("bucket",
        pmod(xxhash64(col("tok")), lit(newBuckets.toLong)).cast("int"))
      .cache()
    try {
      val published = publishPartitions(rehashed, Paths.get(dir), next, "bucket", "b")
      writeComponent(registrySegment(rehashed), dir, s"docs/e$next")
      val m2 = TextManifest(next, m.nDocs, m.sumDl, published, m.stats,
        Seq(s"docs/e$next"), m.dels, newBuckets)
      (m2, m2)
    } finally { rehashed.unpersist(); () }
  }

  /** PURGE compaction — the segment merge that makes tombstones
    * physical: every posting bucket is re-published minus tombstoned
    * docs, vocab stats are recomputed EXACTLY from the surviving
    * postings (the stale-df debt of [[applyDelete]] is repaid here),
    * the doc registry squashes to one tombstone-free segment, and the
    * `dels` list resets — one corpus-sized rewrite, one atomic flip.
    * After it, serving is bit-identical to a fresh [[build]] over the
    * surviving corpus ([[TextOps.t_bm25_purged]] hash-checks exactly
    * that against the from-scratch DuckDB replay over survivors).
    * Old epochs keep their own manifests, so retained snapshots still
    * time-travel across the purge. */
  def compact(s: SparkSession, dir: String): TextManifest = advance(dir) { (m, next) =>
    val dels =
      if (m.dels.isEmpty)
        s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
      else s.read.parquet(m.dels.map(rel => s"$dir/$rel"): _*)
    val surviving = s.read.parquet(m.buckets.values.map(rel => s"$dir/$rel").toSeq: _*)
      .join(broadcast(dels), Seq("doc_id"), "left_anti")
      .cache()
    try {
      val published = publishPartitions(
        surviving.select(col("tok"), col("doc_id"), col("tf"), col("dl"), col("bucket")),
        Paths.get(dir), next, "bucket", "b")
      val stats = surviving.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
      writeComponent(stats, dir, s"stats/e$next")
      // registry squash, recomputed from the surviving postings (not
      // the old segments): collapses update-epoch duplicates to the
      // live row and REGENERATES the doc→buckets map — compacting a
      // legacy (pre-update-support) index upgrades it in passing
      val reg = registrySegment(surviving)
      writeComponent(reg, dir, s"docs/e$next")
      val scalars = s.read.parquet(s"$dir/docs/e$next")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s")).head
      // the recomputed scalars must land exactly on the incrementally
      // maintained ones — a mismatch means a delete commit drifted
      require(scalars.getLong(0) == m.nDocs && scalars.getLong(1) == m.sumDl,
        s"purge recomputed scalars (${scalars.getLong(0)}, ${scalars.getLong(1)}) != " +
          s"manifest (${m.nDocs}, ${m.sumDl}) at $dir")
      val m2 = TextManifest(next, m.nDocs, m.sumDl, published, s"stats/e$next",
        Seq(s"docs/e$next"), Nil, m.numBuckets)
      (m2, m2)
    } finally { surviving.unpersist(); () }
  }
}
