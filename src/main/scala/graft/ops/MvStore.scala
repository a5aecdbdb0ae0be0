package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ManifestIo.publishPartitions
import java.nio.file.Paths

/** Durable incremental MATERIALIZED-VIEW store — the aggregate-side
  * member of the durable-artifact family ([[AnnIndexStore]] vectors,
  * [[DedupIndexStore]] fingerprints, [[TextIndexStore]] postings,
  * the streaming upsert state table): decomposable partial aggregates
  * persisted under an epoch-versioned manifest, refreshed
  * incrementally with batch-proportional work, and SERVED ACROSS
  * SESSIONS with zero base-table jobs — the production form of
  * [[RelationalQueries.q_incremental_agg]], whose stored state was a
  * write-once per-run layout rather than a maintained artifact.
  *
  * Layout (the shared manifest shape, via [[graft.EpochStore]]):
  * {{{
  * dir/
  *   _manifest.json          current pointer  {epoch, buckets}
  *   _manifest-eN.json       immutable per-epoch snapshot (time travel)
  *   b<k>/e<N>/...parquet    bucket k's partials as of epoch N (immutable)
  * }}}
  * Partial rows are `(m, keys…, aggs…)` with the view definition
  * (key, agg, and per-agg MERGE KIND lists) recorded IN the
  * manifest — each agg state merges under its declared monoid
  * ("sum" longs: counts are sums of 1s, retractions sums of
  * negatives; "hll": DataSketches HLL bytes under `hll_union_agg`,
  * the mergeable COUNT(DISTINCT) state): the decomposable-aggregate
  * contract that makes the MV incremental, over any view shape that
  * satisfies it (single-table, join-sourced, or sketch partials
  * alike).
  * Buckets hash on the MONTH alone: the refresh unit is a month of
  * new base data, so a month's delta touches exactly ONE bucket and
  * a refresh commit rewrites 1/[[NumBuckets]] of the view, not all
  * of it — at 100 TB of history that asymmetry is the entire point.
  *
  * Refresh contract: APPEND-ONLY facts — the caller feeds each base
  * partition's rows exactly once (exactly-once at the pipeline level
  * comes from the upstream ledger, e.g. a streaming checkpoint as in
  * [[graft.streaming.StreamingOps]]'s upsert; re-feeding a month
  * would double its partials, exactly as in any SUM-based MV).
  * Commits are single-writer, crash-safe by the ManifestIo argument:
  * immutable epoch dirs + one atomic pointer flip; a crash mid-commit
  * leaves only unreferenced garbage.
  */
object MvStore extends graft.EpochStore("MV store", "b\\d+") {

  /** Refresh touches `affected buckets / NumBuckets` of the view; a
    * production deployment sizes this so one refresh unit (here a
    * month) is a small fraction. 8 over the fixture's ~70 months. */
  val NumBuckets = 8

  /** The manifest carries the VIEW DEFINITION alongside the pointer:
    * `keys` (group columns beyond the month bucket key `m`), `aggs`
    * (partial columns), and each agg's MERGE KIND (`kinds`, parallel
    * to `aggs`; empty = all-"sum"). Refresh and serve read the schema
    * from here, so a maintenance job or a second-session consumer
    * needs the artifact path and NOTHING else — the production
    * property that lets one store hold many views (single-table,
    * join-shaped, sketch-state, …) without per-view code.
    *
    * Merge kinds — any commutative monoid whose merge Spark can
    * express works; two are wired:
    *   - `"sum"`: summed longs (counts are sums of 1s, retractions
    *     sums of negatives) — the classic decomposable aggregate.
    *   - `"hll"`: Apache DataSketches HLL sketch BYTES, merged with
    *     `hll_union_agg` — the mergeable-state form of
    *     COUNT(DISTINCT), the one aggregate summed longs cannot
    *     incrementalize. Union is exact over sketches (union of
    *     partials ≡ one sketch over the union), so a month's refresh
    *     stays delta-proportional for distinct counts too. No
    *     retraction exists for HLL (sketches cannot forget), and a
    *     change FEED has no subtraction either — [[changeFeed]]
    *     refuses sketch views pointedly. */
  /** `types`: Spark catalog type strings parallel to `keys ++ aggs`,
    * recorded at [[build]] from the partials' actual schema — so an
    * EMPTY view (zero buckets, no parquet to infer from) can still
    * emit correctly-typed empty frames. Empty in pre-type manifests
    * (legacy fallback: string keys, long aggs). */
  case class MvManifest(epoch: Long, keys: Seq[String], aggs: Seq[String],
                        buckets: Map[Int, String], kinds: Seq[String] = Nil,
                        types: Seq[String] = Nil,
                        numBuckets: Int = NumBuckets)
    extends graft.EpochStore.Versioned

  private def kindsOf(m: MvManifest): Seq[String] =
    if (m.kinds.isEmpty) m.aggs.map(_ => "sum") else m.kinds

  /** One merge expression per agg column, from its manifest kind. */
  private def mergeExprs(m: MvManifest): Seq[org.apache.spark.sql.Column] =
    m.aggs.zip(kindsOf(m)).map {
      case (a, "sum") => sum(col(a)).as(a)
      case (a, "hll") => hll_union_agg(col(a)).as(a)
      case (a, k)     => sys.error(s"unknown merge kind '$k' for agg $a")
    }

  // ------------------------------------------------------ manifest io

  // open/openAt/withSnapshot/listEpochs/commit/gc: graft.EpochStore
  type M = MvManifest
  protected def manifestType = manifest[M]
  protected def referenced(m: MvManifest) = m.buckets.values

  // pre-kind manifests (and views built without kinds) merge every agg
  // as a sum
  override protected def fromJson(j: org.json4s.JValue) = {
    val m = super.fromJson(j)
    m.copy(kinds = kindsOf(m))
  }

  // ----------------------------------------------------------- build

  /** Month → bucket routing. Stored as a real column so a refresh
    * merge never re-hashes history. */
  private def withBucket(partials: DataFrame, fanOut: Int): DataFrame =
    partials.withColumn("bucket", pmod(hash(col("m")), lit(fanOut)).cast("int"))

  private def partialCols(m: MvManifest): Seq[String] =
    ("m" +: m.keys) ++ m.aggs :+ "bucket"

  /** Initial materialization at epoch 0 from the history's partial
    * aggregates — rows `(m, keys…, aggs…)` — recording the view
    * definition in the manifest (one corpus-sized job, paid once,
    * ever). */
  def build(partials: DataFrame, dir: String,
            keys: Seq[String], aggs: Seq[String],
            kinds: Seq[String] = Nil,
            numBuckets: Int = NumBuckets): MvManifest = locked(dir) {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val base = Paths.get(dir)
    java.nio.file.Files.createDirectories(base)
    val expect = ("m" +: keys) ++ aggs
    require(partials.columns.toSet == expect.toSet,
      s"partials columns ${partials.columns.toSeq} != declared view $expect")
    require(kinds.isEmpty || kinds.length == aggs.length,
      s"kinds (${kinds.length}) must be empty or parallel to aggs (${aggs.length})")
    require(kinds.forall(Set("sum", "hll")),
      s"unknown merge kind in $kinds (wired: sum, hll)")
    // record the view's actual key/agg types so empty-view consumers
    // (changeFeed's zero-bucket fallback) never have to guess a schema
    val types = (keys ++ aggs).map(c => partials.schema(c).dataType.catalogString)
    val m = MvManifest(0L, keys, aggs,
      publishPartitions(withBucket(partials, numBuckets), base, 0L, "bucket", "b"),
      kinds, types, numBuckets)
    commit(dir, m)
    m
  }

  /** Outcome of one refresh commit, with the diagnostics the spec
    * asserts on (buckets touched; old paths the merge read). */
  case class RefreshCommit(manifest: MvManifest, affected: Seq[Int],
                           readPaths: Seq[String])

  /** Incremental refresh: fold `deltaPartials` (the NEW base rows'
    * partial aggregates — typically one month) into the view. Only
    * the delta's buckets are read and re-reduced (`sum` of sums — the
    * merge law), republished as new immutable epoch dirs, and flipped
    * in atomically; untouched buckets carry forward by reference.
    * Work is delta-proportional + the affected buckets' size — never
    * the history. */
  def refresh(s: SparkSession, dir: String,
              deltaPartials: DataFrame): RefreshCommit = advance(dir) { (m, next) =>
    val delta = withBucket(deltaPartials, m.numBuckets)
    // ≤ NumBuckets driver-side ints — the partition list, not data
    val affected = delta.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val readPaths = affected.flatMap(m.buckets.get).map(rel => s"$dir/$rel")
    val old =
      if (readPaths.nonEmpty) s.read.parquet(readPaths: _*)
      else delta.limit(0)
    val cols = partialCols(m)
    val merges = mergeExprs(m)
    val merged = old.select(cols.map(col): _*)
      .unionByName(delta.select(cols.map(col): _*))
      .groupBy(("m" +: m.keys :+ "bucket").map(col): _*)
      .agg(merges.head, merges.tail: _*)
    val m2 = MvManifest(next, m.keys, m.aggs,
      m.buckets ++ publishPartitions(merged, Paths.get(dir), next, "bucket", "b"),
      m.kinds, m.types, m.numBuckets)
    (m2, RefreshCommit(m2, affected, readPaths))
  }

  /** RESHARD to a new month-bucket fan-out behind ONE flip — the
    * grow-path sibling of [[graft.ops.TextIndexStore.reshard]]: a view
    * sized for a few years of months outgrows its birth fan-out as
    * history accumulates (per-bucket partial volume creeping linear,
    * each refresh rewriting a growing slab). The existing partial rows
    * re-hash on their stored month (nothing re-aggregates from base
    * tables — zero base jobs), republish, one atomic flip; every later
    * refresh routes under the manifest's NEW fan-out.
    * [[RelationalQueries.q_mv_resharded]] hash-checks serving
    * unchanged across the re-layout. */
  def reshard(s: SparkSession, dir: String,
              newBuckets: Int): MvManifest = advance(dir) { (m, next) =>
    require(newBuckets > 0 && newBuckets != m.numBuckets,
      s"reshard wants a new positive fan-out, got $newBuckets (view at ${m.numBuckets})")
    val rehashed = withBucket(
      s.read.parquet(m.buckets.values.map(rel => s"$dir/$rel").toSeq: _*)
        .select((("m" +: m.keys) ++ m.aggs).map(col): _*), newBuckets)
    val m2 = MvManifest(next, m.keys, m.aggs,
      publishPartitions(rehashed, Paths.get(dir), next, "bucket", "b"),
      m.kinds, m.types, newBuckets)
    (m2, m2)
  }

  // ----------------------------------------------------------- serve

  /** Read + reduce a non-empty set of bucket dirs to per-key totals
    * under the manifest's declared view schema (no presentation
    * sort). */
  private def reduceBuckets(s: SparkSession, dir: String, m: MvManifest,
                            rels: Iterable[String]): DataFrame = {
    val paths = rels.toSeq.sorted.map(rel => s"$dir/$rel")
    require(paths.nonEmpty, "reduceBuckets over zero buckets")
    val merges = mergeExprs(m)
    s.read.parquet(paths: _*)
      .groupBy(m.keys.map(col): _*)
      .agg(merges.head, merges.tail: _*)
  }

  /** Final per-key totals from the persisted partials — a
    * months × keys-sized read + reduce over the manifest's declared
    * view schema, ZERO base-table jobs. The serve path is what a
    * second session (or another consumer entirely) runs against the
    * shared artifact. */
  def serve(s: SparkSession, dir: String, m: MvManifest): DataFrame =
    reduceBuckets(s, dir, m, m.buckets.values)
      .orderBy(m.keys.map(col): _*)

  // ----------------------------------------------------- change feed

  /** CHANGE DATA FEED between two retained epochs: the per-key agg
    * DELTAS a downstream consumer applies to advance its copy of the
    * view from epoch `from` to epoch `to` — the subscription shape
    * that lets dashboards / derived tables follow a 100 TB MV without
    * ever re-reading it. Because a refresh republishes only the
    * buckets its delta touched, the manifests' bucket pointers
    * IDENTIFY the change set: only buckets whose pointer moved are
    * read (from both epochs), so the feed costs change-proportional
    * I/O, never a view scan. Emitted rows are keys + signed agg
    * deltas (additive-merge law: new = old + feed), zero-delta keys
    * suppressed. */
  /** Lease-pinned change feed — the concurrent-reader-safe form of
    * [[changeFeed]], which (like every bare snapshot resolve here)
    * reads its parquet lazily and could otherwise race a refresh's
    * retention GC between resolve and action. Pins BOTH endpoint
    * epochs with nested [[graft.EpochGuard]] leases for the duration
    * of `body`. */
  def withChangeFeed[A](s: SparkSession, dir: String, from: Long, to: Long)
                       (body: DataFrame => A): A = {
    val base = java.nio.file.Paths.get(dir)
    graft.EpochGuard.withLease(base, from,
      java.nio.file.Files.exists(graft.ManifestIo.versionedPath(base, from)), dir) {
      graft.EpochGuard.withLease(base, to,
        java.nio.file.Files.exists(graft.ManifestIo.versionedPath(base, to)), dir) {
        body(changeFeed(s, dir, from, to))
      }
    }
  }

  def changeFeed(s: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    require(from < to, s"changeFeed wants from < to, got $from → $to")
    val mf = openAt(dir, from)
    val mt = openAt(dir, to)
    require(mf.keys == mt.keys && mf.aggs == mt.aggs,
      s"view definition drifted between epochs: ${mf.keys}/${mf.aggs} vs ${mt.keys}/${mt.aggs}")
    // a feed row is new MINUS old per key — sketches have no
    // subtraction, so a sketch view has no change feed (consumers
    // re-serve the changed keys instead); fail pointedly, never emit
    // binary garbage
    require(kindsOf(mt).forall(_ == "sum"),
      s"changeFeed requires summable aggs; view at $dir has kinds ${kindsOf(mt)}" +
        " — sketch-view consumers follow changedKeys(from, to) and re-serve them")
    val changed = mt.buckets.filter { case (k, rel) => !mf.buckets.get(k).contains(rel) }
    if (changed.isEmpty) { // no refresh landed between the epochs
      // serve(...).limit(0) would still require a non-empty bucket set
      // (reduceBuckets reads parquet for the schema) — an EMPTY view
      // (e.g. the dual-sink's epoch-0 bootstrap) must yield an empty
      // feed, not throw. With buckets we keep the exact stored schema;
      // without, the manifest's recorded `types` (written at build)
      // give the view's true key/agg types, so a later non-empty feed
      // unions cleanly with this one. Only pre-type LEGACY manifests
      // fall back to string keys + long aggs.
      if (mt.buckets.nonEmpty) return serve(s, dir, mt).limit(0)
      val names = mt.keys ++ mt.aggs
      val typed: Seq[org.apache.spark.sql.types.DataType] =
        if (mt.types.length == names.length)
          mt.types.map(org.apache.spark.sql.types.DataType.fromDDL)
        else mt.keys.map(_ => org.apache.spark.sql.types.StringType) ++
          mt.aggs.map(_ => org.apache.spark.sql.types.LongType)
      val fields = names.zip(typed).map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) }
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(fields))
    }
    val oldRels = changed.keys.flatMap(mf.buckets.get)
    val newAgg = reduceBuckets(s, dir, mt, changed.values)
    val oldAgg = // every changed bucket can be NEW in `to` (first write);
      // fresh empty frame (not newAgg.limit(0)) to avoid self-join lineage
      if (oldRels.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          newAgg.schema)
      else reduceBuckets(s, dir, mf, oldRels)
    val joinCond = mt.keys.map(k => newAgg(k) <=> oldAgg(k)).reduce(_ && _)
    val keyCols = mt.keys.map(k => coalesce(newAgg(k), oldAgg(k)).as(k))
    val deltaCols = mt.aggs.map(a =>
      (coalesce(newAgg(a), lit(0L)) - coalesce(oldAgg(a), lit(0L))).as(a))
    newAgg.join(oldAgg, joinCond, "full_outer")
      .select(keyCols ++ deltaCols: _*)
      .filter(mt.aggs.map(a => col(a) =!= 0).reduce(_ || _))
      .orderBy(mt.keys.map(col): _*)
  }

  /** The KEYS whose served values MOVED between two retained epochs —
    * the change-notification a SKETCH view's consumers use where
    * [[changeFeed]] cannot exist (sketches have no subtraction, so
    * per-key deltas are undefined; the consumer RE-SERVES exactly the
    * named keys instead). Works for any merge kind — for all-sum
    * views it names the keys a changeFeed would emit (modulo exotic
    * cross-month cancellation, where this conservatively notifies).
    *
    * Cost shape: the manifests' bucket pointers identify the moved
    * buckets (a refresh republishes only the buckets its delta
    * touched), so ONLY those buckets are read — at both epochs — and
    * diffed per (month, key) on each agg's SERVE-VISIBLE value (the
    * summed long, or the HLL estimate: observable state, deliberately
    * not sketch BYTES, which a re-merge may re-serialize without
    * changing a single register). Keys whose every (month, value) row
    * is unchanged are suppressed, so late data for one key names ONE
    * key even when its month-bucket holds every other key too.
    * Change-proportional I/O, never a view scan. */
  def changedKeys(s: SparkSession, dir: String, from: Long, to: Long): DataFrame = {
    require(from < to, s"changedKeys wants from < to, got $from → $to")
    val mf = openAt(dir, from)
    val mt = openAt(dir, to)
    require(mf.keys == mt.keys && mf.aggs == mt.aggs,
      s"view definition drifted between epochs: ${mf.keys}/${mf.aggs} vs ${mt.keys}/${mt.aggs}")
    // serve-visible per-(month, key) values of one epoch's copy of the
    // changed buckets: merge partials exactly as serve would, then
    // project sums as-is and sketches to their estimates
    def visible(m: MvManifest, rels: Iterable[String]): DataFrame = {
      val merges = mergeExprs(m)
      s.read.parquet(rels.toSeq.sorted.map(rel => s"$dir/$rel"): _*)
        .groupBy(("m" +: m.keys).map(col): _*)
        .agg(merges.head, merges.tail: _*)
        .select(("m" +: m.keys).map(col) ++ m.aggs.zip(kindsOf(m)).map {
          case (a, "sum") => col(a)
          case (a, "hll") => hll_sketch_estimate(col(a)).as(a)
          case (a, k)     => sys.error(s"unknown merge kind '$k' for agg $a")
        }: _*)
    }
    val changed = mt.buckets.filter { case (k, rel) => !mf.buckets.get(k).contains(rel) }
    if (changed.isEmpty) {
      val typed: Seq[org.apache.spark.sql.types.DataType] =
        if (mt.types.length == (mt.keys ++ mt.aggs).length)
          mt.types.take(mt.keys.length)
            .map(org.apache.spark.sql.types.DataType.fromDDL)
        else mt.keys.map(_ => org.apache.spark.sql.types.StringType)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(mt.keys.zip(typed).map {
          case (n, t) => org.apache.spark.sql.types.StructField(n, t) }))
    }
    val newV = visible(mt, changed.values)
    val oldRels = changed.keys.flatMap(mf.buckets.get).toSeq
    val oldV =
      if (oldRels.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          newV.schema)
      else visible(mf, oldRels)
    val on = ("m" +: mt.keys).map(c => newV(c) <=> oldV(c)).reduce(_ && _)
    newV.join(oldV, on, "full_outer")
      .filter(mt.aggs.map(a => !(newV(a) <=> oldV(a))).reduce(_ || _))
      .select(mt.keys.map(k => coalesce(newV(k), oldV(k)).as(k)): _*)
      .distinct()
  }
}
