package graft

import java.nio.file.{Files, Path, Paths}
import org.json4s.{DefaultFormats, Extraction, Formats, JValue}
import org.json4s.jackson.JsonMethods

/** The typed layer every epoch-versioned store shares, written once on
  * top of [[ManifestIo]]'s file moves: the manifest codec, open,
  * snapshot, commit, lock and retention GC. This is the snapshot-plus-
  * pointer layout of Delta Lake (Armbrust et al., VLDB 2020): immutable
  * `_manifest-e<N>.json` snapshots, one atomically replaced
  * `_manifest.json` pointer, immutable `<component>/e<N>` data dirs. A
  * store (ANN, text and dedup indexes, MV store, governed table, the
  * streaming upsert state table) keeps only its data semantics.
  *
  * The codec is json4s over the store's case class [[M]]: fields render
  * in constructor order, so `epoch` comes first (the contract
  * [[ManifestIo.pointerEpoch]] reads), and a field missing from an
  * older manifest takes its constructor default. A store whose on-disk
  * shape is not the default case-class form overrides [[toJson]] /
  * [[fromJson]] or adds to [[formats]].
  *
  * `name` names the store in "no <name> at <dir>"; `componentPattern`
  * matches the top-level component dirs [[gc]] sweeps (`"b\\d+"`; the
  * empty pattern matches none).
  */
abstract class EpochStore(name: String, componentPattern: String) {

  /** The store's manifest case class. */
  type M <: EpochStore.Versioned

  protected implicit def manifestType: Manifest[M]

  /** Relative component paths (`"b3/e2"`) one manifest pins against
    * [[gc]]. */
  protected def referenced(m: M): Iterable[String]

  /** Committed epochs kept readable as snapshots. */
  val RetainEpochs = 3

  protected implicit def formats: Formats = DefaultFormats

  protected def toJson(m: M): JValue = Extraction.decompose(m)

  protected def fromJson(j: JValue): M = j.extract[M]

  private[graft] def render(m: M): String = JsonMethods.compact(toJson(m))

  private[graft] def parse(json: String): M = fromJson(JsonMethods.parse(json))

  private def load(p: Path): M = parse(Files.readString(p))

  /** The live manifest. */
  def open(dir: String): M = {
    val p = ManifestIo.manifestPath(Paths.get(dir))
    require(Files.exists(p), s"no $name at $dir")
    load(p)
  }

  /** The manifest AS OF a retained epoch; fails "snapshot expired" once
    * the epoch fell past retention. Unpinned: component data read
    * lazily through it can still be swept by a concurrent [[gc]]; pin
    * with [[withSnapshot]] for that. */
  def openAt(dir: String, epoch: Long): M =
    ManifestIo.openVersioned(Paths.get(dir), epoch, load)

  /** Pin `epoch` against retention GC for the duration of `body` (the
    * [[EpochGuard]] lease/intent handshake). Fails with a pointed
    * "snapshot expired" error when GC won — never a partial view. */
  def withSnapshot[A](dir: String, epoch: Long)(body: M => A): A =
    ManifestIo.withSnapshot(Paths.get(dir), epoch, load)(body)

  /** Epochs currently readable via [[openAt]], ascending. */
  def listEpochs(dir: String): Seq[Long] = ManifestIo.listEpochs(Paths.get(dir))

  /** Whole-operation commit lock ([[ManifestIo.withCommitLock]]: owner
    * token, heartbeat, verified steal, reentrant through to
    * [[commit]]). Mutators serialize per store dir, so two racing
    * committers run one after the other instead of overwriting each
    * other's same-epoch component dirs. Readers never take it. */
  protected def locked[A](dir: String)(body: => A): A =
    ManifestIo.withCommitLock(Paths.get(dir))(body)

  /** Commit streaming micro-batch `batchId` as epoch `batchId + 1`
    * (epoch 0 is the bootstrap). `foreachBatch` delivery is
    * at-least-once — a crash between the sink's commit and the
    * checkpoint replays the batch — so the commit runs through
    * [[EpochStore.applyPinned]] under the store lock: a replay finds
    * its epoch flipped and no-ops, a batch past a hole fails. Returns
    * the live manifest. */
  def applyBatch(dir: String, batchId: Long)(commit: => Any): M = locked(dir) {
    EpochStore.applyPinned(s"$name batch $batchId at $dir", open(dir).epoch, batchId + 1)(commit)
    open(dir)
  }

  /** Write the immutable per-epoch manifest, then atomically replace
    * the live pointer ([[ManifestIo.commit]]: a lost race fails
    * loudly). */
  private[graft] def commit(dir: String, m: M): Unit =
    ManifestIo.commit(Paths.get(dir), m.epoch, render(m))

  /** Retention GC after a flip ([[ManifestIo.gcEpochs]]): manifests
    * below `current − retain + 1` retire through the lease handshake,
    * then every component dir no retained manifest references (and
    * older than `current`, sparing in-flight future dirs) is deleted.
    * `afterIntent` is [[EpochGuard.guardedDelete]]'s test seam. */
  private[graft] def gc(dir: String, current: Long, retain: Int,
                        afterIntent: Long => Unit = _ => ()): Unit =
    ManifestIo.gcEpochs(Paths.get(dir), current, retain, componentPattern,
      p => referenced(load(p)), afterIntent)
}

object EpochStore {

  /** A manifest: `epoch` is its first constructor field. */
  trait Versioned { def epoch: Long }

  /** The exactly-once epoch pin every replayable commit shares (the
    * streaming batch feeds, [[ArtifactTxn]]'s steps): `apply` must
    * commit exactly epoch `pin` on a store whose head reads `head`.
    *   - head ≥ pin: already committed (a replay after the flip) — skip;
    *   - head < pin − 1: a gap — an earlier commit never landed, or an
    *     out-of-band writer moved the store — fail loudly;
    *   - otherwise apply, then check the head landed on `pin`.
    * The flip is atomic after the whole apply, so a crash mid-apply
    * leaves the head at pin − 1 and the replay re-runs it. */
  def applyPinned(what: String, head: => Long, pin: Long)(apply: => Any): Unit = {
    val h = head
    if (h < pin - 1)
      sys.error(s"$what: head epoch $h is behind pin $pin by more than one epoch — " +
        "a gap (an earlier commit never landed) or an out-of-band writer")
    if (h < pin) {
      apply
      val landed = head
      require(landed == pin, s"$what: committed epoch $landed, pinned $pin")
    }
  }
}
