package graft

import java.nio.file.{Files, Path}

/** CROSS-STORE atomic commits — one LOGICAL commit spanning several
  * durable artifacts (e.g. a compliance delete that must land in the
  * dedup index AND the text index, or not at all observably).
  *
  * Each store's own commit is already atomic (manifest flip) and
  * epoch-monotone, but a job that dies BETWEEN two stores' flips
  * leaves them inconsistent with nothing recorded anywhere to finish
  * from. This is the standard write-ahead-intent saga, kept as small
  * as the stores allow:
  *
  *   1. BEFORE touching any store, an intent file (`_txn-<id>.json`)
  *      is written atomically, recording per step the target store,
  *      the epoch that step is expected to COMMIT (head+1 at intent
  *      time), and an opaque payload the recovery handler can rebuild
  *      the operation from (e.g. the victim id list's defining rule).
  *   2. Steps run in order. Each step is made idempotent by its EPOCH
  *      PIN — the same discipline as the streaming sinks
  *      ([[graft.ops.MvStore.refreshIdempotent]]): if the store's head
  *      is already at/past the step's expected epoch, the step ALREADY
  *      COMMITTED (we crashed after its flip) and is skipped; a store
  *      head more than one epoch behind its pin means an out-of-band
  *      writer raced the transaction, which fails loudly.
  *   3. The intent file is deleted only after every step verifies at
  *      its pinned epoch — so any crash leaves either nothing (before
  *      intent) or a replayable intent whose [[recover]] completes the
  *      remaining steps exactly once each.
  *
  * Assumptions, stated: ONE logical writer per store set (the same
  * single-maintainer assumption every store here documents — the
  * epoch pin turns a violated assumption into a loud error rather than
  * a corruption); recovery handlers must reconstruct each step's
  * operation DETERMINISTICALLY from (store, payload) — which the
  * stores make natural, since their deletes/deltas are derivations
  * over immutable inputs.
  */
object ArtifactTxn {

  /** One store operation inside a transaction. `expectedEpoch` is the
    * epoch this step's commit must produce (store head+1 at intent
    * time); `payload` is whatever the recovery handler needs to re-run
    * the operation (kept opaque here). */
  case class Step(store: String, dir: String, expectedEpoch: Long, payload: String)

  case class Txn(id: String, steps: Seq[Step])

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  // json4s over the case classes: fields render in constructor order
  // (`{"id":…,"steps":[{"store":…,"dir":…,"expectedEpoch":…,"payload":…}]}`)
  private def render(t: Txn): String = org.json4s.jackson.Serialization.write(t)

  private def parse(p: Path): Txn = org.json4s.jackson.Serialization.read[Txn](Files.readString(p))

  private def intentPath(logDir: Path, id: String): Path = {
    require(id.matches("[A-Za-z0-9._-]+"), s"txn id $id must be filename-safe")
    logDir.resolve(s"_txn-$id.json")
  }

  /** Run `steps` as one logical commit. `exec` performs a step (must
    * commit exactly `expectedEpoch` on its store); `head` reads a
    * store's current epoch. Crash anywhere → the intent file remains
    * and [[recover]] finishes the job. */
  def run(logDir: Path, id: String, steps: Seq[Step],
          exec: Step => Unit, head: Step => Long): Unit = {
    Files.createDirectories(logDir)
    val p = intentPath(logDir, id)
    require(!Files.exists(p), s"txn $id already pending at $p — recover() first")
    ManifestIo.atomicWrite(p, render(Txn(id, steps)))
    apply(Txn(id, steps), exec, head)
    Files.delete(p)
    ()
  }

  private def apply(t: Txn, exec: Step => Unit, head: Step => Long): Unit =
    t.steps.foreach { st =>
      val h = head(st)
      if (h >= st.expectedEpoch) {
        // crashed AFTER this step's flip: already committed, skip
      } else if (h < st.expectedEpoch - 1) {
        sys.error(s"txn ${t.id}: store ${st.store} head $h is behind pin " +
          s"${st.expectedEpoch} by more than one epoch — out-of-band writer")
      } else {
        exec(st)
        val h2 = head(st)
        require(h2 == st.expectedEpoch,
          s"txn ${t.id}: step ${st.store} committed epoch $h2, pinned ${st.expectedEpoch}")
      }
    }

  /** Transactions whose intent survived a crash, oldest first. Ids
    * embed a monotone batch number (`b0`, `b1`, …), so "oldest" sorts
    * NUMERICALLY on the trailing digit run (plain lexicographic order
    * would replay `b10` before `b2` and fail the earlier txn's epoch
    * pin); ids without a numeric suffix tie-break lexicographically. */
  def pending(logDir: Path): Seq[Txn] = {
    def key(name: String): (String, Long, String) = {
      val id = name.stripPrefix("_txn-").stripSuffix(".json")
      val digits = id.reverse.takeWhile(_.isDigit).reverse
      val prefix = id.dropRight(digits.length)
      (prefix, if (digits.isEmpty) -1L else digits.toLong, id)
    }
    Option(logDir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("_txn-") && f.getName.endsWith(".json"))
      .sortBy(f => key(f.getName))
      .map(f => parse(f.toPath))
  }

  /** Replay every pending transaction to completion (epoch pins make
    * each step exactly-once) and clear its intent. Returns the number
    * of transactions completed. */
  def recover(logDir: Path, exec: Step => Unit, head: Step => Long): Int = {
    val ts = pending(logDir)
    ts.foreach { t =>
      apply(t, exec, head)
      Files.delete(intentPath(logDir, t.id))
    }
    ts.size
  }
}
