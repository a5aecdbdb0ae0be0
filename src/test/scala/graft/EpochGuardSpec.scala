package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The reader-lease vs retention-GC handshake, exercised at exactly
  * the interleavings that matter. The generic protocol lives in
  * [[EpochGuard]]; the upsert state table and the ANN index store
  * both delegate to it (their own specs keep the integration-level
  * interleavings over real manifests). */
class EpochGuardSpec extends AnyFunSuite {

  private def tmp(): Path = Fs.scratchDir("epoch_guard")
  private def manifest(dir: Path, e: Long): Path = dir.resolve(s"_manifest-e$e.json")
  private def plant(dir: Path, e: Long): Unit = {
    Files.writeString(manifest(dir, e), s"""{"epoch":$e}"""); ()
  }

  test("THE closed race: a lease landing between GC's intent and its lease list is seen") {
    // Round-10's documented residual, reproduced deterministically:
    // the reader's lease lands at the exact instant the old protocol
    // missed it (after GC decided to collect, before its delete).
    // With the intent handshake, GC's post-intent lease listing must
    // see it and spare the epoch.
    val dir = tmp()
    plant(dir, 3)
    var deleted = false
    EpochGuard.guardedDelete(dir, 3, afterIntent = () => {
      // the racing reader: publishes its lease at the vulnerable point
      Files.writeString(EpochGuard.leasePath(dir, 3, "racer"), """{"epoch":3}""")
      ()
    }) { deleted = true }
    assert(!deleted, "GC must see a lease that lands after its intent")
    assert(Files.exists(manifest(dir, 3)))
    assert(!Files.exists(EpochGuard.intentPath(dir, 3)), "intent must be cleared")
  }

  test("unleased epoch is deleted and the intent is always cleared (even on throw)") {
    val dir = tmp()
    plant(dir, 1)
    EpochGuard.guardedDelete(dir, 1) { Files.delete(manifest(dir, 1)) }
    assert(!Files.exists(manifest(dir, 1)))
    assert(!Files.exists(EpochGuard.intentPath(dir, 1)))
    plant(dir, 2)
    intercept[RuntimeException](
      EpochGuard.guardedDelete(dir, 2) { throw new RuntimeException("boom") })
    assert(!Files.exists(EpochGuard.intentPath(dir, 2)),
      "intent leaked after a failed delete")
  }

  test("reader waits out a live GC pass's intent, then reads the surviving epoch") {
    // GC published an intent but will spare the epoch (it saw our
    // lease); the reader must WAIT for the intent to clear rather
    // than race the delete decision.
    val dir = tmp()
    plant(dir, 5)
    Files.writeString(EpochGuard.intentPath(dir, 5), """{"epoch":5}""")
    val clearer = new Thread(() => {
      Thread.sleep(300)
      Files.delete(EpochGuard.intentPath(dir, 5))
    })
    val t0 = System.nanoTime()
    clearer.start()
    val got = EpochGuard.withLease(dir, 5, Files.exists(manifest(dir, 5)), "t") { 42 }
    clearer.join()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(got == 42)
    assert(elapsedMs >= 250, s"reader did not wait out the intent ($elapsedMs ms)")
  }

  test("reader fails pointedly when GC wins under the intent — never a partial view") {
    // GC deleted the manifest; its intent is still up. The reader's
    // alive-recheck inside the wait loop must fail fast and pointed.
    val dir = tmp()
    Files.writeString(EpochGuard.intentPath(dir, 7), """{"epoch":7}""")
    val err = intercept[IllegalStateException](
      EpochGuard.withLease(dir, 7, Files.exists(manifest(dir, 7)), "t")(fail()))
    assert(err.getMessage.contains("snapshot expired"), err.getMessage)
    // no stray lease left behind
    assert(EpochGuard.leasedEpochs(dir).isEmpty)
  }

  test("a crashed GC's stale intent delays but does not block the reader") {
    // Intent never clears (the GC that wrote it is gone) but the
    // manifest is alive: after the bounded wait the reader proceeds —
    // a crashed GC deletes nothing further, so this is safe, and the
    // bound is the protocol's stated liveness assumption.
    val dir = tmp()
    plant(dir, 9)
    Files.writeString(EpochGuard.intentPath(dir, 9), """{"epoch":9}""")
    val t0 = System.nanoTime()
    val got = EpochGuard.withLease(dir, 9, Files.exists(manifest(dir, 9)),
      "t", waitMs = 200) { 7 }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(got == 7)
    assert(elapsedMs >= 180, s"expected the bounded wait, got $elapsedMs ms")
  }

  test("lease is released on success and on body failure") {
    val dir = tmp()
    plant(dir, 11)
    EpochGuard.withLease(dir, 11, true, "t") { () }
    assert(EpochGuard.leasedEpochs(dir).isEmpty)
    intercept[RuntimeException](
      EpochGuard.withLease(dir, 11, true, "t") { throw new RuntimeException("x") })
    assert(EpochGuard.leasedEpochs(dir).isEmpty, "lease leaked after body failure")
  }
}
