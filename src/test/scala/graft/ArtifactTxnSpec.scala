package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DedupIndexStore, Tables, TextIndexStore}

/** Cross-store atomic commits: a compliance delete spanning the text
  * index AND the dedup index either lands in both or is completed by
  * recovery — never left half-applied. Crash injection exercises every
  * window: before any step, between the two stores' flips, and after
  * completion; the epoch pins make recovery exactly-once (a re-run of
  * an applied delete would fail the stores' loud double-delete guard,
  * so the skip path is proven by the absence of that error AND by the
  * exec counter). */
class ArtifactTxnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))

  private def victimIds: Seq[Long] = docs.filter(col("doc_id") % 41 === 3)
    .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted

  private def victimsDf(payload: String) = {
    val ids = payload.split(",").map(_.toLong).toSeq
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** Fresh pair of stores + txn log dir. */
  private def fixture(tag: String): (String, String, java.nio.file.Path) = {
    val text = Fs.scratchDir(s"txn_text_$tag").toString
    val dedup = Fs.scratchDir(s"txn_dedup_$tag").toString
    val log = Fs.scratchDir(s"txn_log_$tag")
    TextIndexStore.build(docs, text)
    DedupIndexStore.build(docs, dedup)
    (text, dedup, log)
  }

  private def steps(text: String, dedup: String): Seq[ArtifactTxn.Step] = {
    val payload = victimIds.mkString(",")
    Seq(
      ArtifactTxn.Step("text", text, TextIndexStore.open(text).epoch + 1, payload),
      ArtifactTxn.Step("dedup", dedup, DedupIndexStore.open(dedup).epoch + 1, payload))
  }

  private def mkExec(counter: scala.collection.mutable.Map[String, Int],
                     crashOn: Option[String] = None): ArtifactTxn.Step => Unit = { st =>
    if (crashOn.contains(st.store))
      throw new RuntimeException(s"injected crash before ${st.store}")
    counter(st.store) = counter.getOrElse(st.store, 0) + 1
    st.store match {
      case "text"  => TextIndexStore.applyDelete(spark, st.dir, victimsDf(st.payload)): Unit
      case "dedup" => DedupIndexStore.applyDelete(spark, st.dir, victimsDf(st.payload)): Unit
    }
  }

  private val head: ArtifactTxn.Step => Long = st => st.store match {
    case "text"  => TextIndexStore.open(st.dir).epoch
    case "dedup" => DedupIndexStore.open(st.dir).epoch
  }

  test("happy path: both stores flip, intent cleared") {
    val (text, dedup, log) = fixture("ok")
    val ss = steps(text, dedup)
    val counter = scala.collection.mutable.Map.empty[String, Int]
    ArtifactTxn.run(log, "del-batch-1", ss, mkExec(counter), head)
    assert(counter == Map("text" -> 1, "dedup" -> 1))
    assert(TextIndexStore.open(text).epoch == ss(0).expectedEpoch)
    assert(DedupIndexStore.open(dedup).epoch == ss(1).expectedEpoch)
    assert(ArtifactTxn.pending(log).isEmpty)
  }

  test("crash between the two flips: recovery completes ONLY the missing store") {
    val (text, dedup, log) = fixture("mid")
    val ss = steps(text, dedup)
    val c1 = scala.collection.mutable.Map.empty[String, Int]
    // text commits, then the process "dies" before the dedup step
    val boom = intercept[RuntimeException](
      ArtifactTxn.run(log, "del-batch-1", ss, mkExec(c1, crashOn = Some("dedup")), head))
    assert(boom.getMessage.contains("injected crash"))
    assert(TextIndexStore.open(text).epoch == ss(0).expectedEpoch,
      "first store must have flipped before the crash")
    assert(DedupIndexStore.open(dedup).epoch == ss(1).expectedEpoch - 1,
      "second store must NOT have flipped")
    assert(ArtifactTxn.pending(log).map(_.id) == Seq("del-batch-1"),
      "intent must survive the crash")
    // recovery: text is SKIPPED by its epoch pin (re-running it would
    // trip the store's double-delete guard), dedup completes
    val c2 = scala.collection.mutable.Map.empty[String, Int]
    assert(ArtifactTxn.recover(log, mkExec(c2), head) == 1)
    assert(c2 == Map("dedup" -> 1), s"recovery re-ran wrong steps: $c2")
    assert(DedupIndexStore.open(dedup).epoch == ss(1).expectedEpoch)
    assert(ArtifactTxn.pending(log).isEmpty)
    // second recovery: nothing to do
    assert(ArtifactTxn.recover(log, mkExec(c2), head) == 0)
  }

  test("crash before any step: recovery applies the whole transaction") {
    val (text, dedup, log) = fixture("pre")
    val ss = steps(text, dedup)
    val c1 = scala.collection.mutable.Map.empty[String, Int]
    intercept[RuntimeException](
      ArtifactTxn.run(log, "t", ss, mkExec(c1, crashOn = Some("text")), head)): Unit
    assert(c1.isEmpty && head(ss(0)) == ss(0).expectedEpoch - 1)
    val c2 = scala.collection.mutable.Map.empty[String, Int]
    assert(ArtifactTxn.recover(log, mkExec(c2), head) == 1)
    assert(c2 == Map("text" -> 1, "dedup" -> 1))
    assert(head(ss(0)) == ss(0).expectedEpoch && head(ss(1)) == ss(1).expectedEpoch)
  }

  test("pending replays numerically by batch id, not lexicographically") {
    // intent files for b2 and b10: lexicographic order would replay
    // b10 first and fail b2's epoch pin; numeric order must win
    val log = Fs.scratchDir("txn_order")
    def plant(id: String): Unit =
      intercept[RuntimeException](ArtifactTxn.run(log, id,
        Seq(ArtifactTxn.Step("s", "/none", 0L, "")),
        _ => throw new RuntimeException("crash"), _ => -1L)): Unit
    Seq("b10", "b2", "b1", "b21").foreach(plant)
    assert(ArtifactTxn.pending(log).map(_.id) == Seq("b1", "b2", "b10", "b21"))
    graft.Fs.deleteRecursively(log.toFile)
  }

  test("loud failures: duplicate pending id; out-of-band writer past the pin") {
    val (text, dedup, log) = fixture("guards")
    val ss = steps(text, dedup)
    intercept[RuntimeException](
      ArtifactTxn.run(log, "dup", ss, mkExec(scala.collection.mutable.Map.empty,
        crashOn = Some("text")), head)): Unit
    // same id while its intent is pending → refused before any write
    val dup = intercept[IllegalArgumentException](
      ArtifactTxn.run(log, "dup", ss,
        mkExec(scala.collection.mutable.Map.empty), head))
    assert(dup.getMessage.contains("already pending"))
    // a pin two epochs ahead means someone else wrote the store
    val ahead = ss.map(s => s.copy(expectedEpoch = s.expectedEpoch + 5))
    val oob = intercept[RuntimeException](
      ArtifactTxn.run(log, "oob", ahead,
        mkExec(scala.collection.mutable.Map.empty), head))
    assert(oob.getMessage.contains("out-of-band"))
  }
}
