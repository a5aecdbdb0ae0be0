package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.dump.DumpConverter
import graft.ops.{AnnIndexStore, DedupIndexStore, GovernedTable, MvStore, TextIndexStore}
import graft.streaming.StreamingOps.{UpsertManifest, UpsertTable}

/** On-disk compatibility of the shared manifest codec. For each of the
  * six epoch stores: the JSON exactly as the stores' earlier
  * hand-written renderers wrote it, plus one legacy form per optional
  * field that older manifests lack, parses to the expected case class;
  * render → parse round-trips; the rendered text starts with `epoch`
  * (the [[ManifestIo.pointerEpoch]] fast path); and a commit reads back
  * through `open` and `openAt`. The converter's completion-manifest
  * entries are pinned the same way. No Spark session is needed. */
class EpochStoreSpec extends AnyFunSuite {

  private def tmp(): Path = Fs.scratchDir("epoch_store")

  /** `m` back through the text codec and through a commit to disk. */
  private def roundTrips(store: EpochStore)(m: store.M): Seq[store.M] = {
    val json = store.render(m)
    assert("""^\{"epoch":""".r.findFirstIn(json).isDefined, json)
    val dir = tmp()
    store.commit(dir.toString, m)
    assert(ManifestIo.pointerEpoch(dir).contains(m.epoch))
    Seq(store.parse(json), store.open(dir.toString), store.openAt(dir.toString, m.epoch))
  }

  test("ANN index manifest: golden JSON, pre-PQ form, positional centroids, round trip") {
    import AnnIndexStore.AnnManifest
    def view(m: AnnManifest) = (m.epoch, m.centroids.map { case (i, v) => i -> v.toSeq },
      m.cells, m.codebooks.map(_.map(_.toSeq)))
    val m = AnnManifest(4L, Seq(0 -> Array(0.5, -1.0), 1 -> Array(2.0, 1.0E-7)),
      Map(0 -> "c0/e4", 1 -> "c1/e2"), Seq(Seq(Array(0.25, 0.75), Array(1.0, 0.0))))
    val golden = """{"epoch":4,"centroids":[[0.5,-1.0],[2.0,1.0E-7]],""" +
      """"cells":{"0":"c0/e4","1":"c1/e2"},"codebooks":[[[0.25,0.75],[1.0,0.0]]]}"""
    assert(view(AnnIndexStore.parse(golden)) == view(m))
    val prePq = """{"epoch":4,"centroids":[[0.5,-1.0],[2.0,1.0E-7]],""" +
      """"cells":{"0":"c0/e4","1":"c1/e2"}}"""
    assert(view(AnnIndexStore.parse(prePq)) == view(m.copy(codebooks = Seq.empty)))
    // integral centroid values written without a fraction still read
    assert(view(AnnIndexStore.parse(
      """{"epoch":0,"centroids":[[1,2]],"cells":{}}"""))._2 == Seq(0 -> Seq(1.0, 2.0)))
    roundTrips(AnnIndexStore)(m).foreach(back => assert(view(back) == view(m)))
    // centroids render in id order: an unsorted manifest reads back sorted
    roundTrips(AnnIndexStore)(m.copy(centroids = m.centroids.reverse))
      .foreach(back => assert(view(back) == view(m)))
  }

  test("text index manifest: golden JSON, pre-tombstone and pre-numBuckets forms, round trip") {
    import TextIndexStore.TextManifest
    val m = TextManifest(3L, 10L, 57L, Map(0 -> "b0/e0", 5 -> "b5/e3"), "stats/e3",
      Seq("docs/e0", "docs/e3"), Seq("dels/e2"), 32)
    val golden = """{"epoch":3,"nDocs":10,"sumDl":57,"numBuckets":32,""" +
      """"buckets":{"0":"b0/e0","5":"b5/e3"},"stats":"stats/e3",""" +
      """"docs":["docs/e0","docs/e3"],"dels":["dels/e2"]}"""
    assert(TextIndexStore.parse(golden) == m)
    assert(TextIndexStore.parse(golden.replace(""","dels":["dels/e2"]""", "")) ==
      m.copy(dels = Nil))
    assert(TextIndexStore.parse(golden.replace(""""numBuckets":32,""", "")) ==
      m.copy(numBuckets = TextIndexStore.NumBuckets))
    roundTrips(TextIndexStore)(m).foreach(back => assert(back == m))
  }

  test("dedup index manifest: golden JSON, pre-delete and pre-fan-out forms, round trip") {
    import DedupIndexStore.DedupManifest
    val m = DedupManifest(2L, 9L, Map(1 -> "b1/e2", 7 -> "b7/e0"),
      Seq("docs/e0", "docs/e2"), Seq("dels/e1"), 32, 8)
    val golden = """{"epoch":2,"nDocs":9,"numBuckets":32,"docBuckets":8,""" +
      """"buckets":{"1":"b1/e2","7":"b7/e0"},"docs":["docs/e0","docs/e2"],""" +
      """"dels":["dels/e1"]}"""
    assert(DedupIndexStore.parse(golden) == m)
    assert(DedupIndexStore.parse(golden.replace(""","dels":["dels/e1"]""", "")) ==
      m.copy(dels = Nil))
    assert(DedupIndexStore.parse(golden.replace(""""numBuckets":32,""", "")) ==
      m.copy(numBuckets = DedupIndexStore.NumBuckets))
    assert(DedupIndexStore.parse(golden.replace(""""docBuckets":8,""", "")) ==
      m.copy(docBuckets = DedupIndexStore.DocBuckets))
    roundTrips(DedupIndexStore)(m).foreach(back => assert(back == m))
  }

  test("MV manifest: golden JSON, pre-kind, pre-type and pre-numBuckets forms, round trip") {
    import MvStore.MvManifest
    val m = MvManifest(5L, Seq("event_type"), Seq("n", "u"),
      Map(0 -> "b0/e5", 3 -> "b3/e1"), Seq("sum", "hll"),
      Seq("string", "bigint", "binary"), 4)
    val golden = """{"epoch":5,"keys":["event_type"],"aggs":["n","u"],""" +
      """"kinds":["sum","hll"],"types":["string","bigint","binary"],""" +
      """"numBuckets":4,"buckets":{"0":"b0/e5","3":"b3/e1"}}"""
    assert(MvStore.parse(golden) == m)
    // pre-kind manifests merged every agg as a sum
    assert(MvStore.parse(golden.replace(""""kinds":["sum","hll"],""", "")) ==
      m.copy(kinds = Seq("sum", "sum")))
    assert(MvStore.parse(golden.replace(""""types":["string","bigint","binary"],""", "")) ==
      m.copy(types = Nil))
    assert(MvStore.parse(golden.replace(""""numBuckets":4,""", "")) ==
      m.copy(numBuckets = MvStore.NumBuckets))
    roundTrips(MvStore)(m).foreach(back => assert(back == m))
    roundTrips(MvStore)(m.copy(kinds = Nil))
      .foreach(back => assert(back == m.copy(kinds = Seq("sum", "sum"))))
  }

  test("governed table manifest: golden JSON, pre-ingest, pre-window and pre-mapping forms, round trip") {
    import GovernedTable.Manifest
    val m = Manifest(6L, Seq("e0", "e2-w1"), Map(1L -> 2L, 2L -> -3L), 2L,
      Seq(1 -> "id", 2 -> "amount"), Map("e0" -> Map(1 -> "id", 2 -> "amt")),
      Map(2 -> "decimal(12,2)"))
    val golden = """{"epoch":6,"segments":["e0","e2-w1"],"batches":{"1":2,"2":-3},""" +
      """"batchHwm":2,"cols":[[1,"id"],[2,"amount"]],""" +
      """"segCols":{"e0":{"1":"id","2":"amt"}},"colTypes":{"2":"decimal(12,2)"}}"""
    assert(GovernedTable.parse(golden) == m)
    assert(GovernedTable.parse(golden.replace(""""batches":{"1":2,"2":-3},"batchHwm":2,""", "")) ==
      m.copy(batches = Map.empty, batchHwm = -1L))
    // pre-window manifests: the hwm is the max recorded batch id
    assert(GovernedTable.parse(golden.replace(""""batchHwm":2,""", "")) == m)
    val preMapping = """{"epoch":6,"segments":["e0","e2-w1"],"batches":{"1":2,"2":-3},"batchHwm":2}"""
    assert(GovernedTable.parse(preMapping) ==
      m.copy(cols = Nil, segCols = Map.empty, colTypes = Map.empty))
    roundTrips(GovernedTable)(m).foreach(back => assert(back == m))
    // caller-supplied names stay restricted to the safe alphabet
    intercept[IllegalArgumentException](GovernedTable.render(m.copy(segments = Seq("e\"0"))))
    intercept[IllegalArgumentException](GovernedTable.render(m.copy(cols = Seq(1 -> "a b"))))
  }

  test("upsert state table manifest: golden JSON, pre-numBuckets form, round trip") {
    val m = UpsertManifest(7L, Map(0 -> "b0/e7", 12 -> "b12/e5"), 32)
    val golden = """{"epoch":7,"numBuckets":32,"buckets":{"0":"b0/e7","12":"b12/e5"}}"""
    assert(UpsertTable.parse(golden) == m)
    assert(UpsertTable.parse(golden.replace(""""numBuckets":32,""", "")) ==
      UpsertManifest(7L, Map(0 -> "b0/e7", 12 -> "b12/e5")))
    roundTrips(UpsertTable)(m).foreach(back => assert(back == m))
  }

  test("every store fails the same way for an unretained epoch and a missing store") {
    val dir = tmp()
    (0L to 4L).foreach(e => UpsertTable.commit(dir.toString, UpsertManifest(e, Map.empty)))
    UpsertTable.gc(dir.toString, 4L, UpsertTable.RetainEpochs)
    assert(UpsertTable.listEpochs(dir.toString) == Seq(2L, 3L, 4L))
    val err = intercept[IllegalStateException](UpsertTable.openAt(dir.toString, 1L))
    assert(err.getMessage.contains("snapshot expired") && err.getMessage.contains("not retained"),
      err.getMessage)
    val missing = intercept[IllegalArgumentException](TextIndexStore.open(tmp().toString))
    assert(missing.getMessage.contains("no text index at "), missing.getMessage)
  }

  test("converter completion-manifest entries keep their JSON shape, quotes and backslashes included") {
    val out = tmp()
    val conf = new org.apache.hadoop.conf.Configuration()
    val table = "we\"ird\\name"
    DumpConverter.writeManifestEntry(conf, out.toString, table, 12L, "ab12")
    val entries = out.resolve(DumpConverter.ManifestDir).toFile.listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(entries.length == 1)
    assert(Files.readString(entries.head.toPath) ==
      """{"table":"we\"ird\\name","rows":12,"fingerprint":"ab12"}""")
    // an entry as earlier releases wrote it still resumes; a stale
    // fingerprint does not
    Files.writeString(out.resolve(DumpConverter.ManifestDir).resolve("orders.json"),
      """{"table":"orders","rows":5,"fingerprint":"ab12"}""")
    Files.writeString(out.resolve(DumpConverter.ManifestDir).resolve("users.json"),
      """{"table":"users","rows":3,"fingerprint":"old"}""")
    Seq(table, "orders", "users").foreach(t => Files.createDirectories(out.resolve(t)))
    assert(DumpConverter.completedTables(conf, out.toString, "ab12") ==
      Map(table -> 12L, "orders" -> 5L))
  }

  test("cross-store txn intents keep their JSON shape, and an earlier-format intent still parses") {
    // an intent exactly as the earlier hand-written renderer wrote it
    val golden = """{"id":"b3","steps":[{"store":"mv","dir":"/t/we\"ird\\mv",""" +
      """"expectedEpoch":4,"payload":"a\nb"},""" +
      """{"store":"upsert","dir":"/t/st","expectedEpoch":3,"payload":""}]}"""
    val steps = Seq(ArtifactTxn.Step("mv", "/t/we\"ird\\mv", 4L, "a\nb"),
      ArtifactTxn.Step("upsert", "/t/st", 3L, ""))
    val log = tmp()
    Files.writeString(log.resolve("_txn-b3.json"), golden)
    assert(ArtifactTxn.pending(log) == Seq(ArtifactTxn.Txn("b3", steps)))
    // a crash after the intent leaves it on disk byte-identical
    val fresh = tmp()
    intercept[RuntimeException](ArtifactTxn.run(fresh, "b3", steps,
      _ => throw new RuntimeException("injected crash"), _ => 3L))
    assert(Files.readString(fresh.resolve("_txn-b3.json")) == golden)
  }
}
