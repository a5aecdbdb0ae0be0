package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MvStoreSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def files(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.toString.matches(""".*/b\d+/e\d+/.*\.parquet"""))
      .map(f => f.toString -> ((java.nio.file.Files.size(f),
        java.nio.file.Files.getLastModifiedTime(f).toMillis))).toMap
  }

  test("refresh is delta-proportional, history-immutable; serve crosses sessions with no base scan") {
    val dir = graft.Fs.scratchDir("mvspec").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val partials = li
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"),
        count(lit(1)).as("n"))
    val cutoff = "2001-11"
    MvStore.build(partials.filter(col("m") < cutoff), dir,
      Seq("l_returnflag"), Seq("rev_cents", "qty", "n"))
    val e0Files = files(dir)
    assert(e0Files.nonEmpty, "build must publish bucket dirs")

    // refresh with one month touches exactly that month's ONE bucket
    val commit = MvStore.refresh(spark, dir, partials.filter(col("m") === cutoff))
    assert(commit.affected.length == 1,
      s"a one-month delta must touch one bucket, got ${commit.affected}")
    assert(commit.readPaths.forall(_.contains(s"b${commit.affected.head}/")),
      "merge read paths must be confined to the affected bucket")

    // history never rewritten: every epoch-0 file that survives GC is
    // byte-identical; unaffected buckets still serve their e0 dirs
    val after = files(dir)
    val surviving = e0Files.keySet.intersect(after.keySet)
    assert(surviving.nonEmpty)
    surviving.foreach(p => assert(after(p) == e0Files(p), s"rewritten: $p"))
    val liveRels = MvStore.open(dir).buckets.values.toSet
    assert(liveRels.exists(_.endsWith("/e0")) && liveRels.exists(_.endsWith("/e1")),
      s"live manifest must mix carried-forward e0 and refreshed e1 dirs: $liveRels")

    // served totals equal the direct aggregate (merge law, end to end)
    val expect = partials.groupBy(col("l_returnflag"))
      .agg(sum("rev_cents").as("rev_cents"), sum("qty").as("qty"), sum("n").as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // ...from a FRESH session: nothing in-JVM carries over but the artifact
    val s2 = spark.newSession()
    val served = MvStore.serve(s2, dir, MvStore.open(dir))
    val got = served.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, "served MV drifted from the direct aggregate")

    // zero base-table access on the serve path: the executed plan's
    // only scan location is the store dir (string form renders under
    // AQE too, same approach as PlanSweepSpec)
    val planStr = served.queryExecution.executedPlan.toString
    assert(planStr.contains(new java.io.File(dir).getName),
      "serve plan must scan the MV artifact")
    assert(!planStr.contains("lineitem"),
      "serve plan must not touch the base table")

    // snapshot AS OF epoch 0 equals the pre-cutoff aggregate
    val snap = MvStore.serve(spark, dir, MvStore.openAt(dir, 0L)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expect0 = partials.filter(col("m") < cutoff).groupBy(col("l_returnflag"))
      .agg(sum("rev_cents").as("rev_cents"), sum("qty").as("qty"), sum("n").as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(snap == expect0, "epoch-0 snapshot drifted from the pre-cutoff aggregate")
    assert(snap != got, "fixture must have cutoff-month rows or the refresh test is vacuous")

    // a lease-pinned snapshot survives refreshes whose GC would
    // expire it (manifest survives -> its bucket dirs stay referenced
    // -> the sweep spares them transitively)
    MvStore.withSnapshot(dir, 0L) { m0 =>
      (2 to MvStore.RetainEpochs + 2).foreach { _ =>
        MvStore.refresh(spark, dir, partials.filter(col("m") === cutoff).limit(0)): Unit
      }
      val pinned = MvStore.serve(spark, dir, m0).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(pinned == expect0, "leased epoch-0 snapshot must stay fully readable")
    }
    // lease released: the next refresh's GC expires it POINTEDLY
    MvStore.refresh(spark, dir, partials.filter(col("m") === cutoff).limit(0)): Unit
    val ex = intercept[IllegalStateException](MvStore.openAt(dir, 0L))
    assert(ex.getMessage.contains("snapshot expired"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("retraction refresh: (-before, +after) partials correct the view delta-proportionally") {
    val dir = graft.Fs.scratchDir("mvretr").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def partials(rows: org.apache.spark.sql.DataFrame) = rows
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"),
        count(lit(1)).as("n"))
    MvStore.build(partials(li), dir, Seq("l_returnflag"), Seq("rev_cents", "qty", "n"))
    val months = Seq("2001-09", "2001-10")
    val affected = li
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .filter(col("l_orderkey") % 97 === 0 && col("m").isin(months: _*))
      .drop("m")
    assert(affected.count() > 0, "correction rule must hit fixture rows")
    val negOld = partials(affected)
      .select(col("m"), col("l_returnflag"), (-col("rev_cents")).as("rev_cents"),
        (-col("qty")).as("qty"), (-col("n")).as("n"))
    val addNew = partials(affected.withColumn("l_quantity", col("l_quantity") + 1))
    val commit = MvStore.refresh(spark, dir, negOld.unionByName(addNew))
    // corrections are temporally local -> the refresh touched only the
    // correction months' buckets, never the history
    val monthBuckets = months
      .map(m => math.floorMod(spark.range(1).select(hash(lit(m))).head.getInt(0),
        MvStore.NumBuckets)).toSet
    assert(commit.affected.toSet == monthBuckets,
      s"retraction touched ${commit.affected}, expected month buckets $monthBuckets")
    // the corrected view equals a direct aggregate over corrected facts
    val corrected = li.withColumn("l_quantity",
      when(col("l_orderkey") % 97 === 0 &&
        date_format(col("l_shipdate"), "yyyy-MM").isin(months: _*),
        col("l_quantity") + 1).otherwise(col("l_quantity")))
    val expect = partials(corrected).groupBy(col("l_returnflag"))
      .agg(sum("rev_cents").as("rev_cents"), sum("qty").as("qty"), sum("n").as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = MvStore.serve(spark, dir, MvStore.open(dir)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, "retraction-merged view drifted from the corrected aggregate")
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("change feed between epochs is the refresh's net effect, read change-proportionally") {
    val dir = graft.Fs.scratchDir("mvfeed").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val partials = li
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"),
        count(lit(1)).as("n"))
    val cutoff = "2001-11"
    MvStore.build(partials.filter(col("m") < cutoff), dir,
      Seq("l_returnflag"), Seq("rev_cents", "qty", "n"))
    val commit = MvStore.refresh(spark, dir, partials.filter(col("m") === cutoff))

    val feed = MvStore.changeFeed(spark, dir, 0L, 1L)
    // change-proportional: every file read lives in a CHANGED bucket
    // (the refreshed bucket's e0/e1 dirs), never the full view
    val touched = feed.inputFiles.toSeq
    assert(touched.nonEmpty)
    val okDirs = commit.affected.map(b => s"/b$b/").toSet
    touched.foreach(p => assert(okDirs.exists(p.contains),
      s"feed read outside the changed buckets: $p"))

    // net effect = the cutoff month's direct aggregate
    val expect = partials.filter(col("m") === cutoff)
      .groupBy(col("l_returnflag"))
      .agg(sum("rev_cents").as("rev_cents"), sum("qty").as("qty"), sum("n").as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = feed.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, "feed drifted from the refresh's net effect")

    // applying the feed to the epoch-0 view reproduces epoch 1 exactly
    // (the additive merge law the consumer relies on)
    val v0 = MvStore.serve(spark, dir, MvStore.openAt(dir, 0L)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val v1 = MvStore.serve(spark, dir, MvStore.openAt(dir, 1L)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val applied = (v0.keySet ++ got.keySet).map { k =>
      val (a1, a2, a3) = v0.getOrElse(k, (0L, 0L, 0L))
      val (d1, d2, d3) = got.getOrElse(k, (0L, 0L, 0L))
      k -> ((a1 + d1, a2 + d2, a3 + d3))
    }.toMap
    assert(applied == v1, "epoch0 + feed != epoch1 — merge law broken")

    // degenerate span is rejected loudly, not returned empty
    val bad = intercept[IllegalArgumentException](
      MvStore.changeFeed(spark, dir, 1L, 1L))
    assert(bad.getMessage.contains("from < to"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("hll merge kind: sketch partials refresh incrementally, merge law exact, feed refused") {
    val dir = graft.Fs.scratchDir("mvhll").toString
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val evn = graft.ops.Tables.normalizeEventTs(ev, s"$sf/events.parquet")
    val partials = evn
      .withColumn("m", date_format(col("ts"), "yyyy-MM"))
      .groupBy(col("m"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val maxM = partials.agg(max(col("m"))).head.getString(0)
    val m0 = MvStore.build(partials.filter(col("m") < maxM), dir,
      Seq("event_type"), Seq("sk"), kinds = Seq("hll"))
    assert(m0.kinds == Seq("hll") && MvStore.open(dir).kinds == Seq("hll"),
      "merge kind must persist in the manifest")
    val commit = MvStore.refresh(spark, dir, partials.filter(col("m") === maxM))
    // delta-proportional: only the max month's bucket was touched
    assert(commit.affected.size == 1, s"one-month delta hit ${commit.affected}")
    // merge law EXACT for HLL union: the served union-of-partials
    // estimates bit-identically to ONE sketch over all events
    val served = MvStore.serve(spark, dir, MvStore.open(dir))
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = evn.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served == oneShot,
      s"union of monthly sketches must estimate exactly like one sketch: $served vs $oneShot")
    // ...and lands within 5% of exact
    val exact = evn.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(math.abs(served(t) - n) * 100 <= n * 5, s"$t: est ${served(t)} vs exact $n")
    }
    // sketches have no subtraction: the change feed refuses pointedly
    val e = intercept[IllegalArgumentException](
      MvStore.changeFeed(spark, dir, 0L, 1L))
    assert(e.getMessage.contains("summable"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("fan-out is a persisted build parameter; reshard re-layouts in one flip and refreshes route under it") {
    val dir = graft.Fs.scratchDir("mvreshard").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val partials = li
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
    val cutoff = partials.agg(max(col("m"))).head.getString(0)
    // NON-default fan-out recorded in the manifest
    val m0 = MvStore.build(partials.filter(col("m") < cutoff), dir,
      Seq("l_returnflag"), Seq("rev_cents"), numBuckets = 4)
    assert(m0.numBuckets == 4)
    assert(MvStore.open(dir).numBuckets == 4, "fan-out must persist in the manifest")
    def served(m: MvStore.MvManifest) =
      MvStore.serve(spark, dir, m).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = served(m0)
    // reshard to 16: one epoch, same answer, refreshes route at 16
    val m1 = MvStore.reshard(spark, dir, 16)
    assert(m1.epoch == m0.epoch + 1, "reshard took more than one epoch")
    assert(m1.numBuckets == 16)
    assert(m1.keys == m0.keys && m1.aggs == m0.aggs && m1.types == m0.types,
      "view definition must carry through a reshard")
    assert(served(m1) == before, "reshard changed served values")
    val commit = MvStore.refresh(spark, dir, partials.filter(col("m") === cutoff))
    assert(commit.affected.forall(b => b >= 0 && b < 16),
      s"post-reshard refresh must route under the new fan-out, got ${commit.affected}")
    assert(commit.affected.length == 1,
      "one-month delta still touches one bucket after the reshard")
    // the refreshed view equals a from-scratch aggregate over all months
    val expect = partials.groupBy(col("l_returnflag"))
      .agg(sum(col("rev_cents")).as("rev_cents")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served(MvStore.open(dir)) == expect)
  }

  test("change feed over an EMPTY view yields an empty frame, not a throw") {
    // the dual-sink bootstraps its MV with an empty epoch 0; a feed
    // spanning two no-change epochs (or any span over a bucket-less
    // manifest) must return zero rows with the view schema — the old
    // serve(...).limit(0) shortcut required a non-empty bucket set
    val dir = graft.Fs.scratchDir("mvfeed_empty").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val partials = li
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty"),
        count(lit(1)).as("n"))
    MvStore.build(partials.limit(0), dir, Seq("l_returnflag"), Seq("qty", "n")) // e0: EMPTY
    MvStore.refresh(spark, dir, partials.limit(0)): Unit                        // e1: still empty
    val feed = MvStore.changeFeed(spark, dir, 0L, 1L)
    assert(feed.columns.toSeq == Seq("l_returnflag", "qty", "n"))
    assert(feed.count() == 0L)
    // and a non-empty view's no-change span still uses the stored schema
    MvStore.refresh(spark, dir, partials.filter(col("m") === "2001-10")): Unit  // e2: data
    MvStore.refresh(spark, dir, partials.limit(0)): Unit                        // e3: no change
    val quiet = MvStore.changeFeed(spark, dir, 2L, 3L)
    assert(quiet.columns.toSeq == Seq("l_returnflag", "qty", "n") && quiet.count() == 0L)
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("lease-pinned change feed survives concurrent retention GC, expires after release") {
    val dir = graft.Fs.scratchDir("mvfeedlease").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = li.withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"),
        count(lit(1)).as("n"))
    MvStore.build(p.filter(col("m") < "2001-09"), dir,
      Seq("l_returnflag"), Seq("rev_cents", "qty", "n"))           // e0
    MvStore.refresh(spark, dir, p.filter(col("m") === "2001-09")): Unit // e1
    MvStore.refresh(spark, dir, p.filter(col("m") === "2001-10")): Unit // e2
    val expect = p.filter(col("m") === "2001-09").groupBy(col("l_returnflag"))
      .agg(sum("rev_cents").as("r"), sum("qty").as("q"), sum("n").as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    MvStore.withChangeFeed(spark, dir, 0L, 1L) { feed =>
      // a refresh and a retain=1 GC would evict epochs 0 and 1 — the
      // leases spare them, so the pinned feed still reads complete
      // files afterwards
      val head = MvStore.refresh(spark, dir, p.filter(col("m") === "2001-10")).manifest.epoch
      MvStore.gc(dir, head, retain = 1)
      val got = feed.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expect, "leased feed lost data under concurrent GC")
    }
    // leases released: the next GC pass evicts the endpoints, and the
    // bare feed fails POINTEDLY rather than reading a partial view
    val head = MvStore.refresh(spark, dir, p.filter(col("m") === "2001-10")).manifest.epoch
    MvStore.gc(dir, head, retain = 1)
    val gone = intercept[IllegalStateException](
      MvStore.changeFeed(spark, dir, 0L, 1L))
    assert(gone.getMessage.contains("snapshot expired"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("retraction refresh surfaces in the feed as signed deltas with zero rows suppressed") {
    val dir = graft.Fs.scratchDir("mvfeedneg").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def partials(src: org.apache.spark.sql.DataFrame) = src
      .withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("m"), col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(round(col("l_quantity")).cast("long")).as("qty"),
        count(lit(1)).as("n"))
    MvStore.build(partials(li), dir, Seq("l_returnflag"), Seq("rev_cents", "qty", "n"))
    // correction: +1 qty on a sliver of rows — rev_cents and n unchanged,
    // so the feed's qty column is the ONLY nonzero delta
    val affected = li.filter(col("l_orderkey") % 97 === 0)
    val retract = partials(affected)
      .select(col("m"), col("l_returnflag"), (-col("rev_cents")).as("rev_cents"),
        (-col("qty")).as("qty"), (-col("n")).as("n"))
    val corrected = partials(affected.withColumn("l_quantity", col("l_quantity") + 1))
    MvStore.refresh(spark, dir, retract.unionByName(corrected))

    val feed = MvStore.changeFeed(spark, dir, 0L, 1L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expect = affected.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> ((0L, r.getLong(1), 0L))).toMap
    assert(feed == expect,
      s"retraction feed must be (0, +count, 0) per flag: got $feed want $expect")
    graft.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("schema-driven store: a join-shaped view round-trips build → refresh → serve") {
    val dir = graft.Fs.scratchDir("mvjoin_spec").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_extendedprice"),
        ((col("l_orderkey") + col("l_linenumber")) % 5 === 0).as("ld"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_orderkey") % 7 === 0).as("od"))
    def partials(l: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"), col("o_orderpriority"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
          count(lit(1)).as("n"))
    MvStore.build(partials(li.filter(!col("ld")), ord.filter(!col("od"))), dir,
      Seq("o_orderpriority"), Seq("rev_cents", "n"))
    // the manifest carries the view definition, not the code
    val m0 = MvStore.open(dir)
    assert(m0.keys == Seq("o_orderpriority") && m0.aggs == Seq("rev_cents", "n"))
    val deltas = partials(li.filter(col("ld")), ord.filter(!col("od")))
      .unionByName(partials(li.filter(!col("ld")), ord.filter(col("od"))))
      .unionByName(partials(li.filter(col("ld")), ord.filter(col("od"))))
    MvStore.refresh(spark, dir, deltas): Unit
    // a second session (fresh catalog/conf) serves from the artifact
    // alone — the declared schema drives the reduce, zero caller code
    val s2 = spark.newSession()
    val got = MvStore.serve(s2, dir, MvStore.open(dir)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect, "served join view drifted from the direct full-join aggregate")
    // a build whose partials disagree with the declared view fails loudly
    val bad = intercept[IllegalArgumentException](
      MvStore.build(partials(li, ord), dir + "_bad", Seq("nope"), Seq("rev_cents", "n")))
    assert(bad.getMessage.contains("declared view"))
    graft.Fs.deleteRecursively(new java.io.File(dir))
    graft.Fs.deleteRecursively(new java.io.File(dir + "_bad"))
  }
}
