package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** conv_scale: the converter at minPartitions ≫ tables — every
  * partition boundary runs the heal path and both fact tables are
  * written from many parse tasks. Value-exactness is asserted against the same
  * aggregate computed directly over the ORIGINAL parquet (the shape the
  * DuckDB oracle replays at sf0.01). */
class ConverterQueriesSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("conv_scale heals many partition boundaries and stays value-exact") {
    val converted = ConverterQueries.conv_scale(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
        min(col("l_shipdate")).as("min_ship"), max(col("l_shipdate")).as("max_ship"))
    val o = Tables.orders(spark, sf)
      .agg(count(lit(1)).as("o_n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("o_price_cents"))
    val direct = li.crossJoin(o)
      .orderBy(col("l_returnflag"), col("l_linestatus")).collect()
    assert(converted.nonEmpty)
    assert(converted.toSeq == direct.toSeq)
  }

  test("corrupt-file skip: default read fails loudly, tolerant read returns the good rows") {
    // build the planted-garbage layout via the registered query (memoized)
    val good = ConverterQueries.src_corrupt_skip(spark, sf).collect()
    assert(good.map(_.getLong(1)).sum == Tables.nation(spark, sf).count())
    // same directory WITHOUT the option: the garbage file fails the scan
    val dir = ConverterQueries.src_corrupt_skip(spark, sf) // ensure layout exists
    dir.count() // force
    val layoutDir = {
      val base = new java.io.File(System.getProperty("java.io.tmpdir"))
      base.listFiles().filter(_.getName.startsWith("graft_corrupt_nation"))
        .maxBy(_.lastModified).getAbsolutePath
    }
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.parquet(layoutDir).count()
    }
    assert(e.getMessage != null)
  }

  test("scale dump fixture is memoized per (session, dir) and non-trivial") {
    val p1 = ConverterQueries.scaleDumpFile(spark, sf)
    val p2 = ConverterQueries.scaleDumpFile(spark, sf)
    assert(p1 eq p2, "fixture must be built once per session+dir")
    // at sf0.001 the dump is already ~0.5 MB of SQL text spanning both
    // fact tables — dozens of partition boundaries at minPartitions=32
    assert(java.nio.file.Files.size(p1) > 200 * 1024)
  }

  test("z-order layout skips files a single-column sort cannot") {
    val (total, hitZ, hitLin) = ConverterQueries.zorderFileStats(spark, sf)
    // the layout under test actually fanned out into many files
    assert(total >= 8, s"expected a multi-file layout, got $total")
    // a y-selective box is invisible to a layout sorted on l_orderkey:
    // every file's suppkey min/max spans the box
    assert(hitLin == total, s"linear layout unexpectedly pruned: $hitLin/$total")
    // the z-ordered layout reads at most half the files
    assert(hitZ * 2 <= hitLin, s"z-order did not skip: $hitZ vs $hitLin")
    // and the flagged result row agrees
    val row = ConverterQueries.src_zorder_skip(spark, sf).head
    assert(row.getBoolean(row.fieldIndex("prune_ok")))
    assert(row.getLong(row.fieldIndex("n")) > 0)
  }

  test("partition evolution: each segment prunes under its own layout, both eras served") {
    import org.apache.spark.sql.functions._
    val dir = ConverterQueries.evolvedOrdersDir(spark, sf)
    // the witness query serves rows from BOTH eras (old layout AND
    // evolved layout) — otherwise the union is vacuous
    val got = ConverterQueries.src_partition_evolution(spark, sf).collect()
    val months = got.map(_.getString(0)).distinct.sorted
    assert(months.toSeq == Seq("1995-03", "1999-03"),
      s"expected one month from each era, got ${months.toSeq}")
    // inspect each scan's PartitionFilters BRACKET (the scan line also
    // mentions columns in PushedFilters/ReadSchema — don't grep those)
    def partitionFilters(plan: String): Seq[String] =
      "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    // month filter is a PartitionFilter on BOTH segment scans
    val plan = ConverterQueries.src_partition_evolution(spark, sf)
      .queryExecution.executedPlan.toString
    val monthPruned = partitionFilters(plan).count(_.contains("o_month"))
    assert(monthPruned >= 2, s"month must partition-prune both layouts:\n${plan.take(3000)}")
    // a status filter partition-prunes ONLY the evolved segment: the
    // old layout's scan carries it as a data filter
    val statusPlan = graft.ops.GovernedTable.read(spark, dir)
      .filter(col("o_month") === "1999-03" && col("o_orderstatus") === "O")
      .queryExecution.executedPlan.toString
    val statusPruned = partitionFilters(statusPlan).count(_.contains("o_orderstatus"))
    assert(statusPruned == 1,
      s"status must partition-prune exactly the evolved layout:\n${statusPlan.take(3000)}")
    // directory-level proof that the evolved layout physically
    // separates statuses (so the PartitionFilter above skips real
    // directories, not a single degenerate one)
    val monthDir = java.nio.file.Paths.get(dir, "e1", "o_month=1999-03")
    val statusDirs = scala.util.Using.resource(java.nio.file.Files.list(monthDir))(
      _.filter(p => java.nio.file.Files.isDirectory(p)).count())
    assert(statusDirs > 1,
      s"evolved layout has $statusDirs status dirs under 1999-03 — pruning vacuous")
  }

  test("layout compaction: one segment, both eras status-pruned, time travel intact") {
    import org.apache.spark.sql.functions._
    val dir = ConverterQueries.compactedOrdersDir(spark, sf)
    val m = graft.ops.GovernedTable.open(dir)
    assert(m.epoch == 2L && m.segments == Seq("e2"),
      s"compaction must leave exactly one live segment, got ${m.segments}")
    // rows identical to the two-layout table (observational no-op)
    val compacted = ConverterQueries.src_evolution_compacted(spark, sf).collect().toSeq
    val evolved = ConverterQueries.src_partition_evolution(spark, sf).collect().toSeq
    assert(compacted == evolved, "compaction changed served rows")
    // a status filter now partition-prunes the PRE-1998 era too: one
    // scan, PartitionFilters carrying both columns
    val plan = graft.ops.GovernedTable.read(spark, dir)
      .filter(col("o_month") === "1995-03" && col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    assert(pf.length == 1 && pf.head.contains("o_month") &&
      pf.head.contains("o_orderstatus"),
      s"compacted scan must prune on both columns:\n${plan.take(3000)}")
    // time travel: the pre-compaction epochs still serve through
    // their own manifests — epoch 1 the full table, epoch 0 only the
    // pre-1998 era
    assert(graft.ops.GovernedTable.readAt(spark, dir, 1L).count() ==
      graft.ops.GovernedTable.read(spark, dir).count())
    val e0 = graft.ops.GovernedTable.readAt(spark, dir, 0L)
    assert(e0.filter(col("o_month") >= "1998-01").count() == 0)
  }
}
