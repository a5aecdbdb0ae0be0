package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.dump.{DumpConverter, DumpRenderer}

/** The converter one decade up from ConvScaleBench's 53 MB fixture:
  * lineitem replicated 10× with disjoint order-key ranges (sf1-ish —
  * 6M rows, ~0.5 GB of SQL text), rendered ONCE to a reusable dump
  * under java.io.tmpdir, then converted at several split counts. This
  * is the parse-dominated regime the 53 MB table says little about
  * (its ~1.8 s fixed tail is near the floor) — the SCALING.md decade
  * row comes from here.
  *
  * Run: sbt 'Test/runMain graft.ops.ConvDecadeBench'
  * (optional args: fixture dir, replication factor) */
object ConvDecadeBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(10)
    val dumpPath = Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_decade_dump_x$reps.sql")
    if (!Files.exists(dumpPath)) {
      val t0 = System.nanoTime()
      val li = Tables.lineitem(spark, sf)
        .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      val maxOk = li.agg(max("l_orderkey")).head.getLong(0) + 1
      // one big table: each replica's keys shifted into a disjoint
      // range, so the dump is a plausible sf1 lineitem, not 10 copies
      val big = (0 until reps).map { k =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * maxOk))
      }.reduce(_ unionByName _)
      val w = Files.newBufferedWriter(dumpPath.resolveSibling(dumpPath.getFileName.toString + ".tmp"))
      try DumpRenderer.writeDump(w) {
        DumpRenderer.writeSection(w, "lineitem", big.schema,
          big.orderBy("l_orderkey", "l_linenumber").toLocalIterator().asScala, batchSize = 1000)
      } finally w.close()
      Files.move(dumpPath.resolveSibling(dumpPath.getFileName.toString + ".tmp"), dumpPath)
      println(f"#DECADE# rendered once in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    println(s"#DECADE# dump bytes = ${Files.size(dumpPath)}")
    // minPartitions is the one dial: the parse tasks write parquet
    // directly, so the statement partitions are the whole parallelism.
    // The ×100 grid keeps the best split count of the earlier sweeps.
    val grid = if (reps >= 100) Seq(128) else Seq(8, 32, 64, 128)
    for (parts <- grid; attempt <- 1 to 2) {
      val out = Files.createTempDirectory(s"decade_$parts")
      val phases = new scala.collection.mutable.LinkedHashMap[String, Double]
      val prog: String => Unit = {
        case s if s.startsWith("[dump-phase] ") =>
          val kv = s.stripPrefix("[dump-phase] ").split("=")
          phases(kv(0)) = phases.getOrElse(kv(0), 0.0) + kv(1).toDouble
        case _ => ()
      }
      val t0 = System.nanoTime()
      val res = DumpConverter.convert(spark, dumpPath.toString, out.toString,
        minPartitions = parts, progress = prog)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"#DECADE# minPartitions=$parts%3d attempt=$attempt  ${sec}%6.2f s  " +
        f"rows=${res.rowsWritten.values.sum}")
      println(s"#DECADEPHASE# minPartitions=$parts  " +
        phases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      // delete output between runs so disk doesn't accumulate 10 copies
      graft.Fs.deleteRecursively(out.toFile)
    }
    spark.stop()
  }
}
