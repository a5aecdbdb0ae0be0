package graft.ops

import java.nio.file.Files
import graft.dump.DumpConverter

/** Measures converter wall-clock vs minPartitions on the sf0.1-scale
  * rendered dump (the SCALING.md partition-scaling table).
  * Run: sbt 'Test/runMain graft.ops.ConvScaleBench' */
object ConvScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dump = ConverterQueries.scaleDumpFile(spark, sf)
    println(s"#CONV# dump bytes = ${Files.size(dump)}")
    // capture the converter's own `[dump-phase] name=secs` lines so a
    // regression names the phase that grew, not one opaque number
    def timedConvert(parts: Int, out: java.nio.file.Path): (Double, Long, String) = {
      val phases = new scala.collection.mutable.LinkedHashMap[String, Double]
      val prog: String => Unit = {
        case s if s.startsWith("[dump-phase] ") =>
          val kv = s.stripPrefix("[dump-phase] ").split("=")
          phases(kv(0)) = phases.getOrElse(kv(0), 0.0) + kv(1).toDouble
        case _ => ()
      }
      val t0 = System.nanoTime()
      val res = DumpConverter.convert(spark, dump.toString, out.toString,
        minPartitions = parts, progress = prog)
      val sec = (System.nanoTime() - t0) / 1e9
      val other = sec - phases.values.sum
      val detail = (phases.toSeq :+ ("other" -> other))
        .map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
      (sec, res.rowsWritten.values.sum, detail)
    }
    for (parts <- Seq(1, 2, 4, 8, 16, 32); _ <- 1 to 2) {
      val out = graft.Fs.scratchDir(s"convbench_$parts")
      val (sec, rows, detail) = timedConvert(parts, out)
      println(f"#CONV# minPartitions=$parts%2d  ${sec}%6.2f s  rows=$rows")
      println(s"#CONVPHASE# minPartitions=$parts  $detail")
    }
    // splittable-compressed leg: bzip2 (Hadoop block-splittable, unlike
    // gzip) — same converter, same minPartitions knob, compressed input
    val bzPath = dump.toString + ".bz2"
    if (!Files.exists(java.nio.file.Paths.get(bzPath))) {
      val t0 = System.nanoTime()
      val bz = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(bzPath), 1 << 20))
      Files.copy(dump, bz); bz.close()
      println(f"#CONV# bz2 compress (one-time) ${(System.nanoTime() - t0) / 1e9}%6.2f s" +
        s"  bytes=${Files.size(java.nio.file.Paths.get(bzPath))}")
    }
    for (parts <- Seq(1, 8, 32); _ <- 1 to 2) {
      val nonEmpty = spark.sparkContext.textFile(bzPath, parts)
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.hasNext))).collect().count(_._2)
      val out = graft.Fs.scratchDir(s"convbench_bz_$parts")
      val t0 = System.nanoTime()
      val res = DumpConverter.convert(spark, bzPath, out.toString, minPartitions = parts)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"#CONV# bz2 minPartitions=$parts%2d  ${sec}%6.2f s" +
        f"  rows=${res.rowsWritten.values.sum}  nonEmptySplits=$nonEmpty")
    }
    spark.stop()
  }
}
