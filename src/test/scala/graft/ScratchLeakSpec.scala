package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Child-JVM body for [[ScratchLeakSpec]]: builds memoized artifacts
  * (a layout, a durable store fed by a stream) and runs two queries
  * whose per-call dirs a returned DataFrame reads lazily, then exits
  * normally. */
object ScratchLeakMain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("2")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = args(0)
    ops.RelationalQueries.partitionedOrdersPath(spark, sf)
    ops.ConverterQueries.conv_dump_roundtrip(spark, sf).collect()
    streaming.StreamingOps.st_parquet_sink(spark, sf).collect()
    streaming.StreamingOps.st_mv_ingest(spark, sf).collect()
    spark.stop()
  }
}

/** Nothing the query modules write outlives the JVM: a child JVM
  * (same `--add-opens`/`-Xmx` flags and classpath as this one, with
  * its own fresh `java.io.tmpdir`) runs [[ScratchLeakMain]]; after it
  * exits, that dir holds no `graft*` entry. */
class ScratchLeakSpec extends AnyFunSuite {
  test("a JVM that builds artifacts and scratch dirs leaves no graft* entry in its tmpdir") {
    val tmp = Files.createTempDirectory("scratch_leak_spec_")
    val log = tmp.resolve("child.log")
    try {
      val cmd = Bench.childJvm("graft.ScratchLeakMain", Seq(s"-Djava.io.tmpdir=$tmp")) :+
        "/root/testdata/sf0.001"
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      val done = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) proc.destroyForcibly(): Unit
      def tail = Files.readAllLines(log).toArray.takeRight(40).mkString("\n")
      assert(done && proc.exitValue() == 0, s"child JVM failed:\n$tail")
      val left = tmp.toFile.list().filter(_.startsWith("graft")).sorted
      assert(left.isEmpty, s"left behind in java.io.tmpdir: ${left.mkString(", ")}")
    } finally Fs.deleteRecursively(tmp.toFile)
  }
}
