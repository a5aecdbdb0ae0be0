package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always calls with exactly two)
    val Array(sfDir, outDir, rest @ _*) = args
    val only: Option[Set[String]] = rest.headOption.map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must leave a red ROW in the artifact, not a
    // silently-missing entry (round 8: five plan-time errors simply
    // vanished from CORRECTNESS). Each failure writes
    // `{name}.error.txt` next to where its parquet would have been,
    // and the names are summarized in errors.json — both travel with
    // the artifact the driver (and judge) reads.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        Files.writeString(Paths.get(s"$outDir/$name.error.txt"), msg + "\n")
      }
    }
    // json4s escapes backslash, quote and ALL control chars — a tab or
    // CR in an oracle SQL string would otherwise make the reader's
    // json.load fail and silently zero the correctness compare.
    def json(m: Iterable[(String, String)]): String = org.json4s.jackson.Serialization
      .write(scala.collection.immutable.ListMap.from(m))(org.json4s.DefaultFormats)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    // separate file (NOT a key inside oracle_sql.json — the driver
    // iterates that map's keys as query names, so a foreign key would
    // be read as a query called "errors")
    Files.writeString(Paths.get(s"$outDir/errors.json"), json(failed))
    spark.stop()
    // deliberately rc=0 even with failures: the driver must still run
    // the DuckDB compare over the queries that DID produce output —
    // the red rows live in errors.json / *.error.txt, not the exit code
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} of ${SparkEntry.queries.size} queries failed")
  }
}
