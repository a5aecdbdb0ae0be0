package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round tooling: write `explain("formatted")` for named
  * SparkEntry queries to files, so plan claims in OPTIMIZATION_r*.md are
  * checkable without running Spark.
  *
  * Usage: PlanDump <outDir> <queryName>...   (reads SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS like Bench; one `<outDir>/<query>.txt` per name).
  * Plans are captured BEFORE execution (`AdaptiveSparkPlan
  * isFinalPlan=false` where AQE applies) — the shape Bench plans with.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    args.drop(1).foreach { name =>
      val fn = qs.getOrElse(name,
        sys.error(s"unknown query $name; known: ${qs.keys.toSeq.sorted.take(5)}..."))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
      println(s"[plandump] wrote $name (${txt.length} chars)")
    }
    spark.stop()
  }
}
