package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe: the command-line mains (Bench,
  * Verify, Solo, PlanDump, `BpeTrainer`), the scale benches and the
  * test suite's shared session all run on `local[cpus]` with `cpus`
  * shuffle partitions, UI off, UTC. `nanosAsLong` is legacy-compat
  * only: it lets a TIMESTAMP(NANOS)-written events fixture arrive as
  * Long for [[ops.Tables.normalizeEventTs]]; the current fixture is
  * timestamp[us] NTZ and ignores the flag. Each caller picks its own
  * log level. `DumpCli` keeps its own builder, which honours
  * `spark.master`. */
object Session {
  def local(cpus: String, appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    appName.fold(b)(b.appName).getOrCreate()
  }
}
