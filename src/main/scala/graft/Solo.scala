package graft

/** Clean-room solo timer: runs the named queries in isolation (fresh
  * JVM, no other queries contending for the session) N times each
  * through the same `noop` materialization [[Bench]] uses, printing
  * one `#SOLO#` line per query plus the join-strategy lines of the
  * executed plan.
  *
  * This is the diagnosis tool for bench anomalies: Bench times 200+
  * queries back-to-back in one JVM, so a single query's number can be
  * polluted by GC/JIT pressure from its neighbors; Solo gives the same
  * query a clean room. [[Bench]] FORKS this main automatically at the
  * end of every run for the top in-suite movers (queries whose
  * best-of-N grew most vs the previous committed bench-latest.json)
  * and commits the results as the `"solo"` block beside the in-suite
  * numbers — so regression-vs-environment triage starts from solo
  * evidence instead of prose (round-12 verdict item 2).
  *
  * Manual run:
  *   SPARK_GRAFT_SOLO_SF=/root/testdata/sf0.1 \
  *     sbt 'runMain graft.Solo p_leakage_split 3'
  *
  * `SPARK_GRAFT_SOLO_DEADLINE_SEC` (optional): stop STARTING new
  * queries once the deadline passes (already-timed queries keep their
  * numbers) — the forked round-close run bounds its own wall cost.
  */
object Solo {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SOLO_SF", "/root/testdata/sf0.001")
    val reps = args.lastOption.flatMap(_.toIntOption).getOrElse(3)
    val names = args.filter(_.toIntOption.isEmpty).toSeq match {
      case Nil => Seq("q5_region_revenue")
      case ns  => ns
    }
    val deadlineNanos = sys.env.get("SPARK_GRAFT_SOLO_DEADLINE_SEC")
      .flatMap(_.toLongOption)
      .map(s => System.nanoTime() + s * 1000000000L)
    // Mirror Bench's session exactly (local[N], N shuffle partitions)
    // so solo numbers are comparable to driver bench numbers.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus, Some("graft-solo"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      if (deadlineNanos.forall(System.nanoTime() < _)) {
        val fn = SparkEntry.queries(name)
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sf).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"#SOLO# $name sf=$sf runs=${times.map(t => f"$t%.3f").mkString(",")} best=${times.min}%.3f")
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        plan.linesIterator
          .filter(l => l.contains("Join") || l.contains("Exchange") || l.contains("AQE"))
          .take(30)
          .foreach(l => println("  " + l.trim.take(150)))
      } else println(s"#SOLO-SKIP# $name (deadline passed)")
    }
    spark.stop()
  }
}
