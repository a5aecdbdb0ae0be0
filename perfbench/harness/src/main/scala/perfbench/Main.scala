package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** One benchmark run in one JVM: set-up (Spark session, inputs, the
  * warm-up passes), closed-loop passes for `--seconds`, then the checks
  * and, with `--trace 1`, the per-layer figures. Writes the run record
  * as one JSON object to `--result`.
  *
  * {{{
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --cache DIR --traces DIR --fixture DIR
  *     --t0 EPOCH_MS --result FILE
  * }}}
  */
object Main {
  val Workloads = Seq("dump_bulk", "ops_mix")

  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** Heap in use right after a full collection: what the run keeps
    * live (session state, caches, the stores' in-memory state), free of
    * when the collector happened to run. Spark's context cleaner drops
    * a broadcast's blocks only after a collection has orphaned it, so
    * the collections repeat, 300 ms apart, until the heap stops
    * shrinking; otherwise the figure depended on which query ran last. */
  private def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1e6 }
    var last = collect(); var shrinking = true; var tries = 1
    while (shrinking && tries < 8) {
      Thread.sleep(300)
      val now = collect()
      shrinking = last - now >= 1.0
      last = now; tries += 1
    }
    last
  }

  /** The `p` quantile of `xs` by nearest rank. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Path.of(a("work")).toAbsolutePath
    val t0 = a("t0").toLong
    val nproc = Runtime.getRuntime.availableProcessors
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val loadAtStart = os.getSystemLoadAverage / nproc
    val tmp = Path.of(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(tmp)

    // wall-clock of each stage of the run, for the run record
    val stages = mutable.LinkedHashMap[String, Double]()
    var mark = t0
    def stage(name: String): Unit = {
      val now = System.currentTimeMillis(); stages(name) = (now - mark) / 1e3; mark = now
    }
    stage("jvm_start")
    val master = s"local[$nproc]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", tmp.toString)
      // the dump is scaled down from the sf0.1 sizes; so is the block
      // size that splits it into input partitions, so the ~16 MB
      // dump_bulk dump reads as 4 splits the way a 128 MB one does at
      // the local filesystem's default 32 MB
      .config("spark.hadoop.fs.local.block.size", (4L << 20).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    stage("session")
    val wl: Workload = workload match {
      case "ops_mix" => new OpsMix(spark, a("fixture"), seed, work, tracer)
      case _ => new DumpWorkload(spark,
        Dumps.prepare(spark, a("fixture"), seed, Path.of(a("cache"))), work, tracer)
    }

    stage("inputs")
    val problems = mutable.LinkedHashMap[String, String]()
    val warmup = (0 until wl.warmupPasses).flatMap(wl.runPass(_, traced = false))
    warmup.foreach(op => op.error.foreach(problems(op.id) = _))
    stage("warmup")
    val setupS = (System.currentTimeMillis() - t0) / 1e3

    // closed loop: the next pass starts only after the previous one
    // ends. A run takes at least two passes: an ops_mix pass can
    // outlast the window, and a traced run alternates traced and
    // untraced passes and needs one of each.
    val ops = mutable.ArrayBuffer[Op]()
    val cpu0 = os.getProcessCpuTime
    val wall0 = System.nanoTime()
    def elapsed = (System.nanoTime() - wall0) / 1e9
    var timedPasses = 0
    while (elapsed < seconds || timedPasses < 2) {
      ops ++= wl.runPass(wl.warmupPasses + timedPasses, traced = trace && timedPasses % 2 == 0)
      timedPasses += 1
    }
    val wall = elapsed
    stage("window")
    val cpuUtil = (os.getProcessCpuTime - cpu0) / 1e9 / (wall * nproc)
    val peakRss = vmHwmMb
    val liveHeap = liveHeapMb()

    problems ++= wl.verify(warmup ++ ops)
    stage("verify")
    val failedOps = ops.count(op => problems.contains(op.id))
    val latencies = ops.map(_.seconds).toSeq
    val passSeconds = ops.groupBy(_.pass).toSeq.map { case (p, ps) => (p, ps.map(_.seconds).sum, ps.head.traced) }

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        // the median over ops of one kind, then the geometric mean over
        // kinds: every kind counts, where a median over seven kinds of
        // query would hop between the middle few
        "op_gmean_s" -> {
          val kinds = ops.groupBy(_.name).values.map(ps => Workload.median(ps.map(_.seconds).toSeq))
          math.exp(kinds.map(math.log).sum / kinds.size)
        },
        "op_p90_s" -> percentile(latencies, 0.9),
        "input_mb_s" -> wl.inputMb / Workload.median(passSeconds.map(_._2)),
        "live_heap_mb" -> liveHeap)
      else {
        val overhead = Workload.median(passSeconds.filter(_._3).map(_._2)) /
          Workload.median(passSeconds.filterNot(_._3).map(_._2)) - 1
        (wl.layers(ops.toSeq, tracer) ++ Map(
          "process.cpu_util" -> cpuUtil,
          "process.peak_rss_mb" -> peakRss,
          "process.load_at_start" -> loadAtStart,
          "trace.overhead_frac" -> overhead)).toSeq.sortBy(_._1)
      }
    if (trace) tracer.write(Path.of(a("traces")).resolve(s"spans-$workload-s$seed.jsonl"))
    stage("report")

    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "master" -> Json.str(master),
      "nproc" -> nproc.toString,
      "heap_mb" -> heapMb.toString,
      "load_at_start" -> Json.num(loadAtStart),
      "cpu_util" -> Json.num(cpuUtil),
      "window_s" -> Json.num(wall),
      "passes" -> timedPasses.toString,
      "stages_s" -> Json.obj(stages.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> ops.size.toString,
      "failed" -> failedOps.toString,
      "problems" -> Json.obj(problems.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "op_counts" -> Json.obj(ops.groupBy(_.name).toSeq.map { case (n, ps) => n -> ps.size.toString }),
      "ops" -> (warmup ++ ops).map(o => Json.obj(Seq("name" -> Json.str(o.name), "pass" -> o.pass.toString,
        "s" -> Json.num(o.seconds), "traced" -> o.traced.toString))).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Path.of(a("result")), record + "\n")
    spark.stop()
  }
}
