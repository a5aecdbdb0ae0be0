package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{input_file_name, regexp_extract}
import graft.dump.{DumpConverter, DumpParser, StatementReader}

/** One timed op: a convert, or one query of a pass. */
final case class Op(id: String, name: String, pass: Int, start: Long, end: Long,
                    traced: Boolean, error: Option[String]) {
  def seconds: Double = (end - start) / 1e3
}

/** A workload runs closed-loop, one op at a time. A pass is one convert
  * for the dump workloads and one permutation of the query list for
  * `ops_mix`; the first `warmupPasses` passes are untimed. */
trait Workload {
  /** Untimed passes before the window; their cost counts in `setup_s`. */
  def warmupPasses: Int
  /** Input megabytes one pass consumes (for `input_mb_s`). */
  def inputMb: Double
  def runPass(pass: Int, traced: Boolean): Seq[Op]
  /** After timing, over the warm-up and timed ops: problems found, keyed by op id. */
  def verify(ops: Seq[Op]): Map[String, String]
  /** Per-layer figures of a traced run over its timed ops. */
  def layers(ops: Seq[Op], tracer: Tracer): Map[String, Double]
}

object Workload {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists(_))

  /** Run `body` timed as op `id`, catching its failure. */
  def timed(tracer: Tracer, id: String, name: String, pass: Int, traced: Boolean,
            parent: Int = -1)(body: => Unit): Op = {
    val t0 = System.currentTimeMillis()
    val err =
      try { tracer.op(id, traced)(body); None }
      catch { case scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)) }
    val op = Op(id, name, pass, t0, System.currentTimeMillis(), traced, err)
    if (traced) tracer.span(s"op:$name", op.start, op.end, parent, id)
    op
  }
}

/** `dump_bulk`: each op converts the same dump
  * into a fresh output directory, with the arguments the CLI passes for
  * `mysqldump-to-parquet DUMP -o OUT`. Outputs are kept until the
  * check after timing and deleted there. */
final class DumpWorkload(spark: SparkSession, dump: Dump, work: Path, tracer: Tracer)
    extends Workload {
  import Workload._
  private val results = mutable.HashMap[String, DumpConverter.Result]()
  private val phases = mutable.HashMap[String, mutable.ArrayBuffer[(String, Double)]]()
  private val outputs = mutable.HashMap[String, (Int, Long)]() // op -> (files, bytes)

  // the first convert runs cold; the next two still speed up as the
  // JIT compiles the parse and encode paths
  def warmupPasses = 3
  def inputMb: Double = dump.sqlBytes / 1e6
  private def outDir(id: String): Path = work.resolve("out").resolve(id)

  def runPass(pass: Int, traced: Boolean): Seq[Op] = {
    val id = s"convert-$pass"
    val ph = phases.getOrElseUpdate(id, mutable.ArrayBuffer())
    val progress: String => Unit = line =>
      if (traced && line.startsWith("[dump-phase] ")) {
        val Array(name, secs) = line.stripPrefix("[dump-phase] ").split('=')
        ph += ((name, secs.toDouble))
        val end = System.currentTimeMillis()
        tracer.span(s"phase:$name", end - (secs.toDouble * 1e3).toLong, end, -1, id)
      }
    Seq(timed(tracer, id, "convert", pass, traced) {
      results(id) = DumpConverter.convert(spark, dump.file.toString, outDir(id).toString,
        saltsPerTable = 8, progress = progress)
    })
  }

  /** Row counts, schemas and per-column hashes of every committed
    * table of every op against the fixture rows. One hash job per
    * table covers all ops; the jobs run 4 at a time. */
  def verify(ops: Seq[Op]): Map[String, String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val good = ops.filter(_.error.isEmpty).map(_.id)
    try {
      val perTable = dump.expect.map { e => scala.concurrent.Future {
        val counted = good.filterNot(id => results(id).rowsWritten.get(e.table).contains(e.rows))
          .map(id => id -> s"${e.table}: ${results(id).rowsWritten.getOrElse(e.table, "no")} rows committed, expected ${e.rows}")
        val typed = good.diff(counted.map(_._1)).flatMap { id =>
          val sch = spark.read.parquet(outDir(id).resolve(e.table).toString).schema
          val got = sch.fields.map(f => (f.name, f.dataType.simpleString)).toVector
          if (got == e.names.zip(e.types)) None else Some(id -> s"${e.table}: schema $got expected ${e.names.zip(e.types)}")
        }
        val hashed = good.diff(counted.map(_._1) ++ typed.map(_._1))
        val hashCols = e.names.flatMap(Dumps.hashSums)
        val sums = if (hashed.isEmpty) Map.empty[String, Seq[BigInt]] else
          spark.read.parquet(hashed.map(id => outDir(id).resolve(e.table).toString): _*)
            .withColumn("_op", regexp_extract(input_file_name(), "/out/([^/]+)/", 1))
            .groupBy("_op").agg(hashCols.head, hashCols.tail: _*)
            .collect().map(r => r.getString(0) -> e.names.indices.map(Dumps.hashValue(r, 1, _))).toMap
        val mismatched = hashed.flatMap { id =>
          sums.get(id) match {
            case None => Some(id -> s"${e.table}: no rows read back")
            case Some(h) =>
              val bad = e.names.indices.filter(i => h(i) != e.hashes(i)).map(e.names)
              if (bad.isEmpty) None else Some(id -> s"${e.table}: column hash mismatch in ${bad.mkString(",")}")
          }
        }
        counted ++ typed ++ mismatched
      }}
      val found = perTable.flatMap(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      val extra = good.flatMap { id =>
        val more = results(id).tables.toSet -- dump.expect.map(_.table)
        if (more.isEmpty) None else Some(id -> s"unexpected tables ${more.mkString(",")}")
      }
      ops.foreach { op =>
        val dir = outDir(op.id)
        if (Files.exists(dir)) {
          val parts = Files.walk(dir).iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            n.startsWith("part-") && n.endsWith(".parquet")
          }.toSeq
          outputs(op.id) = (parts.size, parts.map(Files.size).sum)
        }
        deleteTree(dir)
      }
      (found ++ extra).groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).mkString("; ") } ++
        ops.flatMap(op => op.error.map(op.id -> _))
    } finally pool.shutdown()
  }

  def layers(ops: Seq[Op], tracer: Tracer): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.error.isEmpty)
    def med(f: Op => Double): Double = median(traced.map(f))
    def ph(op: Op, p: String => Boolean): Double =
      phases(op.id).filter(x => p(x._1)).map(_._2).sum
    val tables = dump.expect.size
    val nproc = Runtime.getRuntime.availableProcessors
    val s = (op: Op) => tracer.statsOf(op.id)
    Map(
      "DumpConverter.fingerprint_s" -> med(ph(_, _ == "fingerprint")),
      "DumpConverter.assemble_s" -> med(ph(_, _ == "assemble")),
      "DumpConverter.route_s" -> med(ph(_, _ == "route")),
      "DumpConverter.write_s" -> med(ph(_, _.startsWith("write:"))),
      "DumpConverter.count_s" -> med(ph(_, _.startsWith("count:"))),
      "DumpConverter.other_s" -> med(o => o.seconds - ph(o, _ => true)),
      "DumpConverter.jobs" -> med(s(_).jobs.toDouble),
      "DumpConverter.tasks" -> med(s(_).tasks.toDouble),
      "DumpConverter.executor_run_s" -> med(s(_).runMs / 1e3),
      "DumpConverter.executor_cpu_s" -> med(s(_).cpuNs / 1e9),
      "DumpConverter.gc_s" -> med(s(_).gcMs / 1e3),
      "DumpConverter.driver_only_s" -> med(o => s(o).driverOnlyMs(o.start, o.end) / 1e3),
      "DumpConverter.per_table_ms" -> med(_.seconds * 1e3 / tables),
      "DumpConverter.core_idle_frac" -> med(o => 1 - s(o).runMs / 1e3 / (o.seconds * nproc)),
      "DumpConverter.shuffle_write_mb" -> med(s(_).shuffleWrite / 1e6),
      "DumpConverter.shuffle_read_mb" -> med(s(_).shuffleRead / 1e6),
      "DumpConverter.spill_mb" -> med(s(_).spill / 1e6),
      "DumpConverter.output_mb" -> med(o => outputs.get(o.id).map(_._2 / 1e6).getOrElse(0.0)),
      "DumpConverter.output_files" -> med(o => outputs.get(o.id).map(_._1.toDouble).getOrElse(0.0)),
      "DumpConverter.files_per_table" -> med(o => outputs.get(o.id).map(_._1.toDouble / tables).getOrElse(0.0)),
      "DumpConverter.out_bytes_ratio" -> med(o => outputs.get(o.id).map(_._2.toDouble / dump.sqlBytes).getOrElse(0.0)),
      "DumpConverter.convert_rows_s" -> med(o => dump.expect.map(_.rows).sum / o.seconds)
    ) ++ singleThread(tracer)
  }

  /** The parser layers called directly, one thread, over this run's
    * dump: statement assembly, INSERT parsing, row coercion and CREATE
    * TABLE parsing, each timed as its own span. */
  private def singleThread(tracer: Tracer): Map[String, Double] = {
    def clock[A](name: String)(body: => A): (A, Double) = {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val a = body
      val secs = (System.nanoTime() - n0) / 1e9
      tracer.span(s"layer:$name", t0, System.currentTimeMillis(), -1, "layers")
      (a, secs)
    }
    val (stmts, assembleS) = clock("StatementReader.statements") {
      val src = scala.io.Source.fromFile(dump.file.toFile, "UTF-8")
      try StatementReader.statements(src.getLines()).toVector finally src.close()
    }
    val creates = stmts.filter(_.startsWith("CREATE TABLE"))
    val inserts = stmts.filter(_.startsWith("INSERT INTO"))
    val (parsed, parseS) = clock("DumpParser.parseInsert")(inserts.map(s => DumpParser.parseInsert(s)))
    val schemas = creates.map(DumpParser.parseCreateTable).map(c => c.table -> c.schema).toMap
    val rows = parsed.map(_.rows.size.toLong).sum
    val (_, coerceS) = clock("DumpParser.coerceRow") {
      parsed.foreach { ins =>
        val schema = schemas(ins.table)
        val align = DumpParser.rowAligner(ins, schema)
        ins.rows.foreach(v => DumpParser.coerceRow(ins.table, schema, align(v)))
      }
    }
    // one CREATE TABLE parses in microseconds: repeat the set until
    // the clock has something to measure
    val (calls, createS) = clock("DumpParser.parseCreateTable") {
      var n = 0; val t0 = System.nanoTime()
      while (n == 0 || System.nanoTime() - t0 < 50L * 1000 * 1000) {
        creates.foreach(DumpParser.parseCreateTable); n += creates.size
      }
      n
    }
    Map(
      "StatementReader.assemble_mb_s" -> dump.sqlBytes / 1e6 / assembleS,
      "DumpParser.parse_rows_s" -> rows / parseS,
      "DumpParser.coerce_rows_s" -> rows / coerceS,
      "DumpParser.create_table_ms" -> createS * 1e3 / calls)
  }
}


/** `ops_mix`: one `SparkEntry` query per query module over the fixture.
  * Timed passes materialize each query through the `noop` sink as
  * `graft.Bench` does; the warm-up pass writes each result as parquet
  * for the oracle check after timing. The seed permutes the query
  * order of every pass. `st_upsert` builds a fresh upsert state table
  * (an epoch store) and commits each micro-batch to it through
  * `ManifestIo` on every call; the other queries only read (their
  * write-once layouts are built in the warm-up pass). */
final class OpsMix(spark: SparkSession, fixture: String, seed: Long, work: Path,
                   tracer: Tracer) extends Workload {
  import Workload._
  val names: Seq[String] = Seq("q_mv_join_delta", "d_fuzzy_join", "s_ann_lsh",
    "t_quality_score", "mm_phash_dedup", "p_decontaminate", "st_upsert")
  /** The queries that commit to a store in every call. */
  private val storeWriting = Set("st_upsert")
  val modules: Seq[(String, Set[String])] = Seq(
    "RelationalQueries" -> graft.ops.RelationalQueries.queries.keySet,
    "DedupOps" -> graft.ops.DedupOps.queries.keySet,
    "SimilarityOps" -> graft.ops.SimilarityOps.queries.keySet,
    "TextOps" -> graft.ops.TextOps.queries.keySet,
    "MultimodalOps" -> graft.ops.MultimodalOps.queries.keySet,
    "PipelineOps" -> graft.ops.PipelineOps.queries.keySet,
    "StreamingOps" -> graft.streaming.StreamingOps.queries.keySet)
  private val fns = graft.SparkEntry.queries
  private val codegenS = mutable.HashMap[String, Double]()

  require(names.forall(fns.contains), s"unknown queries: ${names.filterNot(fns.contains)}")

  /** One pass: the first (cold) pass costs three or four warm ones. */
  def warmupPasses = 1

  val inputMb: Double = Files.list(Path.of(fixture)).iterator().asScala
    .filter(_.toString.endsWith(".parquet")).map(Files.size).sum / 1e6

  def runPass(pass: Int, traced: Boolean): Seq[Op] = {
    val order = new scala.util.Random(seed * 7919L + pass).shuffle(names)
    val t0 = System.currentTimeMillis()
    val parent = if (traced) tracer.span(s"pass:$pass", t0, t0, -1, s"pass-$pass") else -1
    val ops = order.map { n =>
      val id = s"p$pass-$n"
      val c0 = CodeGenerator.compileTime
      val op = timed(tracer, id, n, pass, traced, parent) {
        val w = fns(n)(spark, fixture).write.mode("overwrite")
        if (pass == 0) w.parquet(checkDir.resolve(n).toString) else w.format("noop").save()
      }
      if (traced) codegenS(id) = (CodeGenerator.compileTime - c0) / 1e9
      op
    }
    if (traced) tracer.finish(parent, System.currentTimeMillis())
    ops
  }

  private def checkDir: Path = work.resolve("check")

  /** The warm-up pass's results sit in `check/`; the oracle SQL goes next
    * to them and DuckDB compares both after this JVM has exited. */
  def verify(ops: Seq[Op]): Map[String, String] = {
    val oracles = graft.SparkEntry.oracleSql
    Files.createDirectories(checkDir)
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json.obj(names.filter(oracles.contains).map(n => n -> Json.str(oracles(n)))))
    ops.flatMap(op => op.error.map(op.id -> _)).toMap
  }

  def layers(ops: Seq[Op], tracer: Tracer): Map[String, Double] = {
    val passes = ops.filter(_.traced).groupBy(_.pass).values.toSeq
    def perPass(f: Seq[Op] => Double): Double = median(passes.map(f))
    val s = (op: Op) => tracer.statsOf(op.id)
    def driverOnly(ops: Seq[Op]) = ops.map(o => s(o).driverOnlyMs(o.start, o.end) / 1e3).sum
    val moduleFigures = modules.flatMap { case (m, keys) =>
      def mine(ps: Seq[Op]) = ps.filter(o => keys.contains(o.name))
      Seq(s"$m.query_s" -> perPass(mine(_).map(_.seconds).sum),
        s"$m.driver_only_s" -> perPass(ps => driverOnly(mine(ps))),
        s"$m.executor_cpu_s" -> perPass(mine(_).map(s(_).cpuNs / 1e9).sum))
    }
    def stores(ps: Seq[Op]) = ps.filter(o => storeWriting(o.name))
    moduleFigures.toMap ++ Map(
      "ops.plan_s" -> perPass(_.map(s(_).planMs / 1e3).sum),
      "ops.codegen_compile_s" -> perPass(_.map(o => codegenS.getOrElse(o.id, 0.0)).sum),
      "ops.jobs" -> perPass(_.map(s(_).jobs.toDouble).sum),
      "ops.stages" -> perPass(_.map(s(_).stages.toDouble).sum),
      "ops.tasks" -> perPass(_.map(s(_).tasks.toDouble).sum),
      "ops.driver_only_s" -> perPass(driverOnly),
      "stores.driver_only_s" -> perPass(ps => driverOnly(stores(ps))),
      "stores.output_files" -> perPass(stores(_).map(s(_).writtenFiles.toDouble).sum),
      "stores.output_mb" -> perPass(stores(_).map(s(_).writtenBytes / 1e6).sum))
  }
}
