package graft.dump

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

/** mysqldump → one Snappy parquet dir per table, the reference's whole
  * capability (`/root/reference/src/main.rs`, `parquet_writer.rs`)
  * re-expressed on Spark.
  *
  * Execution model (vs the reference's 3-thread pipeline):
  *
  *   1. `sc.textFile` reads the dump — splittable into parallel
  *      partitions for plain `.sql`; `.sql.gz` degrades to a single
  *      sequential partition exactly like the reference's gzip path;
  *      `.sql.bz2` splits inside one file (Hadoop's block-splittable
  *      codec). `.zst` input goes through [[zstdLines]]: zstd is NOT
  *      intra-file splittable (Hadoop's ZStandardCodec implements no
  *      `SplittableCompressionCodec`, and frame boundaries are not
  *      discoverable without decompressing), so the scale unit is the
  *      SHARD — a directory/glob of `.zst` files reads as one
  *      partition per file in name order, which is how 100 TB dumps
  *      are actually produced (per-chunk `mysqldump | zstd` shards).
  *      Statements may span shard boundaries; the partition healer
  *      (step 2) repairs them identically to intra-file splits.
  *      Nothing is cached: the metadata job (step 4) and the write job
  *      (step 5) each read the input, so compressed input is decoded
  *      once per job — the way Spark's CSV/JSON schema inference scans
  *      its input once more instead of caching it.
  *   2. Each partition assembles statements with
  *      [[StatementReader.assemblePartition]] — a streaming fold whose
  *      memory is bounded by one statement. Partition-boundary
  *      fragments are healed on the driver — O(#partitions) data, not
  *      O(input) — chaining the carry through terminator-less
  *      partitions so a statement larger than a partition survives.
  *   3. Every statement carries a position `(2*pid+1, seq)` — healed
  *      boundary statements sort before the body of the partition whose
  *      head completed them at `(2*pid, seq)` — restoring the file's
  *      total statement order without a sort of the data.
  *   4. CREATE TABLEs (tiny) are collected and parsed to StructTypes on
  *      the driver in the SAME collect that fetches the boundary
  *      fragments: one job gathers all driver-side metadata. Re-creating
  *      a table rotates the reference's writer onto the same output path
  *      (`parquet_writer.rs:82-91`); we reproduce that positionally:
  *      only INSERTs after the table's last CREATE are written.
  *   5. ONE job parses every INSERT and writes parquet straight from
  *      the parse tasks, like the reference streaming each table into
  *      its open writer (`parquet_writer.rs:82-91`): a task opens one
  *      parquet writer per table it meets (mysqldump writes a table's
  *      rows contiguously, so a split touches one or two tables) and
  *      hands it the rows [[DumpParser.InsertDecoder]] decodes each
  *      INSERT into — parquet-ready `InternalRow`s, with no boxed value
  *      or `Row` encoder in between. Rows are never shuffled, and one
  *      job writes every table.
  *      Parallelism is therefore the statement partition count: when
  *      the assembled statements have fewer partitions than
  *      `defaultParallelism` (gzip, a single zstd shard, a small
  *      `minPartitions = 1` dump) the statement TEXT is rebalanced to
  *      `defaultParallelism` before parsing — decided by the input
  *      alone. The read itself is never split harder: raw-newline
  *      dumps rely on one sequential split.
  *   6. The job commits through ONE `FileCommitProtocol` rooted at a
  *      hidden staging dir under outDir ([[StagingDir]]), each table a
  *      relative directory — the way a partitioned write commits, so a
  *      task retry stays exactly-once and the coordinator authorizes
  *      one commit per task. After the job commits, tables are
  *      published one by one in table order: a directory rename into
  *      `outDir/<table>`, a `_SUCCESS` marker, the EXACT row count from
  *      the committed files' footers, the manifest entry, then the
  *      `(i/N)` progress line — so a crash between tables leaves the
  *      earlier tables complete and the later ones absent, as before.
  *      A failed job is aborted and its staging dir deleted. (Drop
  *      counts remain accumulator-based — at-least-once under retry,
  *      acceptable for a warning line.)
  *
  * DEVIATION from the reference: interleaved dumps (a table's INSERTs
  * split around other tables' sections) are SUPPORTED — statements are
  * grouped by parsed table name, not "current writer" state
  * (`parquet_writer.rs:93-95` warns and DROPS those rows). INSERTs
  * whose table has no (sufficiently early) CREATE TABLE are dropped
  * with a warning, matching the reference's observable behavior.
  * `strictTables = true` (CLI `--strict-tables`) restores the
  * reference bug-for-bug: an INSERT is kept only when its table is the
  * CURRENT section's table (the most recent CREATE TABLE of any table
  * preceding it in file order); everything else gets the reference's
  * stderr warning and is dropped.
  *
  * SECOND DEVIATION: multi-database dumps (`mysqldump
  * --all-databases`) are SUPPORTED. The reference drops `USE` with the
  * rest of the non-CREATE/INSERT statements (`main.rs:136-141`), so
  * two databases sharing a table name silently collide; here the USE
  * timeline qualifies every table as db/table and the output nests as
  * `outDir/db/table`. USE-less dumps keep the flat `outDir/table`
  * layout unchanged.
  */
object DumpConverter {

  type Pos = (Long, Long) // (2*pid [+1 for body], seq) — lexicographic file order

  case class Result(tables: Seq[String], rowsWritten: Map[String, Long], droppedInserts: Long)

  /** Reserved output name of the bad-row side channel (`quarantine =
    * true`). MySQL identifiers CAN legally start with `_`, so a dump
    * could define its own `_quarantine` table; rather than silently
    * sharing one index slot (mixed schemas, double write to the same
    * path), [[convert]] fails fast with a clear message when the dump
    * defines this reserved name and quarantine is enabled. */
  val QuarantineTable = "_quarantine"

  /** Quarantine record: which table the row was bound for, why it was
    * rejected, and the offending raw content (row values or statement
    * prefix) for debugging/replay. */
  val QuarantineSchema: StructType = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("reason", StringType, nullable = false),
    StructField("raw", StringType, nullable = false)))

  /** Latest timeline entry at or before `pos` (binary search over a
    * file-ordered (position, value) array) — the "current section" /
    * "current database" lookup of strict routing and USE tracking. */
  private def latestAt(tl: Array[(Pos, String)], pos: Pos): Option[String] = {
    var lo = 0; var hi = tl.length - 1; var cur = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = tl(mid)._1
      if (c._1 < pos._1 || (c._1 == pos._1 && c._2 <= pos._2)) { cur = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (cur >= 0) Some(tl(cur)._2) else None
  }

  /** "db/table" for a database-qualified table, bare name for the
    * default database — which nests multi-db output as outDir/db/table
    * while preserving the single-db outDir/table layout. */
  private def qualify(db: String, table: String): String =
    if (db.isEmpty) table else s"$db/$table"

  /** Concrete data files under `input` (file, dir, or glob) in name
    * order, via the Hadoop FileSystem API so resolution matches
    * `sc.textFile`. Name order IS file order for sharded dumps
    * (`dump-000.sql.zst`, `dump-001.sql.zst`, …) — the statement
    * position machinery depends on it. The listing's statuses are
    * kept, so nothing downstream stats a file again. */
  private[dump] def expandInput(sc: org.apache.spark.SparkContext,
                                input: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val path = new org.apache.hadoop.fs.Path(input)
    val fs = path.getFileSystem(sc.hadoopConfiguration)
    Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }
      .sortBy(_.getPath.toString)
  }

  /** Line RDD over zstd shards: one partition per file, partitions in
    * file-name order, decompressed with zstd-jni (multi-frame streams
    * supported — `setContinuous` keeps reading concatenated frames, so
    * `cat a.zst b.zst > all.zst` also works). Sequential within a
    * shard by construction — parallelism scales with shard count, the
    * honest zstd contract (see class doc, step 1). */
  private[dump] def zstdLines(sc: org.apache.spark.SparkContext, files: Seq[String]): RDD[String] = {
    // the session's Hadoop conf (`spark.hadoop.*`, object-store
    // credentials), as `sc.textFile` reads with
    val confB = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val perFile = files.map { f =>
      sc.parallelize(Seq(f), 1).flatMap { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(confB.value.value)
        val z = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
          new java.io.BufferedInputStream(fs.open(path), 1 << 16))
        z.setContinuous(true)
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(z, java.nio.charset.StandardCharsets.UTF_8))
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => br.close()))
        Iterator.continually(br.readLine()).takeWhile(_ != null)
      }
    }
    sc.union(perFile)
  }

  private def isZstdName(f: String): Boolean =
    f.endsWith(".zst") || f.endsWith(".zstd")

  /** Parquet codecs the sink accepts — the compressions every Spark
    * build bundles (no extra jars). Validated up front so a typo'd
    * `--codec` fails before any work, not at first write. */
  val SupportedCodecs: Set[String] = Set("snappy", "zstd", "gzip", "lz4", "none")

  // ------------------------------------------------- restartability

  /** Completion-manifest directory under outDir. One JSON file per
    * COMMITTED table (written atomically after the table's parquet
    * commit + count), carrying the input fingerprint it was built
    * from. `resume = true` skips manifested tables whose fingerprint
    * still matches and whose output still exists — the difference
    * between "a 100 TB ingest that dies at 99% restarts from zero"
    * and "it redoes one table". The reference has no analogue. */
  val ManifestDir = "_graft_manifest"

  private def manifestFile(outDir: String, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"$outDir/$ManifestDir/" + java.net.URLEncoder.encode(table, "UTF-8") + ".json")

  /** Identity of the INPUT a manifest entry was computed from: name +
    * length + mtime of every file [[expandInput]] listed (from the
    * listing's own statuses — no per-file metadata call), PLUS every
    * option that changes what the output contains (type mapping, codec,
    * quarantine, strict routing) — a rerun against different or
    * modified dump files, or with different conversion semantics,
    * must not skip anything: skipping a table converted under other
    * flags would silently mix configurations across tables (e.g. DATE
    * columns in some tables, midnight TIMESTAMPs in others).
    * Byte-hashing 100 TB to decide restartability would defeat the
    * point; (name, size, mtime) is the standard cheap sentinel
    * (rsync's quick check). */
  private[dump] def inputFingerprint(files: Seq[org.apache.hadoop.fs.FileStatus],
                                     optionsTag: String = ""): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { st =>
      md.update(s"${st.getPath}|${st.getLen}|${st.getModificationTime}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.update(optionsTag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One completion-manifest entry, as its JSON file holds it. */
  private[graft] case class ManifestEntry(table: String, rows: Long, fingerprint: String)

  /** Atomic manifest commit: write a temp file, then rename — a
    * half-written entry can never be mistaken for a completed table. */
  private[graft] def writeManifestEntry(conf: org.apache.hadoop.conf.Configuration,
                                        outDir: String, table: String,
                                        rows: Long, fingerprint: String): Unit = {
    val p = manifestFile(outDir, table)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(org.json4s.jackson.Serialization.write(
        ManifestEntry(table, rows, fingerprint))(org.json4s.DefaultFormats)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"could not commit manifest entry $p")
  }

  /** Tables already completed for this exact input: manifest entry
    * present, fingerprint matches, output directory still exists. */
  private[graft] def completedTables(conf: org.apache.hadoop.conf.Configuration,
                                     outDir: String, fingerprint: String): Map[String, Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"$outDir/$ManifestDir")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).toSeq.filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        try {
          implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
          val in = fs.open(st.getPath)
          val e = try org.json4s.jackson.Serialization.read[ManifestEntry](
              new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
            finally in.close()
          if (e.fingerprint == fingerprint &&
              fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/${e.table}")))
            Some(e.table -> e.rows)
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      }.toMap
  }

  /** `saltsPerTable` is ignored; it stays so callers that pass it by
    * name still compile. */
  def convert(spark: SparkSession, input: String, outDir: String,
              minPartitions: Int = 1,
              @deprecated("ignored: the parse tasks write parquet directly", "0.1.0")
              saltsPerTable: Int = 8,
              strictTables: Boolean = false,
              progress: String => Unit = _ => (),
              quarantine: Boolean = false,
              codec: String = "snappy",
              types: DumpParser.TypeOptions = DumpParser.DefaultTypes,
              resume: Boolean = false): Result = {
    require(SupportedCodecs(codec),
      s"unsupported codec '$codec' (one of: ${SupportedCodecs.toSeq.sorted.mkString(", ")})")
    val sc = spark.sparkContext
    // Per-phase wall-clock, reported through `progress` as parseable
    // `[dump-phase] name=secs` lines — ConvScaleBench aggregates them
    // so a regression names the phase that grew instead of one opaque
    // end-to-end number (SCALING.md's diagnosis loop).
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      // Locale.ROOT: the line is machine-parsed (ConvScaleBench et al.
      // call .toDouble), so a comma-decimal default locale must not
      // change the rendering
      progress("[dump-phase] " + name + "=" +
        String.format(java.util.Locale.ROOT, "%.3f",
          Double.box((System.nanoTime() - t0) / 1e9)))
      r
    }
    // The input is listed once: the fingerprint and the read use the
    // same files. TypeOptions is a case class: its toString is a
    // stable, total rendering of the semantic knobs.
    val (files, fingerprint) = phase("fingerprint") {
      val files = expandInput(sc, input)
      (files.map(_.getPath.toString), inputFingerprint(files,
        s"codec=$codec|quarantine=$quarantine|strict=$strictTables|types=$types"))
    }
    val completed: Map[String, Long] =
      if (resume) completedTables(sc.hadoopConfiguration, outDir, fingerprint)
      else {
        // fresh run: stale manifest entries (previous inputs, aborted
        // runs) must not survive to mislead a LATER --resume
        val dir = new org.apache.hadoop.fs.Path(s"$outDir/$ManifestDir")
        val fs = dir.getFileSystem(sc.hadoopConfiguration)
        if (fs.exists(dir)) fs.delete(dir, true)
        Map.empty
      }
    // a killed run's staging dir holds no committed table: drop it
    val staging = new Path(s"$outDir/$StagingDir")
    staging.getFileSystem(sc.hadoopConfiguration).delete(staging, true)
    val lines =
      if (files.nonEmpty && files.forall(isZstdName)) zstdLines(sc, files)
      else sc.textFile(input, minPartitions)
    // Nothing is cached: the metadata job and the write job each read
    // and assemble the input on their own. A re-read of the same splits
    // yields the same statements in the same order, so positions agree.
    val segs = lines.mapPartitions(StatementReader.assemblePartition)

    // One driver-side collect for ALL tiny metadata: partition-boundary
    // fragments (healed below) and CREATE TABLE statements with their
    // positions. Both are O(#partitions + #tables), never O(rows).
    val small: Array[(Int, Either[StatementReader.Seg, (Pos, String)])] =
      phase("assemble")(segs.mapPartitionsWithIndex { (pid, it) =>
        var seq = -1L
        it.flatMap {
          case h: StatementReader.Head => Iterator((pid, Left(h: StatementReader.Seg)))
          case t: StatementReader.Tail => Iterator((pid, Left(t: StatementReader.Seg)))
          case StatementReader.Stmt(s) =>
            seq += 1
            if (s.startsWith("CREATE TABLE") || s.startsWith("USE"))
              Iterator((pid, Right(((2L * pid + 1, seq): Pos, s))))
            else Iterator.empty
        }
      }.collect())

    val frags = small.collect { case (pid, Left(seg)) => (pid, seg) }
    val healed: Seq[(Pos, String)] = heal(frags)

    val ordering = implicitly[Ordering[Pos]]
    val metaStmts: Seq[(Pos, String)] =
      small.collect { case (_, Right(pc)) => pc }.toSeq ++
        healed.filter(s => s._2.startsWith("CREATE TABLE") || s._2.startsWith("USE"))
    // Multi-database routing (beyond the reference, which drops
    // USE/CREATE DATABASE, main.rs:136-141): the file-ordered USE
    // timeline assigns every statement the database selected at its
    // position. Tables qualify as "db/table" — nesting the output as
    // outDir/db/table — so two databases sharing a table name never
    // collide. A USE-less dump has an empty timeline, every table
    // keeps its bare name, and today's outDir/table layout is
    // preserved byte-for-byte.
    val useTimeline: Array[(Pos, String)] = metaStmts
      .collect { case (pos, s) if s.startsWith("USE") =>
        (pos, DumpParser.useTarget(s)) }
      .sortBy(_._1)(ordering).toArray
    val creates: Seq[(Pos, String, StructType)] = metaStmts
      .collect { case (pos, s) if s.startsWith("CREATE TABLE") =>
        val ct = DumpParser.parseCreateTable(s, types)
        val db = latestAt(useTimeline, pos).getOrElse("")
        (pos, qualify(db, ct.table), ct.schema)
      }
    val lastCreate: Map[String, (Pos, StructType)] =
      creates.groupBy(_._2).map { case (t, cs) =>
        val (pos, _, schema) = cs.maxBy(_._1)(ordering)
        t -> (pos, schema)
      }
    // Preserve first-appearance order for the output listing.
    val tableOrder: Seq[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      creates.sortBy(_._1)(ordering).foreach(c => seen += c._2)
      seen.toSeq
    }
    if (quarantine)
      require(!tableOrder.contains(QuarantineTable),
        s"dump defines reserved table `$QuarantineTable`; rename it or run without --quarantine")

    val body: RDD[(Pos, String)] = segs.mapPartitionsWithIndex { (pid, it) =>
      var seq = -1L
      it.collect { case StatementReader.Stmt(s) =>
        seq += 1
        ((2L * pid + 1, seq): Pos, s)
      }
    }
    // Parallelism is the statement partition count (no reduce side
    // re-spreads the rows), so an input that reads as fewer
    // partitions than cores — gzip, one zstd shard, a small
    // minPartitions = 1 dump — has its statement TEXT rebalanced
    // before the parse. The read's own split count is left alone:
    // raw-newline dumps rely on one sequential split.
    val statements: RDD[(Pos, String)] = {
      val all = body.union(sc.parallelize(healed, 1))
      if (all.getNumPartitions < sc.defaultParallelism) all.repartition(sc.defaultParallelism)
      else all
    }

    val lastCreateB = sc.broadcast(lastCreate)
    // File-ordered (position, qualified table) of EVERY CREATE TABLE —
    // the "current section" timeline strict mode replays. O(#tables).
    val timelineB = sc.broadcast(
      creates.map { case (pos, t, _) => (pos, t) }.sortBy(_._1)(ordering).toArray)
    // File-ordered USE timeline for executor-side INSERT qualification.
    val useTimelineB = sc.broadcast(useTimeline)
    val dropped = sc.longAccumulator("droppedInserts")
    // Resume, statement level: a completed table's INSERTs skip
    // the INSERT decode entirely — at a 99 %-complete restart
    // the parse CPU is the dominant cost, and paying it only to
    // filter the rows later would make "resume" a re-run with extra
    // steps. Quarantine mode must NOT take this shortcut: the bad-row
    // side channel, if unfinished, needs failures from completed
    // tables' statements too (their good rows have no writer and are
    // dropped at the write).
    // METRIC ASYMMETRY, by design: the skip bypasses strict-routing
    // stderr warnings and the droppedInserts accumulator for the
    // completed tables' statements, so a resumed run's drop count /
    // warning lines cover only the REDONE tables — authoritative
    // per-table row counts come from the manifest and stay exact,
    // but telemetry of a resumed run is not comparable to a fresh
    // run's and must not be read as data loss or gain.
    val completedStmtSkipB =
      sc.broadcast(if (quarantine) Set.empty[String] else completed.keySet)

    // The single parse pass: INSERT → (table, parquet-ready row), one
    // decoder per table a task meets.
    val rows: RDD[(String, InternalRow)] = statements.mapPartitions { it =>
      val decoders = scala.collection.mutable.HashMap[String, DumpParser.InsertDecoder]()
      it.flatMap { case (pos, s) =>
        if (!s.startsWith("INSERT INTO")) Iterator.empty
        else {
          val t = qualify(latestAt(useTimelineB.value, pos).getOrElse(""),
            DumpParser.insertTarget(s))
          // Strict mode (`parquet_writer.rs:93-95`): only the current
          // section's table may receive rows; everything else warns per
          // statement on stderr and drops, like the reference.
          val strictOk = !strictTables || latestAt(timelineB.value, pos).contains(t)
          lastCreateB.value.get(t) match {
            case _ if completedStmtSkipB.value.contains(t) => Iterator.empty
            case Some((cpos, schema))
                if strictOk && (pos._1 > cpos._1 || (pos._1 == cpos._1 && pos._2 > cpos._2)) =>
              val dec = decoders.getOrElseUpdate(t, new DumpParser.InsertDecoder(t, schema, types))
              if (!quarantine) {
                dec.decode(s)
                dec.rejects.headOption.foreach(r => throw r._1)
                dec.rows.map(r => (t, r))
              } else {
                // Bad-row side channel: a malformed STATEMENT (tokenizer
                // failure, i64 overflow, a bad column LIST) quarantines
                // once with the statement prefix and lands none of its
                // rows; a bad ROW in a well-formed statement quarantines
                // just that row — the statement's other rows still land.
                // One statement can never fail a 10-hour 100 TB ingest.
                try {
                  dec.decode(s)
                  val rejected = dec.rejects.map { case (e, v) =>
                    quarantined(t, e, v.map(x => if (x == null) "NULL" else x.toString)
                      .mkString("(", ", ", ")"))
                  }
                  dec.rows.map(r => (t, r)) ++ rejected
                } catch {
                  case scala.util.control.NonFatal(e) => Iterator(quarantined(t, e, s.take(500)))
                }
              }
            case _ =>
              if (strictTables && !strictOk)
                System.err.println("Received a line from an unknown table: " +
                  "CREATE TABLE statement must precede any INSERT INTO.")
              dropped.add(1)
              Iterator.empty
          }
        }
      }
    }

    if (tableOrder.isEmpty) {
      // No CREATE TABLE anywhere: still run the pass so orphan INSERTs
      // are counted (and warned about) like the reference.
      rows.foreach(_ => ())
      if (dropped.value > 0)
        System.err.println(s"[dump] dropped ${dropped.value} INSERT statement(s) with no (preceding) CREATE TABLE")
      return Result(Nil, Map.empty, dropped.value)
    }

    progress(s"[dump] ${tableOrder.size} table(s) discovered")
    // With quarantine on, the side channel is written after the real
    // tables. `quarantine &&` matters: with the flag off,
    // `_quarantine` is an ordinary dump table with its OWN schema.
    val writeOrder = if (quarantine) tableOrder :+ QuarantineTable else tableOrder
    val schemaOf: String => StructType = t =>
      if (quarantine && t == QuarantineTable) QuarantineSchema else lastCreate(t)._2
    // Live progress (reference A14, `main.rs:63-86`): a rows-written
    // ticker (throttled to 2 Hz) fed by the write tasks' own row
    // counter — the direct writers report no output metrics — plus a
    // per-table line as each table is published. Listener events are
    // fire-and-forget metadata; they never touch the data path.
    val rowsOut = sc.longAccumulator("rowsWritten")
    val tickRows = new java.util.concurrent.atomic.AtomicLong
    val tickLast = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val ticker = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.find(_.id == rowsOut.id).flatMap(_.update) match {
          case Some(n: java.lang.Long) if n > 0 =>
            val tot = tickRows.addAndGet(n)
            val now = System.nanoTime()
            val prev = tickLast.get
            if (now - prev > 500L * 1000 * 1000 && tickLast.compareAndSet(prev, now))
              progress(s"[dump] rows written: $tot")
          case _ => ()
        }
    }
    try {
      sc.addSparkListener(ticker)
      try phase("write:all")(writeTables(spark, rows,
        writeOrder.filterNot(completed.contains).map(t => t -> schemaOf(t)).toMap,
        staging, codec, rowsOut))
      finally sc.removeSparkListener(ticker)
      progress(s"[dump] rows written: ${rowsOut.value}")
      // Exact per-table counts read back from the COMMITTED parquet —
      // task-side counters double-count on task retry or cache-
      // eviction recompute, and the CLI prints these totals as
      // authoritative (the reference's counters are exact). The count
      // comes from the committed files' FOOTERS ([[committedRowCount]]
      // — parquet num_rows is exact by format contract), not a scan
      // job.
      val rowCounts = writeOrder.zipWithIndex.map { case (table, ti) =>
        completed.get(table) match {
          case Some(n) =>
            // committed by a previous run of this exact input —
            // counts come from the manifest, bytes stay untouched
            progress(s"[dump] (${ti + 1}/${writeOrder.size}) $table: $n rows (already complete, skipped)")
            table -> n
          case None =>
            publish(sc.hadoopConfiguration, staging, outDir, table)
            val n = phase(s"count:$table")(
              committedRowCount(spark, s"$outDir/$table"))
            // manifest AFTER the publish and count: a crash in
            // between leaves no entry, so resume safely redoes the
            // table (overwrite) rather than trusting a torn write
            writeManifestEntry(sc.hadoopConfiguration, outDir, table, n, fingerprint)
            progress(s"[dump] (${ti + 1}/${writeOrder.size}) $table: $n rows -> $outDir/$table")
            table -> n
        }
      }.toMap
      if (dropped.value > 0)
        System.err.println(s"[dump] dropped ${dropped.value} INSERT statement(s) with no (preceding) CREATE TABLE")
      Result(tableOrder, rowCounts, dropped.value)
    } finally staging.getFileSystem(sc.hadoopConfiguration).delete(staging, true)
  }

  /** Hidden directory under outDir that the write job commits into;
    * each table is renamed out of it once the whole job has committed
    * (see the class doc, step 6). */
  val StagingDir = "_graft_staging"

  /** How one table is written: its schema, the parquet writer factory
    * and the Hadoop conf entries `prepareWrite` added for it (the row
    * schema its write support reads back, the codec). */
  private case class Sink(schema: StructType, factory: OutputWriterFactory,
                          added: Map[String, String]) {
    def conf(base: Configuration): Configuration = {
      val c = new Configuration(base)
      added.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  /** A `_quarantine` record: the table a rejected row or statement was
    * bound for, the reason (getMessage can be null — a bare NPE — and
    * the column is non-nullable, so the class name stands in) and the
    * raw content. */
  private def quarantined(table: String, e: Throwable, raw: String): (String, InternalRow) =
    (QuarantineTable, InternalRow(UTF8String.fromString(table),
      UTF8String.fromString(Option(e.getMessage).getOrElse(e.getClass.getName)),
      UTF8String.fromString(raw)))

  /** The one write job: every task of `rows` writes its rows into one
    * parquet file per table it meets, under `staging/<table>/`, and the
    * job commits through ONE `FileCommitProtocol` rooted at `staging`.
    * One protocol, not one per table: the output commit coordinator
    * authorizes one commit per (stage, partition), so a task's second
    * per-table commit would be denied — and local mode retries a denied
    * commit forever. A failed job is aborted. Tables no task wrote a
    * row to get one schema-only file, as a Spark write of an empty
    * DataFrame does. Rows of tables outside `schemas` (completed by an
    * earlier run) are dropped. */
  private def writeTables(spark: SparkSession, rows: RDD[(String, InternalRow)],
                          schemas: Map[String, StructType], staging: Path,
                          codec: String, rowsOut: LongAccumulator): Unit = {
    val sc = spark.sparkContext
    val job = Job.getInstance(new Configuration(sc.hadoopConfiguration))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, staging)
    val base = job.getConfiguration
    val sinks: Map[String, Sink] = schemas.map { case (t, schema) =>
      val tj = Job.getInstance(new Configuration(base))
      val factory = new ParquetFileFormat()
        .prepareWrite(spark, tj, Map("compression" -> codec), schema)
      val added = tj.getConfiguration.iterator.asScala
        .map(e => e.getKey -> e.getValue).filter { case (k, v) => base.getRaw(k) != v }.toMap
      t -> Sink(schema, factory, added)
    }
    val runId = java.util.UUID.randomUUID.toString
    val committer = FileCommitProtocol.instantiate(
      spark.conf.get("spark.sql.sources.commitProtocolClass",
        "org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol"),
      runId, staging.toString)
    // Hadoop job ids of the task attempts, as Spark's own writes form them
    val tracker = new java.text.SimpleDateFormat("yyyyMMddHHmmss", java.util.Locale.US)
      .format(new java.util.Date)
    val baseB = sc.broadcast(new SerializableConfiguration(base))
    val sinksB = sc.broadcast(sinks)
    committer.setupJob(job)
    try {
      val msgs = sc.runJob(rows, (ctx: TaskContext, it: Iterator[(String, InternalRow)]) =>
        writePartition(ctx, it, committer, tracker, baseB.value.value, sinksB.value, rowsOut))
      msgs.foreach(committer.onTaskCommit)
      committer.commitJob(job, msgs.toSeq)
    } catch {
      case e: Throwable =>
        committer.abortJob(job)
        throw e
    } finally {
      baseB.destroy(); sinksB.destroy()
    }
    val fs = staging.getFileSystem(base)
    sinks.foreach { case (t, sink) =>
      if (!fs.exists(new Path(s"$staging/$t"))) {
        val ctx = new TaskAttemptContextImpl(sink.conf(base), new TaskAttemptID())
        val ext = sink.factory.getFileExtension(ctx)
        sink.factory.newInstance(s"$staging/$t/part-00000-$runId-c000$ext", sink.schema, ctx).close()
      }
    }
  }

  /** One write task: set up the task attempt with the committer, open a
    * writer per table on the table's first row, write the rows as they
    * come, then close and commit — or close and abort the attempt on
    * any failure. */
  private def writePartition(ctx: TaskContext, rows: Iterator[(String, InternalRow)],
                             committer: FileCommitProtocol, tracker: String,
                             base: Configuration, sinks: Map[String, Sink],
                             rowsOut: LongAccumulator): FileCommitProtocol.TaskCommitMessage = {
    val jobId = new JobID(tracker, ctx.stageId())
    val attempt = new TaskAttemptID(
      new TaskID(jobId, TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
    def attemptContext(conf: Configuration): TaskAttemptContextImpl = {
      conf.set("mapreduce.job.id", jobId.toString)
      conf.set("mapreduce.task.id", attempt.getTaskID.toString)
      conf.set("mapreduce.task.attempt.id", attempt.toString)
      conf.setBoolean("mapreduce.task.ismap", true)
      conf.setInt("mapreduce.task.partition", 0)
      new TaskAttemptContextImpl(conf, attempt)
    }
    val taskCtx = attemptContext(new Configuration(base))
    committer.setupTask(taskCtx)
    val open = scala.collection.mutable.HashMap[String, OutputWriter]()
    try {
      var n = 0L
      rows.foreach { case (t, row) =>
        sinks.get(t).foreach { sink =>
          open.getOrElseUpdate(t, {
            val c = attemptContext(sink.conf(base))
            val path = committer.newTaskTempFile(
              taskCtx, Some(t), FileNameSpec("", "-c000" + sink.factory.getFileExtension(c)))
            sink.factory.newInstance(path, sink.schema, c)
          }).write(row)
          n += 1
        }
      }
      open.values.foreach(_.close())
      rowsOut.add(n)
      committer.commitTask(taskCtx)
    } catch {
      case e: Throwable =>
        open.values.foreach(w => try w.close() catch { case scala.util.control.NonFatal(_) => () })
        committer.abortTask(taskCtx)
        throw e
    }
  }

  /** Move one committed table from the staging dir to `outDir/<table>`,
    * replacing what an earlier run left there, and mark it complete. */
  private def publish(conf: Configuration, staging: Path, outDir: String, table: String): Unit = {
    val dst = new Path(s"$outDir/$table")
    val fs = dst.getFileSystem(conf)
    fs.delete(dst, true)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(new Path(s"$staging/$table"), dst))
      throw new java.io.IOException(s"could not publish table $table to $dst")
    fs.create(new Path(dst, "_SUCCESS"), true).close()
  }

  /** Exact row count of a COMMITTED parquet table directory from file
    * footers: parquet's `num_rows` is authoritative for committed
    * files, so summing footers equals the column-less `count()` scan
    * it replaces while reading only metadata (round-17: the two
    * post-write count jobs were ~20 % of the sf0.1 convert). Driver-
    * side footer reads are O(#files) metadata I/O — fine up to the
    * bar below; a table fanned into more files than that (the 100 TB
    * regime) falls back to the distributed scan, whose cost is then
    * amortized by the write it follows. */
  private[dump] def committedRowCount(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val parts = fs.listStatus(p).filter(st => st.isFile &&
      st.getPath.getName.startsWith("part-") &&
      st.getPath.getName.endsWith(".parquet"))
    // no `part-*` file (written by another tool, renamed): scan rather
    // than report 0
    if (parts.isEmpty || parts.length > 1024) spark.read.parquet(dir).count()
    else parts.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Join partition i's Tail lines with partition i+1's Head lines and
    * re-run the statement assembler over the concatenation. Statements
    * recovered from partition p's head get position `(2*p, k)` — before
    * p's body at `(2*p+1, _)`, after p-1's body at `(2*(p-1)+1, _)`.
    * The first partition's leading statement is recovered here too
    * (partition bodies only start after their first terminator line);
    * a trailing unterminated fragment at EOF is dropped, like the
    * reference's read loop (a statement without `;` never parses). */
  private[dump] def heal(frags: Array[(Int, StatementReader.Seg)]): Seq[(Pos, String)] = {
    val byPid = frags.groupBy(_._1)
    val pids = byPid.keys.toSeq.sorted
    val out = Vector.newBuilder[(Pos, String)]
    var carry: Vector[String] = Vector.empty
    pids.foreach { pid =>
      val segsHere = byPid(pid).map(_._2)
      val head = segsHere.collectFirst { case StatementReader.Head(l) => l }.getOrElse(Vector.empty)
      val tail = segsHere.collectFirst { case StatementReader.Tail(l) => l }.getOrElse(Vector.empty)
      if (StatementReader.terminates(head)) {
        var k = -1L
        StatementReader.statements((carry ++ head).iterator).foreach { s =>
          k += 1
          out += (((2L * pid, k), s))
        }
        carry = tail
      } else {
        // No terminator anywhere in this partition (its Tail is empty by
        // construction): a single statement spans the entire partition.
        // Chain the whole thing into the carry so the statement survives
        // to the partition where it finally terminates.
        carry = carry ++ head ++ tail
      }
    }
    out.result()
  }
}
