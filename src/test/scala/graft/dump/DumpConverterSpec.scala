package graft.dump

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.funsuite.AnyFunSuite

class DumpConverterSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  def tmpDir(prefix: String): String = graft.Fs.scratchDir(prefix).toString

  val userSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("balance", DoubleType, nullable = true),
    StructField("created", TimestampType, nullable = true),
    StructField("active", BooleanType, nullable = true),
  ))
  val ts = java.sql.Timestamp.from(java.time.Instant.parse("2012-01-02T12:55:22Z"))
  val userRows = Seq(
    Row(1L, "alice", 10.5, ts, true),
    Row(2L, "bo'b; special \\ chars\nnewline", -3.0, ts, false),
    Row(3L, null, null, null, null),
  )

  test("end-to-end: render dump → convert → read back identical rows") {
    val in = tmpDir("dump-in")
    val out = tmpDir("dump-out")
    val text = DumpRenderer.dump(Seq(("user", userSchema, userRows)), batchSize = 2)
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out)
    assert(res.tables == Seq("user"))
    assert(res.rowsWritten("user") == 3)
    val back = spark.read.parquet(s"$out/user").collect().sortBy(_.getLong(0))
    assert(back.toSeq == userRows)
    // schema parity: lowercased names, types, nullability from DDL
    val schema = spark.read.parquet(s"$out/user").schema
    assert(schema.fieldNames.toSeq == userSchema.fieldNames.toSeq)
    assert(schema("id").dataType == LongType)
    assert(schema("active").dataType == BooleanType)
  }

  test("gzip input converts identically") {
    val in = tmpDir("dump-gz-in")
    val out = tmpDir("dump-gz-out")
    val text = DumpRenderer.dump(Seq(("user", userSchema, userRows)))
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$in/dump.sql.gz"))
    gz.write(text.getBytes("UTF-8")); gz.close()
    val res = DumpConverter.convert(spark, s"$in/dump.sql.gz", out)
    assert(res.rowsWritten("user") == 3)
    assert(spark.read.parquet(s"$out/user").count() == 3)
  }

  test("bz2 input SPLITS: parallel partitions parse one compressed file (vs gzip's 1)") {
    // The reference reads gzip strictly sequentially (its only
    // compressed path); Hadoop's bzip2 codec is block-splittable, so
    // the same sc.textFile ingest parallelizes a compressed dump with
    // zero converter changes. blockSize=1 → 100 KB bzip2 blocks, so a
    // ~1 MB dump holds many split points.
    val in = tmpDir("dump-bz2-in")
    val outPlain = tmpDir("dump-bz2-out-plain")
    val outBz = tmpDir("dump-bz2-out-bz")
    val manyRows = (1L to 20000L).map { i =>
      Row(i, s"user_$i name-with-some-padding-$i", i * 1.5, ts, i % 2 == 0)
    }
    val text = DumpRenderer.dump(Seq(("user", userSchema, manyRows)), batchSize = 100)
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val bz = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(
      new java.io.FileOutputStream(s"$in/dump.sql.bz2"), 1)
    bz.write(text.getBytes("UTF-8")); bz.close()

    // >1 input split must actually carry lines — the splittability claim
    val perPart = spark.sparkContext.textFile(s"$in/dump.sql.bz2", 8)
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect().filter(_._2 > 0)
    assert(perPart.length > 1,
      s"bzip2 ingest must parse from multiple partitions, got $perPart")

    // and the parallel compressed convert is byte-identical to plain
    val resPlain = DumpConverter.convert(spark, s"$in/dump.sql", outPlain, minPartitions = 8)
    val resBz = DumpConverter.convert(spark, s"$in/dump.sql.bz2", outBz, minPartitions = 8)
    assert(resBz.rowsWritten("user") == 20000L)
    assert(resBz.rowsWritten == resPlain.rowsWritten)
    val a = spark.read.parquet(s"$outPlain/user").collect().sortBy(_.getLong(0))
    val b = spark.read.parquet(s"$outBz/user").collect().sortBy(_.getLong(0))
    assert(a.toSeq == b.toSeq)
  }

  test("zstd single-file input converts identically (sequential, like the reference's gzip)") {
    val in = tmpDir("dump-zst-in")
    val out = tmpDir("dump-zst-out")
    val text = DumpRenderer.dump(Seq(("user", userSchema, userRows)))
    val zo = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(
      new java.io.FileOutputStream(s"$in/dump.sql.zst"))
    zo.write(text.getBytes("UTF-8")); zo.close()
    val res = DumpConverter.convert(spark, s"$in/dump.sql.zst", out)
    assert(res.rowsWritten("user") == 3)
    val back = spark.read.parquet(s"$out/user").collect().sortBy(_.getLong(0))
    assert(back.toSeq == userRows)
  }

  test("zstd SHARDED input: one partition per shard file, heal across shard boundaries") {
    // zstd is not intra-file splittable (no SplittableCompressionCodec;
    // frame boundaries are invisible without decompressing), so the
    // scale unit is the shard file. A 4-shard dump must (a) read as 4
    // partitions in shard-name order and (b) convert byte-identically
    // to the unsharded plain text — including a statement deliberately
    // CUT ACROSS a shard boundary, which exercises the same healer as
    // intra-file partition splits.
    val in = tmpDir("dump-zshard-in")
    val outPlain = tmpDir("dump-zshard-out-plain")
    val outZ = tmpDir("dump-zshard-out-z")
    val manyRows = (1L to 2000L).map { i =>
      Row(i, s"user_$i", i * 1.5, ts, i % 2 == 0)
    }
    val text = DumpRenderer.dump(Seq(("user", userSchema, manyRows)), batchSize = 50)
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    // shard at LINE boundaries (shard files are line-aligned, like any
    // chunked `mysqldump | zstd` pipeline) — but put the first boundary
    // INSIDE the multi-line CREATE TABLE block so a statement spans
    // shard files and must be healed across them
    val lines = text.split("\n") // text ends in \n: exact reconstruction below
    val createStart = lines.indexWhere(_.startsWith("CREATE TABLE"))
    assert(createStart >= 0)
    val cut0 = createStart + 2 // mid-CREATE: statement spans shard 0 → 1
    val rest = lines.length - cut0
    val cuts = Seq(0, cut0, cut0 + rest / 3, cut0 + 2 * rest / 3, lines.length)
    val shardDir = tmpDir("dump-zshard-files")
    (0 until 4).foreach { k =>
      val chunk = lines.slice(cuts(k), cuts(k + 1)).map(_ + "\n").mkString
      val zo = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(
        new java.io.FileOutputStream(f"$shardDir/dump-$k%03d.sql.zst"))
      zo.write(chunk.getBytes("UTF-8")); zo.close()
    }
    val files = DumpConverter.expandInput(spark.sparkContext, shardDir).map(_.getPath.toString)
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      (0 until 4).map(k => f"dump-$k%03d.sql.zst"))
    val rdd = DumpConverter.zstdLines(spark.sparkContext, files)
    assert(rdd.getNumPartitions == 4)
    val perPart = rdd.mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect().filter(_._2 > 0)
    assert(perPart.length == 4, s"every shard must carry lines, got $perPart")

    val resPlain = DumpConverter.convert(spark, s"$in/dump.sql", outPlain)
    val resZ = DumpConverter.convert(spark, shardDir, outZ)
    assert(resZ.rowsWritten("user") == 2000L)
    assert(resZ.rowsWritten == resPlain.rowsWritten)
    assert(resZ.droppedInserts == 0)
    val a = spark.read.parquet(s"$outPlain/user").collect().sortBy(_.getLong(0))
    val b = spark.read.parquet(s"$outZ/user").collect().sortBy(_.getLong(0))
    assert(a.toSeq == b.toSeq)
  }

  test("multi-table dump with interleaved inserts (supported deviation) and unknown-table drop") {
    val in = tmpDir("dump-multi-in")
    val out = tmpDir("dump-multi-out")
    val text =
      """CREATE TABLE `a` (`x` int NOT NULL);
        |CREATE TABLE `b` (`y` varchar(10));
        |INSERT INTO `a` VALUES (1),(2);
        |INSERT INTO `b` VALUES ('p');
        |INSERT INTO `a` VALUES (3);
        |INSERT INTO `nosuch` VALUES (9);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out)
    assert(res.tables.toSet == Set("a", "b"))
    assert(res.rowsWritten == Map("a" -> 3L, "b" -> 1L))
    assert(res.droppedInserts == 1)
  }

  test("--strict-tables restores the reference's warn-and-drop section routing") {
    val in = tmpDir("dump-strict-in")
    val out = tmpDir("dump-strict-out")
    // After `CREATE TABLE b` the current section is b: the interleaved
    // `INSERT INTO a VALUES (3)` and the unknown-table insert are both
    // dropped with the reference's stderr warning (parquet_writer.rs:93-95);
    // default mode keeps the interleaved row (previous test).
    val text =
      """CREATE TABLE `a` (`x` int NOT NULL);
        |INSERT INTO `a` VALUES (1),(2);
        |CREATE TABLE `b` (`y` varchar(10));
        |INSERT INTO `b` VALUES ('p');
        |INSERT INTO `a` VALUES (3);
        |INSERT INTO `nosuch` VALUES (9);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, strictTables = true)
    assert(res.tables.toSet == Set("a", "b"))
    assert(res.rowsWritten == Map("a" -> 2L, "b" -> 1L))
    assert(res.droppedInserts == 2)
    // and the same dump WITHOUT strict mode keeps the interleaved row
    val out2 = tmpDir("dump-strict-out2")
    val res2 = DumpConverter.convert(spark, s"$in/dump.sql", out2)
    assert(res2.rowsWritten == Map("a" -> 3L, "b" -> 1L))
    assert(res2.droppedInserts == 1)
  }

  test("partition-boundary healing: many partitions, multi-line CREATE TABLE") {
    val in = tmpDir("dump-part-in")
    val out = tmpDir("dump-part-out")
    // CREATE TABLE spanning many lines + many single-line inserts, read
    // with a high minPartitions so boundaries cut through both.
    val rows = (1 to 500).map(i => s"INSERT INTO `t` VALUES ($i, 'name $i');").mkString("\n")
    val text =
      s"""-- dump
         |CREATE TABLE `t` (
         |  `id` int NOT NULL,
         |  `name` varchar(20),
         |  KEY `k` (`name`(5))
         |);
         |$rows
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, minPartitions = 13)
    assert(res.rowsWritten("t") == 500)
    val back = spark.read.parquet(s"$out/t")
    assert(back.count() == 500)
    import org.apache.spark.sql.functions._
    assert(back.agg(sum("id")).head.getLong(0) == 500L * 501 / 2)
  }

  test("statement spanning entire partitions is not lost (heal carry-chain)") {
    val in = tmpDir("dump-span-in")
    val out = tmpDir("dump-span-out")
    // A CREATE TABLE block of ~120 lines read with minPartitions=40:
    // partitions are ~3 lines each, so the statement spans many whole
    // partitions with no terminator — the round-1 healer dropped it.
    val cols = (1 to 118).map(i => s"  `c$i` int,").mkString("\n")
    val text =
      s"""CREATE TABLE `wide` (
         |$cols
         |  `last` int
         |);
         |INSERT INTO `wide` VALUES (${(1 to 119).mkString(",")});
         |INSERT INTO `wide` VALUES (${(201 to 319).mkString(",")});
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, minPartitions = 40)
    assert(res.tables == Seq("wide"))
    assert(res.rowsWritten("wide") == 2)
    assert(res.droppedInserts == 0)
    val back = spark.read.parquet(s"$out/wide")
    assert(back.schema.fields.length == 119)
    import org.apache.spark.sql.functions._
    assert(back.agg(sum("c1"), sum("last")).head() ==
      Row(1L + 201L, 119L + 319L))
  }

  test("raw-newline literals with ');' lookalike line endings convert sequentially") {
    // Each INSERT spans two physical lines, the first ending in `);`
    // INSIDE an open string literal — a statement-terminator lookalike
    // that the reference's non-quote-aware reader splits on (corrupting
    // the dump). Our quote-aware assembler keeps the statement whole.
    // Raw newlines inside literals are OUTSIDE the mysqldump format
    // (mysqldump escapes them as \n), so this shape is only supported
    // sequentially: a partition starting mid-literal cannot locally
    // know its quote parity (the same reason nothing splits quoted
    // multi-line CSV). The parsed value pins the documented
    // no-separator line join ("a);" + "end" → "a);end").
    val in = tmpDir("dump-quote-in")
    val out = tmpDir("dump-quote-out")
    val n = 200
    val stmts = (1 to n).map { i =>
      s"INSERT INTO `t` VALUES ('v$i);\n end',$i);"
    }.mkString("\n")
    val text =
      s"""CREATE TABLE `t` (`s` varchar(40), `n` bigint);
         |$stmts
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, minPartitions = 1)
    assert(res.rowsWritten("t") == n)
    assert(res.droppedInserts == 0)
    val back = spark.read.parquet(s"$out/t").collect()
      .map(r => (r.getLong(1), r.getString(0))).sortBy(_._1)
    assert(back.toSeq == (1 to n).map(i => (i.toLong, s"v$i);end")))
  }

  test("multi-line statements with ');' lookalikes INSIDE literals heal across many partitions") {
    // In-contract torture: literals stay on one line (mysqldump's
    // guarantee) but statements span lines, every row tuple carries a
    // `);` or `';'` lookalike inside its literal, and minPartitions=16
    // drops boundaries between tuple lines. The healer must reassemble
    // every statement; values must come back exact.
    val in = tmpDir("dump-mls-in")
    val out = tmpDir("dump-mls-out")
    val n = 300
    val stmts = (1 to n).map { i =>
      s"INSERT INTO `t` VALUES\n('a$i);b',$i),\n('c\\';d-$i', ${i + 1000});"
    }.mkString("\n")
    val text =
      s"""CREATE TABLE `t` (`s` varchar(40), `n` bigint);
         |$stmts
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, minPartitions = 16)
    assert(res.rowsWritten("t") == 2L * n)
    assert(res.droppedInserts == 0)
    val back = spark.read.parquet(s"$out/t").collect()
      .map(r => (r.getLong(1), r.getString(0))).sortBy(_._1).toSeq
    val want = ((1 to n).map(i => (i.toLong, s"a$i);b")) ++
      (1 to n).map(i => (i + 1000L, s"c';d-$i"))).sortBy(_._1)
    assert(back == want)
  }

  test("re-CREATE of a table wins (writer rotation, parquet_writer.rs:82-91)") {
    val in = tmpDir("dump-recreate-in")
    val out = tmpDir("dump-recreate-out")
    val text =
      """CREATE TABLE `t` (`x` int);
        |INSERT INTO `t` VALUES (1);
        |CREATE TABLE `t` (`x` int, `y` int);
        |INSERT INTO `t` VALUES (2, 20);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out)
    // The reference rotates its writer onto the same output path on a
    // re-CREATE, so rows inserted before the last CREATE are overwritten
    // away. We reproduce that: only the post-re-CREATE insert survives.
    assert(res.rowsWritten("t") == 1)
    assert(res.droppedInserts == 1)
    val back = spark.read.parquet(s"$out/t").collect()
    assert(back.toSeq == Seq(Row(2L, 20L)))
  }

  // bad rows: NULL in NOT NULL, a statement-level i64 overflow, wrong
  // arity, and a type mismatch — plus two good rows that must survive
  private val quarantineDump =
    """CREATE TABLE `q` (`id` bigint NOT NULL, `name` varchar(10), `price` double);
      |INSERT INTO `q` VALUES (1,'a',1.5),(2,'b',2.5);
      |INSERT INTO `q` VALUES (NULL,'c',3.5);
      |INSERT INTO `q` VALUES (99999999999999999999,'d',4.5);
      |INSERT INTO `q` VALUES (4,'e');
      |INSERT INTO `q` VALUES (5,6,7.5);
      |""".stripMargin

  test("quarantine: bad rows route to the side channel, good rows land") {
    val in = tmpDir("dump-quar-in")
    val out = tmpDir("dump-quar-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), quarantineDump)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, quarantine = true)
    assert(res.rowsWritten("q") == 2, "both well-formed rows must land")
    assert(res.rowsWritten(DumpConverter.QuarantineTable) == 4)
    val good = spark.read.parquet(s"$out/q").collect().sortBy(_.getLong(0))
    assert(good.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val quar = spark.read.parquet(s"$out/${DumpConverter.QuarantineTable}")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(quar.forall(_._1 == "q"))
    assert(quar.count(_._2.contains("NULL in NOT NULL")) == 1)
    assert(quar.count(_._2.contains("out of i64 range")) == 1,
      s"expected one overflow entry in ${quar.map(_._2).toSeq}")
    assert(quar.count(q => q._2.contains("values but schema has")) == 1)
    assert(quar.count(_._2.contains("expected string")) == 1)
    // the raw column carries enough to replay: the offending values
    assert(quar.exists(_._3.contains("99999999999999999999")))
  }

  test("quarantine off: the same bad dump fails the job (strict default preserved)") {
    val in = tmpDir("dump-quarfail-in")
    val out = tmpDir("dump-quarfail-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), quarantineDump)
    val e = intercept[org.apache.spark.SparkException] {
      DumpConverter.convert(spark, s"$in/dump.sql", out)
    }
    assert(e.getMessage != null)
  }

  test("quarantine: a statement that fails to tokenize after good rows lands none of them") {
    val in = tmpDir("dump-quartok-in")
    val out = tmpDir("dump-quartok-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"),
      """CREATE TABLE `s` (`id` bigint NOT NULL, `v` varchar(10));
        |INSERT INTO `s` VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d' bogus);
        |INSERT INTO `s` VALUES (5,'e'),(6,'f');
        |""".stripMargin)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, quarantine = true)
    assert(res.rowsWritten("s") == 2)
    assert(spark.read.parquet(s"$out/s").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L))
    val quar = spark.read.parquet(s"$out/${DumpConverter.QuarantineTable}")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(quar.length == 1, s"one statement-level record, got ${quar.toSeq}")
    assert(quar.head._1 == "s" && quar.head._2.startsWith("expected ')'"))
    assert(quar.head._3.startsWith("INSERT INTO `s` VALUES (1,'a'),(2,'b')"))
  }

  test("pre-Gregorian TIMESTAMP and DATE literals land as their proleptic micros and days") {
    // java.time's proleptic Gregorian reading of each literal, as
    // chrono and DuckDB read it; the boxed java.sql path shifted the
    // timestamps before 1582-10-15 by days and the dates in the
    // 1582-10-05..14 gap by 10
    val in = tmpDir("dump-proleptic-in")
    val out = tmpDir("dump-proleptic-out")
    val lits = Seq(
      ("0001-01-01 00:00:00", "0001-01-01"), ("1000-06-15 12:00:00", "1000-06-15"),
      ("1582-10-10 00:00:00", "1582-10-10"), ("1582-10-14 23:59:59.5", "1582-10-05"),
      ("1900-01-01 00:00:00", "1900-01-01"), ("2012-01-02 12:55:22", "2012-01-02"))
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"),
      "CREATE TABLE `old` (`id` bigint NOT NULL, `ts` datetime, `d` date);\n" +
        lits.zipWithIndex.map { case ((ts, d), i) => s"($i,'$ts','$d')" }
          .mkString("INSERT INTO `old` VALUES ", ",", ";\n"))
    DumpConverter.convert(spark, s"$in/dump.sql", out,
      types = DumpParser.TypeOptions(dateAsDate = true))
    val got = spark.read.parquet(s"$out/old")
      .selectExpr("id", "unix_micros(ts)", "unix_date(d)").collect()
      .sortBy(_.getLong(0)).map(r => (r.getLong(1), r.getInt(2))).toSeq
    val want = lits.map { case (ts, d) =>
      val ldt = java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
      (ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000,
        java.time.LocalDate.parse(d).toEpochDay.toInt)
    }
    assert(got == want)
  }

  // --- restartability (completion manifest + --resume)

  val resumeDump =
    """CREATE TABLE `ta` (`id` bigint, `v` varchar(10));
      |INSERT INTO `ta` VALUES (1,'a1'),(2,'a2');
      |CREATE TABLE `tb` (`id` bigint, `v` varchar(10));
      |INSERT INTO `tb` VALUES (3,'b1'),(4,'b2'),(5,'b3');
      |CREATE TABLE `tc` (`id` bigint, `v` varchar(10));
      |INSERT INTO `tc` VALUES (6,'c1');
      |""".stripMargin

  private def tableRows(out: String, t: String): Seq[(Long, String)] =
    spark.read.parquet(s"$out/$t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  test("resume: kill after first table commits, rerun skips it and completes the rest") {
    val in = tmpDir("dump-resume-in")
    val out = tmpDir("dump-resume-out")
    val clean = tmpDir("dump-resume-clean")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), resumeDump)

    // clean single run for the equality oracle
    DumpConverter.convert(spark, s"$in/dump.sql", clean)

    // killed run: the progress hook throws as soon as the FIRST
    // per-table commit line appears — table 1 is committed+manifested,
    // tables 2..3 never start (same observable state as a mid-run
    // SIGKILL between table commits)
    val boom = new RuntimeException("injected kill")
    val killed = intercept[RuntimeException] {
      DumpConverter.convert(spark, s"$in/dump.sql", out,
        progress = line => if (line.contains("(1/3)")) throw boom)
    }
    assert(killed eq boom)
    assert(new java.io.File(s"$out/ta").exists(), "first table must be committed")
    assert(!new java.io.File(s"$out/tb").exists(), "second table must not exist yet")
    val manifest = new java.io.File(s"$out/${DumpConverter.ManifestDir}")
    assert(manifest.isDirectory && manifest.listFiles().exists(_.getName.contains("ta")))
    val taFilesBefore = new java.io.File(s"$out/ta").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    // resumed run: ta skipped (bytes untouched), tb/tc completed
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out,
      progress = seen += _, resume = true)
    assert(res.rowsWritten == Map("ta" -> 2L, "tb" -> 3L, "tc" -> 1L))
    assert(seen.exists(l => l.contains("ta") && l.contains("skipped")),
      s"expected a skip line for ta in: $seen")
    val taFilesAfter = new java.io.File(s"$out/ta").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(taFilesAfter == taFilesBefore, "resume must not rewrite the completed table")

    // and the final output equals the clean single run, table by table
    for (t <- Seq("ta", "tb", "tc"))
      assert(tableRows(out, t) == tableRows(clean, t), s"table $t differs from clean run")
  }

  test("resume: a changed input invalidates the manifest (no stale skips)") {
    val in = tmpDir("dump-resume2-in")
    val out = tmpDir("dump-resume2-out")
    val f = java.nio.file.Paths.get(s"$in/dump.sql")
    Files.writeString(f, resumeDump)
    DumpConverter.convert(spark, s"$in/dump.sql", out)
    // same tables, different content AND size → different fingerprint
    Files.writeString(f, resumeDump.replace("'a1'", "'a1-CHANGED'"))
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, resume = true)
    assert(res.rowsWritten.values.sum == 6)
    assert(tableRows(out, "ta").exists(_._2 == "a1-CHANGED"),
      "rerun against changed input must rewrite, not skip")
  }

  test("resume: changed conversion options invalidate the manifest (no mixed-config output)") {
    val in = tmpDir("dump-resume4-in")
    val out = tmpDir("dump-resume4-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), resumeDump)
    DumpConverter.convert(spark, s"$in/dump.sql", out, codec = "snappy")
    // same input bytes, different codec: skipping would leave snappy
    // tables inside a zstd run — the fingerprint must refuse the skip
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out,
      codec = "zstd", resume = true, progress = seen += _)
    assert(res.rowsWritten.values.sum == 6, "all tables must re-convert")
    assert(!seen.exists(_.contains("skipped")), s"nothing may be skipped: $seen")
    val taCodecs = new java.io.File(s"$out/ta").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    assert(taCodecs.nonEmpty && taCodecs.forall(_.contains("zstd")),
      s"completed-under-snappy table must be rewritten as zstd: ${taCodecs.toSeq}")
    // unchanged options DO skip (the fingerprint is stable, not paranoid)
    val seen2 = scala.collection.mutable.ArrayBuffer[String]()
    DumpConverter.convert(spark, s"$in/dump.sql", out,
      codec = "zstd", resume = true, progress = seen2 += _)
    assert(seen2.count(_.contains("skipped")) == 3,
      s"identical rerun must skip all three tables: $seen2")
  }

  test("resume off: a fresh run clears stale manifest entries") {
    val in = tmpDir("dump-resume3-in")
    val out = tmpDir("dump-resume3-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), resumeDump)
    DumpConverter.convert(spark, s"$in/dump.sql", out)
    assert(new java.io.File(s"$out/${DumpConverter.ManifestDir}").isDirectory)
    // a NON-resume rerun is a fresh convert: old entries must go so a
    // later --resume can only ever see entries this run committed
    DumpConverter.convert(spark, s"$in/dump.sql", out)
    // count .json entries only — local Hadoop FS adds .crc sidecars
    val entries = new java.io.File(s"$out/${DumpConverter.ManifestDir}").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(entries.length == 3, "fresh run rewrites the manifest for its own tables")
  }

  test("multi-database dump: USE routes same-named tables to per-db output dirs") {
    val in = tmpDir("dump-multidb-in")
    val out = tmpDir("dump-multidb-out")
    val dump =
      """CREATE DATABASE `db1`;
        |USE `db1`;
        |CREATE TABLE `t` (`id` bigint, `name` varchar(10));
        |INSERT INTO `t` VALUES (1,'a'),(2,'b');
        |CREATE DATABASE `db2`;
        |USE `db2`;
        |CREATE TABLE `t` (`id` bigint, `price` double);
        |INSERT INTO `t` VALUES (3,1.5);
        |USE `db1`;
        |INSERT INTO `t` VALUES (4,'c');
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), dump)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out)
    assert(res.tables == Seq("db1/t", "db2/t"))
    assert(res.rowsWritten == Map("db1/t" -> 3L, "db2/t" -> 1L))
    assert(res.droppedInserts == 0)
    val t1 = spark.read.parquet(s"$out/db1/t").collect().sortBy(_.getLong(0))
    assert(t1.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (4L, "c")))
    val t2 = spark.read.parquet(s"$out/db2/t").collect()
    assert(t2.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((3L, 1.5)))
  }

  test("multi-database dump heals a USE spanning partition boundaries") {
    val in = tmpDir("dump-multidb-split-in")
    val out = tmpDir("dump-multidb-split-out")
    // same dump, many tiny partitions: USE/CREATE/INSERT land in
    // different partitions and the db timeline must survive healing
    val dump =
      """USE `dbx`;
        |CREATE TABLE `t` (`id` bigint);
        |INSERT INTO `t` VALUES (1);
        |USE `dby`;
        |CREATE TABLE `t` (`id` bigint);
        |INSERT INTO `t` VALUES (2),(3);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), dump)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, minPartitions = 6)
    assert(res.rowsWritten == Map("dbx/t" -> 1L, "dby/t" -> 2L))
  }

  test("quarantine: a dump defining the reserved `_quarantine` table fails fast") {
    val in = tmpDir("dump-quarres-in")
    val out = tmpDir("dump-quarres-out")
    val dump =
      """CREATE TABLE `_quarantine` (`id` bigint);
        |INSERT INTO `_quarantine` VALUES (1);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), dump)
    val e = intercept[IllegalArgumentException] {
      DumpConverter.convert(spark, s"$in/dump.sql", out, quarantine = true)
    }
    assert(e.getMessage.contains("_quarantine"))
    // without quarantine the name is just a normal table
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out)
    assert(res.rowsWritten("_quarantine") == 1)
  }

  test("--codec routes the parquet compression; bad codec fails before any work") {
    val in = tmpDir("dump-codec-in")
    val text = DumpRenderer.dump(Seq(("user", userSchema, userRows)), batchSize = 2)
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    for ((codec, ext) <- Seq("zstd" -> "zstd", "gzip" -> "gz")) {
      val out = tmpDir(s"dump-codec-$codec-out")
      val res = DumpConverter.convert(spark, s"$in/dump.sql", out, codec = codec)
      assert(res.rowsWritten("user") == 3)
      val parts = new java.io.File(s"$out/user").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(parts.nonEmpty && parts.forall(_.contains(s".$ext.")),
        s"expected $ext part files, got ${parts.mkString(",")}")
      val back = spark.read.parquet(s"$out/user").collect().sortBy(_.getLong(0))
      assert(back.toSeq == userRows)
    }
    val e = intercept[IllegalArgumentException] {
      DumpConverter.convert(spark, s"$in/dump.sql", tmpDir("dump-codec-bad"), codec = "lzo")
    }
    assert(e.getMessage.contains("unsupported codec"))
  }

  test("type options end-to-end: DATE and u64 columns land as date32 / decimal(20,0)") {
    val in = tmpDir("dump-typed-in")
    val out = tmpDir("dump-typed-out")
    val text =
      """CREATE TABLE `evt` (`id` bigint NOT NULL, `day` date, `big` bigint unsigned);
        |INSERT INTO `evt` VALUES (1,'2024-01-31',18446744073709551615),(2,'2024-02-29',9223372036854775808);
        |INSERT INTO `evt` VALUES (3,NULL,42),(4,'1970-01-01',NULL);
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out,
      types = DumpParser.TypeOptions(dateAsDate = true, unsignedBigintDecimal = true))
    assert(res.rowsWritten("evt") == 4)
    val back = spark.read.parquet(s"$out/evt")
    assert(back.schema("day").dataType == org.apache.spark.sql.types.DateType)
    assert(back.schema("big").dataType == org.apache.spark.sql.types.DecimalType(20, 0))
    val rows = back.collect().sortBy(_.getLong(0))
    assert(rows.map(r => Option(r.getDate(1)).map(_.toString).orNull).toSeq ==
      Seq("2024-01-31", "2024-02-29", null, "1970-01-01"))
    assert(rows.map(r => Option(r.getDecimal(2)).map(_.toString).orNull).toSeq ==
      Seq("18446744073709551615", "9223372036854775808", "42", null))
    // the SAME dump without the flags fails on the > i64 literal
    // (reference parity preserved by default)
    assertThrows[org.apache.spark.SparkException](
      DumpConverter.convert(spark, s"$in/dump.sql", tmpDir("dump-typed-plain")))
  }

  // --- direct writers: one job, per-task files, staged publish

  private def partFiles(out: String, t: String): Seq[String] =
    new java.io.File(s"$out/$t").listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  private def sortedRows(out: String, t: String): Seq[Row] =
    spark.read.parquet(s"$out/$t").collect().sortBy(_.getLong(0)).toSeq

  test("gzip and minPartitions = 1 inputs rebalance their statements: same rows, <= defaultParallelism + 1 files") {
    val in = tmpDir("dump-rebal-in")
    val many = (1L to 3000L).map(i => Row(i, s"user_$i", i * 0.5, ts, i % 3 == 0))
    val text = DumpRenderer.dump(
      Seq(("user", userSchema, many), ("guest", userSchema, many.take(400))), batchSize = 50)
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val gz = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(s"$in/dump.sql.gz"))
    gz.write(text.getBytes("UTF-8")); gz.close()
    val outSplit = tmpDir("dump-rebal-split")
    val split = DumpConverter.convert(spark, s"$in/dump.sql", outSplit, minPartitions = 8)
    assert(split.rowsWritten == Map("user" -> 3000L, "guest" -> 400L))
    val cap = spark.sparkContext.defaultParallelism + 1
    for ((input, mp) <- Seq(s"$in/dump.sql" -> 1, s"$in/dump.sql.gz" -> 1)) {
      val out = tmpDir("dump-rebal-out")
      val res = DumpConverter.convert(spark, input, out, minPartitions = mp)
      assert(res.rowsWritten == split.rowsWritten, input)
      for (t <- Seq("user", "guest")) {
        assert(sortedRows(out, t) == sortedRows(outSplit, t), s"$input: $t differs")
        val files = partFiles(out, t)
        assert(files.nonEmpty && files.size <= cap, s"$input: $t has ${files.size} files")
      }
      // one input partition, yet the big table was parsed by several tasks
      assert(partFiles(out, "user").size > 1, s"$input was not rebalanced")
    }
  }

  test("interleaved multi-table dump at minPartitions 1 and 7: same rows, <= partitions + 1 files per table") {
    val in = tmpDir("dump-inter-in")
    val tables = Seq("a", "b", "c")
    // `e` has no INSERT: it still lands as a readable, empty table
    val creates = (tables :+ "e").map(t => s"CREATE TABLE `$t` (`id` bigint NOT NULL, `v` varchar(20));")
    val inserts = (1 to 600).map { i =>
      val t = tables(i % 3)
      s"INSERT INTO `$t` VALUES ($i,'$t-$i'),(${i + 10000},'$t-${i + 10000}');"
    }
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), (creates ++ inserts).mkString("", "\n", "\n"))
    val want = tables.map { t =>
      t -> (1 to 600).filter(i => tables(i % 3) == t)
        .flatMap(i => Seq((i.toLong, s"$t-$i"), (i + 10000L, s"$t-${i + 10000}"))).sortBy(_._1)
    }.toMap + ("e" -> Seq.empty)
    for (mp <- Seq(1, 7)) {
      val out = tmpDir(s"dump-inter-out-$mp")
      val res = DumpConverter.convert(spark, s"$in/dump.sql", out, minPartitions = mp)
      assert(res.rowsWritten == want.map { case (t, rs) => t -> rs.size.toLong })
      val parts = math.max(spark.sparkContext.textFile(s"$in/dump.sql", mp).getNumPartitions,
        spark.sparkContext.defaultParallelism)
      for (t <- tables :+ "e") {
        assert(tableRows(out, t) == want(t), s"minPartitions=$mp: $t differs")
        val files = partFiles(out, t)
        assert(files.nonEmpty && files.size <= parts + 1,
          s"minPartitions=$mp: $t has ${files.size} files for $parts partitions")
      }
    }
  }

  test("a failed convert leaves no staging dir, no _temporary and no table dir behind") {
    val in = tmpDir("dump-failclean-in")
    val out = tmpDir("dump-failclean-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), quarantineDump)
    intercept[org.apache.spark.SparkException] {
      DumpConverter.convert(spark, s"$in/dump.sql", out)
    }
    for (name <- Seq(DumpConverter.StagingDir, "_temporary", "q"))
      assert(!new java.io.File(s"$out/$name").exists(), s"$name left in outDir")
  }

  test("a stale staging dir from a killed run is removed by the next run") {
    val in = tmpDir("dump-stale-in")
    val out = tmpDir("dump-stale-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), resumeDump)
    val stale = new java.io.File(s"$out/${DumpConverter.StagingDir}/ta")
    assert(stale.mkdirs())
    Files.writeString(stale.toPath.resolve("part-00000-stale.parquet"), "not parquet")
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out)
    assert(res.rowsWritten == Map("ta" -> 2L, "tb" -> 3L, "tc" -> 1L))
    assert(!new java.io.File(s"$out/${DumpConverter.StagingDir}").exists())
    assert(new java.io.File(s"$out/ta/_SUCCESS").exists())
  }

  test("progress: the final rows-written line equals the committed per-table counts") {
    val in = tmpDir("dump-rowsline-in")
    val out = tmpDir("dump-rowsline-out")
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), quarantineDump)
    // the ticker reports from the listener thread
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val res = DumpConverter.convert(spark, s"$in/dump.sql", out, quarantine = true,
      progress = l => { seen.add(l); () })
    val written = seen.toArray.toSeq.map(_.toString)
      .filter(_.startsWith("[dump] rows written: ")).map(_.stripPrefix("[dump] rows written: ").toLong)
    val committed = res.rowsWritten.values.sum
    assert(committed == 6L)
    assert(written.contains(committed) && written.max == committed, s"rows-written lines: $written")
  }

  test("committedRowCount falls back to a scan when no part-*.parquet file matches") {
    val dir = tmpDir("dump-count-fallback")
    spark.range(0, 37).coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
    new java.io.File(s"$dir/t").listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      assert(f.renameTo(new java.io.File(f.getParentFile, "data" + f.getName.stripPrefix("part"))))
    }
    assert(DumpConverter.committedRowCount(spark, s"$dir/t") == 37L)
  }

  test("zstd shards are read through the session's Hadoop conf") {
    val in = tmpDir("dump-zconf-in")
    val out = tmpDir("dump-zconf-out")
    val lines = DumpRenderer.dump(Seq(("user", userSchema, userRows)), batchSize = 1).split("\n")
    (0 until 2).foreach { k =>
      val chunk = lines.slice(k * lines.length / 2, (k + 1) * lines.length / 2).map(_ + "\n").mkString
      val zo = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(
        new java.io.FileOutputStream(f"$in/dump-$k%03d.sql.zst"))
      zo.write(chunk.getBytes("UTF-8")); zo.close()
    }
    // a `file` FileSystem set only on the session's conf, uncached so an
    // instance made from a default conf cannot stand in for it
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[OpenRecordingLocalFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    OpenRecordingLocalFs.opened.clear()
    try {
      val res = DumpConverter.convert(spark, in, out)
      assert(res.rowsWritten("user") == 3)
      val zst = OpenRecordingLocalFs.opened.asScala.toSet.filter(_.endsWith(".zst"))
      assert(zst == Set("dump-000.sql.zst", "dump-001.sql.zst"),
        s"zstd shards opened through the session conf: $zst")
    } finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
    val back = spark.read.parquet(s"$out/user").collect().sortBy(_.getLong(0))
    assert(back.toSeq == userRows)
  }

  test("listing the input stats no shard: the fingerprint comes from the listing's statuses") {
    val in = tmpDir("dump-zstat-in")
    val out = tmpDir("dump-zstat-out")
    val lines = DumpRenderer.dump(Seq(("user", userSchema, userRows)), batchSize = 1).split("\n")
    val shards = (0 until 3).map(k => f"dump-$k%03d.sql.zst")
    shards.zipWithIndex.foreach { case (name, k) =>
      val chunk = lines.slice(k * lines.length / 3, (k + 1) * lines.length / 3).map(_ + "\n").mkString
      val zo = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(
        new java.io.FileOutputStream(s"$in/$name"))
      zo.write(chunk.getBytes("UTF-8")); zo.close()
    }
    // the fingerprint bytes are `path|len|mtime` per file, as before
    val md = java.security.MessageDigest.getInstance("SHA-256")
    shards.foreach { name =>
      val f = new java.io.File(s"$in/$name")
      md.update(s"file:${f.getPath}|${f.length}|${f.lastModified}\n".getBytes("UTF-8"))
    }
    md.update("tag".getBytes("UTF-8"))
    assert(DumpConverter.inputFingerprint(DumpConverter.expandInput(spark.sparkContext, in), "tag") ==
      md.digest().map("%02x".format(_)).mkString)
    // shard stats made through the session's `file` FileSystem before
    // the fingerprint phase ends (the reads stat each shard they open)
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[StatRecordingLocalFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    StatRecordingLocalFs.statted.clear()
    var atFingerprint = Option.empty[Seq[String]]
    try {
      val res = DumpConverter.convert(spark, in, out, progress = line =>
        if (line.startsWith("[dump-phase] fingerprint="))
          atFingerprint = Some(StatRecordingLocalFs.statted.asScala.toSeq.filter(shards.contains)))
      assert(res.rowsWritten("user") == 3)
    } finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
    assert(atFingerprint == Some(Seq.empty), s"shards statted after listing: $atFingerprint")
  }

  test("the converter stores no block: a multi-table convert caches no RDD partition") {
    val in = tmpDir("dump-noblock-in")
    val out = tmpDir("dump-noblock-out")
    val manyRows = (1L to 3000L).map(i => Row(i, s"user_$i", i * 1.5, ts, i % 2 == 0))
    val text = DumpRenderer.dump(
      Seq(("a", userSchema, manyRows), ("b", userSchema, manyRows)), batchSize = 50)
    Files.writeString(java.nio.file.Paths.get(s"$in/dump.sql"), text)
    val sc = spark.sparkContext
    val rddBlocks = new java.util.concurrent.atomic.AtomicInteger
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isInstanceOf[RDDBlockId]) rddBlocks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      val res = DumpConverter.convert(spark, s"$in/dump.sql", out, minPartitions = 7)
      assert(res.tables == Seq("a", "b"))
      assert(res.rowsWritten == Map("a" -> 3000L, "b" -> 3000L))
      // listener events arrive in posting order: once the listener has
      // seen a later marker job end, it has seen every event of the convert
      sc.setJobGroup("no-block-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val marker = sc.statusTracker.getJobIdsForGroup("no-block-marker").max
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!ended.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(ended.contains(marker), "marker job end never reached the listener")
      assert(rddBlocks.get == 0, s"${rddBlocks.get} RDD block(s) stored during the convert")
    } finally sc.removeSparkListener(listener)
  }
}

/** The local FileSystem, recording the name of every file it opens —
  * shows which reads go through a conf that names it as `fs.file.impl`. */
class OpenRecordingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    OpenRecordingLocalFs.opened.add(f.getName)
    super.open(f, bufferSize)
  }
}

object OpenRecordingLocalFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The local FileSystem, recording the name of every file it stats. */
class StatRecordingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    StatRecordingLocalFs.statted.add(f.getName)
    super.getFileStatus(f)
  }
}

object StatRecordingLocalFs {
  val statted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
