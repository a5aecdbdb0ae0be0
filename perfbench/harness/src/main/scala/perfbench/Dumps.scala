package perfbench

import java.io.Writer
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, shiftright, sum, xxhash64}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import graft.dump.{DumpParser, DumpRenderer}

/** What converting one table must commit: its row count, column names
  * and types, and the per-column sum of `xxhash64`. */
final case class Expect(table: String, rows: Long, names: Vector[String],
                        types: Vector[String], hashes: Vector[BigInt])

/** A rendered dump on disk and what its conversion must produce. */
final case class Dump(file: Path, sqlBytes: Long, expect: Vector[Expect])

/** The `dump_bulk` input: the fixture's `lineitem` and `orders`, each
  * rendered `Replicas` times into one section per table in the
  * program's own mysqldump format ([[DumpRenderer]]), every replica
  * shifted to its own order-key range. The seed sets the key offsets
  * and the rows per extended INSERT. A rendered dump and its expected
  * figures are cached per seed. */
object Dumps {
  val Replicas = 3
  /** Each table with its order key (shifted per replica) and sort key. */
  private val Sections = Seq(
    ("lineitem", "l_orderkey", Seq("l_orderkey", "l_linenumber")),
    ("orders", "o_orderkey", Seq("o_orderkey")))

  /** The order-independent per-column checksum both sides compute: the
    * exact sum of `xxhash64` over the column, as the sums of its high
    * and low 32 bits (two overflow-free long sums; `hashValue` joins
    * them). */
  def hashSums(c: String): Seq[Column] = {
    val h = xxhash64(col(s"`$c`"))
    Seq(sum(shiftright(h, 32)), sum(h.bitwiseAND(0xFFFFFFFFL)))
  }

  /** The checksum of column `i` from a row holding `hashSums` of every
    * column from index `at` on. */
  def hashValue(r: Row, at: Int, i: Int): BigInt =
    (BigInt(r.getLong(at + 2 * i)) << 32) + BigInt(r.getLong(at + 2 * i + 1))

  /** A fixture table as a dump speaks it: parquet's zone-less
    * timestamps relabelled as `TimestampType`, an identity under the
    * UTC session time zone. */
  private def source(spark: SparkSession, fixture: String, table: String): DataFrame = {
    val df = spark.read.parquet(s"$fixture/$table.parquet")
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType) else col(f.name)
    }: _*)
  }

  private def section(w: Writer, table: String, schema: StructType, rows: Array[Row],
                      key: Int, offsets: Seq[Long], batch: Int): Unit = {
    w.write(s"--\n-- Table structure for table `$table`\n--\n\nDROP TABLE IF EXISTS `$table`;\n")
    w.write(DumpRenderer.createTable(table, schema))
    w.write(s"\n\nLOCK TABLES `$table` WRITE;\n")
    for (off <- offsets; b <- rows.grouped(batch)) {
      val shifted = b.map { r =>
        val v = r.toSeq.toArray[Any]
        v(key) = r.getLong(key) + off
        Row.fromSeq(v.toIndexedSeq)
      }
      w.write(DumpRenderer.insert(table, shifted.toIndexedSeq))
      w.write("\n")
    }
    w.write("UNLOCK TABLES;\n\n")
  }

  /** Row count, converter-typed schema and column hashes of all the
    * replicas of `src`, computed by Spark from the fixture itself. */
  private def expected(table: String, src: DataFrame, key: String, offsets: Seq[Long]): Expect = {
    val typed = DumpParser.parseCreateTable(DumpRenderer.createTable(table, src.schema)).schema
    val names = typed.fieldNames.toVector
    val r = offsets.map(o => src.withColumn(key, col(key) + lit(o))).reduce(_ unionByName _)
      .select(typed.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .agg(count(lit(1)), names.flatMap(hashSums): _*).head()
    Expect(table, r.getLong(0), names, typed.fields.map(_.dataType.simpleString).toVector,
      names.indices.map(hashValue(r, 1, _)).toVector)
  }

  /** The dump for `seed`, rendered into `cache` on first use and read
    * back from there afterwards. */
  def prepare(spark: SparkSession, fixture: String, seed: Long, cache: Path): Dump = {
    val stem = s"dump_bulk-r$Replicas-s$seed"
    val file = cache.resolve(stem + ".sql")
    val expectFile = cache.resolve(stem + ".expect")
    if (!Files.exists(expectFile)) {
      Files.createDirectories(cache)
      val r = new SplittableRandom(seed)
      // rows per extended INSERT: convert time moves with it (the
      // routing salt is per statement), so the band stays narrow
      val batch = 900 + r.nextInt(201)
      val srcs = Sections.map { case (t, _, _) => source(spark, fixture, t) }
      val span = srcs(1).agg(org.apache.spark.sql.functions.max("o_orderkey")).head().getLong(0) + 1
      val offsets = Seq.iterate(r.nextLong(1000000L), Replicas)(_ + span + r.nextLong(1000000L))
      val tmp = cache.resolve("partial-" + file.getFileName.toString)
      val w = Files.newBufferedWriter(tmp)
      try {
        w.write("-- MySQL dump 10.13  Distrib 8.0.36\n")
        w.write("/*!40101 SET @saved_cs_client = @@character_set_client */;\n\n")
        Sections.zip(srcs).foreach { case ((t, key, sortBy), src) =>
          section(w, t, src.schema, src.orderBy(sortBy.map(col): _*).collect(),
            src.schema.fieldIndex(key), offsets, batch)
        }
        w.write("-- Dump completed\n")
      } finally w.close()
      Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING)
      val lines = Sections.zip(srcs).map { case ((t, key, _), src) =>
        val e = expected(t, src, key, offsets)
        (Seq(t, e.rows.toString) ++ e.names.indices.map(i => s"${e.names(i)}:${e.types(i)}:${e.hashes(i)}"))
          .mkString("\t")
      }
      Files.writeString(expectFile, lines.mkString("", "\n", "\n"))
    }
    val expect = Files.readAllLines(expectFile).toArray(Array.empty[String]).toVector.map { l =>
      val f = l.split('\t')
      val cols = f.drop(2).map(_.split(':'))
      Expect(f(0), f(1).toLong, cols.map(_(0)).toVector, cols.map(_(1)).toVector,
        cols.map(c => BigInt(c(2))).toVector)
    }
    Dump(file, Files.size(file), expect)
  }
}
