package graft.dump

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Render a DataFrame as mysqldump text — the inverse of the converter.
  * Used by tests (scalacheck round-trips), the `conv_*` oracle queries
  * and the converter scale benches to produce deterministic dump inputs
  * from the driver's parquet fixtures. Mirrors mysqldump's format:
  * header comments, then per table one CREATE TABLE block and extended
  * INSERTs batched like `--extended-insert` output. [[writeSection]]
  * frames every section; [[dump]] is its in-memory form.
  */
object DumpRenderer {

  def mysqlType(dt: DataType): String = dt match {
    case LongType      => "bigint"
    case IntegerType   => "int"
    case ShortType     => "smallint"
    case DoubleType    => "double"
    case FloatType     => "float"
    case TimestampType => "datetime"
    case DateType      => "date"
    case d: DecimalType if d.precision == 20 && d.scale == 0 => "bigint unsigned"
    case BooleanType   => "boolean"
    case StringType    => "varchar(255)"
    case other => throw new IllegalArgumentException(s"cannot render $other in a mysqldump")
  }

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    s.foreach {
      case '\''   => sb.append("\\'")
      case '\\'   => sb.append("\\\\")
      case '\n'   => sb.append("\\n")
      case '\r'   => sb.append("\\r")
      case '\t'   => sb.append("\\t")
      case '\u0000' => sb.append("\\0")
      case '\u001a' => sb.append("\\Z")
      case c      => sb.append(c)
    }
    sb.toString
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  // mysqldump emits fractional seconds for DATETIME(6) columns; render
  // them whenever the instant has sub-second precision so round-trips
  // through DumpParser.parseTimestamp (micros) are lossless.
  private val tsFracFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  def literal(v: Any): String = v match {
    case null                  => "NULL"
    case s: String             => s"'${escape(s)}'"
    case t: java.sql.Timestamp =>
      val fmt = if (t.toInstant.getNano == 0) tsFmt else tsFracFmt
      s"'${fmt.format(t.toInstant)}'"
    case d: java.sql.Date      => s"'$d'"                 // yyyy-MM-dd
    case d: java.time.LocalDate => s"'$d'"
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal         => b.bigDecimal.toPlainString
    case b: Boolean            => if (b) "TRUE" else "FALSE"
    case b: java.lang.Boolean  => if (b) "TRUE" else "FALSE"
    case other                 => other.toString
  }

  def createTable(table: String, schema: StructType): String = {
    val cols = schema.fields.map { f =>
      val nn = if (f.nullable) "" else " NOT NULL"
      s"  `${f.name}` ${mysqlType(f.dataType)}$nn"
    }
    s"CREATE TABLE `$table` (\n${cols.mkString(",\n")}\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;"
  }

  /** `columns` non-empty renders mysqldump's `--complete-insert` shape
    * (`INSERT INTO t (a, b) VALUES …`); each Row's values must already
    * be in LIST order. Empty renders the default positional shape. */
  def insert(table: String, rows: Seq[Row], columns: Seq[String] = Nil): String = {
    val colList =
      if (columns.isEmpty) ""
      else columns.map(c => s"`$c`").mkString(" (", ", ", ")")
    val tuples = rows.map(r => r.toSeq.map(literal).mkString("(", ",", ")"))
    s"INSERT INTO `$table`$colList VALUES ${tuples.mkString(",")};"
  }

  /** Write a whole dump to `w`: mysqldump's header noise the reader
    * must skip, then whatever `sections` writes (one [[writeSection]]
    * per table), then the completion comment. */
  def writeDump(w: java.io.Writer)(sections: => Unit): Unit = {
    w.write("-- MySQL dump 10.13  Distrib 8.0.36\n")
    w.write("/*!40101 SET @saved_cs_client = @@character_set_client */;\n\n")
    sections
    w.write("-- Dump completed\n")
  }

  /** Write one table's section to `w` as mysqldump frames it: header
    * comment, `DROP TABLE`, `CREATE TABLE`, then `rows` as extended
    * INSERTs of `batchSize` rows between `LOCK`/`UNLOCK`. Holds one
    * batch at a time, so `rows` may stream a table of any size;
    * `columns` as in [[insert]]. */
  def writeSection(w: java.io.Writer, table: String, schema: StructType, rows: Iterator[Row],
                   batchSize: Int, columns: Seq[String] = Nil): Unit = {
    w.write(s"--\n-- Table structure for table `$table`\n--\n\n")
    w.write(s"DROP TABLE IF EXISTS `$table`;\n")
    w.write(createTable(table, schema)); w.write("\n\n")
    w.write(s"LOCK TABLES `$table` WRITE;\n")
    rows.grouped(batchSize).foreach { b => w.write(insert(table, b, columns)); w.write("\n") }
    w.write("UNLOCK TABLES;\n\n")
  }

  /** Full dump text for (table, rows-per-insert-batched) sections. */
  def dump(sections: Seq[(String, StructType, Seq[Row])], batchSize: Int = 1000): String = {
    val w = new java.io.StringWriter
    writeDump(w) {
      sections.foreach { case (table, schema, rows) =>
        writeSection(w, table, schema, rows.iterator, batchSize)
      }
    }
    w.toString
  }

  /** Render a (small) DataFrame section deterministically (driver-side
    * collect — test fixtures only, never a data-path operation). */
  def section(table: String, df: DataFrame, sortCols: Seq[String]): (String, StructType, Seq[Row]) = {
    val sorted = df.orderBy(sortCols.map(org.apache.spark.sql.functions.col): _*)
    (table, df.schema, sorted.collect().toSeq)
  }
}
