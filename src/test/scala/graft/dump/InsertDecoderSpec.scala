package graft.dump

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Shrink, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** Differential properties of [[DumpParser.InsertDecoder]]: on generated
  * extended INSERTs it must give what `parseInsert → rowAligner →
  * coerceRow → ExpressionEncoder` gives — equal `UnsafeRow` bytes for
  * every accepted row, and the same exception class and message (and
  * raw values) for every rejected row or statement. The SQL is written
  * with this spec's own escaper, not `DumpRenderer`, so a renderer bug
  * cannot cancel a parser bug. Datetimes are drawn from 1900 on: before
  * that the encoder path rebases through the hybrid Julian calendar and
  * the two differ by design (see `DumpConverterSpec`).
  *
  * A fixed list of seeds runs inside a fixed time budget; a failure
  * prints its seed and the shrunk case. */
class InsertDecoderSpec extends AnyFunSuite {
  import InsertDecoderSpec._

  private val Seeds = 1L to 12L
  private val CasesPerSeed = 40
  private val BudgetNanos = 90L * 1000 * 1000 * 1000

  private def runSeeds(name: String, prop: Prop): Unit = {
    val t0 = System.nanoTime()
    val ran = Seeds.takeWhile(_ => System.nanoTime() - t0 < BudgetNanos).map { seed =>
      val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(CasesPerSeed).withInitialSeed(Seed(seed)), prop)
      val shrunk = res.status match {
        case SCTest.Failed(args, labels) =>
          args.map(a => s"${a.arg}").mkString("\n") + labels.mkString("\nlabels: ", "; ", "")
        case SCTest.PropException(args, e, _) =>
          args.map(a => s"${a.arg}").mkString("\n") + s"\nthrew: $e"
        case other => other.toString
      }
      assert(res.passed, s"$name failed at seed $seed; shrunk case:\n$shrunk")
      seed
    }
    info(s"$name: ${ran.size}/${Seeds.size} seeds x $CasesPerSeed cases in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("decoder equals parseInsert -> rowAligner -> coerceRow -> encoder on generated INSERTs") {
    runSeeds("decoder", Prop.forAll(genCase) { c =>
      val want = reference(c)
      val got = decoded(c)
      (got == want) :| s"statement: ${c.stmt}\nopts: ${c.opts}\nwant: $want\ngot:  $got"
    })
  }

  test("literals decode to the value their text denotes") {
    runSeeds("literal", Prop.forAll(Gen.oneOf(genInteger, genFloat), Gen.oneOf(true, false)) {
      (text, unsigned) =>
        val opts = DumpParser.TypeOptions(unsignedBigintDecimal = unsigned)
        val want = typed(numericValue(text, unsigned))
        val got = typed(DumpParser.parseInsert(s"INSERT INTO `t` VALUES ($text);", opts).rows.head(0))
        (got == want) :| s"literal $text (unsigned $unsigned): $want vs $got"
    } && Prop.forAll(genStringDenoted) { case (text, value) =>
      val stmt = s"INSERT INTO `t` VALUES ($text);"
      val dec = new DumpParser.InsertDecoder("t", StructType(Seq(StructField("c", StringType))),
        DumpParser.DefaultTypes)
      dec.decode(stmt)
      val boxed = DumpParser.parseInsert(stmt).rows.head(0)
      val utf8 = dec.rows.next().getUTF8String(0).toString
      (boxed == value && utf8 == value) :| s"literal $text: '$boxed' / '$utf8', want '$value'"
    })
  }

  test("fixed-field datetime parse equals java.time on generated literals") {
    runSeeds("datetime", Prop.forAll(genDatetime) { s =>
      val want = outcome(javaTimeTimestamp(s))
      val got = outcome(DumpParser.parseTimestamp(s, "t", "c"))
      val wantDay = outcome(java.sql.Date.valueOf(java.time.LocalDate.parse(s)))
      val gotDay = outcome(DumpParser.coerceRow("t",
        StructType(Seq(StructField("c", DateType))), Array[Any](s)).get(0))
      // DATE errors carry coerceRow's prefix around java.time's message
      val dayMatches = (wantDay, gotDay) match {
        case (Left((_, m)), Left((_, g))) => g.endsWith(m)
        case (w, g) => w == g
      }
      (got == want && dayMatches) :| s"literal '$s': $want vs $got; $wantDay vs $gotDay"
    })
  }
}

object InsertDecoderSpec {

  /** One generated statement with the schema and type options it is
    * decoded under. `primer` is decoded first by the same decoder, so
    * its pooled rows carry stale values into the statement under test. */
  final case class Case(opts: DumpParser.TypeOptions, schema: StructType,
                        columns: Option[Seq[String]], tuples: Vector[Seq[String]],
                        primer: String) {
    def stmt: String = {
      val list = columns.map(_.mkString(" (", ", ", ")")).getOrElse("")
      s"INSERT INTO `t`$list VALUES " + tuples.map(_.mkString("(", ",", ")")).mkString(",") + ";"
    }
    override def toString: String = s"Case($opts, ${schema.simpleString}, $stmt)"
  }

  /** Shrinks by dropping tuples. */
  implicit val shrinkCase: Shrink[Case] = Shrink.withLazyList { c =>
    if (c.tuples.size <= 1) LazyList.empty
    else LazyList.from(c.tuples.indices).map(i => c.copy(tuples = c.tuples.patch(i, Nil, 1)))
  }

  type Outcome = Either[(String, String), (Vector[String], Vector[(String, String, Seq[Any])])]

  private def bytes(schema: StructType, rows: Iterator[InternalRow]): Vector[String] = {
    val proj = UnsafeProjection.create(schema)
    rows.map(r => proj(r).copy().getBytes.map("%02x".format(_)).mkString).toVector
  }

  private def error(e: Throwable): (String, String) = (e.getClass.getName, e.getMessage)

  /** The boxed path, with the serializer `createDataFrame` uses. */
  def reference(c: Case): Outcome =
    try {
      val ins = DumpParser.parseInsert(c.stmt, c.opts)
      val align = DumpParser.rowAligner(ins, c.schema)
      val ser = ExpressionEncoder(RowEncoder.encoderFor(c.schema)).createSerializer()
      val good = Vector.newBuilder[InternalRow]
      val bad = Vector.newBuilder[(String, String, Seq[Any])]
      ins.rows.foreach { v =>
        try good += ser(DumpParser.coerceRow("t", c.schema, align(v))).copy()
        catch { case NonFatal(e) => bad += ((e.getClass.getName, e.getMessage, v.toSeq)) }
      }
      Right((bytes(c.schema, good.result().iterator), bad.result()))
    } catch { case NonFatal(e) => Left(error(e)) }

  def decoded(c: Case): Outcome = {
    val dec = new DumpParser.InsertDecoder("t", c.schema, c.opts)
    try dec.decode(c.primer) catch { case NonFatal(_) => () }
    try {
      dec.decode(c.stmt)
      Right((bytes(c.schema, dec.rows),
        dec.rejects.map { case (e, v) => (e.getClass.getName, e.getMessage, v.toSeq) }.toVector))
    } catch { case NonFatal(e) => Left(error(e)) }
  }

  /** The value a numeric literal denotes, by the java.lang parsers: a
    * sign, then a double when the text has '.' or an exponent, else an
    * i64 magnitude — beyond which the unsigned-decimal mode keeps a
    * decimal and the default rejects the literal. */
  def numericValue(text: String, unsigned: Boolean): Any = {
    val neg = text.startsWith("-")
    val mag = text.stripPrefix("-").stripPrefix("+")
    if (mag.exists(ch => ch == '.' || ch == 'e' || ch == 'E')) {
      val d = java.lang.Double.parseDouble(mag)
      if (neg) -d else d
    } else
      try { val l = java.lang.Long.parseLong(mag); if (neg) -l else l }
      catch {
        case _: NumberFormatException if unsigned =>
          val b = new java.math.BigDecimal(mag)
          if (neg) b.negate() else b
        case _: NumberFormatException =>
          throw new DumpParser.DumpParseException(s"integer out of i64 range: $mag")
      }
  }

  /** A value with its class (so 5L, 5.0 and -0.0 stay apart), or its
    * exception's class and message. */
  def typed(v: => Any): Either[(String, String), String] =
    try Right(s"${v.getClass.getSimpleName}:$v")
    catch { case NonFatal(e) => Left(error(e)) }

  /** The datetime rule as java.time states it. */
  def javaTimeTimestamp(s: String): java.sql.Timestamp = {
    import java.time._
    val ldt =
      if (s.length >= 8 && s.charAt(2) == ':') LocalTime.parse(s).atDate(LocalDate.ofEpochDay(0))
      else if (s.length <= 10) LocalDate.parse(s).atStartOfDay()
      else LocalDateTime.parse(s.replace(' ', 'T'))
    val inst = ldt.toInstant(ZoneOffset.UTC)
    java.sql.Timestamp.from(inst.minusNanos(inst.getNano % 1000)) // micro precision
  }

  /** A value, or its exception's class and (for java.time) message tail. */
  def outcome(v: => Any): Either[(String, String), Any] =
    try Right(v)
    catch {
      case e: java.time.format.DateTimeParseException => Left(("parse", e.getMessage))
      case e: DumpParser.DumpParseException =>
        // "table t column c: cannot parse timestamp 's': <java.time message>"
        Left(("parse", e.getMessage.split(": ", 3).last))
    }

  // ------------------------------------------------------------ SQL text

  /** The minimal MySQL escaper: `\'` or `''` for a quote, `\\`, `\0`,
    * `\n`, `\Z`. */
  def quote(s: String, doubled: Boolean): String = {
    val sb = new StringBuilder("'")
    s.foreach {
      case '\'' => sb.append(if (doubled) "''" else "\\'")
      case '\\' => sb.append("\\\\")
      case '\u0000' => sb.append("\\0")
      case '\n' => sb.append("\\n")
      case '\u001a' => sb.append("\\Z")
      case ch => sb.append(ch)
    }
    sb.append('\'').toString
  }

  val genText: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr.map(_.take(16)),
    Gen.oneOf("", "it's", "back\\slash", "nul\u0000mid", "eof\u001amark", "nl\nline",
      "naïve-ünïcode", "😀", "🦀'🎉", "𝕊𝕡𝕒𝕣𝕜", "a;b);", "''", "\\'"))

  def hex(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).map("%02X".format(_)).mkString

  /** A string literal and the value it denotes. */
  val genStringDenoted: Gen[(String, String)] = Gen.frequency(
    10 -> (for (s <- genText; d <- Gen.oneOf(true, false)) yield (quote(s, d), s)),
    1 -> genText.map(s => (s"_binary ${quote(s, doubled = false)}", s)),
    1 -> genText.map(s => (s"_utf8mb4${quote(s, doubled = true)}", s)),
    1 -> genText.suchThat(_.nonEmpty).map(s => ("0x" + hex(s), s)),
    1 -> genText.map(s => (s"X'${hex(s)}'", s)),
    1 -> Gen.oneOf(("0xA", "\n"), ("x''", ""), ("0x4", "\u0004")))

  val genString: Gen[String] = genStringDenoted.map(_._1)

  val genInteger: Gen[String] = Gen.frequency(
    6 -> Gen.chooseNum(Long.MinValue + 1, Long.MaxValue).map(_.toString),
    3 -> Gen.chooseNum(-3L, 3L).map(_.toString),
    2 -> Gen.oneOf("9223372036854775807", "-9223372036854775807", "-9223372036854775808",
      "9223372036854775808", "18446744073709551615", "18446744073709551616",
      "-18446744073709551615", "+7", "007", "-0"))

  val genFloat: Gen[String] = Gen.frequency(
    4 -> Gen.chooseNum(-1e12, 1e12).map(_.toString),
    // plain decimals around the 2^53-digit and 10^22-scale edges
    4 -> (for (m <- Gen.chooseNum(0L, 1L << 54); k <- Gen.chooseNum(0, 24)) yield {
      val ds = m.toString.reverse.padTo(k + 1, '0').reverse
      ds.dropRight(k) + "." + ds.takeRight(k)
    }),
    1 -> Gen.chooseNum(-1e-3, 1e-3).map(_.toString),
    2 -> Gen.oneOf("-0.0", "0.0", "1e10", "1E-5", "2.5e+3", ".5", "5.", "-2.5e2", "1e400",
      "-1e-400", "3"))

  private def pad(n: Int, w: Int): String = {
    val s = n.toString
    "0" * (w - s.length) + s
  }

  val genFraction: Gen[String] =
    Gen.frequency(3 -> Gen.const(""),
      2 -> Gen.chooseNum(1, 9).flatMap(n => Gen.listOfN(n, Gen.numChar).map("." + _.mkString)),
      1 -> Gen.oneOf(".", ".1234567890"))

  val genDate: Gen[String] = for {
    y <- Gen.frequency(8 -> Gen.chooseNum(1900, 2100), 1 -> Gen.oneOf(2000, 1900, 2400, 9999))
    m <- Gen.frequency(8 -> Gen.chooseNum(1, 12), 1 -> Gen.oneOf(0, 13))
    d <- Gen.frequency(8 -> Gen.chooseNum(1, 28), 2 -> Gen.chooseNum(29, 31), 1 -> Gen.const(0))
    form <- Gen.frequency(10 -> Gen.const(0), 1 -> Gen.oneOf(1, 2))
  } yield form match {
    case 0 => s"${pad(y, 4)}-${pad(m, 2)}-${pad(d, 2)}"
    case 1 => s"$y-$m-$d"
    case _ => s"+${pad(y, 4)}-${pad(m, 2)}-${pad(d, 2)}"
  }

  val genTime: Gen[String] = for {
    h <- Gen.frequency(8 -> Gen.chooseNum(0, 23), 1 -> Gen.const(24))
    mi <- Gen.frequency(8 -> Gen.chooseNum(0, 59), 1 -> Gen.const(60))
    s <- Gen.frequency(8 -> Gen.chooseNum(0, 59), 1 -> Gen.const(60))
    f <- genFraction
    form <- Gen.frequency(10 -> Gen.const(0), 1 -> Gen.oneOf(1, 2))
  } yield form match {
    case 0 => s"${pad(h, 2)}:${pad(mi, 2)}:${pad(s, 2)}$f"
    case 1 => s"${pad(h, 2)}:${pad(mi, 2)}"
    case _ => s"$h:$mi:$s"
  }

  val genDatetime: Gen[String] = Gen.frequency(
    6 -> (for (d <- genDate; sep <- Gen.frequency(8 -> Gen.const(" "), 1 -> Gen.oneOf("T", "t", "  "));
               t <- genTime) yield d + sep + t),
    2 -> genDate,
    2 -> genTime,
    1 -> Gen.oneOf("", "abc", "2024-02-29 10:11:12 ", " 2024-02-29", "12:34:56.7",
      "2024-02-29T10:11:12Z", "1999-12-31 23:59:59.999999999"))

  val genBoolean: Gen[String] = Gen.oneOf("TRUE", "FALSE", "true", "False", "0", "1", "2")

  def genLiteral(dt: DataType): Gen[String] = dt match {
    case LongType | DecimalType() => genInteger
    case DoubleType => Gen.oneOf(genFloat, genInteger)
    case StringType => genString
    case TimestampType | DateType => genDatetime.map(quote(_, doubled = false))
    case _ => genBoolean
  }

  val types: Seq[DataType] = Seq(LongType, DecimalType(20, 0), DoubleType, StringType,
    TimestampType, DateType, BooleanType)

  /** A literal for a column of type `dt`: mostly of its own type,
    * sometimes NULL or one of another type. */
  def genValue(dt: DataType): Gen[String] = Gen.frequency(
    12 -> genLiteral(dt),
    2 -> Gen.oneOf("NULL", "null"),
    1 -> Gen.oneOf(types).flatMap(genLiteral))

  /** Tokens that fail the statement (or, for the i64 overflow under
    * the unsigned-decimal mode, just their row). */
  val genBroken: Gen[String] =
    Gen.oneOf("1.2.3", "1e", "bogus", "'unterminated", "X'48", "--1", "", "_binary 5")

  def genPermutation[A](xs: Seq[A]): Gen[Seq[A]] =
    Gen.listOfN(xs.size, Gen.choose(0, Int.MaxValue)).map(keys => xs.zip(keys).sortBy(_._2).map(_._1))

  /** No list, a reordered full or partial list, or one naming an
    * unknown or a repeated column; names backquoted, bare or upper case. */
  def genColumns(schema: StructType): Gen[Option[Seq[String]]] = {
    val names = schema.fieldNames.toSeq
    def render(ns: Seq[String]): Gen[Option[Seq[String]]] = genPermutation(ns).flatMap(p =>
      Gen.sequence[Seq[String], String](p.map(n => Gen.oneOf(s"`$n`", n, n.toUpperCase)))
        .map(Some(_)))
    Gen.frequency(
      4 -> Gen.const(None),
      2 -> render(names),
      2 -> Gen.atLeastOne(names).flatMap(p => render(p.toSeq)),
      1 -> Gen.someOf(names).flatMap(p => render(p.toSeq :+ "nope")),
      1 -> Gen.oneOf(names).flatMap(n => render(names :+ n)))
  }

  val genCase: Gen[Case] = for {
    dateAsDate <- Gen.oneOf(true, false)
    unsigned <- Gen.oneOf(true, false)
    n <- Gen.chooseNum(1, 5)
    fields <- Gen.listOfN(n, for (dt <- Gen.oneOf(types); nullable <- Gen.frequency(
      3 -> Gen.const(true), 1 -> Gen.const(false))) yield (dt, nullable))
    schema = StructType(fields.zipWithIndex.map { case ((dt, nl), i) => StructField(s"c$i", dt, nl) })
    columns <- genColumns(schema)
    listed = columns.map(_.map(c => c.stripPrefix("`").stripSuffix("`").toLowerCase))
      .getOrElse(schema.fieldNames.toSeq)
    colTypes = listed.map(c => schema.find(_.name == c).map(_.dataType).getOrElse(StringType))
    nRows <- Gen.chooseNum(1, 6)
    tuples <- Gen.listOfN(nRows, for {
      vs <- Gen.sequence[Seq[String], String](colTypes.map(genValue))
      arity <- Gen.frequency(12 -> Gen.const(0), 1 -> Gen.oneOf(-1, 1))
      extra <- genValue(StringType)
    } yield if (arity < 0) vs.drop(1) else if (arity > 0) vs :+ extra else vs)
    broken <- Gen.frequency(12 -> Gen.const(None), 1 -> genBroken.map(Some(_)))
    at <- Gen.chooseNum(0, nRows - 1)
    primer <- Gen.sequence[Seq[String], String](schema.fields.toSeq.map(f => genLiteral(f.dataType)))
  } yield {
    val ts = broken.fold(tuples.toVector)(b => tuples.toVector.updated(at, tuples(at) :+ b))
    Case(DumpParser.TypeOptions(dateAsDate, unsigned), schema, columns, ts,
      "INSERT INTO `t` VALUES " + primer.mkString("(", ", ", ")") + ";")
  }
}
