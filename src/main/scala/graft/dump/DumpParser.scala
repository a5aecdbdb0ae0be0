package graft.dump

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hand-rolled MySQL-dump statement parser: `CREATE TABLE` → StructType,
  * extended `INSERT INTO ... VALUES` → parquet-ready rows
  * ([[InsertDecoder]]) or boxed ones ([[parseInsert]]). Replaces the
  * reference's use of sqlparser 0.41 (`/root/reference/src/line_parser.rs`)
  * — no external parser dependency resolves offline, and we only need the
  * two statement shapes mysqldump emits.
  *
  * Semantics mirror the reference exactly unless marked DEVIATION:
  *   - type mapping per `line_parser.rs:122-174`: all integer-ish and
  *     DECIMAL/NUMERIC types → LongType (DECIMAL → Int64 is lossy BY
  *     DESIGN; fractional values in such columns error), FLOAT/REAL/
  *     DOUBLE → DoubleType, DATE/TIME/DATETIME/TIMESTAMP → TimestampType,
  *     VARCHAR/TEXT/STRING/ENUM/longtext/mediumtext → StringType;
  *   - column names lowercased in the output schema (`line_parser.rs:39`);
  *   - nullability: default true; first matching option among
  *     `NOT NULL` → false, inline `PRIMARY KEY` → false, bare `NULL` →
  *     true wins (`line_parser.rs:176-193`); table-level constraints are
  *     ignored entirely (`line_parser.rs:97`);
  *   - `tinyint(1)` stays Integer, NOT Boolean (`line_parser.rs:130-131`);
  *   - integer literals widen to Double in Float columns
  *     (`parquet_writer.rs:162`);
  *   - DEVIATION (fixes a reference panic, `line_parser.rs:45`): BOOL/
  *     BOOLEAN columns map to BooleanType instead of `todo!()`;
  *   - DEVIATION (fixes a reference panic, `parquet_writer.rs:173-192`):
  *     date-only literals in timestamp columns parse as midnight UTC
  *     instead of panicking on the fixed-offset slice; fractional
  *     seconds are honored to micros instead of being sliced off.
  *     Timestamps are still interpreted as UTC wall-clock, and dates
  *     on the proleptic Gregorian calendar at every year, as chrono
  *     does.
  *   - DEVIATION (extends a reference bail, `line_parser.rs:256`
  *     `Unsupported syntax for value`): charset-introducer literals
  *     (`_binary '...'`, `_utf8mb4 '...'`) parse as their string body,
  *     and hex literals (`0xABCD`, `X'ABCD'`) decode as UTF-8 bytes —
  *     both appear in real mysqldump output (binary columns by default,
  *     `--hex-blob` respectively); the reference errors the whole run.
  */
object DumpParser extends Serializable {

  sealed trait Statement extends Serializable
  case class CreateTable(table: String, schema: StructType) extends Statement
  /** Raw row values: Long | Double | String | Boolean | null.
    * `columns` empty (the common mysqldump shape) → values are
    * positional in schema order; non-empty (`INSERT INTO t (b, a)
    * VALUES …`) → values are positional in LIST order and must be
    * permuted to schema order by [[rowAligner]] before [[coerceRow]].
    * Names are lowercased to match the extracted schema's names. */
  case class InsertInto(table: String, rows: Vector[Array[Any]],
                        columns: Vector[String] = Vector.empty) extends Statement
  case object Nop extends Statement

  final class DumpParseException(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new DumpParseException(msg)

  /** Opt-in type-mapping extensions beyond reference parity; the
    * default instance reproduces the reference's mapping exactly.
    *
    *  - `dateAsDate`: MySQL `DATE` columns → `DateType` (faithful
    *    date round-trip for downstream engines) instead of the
    *    reference's midnight `TimestampType`
    *    (`line_parser.rs:158-161`).
    *  - `unsignedBigintDecimal`: `BIGINT UNSIGNED` columns →
    *    `DecimalType(20, 0)`, and integer literals above i64::MAX
    *    parse as scale-0 decimals instead of erroring — converts
    *    dumps the reference rejects (`line_parser.rs:247`). Values
    *    are still range-checked to u64. */
  case class TypeOptions(dateAsDate: Boolean = false,
                         unsignedBigintDecimal: Boolean = false)
      extends Serializable
  val DefaultTypes: TypeOptions = TypeOptions()

  /** u64::MAX — the upper bound of MySQL BIGINT UNSIGNED. */
  private val U64Max = new java.math.BigDecimal("18446744073709551615")

  def parse(stmt: String): Statement = parse(stmt, DefaultTypes)

  def parse(stmt: String, opts: TypeOptions): Statement =
    if (stmt.startsWith("CREATE TABLE")) parseCreateTable(stmt, opts)
    else if (stmt.startsWith("INSERT INTO")) parseInsert(stmt, opts)
    else Nop

  // ------------------------------------------------------------ lexing

  /** Mutable cursor over a statement — shared by the DDL and VALUES
    * parsers. All scanning is index-based (no regex) so multi-MB
    * extended-INSERT statements parse in one allocation-light pass. */
  private final class Cursor(val s: String) {
    var i = 0
    /** The literal [[scanValue]] read last. */
    val lit = new Lit
    def eof: Boolean = i >= s.length
    def peek: Char = s.charAt(i)
    def skipWs(): Unit = while (!eof && Character.isWhitespace(peek)) i += 1
    def expect(c: Char): Unit = {
      skipWs()
      if (eof || peek != c) fail(s"expected '$c' at offset $i in: ${context}")
      i += 1
    }
    def tryConsume(c: Char): Boolean = {
      skipWs()
      if (!eof && peek == c) { i += 1; true } else false
    }
    def context: String = {
      val from = math.max(0, i - 40)
      val to = math.min(s.length, i + 40)
      s.substring(from, to)
    }
    /** Backquoted, double-quoted, or bare identifier. */
    def ident(): String = {
      skipWs()
      if (eof) fail("expected identifier at end of statement")
      peek match {
        case '`' | '"' =>
          val q = peek
          i += 1
          val start = i
          while (!eof && peek != q) i += 1
          if (eof) fail(s"unterminated quoted identifier: $context")
          val name = s.substring(start, i)
          i += 1
          name
        case _ =>
          val start = i
          while (!eof && (Character.isLetterOrDigit(peek) || peek == '_' || peek == '$')) i += 1
          if (i == start) fail(s"expected identifier at offset $i: $context")
          s.substring(start, i)
      }
    }
    /** Bare keyword-ish word (letters/digits/underscore). */
    def word(): String = {
      skipWs()
      val start = i
      while (!eof && (Character.isLetterOrDigit(peek) || peek == '_')) i += 1
      s.substring(start, i)
    }
    /** Peek the next word without consuming. */
    def peekWord(): String = {
      val save = i
      val w = word()
      i = save
      w
    }
  }

  // ------------------------------------------------------- CREATE TABLE

  private val IntegerTypes = Set(
    "NUMERIC", "DECIMAL", "BIGNUMERIC", "BIGDECIMAL", "DEC",
    "TINYINT", "SMALLINT", "MEDIUMINT", "INT", "INT2", "INT4", "INT8",
    "INTEGER", "BIGINT", "INT64")
  private val FloatTypes = Set("FLOAT", "FLOAT4", "FLOAT8", "FLOAT64", "REAL", "DOUBLE")
  private val TimestampTypes = Set("DATE", "TIME", "DATETIME", "TIMESTAMP")
  private val StringTypes = Set(
    "VARCHAR", "TEXT", "STRING", "ENUM", "LONGTEXT", "MEDIUMTEXT", "TINYTEXT", "CHAR")
  private val BooleanTypes = Set("BOOL", "BOOLEAN")
  private val ConstraintStarts = Set(
    "PRIMARY", "UNIQUE", "KEY", "CONSTRAINT", "FOREIGN", "INDEX",
    "FULLTEXT", "SPATIAL", "CHECK")

  def sparkType(typeWord: String): DataType =
    sparkType(typeWord, unsigned = false, DefaultTypes)

  def sparkType(typeWord: String, unsigned: Boolean, opts: TypeOptions): DataType =
    typeWord.toUpperCase match {
      case "BIGINT" | "INT8" if unsigned && opts.unsignedBigintDecimal =>
        DecimalType(20, 0)
      case "DATE" if opts.dateAsDate       => DateType
      case t if IntegerTypes.contains(t)   => LongType
      case t if FloatTypes.contains(t)     => DoubleType
      case t if TimestampTypes.contains(t) => TimestampType
      case t if StringTypes.contains(t)    => StringType
      case t if BooleanTypes.contains(t)   => BooleanType
      case t => fail(s"unsupported column type: $t")
    }

  def parseCreateTable(stmt: String): CreateTable = parseCreateTable(stmt, DefaultTypes)

  def parseCreateTable(stmt: String, opts: TypeOptions): CreateTable = {
    val c = new Cursor(stmt)
    c.i = "CREATE TABLE".length
    c.skipWs()
    if (c.peekWord().equalsIgnoreCase("IF")) { c.word(); c.word(); c.word() } // IF NOT EXISTS
    val table = c.ident()
    c.expect('(')
    val fields = Vector.newBuilder[StructField]
    var done = false
    while (!done) {
      c.skipWs()
      val w = c.peekWord().toUpperCase
      if (ConstraintStarts.contains(w)) skipToColumnEnd(c)
      else {
        val name = c.ident()
        val typeWord = c.word()
        if (typeWord.isEmpty) fail(s"missing type for column $name: ${c.context}")
        // type arguments: (10,2), ('a','b') — skip, quote-aware
        if (c.tryConsume('(')) skipParenBody(c)
        var unsigned = false
        var extra = c.peekWord().toUpperCase
        if (extra == "UNSIGNED" || extra == "SIGNED" || extra == "ZEROFILL" ||
            (typeWord.equalsIgnoreCase("DOUBLE") && extra == "PRECISION")) {
          if (extra == "UNSIGNED") unsigned = true
          c.word()
          extra = c.peekWord().toUpperCase
        }
        val dt = sparkType(typeWord, unsigned, opts)
        val nullable = parseColumnOptions(c)
        fields += StructField(name.toLowerCase, dt, nullable)
      }
      c.skipWs()
      if (c.tryConsume(',')) ()
      else { c.expect(')'); done = true }
    }
    CreateTable(table, StructType(fields.result()))
  }

  /** Nullability per `line_parser.rs:176-193`: scan options left to
    * right, first match wins: NOT NULL → false, PRIMARY KEY → false,
    * bare NULL → true; `DEFAULT <expr>` is skipped as a unit so
    * `DEFAULT NULL` never reads as a NULL option. Consumes up to the
    * column-separating ',' or the closing ')'. */
  private def parseColumnOptions(c: Cursor): Boolean = {
    var nullable = true
    var decided = false
    var depth = 0
    var done = false
    while (!done) {
      c.skipWs()
      if (c.eof) fail(s"unterminated column definition: ${c.context}")
      c.peek match {
        case ',' | ')' if depth == 0 => done = true
        case '(' => depth += 1; c.i += 1
        case ')' => depth -= 1; c.i += 1
        case '\'' => scanString(c)
        case '`' | '"' => c.ident(); ()
        case ch if Character.isLetter(ch) =>
          val w = c.word().toUpperCase
          w match {
            case "NOT" =>
              if (c.peekWord().equalsIgnoreCase("NULL")) {
                c.word()
                if (!decided) { nullable = false; decided = true }
              }
            case "NULL" =>
              if (!decided) { nullable = true; decided = true }
            case "PRIMARY" =>
              if (c.peekWord().equalsIgnoreCase("KEY")) {
                c.word()
                if (!decided) { nullable = false; decided = true }
              }
            case "DEFAULT" =>
              c.skipWs()
              if (!c.eof) c.peek match {
                case '\'' => scanString(c)
                case '(' => c.i += 1; skipParenBody(c)
                case '-' => c.i += 1; c.word(); ()
                case _ =>
                  c.word()
                  if (c.tryConsume('(')) skipParenBody(c) // e.g. CURRENT_TIMESTAMP(6)
              }
            case _ => () // COMMENT/CHARACTER SET/COLLATE handled tokenwise
          }
        case _ => c.i += 1
      }
    }
    nullable
  }

  /** Skip a constraint/index table element up to its separating ',' or
    * the table-closing ')' (quote- and paren-aware). */
  private def skipToColumnEnd(c: Cursor): Unit = {
    var depth = 0
    var done = false
    while (!done) {
      if (c.eof) fail(s"unterminated table element: ${c.context}")
      c.peek match {
        case ',' | ')' if depth == 0 => done = true
        case '(' => depth += 1; c.i += 1
        case ')' => depth -= 1; c.i += 1
        case '\'' => scanString(c)
        case _ => c.i += 1
      }
    }
  }

  /** Cursor is just past '('; skip to just past the matching ')'. */
  private def skipParenBody(c: Cursor): Unit = {
    var depth = 1
    while (depth > 0) {
      if (c.eof) fail(s"unterminated parenthesis: ${c.context}")
      c.peek match {
        case '('  => depth += 1; c.i += 1
        case ')'  => depth -= 1; c.i += 1
        case '\'' => scanString(c)
        case _    => c.i += 1
      }
    }
  }

  // ------------------------------------------------------------ INSERT

  /** Cheap table-name extraction (for routing without a full parse). */
  def insertTarget(stmt: String): String = {
    val c = new Cursor(stmt)
    c.i = "INSERT INTO".length
    c.ident()
  }

  /** Database name of a `USE db;` / `USE \`db\`;` statement (raw, like
    * table names). */
  def useTarget(stmt: String): String = {
    val c = new Cursor(stmt)
    c.i = "USE".length
    c.ident()
  }

  def parseInsert(stmt: String): InsertInto = parseInsert(stmt, DefaultTypes)

  /** The whole statement as boxed rows. The converter decodes with
    * [[InsertDecoder]] instead; both read the literals through
    * [[scanValue]], so they accept and reject the same statements. */
  def parseInsert(stmt: String, opts: TypeOptions): InsertInto = {
    val c = new Cursor(stmt)
    val (table, columns) = insertHead(c)
    val rows = Vector.newBuilder[Array[Any]]
    var more = true
    while (more) {
      rows += boxedTuple(c, opts)
      more = c.tryConsume(',')
    }
    InsertInto(table, rows.result(), columns)
  }

  /** `INSERT INTO t [(columns)] VALUES`, leaving the cursor before the
    * first tuple: the table name and the lowercased column list. */
  private def insertHead(c: Cursor): (String, Vector[String]) = {
    c.i = "INSERT INTO".length
    val table = c.ident()
    c.skipWs()
    // Optional column list (`--complete-insert` dumps, hand-written
    // inserts). The reference assigns values positionally and silently
    // ignores the list (`line_parser.rs:200-272`) — DEVIATION: we honor
    // it, because a reordered or partial list under positional
    // assignment is SILENTLY WRONG data, the worst failure mode a
    // 100 TB ingest can have. Names are lowercased like the schema
    // extractor's (first-wins DDL lowercases column names).
    val columns = Vector.newBuilder[String]
    if (!c.eof && c.peek == '(') {
      c.i += 1
      var more = true
      while (more) {
        columns += c.ident().toLowerCase(java.util.Locale.ROOT)
        more = c.tryConsume(',')
      }
      c.expect(')')
    }
    val kw = c.word()
    if (!kw.equalsIgnoreCase("VALUES")) fail(s"expected VALUES in INSERT, got '$kw': ${c.context}")
    (table, columns.result())
  }

  /** One `(v, …)` tuple: each literal is scanned into `c.lit` and its
    * position handed to `each`. Returns the number of values. */
  private def scanTuple(c: Cursor, opts: TypeOptions, each: Int => Unit): Int = {
    c.expect('(')
    var k = 0
    var done = false
    while (!done) {
      scanValue(c, opts)
      each(k)
      k += 1
      if (!c.tryConsume(',')) { c.expect(')'); done = true }
    }
    k
  }

  private def boxedTuple(c: Cursor, opts: TypeOptions): Array[Any] = {
    val row = Array.newBuilder[Any]
    scanTuple(c, opts, _ => row += c.lit.boxed)
    row.result()
  }

  // Literal kinds (Lit.kind). LOther is a value handed to coerceRow
  // that no literal produces.
  private final val LNull = 0
  private final val LBool = 1
  private final val LInt = 2
  private final val LBig = 3
  private final val LFloat = 4
  private final val LStr = 5
  private final val LOther = 6

  /** One literal, unboxed. A string is a slice `[from, to)` of `src`;
    * `plain` says the slice holds no escape or doubled quote, `ascii`
    * that it is plain 7-bit text (its chars are its UTF-8 bytes). The
    * consumer materializes it as a `String` or straight as UTF-8. */
  private final class Lit {
    var kind = LNull
    var long = 0L // LInt; 1 or 0 for LBool
    var double = 0.0
    var big: java.math.BigDecimal = _
    var obj: Any = _
    var src: String = _
    var from = 0
    var to = 0
    var plain = true
    var ascii = false

    def setString(s: String): Lit = {
      kind = LStr; src = s; from = 0; to = s.length; plain = true; ascii = false
      this
    }

    /** A boxed value, as coerceRow receives it. */
    def set(v: Any): Lit = {
      v match {
        case null                    => kind = LNull
        case l: java.lang.Long       => kind = LInt; long = l
        case d: java.lang.Double     => kind = LFloat; double = d
        case b: java.lang.Boolean    => kind = LBool; long = if (b) 1L else 0L
        case b: java.math.BigDecimal => kind = LBig; big = b
        case s: String               => setString(s)
        case o                       => kind = LOther; obj = o
      }
      this
    }

    def negate(): Unit = kind match {
      case LInt   => long = -long
      case LFloat => double = -double
      case _      => big = big.negate() // LBig: scanNumber makes no other kind
    }

    def boxed: Any = kind match {
      case LNull  => null
      case LBool  => java.lang.Boolean.valueOf(long == 1L)
      case LInt   => java.lang.Long.valueOf(long)
      case LBig   => big
      case LFloat => java.lang.Double.valueOf(double)
      case LStr   => string
      case _      => obj
    }

    def string: String =
      if (!plain) unescape(src, from, to)
      else if (from == 0 && to == src.length) src
      else src.substring(from, to)

    // String.getBytes(int, int, byte[], int) keeps the low byte of each
    // char: exactly the UTF-8 of 7-bit text, copied without a decode
    @annotation.nowarn("cat=deprecation")
    def utf8: UTF8String =
      if (plain && ascii) {
        val b = new Array[Byte](to - from)
        src.getBytes(from, to, b, 0)
        UTF8String.fromBytes(b)
      } else UTF8String.fromString(string)

    /** Resolve escapes once, leaving a plain slice. */
    def flatten(): Unit = if (!plain) setString(unescape(src, from, to))
  }

  /** One literal into `c.lit`: NULL | TRUE | FALSE | number | 'string' |
    * `_charset 'string'` | `0xHEX` | `X'HEX'`. Mirrors
    * `line_parser.rs:224-267` — unquoted numbers without '.' are
    * integers (i64, overflow errors), with '.'/exponent are doubles,
    * `-` negates a following number — except the introducer/hex forms
    * (DEVIATION, see class doc): those appear in real dumps and the
    * reference bails on them. */
  private def scanValue(c: Cursor, opts: TypeOptions): Unit = {
    c.skipWs()
    if (c.eof) fail("expected value at end of statement")
    val lit = c.lit
    c.peek match {
      case '\'' => scanString(c)
      case '-'  => c.i += 1; scanNumber(c, opts); lit.negate()
      case '+'  => c.i += 1; scanNumber(c, opts)
      case '0' if c.i + 1 < c.s.length &&
          (c.s.charAt(c.i + 1) == 'x' || c.s.charAt(c.i + 1) == 'X') &&
          c.i + 2 < c.s.length && isHex(c.s.charAt(c.i + 2)) =>
        c.i += 2; lit.setString(parseHexBody(c))
      case d if d >= '0' && d <= '9' => scanNumber(c, opts)
      case '.' => scanNumber(c, opts)
      case ('x' | 'X') if c.i + 1 < c.s.length && c.s.charAt(c.i + 1) == '\'' =>
        // X'ABCD' hex-string: body is hex digits inside quotes
        c.i += 2
        val v = parseHexBody(c)
        if (c.eof || c.peek != '\'') fail(s"unterminated hex string: ${c.context}")
        c.i += 1
        lit.setString(v)
      case '_' =>
        // charset introducer (_binary, _utf8mb4, _latin1, ...): the
        // value is the string literal that follows
        c.word()
        c.skipWs()
        if (c.eof || c.peek != '\'') fail(s"expected string after charset introducer: ${c.context}")
        scanString(c)
      case _ =>
        c.word().toUpperCase match {
          case "NULL"  => lit.kind = LNull
          case "TRUE"  => lit.kind = LBool; lit.long = 1L
          case "FALSE" => lit.kind = LBool; lit.long = 0L
          case other   => fail(s"unsupported literal '$other': ${c.context}")
        }
    }
  }

  private def isHex(ch: Char): Boolean =
    (ch >= '0' && ch <= '9') || (ch >= 'a' && ch <= 'f') || (ch >= 'A' && ch <= 'F')

  /** Consume hex digits at the cursor and decode the byte string as
    * UTF-8 (MySQL hex literals are binary strings; text columns read
    * them as their encoded bytes). Odd digit counts get a leading 0,
    * matching MySQL's X'...' semantics. */
  private def parseHexBody(c: Cursor): String = {
    val start = c.i
    while (!c.eof && isHex(c.peek)) c.i += 1
    val digits0 = c.s.substring(start, c.i)
    if (digits0.isEmpty) return ""
    val digits = if (digits0.length % 2 == 1) "0" + digits0 else digits0
    val bytes = new Array[Byte](digits.length / 2)
    var k = 0
    while (k < bytes.length) {
      bytes(k) = Integer.parseInt(digits.substring(2 * k, 2 * k + 2), 16).toByte
      k += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** 10^k, exact as a double for k <= 22. */
  private val Pow10 = Array.tabulate(23)(k => math.pow(10, k))

  /** Unsigned number at the cursor. Integer digits accumulate inline;
    * one past i64::MAX is an overflow, which the reference rejects
    * (`line_parser.rs:247`) and the unsigned-decimal mode keeps as a
    * scale-0 decimal (range enforcement happens at coercion, where the
    * column type is known). A plain decimal whose digits fit in 53 bits
    * with at most 22 after the point is the quotient of two exact
    * doubles, so one division rounds it exactly as `parseDouble` does;
    * every other float goes to `parseDouble`. */
  private def scanNumber(c: Cursor, opts: TypeOptions): Unit = {
    val s = c.s
    val start = c.i
    var i = start
    var overflow = false
    var acc = 0L
    var digits = 0
    var dots = 0
    var fraction = 0 // digits after the point
    var exponent = false
    var cont = true
    while (i < s.length && cont) {
      val ch = s.charAt(i)
      if (ch >= '0' && ch <= '9') {
        val d = ch - '0'
        if (acc > Long.MaxValue / 10 || (acc == Long.MaxValue / 10 && d > 7)) overflow = true
        else acc = acc * 10 + d
        digits += 1
        if (dots > 0) fraction += 1
        i += 1
      } else if (ch == '.') { dots += 1; i += 1 }
      else if (ch == 'e' || ch == 'E') {
        exponent = true; i += 1
        if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      } else cont = false
    }
    c.i = i
    if (i == start) fail(s"expected number: ${c.context}")
    val lit = c.lit
    if (dots > 0 || exponent) {
      lit.kind = LFloat
      lit.double =
        if (dots == 1 && !exponent && digits > 0 && !overflow && acc < (1L << 53) && fraction <= 22)
          acc.toDouble / Pow10(fraction)
        else java.lang.Double.parseDouble(s.substring(start, i))
    }
    else if (!overflow) { lit.kind = LInt; lit.long = acc }
    else if (opts.unsignedBigintDecimal) { lit.kind = LBig; lit.big = new java.math.BigDecimal(s.substring(start, i)) }
    else fail(s"integer out of i64 range: ${s.substring(start, i)}")
  }

  /** MySQL single-quoted string at the cursor (backslash escapes + ''
    * doubling), recorded as a slice of the statement — a value, or a
    * quoted span the DDL parser skips. */
  private def scanString(c: Cursor): Unit = {
    val s = c.s
    val lit = c.lit
    var i = c.i + 1
    lit.kind = LStr; lit.src = s; lit.from = i; lit.plain = true; lit.ascii = true
    var done = false
    while (!done) {
      if (i >= s.length) fail("unterminated string literal")
      val ch = s.charAt(i)
      if (ch == '\\') {
        if (i + 1 >= s.length) fail("dangling escape at end of statement")
        lit.plain = false
        i += 2
      } else if (ch == '\'') {
        if (i + 1 < s.length && s.charAt(i + 1) == '\'') { lit.plain = false; i += 2 }
        else { lit.to = i; i += 1; done = true }
      } else {
        if (ch >= 0x80) lit.ascii = false
        i += 1
      }
    }
    c.i = i
  }

  /** The value of a string literal body `s[from, to)`. */
  private def unescape(s: String, from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      val ch = s.charAt(i)
      if (ch == '\\') {
        sb.append(s.charAt(i + 1) match {
          case 'n' => '\n'
          case 't' => '\t'
          case 'r' => '\r'
          case '0' => '\u0000'
          case 'b' => '\b'
          case 'Z' => '\u001a'
          case other => other // \' \" \\ \% \_ and unknown → literal char
        })
        i += 2
      } else if (ch == '\'') { sb.append('\''); i += 2 } // a doubled quote
      else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  // ---------------------------------------------------------- decoding

  /** Decodes one table's extended INSERTs straight into the rows the
    * parquet writer takes: every literal is scanned by [[scanValue]]
    * and written by [[put]], by its column's type, into a pooled
    * `SpecificInternalRow` at the schema index the INSERT column list
    * gives it — no boxed value, no `Row`, no encoder.
    *
    * A row [[put]] refuses (or of the wrong arity, or leaving a NOT
    * NULL column out of the list) is replayed through
    * [[parseInsert]] → [[rowAligner]] → [[coerceRow]], so its error is
    * theirs; a column list [[rowAligner]] refuses fails the statement
    * after the same tokenizer pass parseInsert makes. A statement's
    * rows are handed out only after the whole statement decoded (a
    * tokenizer error anywhere lands none of them) and are reused by
    * the next [[decode]]: consume them first. */
  final class InsertDecoder(table: String, schema: StructType, opts: TypeOptions) {
    private val fields = schema.fields
        private val positional = Array.range(0, fields.length)
    private val pool = scala.collection.mutable.ArrayBuffer.empty[SpecificInternalRow]
    private val bad = scala.collection.mutable.ArrayBuffer.empty[(Throwable, Array[Any])]
    private var decoded = 0
    // state of the tuple being decoded, read by `onValue`
    private var c: Cursor = _
    private var row: SpecificInternalRow = _
    private var target = positional
    private var ok = true
    private val onValue: Int => Unit = k =>
      if (ok) {
        if (k < target.length) {
          val j = target(k)
          try put(row, j, fields(j), c.lit, table)
          catch { case scala.util.control.NonFatal(_) => ok = false }
        } else ok = false
      }

    /** The rows of the last statement that decoded. */
    def rows: Iterator[InternalRow] = pool.iterator.take(decoded)

    /** The rows of the last statement that [[coerceRow]] rejects: its
      * error and the row's values in INSERT order. */
    def rejects: Seq[(Throwable, Array[Any])] = bad.toSeq

    /** Decode one INSERT into this table; [[rows]] and [[rejects]] then
      * hold its rows. A tokenizer or column-list error throws, with
      * parseInsert's or rowAligner's exception. */
    def decode(stmt: String): Unit = {
      decoded = 0
      bad.clear()
      c = new Cursor(stmt)
      val (stmtTable, cols) = insertHead(c)
      target =
        if (cols.isEmpty) positional
        else try columnTargets(stmtTable, cols, schema)
        catch { case e: DumpParseException => parseInsert(stmt, opts); throw e }
      // schema columns the list leaves out are NULL in every row
      val unlisted = if (cols.isEmpty) Array.emptyIntArray
        else fields.indices.filterNot(target.contains).toArray
      val unlistedOk = unlisted.forall(fields(_).nullable)
      var more = true
      while (more) {
        c.skipWs()
        val at = c.i
        if (decoded == pool.length) pool += new SpecificInternalRow(schema)
        row = pool(decoded)
        ok = true
        val n = scanTuple(c, opts, onValue)
        if (ok && n == target.length && unlistedOk) {
          unlisted.foreach(row.setNullAt)
          decoded += 1
        } else bad += reject(stmt, at, stmtTable, cols)
        more = c.tryConsume(',')
      }
    }

    private def reject(stmt: String, at: Int, stmtTable: String,
                       cols: Vector[String]): (Throwable, Array[Any]) = {
      val rc = new Cursor(stmt)
      rc.i = at
      val raw = boxedTuple(rc, opts)
      val align = rowAligner(InsertInto(stmtTable, Vector.empty, cols), schema)
      val err =
        try { coerceRow(table, schema, align(raw)); null }
        catch { case scala.util.control.NonFatal(e) => e }
      if (err == null)
        throw new IllegalStateException(
          s"table $table: the decoder rejected a row coerceRow accepts at offset $at")
      (err, raw)
    }
  }

  // ----------------------------------------------------------- coercion

  /** Per-row permutation from an INSERT's value order to schema order.
    *
    * Positional insert (no column list) → identity; [[coerceRow]]
    * still checks the arity. With a column list: statement-level
    * validation happens HERE, eagerly (unknown column → the values
    * cannot be placed; duplicate column → ambiguous assignment — both
    * fail the statement), while per-row arity is checked inside the
    * returned function so quarantine mode can drop just the bad row.
    * Schema columns absent from the list become NULL — MySQL's
    * implicit-default behavior for DEFAULT NULL columns; a NOT NULL
    * column left unlisted is then rejected row-by-row by
    * [[coerceRow]]'s non-null check, which is the "error on missing"
    * half of honoring the list. */
  def rowAligner(ins: InsertInto, schema: StructType): Array[Any] => Array[Any] = {
    if (ins.columns.isEmpty) identity
    else {
      val cols = ins.columns
      val target = columnTargets(ins.table, cols, schema)
      raw => {
        if (raw.length != cols.length)
          fail(s"table ${ins.table}: row has ${raw.length} values but INSERT " +
            s"column list has ${cols.length} columns")
        val out = new Array[Any](schema.length)
        var i = 0
        while (i < raw.length) { out(target(i)) = raw(i); i += 1 }
        out
      }
    }
  }

  /** Schema index of each listed column; an unknown or repeated name
    * fails the statement. */
  private def columnTargets(table: String, cols: Vector[String], schema: StructType): Array[Int] = {
    val schemaIdx = schema.fieldNames.zipWithIndex.toMap
    val unknown = cols.filterNot(schemaIdx.contains)
    if (unknown.nonEmpty)
      fail(s"table $table: INSERT column list names unknown column(s) " +
        s"${unknown.mkString(", ")} (schema: ${schema.fieldNames.mkString(", ")})")
    if (cols.distinct.length != cols.length)
      fail(s"table $table: INSERT column list repeats a column: ${cols.mkString(", ")}")
    cols.map(schemaIdx).toArray
  }

  /** Type-check and coerce one boxed row (schema order) against the
    * table schema — [[put]] per value, the rules [[InsertDecoder]]
    * applies — and return it with external values: `Long`, `Double`,
    * `String`, `Boolean`, `java.math.BigDecimal`, and
    * `java.sql.Timestamp`/`java.sql.Date` built from the proleptic
    * micros/days the decoder writes (at micro precision). */
  def coerceRow(table: String, schema: StructType, raw: Array[Any]): Row = {
    if (raw.length != schema.length)
      fail(s"table $table: row has ${raw.length} values but schema has ${schema.length} columns")
    val row = new SpecificInternalRow(schema)
    val lit = new Lit
    var i = 0
    while (i < raw.length) {
      val f = schema(i)
      put(row, i, f, lit.set(raw(i)), table)
      i += 1
    }
    Row.fromSeq(schema.fields.indices.map { i =>
      if (row.isNullAt(i)) null
      else schema(i).dataType match {
        case TimestampType => toTimestamp(row.getLong(i))
        case DateType      => java.sql.Date.valueOf(LocalDate.ofEpochDay(row.getInt(i)))
        case _: DecimalType => row.getDecimal(i, 20, 0).toJavaBigDecimal
        case StringType    => row.getUTF8String(i).toString
        case dt            => row.get(i, dt)
      }
    })
  }

  /** Write one literal into `row(i)` as column `f` takes it, mirroring the writer's enforcement (`parquet_writer.rs:120-218`):
    * strict on mismatch, Long→Double widening in Float columns, string
    * timestamps parsed as UTC wall-clock. A NULL in a NOT NULL column
    * is rejected HERE with a clear error — the reference appends the
    * null (`parquet_writer.rs:140,151,...`) and then panics deep inside
    * `RecordBatch::try_new` when the non-nullable arrow field sees it;
    * we surface the same hard failure at the parser boundary instead of
    * a confusing downstream parquet-write error. */
  private def put(row: InternalRow, i: Int, f: StructField, v: Lit,
                  table: String): Unit = {
    def mismatch(what: String): Nothing =
      fail(s"table $table column ${f.name}: expected $what, got ${v.boxed}")
    if (v.kind == LNull) {
      if (!f.nullable) fail(s"table $table column ${f.name}: NULL in NOT NULL column")
      row.setNullAt(i)
    } else f.dataType match {
      case LongType => v.kind match {
        case LInt => row.setLong(i, v.long)
        case LBig =>
          // a > i64 literal (admitted by the unsigned-decimal mode)
          // landing in a plain bigint column is still an overflow
          fail(s"table $table column ${f.name}: integer out of i64 range: ${v.big}")
        case _ => mismatch("integer")
      }
      case dt: DecimalType if dt.precision == 20 && dt.scale == 0 => v.kind match {
        // BIGINT UNSIGNED via TypeOptions.unsignedBigintDecimal:
        // anything integral in [0, u64::MAX]
        case LInt if v.long >= 0L =>
          row.update(i, Decimal(java.math.BigDecimal.valueOf(v.long), 20, 0))
        case LInt =>
          fail(s"table $table column ${f.name}: negative value ${v.long} in UNSIGNED column")
        case LBig if v.big.signum() >= 0 && v.big.compareTo(U64Max) <= 0 =>
          row.update(i, Decimal(v.big, 20, 0))
        case LBig => fail(s"table $table column ${f.name}: integer out of u64 range: ${v.big}")
        case _ => mismatch("integer")
      }
      case DoubleType => v.kind match {
        case LFloat => row.setDouble(i, v.double)
        case LInt   => row.setDouble(i, v.long.toDouble)
        case _      => mismatch("float")
      }
      case StringType =>
        if (v.kind == LStr) row.update(i, v.utf8) else mismatch("string")
      case TimestampType =>
        if (v.kind == LStr) row.setLong(i, timestampMicros(v, table, f.name))
        else mismatch("timestamp string")
      case DateType =>
        // TypeOptions.dateAsDate: 'YYYY-MM-DD' only — a DATE column
        // carrying a time component is a schema lie we refuse
        if (v.kind == LStr) row.setInt(i, dateDays(v, table, f.name))
        else mismatch("date string")
      case BooleanType => v.kind match {
        case LBool                                 => row.setBoolean(i, v.long == 1L)
        case LInt if v.long == 0L || v.long == 1L => row.setBoolean(i, v.long == 1L)
        case _                                     => mismatch("boolean")
      }
      case _ => fail(s"table $table column ${f.name}: unsupported type ${f.dataType}")
    }
  }

  // ------------------------------------------------------ date and time

  /** 'YYYY-MM-DD[ HH:MM:SS[.ffffff]]' as UTC wall-clock →
    * java.sql.Timestamp of the same instant (at micro precision).
    *
    * Also accepts a bare TIME-of-day 'HH:MM:SS[.ffffff]', anchored to
    * 1970-01-01 — the THIRD deliberate deviation from a reference
    * panic: `TIME` is an accepted DDL type (`line_parser.rs:158-161`)
    * but a time value slices `value[11..13]` out of bounds in the
    * fixed-offset parse (`parquet_writer.rs:173-192`), so no TIME
    * column survives the reference end-to-end (same class of hole as
    * Boolean schemas and DATE-only values, both already fixed). The
    * epoch-day anchor mirrors the DATE→midnight rule: the stored
    * instant carries exactly the information the literal had.
    *
    * The rules are `LocalDateTime`/`LocalDate`/`LocalTime.parse`'s
    * (proleptic Gregorian, strict field ranges): the common
    * fixed-field shapes are computed directly, every other shape goes
    * to java.time itself, so the accepted set and the error text are
    * java.time's. */
  def parseTimestamp(s: String, table: String, column: String): java.sql.Timestamp =
    toTimestamp(timestampMicros(new Lit().setString(s), table, column))

  private def toTimestamp(micros: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(DateTimeUtils.microsToInstant(micros))

  private def timestampMicros(v: Lit, table: String, column: String): Long = {
    v.flatten()
    val fixed = fixedMicros(v.src, v.from, v.to)
    if (fixed != NoFixed) fixed
    else {
      val s = v.string
      val ldt =
        try {
          if (s.length >= 8 && s.charAt(2) == ':')
            java.time.LocalTime.parse(s).atDate(LocalDate.ofEpochDay(0))
          else if (s.length <= 10) LocalDate.parse(s).atStartOfDay()
          else LocalDateTime.parse(s.replace(' ', 'T'))
        } catch {
          case e: java.time.format.DateTimeParseException =>
            fail(s"table $table column $column: cannot parse timestamp '$s': ${e.getMessage}")
        }
      Math.addExact(Math.multiplyExact(ldt.toEpochSecond(ZoneOffset.UTC), 1000000L),
        ldt.getNano / 1000L)
    }
  }

  private def dateDays(v: Lit, table: String, column: String): Int = {
    v.flatten()
    val fixed = if (v.to - v.from == 10) fixedDay(v.src, v.from) else NoFixed
    if (fixed != NoFixed) fixed.toInt
    else {
      val s = v.string
      try Math.toIntExact(LocalDate.parse(s).toEpochDay)
      catch {
        case e: java.time.format.DateTimeParseException =>
          fail(s"table $table column $column: cannot parse date '$s': ${e.getMessage}")
      }
    }
  }

  /** A shape the fixed-field parse leaves to java.time. */
  private final val NoFixed = Long.MinValue
  private final val MicrosPerDay = 86400L * 1000000L

  /** Micros of `s[from, to)` when it is 'YYYY-MM-DD', 'HH:MM:SS[.f]' or
    * 'YYYY-MM-DD[ T]HH:MM:SS[.f]' (1–9 fraction digits, truncated to
    * micros) with every field in range; the branch is chosen exactly
    * as the java.time fallback chooses it. */
  private def fixedMicros(s: String, from: Int, to: Int): Long = {
    val n = to - from
    if (n >= 8 && s.charAt(from + 2) == ':') fixedTime(s, from, to)
    else if (n < 10) NoFixed
    else if (n == 10) {
      val d = fixedDay(s, from)
      if (d == NoFixed) NoFixed else d * MicrosPerDay
    } else if (s.charAt(from + 10) != ' ' && s.charAt(from + 10) != 'T') NoFixed
    else {
      val d = fixedDay(s, from)
      val t = fixedTime(s, from + 11, to)
      if (d == NoFixed || t == NoFixed) NoFixed else d * MicrosPerDay + t
    }
  }

  /** Two ASCII digits at `i` as a number, or -1. */
  private def digits2(s: String, i: Int): Int = {
    val a = s.charAt(i) - '0'
    val b = s.charAt(i + 1) - '0'
    if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
  }

  /** Epoch day of 'YYYY-MM-DD' at `i` (a real proleptic date), else NoFixed. */
  private def fixedDay(s: String, i: Int): Long = {
    val yh = digits2(s, i)
    val yl = digits2(s, i + 2)
    val m = digits2(s, i + 5)
    val d = digits2(s, i + 8)
    if (yh < 0 || yl < 0 || m < 1 || m > 12 || d < 1 ||
        s.charAt(i + 4) != '-' || s.charAt(i + 7) != '-') NoFixed
    else {
      val y = yh * 100 + yl
      val leap = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)
      val monthLength = m match {
        case 2 => if (leap) 29 else 28
        case 4 | 6 | 9 | 11 => 30
        case _ => 31
      }
      if (d > monthLength) NoFixed
      else {
        // LocalDate.toEpochDay for a year >= 0
        var days = 365L * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
        days += (367 * m - 362) / 12 + d - 1
        if (m > 2) days -= (if (leap) 1 else 2)
        days - 719528L
      }
    }
  }

  /** Micros into the day of 'HH:MM:SS[.f]' spanning `s[i, to)`, else NoFixed. */
  private def fixedTime(s: String, i: Int, to: Int): Long = {
    val n = to - i
    if (n < 8 || n == 9 || n > 18) return NoFixed
    val h = digits2(s, i)
    val mi = digits2(s, i + 3)
    val sec = digits2(s, i + 6)
    if (h < 0 || h > 23 || mi < 0 || mi > 59 || sec < 0 || sec > 59 ||
        s.charAt(i + 2) != ':' || s.charAt(i + 5) != ':' || (n > 8 && s.charAt(i + 8) != '.'))
      return NoFixed
    var frac = 0L
    var scale = 100000L // micros per unit of the next fraction digit
    var k = i + 9
    while (k < to) {
      val d = s.charAt(k) - '0'
      if (d < 0 || d > 9) return NoFixed
      frac += d * scale
      scale /= 10
      k += 1
    }
    (h * 3600L + mi * 60L + sec) * 1000000L + frac
  }
}
