package graft.dump

import java.io.InputStream
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** CLI entry point — parity with the reference's clap surface
  * (`/root/reference/src/main.rs:25-33`):
  *
  * {{{
  *   mysqldump-to-parquet [-o|--output DIR] [--strict-tables]
  *                        [--quarantine] [--codec CODEC]
  *                        [--date-as-date] [--unsigned-decimal]
  *                        [--resume] [INPUT]
  * }}}
  *
  * `--resume` restarts a died convert: tables whose completion-manifest
  * entry matches the input's fingerprint are skipped, partially-written
  * tables are redone (see [[DumpConverter.ManifestDir]]).
  *
  * `--date-as-date` maps MySQL DATE columns to parquet DATE (instead of
  * the reference's midnight timestamp); `--unsigned-decimal` maps
  * BIGINT UNSIGNED to DECIMAL(20,0) so values above i64::MAX convert
  * instead of erroring (the reference rejects them,
  * `line_parser.rs:247`). Both are opt-in; defaults match the
  * reference byte-for-byte.
  *
  * INPUT may be a plain `.sql` or gzip `.sql.gz` dump; when absent the
  * dump is read from stdin (`main.rs:56`). Output defaults to `.`.
  * `--strict-tables` restores the reference's warn-and-drop routing for
  * interleaved dumps (`parquet_writer.rs:93-95`) instead of the default
  * interleaving-tolerant grouping.
  *
  * DEVIATION: the reference streams stdin straight through its
  * single-pass pipeline; Spark needs a re-readable input (the converter
  * makes a metadata pass plus a parse pass), so stdin is first spooled
  * to a temp file — memory stays bounded, disk holds one dump copy.
  * On a real cluster you'd put the dump on shared storage and pass a
  * path; the stdin path exists for drop-in CLI compatibility.
  */
object DumpCli {

  private[dump] case class CliArgs(
      out: String = ".",
      input: Option[String] = None,
      strict: Boolean = false,
      quarantine: Boolean = false,
      codec: String = "snappy",
      types: DumpParser.TypeOptions = DumpParser.DefaultTypes,
      resume: Boolean = false)

  private[dump] def parseArgs(args: Array[String]): CliArgs = {
    var a = CliArgs()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-o" | "--output" =>
          require(i + 1 < args.length, s"${args(i)} requires a value")
          a = a.copy(out = args(i + 1)); i += 2
        case "--strict-tables" =>
          a = a.copy(strict = true); i += 1
        case "--quarantine" =>
          a = a.copy(quarantine = true); i += 1
        case "--codec" =>
          require(i + 1 < args.length, "--codec requires a value")
          a = a.copy(codec = args(i + 1)); i += 2
        case "--date-as-date" =>
          a = a.copy(types = a.types.copy(dateAsDate = true)); i += 1
        case "--unsigned-decimal" =>
          a = a.copy(types = a.types.copy(unsignedBigintDecimal = true)); i += 1
        case "--resume" =>
          a = a.copy(resume = true); i += 1
        case flag if flag.startsWith("-") =>
          throw new IllegalArgumentException(s"unknown flag $flag")
        case pos =>
          require(a.input.isEmpty, s"unexpected extra argument $pos")
          a = a.copy(input = Some(pos)); i += 1
      }
    }
    // --resume keys on the input files' (name, size, mtime); a stdin
    // spool gets a fresh temp name every run, so the fingerprint could
    // never match and "resume" would silently restart from zero.
    require(!(a.resume && a.input.isEmpty),
      "--resume requires a file input: stdin is spooled to a fresh temp " +
        "file each run, so no previous manifest can ever match")
    a
  }

  /** Stream stdin to a temp file in bounded memory (8 MB buffer, like
    * the reference's BufReader, `main.rs:42-53`). */
  private[dump] def spool(in: InputStream): Path = {
    val tmp = Files.createTempFile("graft-stdin-", ".sql")
    val outStream = Files.newOutputStream(tmp)
    try {
      val buf = new Array[Byte](8 * 1024 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        outStream.write(buf, 0, n)
        n = in.read(buf)
      }
    } finally outStream.close()
    tmp
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .appName("mysqldump-to-parquet")
      .config("spark.master",
        sys.props.get("spark.master").orElse(sys.env.get("MASTER")).getOrElse("local[*]"))
      .getOrCreate()
    val (input, cleanup) = a.input match {
      case Some(p) => (p, None)
      case None =>
        val tmp = spool(System.in)
        (tmp.toString, Some(tmp))
    }
    try {
      // Live progress (the reference's indicatif counters,
      // `main.rs:63-86`): table discovery, a throttled rows-written
      // ticker, and a per-table line as each write commits.
      val res = DumpConverter.convert(spark, input, a.out,
        strictTables = a.strict, progress = System.err.println, quarantine = a.quarantine,
        codec = a.codec, types = a.types, resume = a.resume)
      // `rowsWritten` includes the `_quarantine` side channel; report
      // rejected rows separately so they never read as successful writes.
      val quarantined = res.rowsWritten.getOrElse(DumpConverter.QuarantineTable, 0L)
      val written = res.rowsWritten.values.sum - quarantined
      System.err.println(
        s"[dump] done: ${res.tables.size} table(s), " +
          s"$written row(s), $quarantined quarantined, " +
          s"${res.droppedInserts} dropped insert(s)")
    } finally cleanup.foreach(Files.deleteIfExists(_))
  }
}
