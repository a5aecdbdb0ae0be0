package graft.dump

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class DumpCliSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  val dump =
    """CREATE TABLE `t` (`id` int NOT NULL, `name` varchar(10));
      |INSERT INTO `t` VALUES (1,'a'),(2,'b');
      |""".stripMargin

  private val noTypes = DumpParser.DefaultTypes

  test("arg parsing: -o/--output, --strict-tables, optional positional input, errors") {
    import DumpCli.CliArgs
    assert(DumpCli.parseArgs(Array()) == CliArgs())
    assert(DumpCli.parseArgs(Array("in.sql")) == CliArgs(input = Some("in.sql")))
    assert(DumpCli.parseArgs(Array("-o", "out", "in.sql")) ==
      CliArgs(out = "out", input = Some("in.sql")))
    assert(DumpCli.parseArgs(Array("--output", "out")) == CliArgs(out = "out"))
    assert(DumpCli.parseArgs(Array("in.sql", "-o", "out")) ==
      CliArgs(out = "out", input = Some("in.sql")))
    assert(DumpCli.parseArgs(Array("--strict-tables", "in.sql")) ==
      CliArgs(input = Some("in.sql"), strict = true))
    assert(DumpCli.parseArgs(Array("--quarantine", "in.sql")) ==
      CliArgs(input = Some("in.sql"), quarantine = true))
    assert(DumpCli.parseArgs(Array("in.sql", "--strict-tables", "-o", "out")) ==
      CliArgs(out = "out", input = Some("in.sql"), strict = true))
    assert(DumpCli.parseArgs(Array("--codec", "zstd", "in.sql")) ==
      CliArgs(input = Some("in.sql"), codec = "zstd"))
    assert(DumpCli.parseArgs(Array("--date-as-date", "--unsigned-decimal", "in.sql")) ==
      CliArgs(input = Some("in.sql"),
        types = DumpParser.TypeOptions(dateAsDate = true, unsignedBigintDecimal = true)))
    assert(DumpCli.parseArgs(Array("--resume", "in.sql")) ==
      CliArgs(input = Some("in.sql"), resume = true))
    // the salts dial went with the routing shuffle: now an unknown flag
    val salts = intercept[IllegalArgumentException](
      DumpCli.parseArgs(Array("--salts", "32", "in.sql")))
    assert(salts.getMessage.contains("unknown flag --salts"))
    intercept[IllegalArgumentException](DumpCli.parseArgs(Array("-x")))
    intercept[IllegalArgumentException](DumpCli.parseArgs(Array("a", "b")))
    intercept[IllegalArgumentException](DumpCli.parseArgs(Array("-o")))
    intercept[IllegalArgumentException](DumpCli.parseArgs(Array("--codec")))
    // --resume over stdin could never match a previous manifest (the
    // spool gets a fresh temp name per run) — reject loudly instead of
    // silently restarting a 100 TB ingest from zero
    intercept[IllegalArgumentException](DumpCli.parseArgs(Array("--resume")))
  }

  test("e2e: main with file input writes parquet (main.rs:25-33 parity)") {
    spark // ensure the shared test session exists before main's getOrCreate
    val in = graft.Fs.scratchDir("cli-in")
    val out = graft.Fs.scratchDir("cli-out")
    Files.writeString(in.resolve("dump.sql"), dump)
    DumpCli.main(Array("-o", out.toString, s"$in/dump.sql"))
    val back = spark.read.parquet(s"$out/t").collect().sortBy(_.getLong(0))
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back.map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("e2e: main with no input reads stdin (main.rs:56 parity)") {
    spark
    val out = graft.Fs.scratchDir("cli-stdin-out")
    val oldIn = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(dump.getBytes("UTF-8")))
      DumpCli.main(Array("--output", out.toString))
    } finally System.setIn(oldIn)
    assert(spark.read.parquet(s"$out/t").count() == 2)
  }

  test("done line reports quarantined rows separately from written rows") {
    spark
    val in = graft.Fs.scratchDir("cli-quar-in")
    val out = graft.Fs.scratchDir("cli-quar-out")
    val badDump =
      """CREATE TABLE `t` (`id` bigint NOT NULL);
        |INSERT INTO `t` VALUES (1),(2);
        |INSERT INTO `t` VALUES (NULL);
        |""".stripMargin
    Files.writeString(in.resolve("dump.sql"), badDump)
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err)) {
      val oldErr = System.err
      try {
        System.setErr(new java.io.PrintStream(err))
        DumpCli.main(Array("-o", out.toString, "--quarantine", s"$in/dump.sql"))
      } finally System.setErr(oldErr)
    }
    val done = err.toString("UTF-8").linesIterator.find(_.contains("done:")).getOrElse("")
    assert(done.contains("2 row(s)") && done.contains("1 quarantined"),
      s"summary must separate written from quarantined: '$done'")
  }

  test("spool streams bounded and byte-exact") {
    val payload = ("x" * 1000 + "\n") * 100
    val tmp = DumpCli.spool(new java.io.ByteArrayInputStream(payload.getBytes("UTF-8")))
    try assert(Files.readString(tmp) == payload)
    finally Files.deleteIfExists(tmp)
  }
}
