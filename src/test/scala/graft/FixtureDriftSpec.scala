package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Tables
import graft.streaming.StreamingOps

/** Fixture-schema drift guard (round-8 postmortem). The driver
  * regenerates /root/testdata between rounds and the physical type of
  * `events.ts` has already drifted once (TIMESTAMP(NANOS) → plain
  * timestamp[us] NTZ), silently breaking 16 queries. This spec pins the
  * contract of `Tables.normalizeEventTs`:
  *
  *  - every supported arrival (NTZ micros, LTZ micros, legacy Long
  *    nanos) normalizes to the SAME TimestampType values, batch AND
  *    streaming;
  *  - an unsupported arrival fails loudly with one pointed error naming
  *    the file, instead of sixteen downstream DATATYPE_MISMATCHes.
  */
class FixtureDriftSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Write the fixture's events re-encoded with `ts` transformed, into
    * a temp dir laid out like a fixture dir (events.parquet). */
  private def variantDir(tag: String)(recode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val dir = Fs.scratchDir(s"drift_$tag")
    recode(Tables.events(spark, sf))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  private def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  lazy val expected = fingerprint(Tables.events(spark, sf))

  test("NTZ (timestamp[us]) arrival normalizes to the fixture's exact event times") {
    val d = variantDir("ntz")(_.withColumn("ts", col("ts").cast(TimestampNTZType)))
    val ev = Tables.events(spark, d)
    assert(ev.schema("ts").dataType.typeName == "timestamp")
    assert(fingerprint(ev) == expected)
  }

  test("LTZ (TimestampType) arrival passes through unchanged") {
    val d = variantDir("ltz")(identity)
    val ev = Tables.events(spark, d)
    assert(ev.schema("ts").dataType.typeName == "timestamp")
    assert(fingerprint(ev) == expected)
  }

  test("legacy Long-nanos arrival floor-divides to the same micros") {
    val d = variantDir("nanos")(_.withColumn("ts", unix_micros(col("ts")) * 1000L))
    val ev = Tables.events(spark, d)
    assert(ev.schema("ts").dataType.typeName == "timestamp")
    assert(fingerprint(ev) == expected)
  }

  test("an unsupported ts arrival fails with one pointed error naming the file") {
    val d = variantDir("bad")(_.withColumn("ts", col("ts").cast(StringType)))
    val e = intercept[IllegalArgumentException](Tables.events(spark, d))
    assert(e.getMessage.contains("events.parquet"))
    assert(e.getMessage.contains("drifted"))
    assert(e.getMessage.contains("normalizeEventTs"))
  }

  test("whole-fixture schema guard: every table's arriving types are in the supported set") {
    // The driver regenerates /root/testdata between rounds and has
    // already drifted a physical type once (events.ts). This pins the
    // ARRIVING Spark type of every column of every table so the next
    // drift fails HERE, naming the file — not as a scatter of
    // DATATYPE_MISMATCHes across dozens of queries. Date-ish columns
    // accept the three arrivals normalizeEventTs supports.
    val tsish = Set("timestamp", "timestamp_ntz", "long")
    val expected: Map[String, Map[String, Set[String]]] = Map(
      "region" -> Map("r_regionkey" -> Set("integer", "long"), "r_name" -> Set("string")),
      "nation" -> Map("n_nationkey" -> Set("integer", "long"),
        "n_name" -> Set("string"), "n_regionkey" -> Set("integer", "long")),
      "customer" -> Map("c_custkey" -> Set("long"), "c_name" -> Set("string"),
        "c_nationkey" -> Set("integer", "long"), "c_acctbal" -> Set("double"),
        "c_mktsegment" -> Set("string")),
      "supplier" -> Map("s_suppkey" -> Set("long"), "s_name" -> Set("string"),
        "s_nationkey" -> Set("integer", "long"), "s_acctbal" -> Set("double")),
      "part" -> Map("p_partkey" -> Set("long"), "p_name" -> Set("string"),
        "p_brand" -> Set("string"), "p_type" -> Set("string"),
        "p_size" -> Set("integer", "long"), "p_retailprice" -> Set("double")),
      "orders" -> Map("o_orderkey" -> Set("long"), "o_custkey" -> Set("long"),
        "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
        "o_orderdate" -> (tsish ++ Set("date")), "o_orderpriority" -> Set("string")),
      "lineitem" -> Map("l_orderkey" -> Set("long"), "l_partkey" -> Set("long"),
        "l_suppkey" -> Set("long"), "l_linenumber" -> Set("integer", "long"),
        "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
        "l_discount" -> Set("double"), "l_tax" -> Set("double"),
        "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
        "l_shipdate" -> (tsish ++ Set("date"))),
      "events" -> Map("event_id" -> Set("long"), "ts" -> tsish,
        "user_id" -> Set("long"), "event_type" -> Set("string"),
        "value" -> Set("double"), "props" -> Set("string")),
      "documents" -> Map("doc_id" -> Set("long"), "text" -> Set("string"),
        "lang" -> Set("string"), "source" -> Set("string"), "n_chars" -> Set("long")),
      // the embedding ELEMENT type is pinned via catalogString because
      // typeName erases it to "array": code that reads elements
      // generically (cast to array<double>) tolerates either, but a
      // drift to some third shape should fail loudly here
      "embeddings" -> Map("vec_id" -> Set("long"),
        "embedding" -> Set("array"), "label" -> Set("integer", "long")))
    locally {
      val et = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .schema("embedding").dataType.catalogString
      assert(Set("array<float>", "array<double>").contains(et),
        s"embeddings.embedding arrived as $et — element type drifted beyond " +
          "the float/double pair the loaders' array<double> casts absorb")
    }
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      expected.foreach { case (table, cols) =>
        val schema = spark.read.parquet(s"$sfDir/$table.parquet").schema
        cols.foreach { case (name, allowed) =>
          assert(schema.fieldNames.contains(name),
            s"$sfDir/$table.parquet: column $name disappeared — fixture drift")
          val t = schema(name).dataType.typeName
          assert(allowed.contains(t),
            s"$sfDir/$table.parquet: column $name arrived as $t (allowed: " +
              s"${allowed.mkString("/")}). The fixture's physical type has " +
              "drifted — extend the relevant Tables loader (see " +
              "normalizeEventTs for the pattern) and widen this guard.")
        }
      }
    }
  }

  test("streaming is type-robust: tumbling windows agree across NTZ and nanos encodings") {
    val baseline = StreamingOps.st_tumbling(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(baseline.nonEmpty)
    for (tag <- Seq("ntz", "nanos")) {
      val d =
        if (tag == "ntz") variantDir("sntz")(_.withColumn("ts", col("ts").cast(TimestampNTZType)))
        else variantDir("snanos")(_.withColumn("ts", unix_micros(col("ts")) * 1000L))
      val got = StreamingOps.st_tumbling(spark, d).collect().map(_.toString).sorted.toSeq
      assert(got == baseline, s"streaming answer drifted for the $tag encoding")
    }
  }
}
