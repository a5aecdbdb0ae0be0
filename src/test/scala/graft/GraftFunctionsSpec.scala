package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.ops.Tables

/** The SQL registration contract ([[graft.functions.GraftFunctions]]):
  * every native Catalyst expression resolves from SQL text and
  * evaluates BIT-IDENTICALLY to its Column API — including the minhash
  * signature, which has no DuckDB replay and so escapes the registered
  * witness `q_sql_native_fns`. Also pins the
  * literal-config contract (non-literal width/window arguments fail
  * with a pointed message, never silently misconfigure a kernel) and
  * that the `spark.sql.extensions` installer carries the same entries.
  */
class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf)
    .select(col("doc_id"), col("text"))
    .filter(size(split(col("text"), " ")) >= 3 && length(col("text")) >= 8)
    .limit(50)

  test("text-side functions: SQL text evaluates identically to the Column API") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("gf_docs")
    try {
      val viaSql = spark.sql(
        """SELECT doc_id,
          |  graft_word_shingles(text, 3) AS sh,
          |  graft_minhash_signature(graft_word_shingles(text, 3)) AS sig,
          |  graft_rolling_hashes(text, 8, 257, 1000003) AS rh,
          |  graft_jaro_winkler(text, reverse(text)) AS jw
          |FROM gf_docs ORDER BY doc_id""".stripMargin).collect()
      val sh = WordShingles.wordShingles(col("text"), 3)
      val sig = MinHashSignature.minhashSignature(sh,
        MinHashSignature.stdA, MinHashSignature.stdB, MinHashSignature.StdP)
      val viaCol = docs.select(col("doc_id"),
          sh.as("sh"), sig.as("sig"),
          RollingHashes.rollingHashes(col("text"), 8, 257L, 1000003L).as("rh"),
          JaroWinkler.jaroWinkler(col("text"), reverse(col("text"))).as("jw"))
        .orderBy(col("doc_id")).collect()
      assert(viaSql.length == viaCol.length && viaSql.nonEmpty)
      viaSql.zip(viaCol).foreach { case (a, b) =>
        assert(a == b, s"SQL and Column results diverge for doc ${a.get(0)}")
      }
    } finally spark.catalog.dropTempView("gf_docs"): Unit
  }

  test("array-side dot product: SQL text evaluates identically to the Column API") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf).limit(30)
    e.createOrReplaceTempView("gf_emb")
    try {
      val viaSql = spark.sql(
        """SELECT a.vec_id, graft_dot_product(a.embedding, b.embedding) AS dp
          |FROM gf_emb a JOIN gf_emb b ON b.vec_id = a.vec_id + 1
          |ORDER BY a.vec_id""".stripMargin).collect()
      val a = e.select(col("vec_id"), col("embedding"))
      val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("e2"))
      val viaCol = a.join(b, "vec_id")
        .select(col("vec_id"),
          graft.functions.DotProduct.dotNative(col("embedding"), col("e2")).as("dp"))
        .orderBy(col("vec_id")).collect()
      assert(viaSql.length == viaCol.length && viaSql.nonEmpty)
      viaSql.zip(viaCol).foreach { case (x, y) => assert(x == y) }
    } finally spark.catalog.dropTempView("gf_emb"): Unit
  }

  test("fused simhash fingerprint aggregate equals the bit_votes pipeline") {
    // parity for the round-17 fusion: SimhashFingerprint(xxhash64(tok))
    // must reproduce the bit_votes -> elementwise-sum -> majority-fold
    // chain bit for bit on real fixture token streams
    val toks = Tables.documents(spark, sf).limit(200)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val fused = toks.groupBy("doc_id")
      .agg(ArrayAggregators.simhashFingerprint(xxhash64(col("tok"))).as("f"))
    val reference = toks
      .select(col("doc_id"), BitVotes.bitVotes(xxhash64(col("tok"))).as("votes"))
      .groupBy("doc_id")
      .agg(ReferenceAggregators.elementwiseSum(64)(col("votes")).as("bits"))
      .select(col("doc_id"), expr(
        "aggregate(sequence(0, 63), 0L, (acc, i) -> CASE WHEN element_at(bits, i + 1) > 0 THEN acc | shiftleft(1L, i) ELSE acc END)")
        .as("f"))
    val got = fused.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = reference.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.size == want.size)
    want.foreach { case (id, f) => assert(got(id) == f, s"doc $id") }
  }

  test("literal-config contract: a non-literal shingle width fails pointedly") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("gf_docs_bad")
    try {
      val err = intercept[Exception](
        spark.sql(
          "SELECT graft_word_shingles(text, CAST(doc_id AS INT)) FROM gf_docs_bad")
          .collect())
      assert(err.getMessage != null && err.getMessage.contains("INTEGER literal"),
        s"wanted the pointed literal-config error, got: ${err.getMessage}")
    } finally spark.catalog.dropTempView("gf_docs_bad"): Unit
  }

  test("the spark.sql.extensions installer carries the same function entries") {
    // the installer is driven by Spark at session build; here assert
    // its entry list is exactly GraftFunctions.entries (the runtime
    // register() path, proven above, shares them by construction)
    val names = GraftFunctions.entries.map(_._1.funcName)
    assert(names.distinct.length == names.length, "duplicate registrations")
    assert(names.toSet == Set("graft_jaro_winkler", "graft_dot_product",
      "graft_word_shingles", "graft_rolling_hashes",
      "graft_minhash_signature"))
    // and the installer compiles against them (injectFunction accepts
    // the triple type) — instantiating it must not throw
    new graft.plans.GraftSparkExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
