package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity proofs for the native shingling/minhash expressions: the
  * tight-loop codegen'd implementations must agree exactly with the
  * pure-builtin higher-order formulations they replaced. */
class ShingleExprSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c",
    "a b",                       // fewer words than the window
    "",                          // empty string
    "a  b c d",                  // double space → empty word
    "dup dup dup dup dup",       // repeated shingles collapse
    " leading and trailing ",    // boundary spaces
    "unicode caffè naïve résumé test words here"
  ).toDF("text")

  private def hofShingles = {
    val w = split(col("text"), " ")
    when(size(w) >= 3,
      array_distinct(expr(
        "transform(sequence(1, size(split(text, ' ')) - 2), i -> concat_ws(' ', element_at(split(text, ' '), i), element_at(split(text, ' '), i + 1), element_at(split(text, ' '), i + 2)))")))
      .otherwise(expr("CAST(array() AS array<string>)"))
  }

  test("WordShingles equals the split+transform+concat_ws+array_distinct formulation") {
    val rows = texts
      .select(col("text"),
        WordShingles.wordShingles(col("text"), 3).as("native"),
        hofShingles.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"text='${r.getString(0)}'")
    }
  }

  test("WordShingles survives whole-stage codegen and interpreted eval identically") {
    val df = texts.select(WordShingles.wordShingles(col("text"), 3).as("sh"))
    val viaCodegen = df.collect().map(_.getSeq[String](0)).toSeq
    val viaFilterProject = texts.filter(length(col("text")) >= 0)
      .select(WordShingles.wordShingles(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(viaCodegen == viaFilterProject)
  }

  test("WordShingles parity holds on 300 random space-heavy strings (property sample)") {
    // Adversarial alphabet: spaces dominate so empty words, runs of
    // spaces, and boundary spaces appear constantly; includes a
    // multi-byte char to exercise UTF-8 offsets.
    val rng = new scala.util.Random(12345)
    val alphabet = "  ab é"
    val samples = Seq.fill(300) {
      val len = rng.nextInt(30)
      (0 until len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }.toDF("text")
    val rows = samples
      .select(col("text"),
        WordShingles.wordShingles(col("text"), 3).as("native"),
        hofShingles.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"text='${r.getString(0)}'")
    }
  }

  test("MinHashSignature equals the explode + affine-hash + elementwise-min pipeline") {
    val k = 8
    val rng = new scala.util.Random(7)
    val a = Seq.fill(k)((rng.nextLong() & ((1L << 30) - 1)) | 1L)
    val b = Seq.fill(k)(rng.nextLong() & ((1L << 30) - 1))
    val p = 4294967311L
    val docs = texts.withColumn("doc_id", monotonically_increasing_id())
    val sh = docs.select(col("doc_id"), WordShingles.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val native = sh.select(col("doc_id"),
      MinHashSignature.minhashSignature(col("sh"), a, b, p).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val aLit = typedLit(a)
    val bLit = typedLit(b)
    val udaf = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).bitwiseAND(lit(0xFFFFFFFFL)).as("u"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(k - 1)),
          i => pmod(element_at(aLit, i + 1) * col("u") + element_at(bLit, i + 1), lit(p)))
          .as("hs"))
      .groupBy("doc_id")
      .agg(ReferenceAggregators.elementwiseMin(k)(col("hs")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(native == udaf)
  }
}
