package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.GraftColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL registration of the library's native Catalyst expressions, so
  * `spark.sql("SELECT graft_jaro_winkler(a, b) …")` works exactly like
  * the Column API — the missing half of the custom-expression surface
  * (the Column entry points have existed since each expression landed;
  * a SQL-first user had no path to them).
  *
  * Two registration routes, same entries:
  *   - config: `spark.sql.extensions=graft.plans.GraftSparkExtensions`
  *     injects them at session build (cluster deployment), alongside
  *     the binned-range-join optimizer rule.
  *   - runtime: [[register]] adds them to an already-built session's
  *     function registry (the same already-built-session seam the
  *     optimizer rule uses via `experimental.extraOptimizations`).
  *
  * Config-style arguments (shingle width, rolling-hash window/base/
  * modulus) must be foldable INTEGER/BIGINT literals — they become
  * constructor parameters of codegen'd expressions, not runtime
  * columns, exactly like the precision argument of
  * `approx_count_distinct`. Non-literal arguments fail analysis with a
  * pointed message. The minhash signature deliberately takes NO
  * coefficient arguments: it always uses the library's canonical
  * 64-hash family ([[MinHashSignature.stdA]]), so a signature computed
  * in SQL buckets identically to the dedup pipeline's and the durable
  * index's.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  private def litInt(fn: String, args: Seq[Expression], i: Int): Int =
    args(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an INTEGER literal, got $other")
    }

  private def litLong(fn: String, args: Seq[Expression], i: Int): Long =
    args(i) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an INTEGER or BIGINT literal, got $other")
    }

  private def entry(name: String, usage: String)(b: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftFunctions.type].getName, null, name, usage, ""),
      b)

  /** Every registered function: (identifier, catalog info, builder). */
  val entries: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    entry("graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity of two strings in [0, 1]") { args =>
      arity("graft_jaro_winkler", args, 2)
      JaroWinkler(args(0), args(1))
    },
    entry("graft_dot_product",
      "graft_dot_product(a, b) - dot product of two numeric arrays as DOUBLE") { args =>
      arity("graft_dot_product", args, 2)
      DotProduct(args(0), args(1))
    },
    entry("graft_word_shingles",
      "graft_word_shingles(text, n) - distinct n-word shingles (n an INTEGER literal)") { args =>
      arity("graft_word_shingles", args, 2)
      WordShingles(args(0), litInt("graft_word_shingles", args, 1))
    },
    entry("graft_rolling_hashes",
      "graft_rolling_hashes(text, k, base, mod) - Karp-Rabin hashes of every k-byte " +
        "window (k/base/mod integer literals)") { args =>
      arity("graft_rolling_hashes", args, 4)
      RollingHashes(args(0), litInt("graft_rolling_hashes", args, 1),
        litLong("graft_rolling_hashes", args, 2), litLong("graft_rolling_hashes", args, 3))
    },
    entry("graft_minhash_signature",
      "graft_minhash_signature(shingles) - 64-component MinHash signature under the " +
        "library's canonical hash family") { args =>
      arity("graft_minhash_signature", args, 1)
      MinHashSignature(args(0), MinHashSignature.stdA, MinHashSignature.stdB,
        MinHashSignature.StdP)
    },
  )

  /** Runtime registration on an already-built session (idempotent —
    * re-registering replaces the same entries). */
  def register(s: SparkSession): Unit =
    entries.foreach { case (id, info, b) =>
      GraftColumnBridge.registerFunction(s, id, info, b)
    }
}
