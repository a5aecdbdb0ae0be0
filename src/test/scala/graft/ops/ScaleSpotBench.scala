package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 sf1 spot-bench (round-16 verdict item 9): sf0.1 cannot
  * distinguish serial operators from overhead-bound ones (the driver's
  * 8-core suite total ≈ its 32-core total), so this tool synthesizes a
  * ×10 "sf1" fixture and times the slowest bench lines at a chosen
  * core count. STRICTLY test-scope diagnostics — never in the
  * driver-timed path, and the synthetic fixture is NOT oracle-checked
  * (correctness stays pinned at the real SFs).
  *
  * Scaling model: 10 key-shifted copies of every sf0.1 table — 10
  * independent shards of the original corpus. Join keys shift
  * together, so per-copy join/group cardinalities are exactly
  * sf0.1's; global cardinalities are ×10. Text gets a per-copy word
  * suffix (distinct shingle spaces per copy — clones would otherwise
  * be instant cross-copy exact dups, a pathology, not a workload);
  * embeddings get a tiny per-copy additive perturbation (distinct
  * hash/cell geometry per copy); ANN/text query sides stay copy-0
  * (corpora grow, query sets don't).
  *
  * Run:  SPARK_GRAFT_CPUS=32 tools/run_main.sh -t graft.ops.ScaleSpotBench [query ...]
  */
object ScaleSpotBench {
  private val Copies = 10

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val dst = s"${System.getProperty("java.io.tmpdir")}/graft_sf1_x$Copies"
    buildIfMissing(spark, src, dst)

    val queries =
      if (args.nonEmpty) args.toSeq
      else Seq(
        "st_stream_outer_join", "st_upsert_evolve", "st_upsert",
        "d_dedup_simhash", "st_compact", "s_ann_lsh", "st_dedup",
        "st_scd_join", "t_trigram_search", "s_ivf_delta",
        "q1_pricing_summary", "q_hll_rollup", "d_ngram_jaccard",
        "p_host_rank", "s_gram_matrix", "q_approx_percentile")
    queries.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dst).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"#SF1# cpus=$cpus%s $name%-24s best=${runs.min}%7.3f  runs=${runs.map(r => f"$r%.3f").mkString(",")}")
    }
    spark.stop()
  }

  private def buildIfMissing(s: SparkSession, src: String, dst: String): Unit = {
    val done = new java.io.File(s"$dst/_DONE")
    if (done.exists()) return
    println(s"#SF1# building x$Copies fixture under $dst")
    new java.io.File(dst).mkdirs()
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(k => shift(df, k)).reduce(_ unionByName _)

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    val t0 = System.nanoTime()
    val li = s.read.parquet(s"$src/lineitem.parquet")
    val ord = s.read.parquet(s"$src/orders.parquet")
    val cust = s.read.parquet(s"$src/customer.parquet")
    val part = s.read.parquet(s"$src/part.parquet")
    val supp = s.read.parquet(s"$src/supplier.parquet")
    val ev = s.read.parquet(s"$src/events.parquet")
    val docs = s.read.parquet(s"$src/documents.parquet")
    val emb = s.read.parquet(s"$src/embeddings.parquet")
    val (mo, mc, mp, ms, me, md, mv) =
      (maxOf(li, "l_orderkey"), maxOf(cust, "c_custkey"), maxOf(part, "p_partkey"),
       maxOf(supp, "s_suppkey"), maxOf(ev, "event_id"), maxOf(docs, "doc_id"),
       maxOf(emb, "vec_id"))
    val mu = ev.agg(max(col("user_id"))).head().getLong(0) + 1

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"#SF1# wrote $name")
    }
    // dimensions shared across copies
    s.read.parquet(s"$src/region.parquet").write.mode("overwrite").parquet(s"$dst/region.parquet")
    s.read.parquet(s"$src/nation.parquet").write.mode("overwrite").parquet(s"$dst/nation.parquet")
    write("customer", copies(cust)((d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * mc))))
    write("part", copies(part)((d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * mp))))
    write("supplier", copies(supp)((d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * ms))
        .withColumn("s_name", concat(col("s_name"), lit(f"#C$k%d")))))
    write("orders", copies(ord)((d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * mo))
        .withColumn("o_custkey", col("o_custkey") + lit(k * mc))))
    write("lineitem", copies(li)((d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * mo))
        .withColumn("l_partkey", col("l_partkey") + lit(k * mp))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * ms))))
    write("events", copies(ev)((d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * me))
        .withColumn("user_id", col("user_id") + lit(k * mu))))
    write("documents", copies(docs)((d, k) =>
      d.withColumn("doc_id", col("doc_id") + lit(k * md))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"c$k"))), " "))))
    write("embeddings", copies(emb)((d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * mv))
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(k.toFloat * 1e-4f)))))
    println(f"#SF1# fixture built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    done.createNewFile(): Unit
  }
}
