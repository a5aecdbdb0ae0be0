package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{SimilarityOps, Tables}
import graft.functions.ReferenceAggregators

/** Verifies the similarity-search surface promised at
  * SimilarityOps.scala: the IVF approximate path is measured against
  * the brute-force exact baseline (recall@k), and the element-wise
  * UDAFs that power the sketch operators aggregate correctly with
  * map-side partial aggregation.
  */
class SimilarityOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("brute-force cosine top-k is k rows per query, cosine in [-1,1]") {
    val r = SimilarityOps.s_cosine_topk(spark, sf)
    val perQuery = r.groupBy("qid").count().collect()
    assert(perQuery.nonEmpty)
    assert(perQuery.forall(_.getLong(1) == 5L))
    val bounds = r.agg(min("cos_e6"), max("cos_e6")).head()
    assert(bounds.getLong(0) >= -1000000L && bounds.getLong(1) <= 1000000L)
  }

  test("IVF recall@5 rises with nprobe and reaches 0.9 at nprobe=5") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = SimilarityOps.s_cosine_topk(spark, sf).select(col("qid"), col("cid"))
    val nExact = exact.count()
    assert(nExact > 0)
    val recalls = Seq(1, 2, 5).map { np =>
      val approx = SimilarityOps.ivfTopK(e, cands, queries, k = 5, nprobe = np)
        .select(col("qid"), col("cid"))
      val hit = approx.join(exact, Seq("qid", "cid"), "left_semi").count()
      np -> hit.toDouble / nExact
    }
    info(s"recall@5 by nprobe: ${recalls.map { case (n, r) => s"$n -> $r" }.mkString(", ")}")
    // curve must be monotone non-decreasing in nprobe…
    recalls.sliding(2).foreach {
      case Seq((_, a), (_, b)) => assert(b >= a, s"recall curve not monotone: $recalls")
      case _ =>
    }
    // …and probing half the cells must recover at least 90 % of the
    // exact answer (the recall/nprobe knob documented in SCALING.md).
    assert(recalls.toMap.apply(5) >= 0.9, s"recall curve: $recalls")
  }

  test("capped KMeans fit (fitCap below corpus size) still meets the recall floor, memoizes per cap") {
    // fitCap is the 100 TB dial: the quantizer trains on a
    // hash-deterministic subsample instead of streaming the full
    // embedding table through the fit. Cap BELOW the 500-vector
    // fixture so the Bernoulli filter path actually runs, then assert
    // the capped quantizer's IVF still clears the same recall witness
    // floor as the uncapped fit (round-13 verdict watch item / item 8).
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = SimilarityOps.s_cosine_topk(spark, sf).select(col("qid"), col("cid"))
    val before = SimilarityOps.kmeansTrainCount.get()
    val approx = SimilarityOps.ivfTopK(e, cands, queries, k = 5, nprobe = 5,
      fitCap = 256L).select(col("qid"), col("cid"))
    val flag = SimilarityOps.recallWitness(exact, approx).head()
    assert(flag.getLong(0) > 0)
    assert(flag.getBoolean(1), "capped fit broke the recall floor")
    val after = SimilarityOps.kmeansTrainCount.get()
    assert(after >= before + 1, "capped fit should be a distinct trained artifact")
    // same (dataset, cap) re-serves from the memo: zero retraining
    SimilarityOps.ivfTopK(e, cands, queries, k = 5, nprobe = 5, fitCap = 256L)
      .write.mode("overwrite").format("noop").save()
    assert(SimilarityOps.kmeansTrainCount.get() == after)
  }

  test("served ANN nprobe dial: recall green at two widths, probed cells grow with nprobe") {
    import graft.ops.AnnIndexStore
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = SimilarityOps.bruteForceTopK(queries, cands, k = 5)
      .select(col("qid"), col("cid"))
    val nExact = exact.count()
    val dir = graft.ops.SimilarityOps.persistedIndexDir(spark, sf)
    val m = AnnIndexStore.open(dir)
    // the serving dial at two widths on the PERSISTED path (the
    // in-session curve above covers ivfTopK): recall green at both,
    // and the wide serve must actually read more cells — the cost
    // side of the dial SCALING.md's ×20 curve quantifies
    def servedAt(np: Int) =
      AnnIndexStore.topK(spark, dir, m, queries, k = 5, nprobe = np)
    val recalls = Seq(2, 5).map { np =>
      val hit = servedAt(np).select(col("qid"), col("cid"))
        .join(exact, Seq("qid", "cid"), "left_semi").count()
      np -> hit.toDouble / nExact
    }.toMap
    info(s"served recall@5: $recalls")
    // measured at sf0.001: 0.625 / 0.95 — the narrow width genuinely
    // trades recall for probed cells (the gap IS the dial)
    assert(recalls(2) >= 0.6, s"recall at nprobe=2: $recalls")
    assert(recalls(5) >= 0.9, s"recall at nprobe=5: $recalls")
    assert(recalls(5) > recalls(2), s"dial has no recall side: $recalls")
    def cellsRead(np: Int) = servedAt(np).inputFiles
      .flatMap(_.split('/').find(_.matches("c\\d+"))).distinct.length
    assert(cellsRead(5) > cellsRead(2),
      "wider nprobe must probe more persisted cells")
  }

  private def ivfRaw = {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    SimilarityOps.ivfTopK(e, cands, queries, k = 5, nprobe = 5)
  }

  test("IVF path is unsupervised: no label column anywhere in the plan") {
    val plan = ivfRaw.queryExecution.executedPlan.toString
    assert(!plan.contains("label"), s"IVF must not read the label column:\n$plan")
  }

  test("IVF probes buckets, not all pairs: each query scores <= nprobe buckets") {
    val buckets = ivfRaw.groupBy("qid").agg(countDistinct("cent").as("nb")).collect()
    assert(buckets.forall(_.getLong(1) <= 5L))
  }

  test("IVF bound-witness query emits the exact top-k size and an all-true recall flag") {
    val r = SimilarityOps.s_ann_ivf(spark, sf).head()
    assert(r.getLong(0) == SimilarityOps.s_cosine_topk(spark, sf).count())
    assert(r.getBoolean(1), "recall_ge_90 flag must hold on the fixture")
  }

  test("elementwiseMin UDAF computes per-group element-wise minimum") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(5L, 1L, 9L)),
      ("a", Seq(3L, 7L, 2L)),
      ("b", Seq(10L, 10L, 10L))
    ).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(ReferenceAggregators.elementwiseMin(3)(col("v")).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("a") == Seq(3L, 1L, 2L))
    assert(out("b") == Seq(10L, 10L, 10L))
  }

  test("elementwiseSum UDAF computes per-group element-wise sum") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(1L, -1L)),
      ("a", Seq(2L, -2L)),
      ("a", Seq(3L, -3L))
    ).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(ReferenceAggregators.elementwiseSum(2)(col("v")).as("s"))
      .head().getSeq[Long](1)
    assert(out == Seq(6L, -6L))
  }

  test("embeddings fixture has the declared shape") {
    val e = Tables.embeddings(spark, sf)
    val dims = e.select(size(col("embedding")).as("d")).distinct().collect()
    assert(dims.map(_.getInt(0)).toSeq == Seq(SimilarityOps.Dim))
  }

  test("int8 quantization: codes bounded, reconstruction error under 1% per cosine") {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, sf).select(col("vec_id").as("cid"),
      col("embedding").as("ce"))
    val q = SimilarityOps.withInt8(e, "ce", "c")
    // codes are genuine int8: every element in [-127, 127]
    val outOfRange = q.select(explode(col("c_q")).as("v"))
      .filter(col("v") > 127 || col("v") < -127).count()
    assert(outOfRange == 0)
    // asymmetric reconstruction: dot(x, q)*scale within 1% of dot(x, x-float)
    val err = q
      .withColumn("exact", dot(col("ce"), col("ce")))
      .withColumn("approx", dot(col("ce"), col("c_q")) * col("c_scale"))
      .select(max(abs(col("approx") - col("exact")) / abs(col("exact"))).as("rel"))
      .head.getDouble(0)
    assert(err < 0.01, s"quantization relative error $err")
  }

  test("quantized ANN witness: recall flag true and exact count matches brute force") {
    val row = SimilarityOps.s_ann_quantized(spark, sf).head
    val nExact = SimilarityOps.s_cosine_topk(spark, sf).count()
    assert(row.getLong(0) == nExact)
    assert(row.getBoolean(1), "int8 preselection + float re-rank must keep recall@5 >= 0.9")
  }

  test("trained-artifact memo key distinguishes same-schema datasets (stale-centroid regression)") {
    val e1 = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val e2 = Tables.embeddings(spark, "/root/testdata/sf0.01")
    // the canonicalized plan string alone is identical for two parquet
    // dirs with the same schema — the hole that let one SF's codebooks
    // silently serve another SF in the same session
    assert(e1.queryExecution.analyzed.canonicalized.toString ==
      e2.queryExecution.analyzed.canonicalized.toString)
    assert(SimilarityOps.datasetKey(e1) != SimilarityOps.datasetKey(e2))
  }

  test("pq encode expression matches a driver-side replay and handles nulls") {
    import spark.implicits._
    // tiny deterministic codebooks: 2 subspaces x 3 entries x 2 dims
    val books: Seq[Seq[(Int, Array[Double])]] = Seq(
      Seq(0 -> Array(0.0, 0.0), 1 -> Array(1.0, 1.0), 2 -> Array(2.0, 2.0)),
      Seq(0 -> Array(0.0, 1.0), 1 -> Array(1.0, 0.0), 2 -> Array(5.0, 5.0)))
    val vecs = Seq(
      Seq(0.1f, 0.2f, 0.9f, 0.1f),   // sub0 -> 0, sub1 -> 1
      Seq(1.2f, 0.8f, 4.0f, 4.9f),   // sub0 -> 1, sub1 -> 2
      Seq(0.5f, 0.5f, 0.5f, 0.5f))   // sub0 tie 0-vs-1 at d=0.5 -> 0 (lower id)
    val got = vecs.toDF("v")
      .select(graft.functions.PqEncode.pqEncode(col("v"), books).as("c"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(got.toSeq == Seq(Seq(0, 1), Seq(1, 2), Seq(0, 0)))
    // short vector -> null, not a wrong code
    val shortRow = Seq(Seq(1.0f)).toDF("v")
      .select(graft.functions.PqEncode.pqEncode(col("v"), books).as("c"))
      .collect()
    assert(shortRow.head.isNullAt(0))
  }

  test("pq ann witness: 8-bit PQ ADC preselection + float re-rank keeps recall@5 >= 0.9") {
    val row = SimilarityOps.s_ann_pq(spark, sf).head
    val nExact = SimilarityOps.s_cosine_topk(spark, sf).count()
    assert(row.getLong(0) == nExact)
    assert(row.getBoolean(1), "PQ preselection + float re-rank must keep recall@5 >= 0.9")
  }

  test("salted IVF returns exactly the unsalted results (salting only repartitions)") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    def rows(salt: Int) =
      SimilarityOps.ivfTopK(e, cands, queries, k = 5, nprobe = 5, saltFactor = salt)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(4) == rows(1))
  }

  test("salted IVF witness query emits the exact top-k size and an all-true recall flag") {
    val r = SimilarityOps.s_ann_ivf_salted(spark, sf).head()
    assert(r.getLong(0) == SimilarityOps.s_cosine_topk(spark, sf).count())
    assert(r.getBoolean(1), "recall_ge_90 flag must hold with the salted join")
  }

  test("celebrity cell: salting splits the hot cell's join groups, recall unchanged") {
    // plant a 30% celebrity cluster: vec_id % 10 < 3 collapses to a
    // tight blob around vector 0 (1% residual of the original vector
    // keeps rows distinct), so one coarse cell holds ~30% of the corpus
    val e = Tables.embeddings(spark, sf)
    val celeb = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val skewed = e.withColumn("embedding",
      when(col("vec_id") % 10 < 3,
        zip_with(typedLit(celeb), col("embedding"),
          (c, x) => (c + x * lit(0.01)).cast("float")))
        .otherwise(col("embedding")))
    val cents = SimilarityOps.kmeansCentroids(skewed, SimilarityOps.NumCentroids)
    val cands = skewed.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val queries = skewed.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // the skew is real: the hottest cell holds >= 20% of all postings
    // (the 30% vector plant dilutes to ~23% of POSTINGS because each
    // candidate posts to CandAssign=2 cells and the blob's second-
    // nearest assignments spread)
    val assigned = SimilarityOps.assignNearest(cands, cents, "ce", "cent", SimilarityOps.CandAssign)
    val cellCounts = assigned.groupBy("cent").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hot = cellCounts.values.max
    assert(hot.toDouble / cellCounts.values.sum >= 0.2,
      s"celebrity plant failed to concentrate: $cellCounts")
    // salting splits it: max (cent, salt) group is a fraction of the hot cell
    val saltF = 4
    val saltedCounts = assigned
      .withColumn("salt", pmod(xxhash64(col("cid")), lit(saltF.toLong)).cast("int"))
      .groupBy("cent", "salt").count().collect().map(_.getLong(2))
    assert(saltedCounts.max <= hot / 2,
      s"salting must split the hot cell: max salted group ${saltedCounts.max} vs hot $hot")
    // the salted plan physically partitions the bucket join on (cent, salt)
    val salted = SimilarityOps.ivfTopK(skewed, cands, queries, k = 5, nprobe = 5,
      saltFactor = saltF)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("salt"), s"salted join key missing from plan:\n$plan")
    // results identical to unsalted on the skewed corpus...
    val unsalted = SimilarityOps.ivfTopK(skewed, cands, queries, k = 5, nprobe = 5)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(key(salted) == key(unsalted))
    // ...and recall@5 vs brute force on the skewed corpus still >= 0.9
    val exact = SimilarityOps.bruteForceTopK(queries, cands, k = 5)
      .select(col("qid"), col("cid"))
    val nExact = exact.count()
    val hit = salted.select(col("qid"), col("cid"))
      .join(exact, Seq("qid", "cid"), "left_semi").count()
    assert(hit.toDouble / nExact >= 0.9,
      s"salted recall ${hit.toDouble / nExact} on celebrity corpus")
  }

  test("ivf delta maintenance: incremental == full rebuild, state read partition-pruned") {
    val run = SimilarityOps.ivfDeltaRun(spark, sf)
    val r = run.result.head()
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    val nUpd = e.filter(col("vec_id") % SimilarityOps.DeltaUpdateMod === 0).count()
    val nIns = e.filter(col("vec_id") % SimilarityOps.DeltaInsertMod === 0).count()
    val nDel = e.filter(col("vec_id") % SimilarityOps.DeltaDeleteMod === 0 &&
      col("vec_id") % SimilarityOps.DeltaUpdateMod =!= 0).count()
    assert(r.getLong(0) == SimilarityOps.CandAssign * n)
    assert(r.getLong(1) == nUpd && nUpd > 0)
    assert(r.getLong(2) == nIns && nIns > 0)
    assert(r.getLong(3) == nDel && nDel > 0,
      "the delta batch must exercise the delete op")
    assert(r.getLong(4) == SimilarityOps.CandAssign * (n + nIns - nDel))
    assert(r.getBoolean(5), "incrementally-maintained index must equal a full rebuild")
    // the merge read touched ONLY the affected cells — every read path
    // is one of the affected cells' manifest entries, and no unaffected
    // cell's dir appears (manifest pruning is the path list itself)
    assert(run.affected.nonEmpty &&
      run.affected.forall(c => c >= 0 && c < SimilarityOps.NumCentroids))
    assert(run.readPaths.nonEmpty)
    val affectedDirs = run.affected.map(c => s"/c$c/").toSet
    assert(run.readPaths.forall(p => affectedDirs.exists(p.contains)),
      s"merge read outside affected cells: ${run.readPaths}")
    // durable-store time travel: the pre-delta epoch 0 snapshot is
    // still retained alongside the committed epoch 1
    assert(run.epochs == Seq(0L, 1L), s"retained epochs ${run.epochs}")
  }

  test("gram matrix: matches driver-side integer replay, full upper triangle") {
    val d = SimilarityOps.Dim
    val got = SimilarityOps.s_gram_matrix(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    assert(got.length == d * (d + 1) / 2)
    val vecs = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 64).toLong).toArray)
    val acc = scala.collection.mutable.Map.empty[(Int, Int), Long]
    for (q <- vecs; i <- 0 until d; j <- i until d)
      acc((i, j)) = acc.getOrElse((i, j), 0L) + q(i) * q(j)
    assert(got.toSeq == acc.toSeq.sortBy(_._1))
    // diagonal entries are sums of squares: strictly positive here
    assert(got.filter(t => t._1._1 == t._1._2).forall(_._2 > 0L))
  }

  test("LSH ANN: recall@5 >= 0.9, candidate set is a strict subset of all pairs") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = SimilarityOps.s_cosine_topk(spark, sf).select(col("qid"), col("cid"))
    val nExact = exact.count()
    val approx = SimilarityOps.lshTopK(cands, queries, k = 5)
    val hit = approx.select(col("qid"), col("cid"))
      .join(exact, Seq("qid", "cid"), "left_semi").count()
    val recall = hit.toDouble / nExact
    info(f"LSH recall@5 = $recall%.3f")
    assert(recall >= 0.9, f"LSH recall@5 $recall%.3f below the 0.9 witness floor")
    // pruning witness: the banded join must examine strictly fewer
    // pairs than brute force (otherwise it IS brute force)
    val planes = SimilarityOps.lshPlanes(
      SimilarityOps.LshBands * SimilarityOps.LshRowsPerBand)
    val nPairs = SimilarityOps.lshBandKeys(cands, "ce", planes)
      .join(SimilarityOps.lshBandKeys(queries, "qe", planes), Seq("band", "sig"))
      .select(col("qid"), col("cid")).distinct().count()
    val allPairs = queries.count() * cands.count()
    info(f"LSH candidate pairs: $nPairs of $allPairs (${nPairs.toDouble / allPairs}%.3f)")
    assert(nPairs < allPairs, "LSH candidate set must prune the pair space")
  }

  test("LSH planes are deterministic, in [-1,1], and sign-balanced") {
    val p1 = SimilarityOps.lshPlanes(16)
    val p2 = SimilarityOps.lshPlanes(16)
    assert(p1.map(_.toSeq) == p2.map(_.toSeq))
    val all = p1.flatten
    assert(all.forall(x => x >= -1.0 && x < 1.0))
    val pos = all.count(_ >= 0).toDouble / all.length
    assert(pos > 0.4 && pos < 0.6, s"hyperplane signs skewed: $pos positive")
  }

  test("lshBandKeys drops a vector with a null element (and a null vector) instead of emitting null sigs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val planes = SimilarityOps.lshPlanes(SimilarityOps.LshBands * SimilarityOps.LshRowsPerBand)
    val dim = planes.head.length
    val ok: Seq[Any] = Seq.tabulate(dim)(i => (i + 1).toDouble)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, ok), Row(2L, ok.updated(dim / 2, null)), Row(3L, null)), schema)
    val keys = SimilarityOps.lshBandKeys(df, "v", planes)
    val perId = keys.groupBy(col("id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perId == Map(1L -> SimilarityOps.LshBands.toLong),
      s"only the all-non-null vector may yield band keys, got $perId")
    assert(keys.filter(col("sig").isNull).isEmpty)
  }

  test("LSH bound-witness query emits the exact top-k size and an all-true recall flag") {
    val r = SimilarityOps.s_ann_lsh(spark, sf).head()
    assert(r.getAs[Long]("n_exact") > 0)
    assert(r.getAs[Boolean]("recall_ge_90"))
  }

  test("filtered ANN: every result honors the label filter; wider probes close the recall gap") {
    val e = Tables.embeddings(spark, sf)
    val q = SimilarityOps.filteredQuerySide(e)
    val c = SimilarityOps.filteredCandSide(e)
    val labels = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = SimilarityOps.bruteForceFilteredTopK(q, c, 5)
    // the filter holds on every exact pair…
    exact.collect().foreach { r =>
      assert(labels(r.getAs[Long]("qid")) == labels(r.getAs[Long]("cid")),
        s"exact pair crosses labels: $r")
    }
    // …and on every IVF pair
    val approxWide = SimilarityOps.ivfFilteredTopK(e, c, q, 5, SimilarityOps.FilteredNprobe)
    approxWide.collect().foreach { r =>
      assert(labels(r.getAs[Long]("qid")) == labels(r.getAs[Long]("cid")),
        s"IVF pair crosses labels: $r")
    }
    // the filter is non-vacuous: filtered exact differs from unfiltered
    val unfiltered = SimilarityOps.s_cosine_topk(spark, sf).select(col("qid"), col("cid"))
    val exactPairs = exact.select(col("qid"), col("cid"))
    assert(exactPairs.exceptAll(unfiltered).count() > 0,
      "label filter changed nothing — the witness would be vacuous")
    // recall monotone in probe width, and >= 0.9 at FilteredNprobe —
    // the selectivity→probe-width dial the doc comment sells
    val nExact = exactPairs.count()
    val recalls = Seq(5, SimilarityOps.FilteredNprobe).map { np =>
      val hit = SimilarityOps.ivfFilteredTopK(e, c, q, 5, np)
        .select(col("qid"), col("cid"))
        .join(exactPairs, Seq("qid", "cid"), "left_semi").count()
      np -> hit.toDouble / nExact
    }
    info(s"filtered recall@5 by nprobe: ${recalls.mkString(", ")}")
    assert(recalls.last._2 >= recalls.head._2, s"recall not monotone: $recalls")
    assert(recalls.last._2 >= 0.9, s"filtered recall floor broken: $recalls")
  }

  test("filtered ANN witness: exact count present and recall flag true") {
    val r = SimilarityOps.s_ann_filtered(spark, sf).head()
    assert(r.getAs[Long]("n_exact") > 0)
    assert(r.getAs[Boolean]("recall_ge_90"))
  }

  test("hybrid RRF: fused scores recompute from the emitted ranks; both legs contribute") {
    val rows = SimilarityOps.s_hybrid_rrf(spark, sf).collect()
    assert(rows.length == 10, s"expected HybridTopK rows, got ${rows.length}")
    rows.foreach { r =>
      val (rb, rv) = (r.getAs[Int]("r_bm25"), r.getAs[Int]("r_vec"))
      assert(rb >= 0 && rb <= 20 && rv >= 0 && rv <= 20, s"rank out of list depth: $r")
      assert(rb > 0 || rv > 0, s"doc retrieved by neither leg: $r")
      // rrf_e12 is a pure function of the two ranks (0 = absent leg)
      val expect = (if (rb > 0) 1000000000000L / (60L + rb) else 0L) +
        (if (rv > 0) 1000000000000L / (60L + rv) else 0L)
      assert(r.getAs[Long]("rrf_e12") == expect, s"fused score drifted: $r")
    }
    // the fusion is genuinely hybrid: at least one doc from each leg
    assert(rows.exists(_.getAs[Int]("r_bm25") > 0), "no BM25-leg doc survived fusion")
    assert(rows.exists(_.getAs[Int]("r_vec") > 0), "no vector-leg doc survived fusion")
    // RRF's defining property: a doc retrieved by BOTH legs clears the
    // two-leg floor 2·⌊10¹²/80⌋ (both at worst rank 20), which already
    // beats the best possible single-leg score ⌊10¹²/61⌋
    rows.filter(r => r.getAs[Int]("r_bm25") > 0 && r.getAs[Int]("r_vec") > 0)
      .foreach { r =>
        assert(r.getAs[Long]("rrf_e12") >= 2L * (1000000000000L / 80L),
          s"both-legs doc scored below the two-leg floor: $r")
      }
  }

  test("served hybrid: BM25 leg from the text index is EXACTLY the in-session leg; witness green") {
    import graft.ops.{Tables, TextIndexStore}
    // the text-index BM25 scores over the candidate corpus must equal
    // the from-scratch pipeline's — the served fusion's only
    // approximation is the ANN leg
    val tDir = SimilarityOps.candTextIndexDir(spark, sf)
    val served = TextIndexStore.bm25Scores(spark, tDir, TextIndexStore.open(tDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val e = Tables.embeddings(spark, sf)
    val corpus = Tables.documents(spark, sf)
      .join(e.filter(col("vec_id") >= 8).select(col("vec_id").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    val direct = graft.ops.TextOps.bm25Scores(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == direct, "served BM25 leg drifted from the corpus pipeline")
    // and the registered witness holds
    val w = SimilarityOps.s_hybrid_served(spark, sf).head()
    assert(w.getAs[Long]("n_exact") == 10L)
    assert(w.getAs[Boolean]("overlap_ge_90"))
  }

  test("MMR: relevance-first, contiguous dedup'd ranks, and genuine diversification") {
    val mmr = SimilarityOps.s_ann_mmr(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    val top5 = SimilarityOps.s_cosine_topk(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    assert(mmr.keySet == top5.keySet)
    mmr.foreach { case (qid, rows) =>
      // ranks 1..5, no repeated candidate
      assert(rows.map(_.getInt(1)).toSeq == (1 to rows.length), s"q$qid ranks not contiguous")
      val picked = rows.map(_.getLong(2))
      assert(picked.distinct.length == picked.length, s"q$qid picked a candidate twice")
      // the first pick is the pure-relevance top-1 (λ has no penalty yet)
      assert(picked.head == top5(qid).head.getLong(2),
        s"q$qid first MMR pick must be the relevance top-1")
    }
    // λ = 0.7 must actually trade relevance for diversity somewhere —
    // if MMR always returned the plain top-5 the operator is vacuous
    val diverged = mmr.keys.count(q =>
      mmr(q).map(_.getLong(2)).toSeq != top5(q).map(_.getLong(2)).toSeq)
    assert(diverged > 0, "MMR never diverged from the plain top-5 — vacuous diversification")
  }

  test("maxsim: 5 per query from the 20-pool, scores replay, reorder is real") {
    val rows = SimilarityOps.s_maxsim(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).toSeq == (1 to 5), s"q$qid maxsim ranks not 1..5")
      // every result came from the stage-1 pool, and maxsim is
      // monotone non-increasing down the emitted ranking
      assert(rs.forall(r => r.getInt(4) >= 1 && r.getInt(4) <= 20),
        s"q$qid pool_rk outside the 20-pool")
      val scores = rs.map(_.getLong(3)).toSeq
      assert(scores == scores.sorted.reverse, s"q$qid maxsim not sorted desc")
      // each sub-cosine is in [-1e6, 1e6], so 4 of them bound the sum
      assert(scores.forall(s => s >= -4000000L && s <= 4000000L))
    }
    // driver-side replay of one (query, candidate) maxsim from raw
    // vectors — pins the slice/round/max/sum arithmetic independently
    val e = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val probe = rows.head
    val (qe, ce) = (e(probe.getLong(0)), e(probe.getLong(2)))
    def cosE6(a: Array[Float], oa: Int, b: Array[Float], ob: Int, n: Int): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until n).foreach { k =>
        dot += a(oa + k).toDouble * b(ob + k).toDouble
        na += a(oa + k).toDouble * a(oa + k).toDouble
        nb += b(ob + k).toDouble * b(ob + k).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val expect = (0 until 4).map { i =>
      (0 until 4).map(j => cosE6(qe, i * 16, ce, j * 16, 16)).max
    }.sum
    assert(probe.getLong(3) == expect,
      s"maxsim_e6 ${probe.getLong(3)} != driver replay $expect")
    // late interaction must actually REORDER the pool somewhere —
    // if maxsim always agreed with single-vector cosine it is vacuous
    val reordered = byQ.keys.count { q =>
      byQ(q).map(_.getInt(4)).toSeq != byQ(q).map(_.getInt(4)).toSeq.sorted
    }
    assert(reordered > 0, "maxsim never reordered the cosine pool — vacuous rerank")
  }

  test("served maxsim: witness counts the full exact set and the overlap flag is green") {
    val row = SimilarityOps.s_maxsim_served(spark, sf).head
    assert(row.getLong(0) == 40L, s"exact side must hold 8×5 rows, got ${row.getLong(0)}")
    assert(row.getBoolean(1), "served maxsim top-5 overlap fell below 80%")
  }

  test("localLloyd: deterministic, caps k at distinct rows, reduces distortion over its init") {
    def v(xs: Double*): Array[Double] = xs.toArray
    val data = (0 until 400).map { i =>
      val c = i % 4 // four well-separated blobs with deterministic jitter
      v(c * 10.0 + (i % 7) * 0.1, c * -10.0 + (i % 5) * 0.1)
    }.toArray
    val a = SimilarityOps.localLloyd(data, 4, rounds = 10)
    val b = SimilarityOps.localLloyd(data.map(_.clone()), 4, rounds = 10)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "must be deterministic")
    def distortion(cents: Array[Array[Double]]): Double = data.map { p =>
      cents.map(c => c.zip(p).map { case (x, y) => (x - y) * (x - y) }.sum).min
    }.sum
    val init = data.distinct.take(4) // the fit's own init
    assert(distortion(a) < distortion(init) * 0.9,
      "10 Lloyd rounds must improve on the raw init")
    // k beyond the distinct-row count: returns what the data has
    val tiny = SimilarityOps.localLloyd(Array(v(1, 1), v(1, 1), v(2, 2)), 5, 3)
    assert(tiny.length == 2)
    assert(SimilarityOps.localLloyd(Array.empty, 3, 3).isEmpty)
  }

  test("hierarchicalCentroids above HierFitK: dense ids, <= k centroids, beats the coarse-only codebook") {
    val s = spark
    // 16k synthetic vectors in 8 dims, clustered enough to quantize
    val e = s.range(0, 16384, 1, 8).select(
      transform(sequence(lit(0), lit(7)),
        j => round(sin(col("id") % 97 * (j + lit(1.3))) * 50) / 10
          + sin(col("id") * (j + lit(0.7))) * 0.3)
        .cast("array<double>").as("embedding"))
      .localCheckpoint()
    val k = SimilarityOps.HierFitK + 1000 // force the two-level path
    val cents = SimilarityOps.kmeansCentroids(e, k, seed = 11L)
    assert(cents.size <= k, s"must never exceed k, got ${cents.size}")
    assert(cents.size > k / 2, s"most of the quota should fill, got ${cents.size}")
    assert(cents.map(_._1) == cents.indices, "ids must be dense 0..m-1")
    // quality bar: the k1·k2 codebook must quantize strictly better
    // than its own coarse level alone (the two-level split must add
    // real resolution, not just re-label the coarse cells)
    val k1 = math.round(math.sqrt(k.toDouble)).toInt
    val coarse = SimilarityOps.kmeansCentroids(e, k1, seed = 11L)
    def distortion(cs: Seq[(Int, Array[Double])]): Double = {
      val arr = cs.map(_._2).toArray
      e.collect().map { r =>
        val p = r.getSeq[Double](0).toArray
        arr.map(c => c.zip(p).map { case (x, y) => (x - y) * (x - y) }.sum).min
      }.sum
    }
    val dH = distortion(cents)
    val dC = distortion(coarse)
    assert(dH < dC * 0.5,
      f"two-level codebook must beat coarse-only: hier=$dH%.1f coarse=$dC%.1f")
  }
}
