package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupOpsSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exactPairs: Set[(Long, Long)] = pairSet(DedupOps.d_ngram_jaccard(spark, sf))

  test("exact dedup: src0 docs have 2 copies, everything else 1") {
    val r = DedupOps.d_dedup_exact(spark, sf)
    val src0 = Tables.documents(spark, sf).filter(col("source") === "src0").count()
    val total = Tables.documents(spark, sf).count()
    assert(r.count() == total) // one keeper per distinct content
    assert(r.filter(col("n_copies") === 2).count() == src0)
    assert(r.filter(col("n_copies") === 1).count() == total - src0)
  }

  test("ngram jaccard finds the planted near-dup pairs, all above 0.5") {
    assert(exactPairs.nonEmpty)
    val r = DedupOps.d_ngram_jaccard(spark, sf)
    assert(r.filter(col("jac_e6") < 500000L).count() == 0)
    // near-dups are planted pairs: jaccard well above threshold
    assert(r.filter(col("jac_e6") >= 900000L).count() >= (exactPairs.size * 8) / 10)
  }

  test("minhash-LSH + exact verification reproduces the exact jaccard answer") {
    val mh = pairSet(DedupOps.d_dedup_minhash(spark, sf))
    assert(mh == exactPairs)
  }

  test("incremental dedup: exactly the full-corpus pairs that straddle the batch split") {
    val inc = DedupOps.d_dedup_incremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.nonEmpty, "fixture must have near-dup pairs straddling the batch split")
    // every incremental hit pairs one new doc with one old doc
    inc.foreach { case (dn, dold) =>
      assert(dn % 5 == 4 && dold % 5 != 4, s"($dn, $dold) does not straddle the split")
    }
    // agreement with the full self-join ground truth, restricted to straddling pairs
    val straddling = exactPairs.collect {
      case (a, b) if a % 5 == 4 && b % 5 != 4 => (a, b)
      case (a, b) if b % 5 == 4 && a % 5 != 4 => (b, a)
    }
    assert(inc == straddling, s"incremental=$inc vs full-restricted=$straddling")
    // the batch index side is broadcast: the corpus index is never shuffled
    // to pair with itself
    val plan = DedupOps.d_dedup_incremental(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"batch side should broadcast:\n$plan")
  }

  test("containment finds every planted quote at cont=1.0 where jaccard would drop it") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.DedupOps.d_containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every planted quote (source's first 30 words, id+1e6) must pair
    // with its source at containment 1.0 — its shingles are a subset
    val docs = graft.ops.Tables.documents(spark, sf)
    val planted = docs.filter(col("doc_id") % 11 === 0)
      .filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairKey = got.map(p => (p._1, p._2)).toSet
    planted.foreach { id =>
      assert(pairKey.contains((id, id + 1000000L)),
        s"planted quote of doc $id not detected")
    }
    val quotePairs = got.filter(p => p._2 == p._1 + 1000000L && planted(p._1))
    quotePairs.foreach { p =>
      assert(p._3 == 1000000L, s"quote pair $p not at containment 1.0")
    }
    // the operator's reason to exist: pairs Jaccard would DROP — at
    // least one planted quote of a long doc scores jac < 0.5
    assert(quotePairs.exists(_._4 < 500000L),
      "no containment-only pair — every quote also passes Jaccard, witness vacuous")
  }

  test("minhash signatures are 64 longs and deterministic across runs") {
    val sigs = DedupOps.minhashSignatures(Tables.documents(spark, sf))
    assert(sigs.select(size(col("sig"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(64))
    val a = sigs.orderBy("doc_id").limit(5).collect().map(_.getSeq[Long](1))
    val b = DedupOps.minhashSignatures(Tables.documents(spark, sf))
      .orderBy("doc_id").limit(5).collect().map(_.getSeq[Long](1))
    assert(a.toSeq.map(_.toSeq) == b.toSeq.map(_.toSeq))
  }

  test("connected components: multi-hop chains collapse to one cluster (min label)") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 (diameter 3 → needs >1 propagation round),
    // separate pair 10-11, and 20-21-22 as a triangle
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.view.mapValues(_._1).toMap == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    assert(got.collect { case (v, (_, true)) => v }.toSet == Set(1L, 10L, 20L))
  }

  test("connected components: 64-vertex chain (diameter 63) converges to one cluster") {
    import spark.implicits._
    // A pure path graph 0-1-2-...-63. Min-label propagation moves labels
    // one hop per round, so any diameter-capped loop (the old 20-round
    // cap) returns unconverged labels here; large/small-star contraction
    // converges in O(log n) rounds independent of diameter.
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (df, rounds) = DedupOps.connectedComponentsWithRounds(pairs)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == 64)
    assert(got.forall(_._2 == 0L), s"unconverged labels: ${got.filter(_._2 != 0L).toSeq}")
    assert(got.collect { case (v, _, true) => v }.toSeq == Seq(0L))
    // the O(log n) claim, asserted directly: diameter 63 but ~log2 rounds
    assert(rounds <= 10, s"expected O(log n) convergence, took $rounds rounds")
  }

  test("connected components: 512-vertex chain converges in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    val pairs = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (df, rounds) = DedupOps.connectedComponentsWithRounds(pairs)
    assert(df.filter(col("cluster") =!= 0L).count() == 0)
    assert(rounds <= 12, s"diameter 511 must close in ~log2 rounds, took $rounds")
  }

  test("connected components match a reference union-find on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val nVerts = 30 + trial * 10
      val edges = Seq.fill(nVerts)((rng.nextInt(nVerts).toLong, rng.nextInt(nVerts).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      // min-root canonicalization: union-find roots are already min ids
      // because unions always attach the larger root under the smaller
      val got = DedupOps.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: ${edges.size} edges")
    }
  }

  test("dedup clusters cover every paired doc and respect the pair graph") {
    val clusters = DedupOps.d_dedup_clusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val paired = exactPairs.flatMap(p => Set(p._1, p._2))
    assert(clusters.keySet == paired)
    // both endpoints of every near-dup pair share a cluster
    exactPairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the minimum member (the keeper)
    clusters.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"cluster $c keeper is not the min member")
    }
  }

  test("occurrence-vote SimHash equals the classic per-token-count formulation") {
    import graft.functions.ReferenceAggregators
    val docs = Tables.documents(spark, sf)
    val occ = DedupOps.simhashFingerprints(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counted = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .select(col("doc_id"), expr(
        "transform(sequence(0, 63), i -> CASE WHEN (shiftright(xxhash64(tok), i) & 1) = 1 THEN c ELSE -c END)")
        .as("votes"))
      .groupBy("doc_id")
      .agg(ReferenceAggregators.elementwiseSum(64)(col("votes")).as("bits"))
      .select(col("doc_id"), expr(
        "aggregate(sequence(0, 63), 0L, (acc, i) -> CASE WHEN element_at(bits, i + 1) > 0 THEN acc | shiftleft(1L, i) ELSE acc END)")
        .as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(occ == counted)
  }

  test("simhash near-dup: recall >= 0.7 and few false positives vs exact jaccard") {
    val sh = pairSet(DedupOps.simhashPairs(Tables.documents(spark, sf)))
    val recall = (sh & exactPairs).size.toDouble / exactPairs.size
    val falsePos = (sh -- exactPairs).size
    assert(recall >= 0.7, s"recall=$recall found=${sh.size} exact=${exactPairs.size}")
    assert(falsePos <= 10, s"false positives=$falsePos")
  }

  test("simhash bound-witness query emits all-true flags and the exact pair count") {
    val r = DedupOps.d_dedup_simhash(spark, sf).head()
    assert(r.getLong(0) == exactPairs.size.toLong)
    assert(r.getBoolean(1), "recall_ok flag must hold on the fixture")
    assert(r.getBoolean(2), "vol_ok (pairs <= docs) flag must hold on the fixture")
  }

  test("embedding near-dup finds exactly the planted perturbed copies") {
    val r = DedupOps.d_dedup_embedding(spark, sf)
    val rows = r.collect()
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 0).count()
    assert(rows.length == planted, s"expected $planted planted pairs, got ${rows.length}")
    assert(rows.forall(x => x.getLong(0) < x.getLong(1)))
    assert(rows.forall(_.getLong(2) >= 900000L))
    // each pair is (source, source + offset): a true near-identical copy
    assert(rows.forall(x => x.getLong(1) - x.getLong(0) == 10000000L))
  }

  test("bucketed embedding near-dup recovers the exact all-pairs answer with no cartesian product") {
    import graft.functions.VectorFunctions._
    val corpus = DedupOps.plantedCorpus(Tables.embeddings(spark, sf))
    val a = corpus.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .withColumn("na", sqrt(normSq(col("ea"))))
    val b = corpus.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      .withColumn("nb", sqrt(normSq(col("eb"))))
    val allPairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos_e6",
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")) * 1e6).cast("long"))
      .filter(col("cos_e6") >= 900000L)
      .select("id_a", "id_b", "cos_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bucketed = DedupOps.d_dedup_embedding(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bucketed == allPairs,
      s"missed=${(allPairs -- bucketed).size} spurious=${(bucketed -- allPairs).size}")
    val plan = DedupOps.d_dedup_embedding(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed path must not contain an all-pairs join:\n$plan")
  }

  test("substring dedup: chunks tile each doc — in-bounds, disjoint, fingerprint-true") {
    val corpus = DedupOps.substringCorpus(Tables.documents(spark, sf))
    val lens = corpus.select(col("doc_id"), length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spans = DedupOps.contentChunks(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(spans.nonEmpty)
    for ((doc, ss) <- spans) {
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, start, len) =>
        assert(start >= 1 && start + len - 1 <= lens(doc), s"span out of bounds in doc $doc")
        assert(len >= DedupOps.SubMinSpan)
      }
      sorted.sliding(2).foreach {
        case Array((_, s1, l1), (_, s2, _)) =>
          assert(s1 + l1 <= s2, s"overlapping spans in doc $doc")
        case _ =>
      }
    }
  }

  test("substring dedup finds the planted boilerplate span in every non-keeper planted doc") {
    val docs = Tables.documents(spark, sf)
    val plantedIds = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + DedupOps.SubPlantOffset).as("id"))
      .collect().map(_.getLong(0)).toSet
    assert(plantedIds.size >= 2)
    val removals = DedupOps.d_dedup_substring(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every planted doc except the boiler keeper (min planted id) must
    // lose at least one span that lies entirely inside the boilerplate
    val boilerLen = DedupOps.SubBoiler.length.toLong
    val withBoilerRemoval = removals
      .filter { case (id, start, len) =>
        plantedIds(id) && start + len - 1 <= boilerLen
      }.map(_._1).toSet
    assert(withBoilerRemoval == plantedIds - plantedIds.min,
      s"missing boiler removals in ${(plantedIds - plantedIds.min) -- withBoilerRemoval}")
    // and the keeper keeps all its occurrences: no removal in any doc
    // that is the min doc_id of its fingerprint group (structural: the
    // query filters doc_id =!= keeper, so assert the planted keeper has
    // no boiler-region removal)
    assert(!withBoilerRemoval.contains(plantedIds.min))
  }

  test("substring scrub: char accounting exact, untouched docs byte-identical, keepers keep") {
    val corpus = DedupOps.substringCorpus(Tables.documents(spark, sf))
    val rows = DedupOps.d_substring_scrub(spark, sf).collect()
    assert(rows.length == corpus.count())
    // per-doc char accounting: n_after = n_before − Σ removed span_len
    val removedChars = DedupOps.d_dedup_substring(spark, sf)
      .groupBy("doc_id").agg(sum("span_len").as("rm"), count(lit(1)).as("k"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (rm, k) = removedChars.getOrElse(r.getLong(0), (0L, 0L))
      assert(r.getLong(2) == r.getLong(1) - rm,
        s"char accounting broken for doc ${r.getLong(0)}: $r (removed $rm)")
      assert(r.getLong(3) == k, s"span count drifted for doc ${r.getLong(0)}")
    }
    // docs with no removals pass through byte-identically (md5 match
    // against the original text) — the left-join fast path is a no-op
    val origMd5 = corpus
      .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = rows.filter(_.getLong(3) == 0L)
    assert(untouched.nonEmpty)
    untouched.foreach { r =>
      assert(r.getString(4) == origMd5(r.getLong(0)),
        s"untouched doc ${r.getLong(0)} was rewritten")
    }
    // a planted non-keeper doc genuinely shrank
    assert(rows.exists(r => r.getLong(3) > 0 && r.getLong(2) < r.getLong(1)),
      "no doc was actually scrubbed — the witness is vacuous")
  }

  test("substring dedup volume witness: chunk and removal counts stay linear in the corpus") {
    val corpus = DedupOps.substringCorpus(Tables.documents(spark, sf))
    val nDocs = corpus.count()
    val totalChars = corpus.agg(sum(length(col("text")))).collect()(0).getLong(0)
    val chunks = DedupOps.contentChunks(corpus)
    val nChunks = chunks.count()
    // tiling bound: at most one chunk per MinSpan chars (+1 per doc)
    assert(nChunks <= totalChars / DedupOps.SubMinSpan + nDocs,
      s"chunk volume superlinear: $nChunks chunks over $totalChars chars")
    // removal list is a subset of chunk occurrences — never amplified
    val nRemovals = DedupOps.d_dedup_substring(spark, sf).count()
    assert(nRemovals <= nChunks)
    // df cap honored: no fingerprint appears in more docs than the cap
    val maxDf = chunks.groupBy("fp16").agg(countDistinct(col("doc_id")).as("df"))
      .agg(max(col("df"))).collect()(0).getLong(0)
    assert(maxDf <= DedupOps.SubDfCap || nRemovals == 0 ||
      DedupOps.d_dedup_substring(spark, sf).groupBy("fp16").count()
        .agg(max(col("count"))).collect()(0).getLong(0) <= DedupOps.SubDfCap)
  }

  test("LSH bucket cap: 10^4 identical docs yield LINEAR candidates, not |bucket|^2") {
    import spark.implicits._
    val n = 10000
    val flood = "the same document text repeated across the whole flood corpus every time"
    // 10^4 byte-identical docs (one LSH bucket per band, far over the cap)
    // plus one near-dup pair of distinct text that must survive via the
    // normal under-cap path.
    val docs = ((0 until n).map(i => (i.toLong, flood)) ++ Seq(
      (20000L, "completely different content about spark catalyst plans and shuffles here"),
      (20001L, "completely different content about spark catalyst plans and shuffle here")))
      .toDF("doc_id", "text")
    val cands = DedupOps.lshCandidates(DedupOps.minhashSignatures(docs))
    val pairs = pairSet(cands)
    // linear: one representative-star edge per flood doc + the near-dup
    // pair's candidates — nothing within an order of magnitude of n^2/2
    assert(pairs.size.toLong < 2L * n,
      s"candidate volume not linear: ${pairs.size} pairs for $n identical docs")
    // every flood doc still reaches the keeper (doc 0) — dedup capability intact
    val floodPairs = pairs.filter(_._2 < n)
    assert(floodPairs == (1 until n).map(i => (0L, i.toLong)).toSet,
      "flood docs must each pair with the min-doc_id representative")
    // the distinct near-dup pair is found through the ordinary path
    assert(pairs.contains((20000L, 20001L)), "under-cap near-dup pair lost")
  }

  test("LSH bucket cap is inert at fixture scale (max bucket well under the cap)") {
    val sigs = DedupOps.minhashSignatures(Tables.documents(spark, sf))
    // recompute bucket widths the way lshCandidates does; the fixture
    // must not be anywhere near the cap or d_dedup_minhash's all-pairs
    // oracle match would silently depend on the routing
    val cands = DedupOps.lshCandidates(sigs)
    assert(pairSet(cands) == pairSet(DedupOps.lshCandidates(sigs, cap = Long.MaxValue)),
      "cap changed the fixture's candidate set — it must be inert at this scale")
  }

  test("fuzzy join: deletion-neighborhood blocking recovers exactly the naive levenshtein<=1 pairs") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val names = Tables.supplier(spark, sf)
      .select(col("s_suppkey").cast("long"), col("s_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // replay the planted probe construction
    val probes = names.map { case (k, n) =>
      val p = (k % 17).toInt
      k -> ((k % 3) match {
        case 0 => n.substring(0, p) + "x" + n.substring(p + 1)
        case 1 => n.substring(0, p) + n.substring(p + 1)
        case _ => n.substring(0, p) + "x" + n.substring(p)
      })
    }
    val expected = (for {
      (pid, probe) <- probes; (sid, name) <- names
      if lev(probe, name) <= 1
    } yield (pid, sid)).toSet
    val got = DedupOps.d_fuzzy_join(spark, sf)
      .select("probe_id", "s_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${expected -- got} spurious=${got -- expected}")
    // every probe must at least find its own origin
    assert(probes.map(_._1).toSet.subsetOf(got.map(_._1).toSet))
    // multi-match is vacuous with only 10 suppliers (edits land in the
    // letter prefix); at sf0.01 digit-zone deletions restore DIFFERENT
    // canonicals — assert the multi-match path is exercised there
    val got01 = DedupOps.d_fuzzy_join(spark, "/root/testdata/sf0.01")
      .select("probe_id", "s_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got01.exists { case (p, s) => p != s },
      "no probe matched a non-origin canonical at sf0.01")
  }

  test("line dedup: first-occurrence rule replayed on the driver; real deflation; order-exact reassembly") {
    import org.apache.spark.sql.functions._
    val got = DedupOps.d_line_dedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // independent driver-side replay of the whole rule
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val expect = texts.map { case (id, t) =>
      val lines = t.split(" ").grouped(12).map(_.mkString(" ")).toSeq
      val kept = lines.filter(seen.add) // add returns true on first sight
      id -> ((lines.size.toLong, kept.size.toLong, kept.mkString(" ")))
    }.toMap
    assert(got == expect, "line dedup diverged from the sequential replay")
    // non-vacuity: some doc actually deflated, and some doc survived intact
    assert(got.exists { case (_, (n, k, _)) => k < n }, "nothing deflated — witness moot")
    assert(got.exists { case (id, (n, k, ct)) =>
      k == n && ct == texts.toMap.apply(id) }, "no doc survived intact")
    // totals: kept lines across the corpus = distinct lines across the corpus
    val distinctLines = texts.flatMap(_._2.split(" ").grouped(12).map(_.mkString(" "))).distinct.size
    assert(got.values.map(_._2).sum == distinctLines.toLong)
  }

  test("line dedup: planted 10k-copy boilerplate line — combinable argmin, no per-line window") {
    // The web-scale failure mode: ONE boilerplate line repeated across
    // the whole corpus. A row_number window partitioned on line text
    // sorts all copies in one task; the argmin-aggregate plan combines
    // them map-side. Plant the hot line and pin both the result and
    // the plan shape (round-13 verdict item 3).
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hotline").toString
    graft.Fs.deleteOnExit(tmp): Unit
    val nDocs = 10000L
    val hotLine = Seq.fill(12)("boilerplate").mkString(" ")
    def uniq(id: Long): String = (0 until 12).map(j => s"u${id}w$j").mkString(" ")
    (0L until nDocs).map(id => (id, hotLine + " " + uniq(id)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val df = DedupOps.d_line_dedup(spark, tmp)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "per-line window crept back into the line-dedup plan")
    val byId = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(byId.size == nDocs)
    // doc 0 owns the boilerplate's first occurrence: survives intact
    assert(byId(0L) == ((2L, 2L, hotLine + " " + uniq(0L))))
    // every other doc sheds the hot line, keeps exactly its unique line
    assert((1L until nDocs).forall(id => byId(id) == ((2L, 1L, uniq(id)))),
      "a later copy of the boilerplate line survived")
  }
}
