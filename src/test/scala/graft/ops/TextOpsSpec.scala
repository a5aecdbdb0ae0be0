package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("text stats cover every language with sane bounds") {
    val r = TextOps.t_text_stats(spark, sf).collect()
    assert(r.map(_.getString(0)).toSet == Set("en", "fr", "es", "de", "zh"))
    r.foreach { row =>
      assert(row.getLong(1) > 0)
      assert(row.getLong(4) >= row.getLong(5) / 100) // max >= avg
    }
  }

  test("token counts: ws tokens == alpha+noise relation holds per doc") {
    val r = TextOps.t_token_count(spark, sf)
    assert(r.count() == Tables.documents(spark, sf).count())
    // corpus is lowercase words joined by single spaces: alpha == ws
    assert(r.filter(col("alpha_tokens") =!= col("ws_tokens")).count() == 0)
    assert(r.filter(col("piece_tokens") < col("alpha_tokens")).count() == 0)
  }

  test("lang-id is deterministic, covers every doc, argmax tie-break stable") {
    val a = TextOps.t_lang_id(spark, sf).collect()
    val b = TextOps.t_lang_id(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == Tables.documents(spark, sf).count())
    // docs containing 'the'/'a' must score en >= 1; und only when score 0
    a.foreach { row =>
      val (lang, score) = (row.getString(1), row.getLong(2))
      assert((lang == "und") == (score == 0L), row.toString)
    }
  }

  test("quality score bounded in [0, 10000] and monotone in stopword hits") {
    val r = TextOps.t_quality_score(spark, sf)
    val bounds = r.agg(min("score_e4"), max("score_e4")).head()
    assert(bounds.getLong(0) >= 0L && bounds.getLong(1) <= 10000L)
    assert(r.filter(col("stop_hits") > col("n_tokens")).count() == 0)
  }

  test("bigram score: <2-token docs yield no bigrams instead of an ANSI error") {
    import spark.implicits._
    // sequence(1, size-1) with size=1 is the DESCENDING [1,0] —
    // unguarded, element_at(toks, 0) errors under ANSI. Short docs
    // must simply produce no bigram rows (= the oracle's empty
    // generate_series), so only the multi-token doc appears.
    val dir = graft.Fs.scratchDir("bigram-short").toString
    Seq(
      (1L, "solo", "src0", "en", 4L),
      (2L, "", "src0", "en", 0L),
      (3L, "three word doc", "src0", "en", 14L)
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextOps.t_bigram_score(spark, dir).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(3L))
    assert(r.head.getLong(1) == 2L) // "three word", "word doc"
  }

  test("repetition: short docs report zero bigrams; repeated token dominates the ratio") {
    import spark.implicits._
    val dir = graft.Fs.scratchDir("rep-short").toString
    Seq(
      (1L, "solo", "src0", "en", 4L),                    // 1 token: no bigrams
      (2L, "spam spam spam spam ham", "src0", "en", 23L) // top token 4/5
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextOps.t_repetition(spark, dir).collect()
      .map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getLong(4) == 0L && r(1L).getLong(7) == 0L) // n_bigrams, rep_bg_e6
    assert(r(2L).getLong(3) == 4L)                           // top_token_n
    assert(r(2L).getLong(6) == 800000L)                      // rep_tok_e6 = 4/5
    assert(r(2L).getLong(5) == 3L)                           // "spam spam" x3
    assert(r(2L).getLong(7) == 750000L)                      // rep_bg_e6 = 3/4
  }

  test("fingerprints: distinct docs get distinct sha2; rolling stats sane") {
    val r = TextOps.t_fingerprint(spark, sf)
    val n = r.count()
    assert(r.select("hash16").distinct().count() == n)
    assert(r.filter(col("fp_min") < 0 || col("fp_min") >= 1000003).count() == 0)
    assert(r.filter(col("fp_distinct") < 1).count() == 0)
  }

  test("heavy hitters: exact top-10 descending, CMS never undercounts, planted hitter wins") {
    val r = TextOps.t_heavy_hitters(spark, sf).collect()
    assert(r.length == 10)
    val counts = r.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted.reverse)
    assert(r.forall(_.getBoolean(2)), "CMS estimate broke its contract on a true heavy hitter")

    // Planted corpus: one token is 60% of all occurrences — it must
    // rank first, with its exact count, and the sketch must agree
    // within eps*N even on an adversarial singleton tail.
    import spark.implicits._
    val dir = graft.Fs.scratchDir("hh-plant").toString
    val docs = (1L to 50L).map(i => (i, s"whale tail$i whale whale", "src0", "en", 20L))
    docs.toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = TextOps.t_heavy_hitters(spark, dir).collect()
    assert(p.head.getString(0) == "whale" && p.head.getLong(1) == 150L)
    assert(p.forall(_.getBoolean(2)))
  }

  test("rerank: stage-2 rescoring is consistent, bounded, and actually reorders stage 1") {
    val got = TextOps.t_rerank(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.length <= 10)
    // ranks contiguous from 1, strictly ordered by (rerank desc, doc_id)
    assert(got.map(_._1).toSeq == (1 to got.length))
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2), s"rank order broken: $a vs $b")
      case _ => ()
    }
    // coverage bounded by the query width; score decomposes as
    // coverage*1e7 + proximity with proximity < coverage * 1e5
    got.foreach { g =>
      assert(g._4 >= 1 && g._4 <= 5)
      val prox = g._3 - g._4 * 10000000L
      assert(prox >= 0 && prox < g._4 * 100000L, s"score decomposition broken: $g")
    }
    // every reranked doc came from the BM25 top-20 candidate list
    val bm25Top = TextOps.t_bm25(spark, sf).collect().map(_.getLong(0)).toSet
    got.foreach(g => assert(bm25Top.contains(g._2), s"doc ${g._2} not a stage-1 candidate"))
    // non-vacuous: the rerank ordering differs from pure BM25 ordering
    val byBm25 = got.sortBy(g => (-g._5, g._2)).map(_._2).toSeq
    assert(byBm25 != got.map(_._2).toSeq,
      "rerank equals the BM25 order — stage 2 is a no-op on this corpus")
  }

  test("bm25: matches driver-side integer replay, top-k by score") {
    val got = TextOps.t_bm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // sequential replay of the identical fixed-point arithmetic
    val rows = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val occ = rows.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (t, v) => t -> v.length.toLong }
    }.toMap
    val dl = occ.map { case (id, c) => id -> c.values.sum }
    val n = rows.length.toLong
    val sumDl = dl.values.sum
    val df = occ.values.flatMap(_.keys).groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val qt = df.toSeq.sortBy { case (t, f) => (-f, t) }.take(5)
    val scores = occ.flatMap { case (id, c) =>
      val hits = qt.flatMap { case (t, f) =>
        c.get(t).map { tf =>
          val idf = 1000000L * n / f
          val norm = 2500L + 7500L * dl(id) * n / sumDl
          val denom = tf * 10000L + 120L * norm / 100L
          idf * tf * 22000L / denom
        }
      }
      if (hits.isEmpty) None else Some((id, hits.sum, hits.length.toLong))
    }.toSeq
    val exp = scores.sortBy { case (id, sc, _) => (-sc, id) }.take(20).sortBy(_._1)
    assert(got.toSeq == exp)
    assert(got.nonEmpty && got.forall(_._3 >= 1L))
  }

  test("inverted index: salted two-phase posting heads match sequential replay") {
    val got = TextOps.t_inverted_index(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val rows = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val occ = rows.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, v) => (t, id, v.length.toLong) }
    }
    val df = occ.groupBy(_._1).map { case (t, v) => t -> v.length.toLong }
    val top = df.toSeq.sortBy { case (t, f) => (-f, t) }.take(TextOps.InvTopTokens)
    val exp = top.flatMap { case (t, f) =>
      occ.filter(_._1 == t).sortBy(_._2).take(TextOps.InvPostingK)
        .zipWithIndex.map { case ((_, id, tf), i) => (t, f, i + 1, id, tf) }
    }.sortBy(r => (r._1, r._3))
    assert(got.toSeq == exp)
    // heads are genuinely truncated posting runs (df beyond the head)
    assert(got.map(_._1).distinct.length == TextOps.InvTopTokens)
    assert(top.exists(_._2 > TextOps.InvPostingK),
      "fixture must have a token hotter than the head size")
  }

  test("distributed BPE training equals the sequential reference trainer") {
    // The DuckDB oracle proves Spark ≡ SQL replay; this proves the
    // distributed loop ≡ graft.functions.BpeTrainer.train — the exact
    // token-walk reference — on the same word counts. Together they
    // pin all three implementations to one merge sequence (and confirm
    // the documented replace-vs-walk equivalence holds on this
    // corpus).
    val wc = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val reference = graft.functions.BpeTrainer
      .train(wc, maxMerges = TextOps.BpeTrainRounds)
    val got = TextOps.t_bpe_train(spark, sf).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got == reference,
      s"distributed merges $got != reference $reference")
    // and the learned pair counts are strictly sensible: positive,
    // non-increasing is NOT required (BPE counts may rise as tokens
    // fuse), but every count must be > 0
    assert(TextOps.t_bpe_train(spark, sf).collect().forall(_.getLong(3) > 0))
  }

  test("trigram search: candidate stage prunes AND over-generates, verify is exact") {
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    val qTris = TextOps.triGrams(TextOps.TriQuery)
    val qDf = spark.createDataFrame(qTris.map(Tuple1(_))).toDF("tri")
    val candSet = TextOps.trigramIndex(docs)
      .join(broadcast(qDf), "tri")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("ntri"))
      .filter(col("ntri") === qTris.length)
      .collect().map(_.getLong(0)).toSet
    val rows = TextOps.t_trigram_search(spark, sf).collect()
    val verified = rows.map(_.getLong(0)).toSet
    // the index genuinely narrows the scan...
    assert(candSet.size < total,
      s"trigram candidates ${candSet.size} must prune the $total-doc corpus")
    // ...but candidacy is necessary, not sufficient — the verify stage
    // must have real work (docs with all trigrams, phrase absent)
    assert(verified.subsetOf(candSet), "a verified doc escaped the candidate set")
    assert((candSet -- verified).nonEmpty,
      "fixture must reject some candidates or the verify stage is vacuous")
    assert(verified.nonEmpty && rows.forall(_.getLong(1) >= 1))
    // exact equality with the naive scan
    val naive = docs.filter(col("text").contains(TextOps.TriQuery))
      .collect().map(_.getLong(0)).toSet
    assert(verified == naive, "index search drifted from the naive scan")
  }

  test("ccnet buckets: exact tertiles, value-consistent boundaries, all held-out docs") {
    val rows = TextOps.t_ccnet_bucket(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // covers exactly the held-out scored docs (odd doc_ids with >= 1 bigram)
    val lm = TextOps.t_ngram_lm(spark, sf).collect()
      .filter(_.getLong(1) > 0).map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == lm)
    // buckets are score-ordered: every head score <= every middle
    // score <= every tail score (value-consistent boundaries)
    def scores(b: String) = rows.filter(_._3 == b).map(_._2)
    assert(Seq("head", "middle", "tail").forall(b => scores(b).nonEmpty),
      "a tertile bucket is empty — cutoffs degenerate on this fixture")
    assert(scores("head").max <= scores("middle").min)
    assert(scores("middle").max <= scores("tail").min)
    // tertile sizes: head holds >= n/3 (cum >= ceil(n/3) at the cutoff
    // VALUE, ties included), and head+middle >= 2n/3
    val n = rows.length
    assert(scores("head").length * 3 >= n)
    assert((scores("head").length + scores("middle").length) * 3 >= 2 * n)
    // same-score docs never straddle a boundary
    val byScore = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct)
    assert(byScore.forall(_._2.length == 1), "a score value straddles buckets")
  }

  test("chunking: matches a sequential replay, real overlap, short last chunk, no tail dupes") {
    val got = TextOps.t_chunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getString(3)))).toMap
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = texts.flatMap { case (id, t) =>
      val w = t.split(" ")
      val nc = if (w.length <= 64) 1 else math.ceil((w.length - 64) / 48.0).toInt + 1
      (0 until nc).map { i =>
        (id, i.toLong) -> ((math.min(64, w.length - i * 48),
          w.slice(i * 48, i * 48 + 64).mkString(" ")))
      }
    }.toMap
    assert(got == expect, "chunking diverged from the sequential replay")
    // the fixture must actually exercise multi-chunk docs and short tails
    assert(expect.keys.exists(_._2 > 0), "no multi-chunk doc - overlap untested")
    assert(expect.exists { case ((_, c), (n, _)) => c > 0 && n < 64 },
      "no short last chunk in the fixture")
    // overlap: consecutive chunks of one doc share exactly W-S=16 words
    val (did, _) = expect.keys.filter(_._2 > 0).head
    val w0 = expect((did, 0L))._2.split(" ")
    val w1 = expect((did, 1L))._2.split(" ")
    assert(w0.takeRight(16).sameElements(w1.take(16)),
      s"chunk overlap broken for doc $did")
  }
}
