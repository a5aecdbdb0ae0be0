package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus — the per-doc
  * scoring / profiling passes a training-data pipeline runs before
  * filtering. Each is a narrow projection, a single aggregation, or
  * (for corpus-statistics scoring) one token-keyed join — never a
  * document self-join.
  *
  *   - [[t_text_stats]]: per-language corpus statistics.
  *   - [[t_token_count]]: whitespace tokens + regex (BPE-ish piece)
  *     token counts per doc.
  *   - [[t_bpe_tokens]]: REAL byte-level BPE token counts per doc
  *     ([[graft.functions.BpeTokenizer]], fixed committed merge
  *     table), oracle-replayed merge-by-merge in DuckDB.
  *   - [[t_lang_id]]: deterministic stopword-profile language ID —
  *     score = profile-token hits per language, argmax with (score
  *     desc, lang asc) tie-break, `und` when nothing matches. (The
  *     fixture's `lang` column is a synthetic label, not a property of
  *     the text, so the oracle checks the classifier's deterministic
  *     output, not label recovery.)
  *   - [[t_quality_score]]: length/stopword/word-length quality score,
  *     integerized to e4 for exact cross-engine comparison.
  *   - [[t_idf_score]]: corpus-statistics rarity score (integer-exact
  *     IDF sum over each doc's distinct tokens).
  *   - [[t_bigram_score]]: occurrence-level bigram commonality — the
  *     LM-likelihood-style quality signal (train: corpus bigram
  *     counts; score: bigram-keyed join + integer mean).
  *   - [[t_fingerprint]]: sha2 content hash + Karp-Rabin rolling-hash
  *     fingerprints (min + distinct count over 8-gram polynomial
  *     hashes, mod 1000003 — pure integer arithmetic, reproduced
  *     exactly in DuckDB).
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  private val Stopwords = Seq("the", "a", "of", "and", "is")

  /** (lang, token) stopword profiles for the language scorer. */
  private val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "de", "fr" -> "un",
    "es" -> "el", "es" -> "de", "es" -> "y", "es" -> "un", "es" -> "en",
    "de" -> "der", "de" -> "die", "de" -> "und", "de" -> "ein", "de" -> "ist",
    "zh" -> "的", "zh" -> "了", "zh" -> "是", "zh" -> "在", "zh" -> "我",
  )

  val t_text_stats: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")) * 100).cast("long").as("avg_chars_e2"))
      .orderBy(col("lang"))

  val t_token_count: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).as("alpha_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("piece_tokens"))
      .orderBy(col("doc_id"))

  /** Chunk window (words) and stride of [[t_chunk]]; overlap =
    * ChunkW − ChunkS words shared by consecutive chunks. */
  private[ops] val ChunkW = 64
  private[ops] val ChunkS = 48

  /** PASSAGE CHUNKING with overlap — the RAG/embedding-pipeline
    * segmentation every retrieval corpus is built on: each document
    * splits into [[ChunkW]]-word windows at [[ChunkS]]-word stride,
    * consecutive chunks sharing the ChunkW−ChunkS-word overlap so no
    * answer span is cut at a boundary. Chunk count is the standard
    * `n ≤ W → 1, else ceil((n−W)/S)+1` (the last chunk may be short;
    * no degenerate tail chunk fully contained in its predecessor).
    * Emits stable (doc_id, chunk_id) keys, the chunk's word count,
    * and the chunk TEXT itself — hash-exact against the oracle's
    * replay of the same windowing.
    *
    * Scale shape: one narrow in-row HOF pass (split → transform →
    * explode) — NO shuffle before the presentation sort; at 100 TB
    * this is the map stage feeding the embedding UDF, and output
    * volume is input × W/S (~1.33× here), never quadratic. */
  val t_chunk: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        expr(s"CASE WHEN size(w) <= $ChunkW THEN 1 " +
          s"ELSE CAST(ceil((size(w) - $ChunkW) / $ChunkS.0) AS INT) + 1 END").as("nc"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, nc - 1), i -> struct(" +
          s"CAST(i AS BIGINT) AS chunk_id, " +
          s"least($ChunkW, size(w) - i * $ChunkS) AS n_words, " +
          s"array_join(slice(w, i * $ChunkS + 1, $ChunkW), ' ') AS chunk))")).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.n_words").as("n_words"), col("c.chunk").as("chunk"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Per-doc token counts under the real byte-level BPE tokenizer
    * ([[graft.functions.BpeTokenizer]], fixed committed merge table) —
    * the unit every training-data budget is actually set in.
    * `mapPartitions` with a per-task piece memo: each distinct word is
    * encoded once per task, so the pass is O(corpus bytes) with a
    * small-constant encode on cache miss; no shuffle at all before the
    * presentation sort. The DuckDB oracle replays the merge loop
    * exactly — merges applied once each in rank order (provably
    * equivalent to the lowest-rank-first loop, see the tokenizer's
    * scaladoc) via one generated `replace()` stage per committed
    * merge over a ⟨token⟩-delimited string form. */
  val t_bpe_tokens: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val count = graft.functions.BpeTokenizer.tokenCounter()
        it.map { case (id, text) =>
          (id, text.split(' ').count(_.nonEmpty), count(text))
        }
      }
      .toDF("doc_id", "n_pieces", "n_tokens")
      .orderBy(col("doc_id"))
  }

  /** One-pass (doc_id, source, n_tokens) BPE accounting over the
    * corpus — the token source [[PipelineOps.p_token_budget]] budgets
    * with. Same per-task memoized encode as [[t_bpe_tokens]]; carrying
    * `source` through the map avoids a join back to documents. */
  private[ops] def bpeSourceTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val count = graft.functions.BpeTokenizer.tokenCounter()
        it.map { case (id, src, text) => (id, src, count(text)) }
      }
      .toDF("doc_id", "source", "n_tokens")
  }

  /** The generated CTE chain `s0 .. sN, bpe` computing per-doc BPE
    * token counts in DuckDB from the SAME committed merge table the
    * engine tokenizes with. Each token is rendered `chr(1)‖tok‖chr(2)`
    * (wrapper chars never occur in the printable-ASCII corpus), words
    * joined with ' ': merge rank i is then ONE non-overlapping
    * left-to-right `replace()` — exactly leftmost-greedy merge-all,
    * token-boundary-anchored by the wrappers, never crossing the space
    * between words. Shared by the `t_bpe_tokens` and `p_token_budget`
    * oracles. */
  private[ops] def bpeCountCtes: String = {
    val init =
      """s0 AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |    list_filter(string_split(text, ' '), w -> w <> ''),
        |    w -> array_to_string(list_transform(regexp_split_to_array(w, ''),
        |           c -> chr(1) || c || chr(2)), '')), ' ') AS s
        |  FROM documents)""".stripMargin
    val stages = graft.functions.BpeTokenizer.merges.zipWithIndex.map { case ((l, r), i) =>
      s"s${i + 1} AS (SELECT doc_id, replace(s, chr(1)||'$l'||chr(2)||chr(1)||'$r'||chr(2), chr(1)||'$l$r'||chr(2)) AS s FROM s$i)"
    }
    val last = s"s${graft.functions.BpeTokenizer.merges.size}"
    val fin =
      s"""bpe AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN s = '' THEN 0
         |         ELSE length(s) - length(replace(s, ' ', '')) + 1 END AS INTEGER) AS n_pieces,
         |    CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_tokens
         |  FROM $last)""".stripMargin
    (init +: stages :+ fin).mkString(",\n")
  }

  val t_lang_id: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val prof = LangProfiles.toDF("plang", "tok")
    val scores = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(prof), "tok")
      .groupBy(col("doc_id"), col("plang"))
      .agg(count(lit(1)).as("score"))
    // argmax via min(struct(-score, lang)): (score desc, lang asc)
    val best = scores
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("plang").as("pl"))).as("b"))
      .select(col("doc_id"), col("b.pl").as("bl"), (-col("b.ns")).as("bs"))
    docs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("bl"), lit("und")).as("pred_lang"),
        coalesce(col("bs"), lit(0L)).as("score"))
      .orderBy(col("doc_id"))
  }

  val t_quality_score: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        expr(s"size(filter(w, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(",")})))")
          .as("stop_hits"),
        expr("aggregate(w, 0, (acc, x) -> acc + length(x))").as("sum_tok_chars"))
      .select(
        col("doc_id"), col("n_tokens"), col("stop_hits"),
        round(lit(10000.0) * (
          lit(0.4) * least(col("n_tokens").cast("double"), lit(100.0)) / 100.0 +
          lit(0.3) * col("stop_hits").cast("double") / col("n_tokens") +
          lit(0.3) * least(col("sum_tok_chars").cast("double") / col("n_tokens") / 10.0, lit(1.0))
        )).cast("long").as("score_e4"))
      .orderBy(col("doc_id"))

  /** Rarity scoring — the corpus-statistics join shape behind
    * perplexity-style quality filters: token document frequencies are
    * aggregated once, then each doc is scored by the sum of its
    * distinct tokens' inverse document frequencies. All arithmetic is
    * integer (`(1e6·N) div df`) so the score is bit-exact cross-engine
    * — no transcendental log whose last ulp could differ between
    * libm implementations. Shapes at 100 TB: one shuffle to build df,
    * one shuffle to join it back on token (fan-out is 1:1 per
    * occurrence — hot tokens cost linearly, never quadratically), one
    * partial-agg groupBy per doc. */
  val t_idf_score: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    toks.join(dfreq, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), expr("(1000000L * n_docs) div df").as("idf6"))
      .groupBy("doc_id")
      .agg(sum(col("idf6")).as("idf_sum_e6"), count(lit(1)).as("n_distinct_toks"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF KEYWORD EXTRACTION — the per-document salient-terms step
    * (search snippets, topic tagging, weak labels for classifier
    * training): score every (doc, token) by tf × idf with the SAME
    * integer idf lane as [[t_idf_score]] (`(10⁶·n_docs) div df` — exact
    * in both engines), keep each doc's top-3 by (score desc, token
    * asc). Two corpus aggregations (per-doc term counts; distinct-doc
    * df) + one join + a per-doc window whose partition is one doc's
    * distinct tokens — bounded by doc length, never corpus-keyed, so
    * the rank adds no skew at 100 TB. */
  val t_keyword_topk: Q = (s, d) => {
    val occ = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = occ.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "tok").crossJoin(broadcast(total))
      .select(col("doc_id"), col("tok"),
        (col("tf") * expr("(1000000L * n_docs) div df")).as("tfidf_e6"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf_e6"), col("tok"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"), col("tfidf_e6"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Occurrence-level bigram "LM" scoring — the statistical-likelihood
    * quality signal: how common are this document's word BIGRAMS in the
    * corpus, on average? Train = one groupBy over exploded bigram
    * occurrences (order-sensitive, NON-distinct — unlike
    * [[t_idf_score]]'s distinct-token df); score = one bigram-keyed
    * join back + per-doc integer mean ((1e6·Σcnt) div n — exact in
    * both engines, no float drift). Hot bigrams fan out linearly,
    * never quadratically; this is the same corpus-statistics join
    * shape perplexity-style filters run at 100 TB. */
  val t_bigram_score: Q = (s, d) => {
    // tokenize ONCE per row before the lambda — split() referenced
    // inside the transform body would re-split the text per ELEMENT,
    // turning an O(len) projection into O(len²) per document.
    // The size >= 2 guard is load-bearing: sequence(1, size-1) with
    // size = 1 is sequence(1, 0) = the DESCENDING [1, 0], whose
    // element_at(toks, 0) / element_at(toks, 2) both error under ANSI
    // — a <2-token doc must yield NO bigrams (explode of the empty
    // array drops the row, matching the oracle's empty
    // generate_series(1, 0)), mirroring WordShingles' short-doc
    // contract.
    val occ = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(
        """explode(CASE WHEN size(toks) >= 2
             THEN transform(sequence(1, size(toks) - 1),
                  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
             ELSE array() END)""").as("bg"))
    val counts = occ.groupBy("bg").agg(count(lit(1)).as("cnt"))
    occ.join(counts, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"), sum(col("cnt")).as("cnt_sum"))
      .select(col("doc_id"), col("n_bg"), col("cnt_sum"),
        expr("(1000000L * cnt_sum) div n_bg").as("lm_e6"))
      .orderBy(col("doc_id"))
  }

  /** Repetition profile per document — the Gopher-style quality
    * signals that catch boilerplate and degenerate generations: the
    * fraction of the document taken by its single most frequent token
    * and most frequent bigram (both ×10⁶, integer-exact — high values
    * flag "the the the…" and template spam). One explode + two
    * map-side-partial aggregations per unit; bigram counts reuse the
    * guarded short-doc contract of [[t_bigram_score]] (docs with <2
    * tokens report zero bigrams, not an ANSI error). */
  val t_repetition: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tokStats = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_token_n"))
    val bgStats = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr(
        """explode(CASE WHEN size(toks) >= 2
             THEN transform(sequence(1, size(toks) - 1),
                  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
             ELSE array() END)""").as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
    tokStats.join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_token_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .select(col("*"),
        expr("(1000000L * top_token_n) div n_tokens").as("rep_tok_e6"),
        expr("""CASE WHEN n_bigrams > 0
                THEN (1000000L * top_bigram_n) div n_bigrams ELSE 0L END""").as("rep_bg_e6"))
      .orderBy(col("doc_id"))
  }

  /** Heavy hitters — the vocabulary/top-tokens profile every corpus
    * report starts with, with a Count-Min-Sketch witness: the exact
    * top 10 tokens (hash-matched by DuckDB) plus a per-token flag that
    * the CMS estimate respects its published contract — never BELOW
    * the true count, and over by at most ε·N (ε = 0.001, N = total
    * token occurrences). The sketch is built DISTRIBUTED in one
    * aggregate pass (`count_min_sketch`, map-side partials merging
    * like any decomposable agg — a few KB of counters per task
    * regardless of corpus size); only the finished sketch reaches the
    * driver for the 10 probe lookups. At 100 TB this is how you count
    * "approximately how often does X appear" without a groupBy over
    * 10¹² distinct keys. */
  val t_heavy_hitters: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("tok")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = toks.count()
    val skBytes = toks
      .agg(expr("count_min_sketch(tok, 0.001d, 0.99d, 42)")).head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(skBytes))
    val bound = (0.001 * total).ceil.toLong
    val rows = exact.map { case (tok, n) =>
      val est = cms.estimateCount(tok)
      (tok, n, est >= n && est <= n + bound)
    }
    s.createDataFrame(rows.toSeq).toDF("tok", "n", "cms_ok")
      .orderBy(desc("n"), col("tok"))
  }

  val t_fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        // native codegen'd Karp-Rabin: O(len) incremental rolling hash
        // (graft.functions.RollingHashes) instead of the O(len*k)
        // interpreted HOF tree; same values as the DuckDB oracle.
        graft.functions.RollingHashes
          .rollingHashes(col("text"), k = 8, base = 257L, mod = 1000003L).as("hs"))
      .select(
        col("doc_id"),
        substring(sha2(col("text"), 256), 1, 16).as("hash16"),
        array_min(col("hs")).as("fp_min"),
        size(array_distinct(col("hs"))).as("fp_distinct"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- bm25

  /** Query width and result depth of the BM25 retrieval demo. */
  private[graft] val BmQueryK = 5
  private[graft] val BmTopK = 20

  /** BM25 ranked retrieval — the corpus-statistics relevance score a
    * retrieval-augmented pipeline runs over its document store. The
    * query is derived deterministically (the [[BmQueryK]] highest-df
    * tokens, ties by token), so the demo is non-vacuous on any corpus.
    *
    * Like [[t_idf_score]], the arithmetic is EXACT fixed-point — no
    * transcendental log: idf_e6 = (10⁶·N) div df, and the BM25
    * saturation k1 = 1.2 / b = 0.75 terms are integer-scaled:
    * {{{
    *   norm_e4    = 10⁴·(1-b) + (10⁴·b · dl · N) div Σdl
    *   denom_e4   = tf·10⁴ + (120 · norm_e4) div 100
    *   contrib_e6 = (idf_e6 · tf · 22000) div denom_e4   // ×(k1+1)
    * }}}
    * Every division floors identically in Spark and DuckDB, so ranks
    * (integer scores, doc_id tie-break) hash-match exactly.
    *
    * Scale shape: tf/df/dl are the same one-shuffle corpus statistics
    * as [[t_idf_score]]; the query-term probe is a BROADCAST join (a
    * real query is a handful of terms — the probe side never
    * shuffles); the final top-k plans as TakeOrderedAndProject
    * (per-partition heaps, no global sort), the same contract
    * [[PipelineOps.p_weighted_sample]] pins. */
  val t_bm25: Q = (s, d) =>
    bm25Scores(Tables.documents(s, d))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))

  /** The BM25 scoring pipeline over a `(doc_id, text)` corpus —
    * hoisted from [[t_bm25]] so the hybrid-retrieval fusion
    * ([[SimilarityOps.s_hybrid_rrf]]) reuses the IDENTICAL formula
    * (one definition, one oracle template). Returns every scored doc
    * as `(doc_id, score_e6, n_hit)`, unranked — callers pick their
    * own list depth. */
  private[graft] def bm25Scores(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = occ.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = occ.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qterms = dfreq.orderBy(desc("df"), col("tok")).limit(BmQueryK)
    val totals = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
    bm25ContribAgg(occ.join(broadcast(qterms), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals)))
  }

  /** THE one definition of the integer-exact BM25 arithmetic (k1=1.2,
    * b=0.75 as the scaled constants documented on [[t_bm25]]). `hits`
    * carries one row per (doc, query-term) with `tf`, `dl`, `df`,
    * `n_docs`, `sum_dl` — corpus-aggregate columns in the in-session
    * path, manifest-literal columns in [[TextIndexStore.bm25Scores]]'s
    * served path — so tuning a constant here retunes BOTH paths (and
    * the oracle templates are the only other place the formula
    * exists). Returns (doc_id, score_e6, n_hit), unranked. */
  private[graft] def bm25ContribAgg(hits: DataFrame): DataFrame =
    hits
      .withColumn("idf_e6", expr("(1000000L * n_docs) div df"))
      .withColumn("norm_e4", expr("2500L + (7500L * dl * n_docs) div sum_dl"))
      .withColumn("denom_e4", expr("tf * 10000L + (120L * norm_e4) div 100"))
      .withColumn("contrib_e6", expr("(idf_e6 * tf * 22000L) div denom_e4"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_e6")).as("score_e6"), count(lit(1)).as("n_hit"))

  // ------------------------------------------------------- reranking

  /** Result depth of the rerank stage. */
  private[ops] val RerankTopK = 10

  /** TWO-STAGE RETRIEVAL — the universal production shape: a cheap
    * first stage narrows the corpus to [[BmTopK]] candidates (the
    * exact [[t_bm25]] list), then a more expensive second-stage scorer
    * re-reads ONLY those candidates' full text and re-ranks them. The
    * rescorer here is a deterministic stand-in for a cross-encoder:
    * unlike BM25's bag-of-words statistics it uses query–document
    * INTERACTION features — term coverage (distinct query terms
    * present, dominant) and earliest-position proximity (a term's
    * first occurrence at position p earns 10⁶ div (10+p), integer
    * exact) — the classic lexical features a learned reranker
    * subsumes. A real model slots into the same plumbing as a batched
    * `mapPartitions` over the candidate rows (the
    * [[MultimodalOps]] pattern); everything around it — candidate cut,
    * broadcast of the tiny candidate set back onto the corpus for
    * text, per-pair feature extraction, final top-k — is the
    * production plan and is what this witness pins.
    *
    * Scale shape: stage 1 ends in TakeOrderedAndProject (per-partition
    * heaps); the [[BmTopK]]-row candidate set broadcasts onto the
    * documents scan (never the reverse); the rescoring pass
    * posexplodes exactly [[BmTopK]] documents regardless of corpus
    * size. Rank ties break on doc_id. */
  val t_rerank: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val cand = bm25Scores(docs)
      .orderBy(desc("score_e6"), col("doc_id")).limit(BmTopK)
      .select(col("doc_id"), col("score_e6").as("bm25_e6"))
    val occ = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val qterms = occ.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("tok")).limit(BmQueryK).select("tok")
    val firstPos = docs.join(broadcast(cand), "doc_id")
      .select(col("doc_id"), col("bm25_e6"),
        posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .join(broadcast(qterms), "tok")
      .groupBy(col("doc_id"), col("bm25_e6"), col("tok"))
      .agg(min(col("p") + 1).as("fp")) // 1-based first position
      .withColumn("prox_e6", expr("1000000L div (10 + fp)"))
    val rescored = firstPos
      .groupBy(col("doc_id"), col("bm25_e6"))
      .agg((count(lit(1)) * lit(10000000L) + sum(col("prox_e6"))).as("rerank_e6"),
        count(lit(1)).as("coverage"))
    rescored
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("rerank_e6"), col("doc_id"))))
      .filter(col("rk") <= RerankTopK)
      .select(col("rk"), col("doc_id"), col("rerank_e6"),
        col("coverage"), col("bm25_e6"))
      .orderBy(col("rk"))
  }

  // ------------------------------------------------- inverted index

  /** Tokens indexed and posting-head length of [[t_inverted_index]]. */
  private[ops] val InvTopTokens = 10
  private[ops] val InvPostingK = 15

  /** Salt buckets for the two-phase posting-head build. */
  private[ops] val InvSalt = 16

  /** Inverted-index construction — the posting-list build behind
    * every keyword/BM25 retrieval system: for the [[InvTopTokens]]
    * highest-df tokens (ties by token, so the probe set is
    * deterministic), emit the first [[InvPostingK]] postings in
    * doc_id order with their term frequencies.
    *
    * Scale shape: the indexed-token set joins as a BROADCAST (an
    * index build shards its vocabulary; the probe here is the
    * hottest slice, exactly where the skew lives), and the
    * posting-head selection is the SALTED TWO-PHASE min-k of
    * [[RelationalQueries.q_topk_per_group]]: phase 1 takes k per
    * (token, doc_id % [[InvSalt]]) so no task ever materializes a
    * hot token's full df-sized posting run, phase 2 re-ranks the
    * ≤ salt·k survivors. A single window over the raw postings
    * would serialize a stopword's entire document set onto one
    * task — the straggler this formulation exists to avoid. */
  val t_inverted_index: Q = (s, d) => {
    val occ = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = occ.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val top = dfreq.orderBy(desc("df"), col("tok")).limit(InvTopTokens)
    val w1 = Window.partitionBy(col("tok"), col("salt")).orderBy(col("doc_id"))
    val w2 = Window.partitionBy(col("tok")).orderBy(col("doc_id"))
    occ.join(broadcast(top), "tok")
      .withColumn("salt", col("doc_id") % InvSalt)
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= InvPostingK)
      .withColumn("pos", row_number().over(w2).cast("int"))
      .filter(col("pos") <= InvPostingK)
      .select(col("tok"), col("df"), col("pos"), col("doc_id"), col("tf"))
      .orderBy(col("tok"), col("pos"))
  }

  /** Literal query of [[t_trigram_search]]; ~5% of docs contain it,
    * and (fixture-checked in the spec) the trigram candidate stage
    * both PRUNES the corpus and over-generates — so neither stage of
    * the index search is vacuous. */
  private[ops] val TriQuery = "merge part"

  private[ops] def triGrams(q: String): Seq[String] =
    (0 to q.length - 3).map(i => q.substring(i, i + 3)).distinct

  /** The trigram index: every distinct character trigram per doc —
    * the pg_trgm / code-search structure. Building it is one
    * corpus-sized pass (paid once; the durable-store treatment is
    * [[TextIndexStore]]'s manifest pattern); queries probe posting
    * lists by trigram equi-join and never rescan the corpus text. */
  private[ops] def trigramIndex(docs: DataFrame): DataFrame =
    trigramRows(docs).distinct()

  /** Raw exploded (doc_id, trigram) occurrences, pre-distinct — the
    * shared core of [[trigramIndex]] (full index: distinct over every
    * trigram) and [[t_trigram_search]]'s probed build (filter to the
    * query's trigrams FIRST, then distinct — the posting lists a
    * durable index would read). */
  private[ops] def trigramRows(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("tri"))

  /** SUBSTRING SEARCH THROUGH THE CHARACTER-TRIGRAM INDEX — how code
    * search and pg_trgm turn `LIKE '%q%'` from a full scan into an
    * index probe: a doc can contain the literal only if it contains
    * ALL of the query's trigrams, so candidates are an equi-join of
    * the (broadcast) query trigrams against the index with an
    * all-present count filter, and only candidates are VERIFIED with
    * the real `contains` — trigram candidacy is necessary, not
    * sufficient (the spec pins both the pruning and the
    * over-generation on this fixture). Hash-matching the naive
    * full-scan oracle proves the index path loses and invents
    * nothing. At 100 TB the probe touches |q|−2 posting lists and the
    * verify touches only candidate docs — the corpus text never
    * rescans. */
  val t_trigram_search: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val qTris = triGrams(TriQuery)
    val qDf = s.createDataFrame(qTris.map(Tuple1(_))).toDF("tri")
    // The query's trigram set prunes the index stream BEFORE the
    // per-doc distinct: a durable index reads only the |q|−2 probed
    // posting lists, and this inline build keeps that property by
    // filtering the exploded trigrams to the query set FIRST — the
    // old shape paid the distinct's exchange over EVERY corpus
    // trigram and then immediately discarded ~99.9% of them in the
    // join (guide §2.3, project/filter before the exchange; measured
    // sf0.1: the (doc, trigram) distinct was the query's dominant
    // shuffle). Filter-then-distinct ≡ distinct-then-filter on the
    // filter column, so candidates — and the oracle hash — are
    // unchanged.
    val cands = trigramRows(docs)
      .join(broadcast(qDf), "tri")
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("ntri"))
      .filter(col("ntri") === qTris.length)
    cands.join(docs, "doc_id")
      .filter(col("text").contains(TriQuery))
      .select(col("doc_id"),
        ((length(col("text")) - length(replace(col("text"), lit(TriQuery), lit(""))))
          / TriQuery.length).cast("long").as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Jaro-Winkler fuzzy string similarity over a KEYED candidate pairing
    * (adjacent part names) — the record-linkage scorer, via the
    * codegen'd [[graft.functions.JaroWinkler]] expression, alongside
    * built-in `levenshtein` for the edit-distance view of the same
    * pairs. Rounded to 9 dp: the kernel mirrors DuckDB's operation
    * order so the doubles agree to the ulp, and 9 dp absorbs any
    * platform libm drift. The pairing is an equi-join (each row meets
    * exactly one candidate) — the 100 TB contract for any O(len²)
    * per-pair scorer is that candidates come from a bounded join
    * (blocking/banding), never a cross join. */
  val t_jaro_winkler: Q = (s, d) => {
    val p1 = Tables.part(s, d)
      .select(col("p_partkey").as("k1"), col("p_name").as("name1"))
    val p2 = Tables.part(s, d)
      .select((col("p_partkey") - 1).as("k2"), col("p_name").as("name2"))
    p1.join(p2, col("k1") === col("k2"))
      .select(col("k1").as("p_partkey"),
        round(graft.functions.JaroWinkler.jaroWinkler(col("name1"), col("name2")), 9)
          .as("jw9"),
        levenshtein(col("name1"), col("name2")).cast("long").as("lev"))
      .orderBy(col("p_partkey"))
  }

  // ---------------------------------------------------- n-gram LM

  /** Bigram language-model training + held-out scoring — the
    * CCNet-style "perplexity filter" shape: fit an n-gram LM on half
    * the corpus (even doc_ids), score the other half. The
    * oracle-checked outputs are the EXACT INTEGER score inputs per
    * held-out document — bigram total, out-of-vocabulary bigrams, and
    * the summed model counts (bigram and conditioning-unigram) — from
    * which a client computes `Σ −ln(c(a,b)/c(a·))` downstream. The ln
    * itself is deliberately NOT in the oracle-checked columns:
    * transcendental functions are not correctly-rounded-guaranteed
    * across libm implementations, so a cross-engine hash on them
    * would be a coin flip — the integers are the portable contract
    * (same reasoning as q_corr_stats' exact co-moments).
    *
    * Scale shape: bigram extraction is a narrow in-row HOF
    * (`zip_with` over two slices — no posexplode self-join); the
    * model is an aggregated count table bounded by the observed
    * bigram vocabulary, orders of magnitude below the corpus, so the
    * scoring joins are AQE-broadcast here and stay shuffle-joins at
    * whatever vocabulary size outgrows broadcast; per-doc scoring is
    * one hash aggregate. Unigram counts are bigram-FIRST-position
    * counts, so c(a,b)/c(a,·) is a proper conditional MLE. */
  /** Per-doc bigrams via the narrow in-row HOF (`zip_with` over two
    * slices — no posexplode self-join), shared by [[t_ngram_lm]] and
    * [[t_ccnet_bucket]]. */
  private def docBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(x, y) -> named_struct('a', x, 'b', y))")).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))

  val t_ngram_lm: Q = (s, d) => {
    val bigrams = docBigrams(Tables.documents(s, d))
    val train = bigrams.filter(col("doc_id") % 2 === 0)
    val biModel = train.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("bi_n"))
    val uniModel = train.groupBy(col("a")).agg(count(lit(1)).as("uni_n"))
    bigrams.filter(col("doc_id") % 2 === 1)
      .join(biModel, Seq("a", "b"), "left")
      .join(uniModel, Seq("a"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("bi_n").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("bi_n"), lit(0L))).as("sum_bi_n"),
        sum(coalesce(col("uni_n"), lit(0L))).as("sum_uni_n"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-STYLE QUALITY BUCKETS — the decision step after the LM
    * scoring ([[t_ngram_lm]]): held-out docs split into head / middle
    * / tail by EXACT corpus-derived tertiles of an integer perplexity
    * proxy — mean per-bigram RARITY COST, `1e6 DIV c(a,b)` for a seen
    * bigram and a `2e6` out-of-vocabulary penalty, averaged over the
    * doc. Monotone in the LM's surprise like perplexity (frequent
    * bigrams ≈ 0, hapax 1e6, unseen 2e6) but closed under integer
    * arithmetic, so it hash-matches cross-engine where a float
    * `exp(Σln)` would be a libm coin flip. CCNet trains on
    * head+middle and drops tail; this emits the decision per doc so a
    * pipeline filters with one predicate.
    *
    * Scale shape: scoring is [[t_ngram_lm]]'s contract (narrow HOF
    * bigrams via [[docBigrams]], broadcast-or-shuffle model join, one
    * hash aggregate); the tertile cutoffs come from a VALUE-DOMAIN
    * aggregate (distinct scores × counts — bounded by 2×10⁶ by
    * construction, never corpus-sized) whose cumulative window walks
    * value groups, the [[RelationalQueries.q_equidepth_hist]]
    * discipline; the cutoff pair then broadcasts onto the scored scan
    * as a 1-row cross. At 100 TB a production CCNet derives cutoffs
    * from a sample; exact is kept so the oracle can hash-match (same
    * trade as [[RelationalQueries.q_table_profile]]). Boundary ties
    * bucket by VALUE (all docs with the cutoff score land on the same
    * side) — deterministic in both engines where NTILE's tie-splitting
    * is row-order-dependent. */
  val t_ccnet_bucket: Q = (s, d) => {
    val bigrams = docBigrams(Tables.documents(s, d))
    val biModel = bigrams.filter(col("doc_id") % 2 === 0)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("bi_n"))
    val scored = bigrams.filter(col("doc_id") % 2 === 1)
      .join(biModel, Seq("a", "b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("bi_n").isNull, 2000000L)
          .otherwise(expr("1000000L DIV bi_n"))).as("rarity"))
      .select(col("doc_id"), expr("rarity DIV n_bigrams").as("score_e6"))
    val g = scored.groupBy(col("score_e6")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("score_e6"))
    val cum = g.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
    val cuts = cum.agg(
      min(when(col("cum") >= expr("(n + 2) DIV 3"), col("score_e6"))).as("t1"),
      min(when(col("cum") >= expr("(2 * n + 2) DIV 3"), col("score_e6"))).as("t2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("score_e6"),
        when(col("score_e6") <= col("t1"), "head")
          .when(col("score_e6") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------- BPE training

  /** Rounds of distributed BPE merge learning in [[t_bpe_train]] —
    * well below the fixture vocabulary's ~89-merge saturation. */
  val BpeTrainRounds = 8

  /** DISTRIBUTED BPE merge training — the learning half of the
    * committed tokenizer ([[graft.functions.BpeTokenizer]] encodes
    * with a fixed table; this op LEARNS such a table from the corpus).
    * The scale shape is the one production BPE trainers
    * (GPT-2-family) actually use: one corpus-sized shuffle reduces
    * text to WORD COUNTS, and every training round after that runs on
    * the vocabulary table — pair counting is a groupBy over distinct
    * words weighted by their counts (~10⁷ rows at 100 TB, not the
    * corpus), the argmax is a 1-row collect, and the merge applies as
    * a narrow per-word string rewrite. Rounds are inherently
    * sequential (each merge changes the next round's pair counts);
    * `localCheckpoint` per round caps the growing lineage exactly as
    * [[PipelineOps.p_host_rank]] documents.
    *
    * Merge APPLICATION uses the pipe-delimited string form with two
    * literal `replace` passes — identical leftmost-non-overlapping
    * semantics in Spark and DuckDB, so the oracle hash cannot drift
    * (the second pass catches an occurrence whose shared delimiter
    * the first consumed: `|a|b|a|b|`). This equals the reference
    * trainer's token walk ([[graft.functions.BpeTrainer.train]]) on
    * any corpus without ≥6-token same-token runs inside one word —
    * true of text vocabularies generally and of this fixture
    * (spec-asserted: the 8 learned merges equal the sequential
    * trainer's, proving the distributed loop ≡ the reference). Ties
    * break lexicographically on (left, right), same as the trainer.
    * The [[graft.functions.BpeTrainer.MaxTokenLen]] cap gates pair
    * CANDIDATES, as in the trainer. */
  val t_bpe_train: Q = (s, d) => {
    val cap = graft.functions.BpeTrainer.MaxTokenLen
    var words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(concat(lit("|"), regexp_replace(col("w"), "(.)", "$1|")).as("seq"),
        col("c"))
      .localCheckpoint()
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 0 until BpeTrainRounds) {
      val toks = words.select(col("c"),
        split(trim(col("seq"), "|"), "\\|").as("t"))
      val best = toks
        .select(col("c"), explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
            "(x, y) -> named_struct('a', x, 'b', y))")).as("bg"))
        .select(col("c"), col("bg.a").as("a"), col("bg.b").as("b"))
        .filter(length(col("a")) + length(col("b")) <= cap)
        .groupBy(col("a"), col("b")).agg(sum(col("c")).as("n"))
        .orderBy(desc("n"), col("a"), col("b")).limit(1)
        .head()
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      learned += ((rank, l, r, n))
      val pat = s"|$l|$r|"
      val rep = s"|$l$r|"
      words = words
        .withColumn("seq",
          replace(replace(col("seq"), lit(pat), lit(rep)), lit(pat), lit(rep)))
        .localCheckpoint()
    }
    import s.implicits._
    learned.result().toDF("mrank", "mleft", "mright", "n")
      .select(col("mrank").cast("int").as("mrank"), col("mleft"),
        col("mright"), col("n"))
      .orderBy(col("mrank"))
  }

  /** The DuckDB replay of [[t_bpe_train]]: [[BpeTrainRounds]] unrolled
    * rounds, each a pair-count CTE (argmax via ORDER BY n DESC, a, b
    * LIMIT 1 — the trainer's lexicographic tie-break) and a rewrite
    * CTE applying the same two literal replace passes. Every CTE is
    * `AS MATERIALIZED`: DuckDB inlines plain CTEs per REFERENCE, and
    * each round references its predecessor ~5× (FROM + four scalar
    * subqueries) — un-materialized, the 8-round chain expands to ~5⁸
    * re-evaluations of the base scan (observed as an fd-exhaustion
    * blowup, not just slowness). */
  private def bpeTrainOracle: String = {
    val cap = graft.functions.BpeTrainer.MaxTokenLen
    val rounds = (0 until BpeTrainRounds).map { r =>
      val prev = s"w$r"
      s"""p$r AS MATERIALIZED (SELECT a, b, n FROM (
         |  SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(c) AS BIGINT) AS n
         |  FROM (SELECT t, c, unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM (SELECT string_split(trim(seq, '|'), '|') AS t, c FROM $prev))
         |  WHERE length(t[i]) + length(t[i + 1]) <= $cap
         |  GROUP BY a, b) g
         |  ORDER BY n DESC, a, b LIMIT 1),
         |w${r + 1} AS MATERIALIZED (SELECT replace(replace(seq,
         |    '|' || (SELECT a FROM p$r) || '|' || (SELECT b FROM p$r) || '|',
         |    '|' || (SELECT a FROM p$r) || (SELECT b FROM p$r) || '|'),
         |    '|' || (SELECT a FROM p$r) || '|' || (SELECT b FROM p$r) || '|',
         |    '|' || (SELECT a FROM p$r) || (SELECT b FROM p$r) || '|') AS seq, c
         |  FROM $prev)""".stripMargin
    }
    val out = (0 until BpeTrainRounds)
      .map(r => s"SELECT $r AS mrank, a AS mleft, b AS mright, n FROM p$r")
      .mkString("\n  UNION ALL ")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS seq, c
       |  FROM (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |        WHERE length(w) > 0 GROUP BY w)),
       |${rounds.mkString(",\n")}
       |SELECT CAST(mrank AS INTEGER) AS mrank, mleft, mright, n FROM (
       |  $out) u
       |ORDER BY mrank""".stripMargin
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, Q] = Map(
    "t_bpe_train" -> t_bpe_train,
    "t_ngram_lm" -> t_ngram_lm,
    "t_ccnet_bucket" -> t_ccnet_bucket,
    "t_jaro_winkler" -> t_jaro_winkler,
    "t_text_stats" -> t_text_stats,
    "t_token_count" -> t_token_count,
    "t_chunk" -> t_chunk,
    "t_bpe_tokens" -> t_bpe_tokens,
    "t_lang_id" -> t_lang_id,
    "t_quality_score" -> t_quality_score,
    "t_idf_score" -> t_idf_score,
    "t_keyword_topk" -> t_keyword_topk,
    "t_bigram_score" -> t_bigram_score,
    "t_repetition" -> t_repetition,
    "t_fingerprint" -> t_fingerprint,
    "t_heavy_hitters" -> t_heavy_hitters,
    "t_bm25" -> t_bm25,
    "t_rerank" -> t_rerank,
    "t_bm25_served" -> t_bm25_served,
    "t_bm25_sized" -> t_bm25_sized,
    "t_bm25_delta" -> t_bm25_delta,
    "t_bm25_deleted" -> t_bm25_deleted,
    "t_bm25_purged" -> t_bm25_purged,
    "t_bm25_updated" -> t_bm25_updated,
    "t_bm25_resharded" -> t_bm25_resharded,
    "t_bm25_query" -> t_bm25_query,
    "t_bm25_asof" -> t_bm25_asof,
    "t_inverted_index" -> t_inverted_index,
    "t_trigram_search" -> t_trigram_search,
  )

  // --------------------------------------- persisted-index serving

  /** Write-once durable text index per (session, fixture dir) —
    * the lexical mirror of [[SimilarityOps.persistedIndexDir]]. Lives
    * under tmpdir for the session, deleted on JVM exit. */
  private val persistedTextIndexDirs = new graft.SessionCache.ArtifactDir("textidx")
  private val deltaTextIndexDirs = new graft.SessionCache.ArtifactDir("textidxd")
  private val updatedTextIndexDirs = new graft.SessionCache.ArtifactDir("textidxu")
  private val reshardedTextIndexDirs = new graft.SessionCache.ArtifactDir("textidxr")
  private val deletedTextIndexDirs = new graft.SessionCache.ArtifactDir("textidxdel")
  private val purgedTextIndexDirs = new graft.SessionCache.ArtifactDir("textidxp")
  private val sizedTextIndexDirs = new graft.SessionCache.ArtifactDir("textidxs")

  private[graft] def persistedTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                           d: String): String =
    persistedTextIndexDirs(s, d) { p =>
      TextIndexStore.build(
        Tables.documents(s, d).select(col("doc_id"), col("text")), p)
    }

  /** Write-once INCREMENTALLY-ASSEMBLED index per (session, fixture
    * dir) for [[t_bm25_delta]]: epoch 0 indexes only doc_id % 13 ≠ 0,
    * then [[TextIndexStore.applyDelta]] appends the % 13 = 0 docs —
    * real maintenance over real ids, after which the index covers
    * exactly the full corpus. */
  private[graft] def deltaTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                       d: String): String =
    deltaTextIndexDirs(s, d) { p =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextIndexStore.build(docs.filter(col("doc_id") % 13 =!= 0), p)
      TextIndexStore.applyDelta(s, p, docs.filter(col("doc_id") % 13 === 0)): Unit
    }

  /** The updated-corpus construction for [[t_bm25_updated]], shared
    * verbatim by the DuckDB oracle: every `doc_id % 11 = 5` doc's text
    * is REPLACED wholesale (`updated revision notice … <doc_id % 7>`)
    * — full token turnover, so the update path must retract every old
    * posting (df decrements, vocab drops for tokens those docs held
    * exclusively), insert all-new ones, and move Σdl, not merely
    * append. */
  private[graft] val UpdPred = "doc_id % 11 = 5"
  private[graft] val UpdPrefix = "updated revision notice carrying replacement text "

  /** Write-once UPDATED index per (session, fixture dir) for
    * [[t_bm25_updated]]: the full corpus indexed at epoch 0, then the
    * `% 11 = 5` docs' content replaced by ONE
    * [[TextIndexStore.applyUpdate]] flip (no tombstone, no compact —
    * the single-flip update lifecycle). */
  private[graft] def updatedTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                         d: String): String =
    updatedTextIndexDirs(s, d) { p =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextIndexStore.build(docs, p)
      TextIndexStore.applyUpdate(s, p,
        docs.filter(col("doc_id") % 11 === 5)
          .select(col("doc_id"),
            concat(lit(UpdPrefix), (col("doc_id") % 7).cast("string"))
              .as("text"))): Unit
    }

  /** Write-once RESHARDED index per (session, fixture dir) for
    * [[t_bm25_resharded]]: the full corpus indexed at the default
    * fan-out, then [[TextIndexStore.reshard]] re-hashes the postings
    * to 4× the fan-out behind one flip — the grow-path a 100×-larger
    * corpus takes instead of a full rebuild. */
  private[graft] def reshardedTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                           d: String): String =
    reshardedTextIndexDirs(s, d) { p =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextIndexStore.build(docs, p)
      TextIndexStore.reshard(s, p, TextIndexStore.NumBuckets * 4): Unit
    }

  /** Write-once TOMBSTONED index per (session, fixture dir) for
    * [[t_bm25_deleted]]: the full corpus indexed at epoch 0, then
    * `doc_id % 7 = 3` tombstoned by [[TextIndexStore.applyDelete]] —
    * the index SERVES WITH DELETES (exact N/Σdl, stale df). */
  private[graft] def deletedTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                         d: String): String =
    deletedTextIndexDirs(s, d) { p =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextIndexStore.build(docs, p)
      TextIndexStore.applyDelete(s, p,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))): Unit
    }

  /** Write-once PURGED index per (session, fixture dir) for
    * [[t_bm25_purged]]: the tombstoned index above compacted by
    * [[TextIndexStore.compact]] — tombstones made physical, df
    * recomputed exactly over the survivors. */
  private[graft] def purgedTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                        d: String): String =
    purgedTextIndexDirs(s, d) { p =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextIndexStore.build(docs, p)
      TextIndexStore.applyDelete(s, p,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))): Unit
      TextIndexStore.compact(s, p): Unit
    }

  /** BM25 served from the PERSISTED inverted index
    * ([[TextIndexStore]]): vocab stats pick the query terms, only
    * their posting buckets are read, N/Σdl ride in from the manifest
    * — zero corpus jobs at query time, and the result hash-matches
    * the SAME DuckDB oracle as [[t_bm25]] (the from-scratch replay),
    * which is the whole claim: the persisted artifacts reproduce the
    * corpus computation exactly. */
  lazy val t_bm25_served: Q = (s, d) => {
    val dir = persistedTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.open(dir))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** BM25 served from an index whose posting fan-out was SIZE-DERIVED
    * from the measured posting volume ([[TextIndexStore.SizeDerived]]
    * — the round-15 production sizing that keeps bucket files at a
    * target size and the build linear in data): hash-matching the
    * identical from-scratch oracle proves the fan-out is pure LAYOUT —
    * scores are bit-identical at whatever bucket count the volume
    * dictates. At fixture scale the derived fan-out lands on the
    * floor (16), so this witness proves the DERIVATION path end to
    * end (posting count → fan-out → manifest → probe); serve
    * equivalence ACROSS fan-outs is separately spec-pinned by
    * TextIndexStoreSpec's fan-out sweep, and the ×100 ScaleBench tier
    * builds at the genuinely different derived value (256). */
  lazy val t_bm25_sized: Q = (s, d) => {
    val dir = sizedTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.open(dir))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** Write-once SIZE-DERIVED-fan-out index per (session, fixture) for
    * [[t_bm25_sized]]. */
  private[graft] def sizedTextIndexDir(s: org.apache.spark.sql.SparkSession,
                                       d: String): String =
    sizedTextIndexDirs(s, d) { p =>
      TextIndexStore.build(
        Tables.documents(s, d).select(col("doc_id"), col("text")), p,
        numBuckets = TextIndexStore.SizeDerived)
    }

  /** BM25 served from the INCREMENTALLY-assembled index (build on
    * 12/13 of the corpus, delta-append the rest): hash-matching the
    * identical from-scratch oracle proves the append commit — merged
    * postings, summed dfs, bumped N/Σdl — converges exactly to the
    * full-build answer. */
  lazy val t_bm25_delta: Q = (s, d) => {
    val dir = deltaTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.open(dir))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** BM25 for an ARBITRARY query — the actual search-serving shape:
    * the fixed witnesses always score the corpus's top-[[BmQueryK]]
    * df terms (determinism), but a user query is whatever terms the
    * user typed. This witness serves the df-rank-6..10 terms (a
    * deterministic stand-in for "terms OUTSIDE the default probe
    * set", derived from the persisted vocab stats — zero corpus
    * jobs): their df comes from a pushed `tok IN (...)` stats lookup
    * and only THEIR posting buckets are read. The oracle replays the
    * same rank-window term selection from scratch. */
  lazy val t_bm25_query: Q = (s, d) => {
    val dir = persistedTextIndexDir(s, d)
    val m = TextIndexStore.open(dir)
    val qTerms = s.read.parquet(s"$dir/${m.stats}")
      .orderBy(desc("df"), col("tok")).limit(BmQueryK * 2)
      .collect().map(_.getString(0)).drop(BmQueryK).toSeq
    TextIndexStore.bm25ScoresFor(s, dir, m, qTerms)
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** BM25 TIME-TRAVELED to the pre-delta epoch — the compliance /
    * reproducibility read every versioned store owes ("what did the
    * index serve LAST WEEK?"), previously spec-pinned, now
    * oracle-checked: [[TextIndexStore.openAt]] resolves epoch 0 of the
    * incrementally-assembled index (built on the `doc_id % 13 ≠ 0`
    * corpus, before the delta appended the rest), and serving under
    * that manifest must reproduce the OLD answer bit-for-bit — its own
    * stats pick the query terms, its own N/Σdl scale the scores, its
    * own bucket pointers bound the reads; nothing leaks in from the
    * later epoch sharing the directory. The DuckDB oracle replays BM25
    * from scratch over ONLY the pre-delta corpus. */
  lazy val t_bm25_asof: Q = (s, d) => {
    val dir = deltaTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.openAt(dir, 0L))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** BM25 after a RESHARD to 4× the posting fan-out (one flip, posting
    * rows re-hashed from their stored tokens — zero corpus jobs, no
    * re-tokenize): hash-matching the SAME from-scratch oracle as
    * [[t_bm25]] proves the re-layout changed nothing observable, while
    * the probe-read bound (≤ query-term buckets) now holds against the
    * new fan-out — the grow-path that keeps per-bucket posting volume
    * ~√N as the corpus outgrows its birth sizing. */
  lazy val t_bm25_resharded: Q = (s, d) => {
    val dir = reshardedTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.open(dir))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** BM25 after a SINGLE-FLIP content UPDATE (1/11 of the corpus
    * replaced wholesale by one [[TextIndexStore.applyUpdate]] commit):
    * hash-matching the from-scratch DuckDB replay over the UPDATED
    * corpus proves the one-epoch update converges exactly to a fresh
    * build — old postings physically gone from the rewritten buckets,
    * df decremented (vocabulary drops tokens the updated docs held
    * exclusively), Σdl moved, no tombstone involved. The operation the
    * old delete→compact→insert dance made three epochs, in one. */
  lazy val t_bm25_updated: Q = (s, d) => {
    val dir = updatedTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.open(dir))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** BM25 served WITH TOMBSTONES (1/7 of the corpus deleted, zero
    * posting bytes touched): the Lucene serve-with-deletes semantics
    * — survivors only, exact N/Σdl from the decremented manifest
    * scalars, per-term df STALE until the purge — replayed exactly by
    * the oracle, so even the documented df staleness is hash-pinned,
    * not hand-waved. */
  lazy val t_bm25_deleted: Q = (s, d) => {
    val dir = deletedTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.open(dir))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  /** BM25 after PURGE COMPACTION of the tombstoned index: the
    * corpus-sized merge physically drops deleted postings and repays
    * the df debt, so serving hash-matches a from-scratch build over
    * the surviving corpus — the completed delete lifecycle. */
  lazy val t_bm25_purged: Q = (s, d) => {
    val dir = purgedTextIndexDir(s, d)
    TextIndexStore.bm25Scores(s, dir, TextIndexStore.open(dir))
      .orderBy(desc("score_e6"), col("doc_id"))
      .limit(BmTopK)
      .orderBy(col("doc_id"))
  }

  private val profValues =
    LangProfiles.map { case (l, t) => s"('$l','$t')" }.mkString(", ")
  private val stopList = Stopwords.map("'" + _ + "'").mkString(", ")

  val oracles: Map[String, String] = Map(
    "t_bpe_train" -> bpeTrainOracle,
    // the bigram extraction replayed via 1-based array indexing; the
    // model CTEs and scoring joins mirror the Spark plan exactly
    "t_ngram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b
        |       FROM (SELECT doc_id, t,
        |               unnest(generate_series(1, len(t) - 1)) AS i
        |             FROM toks)),
        |bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS bi_n
        |       FROM bg WHERE doc_id % 2 = 0 GROUP BY a, b),
        |uni AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS uni_n
        |        FROM bg WHERE doc_id % 2 = 0 GROUP BY a)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN bi.bi_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(COALESCE(bi.bi_n, 0)) AS BIGINT) AS sum_bi_n,
        |  CAST(SUM(COALESCE(uni.uni_n, 0)) AS BIGINT) AS sum_uni_n
        |FROM bg g LEFT JOIN bi ON g.a = bi.a AND g.b = bi.b
        |          LEFT JOIN uni ON g.a = uni.a
        |WHERE g.doc_id % 2 = 1
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // t_ccnet_bucket: the same LM CTEs, then the integer OOV-rate
    // proxy, exact value-domain tertile cutoffs, and the bucket CASE
    "t_ccnet_bucket" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b
        |       FROM (SELECT doc_id, t,
        |               unnest(generate_series(1, len(t) - 1)) AS i
        |             FROM toks)),
        |bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS bi_n
        |       FROM bg WHERE doc_id % 2 = 0 GROUP BY a, b),
        |lm AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(CASE WHEN bi.bi_n IS NULL THEN 2000000 ELSE 1000000 // bi.bi_n END) AS BIGINT) AS rarity
        |       FROM bg g LEFT JOIN bi ON g.a = bi.a AND g.b = bi.b
        |       WHERE g.doc_id % 2 = 1 GROUP BY g.doc_id),
        |scored AS (SELECT doc_id, CAST(rarity // n_bigrams AS BIGINT) AS score_e6
        |           FROM lm),
        |grp AS (SELECT score_e6, CAST(COUNT(*) AS BIGINT) AS cnt FROM scored GROUP BY score_e6),
        |cum AS (SELECT score_e6, SUM(cnt) OVER (ORDER BY score_e6) AS cum FROM grp),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
        |cuts AS (SELECT MIN(CASE WHEN cum >= (n + 2) // 3 THEN score_e6 END) AS t1,
        |                MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN score_e6 END) AS t2
        |         FROM cum CROSS JOIN tot)
        |SELECT doc_id, score_e6,
        |  CASE WHEN score_e6 <= t1 THEN 'head'
        |       WHEN score_e6 <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin,
    "t_jaro_winkler" ->
      """SELECT p1.p_partkey,
        |  ROUND(jaro_winkler_similarity(p1.p_name, p2.p_name), 9) AS jw9,
        |  CAST(levenshtein(p1.p_name, p2.p_name) AS BIGINT) AS lev
        |FROM part p1 JOIN part p2 ON p2.p_partkey = p1.p_partkey + 1
        |ORDER BY p1.p_partkey""".stripMargin,
    "t_text_stats" ->
      """SELECT lang, COUNT(1) AS n_docs, COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  CAST(ROUND(AVG(n_chars) * 100) AS BIGINT) AS avg_chars_e2
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS alpha_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS piece_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // t_chunk: the identical W/S windowing replayed from first
    // principles — chunk count formula, short last chunk, and the
    // overlap all pinned by the chunk-text hash
    "t_chunk" ->
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |n AS (SELECT doc_id, w,
        |        CASE WHEN len(w) <= $ChunkW THEN 1
        |             ELSE CAST(ceil((len(w) - $ChunkW) / $ChunkS.0) AS INT) + 1 END AS nc
        |      FROM words),
        |c AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS i FROM n)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(LEAST($ChunkW, len(w) - i * $ChunkS) AS INTEGER) AS n_words,
        |  array_to_string(w[(i * $ChunkS + 1):(i * $ChunkS + $ChunkW)], ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "t_bpe_tokens" ->
      s"""WITH $bpeCountCtes
         |SELECT doc_id, n_pieces, n_tokens FROM bpe ORDER BY doc_id""".stripMargin,
    // exact top-10 recomputed independently; the CMS contract flag is
    // the witnessed approximate side
    "t_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(1) AS n FROM t WHERE len(tok) > 0 GROUP BY tok)
        |SELECT tok, n, TRUE AS cms_ok FROM c
        |ORDER BY n DESC, tok LIMIT 10""".stripMargin,
    // the NAIVE full scan: hash-matching it proves the trigram index
    // path returns exactly the answer a corpus rescan would
    "t_trigram_search" ->
      s"""SELECT doc_id,
         |  CAST((length(text) - length(replace(text, '$TriQuery', '')))
         |       / ${TriQuery.length} AS BIGINT) AS n_hits
         |FROM documents WHERE contains(text, '$TriQuery')
         |ORDER BY doc_id""".stripMargin,
    // single-window replay of the salted two-phase posting build —
    // the hash match proves the de-skewed formulation selects the
    // identical posting heads
    "t_inverted_index" ->
      s"""WITH occ AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, COUNT(*) AS df FROM occ GROUP BY tok),
         |top AS (SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT $InvTopTokens),
         |p AS (SELECT o.tok, t.df, o.doc_id, o.tf,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY o.tok ORDER BY o.doc_id) AS INTEGER) AS pos
         |      FROM occ o JOIN top t USING (tok))
         |SELECT tok, df, pos, doc_id, tf FROM p
         |WHERE pos <= $InvPostingK ORDER BY tok, pos""".stripMargin,
    // identical fixed-point BM25 replay: integer idf, saturation and
    // length normalization, floor division everywhere
    "t_bm25" -> bm25Oracle,
    // stage 1 = the t_bm25 replay verbatim; stage 2 = the coverage +
    // first-position proximity rescoring over only the candidates
    "t_rerank" ->
      s"""WITH occ_all AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, COUNT(*) AS df FROM occ_all GROUP BY tok),
         |qt AS (SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT $BmQueryK),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM occ_all GROUP BY doc_id),
         |tot AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         |               (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS sum_dl),
         |sc AS (
         |  SELECT o.doc_id,
         |    ((1000000 * t.n_docs) // q.df) AS idf_e6,
         |    o.tf,
         |    2500 + (7500 * l.dl * t.n_docs) // t.sum_dl AS norm_e4
         |  FROM occ_all o JOIN qt q USING (tok) JOIN dl l USING (doc_id), tot t),
         |c AS (
         |  SELECT doc_id,
         |    (idf_e6 * tf * 22000) // (tf * 10000 + (120 * norm_e4) // 100) AS contrib_e6
         |  FROM sc),
         |agg AS (SELECT doc_id, CAST(SUM(contrib_e6) AS BIGINT) AS score_e6 FROM c GROUP BY doc_id),
         |cand AS (SELECT doc_id, score_e6 AS bm25_e6 FROM agg
         |         ORDER BY score_e6 DESC, doc_id LIMIT $BmTopK),
         |words AS (SELECT d.doc_id, string_split(d.text, ' ') AS w
         |          FROM documents d JOIN cand USING (doc_id)),
         |pos AS (SELECT doc_id, w[i] AS tok, i FROM
         |          (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM words)),
         |fp AS (SELECT doc_id, tok, MIN(i) AS fp
         |       FROM pos JOIN qt USING (tok) GROUP BY 1, 2),
         |rs AS (SELECT doc_id,
         |         CAST(COUNT(*) * 10000000 + SUM(1000000 // (10 + fp)) AS BIGINT) AS rerank_e6,
         |         COUNT(*) AS coverage
         |       FROM fp GROUP BY doc_id)
         |SELECT rk, doc_id, rerank_e6, coverage, bm25_e6 FROM (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rerank_e6 DESC, doc_id) AS INTEGER) AS rk,
         |    doc_id, rerank_e6, coverage, bm25_e6
         |  FROM rs JOIN cand USING (doc_id)) t
         |WHERE rk <= $RerankTopK ORDER BY rk""".stripMargin,
    // the served index must reproduce the from-scratch computation
    // EXACTLY — same oracle, zero allowance for drift
    "t_bm25_served" -> bm25Oracle,
    // the size-derived fan-out is pure layout: SAME oracle
    "t_bm25_sized" -> bm25Oracle,
    // a reshard is observationally a no-op: same from-scratch oracle
    "t_bm25_resharded" -> bm25Oracle,
    // arbitrary-query serving: the same replay with the query terms
    // swapped to the df-rank-6..10 window
    "t_bm25_query" -> bm25OracleOver("TRUE", "TRUE", "documents",
      s"""SELECT tok, df FROM (
         |    SELECT tok, df, ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS rn
         |    FROM dfreq)
         |  WHERE rn > $BmQueryK AND rn <= ${2 * BmQueryK}""".stripMargin),
    // and so must the incrementally-assembled one (build ∪ delta =
    // the full corpus, so the answer is the same from-scratch replay)
    "t_bm25_delta" -> bm25Oracle,
    // time travel: epoch 0 of that same index serves the PRE-delta
    // answer — a from-scratch replay over only the bootstrap corpus
    "t_bm25_asof" -> bm25OracleOver("doc_id % 13 <> 0", "TRUE"),
    // serve-with-tombstones: survivors score under exact N/Σdl but
    // STALE full-corpus df (the Lucene deleted-docs semantics — the
    // oracle replays the staleness, zero allowance for drift)
    "t_bm25_deleted" -> bm25OracleOver("TRUE", "doc_id % 7 <> 3"),
    // after the purge merge the index IS a fresh build over the
    // survivors — from-scratch replay on the surviving corpus
    "t_bm25_purged" -> bm25OracleOver("doc_id % 7 <> 3", "TRUE"),
    // after the single-flip update the index IS a fresh build over the
    // UPDATED corpus — the oracle recomputes from scratch over it
    "t_bm25_updated" -> bm25OracleOver("TRUE", "TRUE",
      s"""(SELECT doc_id,
         |   CASE WHEN $UpdPred
         |        THEN '$UpdPrefix' || CAST(doc_id % 7 AS VARCHAR)
         |        ELSE text END AS text
         | FROM documents) c""".stripMargin),
  ) ++ langOracles

  private[graft] lazy val bm25Oracle: String = bm25OracleOver("TRUE", "TRUE")

  /** The from-scratch replay over a SUBSET corpus (`indexed` bounds
    * both the stats and the scoring set) — the oracle shape the
    * dead-letter ingest witness needs ([[graft.streaming.StreamingOps
    * .st_dlq_ingest]]: the index must hold exactly the VALID docs). */
  private[graft] def bm25OracleOverIndexed(pred: String): String =
    bm25OracleOver(pred, "TRUE")

  /** THE BM25 replay template, parameterized over two corpus
    * predicates so one SQL definition also covers the tombstone
    * lifecycle: `indexed` bounds the corpus whose statistics the
    * index carries (df, query-term choice), `live` bounds the docs
    * that actually score (tombstoned docs are out; N/Σdl/dl come from
    * the live set — exactly [[TextIndexStore.applyDelete]]'s
    * decremented manifest scalars). (TRUE, TRUE) is the from-scratch
    * replay; (TRUE, survivors) is Lucene's serve-with-deletes
    * (STALE df); (survivors, TRUE) is the post-[[TextIndexStore
    * .compact]] purge, a fresh build over survivors. */
  private def bm25OracleOver(indexed: String, live: String,
                             corpus: String = "documents",
                             qt: String = ""): String =
      s"""WITH occ_all AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $corpus
         |     WHERE $indexed)
         |  GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, COUNT(*) AS df FROM occ_all GROUP BY tok),
         |qt AS (${if (qt.nonEmpty) qt
                   else s"SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT $BmQueryK"}),
         |occ AS (SELECT * FROM occ_all WHERE $live),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM occ GROUP BY doc_id),
         |tot AS (SELECT (SELECT COUNT(*) FROM $corpus WHERE ($indexed) AND ($live)) AS n_docs,
         |               (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS sum_dl),
         |sc AS (
         |  SELECT o.doc_id,
         |    ((1000000 * t.n_docs) // q.df) AS idf_e6,
         |    o.tf,
         |    2500 + (7500 * l.dl * t.n_docs) // t.sum_dl AS norm_e4
         |  FROM occ o JOIN qt q USING (tok) JOIN dl l USING (doc_id), tot t),
         |c AS (
         |  SELECT doc_id,
         |    (idf_e6 * tf * 22000) // (tf * 10000 + (120 * norm_e4) // 100) AS contrib_e6
         |  FROM sc),
         |agg AS (SELECT doc_id, CAST(SUM(contrib_e6) AS BIGINT) AS score_e6,
         |               COUNT(*) AS n_hit FROM c GROUP BY doc_id)
         |SELECT doc_id, score_e6, n_hit FROM
         |  (SELECT * FROM agg ORDER BY score_e6 DESC, doc_id LIMIT $BmTopK)
         |ORDER BY doc_id""".stripMargin

  private lazy val langOracles: Map[String, String] = Map(
    // same integer idf lane as t_idf_score, tf on raw occurrences,
    // identical (score desc, token asc) tie-break
    "t_keyword_topk" ->
      """WITH occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(1) AS tf FROM occ GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(1) AS df FROM tf GROUP BY 1),
        |total AS (SELECT COUNT(1) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, tok,
        |    CAST(tf * ((1000000 * n_docs) // df) AS BIGINT) AS tfidf_e6
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN total)
        |SELECT doc_id, rk, tok, tfidf_e6 FROM (
        |  SELECT doc_id, tok, tfidf_e6,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf_e6 DESC, tok) AS INTEGER) AS rk
        |  FROM scored) t
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "t_lang_id" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |prof(plang, tok) AS (VALUES $profValues),
         |sc AS (SELECT doc_id, plang, COUNT(1) AS score
         |       FROM toks JOIN prof USING (tok) GROUP BY 1, 2),
         |best AS (SELECT doc_id, plang, score,
         |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
         |         FROM sc)
         |SELECT d.doc_id, COALESCE(b.plang, 'und') AS pred_lang,
         |  CAST(COALESCE(b.score, 0) AS BIGINT) AS score
         |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "t_quality_score" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |c AS (SELECT doc_id,
         |        CAST(len(w) AS INTEGER) AS n_tokens,
         |        CAST(len(list_filter(w, x -> x IN ($stopList))) AS INTEGER) AS stop_hits,
         |        CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS INTEGER) AS sum_tok_chars
         |      FROM w)
         |SELECT doc_id, n_tokens, stop_hits,
         |  CAST(ROUND(10000.0 * (
         |    0.4 * LEAST(CAST(n_tokens AS DOUBLE), 100.0) / 100.0 +
         |    0.3 * CAST(stop_hits AS DOUBLE) / n_tokens +
         |    0.3 * LEAST(CAST(sum_tok_chars AS DOUBLE) / n_tokens / 10.0, 1.0)
         |  )) AS BIGINT) AS score_e4
         |FROM c ORDER BY doc_id""".stripMargin,
    "t_idf_score" ->
      """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |df AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id,
        |  CAST(SUM((1000000 * n_docs) // df) AS BIGINT) AS idf_sum_e6,
        |  COUNT(1) AS n_distinct_toks
        |FROM toks JOIN df USING (tok), n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_bigram_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |              FROM w) t),
        |c AS (SELECT bg, count(*) AS cnt FROM occ GROUP BY 1)
        |SELECT doc_id, COUNT(1) AS n_bg,
        |  CAST(SUM(cnt) AS BIGINT) AS cnt_sum,
        |  CAST((1000000 * SUM(cnt)) // COUNT(1) AS BIGINT) AS lm_e6
        |FROM occ JOIN c USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_repetition" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, COUNT(1) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         COUNT(1) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_token_n
        |       FROM tc GROUP BY 1),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bgo AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |              FROM w) t),
        |bc AS (SELECT doc_id, bg, COUNT(1) AS c FROM bgo GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |         CAST(MAX(c) AS BIGINT) AS top_bigram_n
        |       FROM bc GROUP BY 1)
        |SELECT t.doc_id, t.n_tokens, t.n_distinct, t.top_token_n,
        |  COALESCE(b.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(b.top_bigram_n, 0) AS top_bigram_n,
        |  CAST((1000000 * t.top_token_n) // t.n_tokens AS BIGINT) AS rep_tok_e6,
        |  CAST(CASE WHEN COALESCE(b.n_bigrams, 0) > 0
        |       THEN (1000000 * b.top_bigram_n) // b.n_bigrams ELSE 0 END AS BIGINT)
        |    AS rep_bg_e6
        |FROM ts t LEFT JOIN bs b USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id, substr(sha256(text), 1, 16) AS hash16,
        |  CAST(list_aggregate(
        |    list_transform(generate_series(1, length(text) - 7),
        |      i -> list_reduce(
        |             list_prepend(0, list_transform(generate_series(0, 7),
        |               j -> ascii(substr(text, i + j, 1)))),
        |             (acc, x) -> (acc * 257 + x) % 1000003)),
        |    'min') AS BIGINT) AS fp_min,
        |  CAST(len(list_distinct(
        |    list_transform(generate_series(1, length(text) - 7),
        |      i -> list_reduce(
        |             list_prepend(0, list_transform(generate_series(0, 7),
        |               j -> ascii(substr(text, i + j, 1)))),
        |             (acc, x) -> (acc * 257 + x) % 1000003)))) AS INTEGER) AS fp_distinct
        |FROM documents WHERE length(text) >= 8 ORDER BY doc_id""".stripMargin,
  )
}
