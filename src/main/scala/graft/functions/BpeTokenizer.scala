package graft.functions

import java.nio.charset.StandardCharsets

/** Deterministic byte-level BPE tokenizer with a fixed, committed merge
  * table (`graft/bpe_merges.txt` on the classpath) — the production
  * token-accounting unit for the pipeline's budget arithmetic
  * (`t_bpe_tokens`, `p_token_budget`). Training-data budgets are set in
  * TOKENIZER tokens, not whitespace pieces; this supplies them with no
  * external dependencies.
  *
  * Algorithm (classic BPE encode):
  *   1. Text splits on `' '` into pieces; merges never cross a piece
  *      boundary (the GPT-2-family convention, word-anchored).
  *   2. A piece starts as its UTF-8 bytes, each mapped through
  *      [[byteChar]] to one char — printable ASCII (33..126) maps to
  *      itself, every other byte to the distinct char `0x100 + b`, so
  *      the full byte range tokenizes and ASCII text's internal
  *      representation IS its text (what lets the DuckDB oracle replay
  *      the loop over plain chars).
  *   3. Repeatedly find the LOWEST-RANK adjacent token pair present
  *      and merge all its occurrences leftmost-greedily; stop when no
  *      adjacent pair is in the table. Equivalent to applying the
  *      merge rules once each in rank order: rule r's components
  *      already exist before rank r, so a later merge can never create
  *      an instance of an earlier rule — the form the SQL oracle uses.
  *
  * The committed table is produced by [[BpeTrainer]] (deterministic:
  * fixed seed corpus + sf0.001 fixture, max-count pair with
  * lexicographic tie-break). Merges are capped at
  * [[BpeTrainer.MaxTokenLen]] chars: the fixture's closed 31-word
  * vocabulary saturates unrestricted BPE in 89 merges with every word
  * a single token (token count degenerates to the whitespace count);
  * the length cap is the standard guard that keeps the vocabulary
  * subword-granular. On a real open-vocabulary corpus the same trainer
  * yields the usual 1k–50k merges.
  */
object BpeTokenizer {

  /** Byte → internal char. Identity on printable ASCII so ASCII tokens
    * read as their text; other bytes shift to 0x100+b (collision-free,
    * never conflicts with ASCII or with another byte). */
  def byteChar(b: Byte): Char = {
    val u = b & 0xff
    if (u >= 33 && u <= 126) u.toChar else (0x100 + u).toChar
  }

  /** The committed merge table in rank order. */
  lazy val merges: Vector[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "missing resource graft/bpe_merges.txt — run graft.functions.BpeTrainer")
    try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty)
        .map { line =>
          val i = line.indexOf('\t')
          require(i > 0, s"malformed merge line: $line")
          (line.substring(0, i), line.substring(i + 1))
        }
        .toVector
    finally in.close()
  }

  /** (left, right) → rank; lower rank merges first. */
  lazy val ranks: Map[(String, String), Int] =
    merges.iterator.zipWithIndex.toMap

  /** Encode one piece (no spaces) to its BPE tokens. */
  def encodePiece(piece: String): Vector[String] = {
    var toks: Vector[String] =
      piece.getBytes(StandardCharsets.UTF_8).iterator.map(b => byteChar(b).toString).toVector
    if (toks.length < 2) return toks
    val r = ranks
    while (toks.length > 1) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val rk = r.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (rk < best) best = rk
        i += 1
      }
      if (best == Int.MaxValue) return toks
      val (l, rr) = merges(best)
      val merged = l + rr
      // merge all occurrences leftmost-greedily
      val out = Vector.newBuilder[String]
      i = 0
      while (i < toks.length) {
        if (i < toks.length - 1 && toks(i) == l && toks(i + 1) == rr) {
          out += merged; i += 2
        } else {
          out += toks(i); i += 1
        }
      }
      toks = out.result()
    }
    toks
  }

  /** Tokenize whole text (pieces split on ' ', empties dropped). */
  def tokenize(text: String): Vector[String] =
    text.split(' ').iterator.filter(_.nonEmpty).flatMap(encodePiece).toVector

  /** A token-counting closure with a per-instance piece memo — create
    * one per partition in `mapPartitions` so repeated words (every
    * natural corpus) cost one encode each per task, with no shared
    * mutable state across tasks. */
  def tokenCounter(): String => Long = {
    val memo = new java.util.HashMap[String, Integer]()
    text => {
      var total = 0L
      for (p <- text.split(' ') if p.nonEmpty) {
        var n = memo.get(p)
        if (n == null) { n = encodePiece(p).length; memo.put(p, n) }
        total += n.toLong
      }
      total
    }
  }
}

/** Offline, deterministic trainer for the committed merge table. Not
  * part of any query path — run once via
  * `sbt 'runMain graft.functions.BpeTrainer'` to (re)generate
  * `src/main/resources/graft/bpe_merges.txt`, and commit the result.
  *
  * Corpus = the sf0.001 `documents` fixture word frequencies plus
  * [[SeedText]] (weight 1 per occurrence), a fixed passage covering
  * the full a–z alphabet so letters absent from the fixture still have
  * merge context. Selection each step: the maximum-count adjacent pair
  * whose merged token is ≤ [[MaxTokenLen]] chars; ties break to the
  * lexicographically smallest (left, right). Fully deterministic — no
  * RNG, no iteration-order dependence.
  */
object BpeTrainer {

  /** Merged tokens longer than this are never formed (see class doc).
    * 4 keeps the fixture's 4.5-char-average closed vocabulary genuinely
    * subword (~1.5 tokens/word); at 6 almost every word fully merges
    * and the count collapses to the whitespace count. */
  val MaxTokenLen = 4

  /** Upper bound on table size; the corpus saturates well below it. */
  val MaxMerges = 4096

  /** Fixed seed passage (full alphabet, lowercase ASCII). */
  val SeedText: String =
    """the quick brown fox jumps over the lazy dog while a dozen
      |jovial wizards quietly examine the sphinx of black quartz my
      |vexing zebra just proved that packing boxes of jam requires
      |six big trucks a query plan with hash joins shuffles and codegen
      |scans parquet files quickly when filters push down and columns
      |prune the exchange stays narrow and the aggregate stays partial
      |""".stripMargin.toLowerCase.replaceAll("[^a-z ]", " ")

  def train(wordCounts: Map[String, Long],
            maxTokenLen: Int = MaxTokenLen,
            maxMerges: Int = MaxMerges): Vector[(String, String)] = {
    var words: Map[Vector[String], Long] =
      wordCounts.groupMapReduce(kv => kv._1.map(_.toString).toVector)(_._2)(_ + _)
    val merges = Vector.newBuilder[(String, String)]
    var n = 0
    var done = false
    while (n < maxMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((toks, c) <- words; i <- 0 until toks.length - 1)
        if (toks(i).length + toks(i + 1).length <= maxTokenLen) {
          val p = (toks(i), toks(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
        }
      if (pairCounts.isEmpty) done = true
      else {
        val bestCount = pairCounts.valuesIterator.max
        val (l, r) = pairCounts.iterator.collect { case (p, c) if c == bestCount => p }
          .toVector.min
        merges += ((l, r))
        n += 1
        val merged = l + r
        words = words.groupMapReduce { case (toks, _) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < toks.length) {
            if (i < toks.length - 1 && toks(i) == l && toks(i + 1) == r) {
              out += merged; i += 2
            } else { out += toks(i); i += 1 }
          }
          out.result()
        }(_._2)(_ + _)
      }
    }
    merges.result()
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("4", Some("bpe-train"))
    try {
      val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text").collect().map(_.getString(0))
      val wc = scala.collection.mutable.HashMap.empty[String, Long]
      for (t <- fixture.iterator ++ Iterator(SeedText); w <- t.split("\\s+") if w.nonEmpty)
        wc(w) = wc.getOrElse(w, 0L) + 1L
      val table = train(wc.toMap)
      val outPath = java.nio.file.Paths.get("src/main/resources/graft/bpe_merges.txt")
      java.nio.file.Files.createDirectories(outPath.getParent)
      java.nio.file.Files.writeString(outPath,
        table.map { case (l, r) => s"$l\t$r" }.mkString("", "\n", "\n"))
      println(s"[bpe-train] wrote ${table.size} merges to $outPath")
    } finally spark.stop()
  }
}
