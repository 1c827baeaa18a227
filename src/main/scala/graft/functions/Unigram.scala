package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.TempDirs

/** Unigram-LM subword segmentation — the SentencePiece half of the
  * tokenizer family (BPE trains by greedy pair-merging, q76/q105/q106/
  * q120; the unigram model segments each word into the BEST-scoring
  * piece sequence by Viterbi DP). This implements the INFERENCE side
  * exactly and keeps the trained-score seam explicit:
  *
  *  - **Vocab**: candidate pieces are all substrings of length ≤
  *    `maxPieceLen` weighted by corpus word occurrences; the vocab is
  *    the top-`topK` by (freq DESC, piece ASC) UNION every single-char
  *    piece (so any word is always segmentable — the fallback every
  *    real unigram tokenizer keeps). Piece cost = 64 − bitlength(freq)
  *    — an EXACT integer −⌊log₂ freq⌋ stand-in for the trained
  *    −log P(piece) (`bin()` string length is bit-identical on both
  *    engines; a libm log would be the q41 1-ulp seam). Production
  *    drops EM-trained scores into the same map — the stub-seam rule.
  *  - **Viterbi**: per distinct word, best[i] = min over piece lengths
  *    of best[i−len] + cost(word[i−len..i]), with (total cost, piece
  *    count) packed into ONE int64 as cost·4096+pieces so the min is
  *    lexicographic (cheapest, then fewest pieces) and addition
  *    composes — the q131/q137 integer-packing discipline. The DP is
  *    a single `aggregate` fold over character positions: map-only,
  *    no join inside (the piece costs ride along as a plan literal —
  *    tokenizers ship their vocab to every executor; same bounded
  *    driver-collect class as the PQ codebooks).
  *
  * Scale shape: vocab training is one substring explode (≤ 4 rows per
  * char) folded map-side to piece counts + one TakeOrdered top-K; the
  * DP runs once per DISTINCT word (the distinct-word table is orders
  * smaller than the corpus) and joins back to per-doc occurrences on
  * the same key the distinct shuffled on. Words longer than
  * `maxWordLen` are excluded on both engines (documented cap — the
  * oracle's brute-force enumeration is exponential in word length;
  * the DP itself is linear and the cap is gate-side only in spirit).
  */
object Unigram {

  val MaxPieceLen = 4
  val MaxWordLen = 12
  private val Inf = 1L << 40

  private def wordsOf(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("w"))
      .filter(length(col("w")).between(1, MaxWordLen))

  /** Train the piece-cost table and collect it (bounded: ≤ topK +
    * alphabet size entries — the codebook-collect class). */
  def trainVocab(docs: DataFrame, idCol: String, textCol: String,
                 topK: Int = 256): Map[String, Long] = TempDirs.staged { st =>
    val wc = wordsOf(docs, idCol, textCol)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val pieces = st.cache(wc.select(col("wc"),
        explode(flatten(transform(
          sequence(lit(1), length(col("w"))),
          s => transform(
            sequence(lit(1), least(lit(MaxPieceLen), length(col("w")) - s + 1)),
            l => col("w").substr(s, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("freq")))
    val top = pieces.orderBy(col("freq").desc, col("piece").asc).limit(topK)
    val singles = pieces.filter(length(col("piece")) === 1)
    top.unionByName(singles).distinct()
      .select(col("piece"), (lit(64L) - length(bin(col("freq")))).as("cost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The packed-Viterbi column over word column `w`: cost·4096+pieces
    * of the optimal segmentation under `vocab`.
    *
    * Scoring a corpus OTHER than the training corpus: a word
    * containing a character with no vocab piece cannot be segmented —
    * its packed value accumulates at least one `Inf` term (≥ 2⁴⁰, so
    * cost ≥ 2²⁸ after unpacking, orders beyond any real segmentation).
    * That is the OOV signal, not an error: callers filter or bucket on
    * it the way q115 treats OOV tokens (UnigramSpec pins the
    * behavior). Within one corpus the single-char fallback makes every
    * word finite.
    *
    * Oracle seam (r11 advice): the q151 DuckDB shape DROPS an
    * unsegmentable word entirely — no complete-segmentation row
    * survives its join — while this column Inf-scores it into the
    * per-doc total. In-gate the two agree because scoring corpus =
    * training corpus (every word finite); any CROSS-corpus oracle
    * comparison must filter `cost ≥ 2²⁸` rows on the Spark side first
    * or the totals diverge structurally, not numerically. */
  def packedBest(w: Column, vocab: Map[String, Long]): Column = {
    require(vocab.nonEmpty, "empty vocab")
    val costs = typedLit(vocab)
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (acc, i) => concat(acc, array(least((1 to MaxPieceLen).map { len =>
        when(i >= len,
          element_at(acc, i - len + 1) +
            coalesce(
              element_at(costs, w.substr(i - len + 1, lit(len))) * 4096L + 1L,
              lit(Inf)))
          .otherwise(lit(Inf))
      }: _*))),
      acc => element_at(acc, length(w) + 1))
  }

  /** The BEST segmentation's piece sequence (array<string>) for word
    * column `w` under `vocab` — the E-step extraction [[packedBest]]
    * deliberately omits (it returns only the packed optimum).
    *
    * Shape: the same forward DP, then a ≤ `length(w)`-step backtrack
    * fold that at each step prepends the SMALLEST piece length whose
    * prefix optimum composes to the current position's optimum. The
    * greedy smallest-last-piece choice makes the REVERSED length
    * sequence lexicographically minimal over all optimal paths — the
    * deterministic canonical form the oracle reproduces with
    * `ORDER BY enc, reverse(lens)` over its enumerated paths (ties in
    * `enc` imply equal piece counts, so the digit strings compare
    * positionally). The DP array is LAMBDA-BOUND once
    * (`transform(array(dp), d => …)`) — referencing the aggregate
    * inside the backtrack lambda would re-run the whole DP per step
    * (the q89 interpreted-eval trap).
    *
    * OOV contract: a word with an uncoverable character yields a
    * deterministic but meaningless path (every step falls back to
    * length 1); callers gate on [[packedBest]]'s Inf signal first.
    * Within one corpus the single-char fallback makes every word
    * finite, so EM training on the training corpus never hits it. */
  def bestPieces(w: Column, vocab: Map[String, Long]): Column = {
    require(vocab.nonEmpty, "empty vocab")
    val costs = typedLit(vocab)
    def pack(piece: Column): Column =
      coalesce(element_at(costs, piece) * 4096L + 1L, lit(Inf))
    val dp = aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (acc, i) => concat(acc, array(least((1 to MaxPieceLen).map { len =>
        when(i >= len,
          element_at(acc, i - len + 1) + pack(w.substr(i - len + 1, lit(len))))
          .otherwise(lit(Inf))
      }: _*))))
    element_at(transform(array(dp), d => {
      val lens = aggregate(
        sequence(lit(1), length(w)),
        struct(length(w).cast("int").as("pos"),
          array().cast("array<int>").as("lens")),
        (st, _) => {
          val pos = st.getField("pos")
          def composes(len: Int): Column =
            pos >= len &&
              (element_at(d, pos - len + 1) +
                pack(w.substr(pos - len + 1, lit(len))) === element_at(d, pos + 1))
          // smallest composing length first; fallback 1 guarantees
          // termination on the (never-in-gate) OOV garbage path
          val chosen = (1 to MaxPieceLen)
            .foldRight(lit(1): Column) { (len, els) =>
              when(composes(len), lit(len)).otherwise(els) }
          when(pos <= 0, st).otherwise(
            struct((pos - chosen).cast("int").as("pos"),
              concat(array(chosen), st.getField("lens")).as("lens")))
        },
        st => st.getField("lens"))
      transform(sequence(lit(1), size(lens)), i =>
        w.substr(
          lit(1) + aggregate(slice(lens, lit(1), i - 1), lit(0), (a, x) => a + x),
          element_at(lens, i)))
    }), 1)
  }

  /** One hard-EM round (the SentencePiece trainer's E/M pair with
    * Viterbi counts): E-step segments every distinct word under the
    * current costs ([[bestPieces]], weighted by corpus word count);
    * M-step re-estimates each piece's count as its occurrences across
    * the best segmentations and PRUNES to the top-`topK` by
    * (count DESC, piece ASC) — keeping every single-char piece (the
    * coverage floor, count 0 allowed: `bin(0)` = "0" → cost 63, the
    * near-Inf-but-finite cost an unused fallback deserves). New cost
    * = 64 − bitlength(count), the same exact-integer −⌊log₂⌋ algebra
    * as [[trainVocab]] — so every EM round stays DuckDB-replayable
    * (real EM's fractional expected counts would reintroduce the libm
    * seam the q151 gate exists to avoid; with Viterbi counts this is
    * the "hard-EM" SentencePiece variant, and the lattice algebra is
    * shared verbatim with inference). */
  def emRound(docs: DataFrame, idCol: String, textCol: String,
              vocab: Map[String, Long], topK: Int = 256): Map[String, Long] =
      TempDirs.staged { st =>
    val wc = st.cache(wordsOf(docs, idCol, textCol)
      .groupBy("w").agg(count(lit(1)).as("wc")))
    val counts = wc
      .select(col("wc"), explode(bestPieces(col("w"), vocab)).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("cnt"))
    val singles = wc.select(explode(transform(
        sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("piece")).distinct()
    val top = counts.orderBy(col("cnt").desc, col("piece").asc).limit(topK)
    val coverage = singles.join(counts, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    top.unionByName(coverage).distinct()
      .select(col("piece"), (lit(64L) - length(bin(col("cnt")))).as("cost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** SentencePiece-style trainer: the [[trainVocab]] frequency
    * heuristic as the init, then `rounds` hard-EM refinements. The
    * heuristic's scaladoc has called itself the stub seam since it
    * landed; this is the trainer that fills it (r11 verdict item 6).
    * UnigramSpec pins the trained-vocab sequence against a driver-side
    * reference trainer (the q106 BPE discipline) and q158 gates
    * segment scores under the round-1 vocab against a full DuckDB
    * replay of init → E → M → re-segment. */
  def trainVocabEm(docs: DataFrame, idCol: String, textCol: String,
                   rounds: Int, topK: Int = 256): Map[String, Long] = {
    require(rounds >= 0, "rounds must be >= 0")
    var vocab = trainVocab(docs, idCol, textCol, topK)
    for (_ <- 0 until rounds)
      vocab = emRound(docs, idCol, textCol, vocab, topK)
    vocab
  }

  /** Per-document segmentation totals under the unigram model:
    * (idCol, n_words, total_cost, total_pieces) — the
    * tokenizer-accurate token accounting (q115's OOV rate and q126's
    * budget fill consume exactly this number in production). */
  def segmentScores(docs: DataFrame, idCol: String, textCol: String,
                    vocab: Map[String, Long]): DataFrame = {
    val occ = wordsOf(docs, idCol, textCol)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("n"))
    val dp = occ.select("w").distinct()
      .withColumn("best", packedBest(col("w"), vocab))
      .select(col("w"), expr("best div 4096").as("w_cost"),
        (col("best") % 4096).as("w_pieces"))
    occ.join(dp, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("w_cost")).as("total_cost"),
        sum(col("n") * col("w_pieces")).as("total_pieces"))
  }
}
