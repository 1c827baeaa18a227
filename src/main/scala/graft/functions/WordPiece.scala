package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.TempDirs
import graft.plans.NativeExpressions

/** WordPiece greedy longest-match-first subword encoding — the third
  * member of the tokenizer family (BPE trains/encodes by pair-merge
  * rank, q76/q105/q106/q120; unigram-LM segments by Viterbi optimum,
  * q151/q158; WordPiece is BERT's inference rule: at each position
  * take the LONGEST vocab piece that prefixes the remaining suffix,
  * continuation pieces marked `##`). The three genuinely differ on the
  * same word — greedy-longest is not the Viterbi optimum and not the
  * merge-rank order — which is why the family needs all three.
  *
  *  - **Vocab**: position-aware substring statistics — a piece is a
  *    word PREFIX (plain) or an interior/suffix substring (`##`-marked)
  *    of content length ≤ [[MaxPieceLen]], weighted by word
  *    occurrences; keep the top-`topK` by (freq DESC, piece ASC) UNION
  *    the single-char closure in BOTH forms, so every corpus word
  *    always encodes (the `[UNK]` all-or-nothing fallback can only
  *    fire on out-of-corpus characters; the kernel keeps it faithful,
  *    the spec pins it). Real WordPiece training scores merges by
  *    likelihood — this frequency vocab is the documented seam, the
  *    q151 discipline; the ENCODE rule is exact.
  *  - **Encode**: one codegen'd projection over DISTINCT words
  *    ([[graft.plans.WordPieceEncode]] — O(len·maxPieceLen) hash
  *    probes against the expression-resident vocab), then a join back
  *    to per-doc occurrences: encode cost scales with word TYPES, not
  *    corpus tokens — the dictionary-encode discipline the unigram DP
  *    uses.
  *
  * Scale shape: vocab = one substring explode folded map-side to
  * piece counts + one TakeOrdered top-K + a bounded singles closure
  * (collect is ≤ topK + 2·alphabet — the codebook-collect class);
  * encode = one distinct-shuffle on word + map-only kernel + one
  * equi-join back on the same key. No windows, no driver loops.
  */
object WordPiece {

  val MaxPieceLen = 6

  private def cont(c: org.apache.spark.sql.Column) =
    concat(lit("##"), c)

  /** Train the frequency vocab and collect it (bounded: ≤ topK +
    * single-char closure in both plain and `##` forms). */
  def trainVocab(docs: DataFrame, textCol: String, topK: Int = 512): Seq[String] =
      TempDirs.staged { st =>
    val wc = docs.filter(col(textCol).isNotNull)
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val pieces = st.cache(wc.select(col("wc"),
        explode(flatten(transform(
          sequence(lit(1), length(col("w"))),
          s => transform(
            sequence(lit(1), least(lit(MaxPieceLen), length(col("w")) - s + 1)),
            l => when(s === 1, col("w").substr(s, l))
              .otherwise(cont(col("w").substr(s, l))))))).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("freq")))
    val top = pieces.orderBy(col("freq").desc, col("piece").asc).limit(topK)
    val singles = pieces.filter(
      (!col("piece").startsWith("##") && length(col("piece")) === 1) ||
        (col("piece").startsWith("##") && length(col("piece")) === 3))
    top.unionByName(singles).select("piece").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Encode every document: (idCol, word_pos, piece_ord, piece) —
    * word_pos 0-based in the doc, piece_ord 1-based within the word. */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 vocab: Seq[String]): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(Text.tokens(col(textCol))))
      .filter(length(col("col")) >= 1)
      .select(col(idCol), col("pos").as("word_pos"), col("col").as("w"))
    val enc = toks.select("w").distinct()
      .select(col("w"),
        NativeExpressions.wordpiece(col("w"), vocab, MaxPieceLen).as("pieces"))
      .select(col("w"), posexplode(col("pieces")))
      .select(col("w"), (col("pos") + 1).as("piece_ord"), col("col").as("piece"))
    toks.join(enc, "w")
      .select(col(idCol), col("word_pos"), col("piece_ord"), col("piece"))
  }
}
