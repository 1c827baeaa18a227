package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.Components.LazyCheckpoint

/** EXACT substring-duplication detection via distributed prefix
  * doubling — the suffix-array recipe behind Lee et al. 2022's
  * ExactSubstr, re-expressed as O(log L) keyed shuffle rounds.
  *
  * [[Dedup.maximalDuplicateSpans]] (q110/q117) approximates this with
  * positional grams: hashed grams carry a 64-bit collision budget and
  * the df cap both drops corpus-boilerplate grams and can split a long
  * island (its documented maximality caveat). This operator is the
  * exact algorithm on the gated window length: a length-`win` token
  * window is flagged iff the IDENTICAL token sequence occurs elsewhere
  * in the corpus — no hashes in the decision path, no df cap, and no
  * pair join at all (duplication is a GROUP SIZE, so a window repeated
  * m times costs m rows, not m² pair rows — the q110 fan-out bound is
  * unnecessary here).
  *
  * Algorithm (Manber–Myers prefix doubling, distributed à la
  * Flick & Aluru SC'15): assign every (doc, pos) an equality LABEL for
  * the window of length ℓ starting there; two positions get the same
  * label iff their length-ℓ windows are token-identical. ℓ=1 labels
  * come from grouping by the token itself; ℓ grows by
  * step = min(ℓ, win−ℓ) per round by pairing each position's label
  * with the label at pos+step (the two length-ℓ windows OVERLAP when
  * step < ℓ, which is exactly why a non-power-of-two `win` needs no
  * special final round: [p, p+ℓ) ∪ [p+step, p+step+ℓ) = [p, p+step+ℓ)
  * and equality of the pair ⟺ equality of the union window). A label
  * is the minimum (doc, pos) of its group packed into one int64 —
  * deterministic, engine-independent, and never compared across
  * rounds.
  *
  * Scale shape: ⌈log₂ win⌉ rounds, each ONE aggregation keyed by the
  * label pair (map-side combined to one row per distinct window — the
  * distinct-window count shrinks as ℓ grows) plus one equi-join back
  * on that key. No global sort anywhere: labels only need EQUALITY,
  * not rank order, so the classical sort-based SA construction's total
  * order is dropped and hash partitioning suffices. Hot-window skew
  * (the stopword run) sits on the join, where AQE skew-split applies —
  * not on a window function that would pin a hot group to one task.
  * Rounds localCheckpoint and the previous round's blocks drop (the
  * Components loop discipline) — checkpointing rather than persisting
  * because each round references its parent TWICE, so an untruncated
  * logical plan doubles per round and its per-action string rendering
  * alone OOMs at the win=50 production window. The FINAL round is
  * spilled to a JVM-scoped temp parquet and released before return,
  * so callers (registered queries with no unpersist hook) never
  * inherit a live block.
  *
  * Measured recall delta vs the q110 approximation (SuffixDedupSpec,
  * sf0.001, win=8): exact spans cover 2,697 token positions where the
  * winnowing/positional-gram path (n=5, maxDf=100) covers 1,435 —
  * 53.2 % — and the approximate coverage is a strict SUBSET of the
  * exact coverage (part of the gap is scope: the pair-based a<b view
  * does not flag within-doc self-repeats; the rest is the df cap and
  * minSpan splitting). The containment is spec-pinned, so a regression
  * in either path surfaces.
  */
object SuffixDedup {

  /** (doc, pos) packed injectively into an int64 label; out-of-range
    * inputs fail LOUDLY per row (raise_error), never wrap silently. */
  private def enc(id: Column, pos: Column): Column = {
    val lim = 1L << 31
    when(id >= 0 && id < lim && pos >= 0 && pos < lim, id * lim + pos)
      .otherwise(raise_error(concat(
        lit("SuffixDedup requires 0 <= id,pos < 2^31; got id="),
        id.cast("string"), lit(" pos="), pos.cast("string"))))
  }

  /** Equality labels for every length-`win` token window:
    * (idCol, pos, label) with 1-based pos, one row per window that
    * fits, equal labels ⟺ token-identical windows. */
  def windowLabels(df: DataFrame, idCol: String, textCol: String,
                   win: Int): DataFrame = {
    require(win >= 1, s"window length $win must be >= 1")
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(Text.tokens(col(textCol))))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("token"))
    def relabel(grouped: DataFrame, keys: Seq[String]): DataFrame = {
      // groupBy + join back, NOT a window min: partial aggregation
      // collapses a hot window's rows map-side, and the join is where
      // AQE's skew handling lives
      val reps = grouped.groupBy(keys.map(col): _*)
        .agg(min(enc(col(idCol), col("pos"))).as("__rep"))
      grouped.join(reps, keys)
        .select(col(idCol), col("pos"), col("__rep").as("label"))
    }
    // localCheckpoint, NOT persist: each round references the previous
    // round TWICE (the shifted self-join), so without LINEAGE
    // truncation the logical plan doubles per round — 2^⌈log₂ win⌉
    // copies of the scan subtree. persist() truncates only EXECUTION;
    // analysis and the per-action plan-string rendering (SQL-UI events
    // run on every count) still walk the full tree, and at the
    // ExactSubstr production window (win=50, 6 rounds) the plan string
    // alone OOMed the driver heap (found by SuffixProbe, round 12).
    // localCheckpoint collapses each round to a LogicalRDD — the
    // Components/PageRank loop discipline — and dropCheckpoint frees
    // the parent round's blocks (Dataset.unpersist doesn't reach
    // checkpoint RDDs).
    var labels = relabel(toks, Seq("token")).localCheckpoint()
    var len = 1
    while (len < win) {
      val step = math.min(len, win - len)
      val shifted = labels.select(col(idCol), (col("pos") - step).as("pos"),
        col("label").as("label2"))
      val paired = labels.join(shifted, Seq(idCol, "pos"))
      // lazy checkpoint; the count right below is the materializing
      // action, so each round runs ONE job (the Components rationale)
      val next = relabel(
          paired.select(col(idCol), col("pos"), col("label"), col("label2")),
          Seq("label", "label2"))
        .lazyCheckpoint()
      next.count() // materialize before releasing the parent round
      graft.operators.Components.dropCheckpoint(labels)
      labels = next
      len += step
    }
    // Truncate lineage through STORAGE, not cache, before returning:
    // every consumer reads the final labels twice (the group-size
    // aggregate + the join back), but the consumers are registered
    // queries with no unpersist hook — returning a persisted frame
    // would strand a corpus-positions-sized cache block for the rest
    // of a 160-query Verify session (the round-10 accreted-state
    // failure class, 1.7× bench inflation). Spilling the final round
    // to a JVM-scoped temp parquet (deleted at exit, TempDirs) keeps
    // the read-twice economics and is the 100 TB shape anyway: land
    // the label table on durable storage once, derive both consumers
    // from the files. RegistrySpec tripwires the invariant (no
    // persisted RDDs survive any registered query's construction).
    val out = graft.pipeline.TempDirs.spillParquet(labels, "graft_suffix_labels_")
    graft.operators.Components.dropCheckpoint(labels)
    out
  }

  /** Duplicated length-`win` windows: every (doc, pos) whose window's
    * token sequence occurs ≥ 2 times corpus-wide (self-duplication at
    * distinct positions of one doc counts — the ExactSubstr
    * convention), with the corpus-wide occurrence count. */
  def duplicateWindows(df: DataFrame, idCol: String, textCol: String,
                       win: Int): DataFrame = {
    val lw = windowLabels(df, idCol, textCol, win)
    val counts = lw.groupBy("label").agg(count(lit(1)).as("n_dup"))
      .filter(col("n_dup") >= 2)
    lw.join(counts, Seq("label")).select(col(idCol), col("pos"), col("n_dup"))
  }

  /** ExactSubstr REMOVAL with a canonical-copy-keep policy: for every
    * duplicated window group, the lexicographically-first occurrence
    * (min (doc, pos) — which is precisely what the group's LABEL
    * encodes, so canonicality is one integer comparison, no extra
    * aggregate) keeps its tokens; every OTHER occurrence's positions
    * are cut, overlaps union naturally through the distinct covered
    * set, and each doc's text is rebuilt from its surviving tokens in
    * order (the [[Dedup.cutDuplicateSpans]] reassembly shape). Docs
    * untouched by any duplicate pass through unchanged (including docs
    * shorter than `win`); a fully-covered doc disappears; NULL text
    * drops the doc (the q117 convention). Unlike q117's pair-based cut
    * — which removes from the higher-id doc of each PAIR and can cut
    * both copies of a three-way duplicate — this group view provably
    * preserves exactly one canonical copy per duplicated window. */
  def cutExactDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                             win: Int): DataFrame = {
    val lw = windowLabels(df, idCol, textCol, win)
    val dupGroups = lw.groupBy("label").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("label")
    val nonCanonical = lw.join(dupGroups, Seq("label"), "left_semi")
      .filter(enc(col(idCol), col("pos")) =!= col("label"))
    val covered = nonCanonical.select(col(idCol),
      explode(sequence(col("pos"), col("pos") + (win - 1))).as("pos")).distinct()
    val tp = df.select(col(idCol),
        posexplode(Text.tokens(col(textCol))))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("tok"))
    tp.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"))
  }

  /** Maximal duplicated token spans per doc: the [pos, pos+win−1]
    * intervals of [[duplicateWindows]] merged by the house
    * gaps-and-islands shape (running max of span end, new island iff
    * s > prev max — the [[Dedup.cutDuplicateSpans]] convention), each
    * span carrying how many windows it merged. A span of `e − s + 1`
    * tokens here means EVERY length-`win` window inside it is
    * duplicated somewhere — the exact analogue of q110's span view,
    * minus its df-cap split caveat. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     win: Int): DataFrame = {
    val dupw = duplicateWindows(df, idCol, textCol, win)
      .select(col(idCol), col("pos").as("s"),
        (col("pos") + (win - 1)).as("e"))
    val wOrd = Window.partitionBy(idCol).orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    dupw
      .withColumn("ni", when(col("s") > coalesce(prevMax, lit(-1L)), 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("s"), col("e"), col("n_windows"))
  }
}
