package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.TempDirs

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale notes (the whole point of each design):
  *  - exact: one shuffle on a 128-bit digest — the canonical 100 TB
  *    dedup; group keys are tiny regardless of document size.
  *  - MinHash/LSH: signatures are computed scan-side (k mins over one
  *    explode), candidates come from an equi-join on (band, bandHash) —
  *    NEVER an O(n²) cross join. Band buckets are the only shuffle keys.
  *  - SimHash: per-row pure expression (nested higher-order functions,
  *    zero shuffle, zero explode) — runs at scan speed; bucketing by
  *    high bits gives the candidate join the same equi-join shape.
  *  - n-gram Jaccard: exact verification for candidate pairs that share
  *    at least one gram — an equi-join on gram, then a pair-count
  *    aggregate; used standalone at small scale or as the LSH verify
  *    stage at large scale.
  *
  * Persist lifecycle (spill-and-release, round 12): `minhashCandidates`,
  * `minhashCandidatesIncremental`, `decontaminateAgainst`,
  * `lshVerifiedJaccard`, `ngramJaccardPairs`, `ngramCosinePairs`,
  * `rareGramEdges`, `duplicateSpanPairs` and `maximalDuplicateSpans`
  * cache their internal index (the banded LSH index / the gram
  * table) in a [[graft.pipeline.TempDirs.staged]] scope so one explode
  * feeds every consumer, spill the (small, df-capped) pair/span output
  * to a JVM-scoped temp parquet
  * ([[graft.pipeline.TempDirs.spillParquet]]), and the scope releases
  * the index when the call exits, however it exits. Callers therefore
  * never inherit a live cache block: registered queries have no
  * unpersist hook, and the round-10 bench measured 1.7× inflation
  * from exactly this accretion. The cost is the functions being
  * EAGER (the spill write runs at call time) — which is also the
  * 100 TB shape: candidate pairs land on storage between the
  * propose and verify/cluster stages. RegistrySpec tripwires the
  * no-leak invariant over the whole registry.
  */
object Dedup {

  /** Exact dedup: canonical (minimum) id and duplicate count per
    * identical text. `md5` = 128-bit collision-safe group key. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast(BinaryType)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Distinct word `n`-shingles per doc (order-insensitive set).
    *
    * The token array is bound ONCE per row via a lambda variable
    * (`transform(array(tokens), t -> ...)`): referencing the raw
    * `split(...)` expression inside the index lambda would re-split the
    * text for every element — O(tokens²) string work per row, which
    * dominated the first benchmark run.
    *
    * Docs with fewer than `n` tokens yield NO grams (not an error):
    * unguarded, `sequence(0, size-n)` would descend for short docs and
    * the out-of-bounds `element_at` would throw under Spark 4's default
    * ANSI mode, killing the whole job on one 2-token document. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(array_distinct(gramArray(Text.tokens(col(textCol)), n))).as("gram"))

  /** The shared n-gram array expression (WITH multiplicity): all grams
    * of a token array, lambda-bound once, short docs yielding an empty
    * array (never an ANSI error). `shingles` wraps it in
    * `array_distinct` for set semantics; `gramCounts` aggregates the
    * multiplicities. ONE definition so the guard and the lambda-bind
    * trap fix can never diverge between the two consumers. */
  private def gramArray(toks: Column, n: Int): Column =
    if (n == 1) toks
    else element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(0), size(t) - n),
            i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*)))
          .otherwise(array().cast(ArrayType(StringType)))),
      1)

  /** Default seeded gram hash: xxhash64 (one codegen'd primitive op —
    * the production path). Registered queries pass `Hashes`-derived
    * md5 forms instead so the DuckDB oracle can verify them. */
  val XxSeededHash: (Int, Column) => Column = (i, g) => xxhash64(lit(i), g)

  /** Oracle-able seeded gram hash: lexicographic-min-safe md5 hex
    * (`Hashes.hex15` of "seed|gram"). */
  val Md5SeededHash: (Int, Column) => Column =
    (i, g) => Hashes.hex15(concat(lit(s"$i|"), g))

  /** MinHash signatures: k independent permutations approximated by a
    * seeded hash; one explode + one groupBy(doc) with k `min`
    * aggregates (map-side partial mins make the shuffle tiny). The
    * signature component type follows `seededHash` (long for xxhash64,
    * fixed-width hex string for the md5 oracle form — lexicographic
    * min ≡ numeric min there). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int,
                        seededHash: (Int, Column) => Column = XxSeededHash): DataFrame = {
    val sh = shingles(df, idCol, textCol, shingleN)
    sh.groupBy(col(idCol))
      .agg((0 until k).map(i => min(seededHash(i, col("gram"))).as(s"mh_$i")).head,
           (1 until k).map(i => min(seededHash(i, col("gram"))).as(s"mh_$i")): _*)
  }

  /** MinHash signatures from the AFFINE md5 family (`Hashes.affineA/B`):
    * each gram is md5-hashed ONCE into x = h60 % P31, and the k seeded
    * values are derived arithmetically inside the min aggregates —
    * k× less hashing than a per-seed hash at identical plan shape
    * (explode → groupBy(doc) with k partial-agg mins), and still fully
    * oracle-able because the one md5 and the affine constants are
    * shared with DuckDB. Signature components are 31-bit longs. */
  def minhashSignaturesAffine(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, k: Int): DataFrame = {
    val p = Hashes.P31
    val withX = shingles(df, idCol, textCol, shingleN)
      .select(col(idCol), (Hashes.h60(col("gram")) % p).as("x"))
    def mh(i: Int) =
      min((lit(Hashes.affineA(i)) * col("x") + lit(Hashes.affineB(i))) % p).as(s"mh_$i")
    withX.groupBy(col(idCol)).agg(mh(0), (1 until k).map(mh): _*)
  }

  /** Default band hash over r signature components (production path). */
  val XxBandHash: Seq[Column] => Column = cols => xxhash64(cols: _*)

  /** Oracle-able band hash: md5 hex of the comma-joined components
    * (integers and hex strings both render identically on both
    * engines). */
  val Md5BandHash: Seq[Column] => Column =
    cols => Hashes.hex15(concat_ws(",", cols: _*))

  /** The banded LSH index: (id, full signature, band, band hash) — one
    * row per (doc, band). This is the ARTIFACT a 100 TB pipeline
    * persists between shards (k longs + `bands` hashes per doc, not the
    * text): [[minhashCandidates]] self-joins it, and
    * [[minhashCandidatesIncremental]] probes it with a new shard's
    * bands. Not persisted here — the caller owns materialization (a
    * cached frame inside one job, a parquet table across jobs). */
  def bandedIndex(sigs: DataFrame, idCol: String, k: Int, bands: Int,
                  bandHash: Seq[Column] => Column = XxBandHash): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    sigs.select(
      col(idCol),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          bandHash((b * r until (b + 1) * r).map(i => col(s"mh_$i"))).as("bh"))
      }: _*)).as("bucket"))
      .select(col(idCol), col("sig"), col("bucket.band"), col("bucket.bh"))
  }

  /** Estimated Jaccard of a candidate pair = fraction of equal
    * signature components (columns `sig_a`/`sig_b`). Shared by the
    * batch, incremental and streaming-gate paths so the estimator can
    * never diverge between them. */
  private[graft] def estJaccard(k: Int): Column =
    size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
      v => v)).cast(DoubleType) / k

  /** LSH banding: hash r consecutive signature components per band; docs
    * colliding in ANY band become candidate pairs (a<b to halve). The
    * pair's estimated Jaccard = fraction of equal signature components.
    */
  def minhashCandidates(sigs: DataFrame, idCol: String, k: Int, bands: Int,
                        estThreshold: Double,
                        bandHash: Seq[Column] => Column = XxBandHash): DataFrame =
      TempDirs.staged { s =>
    // the banded index feeds BOTH sides of the candidate self-join;
    // caching it materializes the LSH index once (the standard
    // "build the index, then probe it" shape) instead of recomputing
    // the whole signature aggregation per side
    val banded = s.cache(bandedIndex(sigs, idCol, k, bands, bandHash))
    val a = banded.select(col(idCol).as("a"), col("sig").as("sig_a"), col("band"), col("bh"))
    val b = banded.select(col(idCol).as("b"), col("sig").as("sig_b"), col("band"), col("bh"))
    val pairs = a.join(b, Seq("band", "bh"), "inner")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), estJaccard(k).as("est_jaccard"))
      .distinct() // a pair may collide in several bands
      .filter(col("est_jaccard") >= estThreshold)
    // spill-and-release (TempDirs.spillParquet contract): the banded
    // index must not outlive the call into a registered query
    TempDirs.spillParquet(pairs, "graft_lsh_pairs_")
  }

  /** INCREMENTAL near-dup candidates — the shard-arrival path: pairs
    * between a NEW batch and the persisted [[bandedIndex]] of the
    * existing corpus, plus pairs within the new batch, WITHOUT
    * re-shingling or re-banding a single existing document. MinHash
    * signatures are per-doc (corpus-independent), so the union of this
    * result with the corpus's own candidate pairs is EXACTLY the
    * candidates of a full recompute over old∪new — equivalence pinned
    * in TextDedupSpec. Precondition: new ids are disjoint from indexed
    * ids (pairs are emitted with a < b regardless of which side is
    * newer). At 100 TB this is the difference between scanning one
    * shard and scanning the corpus per arrival. */
  def minhashCandidatesIncremental(newSigs: DataFrame, index: DataFrame,
                                   idCol: String, k: Int, bands: Int,
                                   estThreshold: Double,
                                   bandHash: Seq[Column] => Column = XxBandHash): DataFrame =
      TempDirs.staged { s =>
    val newBanded = s.cache(bandedIndex(newSigs, idCol, k, bands, bandHash))
    val (crossShard, withinShard) = incrementalHalves(newBanded, index, idCol)
    val pairs = crossShard.unionByName(withinShard)
      .select(least(col("a"), col("b")).as("pa"),
        greatest(col("a"), col("b")).as("pb"), estJaccard(k).as("est_jaccard"))
      .select(col("pa").as("a"), col("pb").as("b"), col("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= estThreshold)
    TempDirs.spillParquet(pairs, "graft_lsh_inc_pairs_")
  }

  /** CROSS-CORPUS decontamination at scale: drop every corpus document
    * that is a MinHash near-duplicate of ANY reference document — the
    * "remove eval-suite lookalikes from pretraining data" operation
    * when the reference is itself TOO BIG TO BROADCAST (q71's exact
    * gram-set check covers the small-suite case; this is the banded-
    * index path for a reference of millions of documents). Both sides
    * are signature-banded once (signatures are per-doc, so the
    * reference index is a persistable artifact reusable across corpus
    * shards — the q101 incremental contract), collisions come from the
    * banded equi-join's cross half only (corpus-internal duplicates
    * are NOT this operator's business), and the flagged ids anti-join
    * the corpus. Never O(|corpus|·|reference|). */
  def decontaminateAgainst(corpus: DataFrame, reference: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3, k: Int = 16, bands: Int = 8,
                           estThreshold: Double = 0.2,
                           bandHash: Seq[Column] => Column = XxBandHash): DataFrame =
      TempDirs.staged { s =>
    def banded(df: DataFrame) = bandedIndex(
      minhashSignaturesAffine(df, idCol, textCol, shingleN, k),
      idCol, k, bands, bandHash)
    val refIndex = s.cache(banded(reference))
    // NOT incrementalHalves: its cross half drops `a === b` self-pairs,
    // which is correct for shard-vs-corpus (same id space) but here the
    // two sides are DIFFERENT corpora whose ids may coincide by accident
    // (both numbering from 0) — and a corpus doc colliding with an
    // equal-id reference doc is a genuine contamination hit, not a
    // self-pair. Every banded collision counts.
    val a = banded(corpus).select(col(idCol).as("a"), col("sig").as("sig_a"),
      col("band"), col("bh"))
    val b = refIndex.select(col(idCol).as("b"), col("sig").as("sig_b"),
      col("band"), col("bh"))
    val cross = a.join(b, Seq("band", "bh"), "inner")
    val flagged = cross
      .select(col("a").as(idCol), estJaccard(k).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
      .select(idCol).distinct()
    // spill the FLAGGED id set (small — contamination hits only), not
    // the corpus-sized survivor frame; the returned anti-join stays
    // lazy/corpus-linear and reads no staged relation
    val flaggedIds = TempDirs.spillParquet(flagged, "graft_decontam_ids_")
    corpus.join(flaggedIds, Seq(idCol), "left_anti")
  }

  /** The two halves of the incremental probe, pair provenance intact:
    * `_1` = new-vs-index pairs with the NEW doc always on the `a` side,
    * `_2` = pairs within the new batch (a < b). Callers that must know
    * WHICH side is new (e.g. the streaming gate quarantining arriving
    * dups) use this; [[minhashCandidatesIncremental]] is the
    * orientation-normalized union. */
  def incrementalHalves(newBanded: DataFrame, index: DataFrame,
                        idCol: String): (DataFrame, DataFrame) = {
    val a = newBanded.select(col(idCol).as("a"), col("sig").as("sig_a"),
      col("band"), col("bh"))
    def bSide(df: DataFrame) = df.select(col(idCol).as("b"), col("sig").as("sig_b"),
      col("band"), col("bh"))
    val crossShard = a.join(bSide(index), Seq("band", "bh"), "inner")
      .filter(col("a") =!= col("b"))
    val withinShard = a.join(bSide(newBanded), Seq("band", "bh"), "inner")
      .filter(col("a") < col("b"))
    (crossShard, withinShard)
  }

  /** SimHash-64 as a single codegen'd expression: per-token hash,
    * per-bit majority vote, reassembled into one long. No explode, no
    * shuffle — O(64·tokens) arithmetic inside the scan. `tokenHash`
    * defaults to xxhash64 (production); pass `Hashes.h60` for the
    * oracle-verifiable md5 form (top 4 bits then always 0). */
  def simhash(text: Column, tokenHash: Column => Column = t => xxhash64(t)): Column =
    graft.plans.NativeExpressions.simhash64(transform(Text.tokens(text), tokenHash))

  /** The pure-built-ins SimHash formulation, kept as the parity
    * reference for NativeSpec. Bit index must be a literal for
    * shiftright, so the 64 bit-vote terms are unrolled in Scala; bits
    * are disjoint so summing them assembles the word (1L<<63 = the sign
    * bit, added once). The hash array is lambda-bound ONCE — see
    * `shingles` for why. */
  def simhashHof(text: Column): Column = {
    val hashes = transform(Text.tokens(text), t => xxhash64(t))
    element_at(
      transform(array(hashes), hs =>
        (0 until 64).map { i =>
          val votes = aggregate(hs, lit(0L),
            (v, h) => v + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L))
              .otherwise(lit(-1L)))
          when(votes > 0, lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ + _)),
      1)
  }

  /** Hamming distance between two simhash longs (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs: the 64-bit simhash is split into
    * `bands` contiguous bit-bands of width 64/bands; docs agreeing on
    * ANY band become candidates (equi-join on (band, band-bits) — the
    * same never-O(n²) blocking shape as MinHash LSH), then the exact
    * Hamming distance gates `<= maxHamming`.
    *
    * Recall is EXACT (not probabilistic) for `maxHamming < bands`, by
    * pigeonhole: fewer flipped bits than bands means at least one band
    * is untouched, so every qualifying pair collides somewhere. That
    * makes (bands = h+1) the natural setting for a Hamming-h dedup.
    *
    * Scale note: each band has 2^(64/bands) buckets, so FEWER bands =
    * wider bands = more buckets = smaller buckets. bands=4 (16-bit
    * bands, 65 536 buckets/band) is the 100 TB default; bands=8 shrinks
    * buckets to 256/band and a near-dup-heavy corpus concentrates —
    * the k² pair blowup inside one hot bucket is the same hazard as
    * `ngramJaccardPairs`' hot gram, bounded here by band width. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int, bands: Int = 4,
                          tokenHash: Column => Column = t => xxhash64(t)): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol), simhash(col(textCol), tokenHash).as("simhash")),
      idCol, "simhash", maxHamming, bands)

  /** Banded Hamming-distance pairs over ANY 64-bit hash column — the
    * blocking engine shared by [[simhashNearDupPairs]] (text) and
    * [[graft.functions.Multimodal.perceptualHash]] (images): rows
    * agreeing on any contiguous 64/bands-bit band become candidates
    * (equi-join on (band, band-bits) — never O(n²)), then the exact
    * Hamming distance gates `<= maxHamming`. Recall is EXACT for
    * maxHamming < bands by pigeonhole; scale/banding trade-offs as
    * documented on [[simhashNearDupPairs]]. Output: (a, b, hamming)
    * with a < b. */
  def bandedHammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                         maxHamming: Int, bands: Int = 4): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    require(maxHamming < bands,
      s"exact recall needs maxHamming=$maxHamming < bands=$bands (pigeonhole)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = hashes.select(col(idCol), col(hashCol),
      explode(array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          shiftrightunsigned(col(hashCol), bnd * width)
            .bitwiseAND(lit(mask)).as("bh"))
      }: _*)).as("u"))
      .select(col(idCol), col(hashCol), col("u.band"), col("u.bh"))
    val a = banded.select(col(idCol).as("a"), col(hashCol).as("sh_a"),
      col("band"), col("bh"))
    val b = banded.select(col(idCol).as("b"), col(hashCol).as("sh_b"),
      col("band"), col("bh"))
    a.join(b, Seq("band", "bh"), "inner")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct() // a pair may agree on several bands
      .filter(col("hamming") <= maxHamming)
  }

  /** LSH-gated exact Jaccard — the 100 TB near-dup verify path.
    * MinHash/LSH proposes candidate pairs; exact n-gram Jaccard is then
    * computed ONLY for those pairs, by joining each candidate's gram
    * set through the pair table (cand ⋈ grams(a) ⋈ grams(b) on
    * (b, gram)) — the intersection work is |cand|·grams-per-doc and
    * never forms a non-candidate pair, unlike the standalone
    * `ngramJaccardPairs` whose gram self-join grows with corpus-wide
    * gram co-occurrence. */
  def lshVerifiedJaccard(df: DataFrame, idCol: String, textCol: String,
                         n: Int, k: Int, bands: Int,
                         estThreshold: Double, threshold: Double,
                         seededHash: (Int, Column) => Column = XxSeededHash,
                         bandHash: Seq[Column] => Column = XxBandHash,
                         affine: Boolean = false): DataFrame =
      TempDirs.staged { s =>
    val sigs =
      if (affine) minhashSignaturesAffine(df, idCol, textCol, n, k)
      else minhashSignatures(df, idCol, textCol, n, k, seededHash)
    val cand = minhashCandidates(sigs, idCol, k, bands, estThreshold, bandHash)
      .select(col("a"), col("b"))
    // the gram table feeds sizes AND both intersection joins — cache
    // the one explode instead of shingling the corpus three times;
    // hashed grams (output carries only pair scores)
    val g = s.cache(hashedShingles(df, idCol, textCol, n))
    val sizes = g.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val inter = cand
      .join(g.select(col(idCol).as("a"), col("gram")), Seq("a"))
      .join(g.select(col(idCol).as("b"), col("gram")), Seq("b", "gram"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val verified = inter
      .join(sizes.select(col(idCol).as("a"), col("n_grams").as("na")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("n_grams").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    TempDirs.spillParquet(verified, "graft_lsh_verified_")
  }

  /** Exact n-gram Jaccard for all pairs sharing ≥1 gram, thresholded.
    * Plan: distinct grams → equi-join on gram → pair count = |∩| →
    * join per-doc sizes → J = |∩| / (|A|+|B|−|∩|).
    *
    * `maxGramDf` caps the hot-gram blowup: a gram shared by k docs
    * yields k² join pairs, so one stopword trigram ("of the and") in a
    * million docs would shuffle 10¹² rows. Grams with document
    * frequency above the cap carry ~zero Jaccard signal (they are in
    * everything) and are dropped from the INTERSECTION only — per-doc
    * sizes |A| and |B| keep every gram, so the reported J is exact for
    * pairs whose shared grams are all under the cap and a slight
    * underestimate otherwise. The df pre-aggregate is itself a bounded
    * shuffle (one row per distinct gram), which replaces the unbounded
    * pair shuffle — that trade is the 100 TB design. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxGramDf: Long = 1000L): DataFrame = TempDirs.staged { s =>
    // the gram table feeds sizes, the df histogram AND both self-join
    // sides — one explode, materialized, instead of four. Measured at
    // sf0.1/local[32] (3 reps): persist 2.29 s vs recompute 2.34 s —
    // a wash at gate scale (the round-3 13 s reading was single-rep
    // machine noise); kept because at 100 TB recomputing the explode
    // four times dwarfs one serialization pass. Grams travel hashed —
    // the output is (a, b, jaccard), gram values never leave.
    val g = s.cache(hashedShingles(df, idCol, textCol, n))
    val sizes = g.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val kept = g.join(
      g.groupBy("gram").agg(count(lit(1)).as("gram_df"))
        .filter(col("gram_df") <= maxGramDf)
        .select("gram"),
      Seq("gram"), "left_semi")
    val inter = kept.select(col(idCol).as("a"), col("gram"))
      .join(kept.select(col(idCol).as("b"), col("gram")), Seq("gram"), "inner")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col(idCol).as("a"), col("n_grams").as("na")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("n_grams").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    TempDirs.spillParquet(pairs, "graft_ngram_jaccard_")
  }

  /** Exact Jaccard similarity self-join by PREFIX FILTERING (the
    * AllPairs/PPJoin candidate scheme — Bayardo et al. WWW'07, Vernica
    * et al. SIGMOD'10 for the MapReduce shape): every pair of docs
    * whose n-gram SETS have Jaccard ≥ tNum/tDen, with NO approximation
    * and NO df cap. Where [[ngramJaccardPairs]] bounds the candidate
    * join by dropping grams with df > maxGramDf (quietly undercounting
    * intersections if any survive into a qualifying pair),
    * this join is COMPLETE at every scale: under any consistent total
    * order on grams, two sets with Jaccard ≥ t must share a gram
    * inside both of their first |d| − ⌈t·|d|⌉ + 1 grams, so the
    * candidate join runs prefix-against-prefix only. Ordering grams by
    * ascending document frequency makes those prefixes the RAREST
    * grams — the equi-join keys with the fewest collisions — which is
    * the entire trick: the frequent grams that would explode a full
    * gram self-join are exactly the ones the prefix bound excludes.
    *
    * Threshold is an integer rational (tNum/tDen) end to end: prefix
    * lengths, the size-ratio prune (t·max ≤ min, else J < t), and the
    * final gate inter·tDen ≥ tNum·union are all int64 arithmetic — the
    * output hash-gates.
    *
    * Shape: one explode (persisted, spill-and-release per the module
    * persist lifecycle), two count aggregates (sizes, df), one
    * per-doc window for the prefix ranks (single shuffle on the doc
    * key), the prefix-prefix equi-join on gram, then the verify join
    * that recounts intersections over FULL gram sets for surviving
    * candidates only. Grams travel as strings so the oracle can replay
    * the same sets — at 100 TB you'd swap in [[hashedShingles]] and
    * accept the 2⁻⁶⁴ collision odds. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        n: Int, tNum: Long, tDen: Long): DataFrame = TempDirs.staged { s =>
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val g = s.cache(shingles(df, idCol, textCol, n))
    val sizes = g.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("gdf"))
    val w = Window.partitionBy(idCol).orderBy(col("gdf"), col("gram"))
    // ceil(t·sz) via integer div (never `/`: Column./ is IEEE double)
    val prefix = g.join(dfreq, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .join(sizes, Seq(idCol))
      .filter(col("rn") <=
        expr(s"sz - ((sz * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .select(col(idCol), col("gram"), col("sz"))
    val cand = prefix.select(col(idCol).as("a"), col("gram"), col("sz").as("sza"))
      .join(prefix.select(col(idCol).as("b"), col("gram"), col("sz").as("szb")),
        Seq("gram"))
      .filter(col("a") < col("b"))
      .filter(col("szb") * tDen >= col("sza") * tNum &&
        col("sza") * tDen >= col("szb") * tNum)
      .select("a", "b").distinct()
    val inter = cand
      .join(g.select(col(idCol).as("a"), col("gram")), Seq("a"))
      .join(g.select(col(idCol).as("b"), col("gram")), Seq("b", "gram"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("inter"),
        (col("sza") + col("szb") - col("inter")).as("un"))
      .filter(col("inter") * tDen >= col("un") * tNum)
    TempDirs.spillParquet(pairs, "graft_prefix_jaccard_")
  }

  /** Per-document n-gram term frequencies — [[shingles]] WITH
    * multiplicity: one row per (doc, distinct gram) carrying how often
    * the gram occurs in the doc. Same lambda-bind discipline and same
    * short-doc guard as `shingles`. */
  def gramCounts(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(gramArray(Text.tokens(col(textCol)), n)).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("tf"))

  /** Count-vector cosine near-dup pairs over word n-grams — the
    * multiplicity-aware sibling of [[ngramJaccardPairs]]. Jaccard sees
    * only the distinct gram SETS: a doc that repeats one phrase fifty
    * times and a doc that mentions it once have Jaccard 1.0; the count
    * vector separates them, which is exactly the signal template-spam
    * dedup needs.
    *
    * Oracle-exactness discipline: every aggregate is integer — tf per
    * (doc, gram), Σtf² per doc, Σ tf_a·tf_b per pair — and the only
    * double work is one sqrt·sqrt division per surviving pair (IEEE
    * ops, bit-identical across engines; the q41 rule).
    *
    * Same hot-gram df cap as Jaccard, same reasoning: a gram shared by
    * k docs contributes k² join rows, so grams in more than
    * `maxGramDf` docs are dropped from the DOT PRODUCT only — norms
    * keep every gram, so hot-gram pairs underestimate identically in
    * engine and oracle. The tf table is cached once (see the object
    * doc) because it feeds the norms, the df histogram and both
    * self-join sides. */
  def ngramCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxGramDf: Long = 1000L): DataFrame = TempDirs.staged { s =>
    // hashed gram identities — the output is (a, b, cosine) only
    val tf = s.cache(hashedGramCounts(df, idCol, textCol, n))
    val norms = tf.groupBy(col(idCol)).agg(sum(col("tf") * col("tf")).as("ss"))
    val kept = tf.join(
      tf.groupBy("gram").agg(count(lit(1)).as("gram_df"))
        .filter(col("gram_df") <= maxGramDf)
        .select("gram"),
      Seq("gram"), "left_semi")
    val dot = kept.select(col(idCol).as("a"), col("gram"), col("tf").as("tf_a"))
      .join(kept.select(col(idCol).as("b"), col("gram"), col("tf").as("tf_b")),
        Seq("gram"), "inner")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    val pairs = dot
      .join(norms.select(col(idCol).as("a"), col("ss").as("ss_a")), Seq("a"))
      .join(norms.select(col(idCol).as("b"), col("ss").as("ss_b")), Seq("b"))
      .select(col("a"), col("b"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("ss_a").cast(DoubleType)) * sqrt(col("ss_b").cast(DoubleType))))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
    TempDirs.spillParquet(pairs, "graft_ngram_cosine_")
  }

  /** Boilerplate-segment removal (the CCNet/RefinedWeb line-dedup shape
    * over disjoint `segLen`-token segments, for single-line corpora):
    * segments appearing in more than `maxDf` distinct docs are cut and
    * each doc is reassembled from its surviving segments in order.
    * Plan: one explode, one distinct-count histogram (bounded by
    * |distinct segments|), an anti-join, one per-doc ordered re-agg —
    * every stage keyed, nothing O(n²); reassembly sorts the collected
    * (pos, seg) structs INSIDE the aggregate so task order never
    * matters. With `maxDf = Long.MaxValue` this is the identity on
    * trimmed text (property-pinned). Registered under the oracle as
    * q72. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        segLen: Int, maxDf: Long): DataFrame = {
    val t = Text.tokens(col(textCol))
    val segList = transform(
      sequence(lit(0), ceil(size(t) / lit(segLen.toDouble)).cast(IntegerType) - 1),
      j => struct(j.as("pos"),
        concat_ws(" ", slice(t, j * segLen + 1, lit(segLen))).as("seg")))
    val seg = df.select(col(idCol), explode(segList).as("u"))
      .select(col(idCol), col("u.pos").as("pos"), col("u.seg").as("seg"))
    val hot = seg.groupBy("seg")
      .agg(countDistinct(idCol).as("df")).filter(col("df") > maxDf)
      .select("seg")
    seg.join(hot, Seq("seg"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg"))).as("clean_text"))
  }

  /** INTRA-document segment dedup — the complement of
    * [[removeBoilerplate]]: that cuts segments hot ACROSS the corpus;
    * this collapses repeats WITHIN one document (looping templates,
    * scraper stutter, copy-pasted paragraphs — the CCNet
    * paragraph-dedup step applied doc-locally). Keeps the FIRST
    * occurrence of each distinct segment, in order.
    *
    * Scale shape: the whole operator is ONE map-side projection —
    * `array_distinct` preserves first-occurrence order, so segmenting,
    * deduping and reassembly all happen inside a single codegen'd
    * per-row expression. Zero shuffles, zero explode: at 100 TB this is
    * a pure pass over the corpus at scan speed (PlanAudit shows 0
    * exchanges for q116). */
  def dedupWithinDoc(df: DataFrame, idCol: String, textCol: String,
                     segLen: Int): DataFrame = {
    val t = Text.tokens(col(textCol))
    val segs = transform(
      sequence(lit(0), ceil(size(t) / lit(segLen.toDouble)).cast(IntegerType) - 1),
      j => concat_ws(" ", slice(t, j * segLen + 1, lit(segLen))))
    // NULL-text docs DROP (not "", which concat_ws would fabricate) —
    // matches the relational semantics of the oracle's unnest-of-NULL
    // and of every other per-doc text operator here (a null corpus row
    // has no segments, hence no output row)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), concat_ws(" ", array_distinct(segs)).as("clean_text"))
  }

  /** All n-gram HASHES of a token array: the tokens are fed to xxhash64
    * as separate length-delimited values (no concatenated string is
    * ever built), so each gram costs one primitive hash op and the
    * downstream pipeline carries 8-byte longs instead of ~30-byte
    * strings. Same lambda-bind + short-doc guards as [[gramArray]]. */
  private def gramHashArray(toks: Column, n: Int): Column =
    if (n == 1) transform(toks, t => xxhash64(t))
    else element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(0), size(t) - n),
            i => xxhash64((0 until n).map(j => element_at(t, i + j + 1)): _*)))
          .otherwise(array().cast(ArrayType(LongType)))),
      1)

  /** [[shingles]] with grams as xxhash64 longs — for every consumer
    * whose OUTPUT never carries a gram value (pair scores, shared
    * counts, edges): three-to-four full shuffles of the gram table move
    * 8 bytes per gram instead of the gram text, and group/join on
    * primitive longs. Collision budget: [[rareGramEdges]]' minShared
    * gating only backstops the EDGE consumers; the score-emitting
    * consumers (q22 jaccard, q71 shared-gram counts, q110/q117 span
    * coordinates) feed oracle-compared final outputs with NO downstream
    * exact verify, so they accept the RAW ~k²/2⁶⁵ probability that a
    * collision inflates a score or fabricates a positional match —
    * negligible at gate scale (~10⁻⁶) and a handful of expected
    * per-pair events at 10¹⁰ grams, each perturbing one score by one
    * gram's weight, which is the standard fingerprinting trade (Broder
    * '97 accepts the same for shingle hashes). Consumers that must
    * re-emit or md5-oracle the gram text (MinHash signatures,
    * boilerplate reassembly, keyword extraction) stay on the string
    * form. */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(array_distinct(gramHashArray(Text.tokens(col(textCol)), n))).as("gram"))

  /** [[gramCounts]] over hashed grams — same contract as
    * [[hashedShingles]], with multiplicity. */
  def hashedGramCounts(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(gramHashArray(Text.tokens(col(textCol)), n)).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("tf"))

  /** Candidate-duplicate EDGES from rare shared grams: (a, b) pairs of
    * docs sharing at least `minShared` distinct grams whose corpus
    * document frequency is in [2, maxDf]. Rare grams are the
    * high-signal ones (a gram appearing in half the corpus says
    * nothing; one appearing in exactly two docs is near-proof of
    * shared provenance), and the df cap bounds the self-join fan-out:
    * each kept gram emits at most maxDf·(maxDf−1)/2 pairs, so the edge
    * count is linear in the gram count — never O(n²) in docs. Feed the
    * result to [[graft.operators.Components.connectedComponents]] to
    * turn pairwise evidence into dedup clusters.
    *
    * Grams travel as xxhash64 LONGS, not strings: the df histogram, the
    * semi-join and the pair self-join — three full shuffles of the gram
    * table — move 8 bytes per gram instead of the gram text, and
    * group/join on primitive longs instead of string comparisons
    * (measured ~2x on the whole edge build at sf0.1; the win grows with
    * gram length). Collisions merge two gram classes with probability
    * ~k²/2⁶⁵ (k distinct grams): ~10⁻⁶ at gate scale, and a handful of
    * expected events at 10¹⁰ grams — each at worst adds one spurious
    * CANDIDATE edge that still needs `minShared` independent gram
    * agreements, the same tolerance every hash-based candidate
    * generator here (MinHash/SimHash/winnowing) already accepts. */
  def rareGramEdges(df: DataFrame, idCol: String, textCol: String, n: Int,
                    maxDf: Long, minShared: Long): DataFrame = TempDirs.staged { s =>
    // one explode feeds the df histogram and both self-join sides
    val g = s.cache(hashedShingles(df, idCol, textCol, n))
    val rare = g.join(
      g.groupBy("gram").agg(count(lit(1)).as("gram_df"))
        .filter(col("gram_df").between(2, maxDf))
        .select("gram"),
      Seq("gram"), "left_semi")
    val edges = rare.select(col(idCol).as("a"), col("gram"))
      .join(rare.select(col(idCol).as("b"), col("gram")), Seq("gram"), "inner")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select("a", "b")
    // spill-and-release (TempDirs.spillParquet contract): six registered
    // queries feed this edge set straight into the components loop; the
    // gram cache must not outlive the call (edges are df-capped — tiny)
    TempDirs.spillParquet(edges, "graft_rare_edges_")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): hash every k-CHAR gram of the text, slide a
    * window of `w` consecutive gram hashes, keep each window's MINIMUM
    * hash; the distinct kept hashes are the document's fingerprints.
    * The guarantee (theorem 1 of the paper): any substring of length
    * ≥ w + k − 1 shared VERBATIM by two documents yields at least one
    * shared fingerprint — and selection is content-defined (the min
    * decides, not the offset), so detection is ALIGNMENT-INDEPENDENT.
    * That is what fixed-stride shingling fundamentally cannot give:
    * a copied paragraph starting at char 3 in one doc and char 47 in
    * the other still collides here. Word-shingle MinHash (q19/q20)
    * estimates whole-document set overlap; winnowing finds exact
    * duplicated SPANS — the Lee et al. 2022 "deduplicating training
    * data" failure mode (boilerplate and quotes stitched into
    * otherwise-distinct pages) that document-level similarity misses.
    *
    * Scale shape: expected fingerprint density is 2/(w+1) per char, so
    * the exploded table is ~2·corpus_chars/(w+1) rows — linear, tunable
    * by w, and NEVER all-pairs. One row per (doc, fingerprint).
    *
    * The EXACT (hash-free, cap-free) counterpart of this family is
    * [[SuffixDedup]] — distributed suffix-array prefix doubling; its
    * spec measures the recall this approximation trades away.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, w: Int = 12,
                            gramHash: Column => Column = c => xxhash64(c)): DataFrame = {
    val text = col(textCol)
    // every k-char gram, 1-based positions; shorter-than-k texts hash
    // their whole text once (substr truncates identically in the oracle)
    val grams = transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => gramHash(text.substr(i, lit(k))))
    // window minima over the grams, with the gram array LAMBDA-BOUND
    // once (transform(array(x), g => ...) + element_at) — referencing
    // `grams` inside the window lambda would re-evaluate every gram
    // hash PER WINDOW, an O(len·w→len²) interpreted-eval blowup (the
    // same trap Text.ngrams documents; observed 500× on q89's bench
    // twin). Trailing short windows truncate, same as the oracle.
    val fps = element_at(
      transform(array(grams), g =>
        array_distinct(transform(
          sequence(lit(1), greatest(size(g) - (w - 1), lit(1))),
          p => array_min(slice(g, p, lit(w)))))),
      1)
    df.select(col(idCol), explode(fps).as("fp"))
  }

  /** Duplicate-SPAN candidate pairs via winnowing: docs sharing ≥
    * `minShared` fingerprints whose corpus df is in [2, maxDf]. The df
    * cap excludes corpus-wide boilerplate fingerprints AND bounds the
    * self-join fan-out exactly like [[rareGramEdges]] — each kept
    * fingerprint emits ≤ maxDf·(maxDf−1)/2 pairs, so edges stay linear
    * in fingerprint count, never O(n²) in docs. Emits (a, b, shared). */
  def duplicateSpanPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 12,
                         maxDf: Long = 50L, minShared: Long = 2L,
                         gramHash: Column => Column = c => xxhash64(c)): DataFrame =
      TempDirs.staged { s =>
    val f = s.cache(winnowingFingerprints(df, idCol, textCol, k, w, gramHash))
    val kept = f.join(
      f.groupBy("fp").agg(count(lit(1)).as("fp_df"))
        .filter(col("fp_df").between(2, maxDf))
        .select("fp"),
      Seq("fp"), "left_semi")
    val pairs = kept.select(col(idCol).as("a"), col("fp"))
      .join(kept.select(col(idCol).as("b"), col("fp")), Seq("fp"), "inner")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    TempDirs.spillParquet(pairs, "graft_span_pairs_")
  }

  /** MAXIMAL duplicated token spans between document pairs — the
    * gaps-and-islands sibling of [[duplicateSpanPairs]]. Winnowing
    * (q89) answers "which pairs share SOME span"; this answers "WHERE
    * are the spans and HOW LONG" — the Lee et al. 2022 exact-substring
    * view a span-stripping pipeline needs before it can cut the bytes.
    *
    * Shape: positional `n`-token grams (one row per (doc, pos), linear
    * in corpus tokens), a df-cap [2, maxDf] that both drops
    * corpus-wide boilerplate grams and bounds the self-join fan-out
    * (≤ maxDf·(maxDf−1)/2 matches per gram, so matches stay LINEAR in
    * gram rows — never O(n²) in docs), then pure integer
    * gaps-and-islands: a match (a, b, pa, pb) lies on diagonal
    * d = pa − pb, and consecutive positions on one diagonal are one
    * duplicated run — `pa − row_number()` is constant exactly on such
    * a run. A run of c consecutive matching grams is a shared span of
    * c + n − 1 tokens. Every stage is a keyed shuffle (gram, then
    * (a,b,diag)); the islands window partitions by PAIR+diagonal, so
    * no partition exceeds one document's positions — no global sort
    * anywhere.
    *
    * Maximality caveat (mirrored by the oracle, deterministic in both
    * engines): a hot gram INSIDE a long shared span whose df exceeds
    * `maxDf` splits that island in two — the price of the fan-out
    * bound. Docs shorter than `n` tokens emit no grams.
    *
    * Output: (a, b, start_a, start_b, span_tokens), 1-based starts,
    * span_tokens ≥ `minSpanTokens`. */
  def maximalDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 5, maxDf: Long = 100L,
                            minSpanTokens: Int = 8): DataFrame = TempDirs.staged { s =>
    val toks = Text.tokens(col(textCol))
    // grams travel as xxhash64 longs (the rareGramEdges discipline):
    // the df histogram and the positional self-join shuffle 8 bytes per
    // gram instead of the n-token text, and the output carries only
    // positions/counts, so the hash is invisible to the oracle —
    // identical spans absent 64-bit collisions (same budget as every
    // hash-based candidate generator here). The token array is
    // LAMBDA-BOUND once (transform(array(toks), t => ...)) — element_at
    // on the raw `toks` expression would re-run the split PER ELEMENT
    // (the gramArray trap; measured 2x on this operator).
    val grams = element_at(
      transform(array(toks), t =>
        transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => struct(i.cast(LongType).as("pos"),
            xxhash64((0 until n).map(j => element_at(t, i + j)): _*).as("gram")))),
      1)
    val pg = s.cache(df.filter(size(Text.tokens(col(textCol))) >= n)
      .select(col(idCol), explode(grams).as("pg"))
      .select(col(idCol), col("pg.pos").as("pos"), col("pg.gram").as("gram")))
    val kept = pg.join(
      pg.groupBy("gram").agg(count(lit(1)).as("gram_df"))
        .filter(col("gram_df").between(2, maxDf))
        .select("gram"),
      Seq("gram"), "left_semi")
    val matches = kept.select(col(idCol).as("a"), col("pos").as("pa"), col("gram"))
      .join(kept.select(col(idCol).as("b"), col("pos").as("pb"), col("gram")),
        Seq("gram"), "inner")
      .filter(col("a") < col("b"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "b", "diag").orderBy("pa")
    val spans = matches
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy("a", "b", "diag", "isl")
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + (n - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select("a", "b", "start_a", "start_b", "span_tokens")
    // spill-and-release: spans are the df-capped pair islands (small);
    // the positional-gram cache must not outlive the call
    TempDirs.spillParquet(spans, "graft_dup_spans_")
  }

  /** Span-dedup APPLY — the Lee et al. 2022 ExactSubstr REMOVAL step
    * that [[maximalDuplicateSpans]] finds the coordinates for: every
    * detected span is cut from the HIGHER-id document of its pair (the
    * earlier doc keeps the canonical copy — the q94 min-id-wins policy
    * at span granularity), overlapping cuts are merged, and each doc's
    * text is rebuilt from its surviving tokens in order. Documents
    * untouched by any span pass through unchanged; a document whose
    * every token is covered disappears (nothing left to emit — the
    * oracle agrees).
    *
    * Scale shape: interval merge is the classic gaps-and-islands pair
    * of windows PARTITIONED BY DOCUMENT (running max of span end →
    * new-island flag → running island id) — no partition ever exceeds
    * one document's span count, no global sort. Coverage positions are
    * exploded from the MERGED islands (linear in cut bytes, disjoint
    * by construction), the cut itself is one left-anti join on
    * (doc, pos), and reassembly sorts inside the per-doc aggregate.
    * Every stage is keyed by doc — the whole apply is corpus-linear. */
  def cutDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, maxDf: Long = 100L,
                        minSpanTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = maximalDuplicateSpans(df, idCol, textCol, n, maxDf, minSpanTokens)
      .select(col("b").as(idCol), col("start_b").as("s"),
        (col("start_b") + col("span_tokens") - 1L).as("e"))
      .distinct()
    val wOrd = Window.partitionBy(idCol).orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val islands = spans
      .withColumn("ni", when(col("s") > coalesce(prevMax, lit(-1L)), 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val covered = islands.select(col(idCol),
      explode(sequence(col("s"), col("e"))).as("pos"))
    val tp = df.select(col(idCol),
        posexplode(Text.tokens(col(textCol))).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).cast(LongType).as("pos"), col("tok"))
    tp.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"))
  }
}
