package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.{Dedup, Hashes, Multimodal, Similarity, Text, VectorIndex}
import graft.operators.{PageRank, Relational}

/** Training-data-pipeline extensions (SURVEY §7.2 M5 / BASELINE north
  * star): dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), ANN
  * similarity search (brute force + IVF), multimodal columns, and text
  * analysis — each over the driver's documents/embeddings tables.
  */
object ExtensionQueries {

  /** q15 — exact dedup via hash-groupBy (one shuffle on a 128-bit key). */
  val q15 = Q("q15_exact_dedup",
    """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
      |       COUNT(*) AS dup_count
      |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")
  }

  /** q16 — per-document text statistics, all scalar expressions at scan
    * speed. DuckDB regexp_replace needs the 'g' flag to match Spark's
    * replace-all semantics. */
  val q16 = Q("q16_text_stats",
    """SELECT doc_id,
      |       length(text) AS n_chars_actual,
      |       len(string_split(trim(text), ' ')) AS n_tokens,
      |       CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
      |         / len(string_split(trim(text), ' ')) AS avg_token_len,
      |       CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
      |         / length(text) AS non_alpha_ratio
      |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars_actual"),
      Text.tokenCount(col("text")).as("n_tokens"),
      Text.avgTokenLen(col("text")).as("avg_token_len"),
      Text.nonAlphaRatio(col("text")).as("non_alpha_ratio"))
  }

  private def hitsSql(langWords: Seq[String]): String =
    s"len(list_filter(string_split(trim(text), ' '), x -> x IN (${langWords.map("'" + _ + "'").mkString(",")})))"

  /** q17 — language ID by stopword scoring with a deterministic argmax
    * (tiebreak en > es > de > fr; all-zero → 'und'). */
  val q17 = Q("q17_langid", {
    val en = hitsSql(Text.Stopwords("en")); val es = hitsSql(Text.Stopwords("es"))
    val de = hitsSql(Text.Stopwords("de")); val fr = hitsSql(Text.Stopwords("fr"))
    s"""SELECT doc_id, lang AS lang_declared,
       |  CASE WHEN $en = 0 AND $es = 0 AND $de = 0 AND $fr = 0 THEN 'und'
       |       WHEN $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
       |       WHEN $es >= $de AND $es >= $fr THEN 'es'
       |       WHEN $de >= $fr THEN 'de' ELSE 'fr' END AS lang_predicted,
       |  CAST($en AS BIGINT) AS en_hits
       |FROM documents""".stripMargin }) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("lang_declared"),
      Text.langId(col("text")).as("lang_predicted"),
      Text.stopwordHits(col("text"), Text.Stopwords("en")).cast(LongType).as("en_hits"))
  }

  /** q18 — BPE-ish token counting via regexp_extract_all. */
  val q18 = Q("q18_token_count",
    s"""SELECT doc_id,
       |       len(string_split(trim(text), ' ')) AS ws_tokens,
       |       len(regexp_extract_all(text, '${Text.BpePattern}')) AS bpe_tokens
       |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      Text.tokenCount(col("text")).as("ws_tokens"),
      Text.bpeTokenCount(col("text")).as("bpe_tokens"))
  }

  /** q19 — MinHash/LSH banded buckets (the dedup index itself: one row
    * per doc per band) on the AFFINE md5 family: one md5 per gram, k
    * arithmetic derivations (`Hashes.affineA/B` — k× less hashing than
    * a per-seed hash), every value still reproduced by the DuckDB
    * oracle. Production swaps `Dedup.XxSeededHash` in — the machinery
    * is hash-agnostic. */
  val q19 = Q("q19_minhash_buckets", {
    import graft.functions.Hashes
    val p = Hashes.P31
    val mins = (0 until 16)
      .map(i => s"min((${Hashes.affineA(i)} * x + ${Hashes.affineB(i)}) % $p) AS mh_$i")
      .mkString(",\n       ")
    val bandRows = (0 until 4).map { b =>
      val cat = (b * 4 until (b + 1) * 4)
        .map(i => s"CAST(mh_$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, substr(md5($cat), 1, 15) AS band_hash FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       |grams AS (SELECT DISTINCT doc_id, unnest(t) AS gram FROM toks),
       |gx AS (SELECT doc_id, ${Hashes.h60Sql("gram")} % $p AS x FROM grams),
       |sig AS (SELECT doc_id,
       |       $mins
       |FROM gx GROUP BY 1)
       |$bandRows""".stripMargin
  }) { (s, d) =>
    val sigs = Dedup.minhashSignaturesAffine(Tables.documents(s, d), "doc_id", "text",
      shingleN = 1, k = 16)
    sigs.select(col("doc_id"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          Dedup.Md5BandHash((b * 4 until (b + 1) * 4).map(i => col(s"mh_$i")))
            .as("band_hash"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_hash"))
  }

  /** Shared affine-md5 minhash oracle CTE chain (word-3-shingles, k=16,
    * 8 bands of 2): toks → grams → gx → sig → banded → cand → scored,
    * where `scored` carries every banded candidate pair with its
    * estimated Jaccard. q20 selects from it; q51 gates the exact verify
    * on it. One md5 per gram (`gx`), affine derivations per seed. */
  private val minhashCteSql: String = {
    import graft.functions.Hashes
    val p = Hashes.P31
    val mins = (0 until 16)
      .map(i => s"min((${Hashes.affineA(i)} * x + ${Hashes.affineB(i)}) % $p) AS mh_$i")
      .mkString(",\n       ")
    val bandRows = (0 until 8).map { b =>
      val cat = (b * 2 until (b + 1) * 2)
        .map(i => s"CAST(mh_$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, substr(md5($cat), 1, 15) AS bh FROM sig"
    }.mkString("\nUNION ALL\n")
    val eq = (0 until 16)
      .map(i => s"CASE WHEN sa.mh_$i = sb.mh_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
       |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
       |  FROM toks),
       |gx AS (SELECT doc_id, ${Hashes.h60Sql("gram")} % $p AS x FROM grams),
       |sig AS (SELECT doc_id,
       |       $mins
       |FROM gx GROUP BY 1),
       |banded AS (
       |$bandRows),
       |cand AS (
       |  SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
       |  FROM banded ba JOIN banded bb
       |    ON ba.band = bb.band AND ba.bh = bb.bh AND ba.doc_id < bb.doc_id),
       |scored AS (
       |  SELECT a, b, CAST($eq AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = a
       |  JOIN sig sb ON sb.doc_id = b)""".stripMargin
  }

  /** q20 — MinHash candidate pairs over word-3-shingles (same gram unit
    * as the exact q22, so LSH recall is measurable), est Jaccard ≥ 0.2.
    * md5-hex hash family (see q19) puts the full LSH pipeline —
    * signatures, banding, candidate join, estimate — under the oracle. */
  val q20 = Q("q20_minhash_pairs",
    s"""$minhashCteSql
       |SELECT a, b, est_jaccard FROM scored WHERE est_jaccard >= 0.2""".stripMargin
  ) { (s, d) =>
    val sigs = Dedup.minhashSignaturesAffine(Tables.documents(s, d), "doc_id", "text",
      shingleN = 3, k = 16)
    Dedup.minhashCandidates(sigs, "doc_id", k = 16, bands = 8, estThreshold = 0.2,
      bandHash = Dedup.Md5BandHash)
  }

  /** q21 — SimHash per doc + 8-bit bucket (candidate blocking key).
    * The registered form hashes tokens with the md5-derived 60-bit
    * `Hashes.h60` so the per-bit majority vote is reproducible in the
    * oracle (bits 60-63 vote all-negative ⇒ 0; value fits signed int64
    * on both engines). NativeSpec still pins the xxhash64 production
    * form against the HOF reference. */
  val q21 = Q("q21_simhash", {
    val hs = graft.functions.Hashes.tokenH60ListSql("text")
    s"""SELECT doc_id, simhash, simhash >> 52 AS bucket FROM (
       |  SELECT doc_id,
       |    list_reduce(list_transform(range(0, 60), i ->
       |      CASE WHEN 2 * len(list_filter(hs, v -> (v >> i) & 1 = 1)) > len(hs)
       |           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END), (a, b) -> a + b) AS simhash
       |  FROM (SELECT doc_id, $hs AS hs FROM documents))""".stripMargin
  }) { (s, d) =>
    val sh = Dedup.simhash(col("text"), graft.functions.Hashes.h60)
    Tables.documents(s, d).select(
      col("doc_id"),
      sh.as("simhash"),
      shiftrightunsigned(sh, 52).as("bucket"))
  }

  /** q22 — exact word-3-gram Jaccard pairs (≥ 0.2) — the verify stage of
    * near-dup detection, and fully SQL-expressible. Grams with document
    * frequency over 1000 are dropped from the intersection join (hot-
    * gram k² pair cap — see Dedup.ngramJaccardPairs). Parity with the
    * oracle holds because the oracle mirrors the cap exactly — not
    * because the cap can't bite at gate scale (a stopword gram can reach
    * df 5000 there, in which case both sides underestimate true exact
    * Jaccard for the affected pairs, identically). */
  val q22 = Q("q22_ngram_jaccard",
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |  FROM toks),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
      |kept AS (
      |  SELECT g.doc_id, g.gram FROM grams g
      |  JOIN (SELECT gram, COUNT(*) AS gram_df FROM grams GROUP BY 1) f
      |    ON g.gram = f.gram
      |  WHERE f.gram_df <= 1000),
      |inter AS (
      |  SELECT ga.doc_id AS a, gb.doc_id AS b, COUNT(*) AS inter
      |  FROM kept ga JOIN kept gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, CAST(inter AS DOUBLE) / (sa.n_grams + sb.n_grams - inter) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a
      |JOIN sizes sb ON sb.doc_id = b
      |WHERE CAST(inter AS DOUBLE) / (sa.n_grams + sb.n_grams - inter) >= 0.2""".stripMargin) { (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      n = 3, threshold = 0.2, maxGramDf = 1000L)
  }

  /** q23 — brute-force cosine top-10 for the first 5 vectors as queries.
    * The oracle mirrors the exact left-to-right double summation via
    * list_reduce, so cosines are bit-identical. */
  val q23 = Q("q23_cosine_topk",
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, v.vec_id AS neighbor_id,
      |         list_reduce(list_transform(range(1, len(qe) + 1), i -> qe[i] * e[i]),
      |                     (x, y) -> x + y)
      |         / (sqrt(list_reduce(list_transform(range(1, len(qe) + 1), i -> qe[i] * qe[i]),
      |                             (x, y) -> x + y))
      |          * sqrt(list_reduce(list_transform(range(1, len(e) + 1), i -> e[i] * e[i]),
      |                             (x, y) -> x + y))) AS cos_sim
      |  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, cos_sim, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY cos_sim DESC, neighbor_id) AS rank
      |  FROM scored) WHERE rank <= 10""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 5), 10)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** q24 — IVF approximate top-10 over a TRAINED √n codebook (k-means
    * on a bounded sample, probe ≈ c/4 buckets): the scale path.
    * Approximation ⇒ no SQL oracle; recall vs q23 is pinned in
    * SimilaritySpec. */
  val q24 = Q.noOracle("q24_ivf_ann") { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val n = vecs.count()
    val cents = Similarity.sharedCodebook(vecs, n, tag = d)
    val assigned = Similarity.ivfAssign(vecs, cents)
    val nprobe = math.max(2, Similarity.codebookSize(n) / 4)
    Similarity.ivfTopK(assigned, cents, vecs.filter(col("vec_id") < 5),
      k = 10, nprobe = nprobe)
  }

  /** q25 — embedding-cosine near-dup pairs within IVF buckets. The √n
    * codebook keeps expected bucket size ≈ √n, so the within-bucket
    * pairing totals O(n) pairs corpus-wide (a fixed codebook would be
    * O(n²/c)). */
  val q25 = Q.noOracle("q25_embedding_near_dups") { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val assigned = Similarity.ivfAssign(vecs, Similarity.sharedCodebook(vecs, vecs.count(), tag = d))
    // the synthetic embeddings are near-orthogonal (top-10 cosines land
    // in 0.25-0.39) — 0.3 marks the "suspiciously similar" tail there;
    // a real corpus would use ~0.95
    Similarity.cosineNearDupPairs(assigned, threshold = 0.3)
  }

  /** q26 — multimodal featurize through the mapPartitions batch path
    * (decode stubbed, plumbing real). The registered form uses the
    * md5-derived stub decoder so every value — including the JVM-side
    * MessageDigest work inside mapPartitions — is reproduced by the
    * DuckDB oracle; the FNV decoder variant stays spec-pinned. */
  val q26 = Q("q26_media_features", {
    val h = graft.functions.Hashes.h60Sql("text")
    s"""SELECT doc_id, 'image/fake' AS media_type,
       |       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       |       CAST(h % 640 + 1 AS INT) AS width,
       |       CAST((h // 65536) % 480 + 1 AS INT) AS height,
       |       h AS checksum
       |FROM (SELECT doc_id, text, $h AS h FROM documents
       |      WHERE text IS NOT NULL)""".stripMargin
  }) { (s, d) =>
    Multimodal.featurize(Multimodal.mediaTable(Tables.documents(s, d)),
      Multimodal.Md5Decoder).toDF()
  }

  /** q26_prod — the PRODUCTION form of q26: same mapPartitions batch
    * plumbing, FNV-based `StubDecoder` instead of the md5 stub. The md5
    * form exists so the oracle can reproduce every value; this is the
    * plan you'd ship (no MessageDigest per row), registered no-oracle so
    * the bench measures production cost while q26 stays hash-gated.
    * Spec-pinned in `ScaleOpsSpec` (decoder determinism). */
  val q26p = Q.noOracle("q26_media_features_prod") { (s, d) =>
    Multimodal.featurize(Multimodal.mediaTable(Tables.documents(s, d)),
      Multimodal.StubDecoder).toDF()
  }

  /** q27 — multimodal metadata projection (SQL-expressible slice of the
    * media table: byte length + digest of the payload). */
  val q27 = Q("q27_media_meta",
    """SELECT doc_id, 'image/fake' AS media_type,
      |       octet_length(encode(text)) AS byte_len,
      |       md5(text) AS payload_md5, lang, n_chars
      |FROM documents WHERE text IS NOT NULL""".stripMargin) { (s, d) =>
    Multimodal.mediaTable(Tables.documents(s, d)).select(
      col("doc_id"), col("media_type"),
      length(col("payload")).as("byte_len"),
      md5(col("payload")).as("payload_md5"),
      col("lang"), col("n_chars"))
  }

  /** q28 — rolling-hash document fingerprint (order-sensitive, unlike
    * the set-hash in q15). The registered form folds md5-derived 60-bit
    * token hashes (`Hashes.h60`) so the oracle reproduces the exact
    * fold; production swaps crc32 back in (same fold, cheaper hash). */
  val q28 = Q("q28_fingerprint", {
    val hs = graft.functions.Hashes.tokenH60ListSql("text")
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
       |              (a, v) -> (a * 31 + v) % 1099511627776) AS fingerprint
       |FROM (SELECT doc_id, $hs AS hs FROM documents)""".stripMargin
  }) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      Text.fingerprint(col("text"), graft.functions.Hashes.h60).as("fingerprint"))
  }

  /** q28_prod — the PRODUCTION form of q28: identical rolling fold over
    * crc32 token hashes (one codegen'd pass, no MessageDigest). No-oracle
    * by design — crc32 isn't portably reproducible in the oracle SQL —
    * so the bench times the shipped plan while q28 stays hash-gated;
    * the fold itself is proven by q28 and the `TextDedupSpec` pin. */
  val q28p = Q.noOracle("q28_fingerprint_prod") { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
  }

  /** q29 — sessionization over the event stream (gap > 30 min ⇒ new
    * session): lag + cumulative-sum windows, then a session rollup.
    * `ts` is int64 epoch-nanos on both engines (see Sessions), so the
    * gap arithmetic is exact. */
  val q29 = Q("q29_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
      |         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts))
      |                     OVER (PARTITION BY user_id ORDER BY event_id)
      |                   > 1800000000000 THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT user_id, event_id,
      |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |       min(event_id) AS first_event_id, max(event_id) AS last_event_id
      |FROM sess GROUP BY 1, 2""".stripMargin) { (s, d) =>
    graft.operators.Sessionize.assignSessions(
        Tables.events(s, d).select("user_id", "event_id", "ts"),
        "user_id", "event_id", "ts", gap = 1800000000000L)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))
  }

  /** q58 — sessionization via the BUILT-IN session_window (the
    * streaming-capable form of q29: dynamic-gap windows that merge
    * events closer than the gap, state-store-backed on a stream). A
    * session's window is [first, last+gap); an event at exactly
    * gap distance starts a NEW session — hence the `>=` break in the
    * oracle's lag/cumsum twin (q29's custom operator uses strict `>`,
    * the other edge convention; both are pinned). Times are µs here
    * (session_window needs a timestamp column). */
  val q58 = Q("q58_session_window",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
      |flagged AS (
      |  SELECT user_id, tus,
      |         CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
      |                   >= 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sess AS (
      |  SELECT user_id, tus,
      |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, make_timestamp(min(tus)) AS session_start,
      |       make_timestamp(max(tus) + 1800000000) AS session_end,
      |       COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("ts_t", graft.Cols.nanosToTimestamp(col("ts")))
      .groupBy(col("user_id"), session_window(col("ts_t"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** q30 — HLL-sketch distinct (approx_count_distinct): the 100 TB
    * alternative to exact COUNT(DISTINCT); estimator differs from
    * DuckDB's → rows-only, exactness pinned against q10 in a spec. */
  val q30 = Q.noOracle("q30_hll_distinct") { (s, d) =>
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
  }

  /** q31 — quality-score filter: the cheap scan-side pre-filter of a
    * data pipeline; pure deterministic double arithmetic → oracled. */
  val q31 = Q("q31_quality_filter", {
    val allStops = Text.Stopwords.values.flatten.toSeq
    val hits = hitsSql(allStops)
    s"""SELECT doc_id, score FROM (
       |  SELECT doc_id,
       |    (least(length(text) / 200.0, 1.0)
       |     + (1.0 - least(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
       |                      / length(text) * 4.0, 1.0))
       |     + least(CAST($hits AS DOUBLE) / len(string_split(trim(text), ' ')) * 5.0, 1.0))
       |    / 3.0 AS score
       |  FROM documents) WHERE score >= 0.5""".stripMargin }) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.qualityScore(col("text")).as("score"))
      .filter(col("score") >= 0.5)
  }

  /** q32 — JSON field extraction (the batch twin of the streaming
    * from_json parse chain): parse `props`, aggregate by the extracted
    * key. */
  val q32 = Q("q32_json_extract",
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast(IntegerType).as("k"), col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), graft.Cols.dsum(col("value")).as("total_value"))
  }

  /** q51 — LSH-gated exact Jaccard (q20's candidates → q22's verify):
    * the 100 TB near-dup composition, where the exact intersection is
    * computed only for LSH candidate pairs. Fully oracled via the
    * shared md5-minhash CTE chain. */
  val q51 = Q("q51_lsh_verified",
    s"""$minhashCteSql,
       |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
       |candp AS (SELECT a, b FROM scored WHERE est_jaccard >= 0.2),
       |inter AS (
       |  SELECT c.a, c.b, COUNT(*) AS inter
       |  FROM candp c
       |  JOIN grams ga ON ga.doc_id = c.a
       |  JOIN grams gb ON gb.doc_id = c.b AND gb.gram = ga.gram
       |  GROUP BY 1, 2)
       |SELECT a, b, CAST(inter AS DOUBLE) / (sa.n_grams + sb.n_grams - inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = a
       |JOIN sizes sb ON sb.doc_id = b
       |WHERE CAST(inter AS DOUBLE) / (sa.n_grams + sb.n_grams - inter) >= 0.2""".stripMargin
  ) { (s, d) =>
    Dedup.lshVerifiedJaccard(Tables.documents(s, d), "doc_id", "text",
      n = 3, k = 16, bands = 8, estThreshold = 0.2, threshold = 0.2,
      bandHash = Dedup.Md5BandHash, affine = true)
  }

  /** Shared oracle CTE chain for the sampled-codebook IVF family: exact
    * left-to-right double dot products (the q23 convention, so cosines
    * are bit-identical to the native DotProductF32 expression), √n
    * codebook = the c smallest-id vectors (`Similarity.centroids`),
    * nearest-centroid assignment with (cos desc, centroid_id) tiebreak.
    */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** DuckDB twin of [[Similarity.l2sq]] (left-to-right (a−b)² double
    * sums; operands must already be double lists). */
  private[queries] def l2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"

  private[queries] val ivfAssignCteSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INT)) AS c FROM v),
       |cents AS (
       |  SELECT centroid_id, ce FROM (
       |    SELECT vec_id AS centroid_id, e AS ce,
       |           row_number() OVER (ORDER BY vec_id) AS rnk FROM v), n
       |  WHERE rnk <= n.c),
       |scored AS (
       |  SELECT v.vec_id, cents.centroid_id,
       |         ${dotSql("v.e", "cents.ce")}
       |         / (sqrt(${dotSql("v.e", "v.e")}) * sqrt(${dotSql("cents.ce", "cents.ce")})) AS c_sim
       |  FROM v CROSS JOIN cents),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY c_sim DESC, centroid_id) AS rn
       |    FROM scored) WHERE rn = 1)""".stripMargin

  /** q52 — the IVF build pass (nearest-centroid assignment) over the
    * deterministic sampled codebook, fully oracled: this is the one
    * full-data pass of the IVF index at 100 TB, so its correctness gate
    * matters more than the probe's. (q24/q25 run the same machinery
    * with the TRAINED k-means codebook — approximation ⇒ rows-only.) */
  val q52 = Q("q52_ivf_assign",
    s"""$ivfAssignCteSql
       |SELECT vec_id, centroid_id FROM assigned""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val c = Similarity.codebookSize(vecs.count())
    Similarity.ivfAssign(vecs, Similarity.centroids(vecs, c))
      .select("vec_id", "centroid_id")
  }

  /** q53 — embedding-cosine near-dup pairs within the sampled-codebook
    * IVF buckets: q25's plan shape (equi-join on centroid_id, never
    * O(n²)) with every cosine bit-verified by the oracle. */
  val q53 = Q("q53_bucketed_near_dups",
    s"""$ivfAssignCteSql,
       |av AS (
       |  SELECT a.vec_id, a.centroid_id, v.e, sqrt(${dotSql("v.e", "v.e")}) AS nrm
       |  FROM assigned a JOIN v ON v.vec_id = a.vec_id)
       |SELECT a, b, cos_sim FROM (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |         ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) AS cos_sim
       |  FROM av x JOIN av y
       |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id)
       |WHERE cos_sim >= 0.3""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val c = Similarity.codebookSize(vecs.count())
    val assigned = Similarity.ivfAssign(vecs, Similarity.centroids(vecs, c))
    Similarity.cosineNearDupPairs(assigned, threshold = 0.3)
  }

  /** q56 — repetition-ratio quality signals (the Gopher-style filters a
    * pretraining pipeline runs after q31's cheap score): distinct-token
    * ratio (scalar, scan speed) and top-bigram fraction (one explode +
    * per-doc aggregate — the n-gram unit is NON-distinct, unlike the
    * Jaccard shingles). Docs with fewer than 2 tokens carry a null
    * bigram fraction. */
  val q56 = Q("q56_repetition_ratio",
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
      |  FROM toks WHERE len(t) >= 2),
      |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
      |gs AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
      |              AS top_bigram_frac
      |       FROM gc GROUP BY 1)
      |SELECT d.doc_id,
      |       CAST(len(list_distinct(string_split(trim(d.text), ' '))) AS DOUBLE)
      |         / CAST(len(string_split(trim(d.text), ' ')) AS DOUBLE) AS distinct_token_ratio,
      |       gs.top_bigram_frac
      |FROM documents d LEFT JOIN gs ON gs.doc_id = d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val grams = docs.select(col("doc_id"), explode(Text.ngrams(col("text"), 2)).as("gram"))
    val gs = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max(col("c")).cast(DoubleType) / sum(col("c")).cast(DoubleType))
        .as("top_bigram_frac"))
    docs.select(col("doc_id"),
        Text.distinctTokenRatio(col("text")).as("distinct_token_ratio"))
      .join(gs, Seq("doc_id"), "left")
  }

  /** q57 — deterministic train/val/test split assignment by keyed hash
    * (80/10/10): the canonical training-data split. A hash of the doc
    * id (not a PRNG) makes membership stable across runs, engines and
    * repartitioning, and lets holdout membership be audited per row. */
  val q57 = Q("q57_split_assign", {
    val h = graft.functions.Hashes.h60Sql("'split|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id,
       |  CASE WHEN $h % 100 < 80 THEN 'train'
       |       WHEN $h % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }) { (s, d) =>
    val h = graft.functions.Hashes
      .h60(concat(lit("split|"), col("doc_id").cast(StringType))) % 100
    Tables.documents(s, d).select(col("doc_id"),
      when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
  }

  /** q60 — the training-data prep pipeline composed end-to-end: keep
    * quality-passing docs (q31's score), collapse exact duplicates to
    * their canonical id (q15's dedup — canonical = min doc_id per
    * text), assign the train/val/test split (q57's keyed hash). One
    * declarative plan: Catalyst pipelines the scalar score and split
    * into the scan and the dedup is the single shuffle. This is the
    * query a pretraining ingest actually runs. */
  val q60 = Q("q60_prep_pipeline", {
    val allStops = Text.Stopwords.values.flatten.toSeq
    val hits = hitsSql(allStops)
    val split = graft.functions.Hashes.h60Sql("'split|' || CAST(doc_id AS VARCHAR)")
    s"""WITH scored AS (
       |  SELECT doc_id, text, lang,
       |    (least(length(text) / 200.0, 1.0)
       |     + (1.0 - least(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
       |                      / length(text) * 4.0, 1.0))
       |     + least(CAST($hits AS DOUBLE) / len(string_split(trim(text), ' ')) * 5.0, 1.0))
       |    / 3.0 AS score
       |  FROM documents),
       |kept AS (SELECT * FROM scored WHERE score >= 0.5),
       |canon AS (
       |  SELECT min(doc_id) AS doc_id, md5(text) AS text_hash,
       |         COUNT(*) AS dup_count
       |  FROM kept GROUP BY md5(text))
       |SELECT c.doc_id, c.text_hash, c.dup_count, k.lang, k.score,
       |  CASE WHEN ${split.replace("doc_id", "c.doc_id")} % 100 < 80 THEN 'train'
       |       WHEN ${split.replace("doc_id", "c.doc_id")} % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM canon c JOIN kept k ON k.doc_id = c.doc_id""".stripMargin
  }) { (s, d) =>
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("text"), col("lang"),
      Text.qualityScore(col("text")).as("score"))
    val kept = scored.filter(col("score") >= 0.5)
    val canon = Dedup.exact(kept, "doc_id", "text")
      .select(col("canonical_id").as("doc_id"), col("text_hash"), col("dup_count"))
    val h = graft.functions.Hashes
      .h60(concat(lit("split|"), col("doc_id").cast(StringType))) % 100
    canon.join(kept.select(col("doc_id"), col("lang"), col("score")), Seq("doc_id"))
      .select(col("doc_id"), col("text_hash"), col("dup_count"), col("lang"), col("score"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
  }

  /** q66 — int8 scalar quantization of embeddings (the storage form at
    * 100 TB: 4× smaller than float32): per-vector scale = max |x|,
    * q = floor(x/scale·127). Floor (not round — engines disagree on
    * half-way ties) over IEEE-deterministic double ops keeps it under
    * the gate; first 8 dims exploded to scalar rows (list cells don't
    * hash portably in the compare harness). */
  val q66 = Q("q66_quantize_embeddings",
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |         CAST(greatest(list_max(list_transform(embedding, x -> abs(x))),
      |                       CAST(1e-12 AS FLOAT)) AS DOUBLE) AS scale
      |  FROM embeddings)
      |SELECT vec_id, scale, CAST(gi - 1 AS INT) AS dim,
      |       CAST(floor(CAST(embedding[gi] AS DOUBLE) / scale * 127) AS BIGINT) AS q_val
      |FROM v, (SELECT unnest(range(1, 9)) AS gi)""".stripMargin) { (s, d) =>
    val e = col("embedding")
    val withScale = Tables.embeddings(s, d).select(
      col("vec_id"), e,
      greatest(array_max(transform(e, x => abs(x))), lit(1e-12f))
        .cast(DoubleType).as("scale"))
    withScale.select(col("vec_id"), col("scale"),
        posexplode(transform(slice(e, 1, 8),
          x => floor(x.cast(DoubleType) / col("scale") * 127))))
      .select(col("vec_id"), col("scale"), col("pos").as("dim"), col("col").as("q_val"))
  }

  /** q67 — sequence packing for pretraining: documents are concatenated
    * per shard (lang here) in doc_id order and cut into fixed 2048-token
    * sequences; each doc gets its global start offset, its sequence
    * index, and whether it straddles a boundary. Pure keyed window
    * cumsum — parallel per shard, no shuffle beyond the window key (a
    * GLOBAL pack would be a single-partition window: always shard
    * first at scale). */
  val q67 = Q("q67_sequence_packing",
    """WITH t AS (
      |  SELECT lang, doc_id, len(string_split(trim(text), ' ')) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT lang, doc_id, n_tokens,
      |         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |           - n_tokens AS start_offset
      |  FROM t)
      |SELECT lang, doc_id, n_tokens, start_offset,
      |       start_offset // 2048 AS seq_idx,
      |       CASE WHEN (start_offset + n_tokens - 1) // 2048 > start_offset // 2048
      |            THEN 1 ELSE 0 END AS crosses_boundary
      |FROM c""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("start_offset"),
        expr("start_offset div 2048").as("seq_idx"),
        when(expr("(start_offset + n_tokens - 1) div 2048") > expr("start_offset div 2048"), 1)
          .otherwise(0).as("crosses_boundary"))
  }

  /** q68 — dedup CLUSTERING: rare-gram candidate edges → distributed
    * connected components (driver union-find under the graph cap), the stage
    * that turns pairwise near-dup evidence into canonical groups. Every
    * doc gets the minimum doc_id reachable through shared-rare-gram
    * edges as its component (isolated docs label themselves). The
    * oracle computes the same fixpoint as a DuckDB recursive
    * transitive-closure CTE + MIN — exact, so the whole dedup story
    * (candidates → verify → clusters) is now end-to-end under the gate. */
  val q68 = Q("q68_dedup_components",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |  FROM toks),
      |rare AS (
      |  SELECT g.doc_id, g.gram FROM grams g
      |  JOIN (SELECT gram, COUNT(*) AS gram_df FROM grams GROUP BY 1) f
      |    ON g.gram = f.gram
      |  WHERE f.gram_df BETWEEN 2 AND 50),
      |e0 AS (
      |  SELECT ga.doc_id AS a, gb.doc_id AS b
      |  FROM rare ga JOIN rare gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      |reach(v, u) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
      |SELECT v AS doc_id, MIN(u) AS component FROM reach GROUP BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
      maxDf = 50L, minShared = 2L)
    graft.operators.Components
      .connectedComponents(edges, docs.select(col("doc_id")))
      .select(col("v").as("doc_id"), col("component"))
  }

  /** q83 — q68's twin on the DISTRIBUTED side of the components gate
    * (`localMaxRows = 0`: O(log n) star contraction, large-star/
    * small-star, Kiveris et al. SoCC'14) instead of the driver
    * union-find: same rare-gram edge set, same oracle fixpoint
    * (recursive-CTE transitive closure, reused verbatim). Hash-green
    * here means the above-cap path is itself under the exact gate,
    * not just spec'd equal to the union-find. */
  val q83 = Q("q83_dedup_components_star", q68.oracle.get) { (s, d) =>
    val docs = Tables.documents(s, d)
    val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
      maxDf = 50L, minShared = 2L)
    graft.operators.Components
      .connectedComponents(edges, docs.select(col("doc_id")), localMaxRows = 0L)
      .select(col("v").as("doc_id"), col("component"))
  }

  /** q125 — LEAKAGE-SAFE train/val/test split: q57's keyed-hash split
    * applied to the COMPONENT label instead of the doc id, so every
    * doc in a near-dup cluster (q68's fixpoint) lands in the same
    * split. This closes the classic eval-contamination hole — hashing
    * per-doc puts a train doc's near-duplicate in test with
    * probability ~20 % PER DUP PAIR, and at 100 TB that is millions of
    * leaked eval documents; hashing per-cluster makes leakage
    * structurally impossible while keeping q57's determinism and
    * 80/10/10 proportions (over clusters). Oracle: q68's
    * transitive-closure CTE reused verbatim + q57's hash arithmetic on
    * the component label — the COMPOSITION is under the exact gate. */
  val q125: Q = {
    val closing = "SELECT v AS doc_id, MIN(u) AS component FROM reach GROUP BY 1"
    val base = q68.oracle.get
    require(base.contains(closing), "q68 oracle changed shape under q125")
    val split = graft.functions.Hashes.h60Sql("'split|' || CAST(component AS VARCHAR)")
    val sql = base.replace(closing,
      s"""comp AS ($closing)
         |SELECT doc_id, component,
         |  CASE WHEN $split % 100 < 80 THEN 'train'
         |       WHEN $split % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |FROM comp""".stripMargin)
      // splice the closing aggregate into the WITH list: the recursive
      // CTE chain continues with a comma before the final SELECT
      .replace("edges e ON r.u = e.a)\ncomp AS", "edges e ON r.u = e.a),\ncomp AS")
    Q("q125_leakage_safe_split", sql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
        maxDf = 50L, minShared = 2L)
      val comp = graft.operators.Components
        .connectedComponents(edges, docs.select(col("doc_id")))
        .select(col("v").as("doc_id"), col("component"))
      val h = graft.functions.Hashes
        .h60(concat(lit("split|"), col("component").cast(StringType))) % 100
      comp.select(col("doc_id"), col("component"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
    }
  }

  /** q127 — QUALITY-AWARE cluster canonicalization: q68's components
    * choose their representative by MAX quality score (q31/q60's
    * composite; doc_id tiebreak), not min id — the RefinedWeb-style
    * policy where dedup keeps the best-written copy, not an arbitrary
    * one. One window per component over the (component ⨝ score) join;
    * at 100 TB the window input is |docs| rows partitioned by
    * component — same scale class as the q94 canonical-apply. Oracle:
    * the q68 closure CTE + q60's score arithmetic + the same
    * row_number, composed — the POLICY sits under the exact gate.
    * NULL-text docs score 0 via coalesce on BOTH sides (the q116
    * regeneration lesson: never let NULL ordering divergence hide in
    * fixtures that happen to lack NULLs). */
  val q127: Q = {
    val closing = "SELECT v AS doc_id, MIN(u) AS component FROM reach GROUP BY 1"
    val base = q68.oracle.get
    require(base.contains(closing), "q68 oracle changed shape under q127")
    val hits = hitsSql(Text.Stopwords.values.flatten.toSeq)
    val sql = base.replace(closing,
      s"""comp AS ($closing),
         |scored AS (
         |  SELECT doc_id, COALESCE(
         |    (least(length(text) / 200.0, 1.0)
         |     + (1.0 - least(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
         |                      / length(text) * 4.0, 1.0))
         |     + least(CAST($hits AS DOUBLE) / len(string_split(trim(text), ' ')) * 5.0, 1.0))
         |    / 3.0, 0.0) AS score
         |  FROM documents),
         |r AS (
         |  SELECT c.component, c.doc_id, s.score,
         |         row_number() OVER (PARTITION BY c.component
         |                            ORDER BY s.score DESC, c.doc_id) AS rn,
         |         COUNT(*) OVER (PARTITION BY c.component) AS n_docs
         |  FROM comp c JOIN scored s ON s.doc_id = c.doc_id)
         |SELECT component, doc_id AS kept_doc_id, n_docs, score AS best_score
         |FROM r WHERE rn = 1""".stripMargin)
      .replace("edges e ON r.u = e.a)\ncomp AS", "edges e ON r.u = e.a),\ncomp AS")
    Q("q127_cluster_best_keep", sql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
        maxDf = 50L, minShared = 2L)
      val comp = graft.operators.Components
        .connectedComponents(edges, docs.select(col("doc_id")))
        .select(col("v").as("doc_id"), col("component"))
      val scored = docs.select(col("doc_id"),
        coalesce(Text.qualityScore(col("text")), lit(0.0)).as("score"))
      val w = Window.partitionBy("component").orderBy(col("score").desc, col("doc_id"))
      comp.join(scored, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("component")))
        .filter(col("rn") === 1)
        .select(col("component"), col("doc_id").as("kept_doc_id"),
          col("n_docs"), col("score").as("best_score"))
    }
  }

  /** q130 — eval-leakage AUDIT: the near-dup pairs (q68's edge set)
    * whose two ends land in DIFFERENT splits under the naive per-doc
    * hash split (q57's arithmetic) — each row is an eval document
    * whose near-duplicate is in train. This is the measurement that
    * motivates q125: on this fixture the naive policy leaks a
    * substantial fraction of dup pairs (~2·p·(1−p) of them for split
    * fraction p), while the cluster-keyed split leaks ZERO by
    * construction (pinned in ComponentsSpec). Run it against any
    * existing split assignment before training; at 100 TB it is one
    * edge build (already amortized by the dedup pass) + two hash-join
    * probes. */
  val q130: Q = {
    val marker = "\nedges AS ("
    val base = q68.oracle.get
    require(base.contains(marker), "q68 oracle changed shape under q130")
    val split = graft.functions.Hashes.h60Sql("'split|' || CAST(doc_id AS VARCHAR)")
    val sql = base.substring(0, base.indexOf(marker)) +
      s"""
         |s AS (SELECT doc_id,
         |        CASE WHEN $split % 100 < 80 THEN 'train'
         |             WHEN $split % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |      FROM documents)
         |SELECT e0.a, e0.b, sa.split AS split_a, sb.split AS split_b
         |FROM e0 JOIN s sa ON sa.doc_id = e0.a JOIN s sb ON sb.doc_id = e0.b
         |WHERE sa.split <> sb.split""".stripMargin
    Q("q130_leakage_audit", sql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
        maxDf = 50L, minShared = 2L)
      val h = graft.functions.Hashes
        .h60(concat(lit("split|"), col("doc_id").cast(StringType))) % 100
      val split = docs.select(col("doc_id"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
      edges
        .join(split.select(col("doc_id").as("a"), col("split").as("split_a")), Seq("a"))
        .join(split.select(col("doc_id").as("b"), col("split").as("split_b")), Seq("b"))
        .filter(col("split_a") =!= col("split_b"))
        .select("a", "b", "split_a", "split_b")
    }
  }

  /** q84 — SimHash near-dup PAIRS (q21 emits the signature; this is the
    * pair-generation stage, completing the SimHash dedup path like q20
    * does for MinHash): 4 16-bit bands block candidates by equi-join,
    * exact Hamming gates <= 3 — recall is exact by pigeonhole (see
    * `Dedup.simhashNearDupPairs`). Registered with the md5-derived
    * `Hashes.h60` token hash so the oracle reproduces every bit. */
  val q84 = Q("q84_simhash_near_dups", {
    val hs = graft.functions.Hashes.tokenH60ListSql("text")
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(range(0, 60), i ->
       |      CASE WHEN 2 * len(list_filter(hs, v -> (v >> i) & 1 = 1)) > len(hs)
       |           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END), (a, b) -> a + b) AS simhash
       |  FROM (SELECT doc_id, $hs AS hs FROM documents)),
       |banded AS (
       |  SELECT doc_id, simhash, b, (simhash >> (b * 16)) & 65535 AS bh
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |         CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id)
       |SELECT a, b, hamming FROM cand WHERE hamming <= 3""".stripMargin
  }) { (s, d) =>
    Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
      maxHamming = 3, bands = 4, tokenHash = graft.functions.Hashes.h60)
  }

  /** q84's production twin: same plan, xxhash64 token hash instead of
    * the md5-derived oracle form (MessageDigest-per-token is parity
    * machinery, not the shipped hash) — Bench times this one and skips
    * the md5 form, like q26/q28. */
  val q84p = Q.noOracle("q84_simhash_near_dups_prod") { (s, d) =>
    Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
      maxHamming = 3, bands = 4)
  }

  /** q85 — temporal densification (gap-filled daily spine): per order
    * priority, every day of 1996-01 appears with its order count,
    * zero-filled where no orders landed — the dashboard/time-series
    * staple (no gaps in a chart, windows over regular steps). Spine =
    * distinct keys × `sequence(start, end, 1 day)` EXPLODED on the key
    * side — an explode, not a cross join, so the plan stays NLJ-free
    * and the spine build parallelizes over keys at any key count. */
  val q85 = Q("q85_daily_spine",
    """WITH days AS (
      |  SELECT CAST(unnest(generate_series(DATE '1996-01-01', DATE '1996-01-31',
      |                                     INTERVAL 1 DAY)) AS DATE) AS day),
      |prio AS (SELECT DISTINCT o_orderpriority AS priority FROM orders),
      |counts AS (
      |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
      |         COUNT(*) AS n_orders
      |  FROM orders
      |  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-01-31'
      |  GROUP BY 1, 2)
      |SELECT p.priority, d.day, COALESCE(c.n_orders, 0) AS n_orders
      |FROM prio p CROSS JOIN days d
      |LEFT JOIN counts c ON c.priority = p.priority AND c.day = d.day""".stripMargin) { (s, d) =>
    val prepared = Tables.orders(s, d).select(
      col("o_orderpriority").as("priority"), to_date(col("o_orderdate")).as("day"))
    Relational.gapFillDailyCounts(prepared, "priority", "day",
      java.sql.Date.valueOf("1996-01-01"), java.sql.Date.valueOf("1996-01-31"))
      .withColumnRenamed("n_rows", "n_orders")
  }

  /** q86 — curriculum buckets: length-ordered ntile quartiles per
    * language, the assignment a length-based curriculum schedule reads
    * (train on bucket 1 first, 4 last). The window partitions by lang
    * — parallel across partitions, deterministic under the (n_tokens,
    * doc_id) total order. The exact-equal-count ntile is the oracled
    * semantics pin; at 100 TB you'd cut by approx_percentile
    * boundaries instead (q82's machinery) to avoid any per-partition
    * total sort of a giant language. */
  val q86 = Q("q86_curriculum_buckets",
    """SELECT doc_id, lang,
      |       CAST(ntile(4) OVER (PARTITION BY lang
      |                           ORDER BY len(string_split(trim(text), ' ')), doc_id)
      |            AS INTEGER) AS bucket
      |FROM documents""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("lang")).orderBy(col("n_tokens"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), Text.tokenCount(col("text")).as("n_tokens"))
      .select(col("doc_id"), col("lang"), ntile(4).over(w).as("bucket"))
  }

  /** q86 production twin — the form the q86 scaladoc names for giant
    * languages: cut buckets at per-language `approx_percentile`
    * boundaries (q82's bounded-memory sketch) instead of ntile's
    * per-partition total sort. One small groupBy produces ≤|langs|
    * boundary rows, broadcast back; every doc then buckets with a
    * scan-local comparison — no window, no sort, no skew exposure to
    * the largest language. Bucket POPULATIONS are approximate where
    * ntile's are exactly equal, which is why the exact form stays the
    * oracle pin (no-oracle twin, same pattern as q84_prod/q89_prod). */
  val q86p = Q.noOracle("q86_curriculum_buckets_prod") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), Text.tokenCount(col("text")).as("n_tokens"))
    val bounds = toks.groupBy("lang").agg(approx_percentile(
      col("n_tokens"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qs"))
    toks.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        when(col("n_tokens") <= col("qs")(0), 1)
          .when(col("n_tokens") <= col("qs")(1), 2)
          .when(col("n_tokens") <= col("qs")(2), 3)
          .otherwise(4).cast("int").as("bucket"))
  }

  /** q99 — PQ encode (product quantization, IVF-PQ's compression half)
    * under the exact oracle: each 64-dim vector becomes m=4 codes, one
    * nearest sub-centroid per 16-dim block, squared-L2 with ties to the
    * lowest code id. Sub-codebooks follow the q52 id-sample discipline
    * so DuckDB reproduces the assignment bit-for-bit (a trained
    * variant swaps in per-block Lloyd; the pass is identical). This is
    * the one full-data pass of a PQ index — at 100 TB it turns 256 B
    * float vectors into m bytes (c=16 here for the test grid; 256 in
    * production), which is what makes billion-vector ANN storable. */
  /** Shared flat-PQ oracle chain (q99's full encode pass): doubles
    * view, id-sampled 16-centroid codebook, per-block sub-slices, and
    * the `codes` relation of nearest sub-centroids. q100 extends it
    * with the query LUT + block-ordered ADC fold. */
  private val pqFlatCtesSql =
    """v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |cents AS (
      |  SELECT code_id, ce FROM (
      |    SELECT vec_id AS code_id, e AS ce,
      |           row_number() OVER (ORDER BY vec_id) AS rnk FROM v)
      |  WHERE rnk <= 16),
      |blocks AS (SELECT unnest(range(0, 4)) AS block),
      |vb AS (SELECT v.vec_id, b.block,
      |              list_slice(v.e, b.block*16 + 1, b.block*16 + 16) AS sub
      |       FROM v CROSS JOIN blocks b),
      |cb AS (SELECT b.block, c.code_id,
      |              list_slice(c.ce, b.block*16 + 1, b.block*16 + 16) AS sc
      |       FROM cents c CROSS JOIN blocks b),
      |scored AS (
      |  SELECT vb.vec_id, vb.block, cb.code_id,
      |         list_reduce(list_transform(range(1, 17),
      |                       i -> (vb.sub[i] - cb.sc[i]) * (vb.sub[i] - cb.sc[i])),
      |                     (x, y) -> x + y) AS d2
      |  FROM vb JOIN cb ON vb.block = cb.block),
      |codes AS (
      |  SELECT vec_id, block, code FROM (
      |    SELECT vec_id, block, code_id AS code,
      |           row_number() OVER (PARTITION BY vec_id, block
      |                              ORDER BY d2, code_id) AS rn
      |    FROM scored) WHERE rn = 1)""".stripMargin

  val q99 = Q("q99_pq_codes",
    s"""WITH $pqFlatCtesSql
       |SELECT vec_id, block, code FROM codes""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    Similarity.pqAssign(vecs, Similarity.pqCodebooks(vecs, m = 4, c = 16, dim = 64),
      m = 4, dim = 64)
  }

  /** q100 — ADC top-10 over the q99 codes: per query an m·c lookup
    * table of exact sub-distances, broadcast; every corpus vector
    * scores as m table lookups folded in BLOCK ORDER — the corpus
    * embeddings are never re-read. FULLY ORACLED since round 14 (the
    * q156/q161 deterministic-fold discipline promoted into
    * [[Similarity.pqTopK]]): approximate-by-quantization but exact-by-
    * arithmetic, so DuckDB replays encode → LUT → ADC → top-10
    * bit-for-bit; recall vs the exact scan stays pinned in
    * SimilaritySpec. */
  val q100 = Q("q100_pq_adc_topk",
    s"""WITH $pqFlatCtesSql,
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
       |qvb AS (SELECT q.query_id, b.block,
       |               list_slice(q.qe, b.block*16 + 1, b.block*16 + 16) AS sub
       |        FROM q CROSS JOIN blocks b),
       |lut AS (
       |  SELECT qvb.query_id, qvb.block, cb.code_id AS code,
       |         list_reduce(list_transform(range(1, 17),
       |                       i -> (qvb.sub[i] - cb.sc[i]) * (qvb.sub[i] - cb.sc[i])),
       |                     (x, y) -> x + y) AS d2
       |  FROM qvb JOIN cb ON qvb.block = cb.block),
       |adc AS (
       |  SELECT l.query_id, c.vec_id,
       |         list_reduce(list(l.d2 ORDER BY l.block), (x, y) -> x + y) AS adc_d2
       |  FROM lut l
       |  JOIN codes c ON c.block = l.block AND c.code = l.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_d2, rank FROM (
       |  SELECT query_id, vec_id AS neighbor_id, adc_d2,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc_d2, vec_id) AS rank
       |  FROM adc) WHERE rank <= 10""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val books = Similarity.pqCodebooks(vecs, m = 4, c = 16, dim = 64)
    val codes = Similarity.pqAssign(vecs, books, m = 4, dim = 64)
    Similarity.pqTopK(codes, books, vecs.filter(col("vec_id") < 5), k = 10,
      m = 4, dim = 64)
  }

  /** q101 — INCREMENTAL minhash dedup (the shard-arrival path): docs
    * with id above the median are "the new shard", the rest are the
    * existing corpus whose banded LSH index is already built; only the
    * shard is shingled/signed/banded, and its bands probe the index.
    * Emits exactly the q20 pairs that TOUCH the shard (union with the
    * corpus's own pairs ≡ full recompute — equivalence spec-pinned in
    * TextDedupSpec). The oracle runs the full q20 CTE and restricts to
    * shard-touching pairs, so every signature, band hash and estimate
    * of the incremental path is hash-verified. */
  val q101 = Q("q101_incremental_dedup",
    s"""$minhashCteSql,
       |cut AS (SELECT CAST(max(doc_id) // 2 AS BIGINT) AS c FROM documents)
       |SELECT a, b, est_jaccard FROM scored, cut
       |WHERE est_jaccard >= 0.2 AND (a > cut.c OR b > cut.c)""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cut = docs.agg((max(col("doc_id")) / 2).cast("long")).head().getLong(0)
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignaturesAffine(df, "doc_id", "text", shingleN = 3, k = 16)
    val index = Dedup.bandedIndex(sigs(docs.filter(col("doc_id") <= cut)),
      "doc_id", k = 16, bands = 8, bandHash = Dedup.Md5BandHash)
    Dedup.minhashCandidatesIncremental(sigs(docs.filter(col("doc_id") > cut)),
      index, "doc_id", k = 16, bands = 8, estThreshold = 0.2,
      bandHash = Dedup.Md5BandHash)
  }

  /** q135 — cross-corpus DECONTAMINATION at index scale
    * ([[Dedup.decontaminateAgainst]]): docs whose id ≡ 0 (mod 7) play
    * the too-big-to-broadcast reference; every other doc survives only
    * if no banded MinHash collision with the reference estimates
    * Jaccard ≥ 0.2. Signatures are per-doc, so the split-then-probe
    * plan produces EXACTLY the cross pairs of q20's full `scored` CTE
    * restricted to mixed-side pairs — which is the oracle: an anti
    * NOT EXISTS over that restriction. q71 is the small-eval-suite
    * broadcast twin; this is the path when the reference is another
    * corpus. */
  val q135 = Q("q135_cross_corpus_decontam",
    s"""$minhashCteSql
       |SELECT d.doc_id, d.lang FROM documents d
       |WHERE d.doc_id % 7 <> 0 AND NOT EXISTS (
       |  SELECT 1 FROM scored s
       |  WHERE s.est_jaccard >= 0.2
       |    AND ((s.a = d.doc_id AND s.b % 7 = 0)
       |      OR (s.b = d.doc_id AND s.a % 7 = 0)))""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Dedup.decontaminateAgainst(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", shingleN = 3, k = 16, bands = 8,
        estThreshold = 0.2, bandHash = Dedup.Md5BandHash)
      .select("doc_id", "lang")
  }

  /** q149 — cross-SOURCE duplication matrix (the "overlap between
    * data sources" datasheet table the GPT-3/Pile appendices publish):
    * near-dup pair counts aggregated to unordered (source_a, source_b)
    * cells over q20's banded MinHash candidates — which source mirrors
    * which, and how much of the dedup burden is intra- vs
    * cross-source. Scale shape: the pair set is already band-bounded
    * (never O(n²)); the two source lookups are equi-joins on doc_id
    * against the (doc_id, source) projection, shuffled on the same key
    * the pair stream carries, and the final cell aggregate is
    * |sources|² rows at most. Symmetry is normalized with
    * least/greatest so each unordered pair lands in ONE cell. */
  val q149 = Q("q149_source_overlap_matrix",
    s"""$minhashCteSql,
       |sp AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_a,
       |       greatest(sa.source, sb.source) AS source_b,
       |       COUNT(*) AS n_pairs
       |FROM scored
       |JOIN sp sa ON sa.doc_id = a
       |JOIN sp sb ON sb.doc_id = b
       |WHERE est_jaccard >= 0.2
       |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sigs = Dedup.minhashSignaturesAffine(docs, "doc_id", "text",
      shingleN = 3, k = 16)
    val pairs = Dedup.minhashCandidates(sigs, "doc_id", k = 16, bands = 8,
      estThreshold = 0.2, bandHash = Dedup.Md5BandHash)
    val sp = docs.select(col("doc_id"), col("source"))
    pairs
      .join(sp.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
      .join(sp.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** q108 — IVF-PQ approximate top-10 (FAISS IndexIVFPQ shape): the
    * trained √n IVF codebook partitions, PQ encodes per-cell RESIDUALS
    * as m=32 blocks against c=64 Lloyd-refined sub-codebooks (~8×
    * compression; recall@10 ≥ 0.7 pinned in SimilaritySpec vs the
    * flat-PQ 0.2 floor — on this concentration-regime corpus recall
    * tracks quantization error, so code LENGTH is the lever), queries
    * probe c/4 cells with per-cell asymmetric-distance tables, and
    * assignment/probe/ADC share the squared-L2 metric (a cosine probe
    * over the L2 ground truth caps recall at ~0.5 regardless of code
    * length). Approximate ⇒ rows-only; the two exact halves are
    * oracled (q52 assign, q99 codes). See [[Similarity.ivfPqTopK]]
    * for the 100 TB story. */
  val q108 = Q.noOracle("q108_ivfpq_topk") { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val n = vecs.count()
    val cents = Similarity.sharedCodebook(vecs, n, tag = d)
    val nprobe = math.max(2, Similarity.codebookSize(n) / 4)
    Similarity.ivfPqTopK(vecs, cents, vecs.filter(col("vec_id") < 5),
      k = 10, nprobe = nprobe, m = 32, c = 64, dim = 64, iters = 2)
  }

  /** q109 — corpus DATASHEET ("datasheets for datasets"): one rollup
    * over (lang, source) reporting docs, tokens, low-quality docs and
    * exact-duplicate counts per stratum, per language and corpus-wide —
    * the release-audit artifact a curated corpus ships with. Every
    * aggregate is integer (the quality threshold compares the q31
    * deterministic double per row, then counts), the dup count is
    * COUNT(*) − COUNT(DISTINCT md5), and ROLLUP(lang, source) is the
    * exact grouping-set lattice both engines share — one scan, one
    * Expand, one shuffle (the q34/q96 discipline). */
  val q109 = Q("q109_corpus_datasheet", {
    val allStops = Text.Stopwords.values.flatten.toSeq
    val hits = hitsSql(allStops)
    s"""WITH base AS (
       |  SELECT lang, source,
       |         len(string_split(trim(text), ' ')) AS n_toks,
       |         (least(length(text) / 200.0, 1.0)
       |          + (1.0 - least(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
       |                           / length(text) * 4.0, 1.0))
       |          + least(CAST($hits AS DOUBLE) / len(string_split(trim(text), ' ')) * 5.0, 1.0))
       |         / 3.0 AS score,
       |         md5(text) AS h
       |  FROM documents)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |       CAST(SUM(CASE WHEN score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       |       COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups
       |FROM base GROUP BY ROLLUP (lang, source)""".stripMargin
  }) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        Text.tokenCount(col("text")).cast(LongType).as("n_toks"),
        Text.qualityScore(col("text")).as("score"),
        md5(col("text").cast(BinaryType)).as("h"))
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("score") < 0.5, 1L).otherwise(0L)).as("n_low_quality"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"))
  }

  /** q103 — count-vector cosine near-dup pairs over word 3-grams: the
    * multiplicity-aware sibling of q22 (Jaccard is blind to repeated
    * phrases — two docs with the same distinct gram set but wildly
    * different repetition look identical to it; the count vector is
    * the template-spam signal). Integer dot products and norms, one
    * IEEE sqrt·sqrt division per pair — same exactness discipline and
    * the same hot-gram df cap (mirrored by the oracle) as q22. */
  val q103 = Q("q103_ngram_cosine",
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |tf AS (
      |  SELECT doc_id, gram, COUNT(*) AS tf FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |    FROM toks)
      |  GROUP BY 1, 2),
      |norms AS (SELECT doc_id, SUM(tf * tf) AS ss FROM tf GROUP BY 1),
      |kept AS (
      |  SELECT tf.doc_id, tf.gram, tf.tf FROM tf
      |  JOIN (SELECT gram, COUNT(*) AS gram_df FROM tf GROUP BY 1) f
      |    ON tf.gram = f.gram
      |  WHERE f.gram_df <= 1000),
      |dot AS (
      |  SELECT ka.doc_id AS a, kb.doc_id AS b, SUM(ka.tf * kb.tf) AS dot
      |  FROM kept ka JOIN kept kb ON ka.gram = kb.gram AND ka.doc_id < kb.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b,
      |       CAST(dot AS DOUBLE)
      |         / (sqrt(CAST(ss_a AS DOUBLE)) * sqrt(CAST(ss_b AS DOUBLE))) AS cosine
      |FROM (SELECT dot.a, dot.b, dot.dot, na.ss AS ss_a, nb.ss AS ss_b
      |      FROM dot JOIN norms na ON na.doc_id = dot.a
      |               JOIN norms nb ON nb.doc_id = dot.b)
      |WHERE CAST(dot AS DOUBLE)
      |        / (sqrt(CAST(ss_a AS DOUBLE)) * sqrt(CAST(ss_b AS DOUBLE))) >= 0.3""".stripMargin) { (s, d) =>
    Dedup.ngramCosinePairs(Tables.documents(s, d), "doc_id", "text",
      n = 3, threshold = 0.3, maxGramDf = 1000L)
  }

  /** q104 — fixed-point integer PageRank (5 iterations, damping 85/100)
    * over the same rare-gram document graph q68/q83 cluster: the
    * centrality quality signal of web-corpus curation, as a SECOND
    * iterative graph algorithm under the exact gate (components prove
    * reachability; this proves weighted propagation). All-integer
    * arithmetic — `div` in Spark, `//` in DuckDB — so five rounds of
    * join+sum match bit-for-bit; the oracle unrolls the five
    * iterations as generated CTE stages, mirroring the engine's
    * unrolled lazy plan. See [[graft.operators.PageRank]] for the
    * scale/exactness notes. */
  val q104: Q = {
    val scale = 1000000000000L
    val edgeCtes =
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |rare AS (
        |  SELECT g.doc_id, g.gram FROM grams g
        |  JOIN (SELECT gram, COUNT(*) AS gram_df FROM grams GROUP BY 1) f
        |    ON g.gram = f.gram
        |  WHERE f.gram_df BETWEEN 2 AND 50),
        |e0 AS (
        |  SELECT ga.doc_id AS a, gb.doc_id AS b
        |  FROM rare ga JOIN rare gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |edges AS (SELECT a AS v, b AS dst FROM e0 UNION ALL SELECT b AS v, a AS dst FROM e0),
        |deg AS (SELECT v, COUNT(*) AS deg FROM edges GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n FROM documents),
        |r0 AS (SELECT doc_id AS v, 1000000000000 // n AS rank
        |       FROM documents CROSS JOIN stats)""".stripMargin
    val iterCte = (k: Int) =>
      s"""r$k AS (
         |  SELECT d.doc_id AS v,
         |         (1000000000000 * 15) // (100 * n)
         |           + (85 * COALESCE(s.sum_in, 0)) // 100 AS rank
         |  FROM documents d CROSS JOIN stats
         |  LEFT JOIN (SELECT e.dst AS v2, CAST(SUM(r.rank // dg.deg) AS BIGINT) AS sum_in
         |             FROM r${k - 1} r JOIN deg dg ON dg.v = r.v JOIN edges e ON e.v = r.v
         |             GROUP BY 1) s ON s.v2 = d.doc_id)""".stripMargin
    Q("q104_doc_pagerank",
      (edgeCtes +: (1 to 5).map(iterCte)).mkString(",\n") +
        "\nSELECT v AS doc_id, rank FROM r5") { (s, d) =>
      val docs = Tables.documents(s, d)
      val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
        maxDf = 50L, minShared = 2L)
      PageRank.fixedPointRanks(edges, docs.select(col("doc_id")), "doc_id",
        iterations = 5, scale = scale)
    }
  }

  /** q136 — PERSISTED incremental IVF index ([[VectorIndex]]): vectors
    * with id ≢ 0 (mod 5) are the base corpus — their √n id-sample
    * codebook is trained once and FROZEN as an on-disk AtomicTable
    * version — and the id ≡ 0 shard then arrives and is assigned
    * against the frozen artifact WITHOUT retraining or rescanning the
    * base (q101's incremental-index discipline applied to q52's assign
    * pass). The emitted rows are the committed inverted lists read
    * back from the artifact, so the gate verifies the full persisted
    * path: build → freeze → shard-assign → merged snapshot. The oracle
    * derives the codebook from the BASE ONLY and assigns everything —
    * exactly what frozen-codebook incremental maintenance must equal.
    * (The trained-Lloyd production path and the probe-equivalence /
    * frozen-version invariants are pinned in VectorIndexSpec.) */
  val q136 = Q("q136_ivf_index_incremental",
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |base AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
       |n AS (SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INT)) AS c FROM base),
       |cents AS (
       |  SELECT centroid_id, ce FROM (
       |    SELECT vec_id AS centroid_id, e AS ce,
       |           row_number() OVER (ORDER BY vec_id) AS rnk FROM base), n
       |  WHERE rnk <= n.c),
       |scored AS (
       |  SELECT v.vec_id, cents.centroid_id,
       |         ${dotSql("v.e", "cents.ce")}
       |         / (sqrt(${dotSql("v.e", "v.e")}) * sqrt(${dotSql("cents.ce", "cents.ce")})) AS c_sim
       |  FROM v CROSS JOIN cents)
       |SELECT vec_id, centroid_id FROM (
       |  SELECT vec_id, centroid_id,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY c_sim DESC, centroid_id) AS rn
       |  FROM scored) WHERE rn = 1""".stripMargin) { (s, d) =>
    VectorIndex.assigned(s, vecIndexDir(s, d)).select("vec_id", "centroid_id")
  }

  /** One vector-index artifact per (JVM, fixture stamp), built on first
    * touch and shared by the whole serving family (q136 lists, q154
    * probe, q155 codes, q156 ADC): bench reps measure the committed-
    * artifact read path — the thing an incremental index exists to
    * serve — not a from-scratch rebuild, and /tmp stops accumulating
    * index dirs (r11 verdict items 1/3/4). Build order is the frozen-
    * artifact discipline: IVF codebook + base lists, then the PQ books
    * over the BASE residuals (frozen before any arrival), then the
    * shard arrives through both tiers without retraining either. */
  private def vecIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    q136Dirs.computeIfAbsent(Q.dataStamp(d), _ => {
      val t = graft.pipeline.TempDirs.scoped("graft_vecindex_")
      val vecs = Tables.embeddings(s, d)
      val base = vecs.filter(col("vec_id") % 5 =!= 0)
      val shard = vecs.filter(col("vec_id") % 5 === 0)
      VectorIndex.build(base, t)
      VectorIndex.buildPq(s, t, m = 4, c = 16, dim = 64)
      VectorIndex.addShard(shard, t)
      VectorIndex.addShardPq(shard, t, m = 4, dim = 64)
      t
    })

  private val q136Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q154 — ANN top-k SERVED FROM the persisted [[VectorIndex]]
    * artifact (q24's workload answered by the committed codebook +
    * inverted lists, the q152 serving discipline applied to the vector
    * side): nothing is trained or assigned at query time — the probe
    * ranks the FROZEN codebook, joins the committed lists, exact-
    * scores only the probed cells. Completes the serving matrix
    * (lexical q148/q152/q153 ✓; vector build/assign q136 ✓, serve —
    * this). Fully oracled, unlike q24: the artifact's id-sample
    * codebook is SQL-derivable from the BASE corpus, so DuckDB replays
    * build → freeze → shard-assign → probe bit-for-bit (the q136
    * oracle extended by the probe half; cosines via the q23
    * left-to-right double discipline). */
  val q154 = Q("q154_ann_from_index",
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |base AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
       |n AS (SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INT)) AS c FROM base),
       |cents AS (
       |  SELECT centroid_id, ce FROM (
       |    SELECT vec_id AS centroid_id, e AS ce,
       |           row_number() OVER (ORDER BY vec_id) AS rnk FROM base), n
       |  WHERE rnk <= n.c),
       |scored AS (
       |  SELECT v.vec_id, cents.centroid_id,
       |         ${dotSql("v.e", "cents.ce")}
       |         / (sqrt(${dotSql("v.e", "v.e")}) * sqrt(${dotSql("cents.ce", "cents.ce")})) AS c_sim
       |  FROM v CROSS JOIN cents),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY c_sim DESC, centroid_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |q AS (
       |  SELECT vec_id AS query_id, e AS qe, sqrt(${dotSql("v.e", "v.e")}) AS qn
       |  FROM v WHERE vec_id < 5),
       |qprobe AS (
       |  SELECT query_id, centroid_id, qe, qn FROM (
       |    SELECT q.query_id, cents.centroid_id, q.qe, q.qn,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${dotSql("q.qe", "cents.ce")}
       |                                       / (q.qn * sqrt(${dotSql("cents.ce", "cents.ce")})) DESC,
       |                                       cents.centroid_id) AS rn
       |    FROM q CROSS JOIN cents), n
       |  WHERE rn <= GREATEST(2, n.c // 4)),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${dotSql("p.qe", "v.e")} / (p.qn * sqrt(${dotSql("v.e", "v.e")})) AS cos_sim
       |  FROM qprobe p
       |  JOIN assigned a ON a.centroid_id = p.centroid_id
       |  JOIN v ON v.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM cand) WHERE rank <= 10""".stripMargin) { (s, d) =>
    val dir = vecIndexDir(s, d)
    val vecs = Tables.embeddings(s, d)
    val baseN = vecs.filter(col("vec_id") % 5 =!= 0).count()
    val nprobe = math.max(2, Similarity.codebookSize(baseN) / 4)
    VectorIndex.topK(s, dir, vecs.filter(col("vec_id") < 5), k = 10,
      nprobe = nprobe)
  }

  /** q155 — the PERSISTED PQ tier's codes, read back from the artifact
    * (r11 verdict item 4: "at 100 TB the PQ codes ARE the index"):
    * residual sub-codebooks trained on the BASE corpus's residuals and
    * FROZEN as an AtomicTable version, base codes committed, then the
    * shard arrives and is PQ-encoded against the frozen books WITHOUT
    * retraining (q136's discipline one tier down — and because the
    * encode argmin is per-row against fixed books, shard-encode ≡ full
    * re-encode, which is exactly what the oracle computes: codebook
    * and books from BASE ONLY, every vector encoded). Residuals are
    * f32 zip_with subtraction (the compact production representation);
    * the oracle reproduces the f32 rounding by CAST(diff AS FLOAT)
    * before widening — exact, since a double difference of two f32
    * values is itself exact. Code distances follow q99's left-to-right
    * double discipline. */
  val q155 = Q("q155_pq_codes_from_index",
    s"""WITH v AS (
       |  SELECT vec_id, embedding AS f,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |base AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
       |n AS (SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INT)) AS c FROM base),
       |cents AS (
       |  SELECT centroid_id, ce, cf FROM (
       |    SELECT vec_id AS centroid_id, e AS ce, f AS cf,
       |           row_number() OVER (ORDER BY vec_id) AS rnk FROM base), n
       |  WHERE rnk <= n.c),
       |scored AS (
       |  SELECT v.vec_id, cents.centroid_id,
       |         ${dotSql("v.e", "cents.ce")}
       |         / (sqrt(${dotSql("v.e", "v.e")}) * sqrt(${dotSql("cents.ce", "cents.ce")})) AS c_sim
       |  FROM v CROSS JOIN cents),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY c_sim DESC, centroid_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |resid AS (
       |  SELECT a.vec_id, a.centroid_id,
       |         list_transform(range(1, 65),
       |           i -> CAST(CAST(v.f[i] - c.cf[i] AS FLOAT) AS DOUBLE)) AS r
       |  FROM assigned a
       |  JOIN v ON v.vec_id = a.vec_id
       |  JOIN cents c ON c.centroid_id = a.centroid_id),
       |books AS (
       |  SELECT code_id, bres FROM (
       |    SELECT vec_id AS code_id, r AS bres,
       |           row_number() OVER (ORDER BY vec_id) AS rnk
       |    FROM resid WHERE vec_id % 5 <> 0)
       |  WHERE rnk <= 16),
       |blocks AS (SELECT unnest(range(0, 4)) AS block),
       |vb AS (SELECT r.vec_id, r.centroid_id, b.block,
       |              list_slice(r.r, b.block*16 + 1, b.block*16 + 16) AS sub
       |       FROM resid r CROSS JOIN blocks b),
       |cb AS (SELECT b.block, k.code_id,
       |              list_slice(k.bres, b.block*16 + 1, b.block*16 + 16) AS sc
       |       FROM books k CROSS JOIN blocks b),
       |bd AS (
       |  SELECT vb.vec_id, vb.centroid_id, vb.block, cb.code_id,
       |         list_reduce(list_transform(range(1, 17),
       |                       i -> (vb.sub[i] - cb.sc[i]) * (vb.sub[i] - cb.sc[i])),
       |                     (x, y) -> x + y) AS d2
       |  FROM vb JOIN cb ON vb.block = cb.block)
       |SELECT vec_id, centroid_id, block, code FROM (
       |  SELECT vec_id, centroid_id, block, code_id AS code,
       |         row_number() OVER (PARTITION BY vec_id, block
       |                            ORDER BY d2, code_id) AS rn
       |  FROM bd) WHERE rn = 1""".stripMargin) { (s, d) =>
    VectorIndex.pqCodes(s, vecIndexDir(s, d))
  }

  /** Shared oracle CTE chain for the persisted-PQ serving pair (q156
    * unrefined ADC top-k, q161 shortlist + exact refine): build →
    * freeze → encode → probe → LUT → block-ordered ADC totals, ending
    * at the `adc` relation (query_id, vec_id, adc_d2). Every number is
    * deterministic — q155's f32 residual trick, integer-quantized
    * nothing, and the ADC total folded in BLOCK ORDER (`list(d2 ORDER
    * BY block)` here ≡ the engine's sort_array-then-aggregate fold) —
    * so both servings replay bit-for-bit in DuckDB. */
  private def pqAdcCtesSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding AS f,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |base AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
       |n AS (SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS INT)) AS c FROM base),
       |cents AS (
       |  SELECT centroid_id, ce, cf FROM (
       |    SELECT vec_id AS centroid_id, e AS ce, f AS cf,
       |           row_number() OVER (ORDER BY vec_id) AS rnk FROM base), n
       |  WHERE rnk <= n.c),
       |scored AS (
       |  SELECT v.vec_id, cents.centroid_id,
       |         ${dotSql("v.e", "cents.ce")}
       |         / (sqrt(${dotSql("v.e", "v.e")}) * sqrt(${dotSql("cents.ce", "cents.ce")})) AS c_sim
       |  FROM v CROSS JOIN cents),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY c_sim DESC, centroid_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |resid AS (
       |  SELECT a.vec_id, a.centroid_id,
       |         list_transform(range(1, 65),
       |           i -> CAST(CAST(v.f[i] - c.cf[i] AS FLOAT) AS DOUBLE)) AS r
       |  FROM assigned a
       |  JOIN v ON v.vec_id = a.vec_id
       |  JOIN cents c ON c.centroid_id = a.centroid_id),
       |books AS (
       |  SELECT code_id, bres FROM (
       |    SELECT vec_id AS code_id, r AS bres,
       |           row_number() OVER (ORDER BY vec_id) AS rnk
       |    FROM resid WHERE vec_id % 5 <> 0)
       |  WHERE rnk <= 16),
       |blocks AS (SELECT unnest(range(0, 4)) AS block),
       |vb AS (SELECT r.vec_id, r.centroid_id, b.block,
       |              list_slice(r.r, b.block*16 + 1, b.block*16 + 16) AS sub
       |       FROM resid r CROSS JOIN blocks b),
       |cb AS (SELECT b.block, k.code_id,
       |              list_slice(k.bres, b.block*16 + 1, b.block*16 + 16) AS sc
       |       FROM books k CROSS JOIN blocks b),
       |bd AS (
       |  SELECT vb.vec_id, vb.centroid_id, vb.block, cb.code_id,
       |         list_reduce(list_transform(range(1, 17),
       |                       i -> (vb.sub[i] - cb.sc[i]) * (vb.sub[i] - cb.sc[i])),
       |                     (x, y) -> x + y) AS d2
       |  FROM vb JOIN cb ON vb.block = cb.block),
       |codes AS (
       |  SELECT vec_id, centroid_id, block, code FROM (
       |    SELECT vec_id, centroid_id, block, code_id AS code,
       |           row_number() OVER (PARTITION BY vec_id, block
       |                              ORDER BY d2, code_id) AS rn
       |    FROM bd) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, f AS qf, e AS qe,
       |             sqrt(${dotSql("e", "e")}) AS qn
       |      FROM v WHERE vec_id < 5),
       |qprobe AS (
       |  SELECT query_id, centroid_id, qf, cf FROM (
       |    SELECT q.query_id, cents.centroid_id, q.qf, cents.cf,
       |           row_number() OVER (PARTITION BY q.query_id
       |                              ORDER BY ${dotSql("q.qe", "cents.ce")}
       |                                       / (q.qn * sqrt(${dotSql("cents.ce", "cents.ce")})) DESC,
       |                                       cents.centroid_id) AS rn
       |    FROM q CROSS JOIN cents), n
       |  WHERE rn <= GREATEST(2, n.c // 4)),
       |qres AS (
       |  SELECT query_id, centroid_id,
       |         list_transform(range(1, 65),
       |           i -> CAST(CAST(qf[i] - cf[i] AS FLOAT) AS DOUBLE)) AS qr
       |  FROM qprobe),
       |qvb AS (SELECT s.query_id, s.centroid_id, b.block,
       |               list_slice(s.qr, b.block*16 + 1, b.block*16 + 16) AS sub
       |        FROM qres s CROSS JOIN blocks b),
       |lut AS (
       |  SELECT qvb.query_id, qvb.centroid_id, qvb.block, cb.code_id AS code,
       |         list_reduce(list_transform(range(1, 17),
       |                       i -> (qvb.sub[i] - cb.sc[i]) * (qvb.sub[i] - cb.sc[i])),
       |                     (x, y) -> x + y) AS d2
       |  FROM qvb JOIN cb ON qvb.block = cb.block),
       |adc AS (
       |  SELECT l.query_id, c.vec_id,
       |         list_reduce(list(l.d2 ORDER BY l.block), (x, y) -> x + y) AS adc_d2
       |  FROM lut l
       |  JOIN codes c ON c.centroid_id = l.centroid_id
       |              AND c.block = l.block AND c.code = l.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2)""".stripMargin

  /** q156 — ADC top-10 SERVED FROM the persisted PQ tier
    * ([[VectorIndex.pqTopKFromIndex]]): q108's workload with nothing
    * trained at query time — frozen codebook ranks the cells, frozen
    * books build the per-(query, cell) residual lookup tables, the
    * committed codes score as m table lookups per vector. FULLY
    * ORACLED since round 13 (r12 verdict item 3): the engine folds
    * each vector's m block distances in BLOCK ORDER (q161's
    * deterministic-fold discipline promoted into
    * [[VectorIndex.pqTopKFromIndex]]), so the quantized top-k itself —
    * not just its refined sibling — replays bit-for-bit from the
    * [[pqAdcCtesSql]] chain. */
  val q156 = Q("q156_ivfpq_from_index",
    s"""$pqAdcCtesSql
       |SELECT query_id, neighbor_id, adc_d2, rank FROM (
       |  SELECT query_id, vec_id AS neighbor_id, adc_d2,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc_d2, vec_id) AS rank
       |  FROM adc) WHERE rank <= 10""".stripMargin) { (s, d) =>
    val dir = vecIndexDir(s, d)
    val vecs = Tables.embeddings(s, d)
    val baseN = vecs.filter(col("vec_id") % 5 =!= 0).count()
    val nprobe = math.max(2, Similarity.codebookSize(baseN) / 4)
    VectorIndex.pqTopKFromIndex(s, dir, vecs.filter(col("vec_id") < 5),
      k = 10, nprobe = nprobe, m = 4, dim = 64)
  }

  /** q161 — ADC shortlist + EXACT re-rank from the persisted PQ tier
    * ([[VectorIndex.pqTopKRefined]], the FAISS IndexRefineFlat
    * pattern): the committed codes cheaply pick 30 candidates per
    * query, then only THOSE full vectors are fetched and exactly
    * cosine-scored for the final top-10. This is the production
    * serving shape at 100 TB (m bytes per scanned vector, `rerank`
    * exact fetches per query). FULLY oracled: the engine folds each
    * vector's m block distances in block order, so DuckDB replays
    * build → freeze → encode → probe → LUT → ADC shortlist → exact
    * refine bit-for-bit (q155's f32 residual trick + q23's
    * left-to-right cosine discipline) — the [[pqAdcCtesSql]] chain
    * shared with q156, whose unrefined ADC ranking adopted the same
    * deterministic fold in round 13. */
  val q161 = Q("q161_ivfpq_refine",
    s"""$pqAdcCtesSql,
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY adc_d2, vec_id) AS rn
       |    FROM adc) WHERE rn <= 30),
       |ref AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |         ${dotSql("q.qe", "v.e")} / (q.qn * sqrt(${dotSql("v.e", "v.e")})) AS cos_sim
       |  FROM short s
       |  JOIN v ON v.vec_id = s.vec_id
       |  JOIN q ON q.query_id = s.query_id)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM ref) WHERE rank <= 10""".stripMargin) { (s, d) =>
    val dir = vecIndexDir(s, d)
    val vecs = Tables.embeddings(s, d)
    val baseN = vecs.filter(col("vec_id") % 5 =!= 0).count()
    val nprobe = math.max(2, Similarity.codebookSize(baseN) / 4)
    VectorIndex.pqTopKRefined(s, dir, vecs.filter(col("vec_id") < 5), vecs,
      k = 10, rerank = 30, nprobe = nprobe, m = 4, dim = 64)
  }

  /** One k-means|| sampling round as oracle CTEs: quantized integer
    * potential vs the candidate set so far, HUGEINT coin comparison,
    * candidates extended — the SQL twin of one loop iteration in
    * [[Similarity.kmeansParallelInit]]. */
  private def kmppRoundSql(t: Int, prevC: String): String =
    s"""p$t AS (
       |  SELECT v.vec_id,
       |         CAST(floor(min(${l2Sql("v.e", "c.ce")}) * 1048576.0) AS BIGINT) AS p
       |  FROM v CROSS JOIN $prevC c GROUP BY 1),
       |a$t AS (
       |  SELECT vec_id FROM p$t
       |  WHERE CAST(${Hashes.h60Sql(s"'kmpp|$t|' || CAST(vec_id AS VARCHAR)")} AS HUGEINT)
       |          * (SELECT CAST(SUM(p) AS HUGEINT) FROM p$t)
       |      < CAST(8 AS HUGEINT) * CAST(p AS HUGEINT)
       |          * CAST(1152921504606846976 AS HUGEINT)),
       |c$t AS (SELECT * FROM $prevC UNION ALL
       |        SELECT v.vec_id, v.e, $t FROM v JOIN a$t ON v.vec_id = a$t.vec_id)""".stripMargin

  /** q162 — k-means|| INITIALIZATION ([[Similarity.kmeansParallelInit]],
    * Bahmani et al. VLDB 2012): the distributed seeding every codebook
    * trainer here would use at 100 TB — `rounds` corpus passes sampling
    * ~l centers each with probability l·d²(x,C)/Σd², instead of
    * k-means++'s k sequential passes. Every round is replayed EXACTLY:
    * integer-quantized potentials (p = ⌊d²·2²⁰⌋, so the normalizer is
    * an integer sum), the h60 keyed-hash coin, and a 128-bit integer
    * acceptance comparison (decimal(38,0) engine-side, HUGEINT here —
    * the q131 rational discipline at k-means scale). Final selection:
    * top-16 candidates by (cluster weight DESC, vec_id) — the
    * documented deterministic stand-in for the paper's weighted
    * recluster. */
  val q162 = Q("q162_kmeans_parallel_init",
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, e AS ce, 0 AS round
       |       FROM v WHERE vec_id = (SELECT min(vec_id) FROM v)),
       |${kmppRoundSql(1, "c0")},
       |${kmppRoundSql(2, "c1")},
       |${kmppRoundSql(3, "c2")},
       |asg AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |                              ORDER BY ${l2Sql("v.e", "c.ce")}, c.c_id) AS rn
       |    FROM v CROSS JOIN c3 c) WHERE rn = 1),
       |wts AS (SELECT c_id, COUNT(*) AS weight FROM asg GROUP BY 1)
       |SELECT vec_id, round, weight, rank, rank <= 16 AS selected FROM (
       |  SELECT c.c_id AS vec_id, CAST(c.round AS INT) AS round,
       |         COALESCE(w.weight, 0) AS weight,
       |         CAST(row_number() OVER (ORDER BY COALESCE(w.weight, 0) DESC, c.c_id)
       |              AS INT) AS rank
       |  FROM c3 c LEFT JOIN wts w ON w.c_id = c.c_id)""".stripMargin) { (s, d) =>
    Similarity.kmeansParallelInit(Tables.embeddings(s, d),
      rounds = 3, l = 8, k = 16, salt = "kmpp")
  }

  /** q166 — HARD-NEGATIVE mining for contrastive training
    * ([[Similarity.hardNegatives]], the DPR recipe): per anchor, rank
    * same-IVF-cell candidates by cosine, SKIP the top 2 (the
    * near-dup/likely-positive zone a contrastive loss must not see as
    * negatives) and keep the next 3 — similar enough to be hard,
    * dissimilar enough to be negative. The q53 equi-join shape with a
    * per-anchor band cut; sampled codebook ⇒ every cell, cosine and
    * tiebreak replays in SQL. */
  val q166 = Q("q166_hard_negatives",
    s"""$ivfAssignCteSql,
       |av AS (
       |  SELECT a.vec_id, a.centroid_id, v.e, sqrt(${dotSql("v.e", "v.e")}) AS nrm
       |  FROM assigned a JOIN v ON v.vec_id = a.vec_id),
       |pairs AS (
       |  SELECT x.vec_id AS anchor_id, y.vec_id AS negative_id,
       |         ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) AS cos_sim
       |  FROM av x JOIN av y
       |    ON x.centroid_id = y.centroid_id AND x.vec_id <> y.vec_id)
       |SELECT anchor_id, negative_id, cos_sim, CAST(rank - 2 AS INT) AS neg_rank
       |FROM (
       |  SELECT anchor_id, negative_id, cos_sim,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY cos_sim DESC, negative_id) AS rank
       |  FROM pairs) WHERE rank > 2 AND rank <= 5""".stripMargin) { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val cents = Similarity.centroids(vecs, Similarity.codebookSize(vecs.count()))
    Similarity.hardNegatives(vecs, cents, skip = 2, take = 3)
  }

  /** q165 — the PRODUCTION k-means|| finish
    * ([[Similarity.kmeansParallelCentroids]]): q162's exact sampling
    * rounds, then the paper's weighted Lloyd recluster of the
    * candidate coreset down to k=16 centers ON THE DRIVER (the
    * candidate set is O(rounds·l) points — the corpus is never
    * rescanned while reclustering), then ONE corpus census pass under
    * the trained centers. Float means ⇒ rows-only (the q24/q100
    * prod-twin convention; the sampling half IS hash-gated as q162);
    * SimilaritySpec pins determinism, full coverage, and that the
    * trained centers beat the naive first-k seeding on total
    * potential. */
  val q165 = Q.noOracle("q165_kmeans_recluster") { (s, d) =>
    Similarity.kmeansParallelCentroids(Tables.embeddings(s, d),
      rounds = 3, l = 8, k = 16, salt = "kmpp")
  }

  /** q144 — bitext-style MUTUAL nearest-neighbor mining
    * ([[Similarity.mutualTopOne]]): vectors with even label play
    * corpus A ("source language"), odd label corpus B; a pair
    * survives iff each is the other's best cross-group cosine within
    * their shared sampled-codebook IVF cell — the LASER/CCMatrix
    * mutual-NN filter re-expressed as two map-side-combined argmax
    * aggregates and one semi-join, never O(|A|·|B|). Every cosine,
    * cell assignment and tiebreak is bit-replayed by the oracle (the
    * q52/q53 sampled-codebook discipline); the trained-codebook
    * production twin and the recall-vs-exact-scan pin live in
    * SimilaritySpec. */
  val q144 = Q("q144_bitext_mutual_nn",
    s"""$ivfAssignCteSql,
       |probed AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY c_sim DESC, centroid_id) AS rn
       |    FROM scored) WHERE rn <= 2),
       |sidev AS (
       |  SELECT p.vec_id, p.centroid_id, v.e,
       |         sqrt(${dotSql("v.e", "v.e")}) AS nrm, em.label % 2 AS par
       |  FROM probed p
       |  JOIN v ON v.vec_id = p.vec_id
       |  JOIN embeddings em ON em.vec_id = p.vec_id),
       |x AS (
       |  SELECT DISTINCT sa.vec_id AS a_id, sb.vec_id AS b_id,
       |         ${dotSql("sa.e", "sb.e")} / (sa.nrm * sb.nrm) AS cos_sim
       |  FROM sidev sa JOIN sidev sb ON sa.centroid_id = sb.centroid_id
       |  WHERE sa.par = 0 AND sb.par = 1),
       |ba AS (
       |  SELECT a_id, b_id, cos_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |                                 ORDER BY cos_sim DESC, b_id) AS rn
       |    FROM x) WHERE rn = 1),
       |bb AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY b_id
       |                                 ORDER BY cos_sim DESC, a_id) AS rn
       |    FROM x) WHERE rn = 1)
       |SELECT ba.a_id, ba.b_id, ba.cos_sim
       |FROM ba JOIN bb ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id""".stripMargin) {
    (s, d) =>
      val vecs = Tables.embeddings(s, d)
      val cents = Similarity.centroids(vecs, Similarity.codebookSize(vecs.count()))
      Similarity.mutualTopOne(
        vecs.filter(col("label") % 2 === 0),
        vecs.filter(col("label") % 2 === 1), cents)
  }

  /** q177 — TRIANGLE COUNTING over the parts-bought-together graph
    * (distinct co-ordered part pairs from lineitem), by degree-ordered
    * node-iterator ([[graft.operators.Triangles]]): per-part degree
    * and triangle participation — the cohesion signal behind
    * clustering coefficients and community density, and over a
    * doc-similarity graph the "is this dup cluster a clique or a
    * chain" diagnostic. The oracle closes wedges with a 3-way
    * numeric-ordered self-join (fine at gate scale); the Spark side
    * orients every edge by (degree, id) first, capping out-degree at
    * O(√m) so the wedge join never explodes on hub parts — same
    * result set, hub-proof plan. */
  val q177 = Q("q177_triangle_count",
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT x.p AS a, y.p AS b
      |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree
      |        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      |        GROUP BY 1),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS triangles
      |       FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
      |             UNION ALL SELECT z FROM tri) GROUP BY 1)
      |SELECT deg.n, deg.degree,
      |       COALESCE(tc.triangles, CAST(0 AS BIGINT)) AS triangles
      |FROM deg LEFT JOIN tc ON tc.n = deg.n""".stripMargin) { (s, d) =>
    // co-ordered pairs via ONE shuffle (r17): collect_set per order
    // subsumes the former (o,p)-distinct shuffle AND the o-keyed
    // self-join — pair generation is a map-side double explode over
    // per-order part sets (bounded by order size), and the final
    // distinct is the only other exchange. Same edge set, gated by the
    // unchanged 3-way-self-join oracle.
    val edges = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    graft.operators.Triangles.perNode(edges)
  }

  /** q178 — EXACT Jaccard similarity self-join via prefix filtering
    * ([[Dedup.prefixJaccardJoin]] — AllPairs/PPJoin): every doc pair
    * with trigram-set Jaccard ≥ 1/2, intersection and union as exact
    * int64s. The LSH family (q19/q20/q51) answers the same question
    * probabilistically; this is the deterministic-complete variant —
    * the candidate set is PROVABLY complete under the prefix lemma, so
    * the output is identical to a full O(n²) verify at any scale,
    * while the join itself only touches each doc's rarest
    * |d| − ⌈|d|/2⌉ + 1 grams. Oracle: the full gram self-join (no
    * prefix), same integer threshold — candidate completeness is
    * therefore itself under the hash gate, not just argued. */
  val q178 = Q("q178_jaccard_prefix_join",
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |      FROM toks),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
      |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT i.a AS doc_a, i.b AS doc_b, i.i AS inter,
      |       sa.n + sb.n - i.i AS un
      |FROM inter i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
      |WHERE i.i * 2 >= (sa.n + sb.n - i.i)""".stripMargin) { (s, d) =>
    Dedup.prefixJaccardJoin(Tables.documents(s, d), "doc_id", "text",
      n = 3, tNum = 1L, tDen = 2L)
  }

  /** q180 — INCREMENTAL connected components: q68's dedup clustering
    * maintained under edge ARRIVALS without a full recompute. The
    * rare-gram edge set is split deterministically into a base batch
    * (~80%) and a delta batch (~20%); the base is clustered once, then
    * the delta merges through the CONTRACTED graph — each new edge
    * maps its endpoints to their base component labels, and a second
    * CC pass runs over the label graph only, whose size is bounded by
    * the number of TOUCHED components, not by n. Composing the two
    * label maps reproduces exactly the full-graph fixpoint (labels are
    * min-ids, and min of mins is the global min), so the oracle is
    * q68's recursive transitive closure over ALL edges, verbatim —
    * the incremental path is under the same exact gate as the batch
    * path. This is the arrival-time shape of dedup maintenance at
    * 100 TB: a daily crawl delta never re-clusters the corpus, it
    * contracts into yesterday's labels. */
  val q180 = Q("q180_incremental_components", q68.oracle.get) { (s, d) =>
    val docs = Tables.documents(s, d)
    val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
      maxDf = 50L, minShared = 2L)
    val delta = pmod(xxhash64(col("a"), col("b")), lit(5)) === 0
    val base = graft.operators.Components
      .connectedComponents(edges.filter(!delta), docs.select(col("doc_id")))
    val contracted = edges.filter(delta)
      .join(base.select(col("v").as("a"), col("component").as("la")), Seq("a"))
      .join(base.select(col("v").as("b"), col("component").as("lb")), Seq("b"))
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("a"), col("lb").as("b")).distinct()
    val merged = graft.operators.Components.connectedComponents(
      contracted, base.select(col("component")).distinct())
    base.select(col("v").as("doc_id"), col("component").as("l0"))
      .join(merged.select(col("v").as("l0"), col("component")), Seq("l0"))
      .select(col("doc_id"), col("component"))
  }

  val all: Seq[Q] = Seq(q15, q16, q17, q18, q19, q20, q21, q22, q23, q24,
    q25, q26, q26p, q27, q28, q28p, q29, q30, q31, q32, q51, q52, q53,
    q56, q57, q58, q60, q66, q67, q68, q83, q84, q84p, q85, q86, q86p,
    q99, q100, q101, q103, q104, q108, q109, q125, q127, q130, q135, q136,
    q144, q149, q154, q155, q156, q161, q162, q165, q166, q177, q178, q180)
}
