package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Cols, Tables}
import graft.functions.{Dedup, Retrieval, Similarity, Text, WordPiece}

/** Round-4 training-data-pipeline batch: corpus vocabulary building,
  * stratified sampling, benchmark-contamination detection, boilerplate
  * removal, and incremental gold maintenance — the operations a
  * pretraining ingest runs beyond dedup/scoring/splitting (which q15-q31
  * and q56-q60 already cover). All oracle-gated.
  */
object TrainingQueries {

  /** q69 — corpus vocabulary: token frequencies, top 1000 by (count
    * desc, token) — the tokenizer-training / coverage-audit pass. The
    * explode+groupBy is the canonical map-side-combine shape (partial
    * counts collapse per partition before the one shuffle). The top-k
    * is `orderBy.limit` (TakeOrderedAndProject — per-partition heaps
    * of 1000, no global sort) and only the 1000 survivors see the
    * rank window: at 100 TB |distinct tokens| is still hundreds of
    * millions, so a rank window straight over the aggregated vocab
    * would be a single-partition sort (the q102 lesson, applied). */
  val q69 = Q("q69_vocab_topk",
    """WITH toks AS (
      |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
      |freq AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1)
      |SELECT token, n, rank FROM (
      |  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
      |  FROM freq)
      |WHERE rank <= 1000""".stripMargin) { (s, d) =>
    val freq = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    freq.orderBy(col("n").desc, col("token")).limit(1000)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
  }

  /** q70 — stratified per-language quota sample (50 docs per lang):
    * deterministic keyed-hash order instead of a PRNG, so membership is
    * stable across runs, engines and repartitioning — the audited-
    * holdout property q57's split shares. The window partitions by
    * lang: per-stratum state, shuffles only (doc_id, lang), and a skewed
    * language costs one fat partition of ids, not of documents. */
  val q70 = Q("q70_stratified_sample", {
    val h = graft.functions.Hashes.h60Sql("'strat|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, rk FROM (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= 50""".stripMargin
  }) { (s, d) =>
    val h = graft.functions.Hashes
      .h60(concat(lit("strat|"), col("doc_id").cast(StringType)))
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(h.asc, col("doc_id").asc)))
      .filter(col("rk") <= 50)
  }

  /** q71 — benchmark-contamination check: count, per candidate doc, the
    * distinct word-5-grams it shares with a benchmark set (stand-in:
    * doc_id < 25 — in production this is the eval suite). The benchmark
    * gram set is tiny relative to the corpus, so it broadcasts: the
    * corpus-side gram stream is filtered at scan speed with NO shuffle
    * of corpus grams — the only shuffle is the per-doc count of the
    * (rare) hits. This is how decontamination actually runs at 100 TB. */
  val q71 = Q("q71_contamination",
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
      |                t[i+3] || ' ' || t[i+4])) AS gram
      |  FROM toks),
      |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 25)
      |SELECT g.doc_id, COUNT(*) AS n_shared
      |FROM grams g JOIN bench b USING (gram)
      |WHERE g.doc_id >= 25
      |GROUP BY 1""".stripMargin) { (s, d) =>
    // hashed grams: the broadcast benchmark set carries 8-byte longs
    // (4x smaller than the gram text) and the scan-side probe compares
    // primitives; output is (doc_id, n_shared) — hash-transparent
    val grams = Dedup.hashedShingles(Tables.documents(s, d), "doc_id", "text", 5)
    val bench = grams.filter(col("doc_id") < 25).select("gram").distinct()
    grams.filter(col("doc_id") >= 25)
      .join(broadcast(bench), Seq("gram"), "inner")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** q72 — boilerplate removal (the CCNet/RefinedWeb line-dedup shape,
    * over disjoint 3-token segments since this corpus is single-line):
    * segments appearing in more than 5 distinct docs are boilerplate
    * and are cut; each doc is reassembled from its surviving segments
    * in order. Plan: one explode, one distinct-count per segment (the
    * df histogram — bounded by |distinct segments|), an anti-join, and
    * one per-doc ordered re-agg — every stage keyed, nothing O(n²).
    * Reassembly sorts the collected (pos, seg) structs INSIDE the
    * aggregate (array_sort), not the shuffle, so task order is
    * irrelevant. */
  val q72 = Q("q72_boilerplate_removal",
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |segs0 AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, CAST(ceil(len(t) / 3.0) AS BIGINT)),
      |           j -> {'pos': j, 'seg': array_to_string(t[(j*3+1):(j*3+3)], ' ')})) AS u
      |  FROM toks),
      |segs AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM segs0),
      |hot AS (
      |  SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) > 5)
      |SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text
      |FROM segs WHERE seg NOT IN (SELECT seg FROM hot)
      |GROUP BY doc_id""".stripMargin) { (s, d) =>
    Dedup.removeBoilerplate(Tables.documents(s, d), "doc_id", "text",
      segLen = 3, maxDf = 5L)
  }

  /** q73 — incremental gold maintenance: the monthly-orders aggregate is
    * kept as PARTIAL aggregates (decimal sums + counts) so a new day's
    * delta merges by re-aggregation instead of a full-table recompute —
    * sum-of-sums and sum-of-counts over (pre-cutoff ‖ delta) partials.
    * The oracle is the FULL aggregate: the query proves merge ≡
    * recompute exactly (decimal addition is associative; the double
    * cast happens once, at the end). At 100 TB this is the difference
    * between touching one day and touching the table. */
  val q73 = Q("q73_incremental_gold",
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |       CAST(month(o_orderdate) AS INT) AS mo,
      |       o_orderpriority, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
    val cutoff = lit("1997-01-01").cast(TimestampNTZType)
    def partial(df: DataFrame): DataFrame =
      df.groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"), col("o_orderpriority"))
        .agg(count(lit(1)).as("pn"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("pt"))
    val orders = Tables.orders(s, d)
    val pre = partial(orders.filter(col("o_orderdate") < cutoff))
    val delta = partial(orders.filter(col("o_orderdate") >= cutoff))
    pre.unionByName(delta)
      .groupBy("yr", "mo", "o_orderpriority")
      .agg(sum(col("pn")).as("n_orders"),
        sum(col("pt")).cast(DoubleType).as("total"))
  }

  /** q74 — PII redaction: email and phone patterns replaced with typed
    * placeholder tags — pure scalar regexp work, scan speed, zero
    * shuffle. The corpus is synthetic word-soup with no PII, so the
    * query INJECTS a deterministic fake contact line per doc first and
    * proves the redaction under the oracle (both engines run RE2/Java-
    * compatible patterns; DuckDB needs the explicit 'g' flag to match
    * Spark's replace-all default — a dialect trap worth pinning). */
  val q74 = Q("q74_pii_redaction",
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |        '@example.com or +1-555-' ||
      |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS clean
      |FROM documents""".stripMargin) { (s, d) =>
    val dirty = concat(col("text"), lit(" contact user"),
      col("doc_id").cast(StringType), lit("@example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"))
    Tables.documents(s, d).select(col("doc_id"),
      regexp_replace(
        regexp_replace(dirty,
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
        lit("\\+?[0-9][0-9()\\-. ]{6,}[0-9]"), lit("<PHONE>")).as("clean"))
  }

  /** q75 — unigram-LM document scoring (the cheap perplexity proxy):
    * pass 1 builds the corpus unigram table, pass 2 scores each doc as
    * its mean token frequency. All-integer aggregation with ONE double
    * division at the end keeps it oracle-exact (a per-token -log p
    * would drag libm transcendentals into the gate). The vocab join
    * carries NO explicit broadcast hint — an explicit `broadcast()`
    * is honored unconditionally, and a 100 TB corpus's distinct-token
    * table is GBs (a driver/executor OOM). Left to the planner,
    * auto-broadcast fires below `autoBroadcastJoinThreshold` (it does
    * at gate scale) and past it Spark picks a shuffle join on token —
    * the same key the count already shuffled on, so the exchange is
    * reused. The 1-row `total` side stays hinted (always tiny). */
  val q75 = Q("q75_unigram_doc_score",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
      |  FROM documents),
      |vocab AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1),
      |total AS (SELECT COUNT(*) AS n_total FROM toks)
      |SELECT doc_id,
      |       CAST(CAST(SUM(tf) AS BIGINT) AS DOUBLE) / (n_total * COUNT(*))
      |         AS avg_freq
      |FROM toks JOIN vocab USING (token), total
      |GROUP BY doc_id, n_total""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(vocab, Seq("token"), "inner")
      .groupBy("doc_id").agg(sum("tf").as("tf_sum"), count(lit(1)).as("n_toks"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (col("tf_sum").cast(DoubleType) / (col("n_total") * col("n_toks")))
          .as("avg_freq"))
  }

  /** q76 — BPE merge candidates (the first tokenizer-training
    * iteration): count adjacent pre-token pairs corpus-wide, rank the
    * top merges. Same agg-first + TakeOrdered discipline as q69 — the
    * `orderBy.limit` heap-selects the 500 survivors per partition and
    * only those see the rank window, so neither the pair stream nor
    * the |distinct pairs| table ever hits a single-partition sort.
    * Also pins regexp_extract_all parity between the engines (q74
    * pins replace; this pins extraction). */
  val q76 = Q("q76_bpe_merge_pairs", {
    val pat = Text.BpePattern
    s"""WITH bt AS (
       |  SELECT doc_id, regexp_extract_all(text, '$pat') AS b FROM documents),
       |pairs AS (
       |  SELECT unnest(list_transform(range(1, greatest(len(b), 1)),
       |                i -> b[i] || ' ' || b[i+1])) AS pair
       |  FROM bt),
       |freq AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY 1)
       |SELECT pair, n, rank FROM (
       |  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
       |  FROM freq)
       |WHERE rank <= 500""".stripMargin
  }) { (s, d) =>
    // pair construction shared with q105's merge-apply: Text.bpePairs
    // (lambda-bound once — see its doc for the re-evaluation trap)
    val freq = Tables.documents(s, d)
      .select(explode(Text.bpePairs(col("text"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
    freq.orderBy(col("n").desc, col("pair")).limit(500)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("pair"))))
  }

  /** q77 — count-min-sketch heavy hitters: the approximate-frequency
    * answer to q69's exact vocabulary. No oracle by design (cell
    * collisions depend on the sketch geometry, not on SQL semantics);
    * `CountMinSpec` pins the CMS guarantees against exact counts —
    * est ≥ true always, bounded overestimate, exact top-1. */
  val q77 = Q.noOracle("q77_cms_heavy_hitters") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("token"))
    graft.operators.CountMin.heavyHitters(toks, "token", toks, k = 20)
  }

  /** q78 — SEMANTIC DEDUP end-to-end, fully oracled: IVF-bucketed
    * cosine near-dup pairs (q53's machinery on the deterministic
    * sampled codebook) → connected components → canonical id per
    * vector (+ keep flag). This is the SemDeDup pipeline shape: at
    * 100 TB the pair generation is an equi-join on centroid (never
    * O(n²)) and the clustering is the same components operator q68 gates.
    * The oracle replays pairs via the shared IVF CTE and the cluster
    * fixpoint via a recursive transitive-closure CTE. */
  val q78 = Q("q78_semantic_dedup", {
    val ivf = ExtensionQueries.ivfAssignCteSql
      .replaceFirst("WITH ", "WITH RECURSIVE ")
    val dot = ExtensionQueries.dotSql _
    s"""$ivf,
       |av AS (
       |  SELECT a.vec_id, a.centroid_id, v.e, sqrt(${dot("v.e", "v.e")}) AS nrm
       |  FROM assigned a JOIN v ON v.vec_id = a.vec_id),
       |pairs AS (
       |  SELECT a, b FROM (
       |    SELECT x.vec_id AS a, y.vec_id AS b,
       |           ${dot("x.e", "y.e")} / (x.nrm * y.nrm) AS cos_sim
       |    FROM av x JOIN av y
       |      ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id)
       |  WHERE cos_sim >= 0.3),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |reach(vv, u) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.vv, e.b FROM reach r JOIN edges e ON r.u = e.a)
       |SELECT vv AS vec_id, MIN(u) AS canonical_id,
       |       CASE WHEN vv = MIN(u) THEN 1 ELSE 0 END AS is_canonical
       |FROM reach GROUP BY 1""".stripMargin
  }) { (s, d) =>
    val vecs = Tables.embeddings(s, d)
    val c = Similarity.codebookSize(vecs.count())
    val assigned = Similarity.ivfAssign(vecs, Similarity.centroids(vecs, c))
    val pairs = Similarity.cosineNearDupPairs(assigned, threshold = 0.3)
      .select(col("a"), col("b"))
    graft.operators.Components
      .connectedComponents(pairs, vecs.select(col("vec_id")))
      .select(col("v").as("vec_id"), col("component").as("canonical_id"),
        when(col("v") === col("component"), 1).otherwise(0).as("is_canonical"))
  }

  /** q79 — weighted source mixing: each source gets a deterministic
    * keep-rate (here derived from the source id; in production a
    * curated weights table) and membership is a keyed hash — the same
    * reproducibility contract as q57/q70, applied to the domain-mixing
    * step every pretraining corpus runs. Scan-speed filter, zero
    * shuffle, prunable to (doc_id, source). */
  val q79 = Q("q79_source_mixing", {
    val h = graft.functions.Hashes.h60Sql("'mix|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source FROM documents
       |WHERE $h % 1000 <
       |      ((CAST(substr(source, 4) AS INT) % 10) + 1) * 100""".stripMargin
  }) { (s, d) =>
    val h = graft.functions.Hashes
      .h60(concat(lit("mix|"), col("doc_id").cast(StringType)))
    val keepRate = (substring(col("source"), 4, 10).cast(IntegerType) % 10 + 1) * 100
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .filter(h % 1000 < keepRate)
  }

  /** q89 — duplicate-SPAN pairs via winnowing (MOSS, Schleimer et al.
    * SIGMOD'03): k=8-char gram hashes, w=12 window minima, pairs
    * sharing ≥2 fingerprints with df ≤ 50. Alignment-independent exact
    * substring evidence — the Lee-et-al-2022 dedup tier document-level
    * MinHash (q19/q20) can't see. Registered with the md5-derived h60
    * gram hash so DuckDB reproduces every fingerprint bit-for-bit;
    * Bench times the xxhash64 prod twin instead. */
  val q89 = Q("q89_duplicate_spans", {
    val gList = s"list_transform(list_transform(range(1, greatest(length(text) - 7, 1) + 1), " +
      s"gp -> ${graft.functions.Hashes.hex15Sql("substr(text, gp, 8)")}), " +
      s"gx -> ${graft.functions.Hashes.hexToLongSql("gx")})"
    s"""WITH grams AS (
       |  SELECT doc_id, $gList AS g FROM documents),
       |fps AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, greatest(len(g) - 11, 1) + 1),
       |                               gw -> list_min(list_slice(g, gw, gw + 11)))) AS fp
       |  FROM grams),
       |ok AS (SELECT fp FROM fps GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND 50)
       |SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
       |FROM fps x JOIN fps y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |WHERE x.fp IN (SELECT fp FROM ok)
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin
  }) { (s, d) =>
    // the fingerprint scan is the expensive stage (interpreted HOF eval)
    // and the gate corpus is ONE parquet file = one input split; a keyed
    // repartition first spreads the eval across all cores — on a real
    // corpus with many splits the repartition is a no-op to add or drop
    Dedup.duplicateSpanPairs(
      Tables.documents(s, d).repartition(col("doc_id")), "doc_id", "text",
      k = 8, w = 12, maxDf = 50L, minShared = 2L,
      gramHash = graft.functions.Hashes.h60)
  }

  /** q89's production twin: same plan, xxhash64 gram hash (one codegen'd
    * primitive per gram instead of MessageDigest) — what a real corpus
    * run ships; Bench skips the md5 parity form for this one. */
  val q89p = Q.noOracle("q89_duplicate_spans_prod") { (s, d) =>
    Dedup.duplicateSpanPairs(
      Tables.documents(s, d).repartition(col("doc_id")), "doc_id", "text",
      k = 8, w = 12, maxDf = 50L, minShared = 2L)
  }

  /** q90 — Gopher rule battery (Rae et al. 2021): every rule as its own
    * audited boolean plus the conjunction. Rule-level output is what a
    * production curation run needs (which rule fired, per doc, summed
    * over the corpus = the rejection report); the oracle recomputes
    * each rule in DuckDB so boolean parity is exact, including the
    * double-division thresholds (both engines are IEEE-754). */
  val q90 = Q("q90_gopher_rules",
    """WITH t AS (
      |  SELECT doc_id, text, string_split(trim(text), ' ') AS toks,
      |         len(string_split(trim(text), ' ')) AS n_words
      |  FROM documents)
      |SELECT doc_id, n_words,
      |  n_words BETWEEN 50 AND 100000 AS rule_word_count,
      |  length(replace(text, ' ', '')) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
      |  length(regexp_replace(text, '[a-z ]', '', 'g')) / CAST(length(text) AS DOUBLE) < 0.1 AS rule_symbol_density,
      |  len(list_filter(toks, gw -> regexp_matches(gw, '[a-z]'))) / CAST(n_words AS DOUBLE) >= 0.7 AS rule_alpha_words,
      |  len(list_distinct(toks)) / CAST(n_words AS DOUBLE) > 0.3 AS rule_repetition,
      |  len(list_filter(toks, gw -> gw IN ('the','a','of','and','to','in','is'))) >= 2 AS rule_stopwords,
      |  (n_words BETWEEN 50 AND 100000)
      |    AND (length(replace(text, ' ', '')) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0)
      |    AND (length(regexp_replace(text, '[a-z ]', '', 'g')) / CAST(length(text) AS DOUBLE) < 0.1)
      |    AND (len(list_filter(toks, gw -> regexp_matches(gw, '[a-z]'))) / CAST(n_words AS DOUBLE) >= 0.7)
      |    AND (len(list_distinct(toks)) / CAST(n_words AS DOUBLE) > 0.3)
      |    AND (len(list_filter(toks, gw -> gw IN ('the','a','of','and','to','in','is'))) >= 2) AS keep
      |FROM t""".stripMargin) { (s, d) =>
    val rules = Text.gopherRules(col("text"))
    Tables.documents(s, d).select(
      Seq(col("doc_id"), Text.tokenCount(col("text")).as("n_words")) ++
        rules.map { case (n, c) => c.as(n) } :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** q94 — dedup APPLY: the final stage of the near-dup pipeline.
    * q68/q83 turn pairwise evidence into canonical components; this
    * keeps exactly one representative per component (the minimum
    * doc_id, i.e. the component label itself) and drops the rest —
    * the corpus a training run actually reads. The join is a
    * left-ANTI against the NON-canonical (duplicate) id set: on a
    * real corpus the kept/canonical side is 50–90 % of all documents
    * (billions of rows at 100 TB — never broadcastable), while the
    * duplicate side is only the docs the dedup actually removes —
    * usually the small side, but its size is a DATA property, not a
    * plan-shape bound (a pathological corpus could be 99 % dups), so
    * it carries NO broadcast hint: AQE sees the built side's actual
    * size at runtime and picks broadcast vs shuffle accordingly.
    * keep = NOT duplicate ≡ keep = canonical, so the oracle (the q68
    * recursive-CTE fixpoint filtered to label == id) is unchanged. */
  val q94 = Q("q94_dedup_apply",
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
      |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
      |comp AS (SELECT v AS doc_id, MIN(u) AS component FROM reach GROUP BY 1)
      |SELECT d.doc_id, d.lang, d.source FROM documents d
      |JOIN comp c ON d.doc_id = c.doc_id
      |WHERE c.component = c.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
      maxDf = 50L, minShared = 2L)
    val duplicates = graft.operators.Components
      .connectedComponents(edges, docs.select(col("doc_id")))
      .filter(col("v") =!= col("component"))
      .select(col("v").as("doc_id"))
    docs.join(duplicates, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** q97 — reproducible corpus shuffle: every pretraining run shuffles
    * its corpus, and the shuffle must be DETERMINISTIC (resume, data
    * ablations, and loss-spike forensics all need to replay the exact
    * order). Order = keyed hash of (seed, doc_id) — engine-portable,
    * independent of partitioning, and a different seed is a fresh
    * permutation.
    *
    * The registered plan is the SCALE-SAFE form (the oracle's global
    * `row_number() OVER (ORDER BY hash)` stays as SQL only): range-
    * partition on the keyed hash so each partition holds one contiguous
    * slice of the global order, sort within partitions, then turn local
    * ranks into global positions with per-partition prefix offsets —
    * the classic zipWithIndex two-job shape. Job 1 counts rows per
    * partition (one `(pid, count)` pair each — driver-tiny); job 2 adds
    * the broadcast offsets in a single per-partition pass. Both jobs
    * run over the SAME RDD lineage, so the range-shuffle map stage is
    * computed once and job 2 reuses its shuffle files (Spark skips
    * already-computed shuffle map stages). No single-partition exchange
    * anywhere: at 100 TB every task sorts only its own range slice. */
  val q97 = Q("q97_corpus_shuffle", {
    val h = graft.functions.Hashes.hex15Sql("'shuf1|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id,
       |       row_number() OVER (ORDER BY $h, doc_id) AS shuffle_pos
       |FROM documents""".stripMargin
  }) { (s, d) => shuffledPositions(s, Tables.documents(s, d), lit("shuf1")) }

  /** Range-partitioned deterministic shuffle: (doc_id, shuffle_pos)
    * where shuffle_pos is the 1-based global rank under
    * ORDER BY hex15(seed|doc_id), doc_id. See q97 scaladoc for the
    * two-job zipWithIndex shape and its 100 TB rationale. */
  private[graft] def shuffledPositions(
      s: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      seed: Column): DataFrame = {
    import s.implicits._
    val h = graft.functions.Hashes
      .hex15(concat(seed, lit("|"), col("doc_id").cast(StringType)))
    // explicit partition count: an advisory repartitionByRange gets
    // AQE-coalesced to ONE partition at test scale, re-creating the very
    // single-partition stage this form exists to avoid; the session's
    // shuffle parallelism is the scale-tracking choice
    val n = math.max(2, s.conf.get("spark.sql.shuffle.partitions").toInt)
    val sorted = docs
      .select(col("doc_id"), h.as("_h"))
      .repartitionByRange(n, col("_h"), col("doc_id"))
      .sortWithinPartitions(col("_h"), col("doc_id"))
    // Freeze one RDD lineage so the counts job materializes the range
    // shuffle and the offset job reuses those shuffle files.
    val rdd = sorted.rdd
    val counts = rdd
      // Long accumulator, not it.size: Iterator.size returns Int, which
      // silently overflows past 2^31 rows per partition at corpus scale
      .mapPartitionsWithIndex((pid, it) =>
        Iterator(pid -> it.foldLeft(0L)((n, _) => n + 1L)))
      .collect().toMap // one pair per partition — driver-tiny
    val offsets = Array.ofDim[Long](rdd.getNumPartitions)
    var acc = 0L
    for (p <- offsets.indices) { offsets(p) = acc; acc += counts.getOrElse(p, 0L) }
    val bc = s.sparkContext.broadcast(offsets)
    rdd.mapPartitionsWithIndex { (pid, it) =>
        var pos = bc.value(pid)
        it.map { r => pos += 1L; (r.getLong(0), pos) }
      }
      .toDF("doc_id", "shuffle_pos")
  }

  /** q102 — BM25 top-20 for a fixed keyword query (k1=1.2, b=0.75)
    * over the documents corpus: the lexical retrieval ranking a
    * curation pipeline runs to pull topic-relevant training data (the
    * embedding-side ranking is q23/q24). Scoring is
    * [[Retrieval.bm25Scores]] — integer aggregation only, rational
    * Robertson idf (no libm log in the gate), one fixed-shape double
    * expression per doc, so the oracle matches bit-for-bit. The top-k
    * is `orderBy.limit` (TakeOrderedAndProject — per-partition heaps,
    * no single-partition exchange; the q97 lesson), and only the 20
    * survivors see the rank window. Every double CONSTANT in the
    * oracle is built by the same CAST-then-operate tree as the Scala
    * `lit` arithmetic — a folded decimal literal (`2.2`) could round
    * differently from `1.2d + 1.0d` at the half-ulp.
    *
    * Shared oracle CTE chain for BM25 scoring (q102's exact form,
    * reused verbatim by the q137 fusion oracle): integer tf/df/dl
    * aggregation, rational Robertson idf, one fixed-shape double
    * expression — bit-identical to [[Retrieval.bm25Scores]]. Ends with
    * the `scored(doc_id, score)` CTE. */
  private[queries] val bm25ScoredCteSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents),
      |per_doc AS (
      |  SELECT doc_id, COUNT(*) AS dl,
      |         SUM(CASE WHEN token = 'dup' THEN 1 ELSE 0 END) AS tf_dup,
      |         SUM(CASE WHEN token = 'spark' THEN 1 ELSE 0 END) AS tf_spark,
      |         SUM(CASE WHEN token = 'merge' THEN 1 ELSE 0 END) AS tf_merge,
      |         SUM(CASE WHEN token = 'window' THEN 1 ELSE 0 END) AS tf_window
      |  FROM toks GROUP BY 1),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs, SUM(dl) AS t_total,
      |         SUM(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS df_dup,
      |         SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
      |         SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge,
      |         SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
      |  FROM per_doc),
      |scored AS (
      |  SELECT doc_id,
      |    ((CAST(n_docs AS DOUBLE) - CAST(df_dup AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_dup AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |      * ((CAST(tf_dup AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |         / (CAST(tf_dup AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(t_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |    + ((CAST(n_docs AS DOUBLE) - CAST(df_spark AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_spark AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |      * ((CAST(tf_spark AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |         / (CAST(tf_spark AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(t_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |    + ((CAST(n_docs AS DOUBLE) - CAST(df_merge AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_merge AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |      * ((CAST(tf_merge AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |         / (CAST(tf_merge AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(t_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |    + ((CAST(n_docs AS DOUBLE) - CAST(df_window AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_window AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |      * ((CAST(tf_window AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |         / (CAST(tf_window AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(t_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |    AS score
      |  FROM per_doc, stats)""".stripMargin

  val q102 = Q("q102_bm25_topk",
    s"""$bm25ScoredCteSql
      |SELECT doc_id, score, rank FROM (
      |  SELECT doc_id, score,
      |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |WHERE rank <= 20""".stripMargin) { (s, d) =>
    val scored = Retrieval.bm25Scores(Tables.documents(s, d), "doc_id", "text",
      terms = Seq("dup", "spark", "merge", "window"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("doc_id", "score", "rank")
  }

  /** q105 — BPE merge-round APPLY (the rewrite step between tokenizer-
    * training iterations): find the corpus-top adjacent pair (q76's
    * count, same tie-break) and replace every greedy-leftmost
    * occurrence in every document with the merged symbol. The engine
    * side is [[Text.mergePair]] — a per-row codegen'd fold, zero
    * shuffle, zero regex (the top-pair probe is the only aggregate,
    * and its result is a 2-string driver value, the q101-cut
    * precedent). The oracle has no fold, so it expresses the SAME
    * greedy scan relationally: explode positions, flag candidate
    * pairs, group consecutive candidates into islands
    * (i − row_number), merge at even parity within each island
    * (leftmost-nonoverlap — parity only matters for self-pair chains
    * like "t t t"), drop the swallowed successor via lag, reassemble
    * with an ordered list(). Fold ≡ parity-scan is additionally
    * pinned by a randomized property spec against a driver reference
    * (TokenizerSpec). */
  val q105 = Q("q105_bpe_merge_apply", {
    val pat = Text.BpePattern
    s"""WITH bt AS (
       |  SELECT doc_id, regexp_extract_all(text, '$pat') AS b FROM documents),
       |pr AS (
       |  SELECT unnest(list_transform(range(1, greatest(len(b), 1)),
       |                i -> b[i] || ' ' || b[i+1])) AS pair
       |  FROM bt),
       |top1 AS (
       |  SELECT pair FROM (SELECT pair, COUNT(*) AS n FROM pr GROUP BY 1
       |                    ORDER BY n DESC, pair LIMIT 1)),
       |pp AS (
       |  SELECT (SELECT string_split(pair, ' ')[1] FROM top1) AS pa,
       |         (SELECT string_split(pair, ' ')[2] FROM top1) AS pb),
       |pos AS (
       |  SELECT doc_id, unnest(range(1, len(b) + 1)) AS i, b FROM bt),
       |flags AS (
       |  SELECT doc_id, i, b[i] AS tok,
       |         CASE WHEN i < len(b) AND b[i] = pa AND b[i + 1] = pb
       |              THEN 1 ELSE 0 END AS cand,
       |         pa, pb
       |  FROM pos CROSS JOIN pp),
       |isl AS (
       |  SELECT *, CASE WHEN cand = 1
       |                 THEN i - row_number() OVER (PARTITION BY doc_id, cand ORDER BY i)
       |                 ELSE NULL END AS grp
       |  FROM flags),
       |starts AS (
       |  SELECT *, cand = 1
       |              AND ((i - MIN(i) OVER (PARTITION BY doc_id, grp)) % 2 = 0) AS strt
       |  FROM isl),
       |pruned AS (
       |  SELECT doc_id, i, tok, strt, pa, pb
       |  FROM (SELECT *, COALESCE(LAG(strt) OVER (PARTITION BY doc_id ORDER BY i),
       |                           false) AS prev_strt
       |        FROM starts)
       |  WHERE NOT prev_strt),
       |grouped AS (
       |  SELECT doc_id,
       |         array_to_string(list(CASE WHEN strt THEN pa || pb ELSE tok END
       |                              ORDER BY i), ' ') AS toks,
       |         CAST(SUM(CASE WHEN strt THEN 1 ELSE 0 END) AS BIGINT) AS n_merges
       |  FROM pruned
       |  GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(g.toks, '') AS toks,
       |       COALESCE(g.n_merges, 0) AS n_merges
       |FROM documents d LEFT JOIN grouped g ON g.doc_id = d.doc_id""".stripMargin
  }) { (s, d) =>
    val docs = Tables.documents(s, d)
    val top = docs.select(explode(Text.bpePairs(col("text"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1).collect()
    val base = docs.select(col("doc_id"), Text.bpeTokens(col("text")).as("b0"))
    if (top.isEmpty)
      // no adjacent pair anywhere (every doc < 2 tokens): the merge
      // round is the identity — mirrored by the oracle, whose scalar-
      // subquery pa/pb go NULL and flag no candidates
      base.select(col("doc_id"), concat_ws(" ", col("b0")).as("toks"),
        lit(0L).as("n_merges"))
    else {
      val Array(a, b) = top(0).getString(0).split(" ", 2)
      base.select(col("doc_id"), col("b0"), Text.mergePair(col("b0"), a, b).as("tl"))
        // the gate compares the space-joined form (BPE symbols carry no
        // spaces, so the join is invertible) — the q44 array discipline
        .select(col("doc_id"), concat_ws(" ", col("tl")).as("toks"),
          (size(col("b0")) - size(col("tl"))).cast(LongType).as("n_merges"))
    }
  }

  /** q106 — distributed BPE TRAINING (8 rounds): the loop whose two
    * single-round stages are both under the exact oracle — q76 counts
    * the pairs, q105 applies a merge — composed into the real
    * tokenizer-training iteration ([[Text.bpeTrainMerges]]: one
    * integer aggregate + one scan-speed rewrite per round, corpus
    * checkpointed between rounds). The loop output is the learned
    * merge table; the driver-orchestrated iteration itself is not one
    * SQL statement, so this registers rows-only with the merge
    * SEQUENCE pinned exactly against a driver-side reference trainer
    * in TokenizerSpec (the q24→q52 twin discipline). */
  val q106 = Q.noOracle("q106_bpe_train") { (s, d) =>
    import s.implicits._
    Text.bpeTrainMerges(Tables.documents(s, d), "text", rounds = 8)
      .toDF("rank", "a", "b", "n")
  }

  /** q107 — per-document keyword extraction: top-5 terms by tf·idf,
    * the document-tagging/labeling pass of a curation pipeline (q69
    * ranks the corpus vocabulary globally; this ranks each doc's own
    * terms). Exactness discipline: integer tf/df/N aggregates, score
    * = (tf·N)/df as ONE per-row double expression (no libm log — the
    * q102 rational-idf rule; the log reshapes monotonically within a
    * fixed df, and the tie-break pins the order), and the rank window
    * partitions by doc_id — its input is |per-doc vocab| rows, fully
    * partition-parallel, never a global sort. The df join carries NO
    * explicit broadcast hint (the q75 rule: a hint is honored
    * unconditionally, and a 100 TB distinct-token table is GBs) —
    * auto-broadcast fires at gate scale, and past the threshold the
    * planner's shuffle join lands on token, the same key tf already
    * shuffled on. The 1-row count side stays hinted. */
  val q107 = Q("q107_keyword_extract",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dfs AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, token, tf, score, rank FROM (
      |  SELECT t.doc_id, t.token, t.tf,
      |         CAST(t.tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(f.df AS DOUBLE) AS score,
      |         row_number() OVER (
      |           PARTITION BY t.doc_id
      |           ORDER BY CAST(t.tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(f.df AS DOUBLE) DESC,
      |                    t.token) AS rank
      |  FROM tf t JOIN dfs f USING (token) CROSS JOIN n)
      |WHERE rank <= 5""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tf = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val score = col("tf").cast(DoubleType) * col("n_docs").cast(DoubleType) /
      col("df").cast(DoubleType)
    tf.join(dfs, Seq("token")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), score.as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))))
      .filter(col("rank") <= 5)
      .select("doc_id", "token", "tf", "score", "rank")
  }

  /** The q105 merge-round parity algebra ITERATED `rounds` times as one
    * generated CTE chain — round k re-derives that round's top pair
    * from round k−1's rewritten corpus (exactly what
    * [[Text.bpeTrainMerges]] does) and applies it with the
    * gaps-and-islands leftmost-nonoverlap scan (exactly what
    * [[Text.mergePair]]'s kernel does), so the WHOLE train→encode loop
    * of q120 sits under the exact oracle, not just one round. Docs
    * whose token array is empty drop out of the positional CTEs and are
    * re-joined as '' at the end (q105's LEFT JOIN discipline); a round
    * with no adjacent pairs anywhere leaves pa/pb NULL and is the
    * identity on both engines. */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val pat = Text.BpePattern
    val sb = new StringBuilder(
      s"""WITH bt0 AS (
         |  SELECT doc_id, regexp_extract_all(text, '$pat') AS b FROM documents)""".stripMargin)
    for (k <- 1 to rounds) {
      val p = k - 1
      sb.append(s""",
         |pr$k AS (
         |  SELECT unnest(list_transform(range(1, greatest(len(b), 1)),
         |                i -> b[i] || ' ' || b[i+1])) AS pair
         |  FROM bt$p),
         |top$k AS (
         |  SELECT pair FROM (SELECT pair, COUNT(*) AS n FROM pr$k GROUP BY 1
         |                    ORDER BY n DESC, pair LIMIT 1)),
         |pp$k AS (
         |  SELECT (SELECT string_split(pair, ' ')[1] FROM top$k) AS pa,
         |         (SELECT string_split(pair, ' ')[2] FROM top$k) AS pb),
         |pos$k AS (
         |  SELECT doc_id, unnest(range(1, len(b) + 1)) AS i, b FROM bt$p),
         |flags$k AS (
         |  SELECT doc_id, i, b[i] AS tok,
         |         CASE WHEN i < len(b) AND b[i] = pa AND b[i + 1] = pb
         |              THEN 1 ELSE 0 END AS cand,
         |         pa, pb
         |  FROM pos$k CROSS JOIN pp$k),
         |isl$k AS (
         |  SELECT *, CASE WHEN cand = 1
         |                 THEN i - row_number() OVER (PARTITION BY doc_id, cand ORDER BY i)
         |                 ELSE NULL END AS grp
         |  FROM flags$k),
         |starts$k AS (
         |  SELECT *, cand = 1
         |              AND ((i - MIN(i) OVER (PARTITION BY doc_id, grp)) % 2 = 0) AS strt
         |  FROM isl$k),
         |pruned$k AS (
         |  SELECT doc_id, i, tok, strt, pa, pb
         |  FROM (SELECT *, COALESCE(LAG(strt) OVER (PARTITION BY doc_id ORDER BY i),
         |                           false) AS prev_strt
         |        FROM starts$k)
         |  WHERE NOT prev_strt),
         |bt$k AS (
         |  SELECT doc_id, list(CASE WHEN strt THEN pa || pb ELSE tok END
         |                      ORDER BY i) AS b
         |  FROM pruned$k GROUP BY doc_id)""".stripMargin)
    }
    sb.append(s"""
       |SELECT d.doc_id, COALESCE(array_to_string(f.b, ' '), '') AS toks,
       |       CAST(COALESCE(len(f.b), 0) AS BIGINT) AS n_tokens
       |FROM documents d LEFT JOIN bt$rounds f ON f.doc_id = d.doc_id""".stripMargin)
    sb.toString
  }

  private val BpeEncodeRounds = 6

  /** q120 — BPE ENCODE: train the merge table ([[Text.bpeTrainMerges]],
    * the q106 loop) and APPLY it in rank order to every document
    * ([[Text.encodeBpe]]) — the tokenizer family's inference half,
    * completing train→encode. The encode itself is ONE codegen'd scan
    * (a fold of 6 native merge kernels inside a single projection — see
    * `encodeBpe`'s scale note on why that beats per-doc heaps at
    * trained-M scale); training cost is the q106 per-round aggregate.
    * Fully oracled: the [[bpeEncodeOracleSql]] chain re-derives AND
    * re-applies every round in DuckDB. */
  val q120 = Q("q120_bpe_encode", bpeEncodeOracleSql(BpeEncodeRounds)) { (s, d) =>
    val docs = Tables.documents(s, d)
    val merges = Text.bpeTrainMerges(docs, "text", rounds = BpeEncodeRounds)
      .map(m => (m._2, m._3))
    Text.encodeBpe(docs, "doc_id", "text", merges)
      .select(col("doc_id"), concat_ws(" ", col("tokens")).as("toks"),
        size(col("tokens")).cast(LongType).as("n_tokens"))
  }

  /** q126 — per-source TOKEN-BUDGET fill: the mixture-construction step
    * that takes documents per domain until a token budget is hit (q79
    * mixes by doc PROPORTIONS; real mixtures are specified in TOKENS).
    * Selection order is a keyed hash (q57's determinism discipline —
    * stable across runs, engines and repartitioning; doc_id tiebreak),
    * the running total is one window scan partitioned by source, and a
    * doc is kept while the cumulative count stays ≤ budget — greedy
    * prefix fill, the standard recipe. Scale shape: one shuffle on
    * `source` + per-partition sort; at 100 TB the per-source partitions
    * are the mixture's domain shards — already how a mixture job lays
    * out, and skew-safe because hot sources split under AQE only at
    * the sort, not the windowed prefix (order is per-source global by
    * construction). 800 tokens ≈ 60 % of each source at sf0.01 — the
    * budget boundary is exercised, not vacuous. */
  val q126 = Q("q126_token_budget_fill", {
    val h = graft.functions.Hashes.h60Sql("'fill|' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
       |         $h AS h
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT source, doc_id, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM t)
       |SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM c WHERE cum_tokens <= 800""".stripMargin
  }) { (s, d) =>
    val h = graft.functions.Hashes
      .h60(concat(lit("fill|"), col("doc_id").cast(StringType)))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"), h.as("h"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 800)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
  }

  /** q131 — TEMPERATURE-based language resampling (the mT5/XLM-R α
    * recipe at α = 0.5): sampling weight wᵢ ∝ nᵢ^α flattens the
    * language distribution — low-resource languages are upsampled
    * relative to the head (this fixture: en has 3× fr's tokens, so en
    * keeps ~39 % and fr ~69 % of docs at the chosen budget). Per-doc
    * keep is the keyed-hash coin every sampler here uses (q45/q57/q79
    * discipline), and the accept test is a PURE INTEGER rational
    * comparison — keep ⟺ (h mod 10⁶)·(Σ⌊√nⱼ⌋·nᵢ) < T·⌊√nᵢ⌋·10⁶ —
    * because the float form's Σ√nⱼ is a sum whose ADDITION ORDER the
    * SQL standard does not fix (the q122 covariance lesson); ⌊√n⌋ is
    * exact in both engines (IEEE sqrt + floor), so every product here
    * is an exact int64 (overflow-safe to ~10⁸ tokens/language at this
    * T; a production run renormalizes the 10⁶ scale with its T).
    * min(1, p) needs no special case: p ≥ 1 makes the RHS ≥ 10⁶·(Σ·nᵢ)
    * and the LHS is always below it. Plan: one tiny per-lang agg, a
    * 5-row window for the Σ, one broadcast-joined scan filter. */
  val q131 = Q("q131_temperature_mix", {
    val h = graft.functions.Hashes.h60Sql("'temp|' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE text IS NOT NULL),
       |pl AS (
       |  SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_lang,
       |         CAST(floor(sqrt(CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE))) AS BIGINT) AS isq
       |  FROM t GROUP BY lang),
       |w AS (SELECT lang, n_lang, isq,
       |             CAST(SUM(isq) OVER () AS BIGINT) AS ssum FROM pl)
       |SELECT t.doc_id, t.lang
       |FROM t JOIN w ON w.lang = t.lang
       |WHERE ($h % 1000000) * (w.ssum * w.n_lang) < 15000 * w.isq * 1000000""".stripMargin
  }) { (s, d) =>
    val toks = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tok"))
    val perLang = toks.groupBy("lang")
      .agg(sum(col("n_tok")).cast(LongType).as("n_lang"))
      .withColumn("isq", floor(sqrt(col("n_lang").cast(DoubleType))).cast(LongType))
      .withColumn("ssum", sum(col("isq"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()).cast(LongType))
    val h = graft.functions.Hashes
      .h60(concat(lit("temp|"), col("doc_id").cast(StringType))) % 1000000L
    // no broadcast hint: the per-lang side is structurally a corpus
    // aggregate (the PlanAudit-unbounded shape) though domain-bounded
    // at |langs| rows — AQE broadcasts it from runtime stats instead
    toks.join(perLang, Seq("lang"))
      .filter(h * (col("ssum") * col("n_lang")) < lit(15000L) * col("isq") * lit(1000000L))
      .select("doc_id", "lang")
  }

  /** q137 — HYBRID retrieval fusion ([[Retrieval.rrfFuse]]): the
    * lexical ranking (q102's BM25 top-20 for the fixed keyword query)
    * and the dense ranking (q23's exact cosine top-20 around query
    * vector 0 — embeddings and documents share the corpus id space)
    * merge into one Reciprocal-Rank-Fusion list, score(d) =
    * Σ 1/(60 + rank). The fused score is carried as an EXACT int64
    * rational (rrf_num/rrf_den — the q131 integer-algebra discipline;
    * a float Σ of reciprocals would be order-sensitive), the emitted
    * double is the single division num/den (one correctly-rounded IEEE
    * op), and the oracle's closed-form CASE arithmetic equals the
    * engine's list-by-list rational fold identically: both present →
    * (120+rl+rs)/((60+rl)(60+rs)); one side → 1/(60+r). Scale: both
    * inputs are top-20 lists, so fusion touches ≤ 40 rows — the heavy
    * work stays in the upstream operators. */
  val q137 = Q("q137_rrf_fusion",
    s"""$bm25ScoredCteSql,
       |lex AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |    FROM scored)
       |  WHERE rank <= 20),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |dscored AS (
       |  SELECT v.vec_id AS doc_id,
       |         ${ExtensionQueries.dotSql("qe", "e")}
       |         / (sqrt(${ExtensionQueries.dotSql("qe", "qe")})
       |            * sqrt(${ExtensionQueries.dotSql("e", "e")})) AS cos_sim
       |  FROM v CROSS JOIN q WHERE v.vec_id <> 0),
       |sem AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank
       |    FROM dscored)
       |  WHERE rank <= 20),
       |fused AS (
       |  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.rank AS rl, s.rank AS rs
       |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id),
       |rat AS (
       |  SELECT doc_id,
       |         CASE WHEN rl IS NOT NULL AND rs IS NOT NULL THEN 120 + rl + rs
       |              ELSE 1 END AS rrf_num,
       |         CASE WHEN rl IS NOT NULL AND rs IS NOT NULL THEN (60 + rl) * (60 + rs)
       |              WHEN rl IS NOT NULL THEN 60 + rl
       |              ELSE 60 + rs END AS rrf_den
       |  FROM fused)
       |SELECT doc_id, rrf_num, rrf_den,
       |       CAST(rrf_num AS DOUBLE) / CAST(rrf_den AS DOUBLE) AS rrf_score,
       |       row_number() OVER (ORDER BY CAST(rrf_num AS DOUBLE) / CAST(rrf_den AS DOUBLE) DESC,
       |                          doc_id) AS rank
       |FROM rat""".stripMargin) { (s, d) =>
    val lex = Retrieval.bm25Scores(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("dup", "spark", "merge", "window"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("doc_id", "rank")
    val vecs = Tables.embeddings(s, d)
    val sem = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, sem), "doc_id", "rank")
  }

  /** q141 — SEQUENCE PACKING with provenance (the GPT-style
    * concat-and-split step that turns a document mixture into
    * fixed-length training sequences): per source, docs are laid out in
    * the deterministic keyed-hash order every sampler here uses (q57 /
    * q126 discipline), each doc occupies token offsets
    * [start_off, start_off + n_tokens), and the 512-token sequence ids
    * it lands in are pure integer floor-divisions of its first and
    * last offset. The emitted map (doc → offsets → first/last sequence)
    * is the PROVENANCE artifact a training run needs to answer "which
    * documents fed sequence k" (and, inverted, "which sequences must be
    * invalidated when doc d is retracted"). All-integer algebra: one
    * windowed prefix sum per source (cast to BIGINT at the emission
    * seam per house rule), nonnegative offsets so `div` ≡ floor in both
    * engines. Scale: one shuffle on source + the per-source window —
    * exactly q126's shape, skew-safe for the same reason. */
  val q141 = Q("q141_sequence_packing", {
    val h = graft.functions.Hashes.h60Sql("'pack|' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
       |         $h AS h
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT source, doc_id, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
       |  FROM t)
       |SELECT source, doc_id, n_tokens, end_off - n_tokens AS start_off,
       |       (end_off - n_tokens) // 512 AS first_seq,
       |       (end_off - 1) // 512 AS last_seq
       |FROM c""".stripMargin
  }) { (s, d) =>
    val h = graft.functions.Hashes
      .h60(concat(lit("pack|"), col("doc_id").cast(StringType)))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"), h.as("h"))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("start_off"),
        expr("start_off div 512").as("first_seq"),
        expr("(end_off - 1) div 512").as("last_seq"))
  }

  /** q145 — packed SEQUENCE materialization: the text of every
    * 512-token training sequence q141 maps — tokens from consecutive
    * docs (same keyed-hash layout) concatenated across doc boundaries
    * and split at exact multiples of 512. This is the job that
    * actually WRITES training shards at 100 TB: one window for the
    * doc offsets (q141's shape), one token explode carrying each
    * token's GLOBAL offset (start_off + position), one hash aggregate
    * per (source, sequence) with an ordered in-aggregate sort — the
    * output row count is Σtokens/512, and nothing is ever collected.
    * Trailing partial sequences are emitted (a production run pads or
    * drops them; the map keeps them auditable). String content is
    * exact, so the whole materialization sits under the value gate. */
  val q145 = Q("q145_pack_sequences", {
    val h = graft.functions.Hashes.h60Sql("'pack|' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT source, doc_id, string_split(trim(text), ' ') AS toks,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
       |         $h AS h
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT source, doc_id, toks, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |           - n_tokens AS start_off
       |  FROM t),
       |tok AS (
       |  SELECT source,
       |         start_off + CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) - 1 AS off,
       |         unnest(toks) AS tok
       |  FROM c)
       |SELECT source, off // 512 AS seq_id,
       |       string_agg(tok, ' ' ORDER BY off) AS seq_text,
       |       COUNT(*) AS seq_tokens
       |FROM tok GROUP BY source, off // 512""".stripMargin
  }) { (s, d) =>
    val h = graft.functions.Hashes
      .h60(concat(lit("pack|"), col("doc_id").cast(StringType)))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"), Text.tokens(col("text")).as("toks"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tokens"), h.as("h"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("source"), col("start_off"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .select(col("source"), (col("start_off") + col("p")).as("off"), col("tok"))
      .groupBy(col("source"), expr("off div 512").as("seq_id"))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("off"), col("tok")))),
            x => x.getField("tok"))).as("seq_text"),
        count(lit(1)).as("seq_tokens"))
  }

  /** q142 — contamination OVERLAP REPORT at index scale: for every
    * corpus doc, what FRACTION of its distinct 3-grams appears
    * anywhere in the reference corpus (q135's mod-7 split: id ≡ 0
    * plays the reference). q71 answers the boolean ("is this doc
    * contaminated?") for a broadcastable eval suite; this is the
    * graded report the GPT-3/PaLM appendices publish (n-gram overlap
    * percentage per document) against a reference too big to
    * broadcast. Integer counts (n_grams, n_overlap) under the exact
    * gate; the fraction is one division of the two (correctly-rounded
    * IEEE, the q137 seam discipline). Docs with fewer than 3 tokens
    * have no grams and no row — the [[Dedup.shingles]] convention.
    * Scale: distinct reference grams ∪ corpus grams meet in ONE
    * equi-join on gram (shuffle both sides, AQE-splittable), then one
    * per-doc count — never O(|corpus|·|ref|). */
  val q142 = Q("q142_contamination_overlap",
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |grams AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |    FROM toks WHERE len(t) >= 3)),
      |ref AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0),
      |cg AS (SELECT doc_id, gram FROM grams WHERE doc_id % 7 <> 0)
      |SELECT doc_id,
      |       COUNT(*) AS n_grams,
      |       CAST(SUM(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_overlap,
      |       CAST(CAST(SUM(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS overlap_frac
      |FROM cg LEFT JOIN ref r USING (gram)
      |GROUP BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val grams = Dedup.shingles(docs, "doc_id", "text", 3)
    val ref = grams.filter(col("doc_id") % 7 === 0).select("gram").distinct()
    val cg = grams.filter(col("doc_id") % 7 =!= 0)
    cg.join(ref.withColumn("in_ref", lit(1L)), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("in_ref").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("overlap_frac"))
  }

  /** q151 — unigram-LM (SentencePiece-style) subword segmentation
    * ([[graft.functions.Unigram]]): train the piece-cost vocab
    * (top-256 substrings + single-char fallback, cost = exact integer
    * −⌊log₂ freq⌋ via bitlength), Viterbi-segment every distinct word
    * (packed (cost, pieces) DP — one map-only `aggregate` fold, vocab
    * as a plan literal), and emit per-doc totals. Completes the
    * tokenizer family: BPE trains bottom-up by pair merging
    * (q76/q105/q106/q120); the unigram model segments top-down by
    * optimal DP. The ORACLE brute-forces the optimum: a recursive CTE
    * enumerates EVERY segmentation of every distinct word (bounded by
    * the ≤12-char word cap) and takes the packed min — the DP must
    * equal exhaustive search, the strongest gate a DP can face. */
  val q151 = Q("q151_unigram_segment",
    """WITH RECURSIVE
      |w0 AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
      |       FROM documents),
      |words AS (SELECT doc_id, w FROM w0 WHERE len(w) BETWEEN 1 AND 12),
      |occ AS (SELECT doc_id, w, COUNT(*) AS n FROM words GROUP BY 1, 2),
      |wc AS (SELECT w, CAST(SUM(n) AS BIGINT) AS wc FROM occ GROUP BY 1),
      |cand AS (
      |  SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM (
      |    SELECT wc,
      |           unnest(flatten(list_transform(range(1, len(w) + 1), gs ->
      |             list_transform(range(1, least(4, len(w) - gs + 1) + 1),
      |                            gl -> substr(w, gs, gl))))) AS piece
      |    FROM wc)
      |  GROUP BY 1),
      |top AS (SELECT piece, freq FROM (
      |          SELECT piece, freq,
      |                 row_number() OVER (ORDER BY freq DESC, piece) AS rn
      |          FROM cand) WHERE rn <= 256),
      |vocab AS (
      |  SELECT DISTINCT piece, 64 - length(bin(freq)) AS cost FROM (
      |    SELECT * FROM top
      |    UNION ALL SELECT piece, freq FROM cand WHERE len(piece) = 1)),
      |seg(w, pos, enc) AS (
      |  SELECT w, 0, CAST(0 AS BIGINT) FROM wc
      |  UNION ALL
      |  SELECT s.w, s.pos + len(v.piece), s.enc + v.cost * 4096 + 1
      |  FROM seg s JOIN vocab v
      |    ON v.piece = substr(s.w, s.pos + 1, len(v.piece))),
      |best AS (SELECT w, MIN(enc) AS enc FROM seg
      |         WHERE pos = len(w) GROUP BY w)
      |SELECT o.doc_id,
      |       CAST(SUM(o.n) AS BIGINT) AS n_words,
      |       CAST(SUM(o.n * (b.enc // 4096)) AS BIGINT) AS total_cost,
      |       CAST(SUM(o.n * (b.enc % 4096)) AS BIGINT) AS total_pieces
      |FROM occ o JOIN best b ON b.w = o.w
      |GROUP BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val vocab = graft.functions.Unigram.trainVocab(docs, "doc_id", "text")
    graft.functions.Unigram.segmentScores(docs, "doc_id", "text", vocab)
  }

  /** q152 — BM25 top-20 SERVED FROM the persisted index (q148's
    * artifact answering q102's workload): build the [[graft.functions
    * .TextIndex]] postings artifact over the corpus once (per-JVM dir,
    * the q148 discipline), then score the same fixed query with
    * [[Retrieval.bm25ScoresFromPostings]] — the corpus text is never
    * re-tokenized at query time; per-doc tf/length fold from the
    * postings, which is the entire point of maintaining an index. The
    * oracle is q102's BM25 CTE chain VERBATIM: index-served scores
    * must be bit-identical to scoring from raw text. */
  val q152 = Q("q152_bm25_from_index",
    s"""$bm25ScoredCteSql
      |SELECT doc_id, score, rank FROM (
      |  SELECT doc_id, score,
      |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |WHERE rank <= 20""".stripMargin) { (s, d) =>
    import graft.functions.TextIndex
    // keyed by fixture STAMP (dir + max mtime), not dir alone: a fixture
    // regenerated at the same path mid-JVM gets a fresh build instead of
    // a stale index scored against the new data (r11 advice)
    val dir = q152Dirs.computeIfAbsent(Q.dataStamp(d), _ => {
      val t = graft.pipeline.TempDirs.scoped("graft_bm25index_")
      TextIndex.build(Tables.documents(s, d), "doc_id", "text", t)
      t
    })
    val scored = Retrieval.bm25ScoresFromPostings(
      TextIndex.postings(s, dir), terms = Seq("dup", "spark", "merge", "window"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("doc_id", "score", "rank")
  }

  private val q152Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q157 — QUERY-TABLE-driven BM25 serving ([[Retrieval
    * .bm25QueryTable]], r11 verdict item 5): four distinct 3-term
    * queries arrive as a broadcast RELATION and are all answered in
    * ONE pass over q152's persisted postings artifact — the
    * multi-tenant production shape, vs q102/q152's single hardcoded
    * term list compiled into the plan. Fully oracled: the oracle
    * carries the same query table as a VALUES CTE, pivots tf/df by
    * slot, and sums the q102 fixed-shape double expression in slot
    * order — the written-term-order discipline generalized to a fixed
    * SLOT order, which is what keeps a data-driven term list under
    * the exact gate. Candidates are docs matching ≥ 1 query term (an
    * index can never surface a zero-match doc); top-10 per query,
    * doc_id tiebreak. */
  val q157 = Q("q157_bm25_query_table", {
    def slotExpr(i: Int): String =
      s"""((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df_$i AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         |      * ((CAST(tf_$i AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |         / (CAST(tf_$i AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(t_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""".stripMargin
    s"""WITH qt(query_id, slot, term) AS (
       |  VALUES (CAST(1 AS BIGINT), 1, 'dup'), (2, 1, 'window'),
       |         (3, 1, 'part'), (4, 1, 'stream'),
       |         (1, 2, 'spark'), (2, 2, 'filter'),
       |         (3, 2, 'join'), (4, 2, 'batch'),
       |         (1, 3, 'merge'), (2, 3, 'scan'),
       |         (3, 3, 'hash'), (4, 3, 'row')),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents),
       |posting AS (SELECT token, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |per_doc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM posting GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_total FROM per_doc),
       |tdf AS (SELECT token AS term, COUNT(*) AS df FROM posting
       |        WHERE token IN (SELECT term FROM qt) GROUP BY 1),
       |qdf AS (SELECT q.query_id,
       |               MAX(CASE WHEN q.slot = 1 THEN COALESCE(d.df, 0) END) AS df_1,
       |               MAX(CASE WHEN q.slot = 2 THEN COALESCE(d.df, 0) END) AS df_2,
       |               MAX(CASE WHEN q.slot = 3 THEN COALESCE(d.df, 0) END) AS df_3
       |        FROM qt q LEFT JOIN tdf d ON d.term = q.term GROUP BY 1),
       |matched AS (
       |  SELECT q.query_id, p.doc_id,
       |         CAST(SUM(CASE WHEN q.slot = 1 THEN p.tf ELSE 0 END) AS BIGINT) AS tf_1,
       |         CAST(SUM(CASE WHEN q.slot = 2 THEN p.tf ELSE 0 END) AS BIGINT) AS tf_2,
       |         CAST(SUM(CASE WHEN q.slot = 3 THEN p.tf ELSE 0 END) AS BIGINT) AS tf_3
       |  FROM posting p JOIN qt q ON p.token = q.term
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT m.query_id, m.doc_id,
       |    ${slotExpr(1)}
       |    + ${slotExpr(2)}
       |    + ${slotExpr(3)}
       |    AS score
       |  FROM matched m
       |  JOIN per_doc pd ON pd.doc_id = m.doc_id
       |  JOIN qdf ON qdf.query_id = m.query_id, stats)
       |SELECT query_id, doc_id, score, rank FROM (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, doc_id) AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
  }) { (s, d) =>
    import s.implicits._
    import graft.functions.TextIndex
    val dir = q152Dirs.computeIfAbsent(Q.dataStamp(d), _ => {
      val t = graft.pipeline.TempDirs.scoped("graft_bm25index_")
      TextIndex.build(Tables.documents(s, d), "doc_id", "text", t)
      t
    })
    val queryTable = Seq(
      (1L, 1, "dup"), (1L, 2, "spark"), (1L, 3, "merge"),
      (2L, 1, "window"), (2L, 2, "filter"), (2L, 3, "scan"),
      (3L, 1, "part"), (3L, 2, "join"), (3L, 3, "hash"),
      (4L, 1, "stream"), (4L, 2, "batch"), (4L, 3, "row"))
      .toDF("query_id", "slot", "term")
    Retrieval.bm25QueryTable(TextIndex.postings(s, dir), queryTable,
      slots = 3, k = 10)
  }

  /** q158 — unigram-LM segment scores under the HARD-EM-TRAINED vocab
    * ([[graft.functions.Unigram.trainVocabEm]], r11 verdict item 6 —
    * the trainer that fills q151's self-documented stub seam): q151's
    * frequency-heuristic vocab is only the INIT; one E/M round then
    * re-estimates every piece's cost from its count across the corpus'
    * Viterbi-best segmentations (prune to top-256, single-char
    * coverage floor at count 0) and the registered output is q151's
    * per-doc totals under the RE-ESTIMATED costs. The oracle replays
    * the entire loop: init vocab → enumerate all segmentations per
    * word (recursive CTE) → canonical best path (min packed cost,
    * then lexicographically-min REVERSED length string — exactly the
    * engine's smallest-last-piece backtrack) → piece counts → pruned
    * vocab₁ → re-segment → totals. Multi-round EM and the
    * convergence behavior are pinned against a driver-side reference
    * trainer in UnigramSpec (the q106 BPE-trainer discipline). */
  val q158 = Q("q158_unigram_em",
    """WITH RECURSIVE
      |w0 AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
      |       FROM documents),
      |words AS (SELECT doc_id, w FROM w0 WHERE len(w) BETWEEN 1 AND 12),
      |occ AS (SELECT doc_id, w, COUNT(*) AS n FROM words GROUP BY 1, 2),
      |wc AS (SELECT w, CAST(SUM(n) AS BIGINT) AS wc FROM occ GROUP BY 1),
      |cand AS (
      |  SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM (
      |    SELECT wc,
      |           unnest(flatten(list_transform(range(1, len(w) + 1), gs ->
      |             list_transform(range(1, least(4, len(w) - gs + 1) + 1),
      |                            gl -> substr(w, gs, gl))))) AS piece
      |    FROM wc)
      |  GROUP BY 1),
      |top0 AS (SELECT piece, freq FROM (
      |          SELECT piece, freq,
      |                 row_number() OVER (ORDER BY freq DESC, piece) AS rn
      |          FROM cand) WHERE rn <= 256),
      |vocab0 AS (
      |  SELECT DISTINCT piece, 64 - length(bin(freq)) AS cost FROM (
      |    SELECT * FROM top0
      |    UNION ALL SELECT piece, freq FROM cand WHERE len(piece) = 1)),
      |seg0(w, pos, enc, lens) AS (
      |  SELECT w, 0, CAST(0 AS BIGINT), '' FROM wc
      |  UNION ALL
      |  SELECT s.w, s.pos + len(v.piece), s.enc + v.cost * 4096 + 1,
      |         s.lens || CAST(len(v.piece) AS VARCHAR)
      |  FROM seg0 s JOIN vocab0 v
      |    ON v.piece = substr(s.w, s.pos + 1, len(v.piece))),
      |best0 AS (
      |  SELECT w, lens FROM (
      |    SELECT w, lens,
      |           row_number() OVER (PARTITION BY w
      |                              ORDER BY enc, reverse(lens)) AS rn
      |    FROM seg0 WHERE pos = len(w)) WHERE rn = 1),
      |bp AS (
      |  SELECT b.w,
      |         substr(b.w,
      |           1 + CAST(COALESCE(list_sum(list_transform(range(1, i),
      |                 j -> CAST(substr(b.lens, CAST(j AS INT), 1) AS INT))), 0) AS INT),
      |           CAST(substr(b.lens, CAST(i AS INT), 1) AS INT)) AS piece
      |  FROM best0 b, unnest(range(1, len(b.lens) + 1)) AS u(i)),
      |cnts AS (SELECT p.piece, CAST(SUM(wc.wc) AS BIGINT) AS cnt
      |         FROM bp p JOIN wc ON wc.w = p.w GROUP BY 1),
      |top1 AS (SELECT piece, cnt FROM (
      |          SELECT piece, cnt,
      |                 row_number() OVER (ORDER BY cnt DESC, piece) AS rn
      |          FROM cnts) WHERE rn <= 256),
      |singles AS (
      |  SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
      |  FROM wc, unnest(range(1, len(w) + 1)) AS u(i)),
      |vocab1 AS (
      |  SELECT DISTINCT piece, 64 - length(bin(cnt)) AS cost FROM (
      |    SELECT piece, cnt FROM top1
      |    UNION ALL
      |    SELECT s.piece, COALESCE(c.cnt, CAST(0 AS BIGINT)) AS cnt
      |    FROM singles s LEFT JOIN cnts c ON c.piece = s.piece)),
      |seg1(w, pos, enc) AS (
      |  SELECT w, 0, CAST(0 AS BIGINT) FROM wc
      |  UNION ALL
      |  SELECT s.w, s.pos + len(v.piece), s.enc + v.cost * 4096 + 1
      |  FROM seg1 s JOIN vocab1 v
      |    ON v.piece = substr(s.w, s.pos + 1, len(v.piece))),
      |best1 AS (SELECT w, MIN(enc) AS enc FROM seg1
      |          WHERE pos = len(w) GROUP BY w)
      |SELECT o.doc_id,
      |       CAST(SUM(o.n) AS BIGINT) AS n_words,
      |       CAST(SUM(o.n * (b.enc // 4096)) AS BIGINT) AS total_cost,
      |       CAST(SUM(o.n * (b.enc % 4096)) AS BIGINT) AS total_pieces
      |FROM occ o JOIN best1 b ON b.w = o.w
      |GROUP BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val vocab = graft.functions.Unigram.trainVocabEm(docs, "doc_id", "text",
      rounds = 1)
    graft.functions.Unigram.segmentScores(docs, "doc_id", "text", vocab)
  }

  /** q160 — WORDPIECE greedy longest-match-first subword encode
    * ([[WordPiece]]): the third tokenizer (BERT's inference rule) next
    * to BPE (q120) and unigram-LM Viterbi (q151/q158) — greedy-longest
    * is neither the merge-rank order nor the Viterbi optimum, so the
    * family needs all three. Vocab = position-aware top-24 substrings
    * (prefix pieces plain, interior `##`-marked) ∪ the single-char
    * closure; encode = one codegen'd kernel over DISTINCT words
    * (dictionary-encode discipline) joined back to occurrences. The
    * oracle re-derives the vocab and replays greedy longest-match as a
    * recursive CTE whose step picks, per position, the max matching
    * vocab content-length — exactly the kernel's scan order. topK=24
    * (not 512) so the cutoff BITES on this corpus (31 word types):
    * words fragment into 1–6 mixed-length pieces instead of surviving
    * whole. */
  val q160 = Q("q160_wordpiece_encode",
    """WITH RECURSIVE
      |occf AS (SELECT word FROM (
      |  SELECT unnest(string_split(trim(text), ' ')) AS word
      |  FROM documents WHERE text IS NOT NULL) WHERE length(word) >= 1),
      |pieces AS (
      |  SELECT CASE WHEN s = 1 THEN substr(word, s, l)
      |              ELSE '##' || substr(word, s, l) END AS piece
      |  FROM occf,
      |       unnest(range(1, length(word) + 1)) AS so(s),
      |       unnest(range(1, least(6, length(word) - s + 1) + 1)) AS lo(l)),
      |counts AS (SELECT piece, COUNT(*) AS freq FROM pieces GROUP BY 1),
      |ranked AS (SELECT piece,
      |                  row_number() OVER (ORDER BY freq DESC, piece) AS rn
      |           FROM counts),
      |vocab AS (
      |  SELECT piece FROM ranked WHERE rn <= 24
      |  UNION
      |  SELECT piece FROM counts
      |  WHERE (piece NOT LIKE '##%' AND length(piece) = 1)
      |     OR (piece LIKE '##%' AND length(piece) = 3)),
      |wt AS (SELECT DISTINCT word FROM occf),
      |step(word, off, ord, piece) AS (
      |  SELECT word, 1, 0, CAST(NULL AS VARCHAR) FROM wt
      |  UNION ALL
      |  SELECT word, off + wl, ord + 1,
      |         CASE WHEN off = 1 THEN substr(word, off, wl)
      |              ELSE '##' || substr(word, off, wl) END
      |  FROM (
      |    SELECT word, off, ord,
      |      (SELECT max(length(v.piece) - CASE WHEN off = 1 THEN 0 ELSE 2 END)
      |       FROM vocab v
      |       WHERE (CASE WHEN off = 1 THEN v.piece NOT LIKE '##%'
      |                   ELSE v.piece LIKE '##%' END)
      |         AND length(v.piece) - CASE WHEN off = 1 THEN 0 ELSE 2 END
      |             BETWEEN 1 AND length(word) - off + 1
      |         AND v.piece = CASE WHEN off = 1 THEN '' ELSE '##' END
      |                       || substr(word, off,
      |                                 length(v.piece)
      |                                 - CASE WHEN off = 1 THEN 0 ELSE 2 END)
      |      ) AS wl
      |    FROM step WHERE off <= length(word)) s
      |  WHERE wl IS NOT NULL),
      |tok AS (
      |  SELECT doc_id, CAST(i - 1 AS INT) AS word_pos, w[i] AS word
      |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w
      |        FROM documents WHERE text IS NOT NULL),
      |       unnest(range(1, len(w) + 1)) AS u(i)
      |  WHERE length(w[i]) >= 1)
      |SELECT t.doc_id, t.word_pos, CAST(s.ord AS INT) AS piece_ord, s.piece
      |FROM tok t JOIN step s ON t.word = s.word
      |WHERE s.piece IS NOT NULL""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val vocab = WordPiece.trainVocab(docs, "text", topK = 24)
    WordPiece.encodeDocs(docs, "doc_id", "text", vocab)
  }

  val all: Seq[Q] = Seq(q69, q70, q71, q72, q73, q74, q75, q76, q77, q78,
    q79, q89, q89p, q90, q94, q97, q102, q105, q106, q107, q120, q126,
    q131, q137, q141, q142, q145, q151, q152, q157, q158, q160)
}
