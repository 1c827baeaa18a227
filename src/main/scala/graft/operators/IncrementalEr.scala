package graft.operators

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.Components.LazyCheckpoint

/** INCREMENTAL entity resolution — q228's block → match → canonicalize
  * pipeline maintained under customer ARRIVALS without re-matching the
  * accumulated base against itself (the q180 contracted-label
  * discipline applied to the record-linkage tier), without REWRITING
  * the accumulated state (r14's append-only commits), without
  * RECOMPUTING it (r15's persisted variant index), and — since r16 —
  * without SCANNING all of it per batch either:
  *
  *  - every table of the artifact carries a HASH-BUCKET partition
  *    column (`base/` by `wb = pmod(xxhash64(w), B)`, `variants/` by
  *    `vb = pmod(g_vh, B)`, `labels/` by `kb = pmod(xxhash64(v), B)`,
  *    and the inverted `members/` copy by
  *    `cb = pmod(xxhash64(component), B)`), laid out as a second-level
  *    partition directory under each commit's `_er_batch=<id>/`. Per
  *    fold, the batch's TOUCHED buckets are derived map-side (a
  *    distinct over the arrivals' variant/string hashes) and pushed as
  *    a partition predicate, so the probe PRUNES the standing scan to
  *    the touched buckets instead of reading the whole index;
  *  - bucket counts are TWO-TIER. Delta commits use a small CONSTANT
  *    count (the `_er_layout_v2_…` marker, default 16 — bounding
  *    per-commit files and dynamic-overwrite renames at streaming
  *    cadence), while each snapshot generation carries its OWN count
  *    embedded in its snapshot marker (`_er_basesnap_<id>_<bB>_<bV>`,
  *    `_er_snapshot_<id>_<bL>_<bM>`): [[compactBase]] / [[compact]]
  *    re-bucket as they fold, sizing `B' ≈ live rows /
  *    targetRowsPerBucket` so per-bucket BYTES stay ~constant as the
  *    corpus grows. That growth law is the term that makes a fixed
  *    trigger's probe I/O flat at 100 TB: touched buckets ≤ |batch|·L̄
  *    whatever the standing size, so bytes/fold → touched ×
  *    bucket-bytes, independent of the corpus (measured in
  *    IncrementalBench's `er_probe` sweep across a 10× standing
  *    decade). A read window [snapshot, upTo] prunes with a
  *    DISJUNCTIVE partition predicate — snapshot partition under the
  *    snapshot's modulus, delta partitions under the layout's — so the
  *    two tiers never mix moduli;
  *  - the standing side's FastSS deletion variants are a PERSISTED
  *    INDEX (`variants/`, rows `(blk, g_vh, g_pos, k, w)`): per batch,
  *    the arrivals' variants PROBE the index through (block,
  *    variant-hash, position) equi-joins, so per-batch compute is
  *    O(|batch|·L) probe rows — the base's variants are expanded
  *    exactly once, when their batch commits;
  *  - the probe joins BROADCAST the arrivals' side only when the
  *    MEASURED batch row count is ≤ [[IncrementalEr.MaxBroadcastArrivals]]
  *    (the r14 explode-blind-broadcast lesson); since r16 the same
  *    measured cap gates EVERY explicit broadcast on the fold and
  *    forget paths (key-set semi-joins, merged-component maps), so an
  *    oversized batch or mega-component forget cannot OOM the driver
  *    through a side door the cap was built to close;
  *  - standing LABELS are never read whole: the by-vertex reads prune
  *    to the keys' kb buckets plus a semi-join, and the by-component
  *    membership read goes through the inverted `members/` copy pruned
  *    to the touched components' cb buckets — label deltas are written
  *    to both copies (O(batch) bytes), which is what buys partition
  *    pruning on BOTH access paths;
  *  - new edges contract through the standing labels, and CC runs over
  *    the contracted label graph only — bounded by touched components;
  *  - COMMITS ARE APPEND-ONLY: the batch's arrivals land as their own
  *    `_er_batch=<id>/<bucket>=…/` partitions and the labels/members
  *    tables receive only the batch's DELTA. Per-batch commit bytes
  *    are O(batch·L), independent of standing size.
  *
  * Commit protocol: partition writes are dynamic partition overwrites
  * of the batch's OWN partitions (idempotent under replay), and the
  * commit point is an empty `_er_commit_<id>` marker created in the
  * labels dir AFTER all writes land (via the same FileContext /
  * NIO-O_EXCL dispatch as [[graft.pipeline.AtomicTable]]). Readers
  * resolve the highest marker first and filter all tables to
  * `_er_batch <=` that id. Batch ids must be monotone (Structured
  * Streaming's foreachBatch contract) and EVERY invoked id is durably
  * consumed exactly once — no-op folds (EMPTY batches included, the
  * r15 hole) still write their marker, so a later call can never
  * commit real work under a previously-seen id.
  *
  * Serving folds the label deltas latest-per-vertex over the snapshot
  * window ([[compact]] folds accumulated label deltas into a snapshot
  * generation; [[compactBase]] is the same OPTIMIZE for the base +
  * variant partitions — without it, streaming cadence accretes one
  * directory per commit forever, the small-file problem
  * AtomicTable.compact solves for tables). Pre-snapshot partitions
  * stay on disk for in-flight readers until [[vacuumLabels]] /
  * [[vacuumBase]]; they also serve [[resolvedAsOf]] time travel and
  * [[labelDiff]] audits, both partition filters over the same commit
  * sequence.
  *
  * A pre-r16 artifact (committed batches but no `_er_layout_` marker —
  * including the pre-r15 shape with no `variants/` at all) FAILS
  * LOUDLY on first standing read instead of silently resolving against
  * a partial index: rebuild the artifact, or replay its source batches
  * through this code.
  *
  * Labels are min-custkey canonical ids, and min-of-mins is the global
  * min, so the cross-batch fold reproduces EXACTLY the one-shot q228
  * fixpoint — q239 gates the 3-batch fold against q228's recursive-CTE
  * oracle verbatim.
  */
object IncrementalEr {

  private val BatchCol = "_er_batch"
  private val MarkerPrefix = "_er_commit_"
  private val SnapshotPrefix = "_er_snapshot_"
  private val BaseSnapPrefix = "_er_basesnap_"
  private val LayoutPrefix = "_er_layout_v2_"

  /** Probe-side broadcast cap: a relation with at most this many
    * MEASURED rows may be broadcast (arrival variants, key sets,
    * merged-component maps), keeping the standing-side scans map-only.
    * Measured, not estimated — Catalyst's static size of an exploded
    * relation is the pre-explode scan (the r14 OOM lesson), so the
    * decision must not be left to the planner. */
  private[graft] val MaxBroadcastArrivals = 100000L

  /** Per-table DELTA bucket counts (base, variants, labels, members) —
    * deliberately small and CONSTANT for the artifact's lifetime: a
    * delta commit writes ≤ B leaf dirs per table, so streaming-cadence
    * commit cost stays flat. Snapshot generations re-bucket to their
    * own (grown) counts at compaction time. */
  private[graft] val DeltaBuckets = Layout(16, 16, 16, 16)

  private[graft] case class Layout(base: Int, variants: Int,
                                   labels: Int, members: Int)

  private def baseDir(dir: String) = s"$dir/base"
  private def labelsDir(dir: String) = s"$dir/labels"
  private def variantsDir(dir: String) = s"$dir/variants"
  private def membersDir(dir: String) = s"$dir/members"

  private def fc(spark: SparkSession, dir: String): FileContext =
    FileContext.getFileContext(new Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)

  private def markerNames(spark: SparkSession, dir: String,
                          prefix: String): Seq[String] = {
    val ctx = fc(spark, dir)
    val p = new Path(labelsDir(dir))
    if (!ctx.util.exists(p)) Seq.empty
    else ctx.util.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
  }

  /** Highest committed batch id, if any batch has committed. */
  def lastCommitted(spark: SparkSession, dir: String): Option[Long] = {
    val ids = markerNames(spark, dir, MarkerPrefix).map(_.toLong)
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** Snapshot generation at or below `upTo` for the given marker
    * family: (snapshot batch id, its two bucket counts). */
  private def snapInfo(spark: SparkSession, dir: String, prefix: String,
                       upTo: Long): Option[(Long, Int, Int)] = {
    val entries = markerNames(spark, dir, prefix).map { n =>
      val p = n.split('_')
      (p(0).toLong, p(1).toInt, p(2).toInt)
    }.filter(_._1 <= upTo)
    if (entries.isEmpty) None else Some(entries.maxBy(_._1))
  }

  private def touchMarker(spark: SparkSession, dir: String, name: String): Unit =
    graft.pipeline.AtomicTable.claimExclusive(
      fc(spark, dir), new Path(labelsDir(dir), name))

  /** Delta-tier bucket counts. A committed artifact with no layout
    * marker is pre-r16 (possibly pre-r15, with no variant index at
    * all) — resolving against it would silently miss standing matches,
    * so FAIL LOUDLY instead. */
  private def layoutOf(spark: SparkSession, dir: String): Layout = {
    val entries = markerNames(spark, dir, LayoutPrefix)
    if (entries.isEmpty) throw new IllegalStateException(
      s"IncrementalEr artifact at $dir has committed batches but no " +
        s"$LayoutPrefix marker: pre-r16 (or pre-r15) layout. " +
        "Rebuild the artifact or replay its source batches.")
    val p = entries.head.split('_')
    Layout(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt)
  }

  /** Layout for WRITES, creating the marker for a BRAND-NEW artifact
    * only — an existing commit history without a layout marker is a
    * pre-r16 artifact and must fail loudly ([[layoutOf]]), never be
    * silently "upgraded" over a partial index. */
  private def ensureLayout(spark: SparkSession, dir: String,
                           hasCommits: Boolean): Layout = {
    if (!hasCommits && markerNames(spark, dir, LayoutPrefix).isEmpty) {
      val b = DeltaBuckets
      touchMarker(spark, dir,
        s"$LayoutPrefix${b.base}_${b.variants}_${b.labels}_${b.members}")
    }
    layoutOf(spark, dir)
  }

  /** Parquet read under the artifact's own `schema` (no schema
    * inference job; the batch column stays LONG whatever the ids) that
    * treats a MISSING directory as an empty relation of that schema — a
    * no-op commit (marker, no data) must not wedge later reads. Only
    * FileNotFound maps to empty: any other listing/IO failure
    * propagates, because treating a transient error as an empty table
    * silently corrupts the resolution (duplicates past the
    * re-observation guard, probes missing all standing matches). */
  private def readOrEmpty(spark: SparkSession, dir: String,
                          schema: StructType): DataFrame = {
    val hasData = try {
      val ctx = fc(spark, dir)
      val p = new Path(dir)
      ctx.util.exists(p) && ctx.util.listStatus(p).exists { st =>
        val n = st.getPath.getName
        st.isDirectory || n.endsWith(".parquet")
      }
    } catch { case _: java.io.FileNotFoundException => false }
    if (hasData) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private[graft] val labelsSchema = StructType(Seq(
    StructField("v", LongType), StructField("component", LongType),
    StructField(BatchCol, LongType), StructField("kb", IntegerType)))

  private[graft] val membersSchema = StructType(Seq(
    StructField("component", LongType), StructField("v", LongType),
    StructField(BatchCol, LongType), StructField("cb", IntegerType)))

  private[graft] val baseSchema = StructType(Seq(
    StructField("k", LongType), StructField("w", StringType),
    StructField("blk", LongType),
    StructField(BatchCol, LongType), StructField("wb", IntegerType)))

  private[graft] val variantsSchema = StructType(Seq(
    StructField("blk", LongType), StructField("k", LongType),
    StructField("w", StringType),
    StructField("g_pos", IntegerType), StructField("g_vh", LongType),
    StructField(BatchCol, LongType), StructField("vb", IntegerType)))

  /** Touched-bucket sets of `hashes` (one LONG column) under the delta
    * and snapshot moduli — ONE distinct+collect yields both partition
    * predicates. Bounded by bDelta × bSnap pairs. */
  private def touchedSets(hashes: DataFrame, bDelta: Int,
                          bSnap: Option[Int]): (Seq[Int], Seq[Int]) = {
    val m = touchedSetsMulti(hashes, Seq(bDelta, bSnap.getOrElse(bDelta)))
    (m(bDelta), m(bSnap.getOrElse(bDelta)))
  }

  /** [[touchedSets]] under SEVERAL moduli at once: one distinct+collect
    * job serves every (delta, snapshot) modulus of reads that share a
    * probe hash family — maintainBatch's base and variant reads probe
    * with the same hashes, so deriving all four bucket sets in one job
    * halves the gate's fixed job cost. Row bound: the distinct is over
    * tuples of residues, ≤ ∏ moduli rows. */
  private def touchedSetsMulti(hashes: DataFrame,
                               mods: Seq[Int]): Map[Int, Seq[Int]] = {
    val uniq = mods.distinct
    val h = col(hashes.columns.head)
    val rows = hashes.select(uniq.map(m =>
        pmod(h, lit(m)).cast("int").as(s"_m$m")): _*)
      .distinct().collect()
    uniq.zipWithIndex.map { case (m, i) =>
      m -> rows.map(_.getInt(i)).distinct.toSeq }.toMap
  }

  /** Residue sets under several moduli AND the exact row count of
    * `keys`, in ONE job (a groupBy over the pmod columns + count): a
    * gate that needs both — the re-observation guard, the touched-set
    * counts, the candidate member reads — pays one job instead of a
    * distinct+collect plus a separate count (r17, guide §2.6: the
    * fold's wall is job count, not data). */
  private def touchedSetsCount(keys: DataFrame, hash: Column,
                               mods: Seq[Int]): (Map[Int, Seq[Int]], Long) = {
    val uniq = mods.distinct
    val rows = keys.groupBy(uniq.map(m =>
        pmod(hash, lit(m)).cast("int").as(s"_m$m")): _*)
      .agg(count(lit(1)).as("_c")).collect()
    val n = rows.map(_.getLong(uniq.length)).sum
    (uniq.zipWithIndex.map { case (m, i) =>
      m -> rows.map(_.getInt(i)).distinct.toSeq }.toMap, n)
  }

  /** (delta, snapshot) moduli of the labels tier at `upTo` — what a
    * kb-pruned read derives its residue sets under. */
  private def labelModsAt(spark: SparkSession, dir: String, upTo: Long,
                          lay: Layout): (Int, Int) = {
    val s = snapInfo(spark, dir, SnapshotPrefix, upTo)
    (lay.labels, s.map(_._2).getOrElse(lay.labels))
  }

  /** (delta, snapshot) moduli of the members tier at `upTo`. */
  private def memberModsAt(spark: SparkSession, dir: String, upTo: Long,
                           lay: Layout): (Int, Int) = {
    val s = snapInfo(spark, dir, SnapshotPrefix, upTo)
    (lay.members, s.map(_._3).getOrElse(lay.members))
  }

  /** Driver-side twin of `pmod(xxhash64(v), m)` for a LONG key — used
    * to derive a pruned read's residue sets from rows ALREADY collected
    * on the driver (the contracted-graph fast path) without paying a
    * residue job. Bit parity with the column expression is pinned by
    * ErLifecycleSpec, and every pruned read is additionally end-to-end
    * gated by the DuckDB oracles. */
  private[graft] def bucketOfLong(v: Long, m: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, 42L)
    (((h % m) + m) % m).toInt
  }

  /** Window + bucket-pruned read over a two-tier table: the snapshot
    * partition filters under the snapshot's modulus, delta partitions
    * under the layout's — a disjunction of partition-column
    * conjunctions, all pruned at the scan's directory listing.
    * `hashes` = None reads the window unpruned. */
  private def pruned(df: DataFrame, bucketCol: String, upTo: Long,
                     snap: Option[(Long, Int)], bDelta: Int,
                     hashes: Option[DataFrame],
                     sets: Option[(Seq[Int], Seq[Int])] = None): DataFrame = {
    val inWindow: Column = snap match {
      case Some((f, _)) => col(BatchCol) >= f && col(BatchCol) <= upTo
      case None => col(BatchCol) <= upTo
    }
    sets.orElse(hashes.map(h => touchedSets(h, bDelta, snap.map(_._2)))) match {
      case None => df.filter(inWindow)
      case Some((dSet, sSet)) =>
        df.filter(snap match {
          case Some((f, _)) =>
            (col(BatchCol) === f && col(bucketCol).isin(sSet: _*)) ||
              (col(BatchCol) > f && col(BatchCol) <= upTo &&
                col(bucketCol).isin(dSet: _*))
          case None => inWindow && col(bucketCol).isin(dSet: _*)
        })
    }
  }

  private def baseRows(spark: SparkSession, dir: String, upTo: Long,
                       hashes: Option[DataFrame],
                       sets: Option[(Seq[Int], Seq[Int])] = None): DataFrame =
    pruned(readOrEmpty(spark, baseDir(dir), baseSchema), "wb", upTo,
      snapInfo(spark, dir, BaseSnapPrefix, upTo).map(t => (t._1, t._2)),
      layoutOf(spark, dir).base, hashes, sets)

  private def variantRows(spark: SparkSession, dir: String, upTo: Long,
                          hashes: Option[DataFrame],
                          sets: Option[(Seq[Int], Seq[Int])] = None): DataFrame =
    pruned(readOrEmpty(spark, variantsDir(dir), variantsSchema), "vb", upTo,
      snapInfo(spark, dir, BaseSnapPrefix, upTo).map(t => (t._1, t._3)),
      layoutOf(spark, dir).variants, hashes, sets)

  private def labelRows(spark: SparkSession, dir: String, upTo: Long,
                        hashes: Option[DataFrame] = None,
                        sets: Option[(Seq[Int], Seq[Int])] = None): DataFrame =
    pruned(readOrEmpty(spark, labelsDir(dir), labelsSchema), "kb", upTo,
      snapInfo(spark, dir, SnapshotPrefix, upTo).map(t => (t._1, t._2)),
      layoutOf(spark, dir).labels, hashes, sets)

  private def memberRows(spark: SparkSession, dir: String, upTo: Long,
                         hashes: Option[DataFrame],
                         sets: Option[(Seq[Int], Seq[Int])] = None): DataFrame =
    pruned(readOrEmpty(spark, membersDir(dir), membersSchema), "cb", upTo,
      snapInfo(spark, dir, SnapshotPrefix, upTo).map(t => (t._1, t._3)),
      layoutOf(spark, dir).members, hashes, sets)

  /** Committed label assignments, one row per vertex: the latest delta
    * row per v across the snapshot window (merge-on-read). A latest
    * row with NULL component is a [[forget]] tombstone — the vertex is
    * no longer assigned and drops out here. Unpruned by design: the
    * full assignment IS the answer (serving / compaction). */
  private def currentLabels(spark: SparkSession, dir: String,
                            upTo: Long): DataFrame = {
    val w = Window.partitionBy("v").orderBy(col(BatchCol).desc)
    labelRows(spark, dir, upTo)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("component").isNotNull)
      .select(col("v"), col("component"))
  }

  /** [[currentLabels]] restricted to `keys` (one column, vertex ids):
    * the scan prunes to the keys' kb buckets (a vertex's delta rows
    * all share its bucket, so the latest-per-vertex fold is complete
    * within the pruned scan), the semi-join drops non-key rows, and
    * the window runs over the restricted rows only. `bcast` must come
    * from a MEASURED count (or measured upper bound) of `keys`.
    * `sets` = precomputed residue sets (from a job that already scanned
    * the keys — the r17 merged gates) skip the read's own residue
    * collect AND the second execution of the keys plan. */
  private def labelsLatestFor(spark: SparkSession, dir: String, upTo: Long,
                              keys: DataFrame, bcast: Boolean,
                              sets: Option[(Seq[Int], Seq[Int])] = None): DataFrame = {
    val ks = keys.toDF("v")
    val w = Window.partitionBy("v").orderBy(col(BatchCol).desc)
    labelRows(spark, dir, upTo,
        if (sets.isDefined) None
        else Some(ks.select(xxhash64(col("v")).as("h"))), sets)
      .join(if (bcast) broadcast(ks) else ks, Seq("v"), "left_semi")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("component").isNotNull)
      .select(col("v"), col("component"))
  }

  // Current-members-of-components reads (the inverted `members/` copy
  // pruned to the components' cb buckets, then the latest-per-vertex
  // fold over the candidates) are INLINED at their two call sites
  // (maintain fold, forget) since r16: both checkpoint the candidate
  // set so labelsLatestFor's double execution of its keys relation
  // (residue collect + fold join) reads blocks instead of re-running
  // the candidate plan.

  /** Deletion variants of `w` with position and the variant's 64-bit
    * hash: (blk, k, w, g_pos, g_vh). Joining on the hash instead of
    * the variant string cuts shuffle/broadcast row width ~3× (the
    * [[graft.functions.FuzzyJoin.ed2PairsBlocked]] probe); collisions
    * only add candidates the exact ED ≤ 1 verify removes. */
  private def dels(df: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val keep = Seq("blk", "k", "w") ++ extra
    df.select(keep.map(col) :+ posexplode(
      transform(sequence(lit(1), length(col("w"))), i =>
        concat(col("w").substr(lit(1), i - 1),
          col("w").substr(i + 1, length(col("w")) - i)))): _*)
      .toDF(keep ++ Seq("g_pos", "g_var"): _*)
      .select(keep.map(col) ++ Seq(col("g_pos"),
        xxhash64(col("g_var")).as("g_vh")): _*)
  }

  /** ED ≤ 1 custkey match edges (ka < kb) with ≥ one side in
    * `arrivals`, probed against the PERSISTED standing index: the
    * arrivals' deletion variants (map-only, O(|batch|·L) rows) meet
    * the stored variants of every committed batch plus the batch's own
    * — the standing side is scanned (bucket-pruned by the caller),
    * never re-expanded. Includes lev = 0 (exact-name) pairs — entity
    * resolution links same-name records the strictly-unequal fuzzy
    * kernel skips. `bcast` pins which side the planner materializes:
    * the arrivals' exploded relations are broadcast only under the
    * measured row cap (the r14 explode-blind-broadcast lesson),
    * otherwise both sides pin sort-merge. */
  private[graft] def edgesIndexed(arrivals: DataFrame,
                                  standingVariants: Option[DataFrame],
                                  standingBase: Option[DataFrame],
                                  bcast: Boolean,
                                  delsA: Option[DataFrame] = None): DataFrame = {
    def hA(df: DataFrame): DataFrame =
      if (bcast) broadcast(df) else df.hint("shuffle_merge")
    def hS(df: DataFrame): DataFrame =
      if (bcast) df else df.hint("shuffle_merge")
    // the arrivals' deletion variants: reuse the caller's checkpointed
    // expansion when provided — maintainBatch consumes the SAME
    // relation three times (probe-hash derivation, this probe, the
    // variant-index commit), and re-exploding it inside each job is
    // pure repeated work
    val dA = delsA.getOrElse(dels(arrivals))
    val unionVariants = standingVariants
      .map(_.select(col("blk"), col("k"), col("w"), col("g_pos"), col("g_vh"))
        .unionByName(dA)).getOrElse(dA)
    val unionStrings = standingBase
      .map(_.select(col("blk"), col("k"), col("w")).unionByName(
        arrivals.select(col("blk"), col("k"), col("w"))))
      .getOrElse(arrivals.select(col("blk"), col("k"), col("w")))
    // substitutions: same (block, variant-hash, position), ≥1 arrival side
    val subs = hA(dA.select(col("blk"), col("k").as("ka"), col("w").as("wa"),
        col("g_pos"), col("g_vh")))
      .join(hS(unionVariants.select(col("blk"), col("k").as("kb"),
        col("w").as("wb"), col("g_pos"), col("g_vh"))),
        Seq("blk", "g_vh", "g_pos"))
      .select(col("ka"), col("wa"), col("kb"), col("wb"))
    // insert/delete arrival-longer (a deletion of the arrival IS a
    // standing string) and exact-name twins (lev = 0) share the
    // standing-strings-hashed build side — ONE union probe (arrival
    // variant hashes ∪ arrival string hashes) against one scan of the
    // strings relation instead of two joins/scans. Joining the exact
    // case on the 64-bit string hash instead of the string itself is
    // the ed2PairsBlocked discipline: a collision only adds a
    // candidate the exact ED ≤ 1 verify below removes.
    val longAndExact = hA(dA.select(col("blk"), col("k").as("ka"),
        col("w").as("wa"), col("g_vh"))
        .unionByName(arrivals.select(col("blk"), col("k").as("ka"),
          col("w").as("wa"), xxhash64(col("w")).as("g_vh"))))
      .join(hS(unionStrings.select(col("blk"), col("k").as("kb"),
        col("w").as("wb"), xxhash64(col("w")).as("g_vh"))),
        Seq("blk", "g_vh"))
      .select(col("ka"), col("wa"), col("kb"), col("wb"))
    // arrival-shorter: a standing deletion IS the arrival string
    val shortSide = hS(unionVariants.select(col("blk"), col("k").as("ka"),
        col("w").as("wa"), col("g_vh")))
      .join(hA(arrivals.select(col("blk"), col("k").as("kb"),
        col("w").as("wb"), xxhash64(col("w")).as("g_vh"))),
        Seq("blk", "g_vh"))
      .select(col("ka"), col("wa"), col("kb"), col("wb"))
    subs.unionAll(longAndExact).unionAll(shortSide)
      .filter(col("ka") =!= col("kb") &&
        graft.plans.NativeExpressions.withinEd1(col("wa"), col("wb")))
      .select(least(col("ka"), col("kb")).as("ea"),
        greatest(col("ka"), col("kb")).as("eb"))
      .distinct()
  }

  /** Symmetric ED ≤ 1 edges over a member relation — [[forget]]'s
    * re-match runs over touched-component members only, where
    * re-expanding both sides is cheaper than any index. `bcast`
    * follows the same measured cap as the maintain probe: a forget
    * touching a mega-cluster must not broadcast its exploded
    * variants. */
  private[graft] def edgesTouching(left: DataFrame, right: DataFrame,
                                   bcast: Boolean = true): DataFrame =
    edgesIndexed(left,
      standingVariants = if (left eq right) None else Some(dels(right)),
      standingBase = if (left eq right) None else Some(right),
      bcast = bcast)

  /** Overlap INDEPENDENT commit writes (guide §2.6: actions are only
    * sequential because the driver calls them sequentially): each
    * write is a small job over an already-checkpointed relation into
    * its OWN directory, so submitting them from a thread pool lets
    * their task tails back-fill each other instead of serializing 2-4
    * jobs of mostly fixed scheduling cost. A failure in any write
    * propagates (Await rethrows) and the commit marker — written by
    * the caller AFTER this returns — never lands, so the replay
    * contract is unchanged. Cached daemon pool: callers may nest
    * logically (maintainBatch folds the label-delta writes into its
    * own batch), and write threads block on the driver, not CPU. */
  private lazy val writePool = scala.concurrent.ExecutionContext
    .fromExecutorService(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "er-commit-writer")
        t.setDaemon(true); t }))

  private def inParallel(tasks: Seq[() => Unit]): Unit = {
    val fs = tasks.map(t => scala.concurrent.Future(t())(writePool))
    fs.foreach(scala.concurrent.Await.result(_,
      scala.concurrent.duration.Duration.Inf))
  }

  /** Bucket-column write: one shuffle keyed on the bucket column so
    * each leaf directory is written by exactly one task (≤ B files per
    * table per commit, not B × tasks), then a dynamic partition
    * overwrite of exactly the partitions present (replay-idempotent). */
  private def writeBucketed(df: DataFrame, dir: String, batchId: Long,
                            bucketCol: String): Unit =
    df.withColumn(BatchCol, lit(batchId))
      .repartition(col(bucketCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BatchCol, bucketCol).parquet(dir)

  /** Write a label DELTA (or snapshot) to both label copies: the
    * authoritative by-vertex `labels/` (kb-bucketed, tombstones
    * included) and the inverted by-component `members/` (cb-bucketed,
    * assignments only — a tombstone never makes a vertex a membership
    * CANDIDATE, and the authoritative latest-per-vertex fold already
    * rejects stale candidates). */
  private def labelDeltaWrites(delta: DataFrame, dir: String, batchId: Long,
                               bLab: Int, bMem: Int): Seq[() => Unit] = Seq(
    () => writeBucketed(delta.select(col("v"), col("component").cast("long"))
        .withColumn("kb", pmod(xxhash64(col("v")), lit(bLab)).cast("int")),
      labelsDir(dir), batchId, "kb"),
    () => writeBucketed(delta.filter(col("component").isNotNull)
        .select(col("component").cast("long"), col("v"))
        .withColumn("cb",
          pmod(xxhash64(col("component")), lit(bMem)).cast("int")),
      membersDir(dir), batchId, "cb"))

  private def writeLabelDelta(delta: DataFrame, dir: String, batchId: Long,
                              bLab: Int, bMem: Int): Unit =
    inParallel(labelDeltaWrites(delta, dir, batchId, bLab, bMem))

  /** Consume `batchId` with no state change: layout marker (for a
    * brand-new artifact) + commit marker — every invoked id is durably
    * consumed exactly once, no-ops and EMPTY batches included. */
  private def commitNoOp(spark: SparkSession, dir: String, batchId: Long,
                         hasCommits: Boolean): Unit = {
    ensureLayout(spark, dir, hasCommits)
    touchMarker(spark, dir, s"$MarkerPrefix$batchId")
  }

  /** Fold one batch of NEW customers (c_custkey, c_name, c_nationkey)
    * into the standing base + labels + variant index. Commit cost is
    * O(batch·L + touched components); standing reads prune to the
    * batch's touched buckets. Re-observed custkeys (a record re-sent
    * in a later batch) are dropped — they keep their standing label,
    * add no duplicate base/variant rows, and cannot move clusters; an
    * UPDATE is [[forget]] + re-arrival. */
  def maintainBatch(dir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val profile = sys.env.contains("SPARK_GRAFT_ER_PROFILE")
    var tLast = System.nanoTime()
    def mark(phase: String): Unit = if (profile) {
      val now = System.nanoTime()
      println(f"[er-profile] $phase%-12s ${(now - tLast) / 1e9}%.2fs")
      tLast = now
    }
    val last = lastCommitted(spark, dir)
    if (last.exists(_ >= batchId)) return
    // LAZY checkpoints throughout this fold (r17, the Components-loop
    // discipline): each relation's materializing action is the count /
    // collect that immediately follows it, so every checkpoint+gate
    // pair costs ONE job instead of two. nObs == 0 also subsumes the
    // former batch.isEmpty pre-gate (an empty batch trivially yields
    // zero arrivals) — one more job gone from every fold.
    val arrivals0 = batch.select(col("c_custkey").cast("long").as("k"),
      col("c_name").as("w"), col("c_nationkey").cast("long").as("blk"))
      .filter(col("w").isNotNull && col("blk").isNotNull)
      .dropDuplicates("k").lazyCheckpoint()
    val lay = ensureLayout(spark, dir, last.isDefined)
    // re-observation guard (kb-pruned, key-restricted label read):
    // genuinely-new arrivals only — a re-observed vertex must keep its
    // standing label, not gain a conflicting self-row or duplicate
    // index rows. ONE job gates it (r17 — was three: count, the guard
    // read's residue collect, guarded count): the groupBy yields the
    // batch row count (emptiness gate + broadcast caps) AND the
    // arrivals' kb residue sets that prune the guard's label read,
    // while its scan materializes the arrivals0 checkpoint. The
    // anti-join itself stays lazy — the probe-hash collect below
    // materializes it inside the job it already pays for.
    val (nObs, arrivals) = last match {
      case None => (arrivals0.count(), arrivals0)
      case Some(up) =>
        val (mD, mS) = labelModsAt(spark, dir, up, lay)
        val (sets, n) =
          touchedSetsCount(arrivals0, xxhash64(col("k")), Seq(mD, mS))
        val a = arrivals0.join(
          labelsLatestFor(spark, dir, up, arrivals0.select("k"),
            bcast = n <= MaxBroadcastArrivals,
            sets = Some((sets(mD), sets(mS))))
            .select(col("v").as("k")), Seq("k"), "left_anti")
          .lazyCheckpoint()
        (n, a)
    }
    mark("arrivals")
    if (nObs == 0) {
      Components.dropCheckpoint(arrivals0)
      if (arrivals ne arrivals0) Components.dropCheckpoint(arrivals)
      commitNoOp(spark, dir, batchId, last.isDefined); return
    }
    // |arrivals| ≤ nObs: the guarded count job is gone (r17), so every
    // broadcast cap below gates on the measured UPPER BOUND — it can
    // only flip a broadcast to sort-merge, never the unsafe reverse.
    // A batch that is ALL re-observations (nObs > 0, arrivals empty)
    // no longer takes the no-op exit; it flows through as empty
    // relations — same marker-only commit, a few trivially-empty jobs,
    // in exchange for one job less on EVERY real fold.
    val bcast = nObs <= MaxBroadcastArrivals
    // one checkpointed expansion of the arrivals' deletion variants —
    // consumed by the probe-hash derivation, the index probe, and the
    // variant-index commit below (lazy: the probe-hash distinct+collect
    // — or, on the first batch, the edge count — materializes it)
    val dA = dels(arrivals).lazyCheckpoint()
    // probe hash families: the arrivals' variant hashes meet the
    // variant index (substitutions, arrival-shorter) and the base's
    // string hashes (arrival-longer); the arrivals' own string hashes
    // meet the variant index (arrival-shorter) and the base (exact
    // twins). One union drives both tables' touched-bucket predicates.
    val standing = last.map { up =>
      val probeHashes = dA.select(col("g_vh").as("h"))
        .union(arrivals.select(xxhash64(col("w")).as("h")))
      // ONE distinct+collect derives the touched-bucket sets for every
      // modulus of the base AND variant reads (they share this probe
      // hash family) — two jobs folded into one
      val snapB = snapInfo(spark, dir, BaseSnapPrefix, up)
      val m = touchedSetsMulti(probeHashes,
        Seq(lay.variants, lay.base) ++
          snapB.toSeq.flatMap(t => Seq(t._2, t._3)))
      val vSets = (m(lay.variants),
        snapB.map(t => m(t._3)).getOrElse(m(lay.variants)))
      val bSets = (m(lay.base),
        snapB.map(t => m(t._2)).getOrElse(m(lay.base)))
      (variantRows(spark, dir, up, None, Some(vSets)),
        baseRows(spark, dir, up, None, Some(bSets))
          .select(col("blk"), col("k"), col("w")))
    }
    mark("buckets")
    // arrivals0's blocks: for a guarded fold the probe-hash collect
    // above materialized the guarded relation, so the pre-guard rows
    // can go now (batch 0 keeps them — arrivals IS arrivals0 there)
    if (arrivals ne arrivals0) Components.dropCheckpoint(arrivals0)
    val newEdges = edgesIndexed(arrivals, standing.map(_._1),
      standing.map(_._2), bcast, delsA = Some(dA)).lazyCheckpoint()
    // ONE job (r17 — was an edge-count job plus the standing-label
    // read's own residue collect): materialize the edge checkpoint,
    // count the edges AND derive the endpoints' kb residue sets for
    // the contraction's label read (each edge row explodes to its two
    // endpoints, so the group-count total is exactly 2·|edges|).
    val (nNE, epSets) = last match {
      case None => (newEdges.count(), None)
      case Some(up) =>
        val (mD, mS) = labelModsAt(spark, dir, up, lay)
        val (m, twoN) = touchedSetsCount(
          newEdges.select(explode(array(col("ea"), col("eb"))).as("v")),
          xxhash64(col("v")), Seq(mD, mS))
        (twoN / 2, Some((m(mD), m(mS))))
    }
    mark("edges")
    // contract new edges through the endpoint labels (arrivals label
    // themselves; standing endpoints from one pruned key-restricted
    // read), CC over the contracted label graph only, then the DELTA:
    // arrivals plus touched-component members whose canonical moved
    // checkpointed relations the LAZY delta still depends on — a
    // localCheckpoint cannot recompute once its blocks are dropped, so
    // these drop only AFTER the commit writes materialize the delta
    var lateDrops = List.empty[DataFrame]
    val delta =
      if (nNE == 0) arrivals.select(col("k").as("v"), col("k").as("component"))
      else {
        val endpoints = newEdges.select(col("ea").as("v"))
          .unionAll(newEdges.select(col("eb").as("v"))).distinct()
        mark("  endpoints")
        val standingEnd = last.map(up =>
          labelsLatestFor(spark, dir, up, endpoints,
            bcast = 2 * nNE <= MaxBroadcastArrivals, sets = epSets))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(labelsSchema.fields.take(2))))
        // BROADCAST the endpoint labels under the measured bound
        // (|endLabels| ≤ 2·nNE + nObs, r17): both contraction joins
        // then leave the edge checkpoint in place instead of shuffling
        // it twice, and the pruned label-read subtree builds on the
        // driver instead of riding two sort-merge sides
        val endLabels0 = standingEnd
          .unionByName(arrivals.select(col("k").as("v"), col("k").as("component")))
        val endLabels = if (2 * nNE + nObs <= MaxBroadcastArrivals)
          broadcast(endLabels0) else endLabels0
        val contracted = newEdges
          .join(endLabels.select(col("v").as("ea"), col("component").as("la")), Seq("ea"))
          .join(endLabels.select(col("v").as("eb"), col("component").as("lb")), Seq("eb"))
          .filter(col("la") =!= col("lb"))
          .select(col("la").as("a"), col("lb").as("b")).distinct()
          .lazyCheckpoint()
        // ONE bounded take decides the driver fast path AND fetches the
        // contracted edges (r17 — was: count job, CC's own vertex+edge
        // takes, the CC result spill, a merged-count job, and the
        // candidate read's residue collect). The contracted label graph
        // is bounded by touched components — at ANY corpus size it
        // stays batch-shaped — but an over-cap graph falls back to the
        // distributed CC below, unchanged.
        val localRows = LocalGraph.takeUnder(
          contracted.select(col("a").cast("long"), col("b").cast("long")),
          Components.LocalCcMaxRows)
        val localEs = localRows.map(_.map(r => (r.getLong(0), r.getLong(1))))
        val localTouched = localEs.map(es =>
          (es.map(_._1) ++ es.map(_._2)).distinct)
        localEs match {
          case Some(es) if es.isEmpty =>
            Components.dropCheckpoint(contracted)
            arrivals.select(col("k").as("v"), col("k").as("component"))
          case Some(es) if localTouched.exists(
              _.length <= MaxBroadcastArrivals) =>
            mark("  contracted")
            // DRIVER contraction fold: union-find over the collected
            // label pairs; `merged` and `touched` become LocalRelations
            // (broadcast builds with no job), and the candidate read's
            // cb residue sets come from the driver rows ([[bucketOfLong]],
            // parity-pinned) instead of a residue job
            val touchedArr = localTouched.get
            import spark.implicits._
            val merged = Components.unionFindPairs(touchedArr, es).toSeq
              .toDF("component", "g_new")
            mark("  cc")
            val arrivalRows = arrivals.select(col("k").as("v"), col("k").as("component"))
              .join(broadcast(merged), Seq("component"), "left")
              .select(col("v"), coalesce(col("g_new"), col("component")).as("component"))
            val movedStanding = last.map { up =>
              val (cD, cS) = memberModsAt(spark, dir, up, lay)
              val mSets = (touchedArr.map(bucketOfLong(_, cD)).distinct.toSeq,
                touchedArr.map(bucketOfLong(_, cS)).distinct.toSeq)
              val cand = memberRows(spark, dir, up, None, Some(mSets))
                .join(broadcast(touchedArr.toSeq.toDF("component")),
                  Seq("component"), "left_semi")
                .select("v").distinct().lazyCheckpoint()
              lateDrops ::= cand
              // ONE job: candidate count (broadcast cap) + its kb
              // residue sets for the standing-label read (r17)
              val (lD, lS) = labelModsAt(spark, dir, up, lay)
              val (cm, nCand) =
                touchedSetsCount(cand, xxhash64(col("v")), Seq(lD, lS))
              labelsLatestFor(spark, dir, up, cand,
                  bcast = nCand <= MaxBroadcastArrivals,
                  sets = Some((cm(lD), cm(lS))))
                .join(broadcast(merged), Seq("component"))
                .filter(col("g_new") =!= col("component"))
                .select(col("v"), col("g_new").as("component"))
            }.getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(labelsSchema.fields.take(2))))
            mark("  moved")
            lateDrops ::= contracted
            // LAZY: the two label-delta commit writes below materialize
            // it — the dedicated read-back job is gone (r17)
            arrivalRows.unionByName(movedStanding).lazyCheckpoint()
          case _ =>
            // over-cap contracted graph (or over-cap touched set): the
            // unchanged distributed shape
            mark("  contracted")
            val nC = contracted.count()
            val nTouched = 2 * nC
            val touched = contracted.select(col("a").as("component"))
              .unionAll(contracted.select(col("b").as("component"))).distinct()
            val merged = Components.connectedComponents(contracted, touched)
              .select(col("v").as("component"), col("component").as("g_new"))
            mark("  cc")
            // broadcast-gated on nTouched (≥ |merged| = |touched|): the
            // dedicated merged-count job is gone (r17)
            def hM(df: DataFrame) =
              if (nTouched <= MaxBroadcastArrivals) broadcast(df) else df
            val arrivalRows = arrivals.select(col("k").as("v"), col("k").as("component"))
              .join(hM(merged), Seq("component"), "left")
              .select(col("v"), coalesce(col("g_new"), col("component")).as("component"))
            val movedStanding = last.map { up =>
              def hT(df: DataFrame) =
                if (nTouched <= MaxBroadcastArrivals) broadcast(df) else df
              val cand = memberRows(spark, dir, up,
                  Some(touched.select(xxhash64(col("component")).as("h"))))
                .join(hT(touched), Seq("component"), "left_semi")
                .select("v").distinct().lazyCheckpoint()
              lateDrops ::= cand
              val (lD, lS) = labelModsAt(spark, dir, up, lay)
              val (cm, nCand) =
                touchedSetsCount(cand, xxhash64(col("v")), Seq(lD, lS))
              labelsLatestFor(spark, dir, up, cand,
                  bcast = nCand <= MaxBroadcastArrivals,
                  sets = Some((cm(lD), cm(lS))))
                .join(hM(merged), Seq("component"))
                .filter(col("g_new") =!= col("component"))
                .select(col("v"), col("g_new").as("component"))
            }.getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(labelsSchema.fields.take(2))))
            mark("  moved")
            lateDrops ::= contracted
            arrivalRows.unionByName(movedStanding).lazyCheckpoint()
        }
      }
    mark("delta")
    // append-only commits: each batch overwrites exactly its own
    // partitions (replay-idempotent), marker creation is the commit
    // point — the four table writes are independent jobs over
    // checkpointed relations into four directories, overlapped
    // ([[inParallel]]); the marker lands only after ALL of them
    inParallel(Seq(
      () => writeBucketed(arrivals.withColumn("wb",
          pmod(xxhash64(col("w")), lit(lay.base)).cast("int")),
        baseDir(dir), batchId, "wb"),
      () => writeBucketed(dA.withColumn("vb",
          pmod(col("g_vh"), lit(lay.variants)).cast("int")),
        variantsDir(dir), batchId, "vb")) ++
      labelDeltaWrites(delta, dir, batchId, lay.labels, lay.members))
    touchMarker(spark, dir, s"$MarkerPrefix$batchId")
    mark("commit")
    Components.dropCheckpoint(arrivals)
    Components.dropCheckpoint(dA)
    Components.dropCheckpoint(newEdges)
    Components.dropCheckpoint(delta)
    lateDrops.foreach(Components.dropCheckpoint)
  }

  /** Right-to-be-forgotten on the ER artifact (the [[graft.functions
    * .TextIndex.forget]] / q164 compliance treatment for the
    * record-linkage tier): every record in `ids` disappears from the
    * base AND from the served assignment, and — the part plain
    * deletion gets wrong — the forgotten records' CLUSTERS are
    * recomputed over their remaining members, because removing a
    * vertex can both move a cluster's canonical id (the min custkey
    * may be the forgotten one) and SPLIT the cluster (the forgotten
    * record may be the only ED ≤ 1 bridge between two name groups).
    *
    * Compute is bounded by the forgotten records' components, never
    * the corpus: membership comes from the cb-pruned members read, the
    * re-match runs the FastSS kernel over member rows only, and the
    * commits are the same append-only discipline as [[maintainBatch]]
    * — one label-delta partition (new member assignments + NULL
    * tombstones) plus a dynamic-partition rewrite of exactly the
    * (batch, bucket) base leafs holding a forgotten row and the
    * touched batches' variant partitions (a leaf rewritten to empty is
    * dropped). The one O(standing) term left on this path is the base
    * SCAN locating the forgotten rows — the base is bucketed by name
    * hash, and a forget arrives keyed by custkey; compliance deletes
    * are orders rarer than arrivals, and a custkey-keyed secondary
    * index would buy that scan back if they weren't. Writes
    * localCheckpoint first: they read the same files they replace, and
    * cutting the lineage is what makes the self-overwrite safe.
    *
    * `batchId` continues the table's single monotone commit sequence
    * (same replay guard as maintainBatch) and is durably consumed even
    * when the forget is a no-op (empty or absent ids still commit a
    * marker); with a live stream, route forgets through the stream or
    * pause it — the usual serialize-arrivals-per-table contract.
    * Idempotent under replay AND under crash-between-writes: the no-op
    * test is membership in the standing LABELS (still present until
    * the delta commits), so a retry after a completed base rewrite
    * still commits the label delta. A forgotten id later RE-ARRIVING
    * via maintainBatch is a genuinely new record (tombstones drop out
    * of the standing read, so it self-labels and matches fresh; its
    * stale variant rows can only produce edges to unlabeled vertices,
    * which the contraction drops). */
  def forget(spark: SparkSession, dir: String, ids: DataFrame,
             batchId: Long): Unit = {
    val profile = sys.env.contains("SPARK_GRAFT_ER_PROFILE")
    var tLast = System.nanoTime()
    def mark(phase: String): Unit = if (profile) {
      val now = System.nanoTime()
      println(f"[er-forget] $phase%-12s ${(now - tLast) / 1e9}%.2fs")
      tLast = now
    }
    val last = lastCommitted(spark, dir).getOrElse {
      commitNoOp(spark, dir, batchId, hasCommits = false); return
    }
    if (last >= batchId) return
    val lay = layoutOf(spark, dir)
    // checkpoint the forget set once: it feeds four joins (locate,
    // survivors, remaining, member relation) whose broadcast builds
    // would each re-execute the ids plan. ONE job gates it (r17 — was
    // a count plus the locate read's residue collect): the groupBy
    // yields the forget-set count (emptiness gate + broadcast caps)
    // AND its kb residue sets for the standing-label locate read.
    val del = ids.select(col(ids.columns.head).cast("long").as("k")).distinct()
      .lazyCheckpoint()
    val (lD, lS) = labelModsAt(spark, dir, last, lay)
    val (delM, nDel) = touchedSetsCount(del, xxhash64(col("k")), Seq(lD, lS))
    if (nDel == 0) {
      Components.dropCheckpoint(del)
      commitNoOp(spark, dir, batchId, hasCommits = true); return
    }
    val affectedIds = labelsLatestFor(spark, dir, last,
        del.select(col("k").as("v")), bcast = nDel <= MaxBroadcastArrivals,
        sets = Some((delM(lD), delM(lS))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE job again (r17 — was the touched count plus the member
    // read's residue collect): touched-component count (emptiness gate
    // + broadcast caps) AND the cb residue sets for the member read
    val affected = affectedIds.select(col("component")).distinct()
      .lazyCheckpoint()
    val (cD, cS) = memberModsAt(spark, dir, last, lay)
    val (affM, nAffected) =
      touchedSetsCount(affected, xxhash64(col("component")), Seq(cD, cS))
    mark("locate")
    if (nAffected == 0) {
      Components.dropCheckpoint(affected)
      affectedIds.unpersist()
      Components.dropCheckpoint(del)
      commitNoOp(spark, dir, batchId, hasCommits = true); return
    }
    def hDel(df: DataFrame) =
      if (nDel <= MaxBroadcastArrivals) broadcast(df) else df
    val base0 = baseRows(spark, dir, last, None)
    // (batch, name-bucket) leafs holding a forgotten row, and the full
    // surviving rows of the touched BATCHES (variant partitions are
    // re-derived per batch: variant buckets have no alignment with the
    // forgotten rows' name buckets, so the batch is the consistent
    // rewrite unit for the index)
    // lazy: the touched-leaf collect right below materializes it
    val touchedLeafs = base0.join(hDel(del), Seq("k"), "left_semi")
      .select(col(BatchCol), col("wb")).distinct().lazyCheckpoint()
    // ONE collect serves the touched-leaf set (emptied-leaf math below)
    // AND the touched BATCH ids, which are bounded by the commit count
    // and pushed as an `isin` on the PARTITION column, so the survivor
    // / variant reads prune at the directory listing rather than
    // scanning every batch partition (r16)
    val touchedLeafSet = touchedLeafs
      .select(col(BatchCol).cast("long"), col("wb").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val touchedBatchIds = touchedLeafSet.map(_._1).toSeq
    // lazy: both rewrite relations are materialized by the leafSet
    // collects below — which run BEFORE any file mutation, so by write
    // time they read their own blocks, not the directories they
    // replace (the self-overwrite contract, unchanged)
    val survivors = base0.filter(col(BatchCol).isin(touchedBatchIds: _*))
      .join(hDel(del), Seq("k"), "left_anti")
      .lazyCheckpoint()
    val rewritten = survivors
      .join(broadcast(touchedLeafs), Seq(BatchCol, "wb"), "left_semi")
      .lazyCheckpoint()
    mark("survivors")
    // clusters touching a forgotten id (`affected`, computed with the
    // gate above): relabel their REMAINING members from scratch —
    // re-match (FastSS over members only) + CC
    // remaining members and their re-match edges are consumed by the
    // emptiness probes AND the CC/delta below — localCheckpoint so the
    // FastSS chain runs once, not once per action (measured: the
    // probes re-running the whole chain tripled the forget pass).
    // [[membersOf]] is inlined with its candidate set CHECKPOINTED:
    // labelsLatestFor executes its keys relation twice (residue
    // collect + fold join), so the un-checkpointed candidate plan ran
    // twice per forget (r16, same fix as the maintain fold).
    def hAff(df: DataFrame) =
      if (nAffected <= MaxBroadcastArrivals) broadcast(df) else df
    val cand = memberRows(spark, dir, last, None,
        Some((affM(cD), affM(cS))))
      .join(hAff(affected), Seq("component"), "left_semi")
      .select("v").distinct().lazyCheckpoint()
    // ONE job: candidate count + kb residue sets for the label read
    val (candM, nCand) = touchedSetsCount(cand, xxhash64(col("v")), Seq(lD, lS))
    val remaining = labelsLatestFor(spark, dir, last, cand,
        bcast = nCand <= MaxBroadcastArrivals,
        sets = Some((candM(lD), candM(lS))))
      .join(hAff(affected), Seq("component"), "left_semi")
      .join(hDel(del.select(col("k").as("v"))), Seq("v"), "left_anti")
      .select(col("v"))
      .lazyCheckpoint()
    val nRemaining = remaining.count()
    Components.dropCheckpoint(cand)
    mark("members")
    // the member relation feeds edgesTouching through FIVE plan
    // references (both sides of three joins) — checkpoint it so the
    // base scan + semi-joins run once, not per reference (r16)
    val memRel = base0.select(col("blk"), col("k"), col("w"))
      .join(if (nRemaining <= MaxBroadcastArrivals)
          broadcast(remaining.select(col("v").as("k")))
        else remaining.select(col("v").as("k")), Seq("k"), "left_semi")
      .join(hDel(del), Seq("k"), "left_anti")
      .lazyCheckpoint()
    val edges = edgesTouching(memRel, memRel,
      bcast = nRemaining <= MaxBroadcastArrivals).lazyCheckpoint()
    // ONE count materializes the edge checkpoint (memRel's blocks land
    // inside the same job) and doubles as the former isEmpty probe
    val nEdges = edges.count()
    Components.dropCheckpoint(memRel)
    mark("rematch")
    val newLabels =
      if (nRemaining == 0 || nEdges == 0)
        remaining.select(col("v"), col("v").as("component"))
      else Components.connectedComponents(edges, remaining)
    val tombstones = affectedIds.select(col("v"),
      lit(null).cast("long").as("component"))
    val delta = newLabels.select(col("v"), col("component").cast("long"))
      .unionByName(tombstones)
      .localCheckpoint()
    mark("cc-delta")
    // leafs whose every row was forgotten are absent from the rewrite
    // (dynamic overwrite can't emit an empty partition) and must be
    // dropped; COLLECTED (≤ touched leafs — bounded by the forget set
    // × B) BEFORE any file mutation, because the relations' lineage
    // reads the pre-rewrite files. Variant partitions: the re-derived
    // index of the touched batches may vacate buckets the forgotten
    // rows occupied — stale = existing leafs − rewritten leafs.
    def leafSet(df: DataFrame, bCol: String): Set[(Long, Int)] =
      df.select(col(BatchCol).cast("long"), col(bCol).cast("int"))
        .distinct().collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val emptiedBase = touchedLeafSet -- leafSet(rewritten, "wb")
    // a touched batch that IS the base snapshot keeps the snapshot's
    // own variant modulus; every delta batch re-buckets under the
    // layout's
    val snapV = snapInfo(spark, dir, BaseSnapPrefix, last)
    val varRewrite = dels(survivors.select("blk", "k", "w", BatchCol),
        Seq(BatchCol))
      .withColumn("vb", pmod(col("g_vh"),
        when(col(BatchCol) === lit(snapV.map(_._1).getOrElse(Long.MinValue)),
          lit(snapV.map(_._3).getOrElse(lay.variants)))
          .otherwise(lit(lay.variants))).cast("int"))
      .lazyCheckpoint() // materialized by its leafSet collect below
    // existing variant leafs of the touched batches come from a DRIVER
    // directory listing, not a parquet scan: a leaf IS a partition
    // directory (`_er_batch=<b>/vb=<v>`), writers only materialize
    // non-empty leafs and deletes remove the dir, so dirs-on-disk ≡
    // leafs-with-rows — the one remaining full variant-partition read
    // on this path becomes a per-batch listStatus (r16)
    val fcV = fc(spark, dir)
    val existingVar = touchedBatchIds.flatMap { b =>
      val p = new Path(variantsDir(dir), s"$BatchCol=$b")
      if (!fcV.util.exists(p)) Seq.empty[(Long, Int)]
      else fcV.util.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("vb="))
        .map { n =>
          // a foreign leaf dir (e.g. vb=__HIVE_DEFAULT_PARTITION__ from
          // an external writer) must degrade loudly with the dir named,
          // not as a bare NumberFormatException (r16 advice)
          val v = scala.util.Try(n.stripPrefix("vb=").toInt).getOrElse(
            throw new IllegalStateException(
              s"IncrementalEr.forget: unexpected variant leaf dir '$n' " +
                s"under ${p} — not written by this table's writers"))
          (b, v)
        }
    }.toSet
    val staleVar = existingVar -- leafSet(varRewrite, "vb")
    mark("leafsets")
    // relations are materialized off the files (localCheckpoint), so
    // the two rewrites read blocks, not the directories they replace —
    // independent jobs, overlapped; both complete before the label
    // delta, preserving the crash-before-delta replay story (a retry
    // recomputes both rewrites from the intact base read)
    inParallel(Seq(
      () => rewritten.repartition(col("wb"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BatchCol, "wb").parquet(baseDir(dir)),
      () => varRewrite.repartition(col("vb"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BatchCol, "vb").parquet(variantsDir(dir))))
    val ctx = fc(spark, dir)
    emptiedBase.foreach { case (b, w) =>
      val p = new Path(baseDir(dir), s"$BatchCol=$b/wb=$w")
      if (ctx.util.exists(p)) ctx.delete(p, true)
    }
    staleVar.foreach { case (b, v) =>
      val p = new Path(variantsDir(dir), s"$BatchCol=$b/vb=$v")
      if (ctx.util.exists(p)) ctx.delete(p, true)
    }
    // a batch partition whose every bucket leaf was dropped is gone
    // wholesale (no empty `_er_batch=` husk dirs — partition discovery
    // and the append-only audit trail both key on the dirs that exist)
    (emptiedBase.map(t => (baseDir(dir), t._1)) ++
        staleVar.map(t => (variantsDir(dir), t._1))).foreach { case (t, b) =>
      val p = new Path(t, s"$BatchCol=$b")
      if (ctx.util.exists(p) &&
          !ctx.util.listStatus(p).exists(_.isDirectory))
        ctx.delete(p, true)
    }
    // the manual directory drops bypass the writer's own cache
    // refresh — invalidate the listing so later scans re-list
    spark.catalog.refreshByPath(baseDir(dir))
    spark.catalog.refreshByPath(variantsDir(dir))
    mark("rewrites")
    writeLabelDelta(delta, dir, batchId, lay.labels, lay.members)
    touchMarker(spark, dir, s"$MarkerPrefix$batchId")
    mark("labels")
    Components.dropCheckpoint(del)
    Components.dropCheckpoint(touchedLeafs)
    Components.dropCheckpoint(survivors)
    Components.dropCheckpoint(rewritten)
    Components.dropCheckpoint(varRewrite)
    Components.dropCheckpoint(delta)
    Components.dropCheckpoint(affected)
    Components.dropCheckpoint(remaining)
    Components.dropCheckpoint(edges)
    affectedIds.unpersist()
  }

  /** Fold the committed label deltas into ONE snapshot generation (the
    * OPTIMIZE / rewrite discipline of [[graft.pipeline.AtomicTable
    * .compact]] applied to the merge-on-read labels): the current
    * assignment (latest non-tombstoned row per vertex) is written as
    * the partition `_er_batch=<batchId>` of BOTH label copies and
    * flagged by an `_er_snapshot_<batchId>_<bL>_<bM>` marker; every
    * subsequent read prunes label partitions below the snapshot floor,
    * so serving reads O(assignments + deltas-since-compaction) instead
    * of the full delta history. `batchId` consumes the next id in the
    * table's monotone commit sequence, like any other commit.
    * `newLabelBuckets` re-buckets the snapshot generation (grow B with
    * standing size — bucket SIZE, not bucket count, is the stable
    * layout constant); delta commits keep the layout's small constant
    * counts, and reads prune each tier under its own modulus.
    *
    * Safe under concurrent readers: a reader that resolved an OLDER
    * commit marker keeps reading the pre-snapshot partitions (still on
    * disk); a reader resolving this marker starts at the snapshot.
    * Pre-snapshot partitions are inert from the new floor onward —
    * [[vacuumLabels]] reclaims them once in-flight readers drain.
    * `resolved()` is bit-equal before/after (ErCompactSpec pins it):
    * the snapshot rows carry the highest batch id, so the
    * latest-per-vertex fold picks exactly them, and tombstoned
    * vertices are simply absent. */
  def compact(spark: SparkSession, dir: String, batchId: Long,
              newLabelBuckets: Option[Int] = None): Unit = {
    val last = lastCommitted(spark, dir).getOrElse(return)
    if (last >= batchId) return
    val lay = layoutOf(spark, dir)
    val (bL, bM) = newLabelBuckets.map(b => (b, b))
      .getOrElse((lay.labels, lay.members))
    val snapshot = currentLabels(spark, dir, last).localCheckpoint()
    writeLabelDelta(snapshot, dir, batchId, bL, bM)
    touchMarker(spark, dir, s"$SnapshotPrefix${batchId}_${bL}_$bM")
    touchMarker(spark, dir, s"$MarkerPrefix$batchId")
    Components.dropCheckpoint(snapshot)
  }

  /** Fold the accumulated base + variant delta partitions into ONE
    * snapshot generation — [[compact]]'s treatment for the record
    * store and its index, closing the streaming small-file accretion
    * (one directory per commit forever). The live base rows are
    * rewritten as `_er_batch=<batchId>` and the variant index is
    * RE-DERIVED from them (equal by construction to the accumulated
    * per-batch expansions minus forgets), flagged by
    * `_er_basesnap_<batchId>_<bB>_<bV>`; base/variant reads floor
    * there.
    *
    * Re-bucketing: pass `newBuckets` (base, variants) explicitly, or
    * `targetRowsPerBucket` to size `B' = live rows / target` — the
    * bucket-size-constant growth law that keeps a fixed trigger's
    * probe I/O flat as standing grows. Delta commits keep the layout's
    * small constant counts; reads prune each tier under its own
    * modulus. Pre-snapshot partitions serve in-flight and as-of
    * readers until [[vacuumBase]]. */
  def compactBase(spark: SparkSession, dir: String, batchId: Long,
                  newBuckets: Option[(Int, Int)] = None,
                  targetRowsPerBucket: Option[Long] = None): Unit = {
    val last = lastCommitted(spark, dir).getOrElse(return)
    if (last >= batchId) return
    val lay = layoutOf(spark, dir)
    val live = baseRows(spark, dir, last, None)
      .select(col("blk"), col("k"), col("w")).localCheckpoint()
    val (bB, bV) = newBuckets.orElse(targetRowsPerBucket.map { t =>
      val nBase = live.count()
      val nVar = variantRows(spark, dir, last, None).count()
      def size(n: Long) =
        math.min(65536L, math.max(16L, (n + t - 1) / t)).toInt
      (size(nBase), size(nVar))
    }).getOrElse((lay.base, lay.variants))
    inParallel(Seq(
      () => writeBucketed(live.withColumn("wb",
          pmod(xxhash64(col("w")), lit(bB)).cast("int")),
        baseDir(dir), batchId, "wb"),
      () => writeBucketed(dels(live).withColumn("vb",
          pmod(col("g_vh"), lit(bV)).cast("int")),
        variantsDir(dir), batchId, "vb")))
    touchMarker(spark, dir, s"$BaseSnapPrefix${batchId}_${bB}_$bV")
    touchMarker(spark, dir, s"$MarkerPrefix$batchId")
    Components.dropCheckpoint(live)
  }

  /** Drop label/member partitions BELOW the current label snapshot
    * floor — the [[graft.pipeline.AtomicTable.vacuum]] janitor for the
    * ER artifact. Superseded partitions are only read by readers
    * holding a pre-compaction marker (including [[resolvedAsOf]] /
    * [[labelDiff]] below the floor); like AtomicTable's vacuum, the
    * caller serializes this against such in-flight readers. */
  def vacuumLabels(spark: SparkSession, dir: String): Unit = {
    val last = lastCommitted(spark, dir).getOrElse(return)
    val floor = snapInfo(spark, dir, SnapshotPrefix, last).map(_._1)
      .getOrElse(return)
    dropBelow(spark, Seq(labelsDir(dir), membersDir(dir)), floor)
  }

  /** Drop base/variant partitions below the current base snapshot
    * floor ([[compactBase]]'s janitor; same in-flight-reader contract
    * as [[vacuumLabels]]). */
  def vacuumBase(spark: SparkSession, dir: String): Unit = {
    val last = lastCommitted(spark, dir).getOrElse(return)
    val floor = snapInfo(spark, dir, BaseSnapPrefix, last).map(_._1)
      .getOrElse(return)
    dropBelow(spark, Seq(baseDir(dir), variantsDir(dir)), floor)
  }

  private def dropBelow(spark: SparkSession, dirs: Seq[String],
                        floor: Long): Unit =
    dirs.foreach { d =>
      val ctx = fc(spark, d)
      val p = new Path(d)
      if (ctx.util.exists(p)) {
        ctx.util.listStatus(p).toSeq.map(_.getPath)
          .filter { q =>
            val n = q.getName
            n.startsWith(s"$BatchCol=") &&
              n.stripPrefix(s"$BatchCol=").toLong < floor
          }
          .foreach(q => ctx.delete(q, true))
        spark.catalog.refreshByPath(d)
      }
    }

  /** Current canonical assignment in q228's output shape:
    * (c_custkey, canonical_id, cluster_size) — served base ⟕ delta
    * (latest committed delta row per vertex since the snapshot floor). */
  def resolved(spark: SparkSession, dir: String): DataFrame = {
    val up = lastCommitted(spark, dir).getOrElse(
      throw new IllegalStateException(s"IncrementalEr at $dir has no committed batch"))
    resolvedAsOf(spark, dir, up)
  }

  /** TIME TRAVEL: the served assignment AS OF commit `asOf` — the
    * state any reader that resolved marker `asOf` saw. A partition
    * filter over the same commit sequence (label partitions ≤ asOf,
    * floored at the latest snapshot ≤ asOf), so reading an old version
    * costs what serving cost AT that version. Available back to the
    * [[vacuumLabels]] horizon — vacuum reclaims superseded partitions
    * and with them the versions they served (the AtomicTable
    * readVersion/vacuum contract, q88). */
  def resolvedAsOf(spark: SparkSession, dir: String, asOf: Long): DataFrame = {
    require(markerNames(spark, dir, MarkerPrefix).map(_.toLong).exists(_ <= asOf),
      s"IncrementalEr at $dir has no commit at or below $asOf")
    currentLabels(spark, dir, asOf)
      .select(col("v").as("c_custkey"), col("component").as("canonical_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("canonical_id")).cast("long"))
  }

  /** AUDIT DIFF: per-vertex assignment changes between commits `from`
    * (exclusive) and `to` (inclusive) — (c_custkey, old_canonical,
    * new_canonical), where a NULL old is a new arrival and a NULL new
    * is a forgotten record. Touched vertices come from the delta
    * partitions in (from, to] (snapshot partitions excluded — a
    * compaction rewrites every assignment without changing any), then
    * one pruned key-restricted fold at each end; cost is O(deltas in
    * the window + touched keys), never a full-history diff. */
  def labelDiff(spark: SparkSession, dir: String, from: Long,
                to: Long): DataFrame = {
    require(from <= to, s"labelDiff: from $from > to $to")
    val snapIds = markerNames(spark, dir, SnapshotPrefix)
      .map(_.split('_').head.toLong).toSet
    val deltaParts = readOrEmpty(spark, labelsDir(dir), labelsSchema)
      .filter(col(BatchCol) > from && col(BatchCol) <= to &&
        !col(BatchCol).isin(snapIds.toSeq: _*))
    // not checkpointed: the returned frame is lazy and must stay
    // evaluable after this call returns; the touched set is a
    // partition-filtered distinct, cheap to re-derive per action
    val touched = deltaParts.select("v").distinct()
    val nTouched = touched.count()
    val bcast = nTouched <= MaxBroadcastArrivals
    def at(upTo: Long, outCol: String): DataFrame =
      if (!markerNames(spark, dir, MarkerPrefix).map(_.toLong).exists(_ <= upTo))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("v", LongType),
            StructField(outCol, LongType))))
      else labelsLatestFor(spark, dir, upTo, touched, bcast)
        .select(col("v"), col("component").as(outCol))
    at(from, "old_canonical")
      .join(at(to, "new_canonical"), Seq("v"), "full_outer")
      .filter(!(col("old_canonical") <=> col("new_canonical")))
      .select(col("v").as("c_custkey"), col("old_canonical"),
        col("new_canonical"))
  }
}
