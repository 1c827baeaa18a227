package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** Shared gate for the DRIVER-LOCAL fast paths of the graph operators:
  * [[Components]] (union-find), the [[IncrementalEr]] contracted-graph
  * fold, [[Bfs]], [[Sssp]], [[KCore]] and [[PageRank]]. Each distributed
  * round of these loops is a join + aggregate (+ lineage-truncating
  * spill) JOB: several hundred ms of fixed driver/scheduling cost even
  * when the graph is a few thousand rows, so `rounds` iterations over
  * a small graph are almost pure overhead. A graph whose MEASURED size
  * fits under the cap is instead solved on the driver in one bounded
  * collect plus one scratch-parquet spill; anything larger takes the
  * operator's distributed loop. Each local side returns the same rows
  * as its distributed side — pinned per operator by spec (fixed +
  * randomized graphs, local vs cap-0).
  *
  * The gate is a bounded take(cap + 1): ONE incremental pass that
  * decides AND fetches — never count-then-collect, which would execute
  * an expensive edge-generation plan once for the gate and again for
  * the collect. An over-cap graph pays one discarded partial scan and
  * falls through. One cap for every operator, [[MaxRows]]: default 1 M
  * rows (vertices + edges — tens of MB of collected rows, a bounded
  * driver-memory load on any cluster), env
  * `SPARK_GRAFT_GRAPH_LOCAL_MAX` (0 disables) for cluster retuning — the
  * same measured-not-estimated discipline as the broadcast caps.
  */
private[graft] object LocalGraph {

  /** Parse an env cap loudly (a malformed value must name the variable,
    * not surface as ExceptionInInitializerError at first operator use)
    * and clamp oversized values to Int.MaxValue - 1 — the scaladoc
    * contract is that only 0 disables the fast path. */
  private[graft] def envCap(name: String, default: Long): Long =
    sys.env.get(name).map { s =>
      val v = try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be a long row count, got '$s'")
      }
      math.min(v, Int.MaxValue - 1L)
    }.getOrElse(default)

  val MaxRows: Long = envCap("SPARK_GRAFT_GRAPH_LOCAL_MAX", 1000000L)

  /** Some(all rows) iff `df` has at most `cap` rows — one incremental
    * take both decides the gate and fetches the data. None for a
    * non-positive cap (fast path disabled) or an over-cap relation.
    * Right when `df` is EXPENSIVE to execute (the PageRank edge plan —
    * a rare-gram self-join): the single pass never runs it twice. The
    * flip side is that an over-cap relation ships cap rows to the
    * driver before discarding them (measured: +3.5 s on q190's 2.4 M
    * staged edges) — use [[collectUnder]] when re-executing `df` is
    * known cheap. */
  def takeUnder(df: DataFrame, cap0: Long): Option[Array[Row]] =
    if (cap0 <= 0) None else takeAtMost(df, cap0)

  /** [[takeUnder]] for a whole graph: Some((vertex rows, edge rows))
    * iff cap > 0 and |V| + |E| ≤ cap. The vertex take runs first and the
    * edges get what is left, so a graph whose vertices fill the cap
    * exactly is still local when it has no edges. */
  def takeGraphUnder(vertices: DataFrame, edges: DataFrame,
                     cap: Long): Option[(Array[Row], Array[Row])] =
    for {
      vRows <- takeUnder(vertices, cap)
      eRows <- takeAtMost(edges, cap - vRows.length)
    } yield (vRows, eRows)

  /** Some(all rows) iff `df` has at most `cap` ≥ 0 rows. */
  private def takeAtMost(df: DataFrame, cap0: Long): Option[Array[Row]] = {
    val cap = math.min(cap0, Int.MaxValue - 1L).toInt
    val rows = df.take(cap + 1)
    if (rows.length <= cap) Some(rows) else None
  }

  /** [[takeUnder]] for relations that are CHEAP to execute twice (the
    * Bfs/Sssp/KCore call sites — their edge relations arrive staged to
    * scratch parquet by the callers' spillParquet contract): the gate
    * is a plain COUNT, which scans zero columns and ships zero rows
    * (an over-cap graph pays ~a parquet-footer pass, not a cap-row
    * driver collect — and NOT a limit(cap).count(), whose global-limit
    * shape funnels up to cap rows through one partition), and only an
    * under-cap relation is collected. */
  def collectUnder(df: DataFrame, cap0: Long): Option[Array[Row]] =
    if (cap0 <= 0) None else collectAtMost(df, cap0)

  /** The edge step of a graph gate: Some(all rows) iff `df` has at most
    * `cap` ≥ 0 rows, by count then collect. Given the cap left after
    * the vertex step, the gate is [[takeGraphUnder]]'s rule (local iff
    * cap > 0 and |V| + |E| ≤ cap), so a graph whose vertices fill the
    * cap is still local when it has no edges. */
  def collectAtMost(df: DataFrame, cap0: Long): Option[Array[Row]] = {
    val cap = math.min(cap0, Int.MaxValue - 1L)
    if (df.count() > cap) None else Some(df.collect())
  }

  /** Whether a driver-local side may key its maps on boxed ids: the
    * vertex column and both edge endpoint columns share one type. The
    * distributed joins coerce numerics and a boxed map does not, so a
    * type mismatch must take the distributed side, not silently
    * diverge from it. */
  def sameIdType(vertices: DataFrame, edges: DataFrame): Boolean = {
    val t = vertices.schema.head.dataType
    val es = edges.schema
    t == es(0).dataType && t == es(1).dataType
  }
}
