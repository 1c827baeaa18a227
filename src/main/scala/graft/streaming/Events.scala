package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

import graft.pipeline.TempDirs

/** Structured-Streaming pipeline re-expressing the reference's Kafka →
  * bronze / serving-state flow (/root/reference/scripts/spark_jobs/
  * streaming_flow.py).
  *
  * The plan fragments are pure `DataFrame => DataFrame` so the same
  * code runs under MemoryStream in tests and a Kafka source in
  * production — the source/sink wiring is the only difference
  * (SURVEY §2.9: same parse chain, processing-time partitions, append
  * output mode, per-query checkpoints).
  */
object Events {

  /** Per-event-type schemas (streaming_flow.py:42-65). Note the
    * reference's deliberate asymmetry: streaming user_id is a STRING
    * (anonymous_NNNN page views), timestamp stays an unparsed STRING. */
  private val base = Seq(
    StructField("user_id", StringType),
    StructField("timestamp", StringType))

  val eventSchemas: Map[String, StructType] = Map(
    "page_view" -> StructType(base :+ StructField("product_id", StringType)),
    "add_to_cart" -> StructType(base ++ Seq(
      StructField("product_id", StringType),
      StructField("quantity", IntegerType))),
    "purchase" -> StructType(base ++ Seq(
      StructField("order_id", StringType),
      StructField("product_id", StringType),
      StructField("quantity", IntegerType),
      StructField("price", DoubleType))),
    "review" -> StructType(base ++ Seq(
      StructField("product_id", StringType),
      StructField("rating", IntegerType))))

  /** P2 + from_json + P4 + P7 + P6 — the whole parse chain
    * (streaming_flow.py:188-197): cast Kafka binary value to string,
    * permissive JSON parse (malformed ⇒ null fields), flatten, tag the
    * event type, derive processing-time partition columns. The clock
    * column is injectable so tests pin the late-data behavior: an event
    * with an old `timestamp` string still lands in TODAY's partition.
    */
  def parse(kafkaShaped: DataFrame, etype: String,
            clock: Column = current_timestamp()): DataFrame =
    kafkaShaped
      .selectExpr("CAST(value AS STRING) AS json_str")
      .select(from_json(col("json_str"), eventSchemas(etype)).as("data"))
      .select(col("data.*"))
      .withColumn("event_type", lit(etype))
      .withColumn("year", year(clock))
      .withColumn("month", month(clock))
      .withColumn("day", dayofmonth(clock))

  /** Null-guard applied before serving-state updates
    * (streaming_flow.py:215). */
  def guarded(parsed: DataFrame): DataFrame =
    parsed.filter(col("user_id").isNotNull && col("product_id").isNotNull)

  /** Dead-letter variant of the parse chain: the reference silently
    * keeps malformed JSON as all-null rows (permissive `from_json`);
    * this splits instead — `good` rows parsed, `bad` rows carrying the
    * raw payload for a quarantine sink. Split on user_id nullability:
    * every event schema requires it, so a null user_id means the JSON
    * didn't parse (or failed the same guard the reference applies).
    */
  def parseWithDeadLetter(kafkaShaped: DataFrame, etype: String,
                          clock: Column = current_timestamp()): (DataFrame, DataFrame) = {
    val withRaw = kafkaShaped
      .selectExpr("CAST(value AS STRING) AS json_str")
      .select(col("json_str"),
        from_json(col("json_str"), eventSchemas(etype)).as("data"))
    val good = withRaw.filter(col("data.user_id").isNotNull)
      .select(col("data.*"))
      .withColumn("event_type", lit(etype))
      .withColumn("year", year(clock))
      .withColumn("month", month(clock))
      .withColumn("day", dayofmonth(clock))
    val bad = withRaw.filter(col("data.user_id").isNull)
      .select(col("json_str").as("raw"), lit(etype).as("event_type"),
        clock.cast("date").as("received_date"))
    (good, bad)
  }

  /** Event-time tumbling-window aggregation with a watermark — the
    * optional extension SURVEY §2.9 plans beyond the reference's
    * processing-time-only surface. Late rows beyond the watermark are
    * dropped; with Append mode a window emits once it is closed.
    */
  def windowedCounts(events: DataFrame, tsCol: String,
                     windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Stream-stream inner join with event-time interval bounds: each
    * left row matched to right rows of the same key whose time falls in
    * [leftTime, leftTime + window]. BOTH sides are watermarked and the
    * join condition bounds both times, so each side's buffered state is
    * limited to watermark + window — the shape that keeps a
    * stream-stream join runnable forever (an unbounded-condition join
    * would buffer both streams in full). */
  def intervalJoin(left: DataFrame, leftTime: String, leftKey: String,
                   right: DataFrame, rightTime: String, rightKey: String,
                   window: String, horizon: String): DataFrame =
    left.withWatermark(leftTime, horizon)
      .join(right.withWatermark(rightTime, horizon),
        expr(s"$leftKey = $rightKey AND $rightTime >= $leftTime AND " +
          s"$rightTime <= $leftTime + interval $window"),
        "inner")

  /** Streaming exact dedup with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps each key only until the
    * watermark passes it, so dedup state is O(events within the
    * watermark horizon). A plain streaming `dropDuplicates` would
    * accrete every key ever seen — unbounded state, the q15-at-stream
    * scale trap. Duplicates farther apart than the horizon are NOT
    * caught (the explicit trade; batch q15 is the exact form). */
  def dedupWithinWatermark(events: DataFrame, idCol: String, tsCol: String,
                           horizon: String): DataFrame =
    events.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark(idCol)

  /** K5 — streaming parquet sink with checkpoint + processing-time
    * partitions (streaming_flow.py:200-208); exactly-once via the file
    * sink log. */
  def parquetSink(parsed: DataFrame, path: String, checkpoint: String) =
    parsed.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day")
      .outputMode(OutputMode.Append)

  /** Stream-static enrich: join each micro-batch against a (small)
    * static dimension, broadcast so the stream side never shuffles. The
    * static side is re-read per micro-batch by Structured Streaming's
    * contract — a dim updated between batches is picked up without
    * restarting the query (the standard slowly-changing-dim serving
    * pattern; the reference does this lookup through Redis instead). */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  // ------------------------------------------- the 4-topic topology (§2.9)

  /** The reference's event-type fan-out (streaming_flow.py:174). */
  val EventTypes: Seq[String] = Seq("page_view", "add_to_cart", "purchase", "review")

  /** Types that additionally feed the realtime sinks
    * (streaming_flow.py:211). */
  val RealtimeTypes: Set[String] = Set("page_view", "add_to_cart")

  /** The reference's FULL streaming topology (streaming_flow.py:170-238):
    * per event type one bronze parquet sink, and for the realtime types
    * two more — the serving-state foreachBatch sink and the rerank
    * payload sink — every query with its OWN checkpoint directory, all
    * running concurrently under `spark.streams.awaitAnyTermination()`.
    *
    * Queries are fully independent: stopping (or crashing) one leaves
    * the others progressing, and the stopped query resumes from its own
    * checkpoint — `StreamingSpec` pins exactly that. `sources` maps
    * event type → Kafka-shaped frame (`value` column): MemoryStream in
    * tests, `kafkaSource(spark, brokers, s"events.$etype")` in
    * production. The rerank sink writes the Kafka payload shape
    * (key/value via `toKafkaPayload`) to parquet here; swap the format
    * for `kafkaSink` when a broker exists — the payload is identical.
    */
  def multiTopicFlow(sources: Map[String, DataFrame], baseDir: String,
                     store: KVStore, clock: Column = current_timestamp(),
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    sources.toSeq.sortBy(_._1).flatMap { case (etype, src) =>
      val parsed = parse(src, etype, clock)
      val bronze = parquetSink(parsed, s"$baseDir/bronze/brz_${etype}_event",
          s"$baseDir/chk/$etype")
        .queryName(s"bronze_$etype").trigger(trigger).start()
      val realtime = if (RealtimeTypes(etype)) {
        val kv = parsed.writeStream
          .foreachBatch(servingStateBatch(store) _)
          .option("checkpointLocation", s"$baseDir/chk/kv_$etype")
          .outputMode(OutputMode.Append)
          .queryName(s"kv_$etype").trigger(trigger).start()
        val rr = toKafkaPayload(
            guarded(parsed).select(col("user_id"), col("product_id"), col("event_type")),
            "user_id")
          .writeStream.format("parquet")
          .option("path", s"$baseDir/rerank/$etype")
          .option("checkpointLocation", s"$baseDir/chk/rerank_$etype")
          .outputMode(OutputMode.Append)
          .queryName(s"rerank_$etype").trigger(trigger).start()
        Seq(kv, rr)
      } else Nil
      bronze +: realtime
    }

  // ---------------------------------------------------- Kafka wiring (S4/K7)

  /** S4 — the production source (streaming_flow.py:180-185). Offline
    * tests substitute MemoryStream/file sources with the same `value`
    * contract; this builder is the one-line swap. */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession, brokers: String,
                  topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** K7 payload shape — the reference serializes rerank results with
    * json.dumps keyed by user (streaming_flow.py:129,151-163); the
    * engine form is `to_json(struct(...))` with the key column, which
    * is exactly what the Kafka sink consumes. */
  def toKafkaPayload(df: DataFrame, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** K7 — Kafka sink with the reference's delivery tuning
    * (streaming_flow.py:122-131: acks=all, retries, compression). */
  def kafkaSink(payload: DataFrame, brokers: String, topic: String,
                checkpoint: String) =
    payload.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("kafka.acks", "all")
      .option("kafka.retries", "5")
      .option("kafka.linger.ms", "20")
      .option("kafka.compression.type", "snappy")
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)

  /** S4 WIRE twin — consume (topic, partition) from `fromOffset` over
    * the actual Kafka v0 wire protocol ([[KafkaWire]]) into a
    * DataFrame with the connector's column contract (key, value,
    * topic, partition, offset), so the parse chain downstream is
    * byte-for-byte the one `kafkaSource` feeds. Returns the frame and
    * the partition high-watermark: the caller commits the watermark
    * and passes it back as the next `fromOffset` — the offset-tracked
    * at-least-once micro-batch loop the real source runs per trigger
    * (startingOffsets/resume semantics; `KafkaWireSpec` drives two
    * rounds and a broker restart through it). */
  def kafkaWireReplayBatch(spark: org.apache.spark.sql.SparkSession,
                           host: String, port: Int, topic: String,
                           partition: Int = 0, fromOffset: Long = 0L,
                           wire: KafkaWire.Wire = KafkaWire.LegacyWire): (DataFrame, Long) = {
    import spark.implicits._
    val (recs, hw) = KafkaWire.fetch(host, port, topic, partition, fromOffset, wire = wire)
    val rows = recs.map { r =>
      (Option(r.key).map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).orNull,
        Option(r.value).map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).orNull,
        topic, partition, r.offset)
    }
    (rows.toDF("key", "value", "topic", "partition", "offset"), hw)
  }

  /** K7 WIRE twin — foreachBatch producer: each task produces its
    * partition's (key, value) payload rows to the loopback broker in
    * ONE wire call (the batched-send the reference's producer config
    * aims at with linger.ms). Input is [[toKafkaPayload]]'s (key,
    * value) shape, so `stream → toKafkaPayload → this` is the exact
    * egress path `kafkaSink` runs against a real cluster. Delivery is
    * at-least-once on replay/retry, like every plain-append
    * foreachBatch sink here (and like the wire client's documented
    * retry-once caveat). */
  def kafkaWireSinkBatch(host: String, port: Int, topic: String,
                         partition: Int = 0,
                         wire: KafkaWire.Wire = KafkaWire.LegacyWire)(
                         batch: DataFrame, batchId: Long): Unit =
    batch.select(col("key").cast("string"), col("value").cast("string"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val recs = rows.map { r =>
          def b(i: Int) = if (r.isNullAt(i)) null
            else r.getString(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (b(0), b(1))
        }.toSeq
        if (recs.nonEmpty) { KafkaWire.produce(host, port, topic, partition, recs, wire); () }
      }

  // ------------------------------------------------------------- rerank U1

  /** The reference's rerank_simple (streaming_flow.py:68-84): priority
    * concat cart ++ views ++ offline, order-preserving dedup, top 10.
    * Pure function — used inside typed maps and property tests. */
  def rerank(offline: Seq[String], views: Seq[String], cart: Seq[String],
             topN: Int = 10): Seq[String] =
    (cart ++ views ++ offline).distinct.take(topN)

  /** The same semantics as a single codegen'd Column over three array
    * columns (SURVEY U1's SQL-expressible form). */
  def rerankCol(offline: Column, views: Column, cart: Column, topN: Int = 10): Column =
    slice(array_distinct(concat(cart, views, offline)), 1, topN)

  // -------------------------------------------- W2 bounded per-user state

  case class ItemEvent(user_id: String, product_id: String, kind: String)
  case class UserState(items: List[String])
  case class UserItems(user_id: String, items: Seq[String])

  /** The Redis `LPUSH` + `LTRIM 0 49` + `EXPIRE 24h` semantics
    * (streaming_flow.py:103-111) kept *inside* the engine: per-user
    * bounded most-recent list via flatMapGroupsWithState, with an
    * optional processing-time TTL evicting idle users. State size is
    * bounded (≤ `keep` ids per user) AND idle keys expire, so the state
    * store stays O(active users) at any stream length — the two
    * properties that make this safe at 100 TB of events.
    *
    * The update function is exposed for direct unit-testing with
    * `TestGroupState` (timeouts can't be driven from a MemoryStream).
    */
  def updateUserItems(keep: Int, ttl: Option[String])(
      user: String, batch: Iterator[ItemEvent],
      state: GroupState[UserState]): Iterator[UserItems] = {
    if (state.hasTimedOut) { // TTL fired with no new events: evict (Redis EXPIRE)
      state.remove()
      return Iterator.empty
    }
    val prev = state.getOption.map(_.items).getOrElse(Nil)
    // newest first, like LPUSH; batch iterator arrives in stream order
    val next = (batch.map(_.product_id).toList.reverse ++ prev).take(keep)
    state.update(UserState(next))
    ttl.foreach(state.setTimeoutDuration) // refresh on every touch, like EXPIRE
    Iterator.single(UserItems(user, next))
  }

  def boundedRecentItems(events: Dataset[ItemEvent], keep: Int = 50,
                         ttl: Option[String] = None): Dataset[UserItems] = {
    import events.sparkSession.implicits._
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, timeout)(updateUserItems(keep, ttl))
  }

  /** The same bounded-recent-list semantics on the Spark 4
    * `transformWithState` API (the successor to flatMapGroupsWithState):
    * per-state TTL is declarative (`TTLConfig`) instead of the manual
    * timer dance, and the operator requires the RocksDB state store —
    * which is also the right store at 100 TB (spillable, incremental
    * checkpoints). Kept alongside the fMGWS form; same outputs.
    */
  class BoundedItemsProcessor(keep: Int, ttl: Option[java.time.Duration])
      extends StatefulProcessor[String, ItemEvent, UserItems] {
    @transient private var state: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("items",
        Encoders.product[UserState], ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(user: String, rows: Iterator[ItemEvent],
                                 tv: TimerValues): Iterator[UserItems] = {
      val prev = if (state.exists()) state.get().items else Nil
      val next = (rows.map(_.product_id).toList.reverse ++ prev).take(keep)
      state.update(UserState(next))
      Iterator.single(UserItems(user, next))
    }
  }

  /** transformWithState needs the RocksDB state-store provider. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def boundedRecentItemsV2(events: Dataset[ItemEvent], keep: Int = 50,
                           ttl: Option[java.time.Duration] = None): Dataset[UserItems] = {
    import events.sparkSession.implicits._
    // TimeMode.None when no TTL: ProcessingTime keeps the micro-batch
    // loop hot even with zero registered timers (observed hang under
    // processAllAvailable) — only pay for time tracking when state
    // actually expires.
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events.groupByKey(_.user_id)
      .transformWithState(new BoundedItemsProcessor(keep, ttl), mode, OutputMode.Update())
  }

  // ----------------------------------------------- K6/K7 foreachBatch sink

  /** Pluggable serving-state store (the Redis stand-in). Implementations
    * must be Serializable — one connection per PARTITION, never a
    * driver-side collect (the reference's collect()-then-loop at
    * streaming_flow.py:92,134 is its main scalability flaw; this is the
    * corrected shape). */
  trait KVStore extends Serializable {
    def push(key: String, value: String, keep: Int): Unit
    def get(key: String): Seq[String]
  }

  /** In-memory store for local tests (single-JVM local mode ⇒ the
    * "executor-side" map is visible to assertions). */
  object InMemoryKV extends KVStore {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, List[String]]()
    def push(key: String, value: String, keep: Int): Unit =
      m.merge(key, List(value), (old, nw) => (nw ++ old).take(keep))
    def get(key: String): Seq[String] = Option(m.get(key)).getOrElse(Nil)
    def clear(): Unit = m.clear()
  }

  /** foreachBatch wiring: route page views to `:views`, cart adds to
    * `:cart` (streaming_flow.py:102-110), executed partition-local. */
  def servingStateBatch(store: KVStore, keep: Int = 50)(batch: DataFrame, id: Long): Unit =
    guarded(batch).select("user_id", "product_id", "event_type")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          val suffix = if (r.getString(2) == "page_view") "views" else "cart"
          store.push(s"user:${r.getString(0)}:$suffix", r.getString(1), keep)
        }
      }

  /** Streaming MERGE into an `AtomicTable`: each micro-batch upserts by
    * key — matched keys update, new keys insert, untouched rows carry
    * over — and every batch commits atomically (readers see whole
    * versions, never a half-applied batch). This is the streaming →
    * lakehouse bridge the reference gets from Iceberg's MERGE INTO;
    * replays are naturally idempotent because upserting the same delta
    * twice yields the same table. First batch bootstraps the table. */
  def atomicUpsertBatch(dir: String, keyCol: String)(batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty) {
      if (graft.pipeline.AtomicTable.currentVersion(batch.sparkSession, dir).isEmpty)
        graft.pipeline.AtomicTable.replace(batch, dir)
      else
        graft.pipeline.AtomicTable.upsert(batch, dir, keyCol)
    }

  /** Streaming NEAR-DUP gate — dedup-on-arrival, composing three tiers:
    * each micro-batch is MinHash-signed and banded ([[graft.functions
    * .Dedup.bandedIndex]]), probed against the persisted corpus index
    * (a batch-partitioned parquet table of banded rows — k signature
    * longs + band hashes per doc, never the text), and split: arriving
    * docs near-matching the corpus, and all but one representative of
    * each within-batch near-dup COMPONENT, append to `dupDir`
    * (quarantine with batch-id audit); the rest append to `cleanDir`
    * and their bands merge into the index via dynamic partition
    * overwrite of the batch's own `_gate_batch=<id>/` partition (NOT
    * the AtomicTable committed-version protocol — see the growth
    * paragraph below; a reader racing the partition write can observe
    * that batch's bands partially, which only delays a dup verdict by
    * one trigger, never corrupts committed partitions).
    *
    * Within-batch policy: pairs above `threshold` form components
    * (transitive closure via [[graft.operators.Components]]) and the
    * minimum id of each component is kept — the SAME one-representative-
    * per-cluster policy the batch corpus dedup applies (q94), so batch
    * and streaming decisions agree on identical input.
    *
    * Index growth is an O(batch) DYNAMIC PARTITION OVERWRITE, not a
    * table rewrite: arriving ids are disjoint from indexed ids (the
    * gate's precondition), so the merge is pure insert — each batch's
    * bands land in `_gate_batch=<id>/` and a replayed batch OVERWRITES
    * exactly its own partition, making the index update idempotent at
    * per-batch cost (a keyed MERGE here would rewrite the whole index
    * every trigger — O(index), the wrong asymptote for a streaming
    * sink). The clean/dup PARQUET APPENDS are at-least-once like every
    * plain-append foreachBatch sink ([[constraintGateBatch]] has the
    * same caveat) — replay re-appends those rows; dedupe downstream on
    * (idCol, _batch_id) or point the sinks at an idempotent writer.
    *
    * At 100 TB the per-batch cost is the batch's own shingling plus
    * equi-joins on (band, hash) against an index that is ~1e-3 the
    * corpus bytes; the decision set (`dupIds`) is persisted so the three
    * consumers (two sinks + index write) don't re-run the probe. */
  def lshDedupGateBatch(indexDir: String, cleanDir: String, dupDir: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3, k: Int = 16, bands: Int = 8,
                        threshold: Double = 0.5)(batch: DataFrame, batchId: Long): Unit =
      TempDirs.staged { s =>
    import graft.functions.Dedup
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val sigs = Dedup.minhashSignaturesAffine(batch, idCol, textCol, shingleN, k)
    val banded = s.cache(Dedup.bandedIndex(sigs, idCol, k, bands))
    val hasIndex = {
      val p = new org.apache.hadoop.fs.Path(indexDir)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri, spark.sparkContext.hadoopConfiguration)
      fc.util.exists(p)
    }
    val est = (pairs: DataFrame) =>
      pairs.select(col("a"), col("b"), Dedup.estJaccard(k).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold)
    val (cross, within) = Dedup.incrementalHalves(banded,
      if (hasIndex) spark.read.parquet(indexDir).drop("_gate_batch")
      else banded.limit(0), idCol)
    // cross pairs carry the ARRIVING doc on `a` — always the victim;
    // within-batch pairs cluster transitively, keep each component's min
    val withinPairs = s.cache(est(within).select(col("a"), col("b")))
    val withinDupIds =
      if (withinPairs.isEmpty) withinPairs.select(col("a").as(idCol)).limit(0)
      else graft.operators.Components
        .connectedComponents(withinPairs,
          withinPairs.select(col("a")).union(withinPairs.select(col("b"))).distinct())
        .filter(col("v") =!= col("component"))
        .select(col("v").as(idCol))
    val dupIds = s.cache(est(cross).select(col("a").as(idCol))
      .unionByName(withinDupIds)
      .distinct())
    val dups = batch.join(dupIds, Seq(idCol), "left_semi")
    val clean = batch.join(dupIds, Seq(idCol), "left_anti")
    dups.withColumn("_batch_id", lit(batchId)).write.mode("append").parquet(dupDir)
    clean.write.mode("append").parquet(cleanDir)
    val cleanBanded = banded.join(clean.select(col(idCol)), Seq(idCol), "left_semi")
    cleanBanded.withColumn("_gate_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_gate_batch")
      .parquet(indexDir)
  }

  /** Streaming ENTITY-RESOLUTION ops gate — one foreachBatch sink for a
    * MIXED stream of record upserts and right-to-be-forgotten requests
    * against a maintained [[graft.operators.IncrementalEr]] artifact.
    * Rows carry `op` ('upsert' | 'forget') plus the customer columns;
    * per micro-batch the arrivals fold first, then the tombstones, in
    * that order (a forget in the same trigger as its own arrival wins
    * — the compliance-safe order).
    *
    * The artifact's single monotone commit sequence is preserved by
    * mapping stream batch b to artifact ids (2b, 2b+1) — maintain on
    * the even id, forget on the odd — so BOTH ops replay-guard
    * independently: a crash between the two commits replays the
    * trigger, the even id no-ops through its marker, and the odd id
    * completes. StreamingSpec pins crash-replay idempotence; q274
    * gates the streamed forget against q262's from-scratch oracle. */
  def erOpsGateBatch(dir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // BOTH artifact ids are consumed unconditionally — an empty or
    // one-sided trigger still commits no-op markers for (2b, 2b+1), so
    // the table's monotone sequence has no reusable holes (the r15
    // empty-batch gap: a skipped even id could later commit real work
    // under an id the stream had already passed)
    graft.operators.IncrementalEr.maintainBatch(dir)(
      batch.filter(col("op") === "upsert")
        .select("c_custkey", "c_name", "c_nationkey"),
      2L * batchId)
    graft.operators.IncrementalEr.forget(spark, dir,
      batch.filter(col("op") === "forget").select("c_custkey"),
      2L * batchId + 1L)
  }

  /** Streaming EMBEDDING near-dup gate — [[lshDedupGateBatch]]'s vector
    * twin, closing the loop between the persisted IVF index
    * ([[graft.functions.VectorIndex]], q136) and the streaming arrival
    * path: each micro-batch of (vec_id, embedding) rows is assigned
    * against the index's FROZEN codebook (shard-only scan — the q136
    * contract), probed for same-cell cosine near-dups against the base
    * index ∪ the stream's own accumulated assignments, and split:
    * arriving vectors matching an indexed one, plus all but the min-id
    * representative of each within-batch near-dup component (the q94 /
    * lsh-gate policy — batch and streaming decisions agree), append to
    * `dupDir` with batch-id audit; the rest append to `cleanDir` and
    * their ASSIGNMENTS land in the stream index via dynamic partition
    * overwrite of `_gate_batch=<id>/` — idempotent on replay at
    * O(batch) cost, NOT the AtomicTable upsert (which would rewrite
    * O(index) per trigger — the wrong asymptote for a sink; a periodic
    * compaction folds the accumulated stream partitions into the
    * committed artifact via [[graft.functions.VectorIndex.addShard]]).
    *
    * Preconditions: a built VectorIndex at `indexRoot` (codebook
    * trained offline — the gate never retrains) and arriving ids
    * disjoint from indexed ids. The probe is an equi-join on
    * centroid_id — per-batch cost is the batch's own assignment plus
    * |batch|·(cell occupancy) cosine kernels, never O(index). Same
    * cell-bound recall trade as every IVF operator here
    * (near-identical vectors share a home cell). */
  def vectorDedupGateBatch(indexRoot: String, streamIndexDir: String,
                           cleanDir: String, dupDir: String,
                           threshold: Double = 0.9)(
                           batch: DataFrame, batchId: Long): Unit = TempDirs.staged { s =>
    import graft.functions.{Similarity, VectorIndex}
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val cents = VectorIndex.codebook(spark, indexRoot) // FROZEN — read-only
    val hasStream = {
      val p = new org.apache.hadoop.fs.Path(streamIndexDir)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri, spark.sparkContext.hadoopConfiguration)
      fc.util.exists(p)
    }
    val assigned = s.cache(Similarity.ivfAssign(batch, cents))
    val index = VectorIndex.assigned(spark, indexRoot)
      .unionByName(
        if (hasStream) spark.read.parquet(streamIndexDir).drop("_gate_batch")
        else Similarity.ivfAssign(batch.limit(0), cents))
    val cross = assigned
      .select(col("centroid_id"), col("vec_id"), col("embedding").as("ea"),
        col("v_norm").as("na"))
      .join(index.select(col("centroid_id"), col("embedding").as("eb"),
        col("v_norm").as("nb")), Seq("centroid_id"), "inner")
      .filter(Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("vec_id"))
    val withinPairs = s.cache(Similarity.cosineNearDupPairs(assigned, threshold)
      .select(col("a"), col("b")))
    val withinDupIds =
      if (withinPairs.isEmpty) withinPairs.select(col("a").as("vec_id")).limit(0)
      else graft.operators.Components
        .connectedComponents(withinPairs,
          withinPairs.select(col("a")).union(withinPairs.select(col("b"))).distinct())
        .filter(col("v") =!= col("component"))
        .select(col("v").as("vec_id"))
    val dupIds = s.cache(cross.unionByName(withinDupIds).distinct())
    val dups = batch.join(dupIds, Seq("vec_id"), "left_semi")
    val clean = batch.join(dupIds, Seq("vec_id"), "left_anti")
    dups.withColumn("_batch_id", lit(batchId)).write.mode("append").parquet(dupDir)
    clean.write.mode("append").parquet(cleanDir)
    assigned.join(clean.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .withColumn("_gate_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_gate_batch")
      .parquet(streamIndexDir)
  }

  /** Streaming LEXICAL-INDEX maintenance — the arrival path for the
    * persisted inverted text index ([[graft.functions.TextIndex]],
    * q148), completing the triad: text LSH dedup gate
    * ([[lshDedupGateBatch]]), vector near-dup gate
    * ([[vectorDedupGateBatch]]), and now index maintenance itself.
    * Each micro-batch of (doc_id, text) rows is tokenized to raw
    * postings and landed in `streamDir/_gate_batch=<id>/` via dynamic
    * partition overwrite — a replayed batch rewrites exactly its own
    * partition (idempotent at O(batch) cost; an AtomicTable
    * delete-then-insert per trigger would rewrite O(index) — the
    * wrong asymptote for a sink). Re-crawls across batches resolve
    * latest-batch-wins at read ([[graft.functions.TextIndex
    * .streamPostings]]); queries between compactions read
    * [[graft.functions.TextIndex.liveIndexView]], and a periodic
    * [[graft.functions.TextIndex.compactStream]] folds the tier into
    * the committed artifact. */
  def textIndexMaintainBatch(streamDir: String,
                             idCol: String = "doc_id",
                             textCol: String = "text")(
                             batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val postings = graft.functions.TextIndex.rawPostings(batch, idCol, textCol)
    // one tombstone row per batch doc (token NULL, tf 0): a doc
    // re-crawled to EMPTY text lands no postings, and without a row in
    // this batch's partition, latest-batch-wins could never supersede
    // its older postings — the stale-content hole addShard's
    // delete-by-doc-id closes on the committed artifact
    val tombstones = batch
      .select(col(idCol).as("doc_id")).distinct()
      .select(lit(null).cast("string").as("token"), col("doc_id"),
        lit(0L).as("tf"))
    postings.unionByName(tombstones)
      .withColumn("_gate_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_gate_batch")
      .parquet(streamDir)
  }

  /** Streaming maintenance for BOTH vector tiers: each micro-batch of
    * (vec_id, embedding) arrivals goes through the frozen codebook into
    * the inverted lists ([[graft.functions.VectorIndex.addShard]]) and
    * through the frozen sub-codebooks into the PQ codes
    * ([[graft.functions.VectorIndex.addShardPq]]) — one committed
    * version per tier per batch, nothing retrained on arrival. Both
    * merges are delete-then-insert by vec_id, so a checkpoint-recovery
    * replay of a batch is idempotent and a re-embedded vector replaces
    * all its rows in both tiers atomically-per-tier. This closes the
    * streaming maintenance matrix: impact postings, positional
    * postings, vector lists, and now the codes that ARE the index at
    * 100 TB. Arrivals serialize per index (the AtomicTable upsert
    * contract) — one streaming query does that by construction. */
  def vectorIndexMaintainBatch(indexDir: String, m: Int, dim: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    graft.functions.VectorIndex.addShard(batch, indexDir)
    graft.functions.VectorIndex.addShardPq(batch, indexDir, m, dim)
  }

  /** Streaming maintenance for the DIMENSION tier: each micro-batch of
    * change-log arrivals folds into a committed SCD2 table via
    * [[graft.operators.Scd2.merge]] — closed validity intervals are
    * never reprocessed, untouched keys pass through one anti-join, and
    * only touched keys' open intervals replay through run compression.
    * One [[graft.pipeline.AtomicTable]] version per batch, so readers
    * always see a complete interval set and `versions` gives
    * dimension-as-of-batch time travel for free. Requires per-key
    * batch monotonicity (append-only change log — the Scd2.merge
    * contract); one streaming query with the default trigger
    * serializes arrivals by construction. First batch bootstraps via
    * a full [[graft.operators.Scd2.build]]. */
  def scd2MaintainBatch(dimDir: String, keyCol: String, timeCol: String,
                        tiebreakCol: String, attrCol: String)(
                        batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val next = graft.pipeline.AtomicTable.currentVersion(spark, dimDir) match {
      case None => graft.operators.Scd2.build(
        batch, keyCol, timeCol, tiebreakCol, attrCol)
      case Some(_) => graft.operators.Scd2.merge(
        graft.pipeline.AtomicTable.read(spark, dimDir),
        batch, keyCol, timeCol, tiebreakCol, attrCol)
    }
    graft.pipeline.AtomicTable.replace(next, dimDir)
    ()
  }

  /** Streaming RIGHT-TO-BE-FORGOTTEN: each micro-batch of delete
    * requests (rows carrying `idCol`) propagates through
    * [[graft.functions.TextIndex.forget]] as one committed delete-only
    * version per existing lexical tier — the compliance stream every
    * serving index needs next to its ingest stream. Idempotent under
    * batch replay by construction (anti-joining an already-absent id
    * is a no-op commit), so checkpoint-recovery replays are safe — the
    * [[atomicUpsertBatch]] discipline in the delete direction.
    * Arrivals must be serialized per index (the TextIndex concurrency
    * contract); one streaming query with a default trigger does
    * exactly that. */
  def forgetGateBatch(indexDir: String, idCol: String = "doc_id")(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    graft.functions.TextIndex.forget(batch.sparkSession,
      batch.select(col(idCol).as("doc_id")), indexDir)
  }

  /** Streaming constraint gate: per micro-batch, rows passing every
    * named rule append to the silver path, violators append to a
    * quarantine path carrying batch id + the exact rules broken —
    * `Quality.split`'s CHECK semantics (FALSE violates, NULL passes)
    * applied at the stream boundary. This is the structural cousin of
    * [[parseWithDeadLetter]] one stage later: that one quarantines
    * rows that don't PARSE, this one rows that parse but don't
    * CONFORM. Both sinks are plain appends, so the streaming
    * checkpoint's replay semantics apply unchanged. */
  def constraintGateBatch(validDir: String, quarantineDir: String,
                          rules: Seq[(String, org.apache.spark.sql.Column)])(
                          batch: DataFrame, id: Long): Unit = {
    val (valid, quarantine) = graft.pipeline.Quality.split(batch, rules)
    valid.write.mode("append").parquet(validDir)
    quarantine.withColumn("_batch_id", lit(id))
      .write.mode("append").parquet(quarantineDir)
  }

  /** Frozen-LM quality gate — the train-offline / score-online closure
    * of q113: an offline pass persists
    * [[graft.functions.LanguageModel.modelTable]] (per-trigram bits,
    * |trigram vocab| rows), and each arriving micro-batch of (doc_id,
    * text) scores bits-per-char against that FROZEN table — trigrams
    * the model never saw cost `oovBits` each, so out-of-distribution
    * text (mojibake, key-mash, wrong language) scores high and fails
    * the `maxBits` ceiling. Passing docs append to `passDir` with
    * their score; failing docs (including un-assessable < 3-char docs,
    * whose score is null) append to `failDir` with batch id for audit.
    * The model is re-read per batch — small, and a model refresh lands
    * without restarting the stream (the same latest-wins read
    * discipline as the rerank payload). Same at-least-once append
    * caveat as [[constraintGateBatch]]. */
  def lmQualityGateBatch(modelDir: String, passDir: String, failDir: String,
                         maxBits: Double, oovBits: Double = 20.0)(
      batch: DataFrame, id: Long): Unit = TempDirs.staged { s =>
    if (batch.isEmpty) return
    val model = batch.sparkSession.read.parquet(modelDir)
    val scored = graft.functions.LanguageModel
      .scoreAgainst(batch, "doc_id", "text", model, oovBits)
      .select(col("doc_id"), col("bits_per_char"))
    val joined = s.cache(batch.join(scored, Seq("doc_id"), "left"))
    joined.filter(col("bits_per_char") <= maxBits)
      .write.mode("append").parquet(passDir)
    // null-safe complement: score null (no trigrams) also quarantines
    joined.filter(!(col("bits_per_char") <= maxBits) ||
        col("bits_per_char").isNull)
      .withColumn("_batch_id", lit(id))
      .write.mode("append").parquet(failDir)
  }

  /** Gold → serving-DB export per micro-batch: the dashboard tier the
    * reference reads through Dremio/Superset, as a foreachBatch that
    * OVERWRITES the serving table with each batch's aggregate snapshot.
    * Overwrite (not append) makes foreachBatch's at-least-once replay
    * harmless — rewriting the same snapshot converges to the same
    * table, no dedup marker needed. Pair with a complete-output-mode
    * aggregate so every batch carries the full current state. Tested
    * end-to-end against embedded Derby in `JdbcSpec`. */
  def jdbcSnapshotBatch(url: String, table: String, user: String,
                        password: String, driver: String)(
      batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty)
      graft.sources.Sources.writeJdbc(batch, url, table, user, password, driver)

  /** Replay-guarded serving-state sink: foreachBatch re-delivers the
    * LAST micro-batch after a restart (the sink side of Structured
    * Streaming is at-least-once), and a blind re-run would double-push
    * every row. This variant records the highest applied batch id under
    * a reserved key and skips batches it has already seen — the
    * standard foreachBatch idempotence pattern. Honest caveat: the
    * marker write is not atomic with the data pushes, so a crash
    * BETWEEN them still replays (a Redis MULTI/EXEC or a transactional
    * sink closes that window); this reduces duplicate application to
    * exactly that crash window instead of every restart. */
  def idempotentServingStateBatch(store: KVStore, tag: String, keep: Int = 50)(
      batch: DataFrame, id: Long): Unit = {
    val marker = s"__applied:$tag"
    val applied = store.get(marker).headOption.map(_.toLong)
    if (!applied.exists(_ >= id)) {
      servingStateBatch(store, keep)(batch, id)
      store.push(marker, id.toString, 1)
    }
  }

  /** Streaming maintenance for per-group KMV distinct sketches: each
    * micro-batch of (group, key) arrivals hashes through
    * [[graft.functions.Kmv.h40]] and folds into a standing bottom-k
    * sketch table committed as one [[graft.pipeline.AtomicTable]]
    * version per batch. Bottom-k is MERGEABLE set algebra —
    * `groupSketch(standing ∪ arriving)` IS the incremental update, so
    * nothing is ever retrained, recounted, or re-scanned: the standing
    * side is ≤ |groups|·k rows and the union is sketch-plus-batch
    * sized, never history-sized. Replaying a batch after checkpoint
    * recovery is idempotent by construction (distinct + bottom-k of a
    * set already containing the batch's hashes is a fixed point — the
    * committed version is byte-identical, no replay marker needed).
    * Serve per-group distinct estimates at any time with
    * [[graft.functions.Kmv.groupEstimates]] over the current version;
    * `versions` gives estimate-as-of-batch time travel. Arrivals
    * serialize per sketch table (the AtomicTable replace contract) —
    * one streaming query does that by construction. */
  def kmvSketchMaintainBatch(sketchDir: String, grpCol: String,
                             keyCol: String, k: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val arriving = batch.select(col(grpCol),
      graft.functions.Kmv.h40(col(keyCol).cast("string")).as("g_h40"))
    val merged = graft.pipeline.AtomicTable.currentVersion(spark, sketchDir) match {
      case None    => arriving
      case Some(_) =>
        graft.pipeline.AtomicTable.read(spark, sketchDir).unionByName(arriving)
    }
    graft.pipeline.AtomicTable.replace(
      graft.functions.Kmv.groupSketch(merged, grpCol, "g_h40", k), sketchDir)
    ()
  }

  /** Streaming maintenance for the Misra–Gries frequent-items summary
    * ([[graft.operators.HeavyHitters]]): each micro-batch folds its own
    * bounded MG summary into the standing one with the SAME merge the
    * Aggregator's partial buffers use (mergeable-summaries bound: the
    * standing counters underestimate true frequencies by at most
    * n/(m+1) across ANY batch split), and the result — ≤ m counters +
    * exact arrival count n — commits as one AtomicTable version per
    * batch. Values with lifetime share > 1/m are therefore always in
    * the standing candidate set, whatever order history arrived in;
    * exact counts come from the q235 recount pass over the bronze
    * table when needed. Unlike the KMV fold, MG merge is NOT
    * idempotent (re-merging a batch inflates counters), so the
    * artifact carries the highest applied batch id and re-delivered
    * batches short-circuit — the [[idempotentServingStateBatch]]
    * pattern, with the marker INSIDE the atomically-replaced version,
    * so there is no crash window between data and marker. Artifact
    * rows: (v, c) per counter plus one (NULL, 0) meta row, every row
    * carrying (n, last_batch) — the meta row keeps n/last_batch alive
    * even when a merge cut empties the counter map. */
  def mgSummaryMaintainBatch(dir: String, valueCol: String, m: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    import spark.implicits._
    val standing = graft.pipeline.AtomicTable.currentVersion(spark, dir)
      .map(_ => graft.pipeline.AtomicTable.read(spark, dir).collect())
    val lastBatch = standing.flatMap(_.headOption)
      .map(_.getAs[Long]("last_batch")).getOrElse(Long.MinValue)
    if (lastBatch >= batchId) return
    val sm = standing.map(_.iterator.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getAs[Long]("c")).toMap)
      .getOrElse(Map.empty[String, Long])
    val sn = standing.flatMap(_.headOption)
      .map(_.getAs[Long]("n")).getOrElse(0L)
    val (bm, bn) = graft.operators.HeavyHitters.summarize(batch, valueCol, m)
    val merged = graft.operators.HeavyHitters.mgMerge(sm, bm, m)
    val n = sn + bn
    val rows = merged.toSeq.sortBy(_._1)
      .map { case (v, c) => (Option(v), c, n, batchId) } :+
      ((Option.empty[String], 0L, n, batchId))
    graft.pipeline.AtomicTable.replace(
      rows.toDF("v", "c", "n", "last_batch"), dir)
    ()
  }

  /** Current standing MG candidates (v, c, n) from [[
    * mgSummaryMaintainBatch]]'s artifact — the ≤ m counter rows, meta
    * row dropped. */
  def mgCandidates(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame =
    graft.pipeline.AtomicTable.read(spark, dir)
      .filter(col("v").isNotNull).select("v", "c", "n")

  /** Streaming CUSUM monitor — q197's sequential detector lifted to
    * the stream boundary. Consumes FINALIZED observations (t, value):
    * each micro-batch carries closed aggregate rows (e.g. day-close
    * revenue from an upstream watermark-closed windowed aggregate),
    * each t appears exactly once across the stream, and batches are
    * per-t monotone — the same append-only contract as
    * [[scd2MaintainBatch]], `require`-checked loudly here because a
    * silently re-folded day corrupts the running statistic forever.
    * Per batch: fold s_t = max(0, s_{t−1} + x_t − μ − κ) in exact
    * integer arithmetic from the standing s (frozen μ/κ trained
    * offline — the [[lmQualityGateBatch]] discipline: detection
    * params never drift with the data they monitor), append each
    * observation with its cusum + alarm to `outDir`, and commit
    * (s, last_t, last_batch) as one AtomicTable version. The driver
    * fold is bounded by the AGGREGATE domain (days per batch), not
    * arrivals — q197's collect() justification unchanged. Replay
    * guard: state carries the highest applied batch id and re-delivered
    * batches short-circuit; the append and the state commit are not
    * atomic, so a crash exactly between them still duplicates one
    * batch's out rows (the [[idempotentServingStateBatch]] caveat) —
    * dedup on (t, _batch_id) downstream if that window matters. */
  def cusumMonitorBatch(stateDir: String, outDir: String,
                        tCol: String, valCol: String,
                        mu: Long, slack: Long, threshold: Long)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    import spark.implicits._
    val standing = graft.pipeline.AtomicTable.currentVersion(spark, stateDir)
      .map(_ => graft.pipeline.AtomicTable.read(spark, stateDir).collect().head)
    if (standing.exists(_.getAs[Long]("last_batch") >= batchId)) return
    var run = standing.map(_.getAs[Long]("s")).getOrElse(0L)
    val lastT = standing.map(_.getAs[Long]("last_t")).getOrElse(Long.MinValue)
    val obs = batch
      .select(col(tCol).cast("long").as("t"), col(valCol).cast("long").as("v"))
      .orderBy(col("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(obs.headOption.forall(_._1 > lastT),
      s"cusumMonitorBatch: batch $batchId arrives at t=${obs.head._1} " +
        s"≤ last applied t=$lastT — observations must be finalized, " +
        "once-only, and per-batch monotone")
    // the once-only contract must hold WITHIN the batch too: a tied or
    // duplicated t would fold into the running statistic twice (orderBy
    // makes the pair adjacent and the head-vs-last_t check can't see
    // it), corrupting the CUSUM state permanently
    require(obs.iterator.sliding(2).withPartial(false)
        .forall(p => p(1)._1 > p(0)._1),
      s"cusumMonitorBatch: batch $batchId contains duplicate or tied " +
        "t values — each t must appear exactly once across the stream")
    val outRows = obs.map { case (t, v) =>
      run = math.max(0L, run + v - mu - slack)
      (t, v, run, if (run > threshold) 1 else 0)
    }
    outRows.toSeq.toDF(tCol, valCol, "cusum", "alarm")
      .withColumn("_batch_id", lit(batchId))
      .write.mode("append").parquet(outDir)
    graft.pipeline.AtomicTable.replace(
      Seq((run, obs.last._1, batchId)).toDF("s", "last_t", "last_batch"),
      stateDir)
    ()
  }
}
