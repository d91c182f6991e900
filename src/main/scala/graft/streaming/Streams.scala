package graft.streaming

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming (SURVEY §2.12). The reference has no continuous executor —
  * its real-time story is triggered batch (CRON/WHEN/NOTIFY,
  * `ecl/schedulectrl/`) plus a Kafka plugin pulling bounded batches with
  * explicit offsets (`plugins/kafka/kafka.ecllib:97,199`). Structured
  * Streaming covers the triggered batch (micro-batch triggers ≈ CRON
  * workflow), and we add watermarked tumbling/sliding/session windows
  * (beyond-reference). The Kafka plugin is not ported: no Kafka connector
  * is on the classpath, so `format("kafka")` cannot load.
  *
  * The same transformations run in batch mode — StreamingSpec asserts
  * stream-vs-batch result equality on the events table.
  */
object Streams {

  /** File-based micro-batch source with a DECLARED schema (schema-on-read
    * like every reference dataset; no inference on streams).
    */
  def fileSource(spark: SparkSession, path: String, schema: StructType,
      format: String = "parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema).format(format)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.load(path)
  }

  /** The ONE `ts` normalization for the events fixture, shared by the batch
    * loader ([[graft.Tables.events]] delegates here) and every streaming
    * test. events.parquet has carried both `ts: TIMESTAMP(NANOS)` (reads as
    * long under `spark.sql.legacy.parquet.nanosAsLong`) and
    * `ts: timestamp[us]` (reads as TIMESTAMP_NTZ) across testdata
    * regenerations. Both shapes normalize to micros TIMESTAMP (LTZ): that is
    * what `withWatermark` requires (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
    * NTZ), and with the session timezone pinned to UTC the NTZ→LTZ cast is
    * value-preserving, so the DuckDB oracle sees the same instants either
    * way. Guarding on the actual read type means batch and stream can never
    * disagree about the fixture again.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Streaming events fixture: the schema stored in the sf directory's
    * parquet footer (read on the driver by `Sources.parquet`, no job)
    * declared to a micro-batch source over the staged copy, then the same
    * guarded `ts` normalization as the batch loader.
    */
  def eventsStream(spark: SparkSession, sfDir: String,
      stagedDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = Sources.parquet(spark, s"$sfDir/events.parquet").schema
    normalizeEventTs(
      fileSource(spark, stagedDir, schema,
        maxFilesPerTrigger = maxFilesPerTrigger))
  }

  /** Watermarked tumbling-window aggregate — works on both stream and
    * batch DataFrames (the batch path is the oracle).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, width: String,
      watermark: String = "10 minutes"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark)
             else events
    wm.groupBy(window(col(tsCol), width).as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("bucket"), col("n"), col("sum_value"))
  }

  /** Custom stateful scan over a stream — the streaming analog of
    * ITERATE/PROCESS (SURVEY §2.7→§2.12): per-key carried state via
    * `flatMapGroupsWithState`. Emits one row per event with the running
    * per-user event count and cumulative value (micros-exact).
    */
  def runningPerUser(events: DataFrame): org.apache.spark.sql.Dataset[
      (Long, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val typed = events.select(
      col("user_id").cast("long"), col("event_id").cast("long"),
      (col("value").cast(org.apache.spark.sql.types.DecimalType(25, 6)) *
        1000000).cast("long").as("micros"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (n, cum) = state.getOption.getOrElse((0L, 0L))
          val out = rows.toSeq.sortBy(_._2).map { case (_, eventId, micros) =>
            n += 1; cum += micros
            (user, eventId, n, cum)
          }
          state.update((n, cum))
          out.iterator
      }
  }

  /** Sliding (hopping) windows: width `width`, advancing every `slide` —
    * each event lands in width/slide overlapping buckets. Stream/batch
    * symmetric like [[tumblingCounts]].
    */
  def slidingCounts(events: DataFrame, tsCol: String, width: String,
      slide: String, watermark: String = "10 minutes"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark)
             else events
    wm.groupBy(window(col(tsCol), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"), col("n"))
  }

  /** Per-user session windows (gap-based) — stream/batch symmetric. */
  def sessionCounts(events: DataFrame, tsCol: String, gap: String,
      watermark: String = "10 minutes"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark)
             else events
    wm.groupBy(col("user_id"), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n"))
  }

  /** Stream-stream INTERVAL JOIN (the streaming analog of the proximity
    * merge-join, §2.4): rows of `left` and `right` match when keys are
    * equal AND the right timestamp falls within [left.ts - before,
    * left.ts + after]. Both sides carry watermarks so Spark can bound the
    * buffered state to the watermark horizon + interval — the unbounded-
    * feed scale contract. Stream/batch symmetric: on batch frames the same
    * predicate runs as an ordinary range-filtered equality join (the
    * oracle path in StreamingSpec).
    *
    * Column name contract: `left` exposes `lts`, `right` exposes `rts` as
    * their event-time columns (pre-rename before calling), so the range
    * predicate is unambiguous after the join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      before: String, after: String,
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val (l, r) =
      if (left.isStreaming || right.isStreaming)
        (left.withWatermark("lts", watermark),
          right.withWatermark("rts", watermark))
      else (left, right)
    val range =
      col("rts") >= col("lts") - expr(s"INTERVAL $before") &&
        col("rts") <= col("lts") + expr(s"INTERVAL $after")
    if (joinType == "inner") {
      val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) && range
      keys.foldLeft(l.join(r, cond, joinType))((d, k) => d.drop(r(k)))
    } else {
      // OUTER interval joins (reference-exceeding §2.12 surface): the
      // stream emits null-padded rows once the watermark passes a row's
      // match window — the "unmatched after window" alert shape for
      // unbounded feeds. Both sides often derive from ONE source frame
      // (click vs purchase slices), so qualify the shared key names via
      // aliases; a dropped right key would null the key on right-only
      // rows, so coalesce both sides into ONE key column instead.
      val (la, ra) = (l.alias("__ij_l"), r.alias("__ij_r"))
      val cond = keys.map(k =>
        col(s"__ij_l.$k") === col(s"__ij_r.$k")).reduce(_ && _) && range
      val joined = la.join(ra, cond, joinType)
      val keyCols = keys.map(k =>
        coalesce(col(s"__ij_l.$k"), col(s"__ij_r.$k")).as(k))
      val rest = joined.schema.fieldNames.filterNot(keys.contains).map(col)
      joined.select(keyCols ++ rest: _*)
    }
  }

  /** Streaming AS-OF enrichment (stream-static): every event picks up the
    * most recent at-or-before row of a SLOWLY-CHANGING dimension history —
    * the feature-at-event-time lookup an unbounded feed needs (the batch
    * counterpart is [[graft.ops.Temporal.asofJoin]]; StreamingSpec pins
    * the two to each other). Lowering: the history collapses to ONE row
    * per key holding its time-sorted (ts, payload) array — dimension-
    * sized, broadcast into the stream — and the per-event match is a
    * codegen'd array filter + element_at(-1): STATELESS, so it needs no
    * watermark, survives restart trivially, and adds zero stream-side
    * shuffles. History arrays are per-key change logs (SCD-2-sized), not
    * fact-sized — the same contract as any broadcast dimension.
    */
  def asofEnrich(events: DataFrame, history: DataFrame, key: String,
      eventTs: String, histTs: String, payload: Seq[String]): DataFrame = {
    val packed = history
      .groupBy(col(key))
      .agg(sort_array(collect_list(
        struct(col(histTs).as("__h_ts") +: payload.map(col): _*)))
        .as("__hist"))
    val joined = events.join(broadcast(packed), Seq(key), "left_outer")
    val matches = expr(s"filter(__hist, h -> h.__h_ts <= $eventTs)")
    // guard the element_at: no history for the key (null) or no row at-or-
    // before the event (empty) → null match, ANSI-safe
    val m = when(size(matches) > 0, element_at(matches, size(matches)))
    val matchedCols = m.getField("__h_ts").as("matched_ts") +:
      payload.map(f => m.getField(f).as(f))
    joined.select(events.columns.map(col) ++ matchedCols: _*)
  }

  /** Streaming DEDUP (§2.7 → §2.12): exactly-once delivery of the first
    * event per key. `dropDuplicatesWithinWatermark` evicts a key's state
    * once the watermark passes it, so state is bounded by the watermark
    * horizon, not the stream's lifetime — the scale contract for an
    * unbounded feed. On a batch frame it degenerates to plain DEDUP ALL.
    */
  def dedupStream(events: DataFrame, tsCol: String, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)
}
