package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.10 Event-stream operators.
  *
  * Tier 1 (oracled): tumbling/sliding windows and sessionization expressed
  * as batch SQL over the events table — these are the semantics contract.
  * Tier 2 (oracle-exempt): true Structured Streaming twins — file-source
  * replay of the same parquet, watermarks, windowed state, streaming dedup —
  * asserted equal to their batch twins by StreamingSpec. At scale the
  * streaming tier is the real deployment (state store per key-partition,
  * watermark-bounded state), and the batch tier is the backfill path; both
  * share one definition of correctness.
  */
object Streaming {

  /** Streaming reads of events.parquet: the file source requires an explicit
    * schema, and ts has shipped as nanos-long (legacy NANOS fixtures, read
    * with nanosAsLong), native TIMESTAMP(MICROS), and naive-µs NTZ (cast
    * to LTZ under the pinned UTC session tz — see T.eventsRaw). Take the
    * schema from T's footer-schema memo (no job once memoized) so the stream
    * sees exactly what the batch reader sees, and normalize ts to
    * TimestampType the same way the batch reader does.
    */
  private def readEventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = T.schema(s, d, "events")
    val raw = s.readStream.schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
    batchSchema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** The events table's (min ts, max ts), memoized per fixture dir — the
    * streaming replay twins need a flush-sentinel timestamp past the
    * data's end (and stream_late_data_policy a split point inside the
    * range), and each used to run its own `agg(max(ts)).head()` pre-scan
    * (r8 advice: one extra full-column pass per streaming key). One
    * min/max agg per (JVM, sf dir) now serves all of them. In a real
    * pipeline this value comes from the source's own metadata (parquet
    * footer stats / stream offsets); the memo is the harness equivalent.
    */
  private val tsRangeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (java.sql.Timestamp, java.sql.Timestamp)]()
  private def eventsTsRange(s: SparkSession, d: String): (java.sql.Timestamp, java.sql.Timestamp) =
    tsRangeCache.computeIfAbsent(d, _ => {
      val r = T.events(s, d).agg(min(col("ts")), max(col("ts"))).head()
      (r.getTimestamp(0), r.getTimestamp(1))
    })

  /** Flush sentinel: 3 h past the END OF THE WHOLE EVENTS TABLE — ≥ any
    * filtered slice's max ts, so it advances every watermark past every
    * buffered row regardless of which user-slice an op replays. */
  private def flushTsFor(s: SparkSession, d: String): java.sql.Timestamp =
    new java.sql.Timestamp(eventsTsRange(s, d)._2.getTime + 3 * 3600 * 1000L)

  /** Stateful operators create one state-store instance per shuffle
    * partition per micro-batch; at local[32] the session default (32)
    * multiplies store open/commit overhead on state that fits in a handful
    * of partitions. Pin 8 for the stream's lifetime (the value is captured
    * at query start), then restore. On a real cluster this is the same
    * knob you'd size to state volume, not to core count.
    */
  private def withPinnedStatePartitions[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run a streaming query on a memory sink to completion, return final
    * table. Complete output mode → final state == batch twin.
    */
  private def runToMemory(s: SparkSession, df: DataFrame, name: String,
                          mode: String = "complete"): DataFrame = {
    withPinnedStatePartitions(s) {
      val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name)
  }

  val streamTumbling1h = Op(
    "stream_tumbling_1h",
    (s, d) =>
      T.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), Det.sumDec(col("value")).as("sum_value"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("wstart"), col("event_type")),
    Some("""
      SELECT date_trunc('hour', ts) AS wstart, event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY wstart, event_type
    """)
  )

  /** Sliding 1h windows every 15min: each event lands in 4 windows. The
    * DuckDB twin enumerates the k=0..3 window starts per event explicitly.
    */
  val streamSliding1h15m = Op(
    "stream_sliding_1h_15m",
    (s, d) =>
      T.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n_events"))
        .orderBy(col("wstart"), col("event_type")),
    Some("""
      SELECT epoch_ms(((CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT) // 900 - k) * 900) * 1000) AS wstart,
             event_type, COUNT(*) AS n_events
      FROM events CROSS JOIN range(4) t(k)
      GROUP BY 1, 2 ORDER BY wstart, event_type
    """)
  )

  /** Sessionization, batch form: 30-min-gap flag + running sum = session id
    * — two windows over one shuffle on user_id; linear at any scale.
    */
  val streamSessionize30m = Op(
    "stream_sessionize_30m",
    (s, d) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("gap",
          when(col("sec") - lag(col("sec"), 1).over(wOrd) > 1800 ||
               lag(col("sec"), 1).over(wOrd).isNull, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("gap")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"),
          max(col("ts")).as("end_ts"),
          (max(col("sec")) - min(col("sec"))).as("duration_sec"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""
      WITH ord AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT) AS sec,
               LAG(CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT)) OVER w AS prev_sec
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      flagged AS (
        SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS gap
        FROM ord),
      sess AS (
        SELECT *, SUM(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
             MIN(ts) AS start_ts, MAX(ts) AS end_ts,
             MAX(sec) - MIN(sec) AS duration_sec
      FROM sess GROUP BY user_id, session_id
      ORDER BY user_id, session_id
    """)
  )

  /** Structured Streaming twin of stream_tumbling_1h: file-source replay +
    * 10-min watermark + tumbling window, complete mode to a memory sink.
    * Oracle-exempt (micro-batch mechanics); StreamingSpec asserts equality
    * with the batch twin.
    */
  val streamStructuredTumbling = Op(
    "stream_structured_tumbling",
    (s, d) => {
      val agg = readEventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n_events"))
      runToMemory(s, agg, "graft_stream_tumbling")
        .orderBy(col("wstart"), col("event_type"))
    },
    None
  )

  /** Streaming dedup: the input replayed TWICE (self-union) so every
    * event_id arrives duplicated; dropDuplicatesWithinWatermark must
    * collapse them back to the batch-distinct counts.
    */
  val streamDedupWatermark = Op(
    "stream_dedup_watermark",
    (s, d) => {
      // A deterministic 1/4 user slice: the semantics under test (stateful
      // dedup within watermark over a doubled replay) don't need the full
      // table, and per-row state-store traffic dominated the r1 bench.
      val src = readEventsStream(s, d).filter(col("user_id") % 4 === 0)
      val doubled = src.unionByName(
        readEventsStream(s, d).filter(col("user_id") % 4 === 0))
      val deduped = doubled
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      runToMemory(s, deduped, "graft_stream_dedup")
        .orderBy(col("event_type"))
    },
    None
  )

  /** Late-data policy: replay the events in two files — recent half first,
    * old half second, maxFilesPerTrigger=1 — so batch 1 advances the
    * watermark far past the old rows and append mode drops them from the
    * windowed aggregation. Emits the surviving finalized windows.
    *
    * Replays a deterministic 1/16 user slice, not the full table: the
    * semantics under test (watermark advance + append-mode drop) only need
    * rows spanning the full time range, and the slice does — rewriting the
    * whole events table twice cost 12 s in the r1 bench for no extra
    * coverage. The mtime pinning below is local-FS-only (object stores
    * have no settable mtime); the portable form is two separate
    * `start()`/`awaitTermination` phases, one per directory, against the
    * same checkpoint.
    */
  val streamLateDataPolicy = Op(
    "stream_late_data_policy",
    (s, d) => {
      val tmp = T.scratch("late_replay")
      val ev = T.events(s, d)
        .filter(col("user_id") % 16 === 0)
        .withColumn("sec", unix_timestamp(col("ts")))
      // any split point strictly inside the time range works (the test is
      // watermark-advance + append-drop, not a 50/50 row split); the memoized
      // range midpoint avoids the old per-op percentile pre-scan. Guard: if
      // this user-slice's timestamps ever skew entirely to one side of the
      // GLOBAL midpoint, one half would be empty and the late-data scenario
      // would degenerate silently — fail loudly instead of passing vacuously.
      val (mnTs, mxTs) = eventsTsRange(s, d)
      val mid = (mnTs.getTime / 1000L + mxTs.getTime / 1000L) / 2L
      ev.filter(col("sec") >= mid).drop("sec")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/a_recent")
      ev.filter(col("sec") < mid).drop("sec")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/b_old")
      val halves = Seq("a_recent", "b_old")
        .map(h => h -> s.read.parquet(s"$tmp/$h").limit(1).count())
      halves.find(_._2 == 0L).foreach { case (h, _) =>
        throw new IllegalStateException(
          s"stream_late_data_policy: replay half '$h' is empty — the 1/16 " +
          s"user slice has no rows on one side of the global ts midpoint " +
          s"($mid); the watermark/late-data scenario cannot be exercised")
      }
      // The file stream source processes oldest-modification-time first, so
      // pin the ordering explicitly (write order alone could collide within
      // one mtime granule): the old half must arrive in the LATER batch.
      val aTime = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$tmp/a_recent"))
      val bumped = java.nio.file.attribute.FileTime.fromMillis(aTime.toMillis + 60000)
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/b_old")).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p, bumped)
      }
      val sch = T.events(s, d).schema
      val agg = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("wstart"), col("n_events"))
      runToMemory(s, agg, "graft_stream_late", mode = "append")
        .orderBy(col("wstart"))
    },
    None
  )

  /** The native session_window operator (same one Structured Streaming
    * uses for stateful sessions), run in batch: sessions merge while the
    * next event is strictly inside [start, last+gap). The oracle replicates
    * with a µs-precision lag/cumsum (new session when ts - prev >= gap —
    * note >=, matching the half-open window).
    */
  val streamSessionWindow = Op(
    "stream_session_window",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("w.start").as("start_ts"),
          (col("w.end") - expr("INTERVAL 30 MINUTES")).as("last_ts"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_ts")),
    Some("""
      WITH ord AS (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS gap
        FROM ord),
      sess AS (
        SELECT *, SUM(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS last_ts, COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, start_ts
    """)
  )

  /** The production streaming sink pattern: foreachBatch gives each
    * micro-batch to arbitrary batch-writer code. Written idempotently
    * (complete mode + overwrite per batch) so replays/retries converge to
    * the same files — the exactly-once discipline a real pipeline needs.
    * Oracled: the final parquet equals the batch aggregation over the
    * same slice.
    */
  val streamForeachBatchSink = Op(
    "stream_foreachbatch_sink",
    (s, d) => {
      val tmp = T.scratch("fb_sink")
      val agg = readEventsStream(s, d).filter(col("user_id") % 8 === 0)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n_events"))
      withPinnedStatePartitions(s) {
        val q = agg.writeStream.outputMode("complete")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            batch.write.mode("overwrite").parquet(tmp)
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(tmp).orderBy(col("wstart"), col("event_type"))
    },
    Some("""
      SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS n_events
      FROM events WHERE user_id % 8 = 0
      GROUP BY 1, 2 ORDER BY wstart, event_type
    """)
  )

  /** Stream-stream watermarked join — click→purchase attribution: each
    * purchase joined to the same user's clicks in the preceding hour. Both
    * sides carry a 1 h watermark and the join condition bounds click_ts to
    * [purchase_ts - 1h, purchase_ts], which is exactly what lets the state
    * store evict: a buffered click can be dropped once the purchase-side
    * watermark passes click_ts + 1 h. Inner join, append mode (matches emit
    * as found). At scale this is THE stateful operator of an event
    * pipeline — state is hash-partitioned by user_id and bounded by the
    * watermark, so it runs at any volume; an unbounded-state join (no
    * watermark / no time bound) is rejected by Spark for exactly that
    * reason. Deterministic 1/8 user slice bounds the replay cost.
    * Oracle-exempt (micro-batch mechanics); ExemptSpec asserts the result
    * set equals the batch interval-join twin.
    */
  val streamStreamJoin = Op(
    "stream_stream_join",
    (s, d) => {
      def slice(df: DataFrame) = df.filter(col("user_id") % 8 === 0)
      val clicks = slice(readEventsStream(s, d))
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val purchases = slice(readEventsStream(s, d))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = purchases.join(clicks,
          col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("purchase_ts"), col("click_ts"))
      runToMemory(s, joined, "graft_stream_sjoin", mode = "append")
        .orderBy(col("purchase_id"), col("click_id"))
    },
    None
  )

  /** Stream-stream LEFT OUTER watermarked join — the outer variant is the
    * genuinely hard stateful case: an unmatched purchase can only be
    * emitted (with NULL click) once the watermark PROVES no matching click
    * can still arrive, i.e. outer results materialize on state eviction,
    * not on data arrival. A single-batch replay would therefore never emit
    * them — the watermark is only recomputed between micro-batches. The op
    * replays in two phases (maxFilesPerTrigger=1, mtime-pinned order like
    * stream_late_data_policy): phase 1 is the real 1/8-user slice, phase 2
    * a pair of sentinel rows 3 h past the data's end whose only job is to
    * advance both sides' watermarks so every buffered row evicts and all
    * outer rows flush. Sentinels use user_id 0 (passes the slice) with
    * negative event_ids and are filtered from the result. Oracle-exempt;
    * ExemptSpec asserts exact equality with the batch LEFT JOIN twin —
    * matched pairs AND null-extended unmatched purchases.
    */
  val streamStreamOuterJoin = Op(
    "stream_stream_outer_join",
    (s, d) => {
      val tmp = T.scratch("sjoin_outer_replay")
      val ev = T.events(s, d).filter(col("user_id") % 8 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      ev.coalesce(1).write.mode("overwrite").parquet(s"$tmp/a_data")
      val flushTs = flushTsFor(s, d)
      import s.implicits._
      Seq((-1L, flushTs, 0L, "click"), (-2L, flushTs, 0L, "purchase"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/b_flush")
      // pin arrival order: the flush batch must be processed second
      val aTime = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$tmp/a_data"))
      val bumped = java.nio.file.attribute.FileTime.fromMillis(aTime.toMillis + 60000)
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/b_flush")).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p, bumped)
      }
      def src = s.readStream.schema(
          StructType(Seq(
            StructField("event_id", LongType), StructField("ts", TimestampType),
            StructField("user_id", LongType), StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/*")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("purchase_ts", "10 minutes")
      val joined = purchases.join(clicks,
          col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("user_id"), col("purchase_id"), col("click_id"))
      runToMemory(s, joined, "graft_stream_sjoin_outer", mode = "append")
        .filter(col("purchase_id") >= 0) // drop the flush sentinel
        .orderBy(col("purchase_id"), col("click_id"))
    },
    None
  )

  /** Trending top-k per time window (r5) — the live-dashboard staple
    * ("what's hot this hour"): tumbling-hour counts per (window,
    * event_type, user-decile segment), then the top-3 segments per window
    * by count with a deterministic tie-break. Batch form is the semantics
    * contract (tier-1, fully oracled); in production the windowed count
    * runs as the streaming aggregation (stream_tumbling_1h's exact shape)
    * and the small per-window rank lives in foreachBatch over the
    * ≤|windows|·|segments| aggregate — ranking state never touches raw
    * events. The rank partitions by window (bounded rows per window), so
    * no global sort anywhere.
    */
  val streamTrendingTopk = Op(
    "stream_trending_topk",
    (s, d) => {
      val seg = concat(col("event_type"), lit("#"), (col("user_id") % 10).cast("string"))
      val counts = T.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), seg.as("segment"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("wstart"), col("segment"), col("n_events"))
      counts
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("wstart"))
            .orderBy(col("n_events").desc, col("segment"))))
        .filter(col("rnk") <= 3)
        .orderBy(col("wstart"), col("rnk"))
    },
    Some("""
      WITH c AS (
        SELECT date_trunc('hour', ts) AS wstart,
               event_type || '#' || CAST(user_id % 10 AS VARCHAR) AS segment,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT wstart, segment, n_events,
               ROW_NUMBER() OVER (PARTITION BY wstart
                                  ORDER BY n_events DESC, segment) AS rnk
        FROM c)
      SELECT wstart, segment, n_events, CAST(rnk AS INTEGER) AS rnk
      FROM r WHERE rnk <= 3
      ORDER BY wstart, rnk
    """)
  )

  /** Custom keyed state via flatMapGroupsWithState — the escape hatch for
    * state machines no built-in stateful operator expresses (here: running
    * per-user event/purchase counters, emitted in Update mode on every
    * micro-batch). State is a 16-byte tuple per user, hash-partitioned by
    * the group key and persisted in the state store — bounded, mergeable,
    * and independent of history length, which is what lets the pattern run
    * forever at 100 TB/day. The final-state read-back aggregates with max()
    * over the update stream (counters are monotone, so max = latest),
    * making the op's output independent of HOW the source was micro-batched
    * — that invariance is what lets a stateful streaming op be hash-oracled
    * at all.
    */
  val streamCustomState = Op(
    "stream_custom_state",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val ev = readEventsStream(s, d).filter(col("user_id") % 8 === 0)
        .select(col("user_id"), col("event_type")).as[(Long, String)]
      val updated = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
            var (ne, np) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { case (_, t) => ne += 1; if (t == "purchase") np += 1 }
            state.update((ne, np))
            Iterator((uid, ne, np))
        }.toDF("user_id", "n_events", "n_purchases")
      runToMemory(s, updated, "graft_stream_custom_state", mode = "update")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"), max(col("n_purchases")).as("n_purchases"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases
      FROM events WHERE user_id % 8 = 0
      GROUP BY user_id ORDER BY user_id
    """)
  )

  /** State TTL via event-time timeout (r7) — the mechanism that keeps a
    * stateful stream's store BOUNDED: without expiry, per-key state for a
    * 100 TB keyspace grows forever; with `GroupStateTimeout.EventTimeTimeout`
    * each key's state carries a deadline (last activity + 30 min) and the
    * runtime hands the group back — `hasTimedOut`, no rows — once the
    * WATERMARK passes it, which is when the final record emits and the
    * state is removed. Emission happens ONLY on expiry (Append mode), so
    * the oracle is a proof the TTL machinery fired for every key exactly
    * once with exactly the final state: a key whose timeout never fires is
    * a missing row, a double-fire is a duplicate — both hash mismatches.
    * Replay is two-phase (mtime-pinned sentinel 3 h past the data, the
    * stream_stream_outer_join idiom) so the watermark actually advances
    * past every deadline; the sentinel key filters out of the result.
    */
  val streamStateTtl = Op(
    "stream_state_ttl",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val tmp = T.scratch("state_ttl_replay")
      val ev = T.events(s, d).filter(col("user_id") % 8 === 3)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      ev.coalesce(1).write.mode("overwrite").parquet(s"$tmp/a_data")
      val flushTs = flushTsFor(s, d)
      Seq((-1L, flushTs, -1L, "click"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/b_flush")
      val aTime = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$tmp/a_data"))
      val bumped = java.nio.file.attribute.FileTime.fromMillis(aTime.toMillis + 60000)
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/b_flush")).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p, bumped)
      }
      val src = s.readStream.schema(
          StructType(Seq(
            StructField("event_id", LongType), StructField("ts", TimestampType),
            StructField("user_id", LongType), StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/*")
        // the watermark column must SURVIVE into the grouped Dataset —
        // projecting it away detaches the event-time watermark and
        // EventTimeTimeout refuses to run
        .withWatermark("ts", "10 minutes")
        .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
      def micros(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
      val expired = src.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
            (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
             state: GroupState[(Long, Long, Long)]) =>
              if (state.hasTimedOut) {
                val (n, first, last) = state.get
                state.remove()
                Iterator((uid, n, (last - first) / 60000000L))
              } else {
                var (n, first, last) =
                  state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
                rows.foreach { case (_, t) =>
                  val us = micros(t)
                  n += 1
                  if (us < first) first = us
                  if (us > last) last = us
                }
                state.update((n, first, last))
                // deadline = last activity + 30 min, re-armed every batch
                state.setTimeoutTimestamp(last / 1000L + 30L * 60000L)
                Iterator.empty
              }
        }.toDF("user_id", "n_events", "span_min")
      runToMemory(s, expired, "graft_stream_state_ttl", mode = "append")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_events,
             (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 60000000 AS span_min
      FROM events WHERE user_id % 8 = 3
      GROUP BY user_id ORDER BY user_id
    """)
  )

  /** Stream-static enrichment — the most common production streaming shape:
    * an unbounded event stream joined to a bounded dimension table (here a
    * derived nation assignment) with the static side BROADCAST, so the
    * stream side never shuffles and the join is stateless (no watermark, no
    * state store — each micro-batch joins independently). Because it is
    * stateless and append-mode, the streaming result is row-identical to
    * the batch join, which makes this the one streaming op that can be
    * FULLY oracled rather than batch-twin-tested. Deterministic 1/4 user
    * slice bounds the replay cost.
    */
  val streamStaticEnrich = Op(
    "stream_static_enrich",
    (s, d) => {
      val dim = T.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val enriched = readEventsStream(s, d)
        .filter(col("user_id") % 4 === 0)
        .join(broadcast(dim), pmod(col("user_id"), lit(25)) === col("n_nationkey"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("n_name"))
      runToMemory(s, enriched, "graft_stream_enrich", mode = "append")
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, event_type, n_name
      FROM events JOIN nation ON user_id % 25 = n_nationkey
      WHERE user_id % 4 = 0 ORDER BY event_id
    """)
  )

  /** Incremental file ingest with exactly-once semantics — the production
    * "process only what's new" ETL loop: a checkpointed file-source stream
    * run with Trigger.AvailableNow drains everything currently in the
    * landing directory and stops; when the next generation of files lands,
    * re-running with the SAME checkpoint processes ONLY the new files (the
    * source log records what was consumed). Two generations are replayed
    * here; the sink read-back contains every row EXACTLY once, which is
    * what the oracle hash-proves — without the checkpoint the second run
    * would re-ingest generation 1 and the hash would differ. At scale this
    * is the no-reprocessing ingest pattern for a continuously-landing
    * 100 TB corpus (checkpoint size tracks file count, not data volume).
    */
  val streamIncrementalIngest = Op(
    "stream_incremental_ingest",
    (s, d) => {
      import java.nio.file.{Files, Path, Paths}
      val root = Paths.get(T.scratch("incr_ingest"))
      // reset THIS op's state from any earlier invocation in the sweep
      // (checkpoint reuse across invocations would skip generation 1)
      if (Files.exists(root)) {
        import java.util.Comparator
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close() // NIO streams hold a directory fd until closed
      }
      val slice = T.events(s, d).filter(col("user_id") % 8 === 1)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val src = s"$root/src"
      slice.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(src)
      val srcSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType)))
      def drainOnce(): Unit = {
        val q = s.readStream.schema(srcSchema)
          .option("pathGlobFilter", "*.parquet").parquet(src)
          .writeStream.format("parquet")
          .option("path", s"$root/sink")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      drainOnce()
      // generation 2 lands as new files in the same directory
      slice.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/staging")
      val staged = Files.list(Paths.get(s"$root/staging"))
      try staged.forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, Paths.get(src, "gen2_" + p.getFileName.toString))
        ()
      } finally staged.close()
      drainOnce()
      s.read.parquet(s"$root/sink")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, event_type
      FROM events WHERE user_id % 8 = 1 ORDER BY event_id
    """)
  )

  /** CDC upsert apply (r3c) — the change-feed consumer every serving table
    * sits behind: the event stream is treated as a keyed change feed
    * ((user_id, event_type) is the key), split into 3 generation files and
    * replayed one file per micro-batch; each batch MERGEs into the keyed
    * state table via foreachBatch — union current state with the batch,
    * keep the latest row per key (ts desc, event_id desc), overwrite.
    * Latest-wins merge is associative and commutative, so the FINAL state
    * is independent of batch boundaries and arrival order — which is what
    * makes this op fully ORACLED (the batch twin is dedup_keyed_latest's
    * shape on the same slice), unlike the windowed streaming demos. The
    * localCheckpoint before the overwrite breaks the read-your-own-input
    * lineage (Spark refuses to overwrite a path it is reading). At scale
    * this is the foreachBatch-MERGE idiom every lakehouse CDC pipeline
    * runs; state per batch is one key-partitioned join+window.
    */
  val streamCdcUpsert = Op(
    "stream_cdc_upsert",
    (s, d) => {
      val feed = T.scratch("cdc_feed")
      val state = T.scratch("cdc_state")
      val src = T.events(s, d).filter(col("user_id") % 8 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      // 3 generation files -> 3 micro-batches (maxFilesPerTrigger=1);
      // the first write overwrites so stale feed files can't linger
      for (g <- 0 to 2)
        src.filter(pmod(col("event_id"), lit(3)) === g)
          .coalesce(1).write.mode(if (g == 0) "overwrite" else "append").parquet(feed)
      val feedSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val stream = s.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      withPinnedStatePartitions(s) {
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            // batchId 0 ignores any state left by a previous invocation
            // (checkpointless streams restart batch ids at 0)
            val current =
              if (batchId > 0 && new java.io.File(state).exists)
                s.read.schema(feedSchema).parquet(state)
              else s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), feedSchema)
            val w = Window.partitionBy(col("user_id"), col("event_type"))
              .orderBy(col("ts").desc, col("event_id").desc)
            val merged = current.unionByName(batch.toDF())
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
              .localCheckpoint(true)
            merged.write.mode("overwrite").parquet(state)
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.schema(feedSchema).parquet(state)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""
      SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id % 8 = 0)
      WHERE rn = 1
      ORDER BY user_id, event_type
    """)
  )

  /** Custom DSv2 source in STREAMING mode (r8) — `graft.sources.RangeLedger`
    * read via `readStream`: offsets are plain id positions, each trigger
    * admits `batchRows` ids (ReadLimit.maxRows admission control, honored
    * by Trigger.AvailableNow through SupportsTriggerAvailableNow), so the
    * 100k-row ledger drains in 3 micro-batches of ≤ 40k through the SAME
    * range-partition readers the batch scan uses — one source definition,
    * both execution modes, and replayable offsets (planInputPartitions is
    * a pure function of the offset pair, which is what exactly-once
    * recovery asks of a source). The sink parquet is then batch-aggregated;
    * the oracle is the range() twin of the whole drain. A §5 test pins the
    * 3-batch offset log.
    */
  val streamDsv2Source = Op(
    "stream_dsv2_source",
    (s, d) => {
      import java.nio.file.{Files, Path, Paths}
      val root = Paths.get(T.scratch("dsv2_stream"))
      if (Files.exists(root)) {
        import java.util.Comparator
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      }
      val q = s.readStream.format("graft.sources.RangeLedger")
        .option("rows", "100000").option("slices", "4")
        .option("batchRows", "40000").load()
        .filter(col("day") < 50)
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(s"$root/sink")
        .groupBy((col("bucket") % 10).as("b10"))
        .agg(count(lit(1)).as("n"), sum(col("units")).as("sum_units"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("b10"))
    },
    Some("""
      SELECT CAST(bucket % 10 AS INTEGER) AS b10, COUNT(*) AS n,
             CAST(SUM(units) AS BIGINT) AS sum_units,
             MIN(id) AS min_id, MAX(id) AS max_id
      FROM (
        SELECT range AS id,
               CAST(range % 97 AS INTEGER) AS bucket,
               CAST(range % 365 AS INTEGER) AS day,
               (range * 2654435761) % 1000000 AS units
        FROM range(0, 100000))
      WHERE day < 50
      GROUP BY 1 ORDER BY b10
    """)
  )

  val ops: Vector[Op] = Vector(
    streamDsv2Source,
    streamTumbling1h, streamSliding1h15m, streamSessionize30m,
    streamStructuredTumbling, streamDedupWatermark, streamLateDataPolicy,
    streamSessionWindow, streamForeachBatchSink, streamStreamJoin,
    streamStreamOuterJoin, streamCustomState, streamStaticEnrich,
    streamIncrementalIngest, streamCdcUpsert, streamTrendingTopk,
    streamStateTtl)
}
