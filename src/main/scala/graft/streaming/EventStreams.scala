package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events/documents tables: windowed
  * and session aggregations, custom state, streaming dedup, and a
  * stream-stream interval join, each driven through a real
  * micro-batch stream (file source → transforms → memory sink). At
  * scale the source becomes Kafka/queue and the sink a parquet/Delta
  * writer — the plan in between is unchanged.
  */
object EventStreams {

  /** Raw events schema AS STORED ON DISK, read from the parquet
    * footer rather than hardcoded: the streaming file source needs an
    * explicit schema, and a hardcoded one silently coerces whatever
    * the files actually contain (r4 incident: testdata regenerated
    * ts ns→µs, the hardcoded LongType schema handed back raw µs
    * values the ns→µs division then compressed 1000×). Reading the
    * footer keeps the stream's view identical to the batch reader's.
    */
  def rawEventSchema(s: SparkSession, dir: String): StructType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/events.parquet").schema
  }

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  // ---- shared micro-batch plumbing -----------------------------------

  /** The streaming file source requires a directory; stage the single
    * parquet file behind a temp-dir symlink. Returns the stream and
    * the dir to clean up after the run.
    */
  private def stagedStream(s: SparkSession, dir: String, file: String,
      schema: StructType): (DataFrame, java.nio.file.Path) = {
    val tmp = org.apache.spark.sql.graft.Scratch.dir("graft_stream")
    java.nio.file.Files.createSymbolicLink(
      tmp.resolve(file), java.nio.file.Paths.get(s"$dir/$file"))
    (s.readStream.schema(schema).parquet(tmp.toString), tmp)
  }

  /** events stream with ts normalized to TimestampType through the
    * same schema-adaptive branch as the batch loader
    * (graft.sources.Tables.normalizeEventTs) — batch and stream can
    * never diverge on the stored type again.
    */
  private def eventsStream(s: SparkSession, dir: String): (DataFrame, java.nio.file.Path) = {
    val (raw, tmp) = stagedStream(s, dir, "events.parquet", rawEventSchema(s, dir))
    (graft.sources.Tables.normalizeEventTs(raw), tmp)
  }

  /** Append a sentinel events file to a staged stream dir, with ts
    * written in the RAW on-disk type (long nanos or timestamp) so the
    * file matches the stream's footer-derived schema. rows =
    * (event_id, user_id, event_type).
    */
  private def appendSentinel(s: SparkSession, tmp: java.nio.file.Path,
      rawTs: DataType, at: java.time.Instant,
      rows: Seq[(Long, Long, String)]): Unit = {
    import s.implicits._
    val tsCol = rawTs match {
      case LongType => lit(at.getEpochSecond * 1000000000L)
      case t => lit(java.sql.Timestamp.from(at)).cast(t)
    }
    rows.toDF("event_id", "user_id", "event_type")
      .withColumn("ts", tsCol)
      .withColumn("value", lit(0.0))
      .withColumn("props", lit("{}"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("append").parquet(tmp.toString)
  }

  /** State-store shard count for the local streams. Stateful
    * operators allocate one state store per shuffle partition at
    * stream start (AQE never re-plans streams), so this is sized to
    * the stream's state volume, not to the batch workload's
    * parallelism. On a cluster, scale it with state size.
    */
  val StreamStatePartitions = 8

  /** Depth-first delete; the walk stream is closed (Files.walk holds
    * a directory handle until closed).
    */
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))
    finally walk.close()
  }

  /** Run `out` into a named memory sink to completion, then delete the
    * staged temp dir. Pins shuffle partitions to
    * [[StreamStatePartitions]] for the duration of the stream and
    * restores the session value after.
    */
  private def runToTable(s: SparkSession, name: String, mode: String,
      out: DataFrame, tmp: java.nio.file.Path): DataFrame = {
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    try {
      val q = out.writeStream.format("memory").queryName(name).outputMode(mode)
        .start()
      try {
        q.processAllAvailable()
      } finally {
        q.stop()
        deleteRecursively(tmp)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
  }

  // ---- aggregations ---------------------------------------------------

  /** Hourly windowed aggregation with a 1-hour watermark. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total"))

  def streamHourly(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    runToTable(s, "stream_hourly_sink", "complete", hourlyAgg(src), tmp)
      .orderBy(col("hour"), col("event_type"))
  }

  /** Streaming OBSERVABILITY — the per-micro-batch progress ledger
    * every production stream is monitored by (lag alerts, throughput
    * dashboards, state-size capacity planning all read this feed):
    * runs the hourly aggregation over a 3-file micro-batched source
    * (maxFilesPerTrigger=1 so there are real multiple batches) and
    * captures each batch's StreamingQueryProgress — input rows,
    * state rows, watermark — as a DataFrame. The instrumentation is
    * Spark's own query-progress API, not a side channel, so the
    * numbers are exactly what a metrics exporter would ship.
    * Ledger-conservation (Σ input rows across batches == corpus) is
    * the pinned invariant: progress that under- or over-counts is a
    * broken monitor.
    */
  def streamProgressMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (src, tmp) = eventsStream3(s, dir)
    val chk = org.apache.spark.sql.graft.Scratch.dir("graft_progress_chk")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    val progress = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    try {
      val q = hourlyAgg(src).writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk.toString)
        .format("noop")
        .start()
      try {
        q.processAllAvailable()
        q.recentProgress.foreach { p =>
          val stateRows =
            if (p.stateOperators.nonEmpty) p.stateOperators.map(_.numRowsTotal).sum
            else 0L
          progress += ((p.batchId, p.numInputRows, stateRows))
        }
      } finally {
        q.stop(); deleteRecursively(tmp); deleteRecursively(chk)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    progress.toSeq
      .filter(_._2 > 0) // trailing empty no-data batches carry no signal
      .toDF("batch_id", "input_rows", "state_rows")
      .orderBy(col("batch_id"))
  }

  /** events stream staged as 3 separate files with
    * maxFilesPerTrigger=1 — a genuinely multi-batch source.
    */
  private def eventsStream3(s: SparkSession, dir: String): (DataFrame, java.nio.file.Path) = {
    val tmp = org.apache.spark.sql.graft.Scratch.dir("graft_stream3")
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.withColumn("slice", pmod(xxhash64(col("event_id")), lit(3)))
      .write.partitionBy("slice").mode("overwrite").parquet(tmp.toString)
    val schema = s.read.parquet(tmp.toString).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString)
    (graft.sources.Tables.normalizeEventTs(src.drop("slice")), tmp)
  }

  /** Hourly event COUNTS maintained by the stream (the ingest-side
    * aggregate stream_anomaly's detection folds over).
    */
  def streamHourlyCounts(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
    runToTable(s, "stream_hourly_counts_sink", "complete", agg, tmp)
  }

  /** SLIDING-window streaming aggregate — 1-hour windows every 15
    * minutes, so each event lands in 4 overlapping windows: the
    * standard "smooth trailing rate" readout tumbling windows can't
    * give. Spark expands the event into its 4 window assignments
    * map-side (no self-join); state is O(types × open windows) and
    * the watermark closes windows 1 h after their end. Oracle
    * replays the same assignment arithmetic (floor-to-15-min minus
    * k·15 min, k = 0..3).
    */
  def streamSliding(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    runToTable(s, "stream_sliding_sink", "complete", agg, tmp)
      .orderBy(col("ws"), col("event_type"))
  }

  /** Gap-based sessionization through Structured Streaming's native
    * session windows: watermarked state store (complete mode —
    * session-window aggregation does not allow update). At scale the
    * state shards by user_id and the watermark bounds state size —
    * the streaming analogue of the batch `events_session_window` plan.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_trunc("minute", col("session_window.start")).as("start_min"),
        col("n_events"))

  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    runToTable(s, "stream_sessions_sink", "complete", sessionAgg(src), tmp)
      .orderBy(col("user_id"), col("start_min"))
  }

  /** Custom streaming state: per-user running (event count, value
    * total) via mapGroupsWithState — the escape hatch for session
    * logic no built-in window expresses. State shards by user_id
    * across the state store; each micro-batch folds only its new
    * rows into the group's state.
    */
  final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  def userStatsAgg(s: SparkSession)(events: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { r => n += 1; tot += r._2 }
          val next = UserStat(uid, n, tot)
          state.update(next)
          next
      }
      .toDF()
  }

  def streamUserStats(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    runToTable(s, "stream_user_stats_sink", "update", userStatsAgg(s)(src), tmp)
      .select(col("user_id"), col("n_events"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy(col("user_id"))
  }

  /** Streaming exact dedup: dropDuplicates on (source, fingerprint)
    * state, then per-source unique-document counts. At scale the
    * dedup state shards by fingerprint across the state store (with
    * dropDuplicatesWithinWatermark bounding it in time for unbounded
    * feeds).
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = stagedStream(s, dir, "documents.parquet", docsSchema)
    val out = src
      .select(col("source"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      .dropDuplicates("source", "fp")
      .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
    runToTable(s, "stream_dedup_sink", "complete", out, tmp)
      .orderBy(col("source"))
  }

  /** Streaming exact dedup with BOUNDED state:
    * dropDuplicatesWithinWatermark keeps a (key → first-seen) entry
    * only until the watermark passes its event time + delay, so the
    * state store stays finite on an unbounded feed — the production
    * variant of streamDedup's unbounded dropDuplicates state. Deduped
    * rows emit immediately (append), so the egress is stateless; the
    * per-type distinct-user counts are a batch fold over the sink.
    * The finite source loads as one micro-batch, so no state is
    * evicted mid-run and the result equals the exact batch distinct —
    * which is the oracle.
    */
  def streamDedupWithinWatermark(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    val out = src
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_type", "user_id")
      .select(col("event_type"), col("user_id"))
    runToTable(s, "stream_dedup_wm_sink", "append", out, tmp)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Production egress path: the hourly aggregation streamed through
    * foreachBatch into a real parquet table (complete mode → idempotent
    * overwrite per micro-batch), then read back from disk. Exercises
    * sink checkpointing and the parquet roundtrip; checked against the
    * identical oracle as the batch/memory-sink variants.
    */
  /** Streaming bitmap-cohort maintenance: the stream keeps the
    * (event_type, word_idx) → 64-bit user bitmap table current with
    * ONE stateful aggregate — bit_or is idempotent under duplicates,
    * so unlike a distinct-count the bitmap needs NO dedup state in
    * front of it (re-delivered events set an already-set bit). The
    * pairwise AND+popcount cohort-overlap readout then folds over
    * the sink view per refresh — the same "stream maintains the
    * aggregate, reader folds over the view" split as stream_anomaly.
    * Must equal the batch events_bitmap_cohort exactly (same oracle).
    */
  def streamBitmapCohort(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    val words = src
      .groupBy(col("event_type"), expr("user_id DIV 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 64 AS int)))").as("bits"))
    val bm = runToTable(s, "stream_bitmap_cohort_sink", "update", words, tmp)
    bm.toDF("type_a", "w", "bits_a")
      .join(bm.toDF("type_b", "w2", "bits_b"),
        col("w") === col("w2") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(expr("bit_count(bits_a & bits_b)")).cast("long").as("n_common"))
      .filter(col("n_common") > 0)
      .orderBy(col("type_a"), col("type_b"))
  }

  // per-process egress root: a concurrent test and bench JVM must not
  // overwrite each other's sink files (same reason as SourceOps)
  private lazy val sinkRoot: java.nio.file.Path =
    org.apache.spark.sql.graft.Scratch.dir("graft_sink")

  /** EXACTLY-ONCE file sink by idempotent batch replay — the
    * recovery contract production streaming jobs rely on: after a
    * crash, Structured Streaming re-runs the last uncommitted batch,
    * and the sink must absorb the duplicate delivery. Each
    * micro-batch writes its raw rows into a partition KEYED BY BATCH
    * ID with dynamic partition overwrite, so re-delivering a batch
    * rewrites its own partition instead of appending a duplicate.
    * The failure is SIMULATED, not assumed: after the stream
    * completes, the newest batch partition is read back and written
    * AGAIN through the same sink path (what a restarted job would
    * do), and the returned aggregate still hash-matches the plain
    * batch oracle — an append-mode sink would double that batch's
    * counts and fail the gate.
    */
  def streamIdempotentSink(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = stagedStream(s, dir, "events.parquet", rawEventSchema(s, dir))
    val events = graft.sources.Tables.normalizeEventTs(src)
    val dataDir = sinkRoot.resolve("idem_" + java.util.UUID.randomUUID().toString.take(8)).toString
    val chk = org.apache.spark.sql.graft.Scratch.dir("graft_idem_chk")
    val maxBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    def writeBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long): Unit =
      batch.withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dataDir)
    val q = events.select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", chk.toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatch(batch, id)
        maxBatch.updateAndGet(m => math.max(m, id)): Unit
      }
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      deleteRecursively(tmp)
      deleteRecursively(chk)
    }
    // simulate the crash-recovery re-delivery of the newest batch
    val last = maxBatch.get()
    val replay = s.read.parquet(dataDir)
      .filter(col("batch_id") === last)
      .drop("batch_id")
    writeBatch(replay, last)
    s.read.parquet(dataDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("hour"), col("event_type"))
  }

  def streamSinkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    val dataDir = sinkRoot.resolve("hourly").toString
    val chk = org.apache.spark.sql.graft.Scratch.dir("graft_sink_chk")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    try {
      val q = hourlyAgg(src).writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk.toString)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("overwrite").parquet(dataDir)
        }
        .start()
      try q.processAllAvailable() finally {
        q.stop()
        deleteRecursively(tmp)
        // checkpoints are per-run; a stale one would replay offsets
        // against a staged dir that no longer exists
        deleteRecursively(chk)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(dataDir).orderBy(col("hour"), col("event_type"))
  }

  /** Stream-stream inner join: purchases matched to the same user's
    * clicks within the preceding 30 minutes. Both sides watermarked
    * so the join state is bounded — matched pairs emit eagerly
    * (append mode), old click state is evicted once the watermark
    * passes the 30-minute range condition.
    */
  def streamClickPurchaseJoin(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
    runToTable(s, "stream_join_sink", "append", joined, tmp)
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Stream-stream LEFT OUTER join — the hard streaming join:
    * unmatched purchases can only emit on STATE EVICTION, when the
    * watermark proves no qualifying click can still arrive. With a
    * finite stream the watermark finishes at max(ts) − 1 h, so
    * purchases later than that can never be resolved either way;
    * the operator therefore restricts the purchase side to
    * ts ≤ max(ts) − 3 h (computed once from the source table — a
    * margin past delay + join range), making the emitted set exactly
    * the batch left join under the same cutoff. The oracle applies
    * the identical cutoff, so "every match found AND every
    * non-match null-extended" is what hash-matches.
    */
  def streamClickPurchaseLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val maxTs = graft.sources.Tables.events(s, dir)
      .agg(org.apache.spark.sql.functions.max(col("ts")))
      .collect()(0).getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(maxTs.toInstant.minusSeconds(3 * 3600))
    val (src, tmp) = eventsStream(s, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    // the sentinel purchase (user −1, below) must reach the watermark
    // operator: the global watermark is the MIN over both sides, and a
    // side's watermark can never pass its own newest row — without a
    // sentinel the latest real purchase would sit in state forever
    val purchases = src.filter(col("event_type") === "purchase")
      .filter(col("ts") <= lit(cutoff) || col("user_id") < 0)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "leftOuter")
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
    // custom two-phase runner: after the real data drains, append one
    // far-future sentinel event per SIDE (user −1 — the click joins
    // nothing, the sentinel purchase is filtered from the output) and
    // drain again. Both sides' watermarks then pass every real
    // deadline (the global watermark is their MIN) and the extra
    // cycles flush all remaining outer rows from state.
    val name = "stream_join_outer_sink"
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    try {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendSentinel(s, tmp, rawEventSchema(s, dir)("ts").dataType,
          maxTs.toInstant.plusSeconds(24 * 3600),
          Seq((-1L, -1L, "click"), (-2L, -1L, "purchase")))
        q.processAllAvailable()
      } finally {
        q.stop()
        deleteRecursively(tmp)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .filter(col("purchase_id") >= 0)
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Stream-stream FULL OUTER join — completes the streaming join
    * matrix (inner: stream_join; left outer: stream_join_outer):
    * matches emit eagerly, and BOTH sides' unmatched rows null-extend
    * on watermark-driven state eviction — so both sides need the
    * resolvability cutoff (a row newer than max(ts) − 3 h can never
    * be proven matchless before a finite stream's watermark stops)
    * and the per-side far-future sentinels that push the global
    * watermark (= MIN over sides) past every real deadline. Oracle =
    * the batch FULL JOIN under the identical cutoffs, hash-matched
    * including null-extensions on both sides.
    */
  def streamClickPurchaseFullJoin(s: SparkSession, dir: String): DataFrame = {
    val maxTs = graft.sources.Tables.events(s, dir)
      .agg(org.apache.spark.sql.functions.max(col("ts"))).collect()(0).getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(maxTs.toInstant.minusSeconds(3 * 3600))
    val (src, tmp) = eventsStream(s, dir)
    val clicks = src.filter(col("event_type") === "click")
      .filter(col("ts") <= lit(cutoff) || col("user_id") < 0)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .filter(col("ts") <= lit(cutoff) || col("user_id") < 0)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "fullOuter")
      .select(col("purchase_id"), col("click_id"),
        coalesce(col("p_user"), col("c_user")).as("user_id"))
    val name = "stream_join_full_sink"
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    try {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendSentinel(s, tmp, rawEventSchema(s, dir)("ts").dataType,
          maxTs.toInstant.plusSeconds(24 * 3600),
          Seq((-1L, -1L, "click"), (-2L, -1L, "purchase")))
        q.processAllAvailable()
      } finally {
        q.stop()
        deleteRecursively(tmp)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .filter(col("user_id") >= 0)
      .orderBy(col("purchase_id").asc_nulls_first, col("click_id").asc_nulls_first)
  }

  /** Open-session state for the flatMapGroupsWithState
    * sessionization: timestamps in µs, count of events folded in.
    */
  final case class OpenSession(start: Long, last: Long, n: Long)

  /** Custom gap sessionization via flatMapGroupsWithState with
    * EVENT-TIME TIMEOUTS — the full arbitrary-state API: closed
    * sessions emit as soon as a same-batch gap proves them over, and
    * the LAST session of each user emits from the timeout callback
    * when the watermark passes its gap deadline (state.hasTimedOut).
    * A finite stream's watermark never passes its own newest rows,
    * so the runner appends a far-future sentinel event (user −1,
    * filtered from the output) after the data drains — the extra
    * cycle fires every pending timeout. Oracle = the batch
    * session-window SQL: every real session provably closes.
    */
  def streamSessionsState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val GapUs = 30L * 60 * 1000000
    val maxTs = graft.sources.Tables.events(s, dir)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val (src, tmp) = eventsStream(s, dir)
    // the watermark column itself must reach the stateful operator —
    // carry ts through the typed projection alongside the µs value
    val ev = src
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withWatermark("ts", "1 hour")
      .as[(Long, java.sql.Timestamp, Long)]
    val sessions = ev.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val open = state.get
            state.remove()
            Iterator((uid, open.start, open.n))
          } else {
            // a batch's rows arrive unordered; sort within the batch
            // (bounded by the user's per-batch volume)
            val ts = rows.map(_._3).toArray
            java.util.Arrays.sort(ts)
            val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
            var cur = state.getOption.orNull
            ts.foreach { t =>
              if (cur == null) cur = OpenSession(t, t, 1)
              else if (t - cur.last > GapUs) {
                closed += ((uid, cur.start, cur.n))
                cur = OpenSession(t, t, 1)
              } else cur = OpenSession(cur.start, t, cur.n + 1)
            }
            if (cur != null) {
              state.update(cur)
              // fire once the watermark proves the gap elapsed
              state.setTimeoutTimestamp(cur.last / 1000 + 30 * 60 * 1000)
            }
            closed.iterator
          }
      }
      .toDF("user_id", "start_us", "n_events")
    val name = "stream_sessions_state_sink"
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    try {
      val q = sessions.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendSentinel(s, tmp, rawEventSchema(s, dir)("ts").dataType,
          maxTs.toInstant.plusSeconds(24 * 3600),
          Seq((-1L, -1L, "view")))
        q.processAllAvailable()
      } finally {
        q.stop()
        deleteRecursively(tmp)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name)
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_trunc("minute", timestamp_micros(col("start_us"))).as("start_min"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_min"))
  }

  /** CHAINED STATEFUL AGGREGATION — two time-window aggregates in
    * ONE streaming query (Spark's multiple-stateful-operator
    * support): the hourly rollup feeds a daily rollup of the hourly
    * partials. Append mode is what makes the cascade sound: an
    * hourly window flows downstream exactly once, when the watermark
    * finalizes it, so the daily operator only ever aggregates CLOSED
    * partials (update/complete would re-emit open windows and
    * double-count). A finite source's watermark never passes its
    * newest rows, so the runner appends a far-future sentinel after
    * the data drains — the sentinel's own hourly window never
    * finalizes, so it cannot reach the daily level. At scale this is
    * the streaming rollup cascade (minute→hour→day) that maintains
    * coarse grains from fine partials instead of re-scanning the raw
    * feed per grain: the daily operator's input is O(hours), not
    * O(events). Exact-integer outputs; the oracle replays hour→day.
    */
  def streamTwoLevel(s: SparkSession, dir: String): DataFrame = {
    val maxTs = graft.sources.Tables.events(s, dir)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val (src, tmp) = eventsStream(s, dir)
    val hourly = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(window(col("window"), "1 day"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("n_hours"))
      .select(col("window.start").as("day"), col("n"), col("n_hours"))
    val name = "stream_two_level_sink"
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    try {
      val q = daily.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        appendSentinel(s, tmp, rawEventSchema(s, dir)("ts").dataType,
          maxTs.toInstant.plusSeconds(72 * 3600), Seq((-1L, -1L, "wm_probe")))
        q.processAllAvailable()
      } finally {
        q.stop()
        deleteRecursively(tmp)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name).orderBy(col("day"))
  }

  /** State API v2 processor for the per-user running stats: one
    * named ValueState handle per key, no TTL, no timers. The typed
    * handle is initialized once per partition in init() — the v2
    * contract that lets one processor own several independently
    * evolvable state variables (vs mapGroupsWithState's single
    * opaque blob).
    */
  private class UserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), UserStat] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
    @transient private var agg: ValueState[UserStat] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[UserStat]("agg",
        org.apache.spark.sql.Encoders.product[UserStat], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStat] = {
      val prev = if (agg.exists()) agg.get() else UserStat(key, 0L, 0.0)
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { r => n += 1; tot += r._2 }
      val next = UserStat(key, n, tot)
      agg.update(next)
      Iterator.single(next)
    }
  }

  /** Per-user running stats through transformWithState — the Spark-4
    * arbitrary-state API (state v2): named typed state variables on
    * the RocksDB state store provider (required by the operator; the
    * conf is scoped to this runner and restored after). Semantics
    * identical to streamUserStats's mapGroupsWithState, re-expressed
    * against the API long-running production jobs target — named
    * handles, TTL, timers, and state evolution — so both state APIs
    * are first-class engine surface. Shares the batch per-user
    * oracle.
    */
  def streamUserStatsV2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val (src, tmp) = eventsStream(s, dir)
    val out = src.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserStatsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val res =
      try runToTable(s, "stream_user_stats_v2_sink", "update", out, tmp)
      finally prevProvider match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
    res.select(col("user_id"), col("n_events"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy(col("user_id"))
  }

  /** Late-data accounting under a watermark — the semantics every
    * production stream job must get right: after the first batch
    * (events with event_id % 3 ≠ 0) drains, the watermark stands at
    * max(batch1.ts) − 1 h; the second batch then delivers the
    * REMAINING rows "late", and the hourly aggregation accepts a late
    * row only if its window is still open (window_end > watermark) —
    * everything older is dropped by the state store, exactly as an
    * unbounded deployment would drop it. Append mode + a far-future
    * sentinel (event_type 'wm_probe') flushes every real window; the
    * sentinel's own window never finalizes, so it can't reach the
    * append-mode sink. The oracle replays the acceptance
    * rule in SQL: batch1 ∪ {late rows with hour+1h > wm}. The
    * batches are id-hash splits, so the run is deterministic.
    */
  def streamLateData(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    val maxTs = graft.sources.Tables.events(s, dir)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val tmp = org.apache.spark.sql.graft.Scratch.dir("graft_late")
    raw.filter(col("event_id") % 3 =!= 0)
      .coalesce(1).write.mode("append").parquet(tmp.toString)
    val src = s.readStream.schema(rawEventSchema(s, dir)).parquet(tmp.toString)
    // no sentinel filter here: Catalyst would push it BELOW the
    // watermark operator and the probe row would never advance the
    // clock. The sentinel's own far-future window never finalizes,
    // so it can't reach the append-mode sink anyway.
    val agg = graft.sources.Tables.normalizeEventTs(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
    val name = "stream_late_sink"
    s.streams.active.filter(_.name == name).foreach(_.stop())
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    try {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1 → watermark = max1 − 1 h
        raw.filter(col("event_id") % 3 === 0)
          .coalesce(1).write.mode("append").parquet(tmp.toString)
        q.processAllAvailable() // batch 2 arrives late
        appendSentinel(s, tmp, rawEventSchema(s, dir)("ts").dataType,
          maxTs.toInstant.plusSeconds(24 * 3600), Seq((-1L, -1L, "wm_probe")))
        q.processAllAvailable() // flush all real windows
      } finally {
        q.stop()
        deleteRecursively(tmp)
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.table(name).orderBy(col("hour"), col("event_type"))
  }

  /** Incremental batch ETL via Trigger.AvailableNow + a persistent
    * checkpoint — the "run the stream as a nightly job" pattern: each
    * invocation processes exactly the files that arrived since the
    * last run (source offsets live in the checkpoint), appends to a
    * parquet sink, and terminates. Run 1 sees the first half of
    * orders, run 2 ONLY the second half (pinned in ScalaTest via
    * lastProgress.numInputRows); the sink after both runs equals one
    * batch over the whole table, which is the oracle. At 100 TB this
    * is how backfills and nightly ingests avoid reprocessing: the
    * checkpoint, not a human, tracks what's been consumed. Returns
    * the per-run input row counts alongside the final aggregate.
    */
  def incrementalRuns(s: SparkSession, dir: String): (DataFrame, Seq[Long]) = {
    val root = org.apache.spark.sql.graft.Scratch.dir("graft_incr")
    val srcDir = root.resolve("src"); val sinkDir = root.resolve("sink")
    val chk = root.resolve("chk")
    val orders = graft.sources.Tables.orders(s, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runOnce(): Unit = {
      val schema = s.read.parquet(srcDir.toString).schema
      val q = s.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream
        .option("checkpointLocation", chk.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(sinkDir.toString)
        }
        .start()
      q.awaitTermination()
      counts += Option(q.lastProgress).map(_.numInputRows).getOrElse(0L)
    }
    orders.filter(col("o_orderkey") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(srcDir.toString)
    runOnce()
    orders.filter(col("o_orderkey") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(srcDir.toString)
    runOnce()
    val out = s.read.parquet(sinkDir.toString)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
      .localCheckpoint(eager = true)
    (out, counts.toSeq)
  }

  def streamIncremental(s: SparkSession, dir: String): DataFrame =
    incrementalRuns(s, dir)._1

  /** Stream-static enrichment join: each micro-batch of events joins
    * the STATIC customer dimension (broadcast — no state, no
    * watermark needed on the static side; Structured Streaming
    * re-plans the static subtree per batch, which is also how slowly
    * changing dims get picked up). The enriched stream then feeds a
    * per-nation running aggregate. The no-state join + stateful agg
    * combination is the canonical streaming-ETL shape.
    */
  def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    val (src, tmp) = eventsStream(s, dir)
    val dim = graft.sources.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val enriched = src
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("c_nationkey").as("nationkey"), col("n"), col("total"))
    runToTable(s, "stream_enrich_sink", "complete", enriched, tmp)
      .orderBy(col("nationkey"))
  }

  /** Streaming SCD-2 merge: price updates arrive as a file stream
    * (maxFilesPerTrigger=1 forces several micro-batches) and each
    * batch MERGEs into the persisted dimension — matching current
    * rows are closed (valid_to set, is_current=false) and the new
    * versions opened, non-matching history is carried forward. Each
    * batch writes a NEW versioned dim directory (atomic swap by
    * version pointer — the Delta/Iceberg commit shape without the
    * table format). The final table is byte-identical to the batch
    * q_scd2 result, so it shares that oracle verbatim.
    *
    * Scale note: rewriting the whole dim per batch is the honest
    * plain-parquet cost; a production deployment bounds the rewrite
    * by partitioning the dim on key ranges and rewriting only
    * partitions containing batch keys (or a MERGE-capable format).
    */
  def streamScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = org.apache.spark.sql.graft.Scratch.dir("graft_scd2")
    val updDir = root.resolve("updates")
    val tgt = graft.sources.Tables.orders(s, dir).select(
      col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
      lit("9999-12-31").as("valid_to"), lit(true).as("is_current"))
    // v0 of the dimension
    tgt.write.parquet(root.resolve("dim_v0").toString)
    // updates staged as 3 files → 3 micro-batches
    graft.sources.Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") + 1000, 2).as("price"))
      .repartition(3)
      .write.parquet(updDir.toString)
    val updSchema = s.read.parquet(updDir.toString).schema
    val chk = root.resolve("chk")
    @volatile var version = 0
    val q = s.readStream.schema(updSchema)
      .option("maxFilesPerTrigger", "1").parquet(updDir.toString)
      .writeStream
      .option("checkpointLocation", chk.toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sp = batch.sparkSession
        val dim = sp.read.parquet(root.resolve(s"dim_v$version").toString)
        val keys = batch.select(col("o_orderkey").as("u_key")).distinct()
        val closed = dim.filter(col("is_current"))
          .join(keys, col("o_orderkey") === col("u_key"), "left_semi")
          .withColumn("valid_to", lit("1998-06-01"))
          .withColumn("is_current", lit(false))
        val untouched = dim.filter(col("is_current"))
          .join(keys, col("o_orderkey") === col("u_key"), "left_anti")
        val history = dim.filter(!col("is_current"))
        val opened = batch
          .withColumn("valid_from", lit("1998-06-01"))
          .withColumn("valid_to", lit("9999-12-31"))
          .withColumn("is_current", lit(true))
          .select("o_orderkey", "price", "valid_from", "valid_to", "is_current")
        closed.unionAll(untouched).unionAll(history).unionAll(opened)
          .write.parquet(root.resolve(s"dim_v${version + 1}").toString)
        version += 1
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(root.resolve(s"dim_v$version").toString)
      .orderBy(col("o_orderkey"), col("valid_from"))
  }
}
