package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Upsert
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2.9). The reference is
  * batch-only — its closest semantic is incremental upsert of append
  * batches — so this module provides the streaming forms of the
  * engine's batch operators, built so each micro-batch reuses the
  * SAME batch logic (one definition of truth):
  *
  *  - [[hourlyRollup]]: watermarked tumbling-window aggregation — the
  *    streaming form of AppOps.eHourlyRollup. Append-mode capable:
  *    windows close when the watermark passes, so state is bounded.
  *  - [[dedupedStream]]: watermark + dropDuplicates on the event key —
  *    the streaming form of the load-path dedupe (SURVEY §2.5 W1).
  *  - [[upsertSink]]: foreachBatch → [[graft.operators.Upsert]] — the
  *    streaming form of the MERGE upsert (L2). Each micro-batch merges
  *    into the parquet target keyed like the reference MERGE.
  *  - [[viewPurchaseJoin]]: watermarked stream-stream interval join —
  *    the streaming form of the batch RangeJoin; event-time bounds let
  *    Spark expire buffered rows, keeping join state bounded.
  *  - [[userActivity]]: mapGroupsWithState running per-user state
  *    (event count, last seen, total value) with processing-time
  *    timeout — the custom-state escape hatch for semantics windows
  *    can't express.
  *  - [[closedSessions]]: flatMapGroupsWithState emitting a summary
  *    row ONLY when a session closes (0..n rows per group per batch) —
  *    the streaming twin of the batch [[graft.operators.Sessionize]],
  *    with event-time timeouts closing idle sessions at the watermark.
  *
  * Scale posture: all state is keyed (user_id / window start), so the
  * state store partitions by key across executors; watermarks bound
  * state size; no global state anywhere.
  */
object Streams {

  /** Event shape shared by the streaming operators (matches the
    * harness `events` table columns used here). */
  case class Event(event_id: Long, user_id: Long, event_type: String,
      ts: Timestamp, value: Double)

  case class UserActivity(user_id: Long, n_events: Long, total_value: Double,
      last_seen: Timestamp)

  case class SessionSummary(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Watermarked tumbling-hour rollup; `delay` caps late-arrival wait
    * (and therefore state retention). */
  def hourlyRollup(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("n_events"), col("total_value"))

  /** Streaming dedupe on the natural key, watermark-bounded.
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: with plain
    * dropDuplicates the event-time column must be part of the dedup
    * key for state to expire — a bare natural-key dedup accumulates
    * one state row per id FOREVER (the silent unbounded-state trap at
    * stream scale). The WithinWatermark form expires each key once the
    * watermark passes its first-seen time: state is bounded by the
    * horizon, and an id reappearing after the horizon counts as new —
    * the at-least-once-replay semantics a warehouse loader wants. */
  def dedupedStream(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Content-fingerprint streaming dedup — the streaming twin of the
    * batch exact-dedup fingerprint ([[graft.operators.TextDedup
    * .normalized]] → sha256): drops re-posted documents whose
    * normalized text already streamed within the watermark horizon.
    * Same bounded-state contract as [[dedupedStream]]. */
  def dedupedByContent(docs: DataFrame, delay: String = "2 hours",
      textCol: String = "text"): DataFrame =
    docs.withWatermark("ts", delay)
      .withColumn("fp", sha2(graft.operators.TextDedup.normalized(col(textCol)), 256))
      .dropDuplicatesWithinWatermark("fp")

  /** Per-user session windows (gap-based): events within `gap` of each
    * other merge into one session; the watermark closes sessions so
    * state stays bounded. Works identically on batch frames (session
    * windows are not streaming-only). */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
      delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** foreachBatch upsert sink: every micro-batch MERGEs into the
    * parquet directory at `targetPath` on `keys`. Latest batch wins
    * per key — identical semantics to the batch Upsert (and therefore
    * to the reference MERGE). Pass `partCol` to maintain a
    * hive-partitioned target through [[graft.operators.Upsert
    * .mergePartitionedPath]] instead: each micro-batch then rewrites
    * only the partitions it touches (the streaming form of
    * incremental MERGE a date-partitioned 100 TB sink needs —
    * without it every micro-batch pays a full target rewrite). */
  def upsertSink(events: DataFrame, targetPath: String, checkpoint: String,
      keys: Seq[String] = Seq("event_id"), partCol: Option[String] = None) =
    events.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // MERGE of an empty update set is the identity — skip the
        // read-modify-rewrite of the whole target for it. A replayed
        // file fully behind the watermark produces exactly this shape
        // (update mode emits nothing), so without the guard the
        // at-least-once path pays a full target rewrite per no-op
        // batch; the isEmpty probe is a limit-1 job. Exactly-once is
        // unaffected: a crash before/after a no-op commits the same
        // state either way (crash specs pin this).
        if (!batch.isEmpty)
          partCol match {
            case Some(pc) =>
              Upsert.mergePartitionedPath(batch.sparkSession, targetPath, batch, keys, pc)
            case None =>
              Upsert.mergeIntoPath(batch.sparkSession, targetPath, batch, keys)
          }
        ()
      }

  /** Watermarked stream-stream interval join — the streaming form of
    * [[graft.operators.RangeJoin]]: views joined to purchases of the
    * same user within `window` BEFORE the purchase. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire buffered rows once the watermark passes — state
    * stays bounded, the join runs as a keyed symmetric hash join
    * partitioned by user across executors. */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
      window: String = "1 hour", delay: String = "2 hours"): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", delay)
    v.join(p,
      v("user_id") === p("user_id") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $window") &&
        col("view_ts") <= col("purchase_ts"))
      .select(v("user_id"), col("purchase_id"), col("purchase_ts"),
        col("view_ts"), col("value"))
  }

  /** Arbitrary stateful op: running per-user activity via
    * mapGroupsWithState. State lives in the partitioned state store;
    * timeout reaps idle users. */
  def userActivity(events: Dataset[Event],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserActivity, UserActivity](timeout) {
        case (uid, batch, state: GroupState[UserActivity]) =>
          val prev = state.getOption.getOrElse(UserActivity(uid, 0L, 0.0, new Timestamp(0)))
          val evs = batch.toSeq
          val next = UserActivity(
            uid,
            prev.n_events + evs.size,
            prev.total_value + evs.map(_.value).sum,
            evs.map(_.ts).foldLeft(prev.last_seen)((a, b) => if (b.after(a)) b else a))
          state.update(next)
          next
      }
  }

  /** Closed-session emitter via flatMapGroupsWithState: each user's
    * live session is keyed state; a summary row is emitted only when
    * the session CLOSES — either a new event jumps the gap (closing
    * the previous session in-line) or the event-time watermark passes
    * `last event + gap` (EventTimeTimeout closes idle sessions — the
    * only reaper correct under watermark-bounded late data).
    *
    * Gap rule matches the batch [[graft.operators.Sessionize]] and
    * `session_window`: a diff of exactly `gapMs` starts a NEW session
    * (half-open windows). Within a batch events fold in event-time
    * order; an out-of-order event landing ≥ gap BEFORE the live
    * session (only possible when `delay` > gap) is emitted as its own
    * closed session rather than corrupting the live one. Emitted
    * rows are final — state is keyed, watermark-bounded, append-mode.
    */
  def closedSessions(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000,
      delay: String = "2 hours"): Dataset[SessionSummary] = {
    require(gapMs > 0, "closedSessions needs gapMs > 0")
    import events.sparkSession.implicits._
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionSummary, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator.single(closed)
          } else {
            val out = Seq.newBuilder[SessionSummary]
            var cur = state.getOption
            batch.toSeq.sortBy(_.ts.getTime).foreach { ev =>
              cur match {
                case None =>
                  cur = Some(SessionSummary(uid, ev.ts, ev.ts, 1L, ev.value))
                case Some(c) if ev.ts.getTime >= c.session_end.getTime + gapMs =>
                  out += c // the gap jump closes the live session now
                  cur = Some(SessionSummary(uid, ev.ts, ev.ts, 1L, ev.value))
                case Some(c) if ev.ts.getTime <= c.session_start.getTime - gapMs =>
                  // stale lone event beyond the gap BEFORE the live
                  // session: close it immediately, keep the live one
                  out += SessionSummary(uid, ev.ts, ev.ts, 1L, ev.value)
                case Some(c) =>
                  cur = Some(SessionSummary(uid,
                    if (ev.ts.before(c.session_start)) ev.ts else c.session_start,
                    if (ev.ts.after(c.session_end)) ev.ts else c.session_end,
                    c.n_events + 1, c.total_value + ev.value))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c.session_end.getTime + gapMs)
            }
            out.result().iterator
          }
      }
  }

  /** Session-conf scope shared by the catalog's file-stream gates:
    * pins the gate width (shuffle partitions = state-store partitions
    * = 2 — the documented per-gate rationale at each call site) and
    * the scratch-checkpoint conf pair, restoring every prior value on
    * exit. The pair (r16 interleaved A/B in one warm JVM, recorded in
    * OPTIMIZATION_r16.md — median 4.87→4.24 s on stream_join_views):
    *
    *  - `checkpoint.fileChecksum.enabled=false`: Spark 4.1 writes an
    *    integrity-checksum sidecar per checkpoint file. These gates'
    *    checkpoints are query-lifetime scratch on the RAM-backed fs,
    *    deleted when the gate returns — the sidecar buys nothing and
    *    costs one extra file create per offset/commit/state file per
    *    micro-batch. A production stream with a durable checkpoint on
    *    object storage keeps the default.
    *  - `noDataMicroBatches.enabled=false`: the trailing zero-row
    *    micro-batch exists to advance the watermark and EVICT expired
    *    state. Every catalog stream EMITS eagerly (inner join /
    *    dedup-on-first-sight / update-mode aggregation — none emit on
    *    eviction), so for a checkpoint that is deleted at gate end
    *    the eviction batch is pure fixed cost: one whole micro-batch
    *    of planning + state commit + WAL per stateful gate. A
    *    long-running production stream keeps the default so state is
    *    reaped between bursts.
    *
    * Results are oracle-pinned identical (the driver's DuckDB compare
    * re-certifies every gate); only machinery cost moves. `body`
    * receives the pre-pin shuffle-partition value — the stock gate
    * restores engine width inside foreachBatch for its batch models. */
  def withGateSession[T](spark: SparkSession)(body: String => T): T = {
    val scratchConfs = Seq(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prev = scratchConfs.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    scratchConfs.foreach(spark.conf.set(_, "false"))
    try body(prevParts)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Deterministic micro-batch fixture: write `chunks` as one
    * partitioned parquet job (`_b` = chunk index) and stamp each
    * chunk's files with ascending mtimes, so a
    * `readStream.option("maxFilesPerTrigger", 1)` source replays them
    * as in-order micro-batches. An empty chunk writes no partition
    * dir — the stream simply runs one fewer batch. Shared by every
    * streaming catalog gate (events merge/rollup/dedupe, the
    * stream-stream join, and the stock dim-maintenance gate).
    *
    * The write hash-partitions on `_b` instead of `coalesce(1)`:
    * coalesce PROPAGATES its 1-way parallelism upstream, so the
    * whole chunk synthesis (at the stock gate's sf100 that is the
    * full 273 M-row raw feed) ran in ONE task — measured as the
    * dominant cost of the sf100 `stock_stream_dim` entry, serial
    * compute + serial parquet encode of the entire corpus. A
    * `repartition(col("_b"))` keeps the synthesis at engine width
    * and funnels each chunk wholly into one writer task (one file
    * per chunk still holds — a chunk's rows can never split across
    * tasks), with distinct chunks encoding in parallel. Still one
    * job, and an empty chunk still writes no dir. 64 buckets so
    * 3–5 chunk indices rarely hash-collide into one writer. */
  def writeOrderedChunks(inDir: String, chunks: Seq[DataFrame]): Unit = {
    chunks.zipWithIndex.map { case (df, i) => df.withColumn("_b", lit(i)) }
      .reduce(_ unionByName _)
      .repartition(64, col("_b")).write.partitionBy("_b").parquet(inDir)
    chunks.indices.foreach { i =>
      val d = java.nio.file.Paths.get(inDir, s"_b=$i")
      if (java.nio.file.Files.isDirectory(d)) {
        val it = java.nio.file.Files.list(d).iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.toString.endsWith(".parquet"))
            java.nio.file.Files.setLastModifiedTime(f,
              java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
        }
      }
    }
  }

  /** readStream schema for a [[writeOrderedChunks]] layout: the data
    * schema plus the `_b` partition column. */
  def chunkSchema(data: DataFrame): org.apache.spark.sql.types.StructType =
    data.schema.add("_b", org.apache.spark.sql.types.IntegerType)
}
