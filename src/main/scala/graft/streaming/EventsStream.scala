package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming extension (SURVEY.md §2.10 — the reference is pure
  * batch; this is the streams capability a 100 TB pipeline needs).
  *
  * Both jobs are the streaming twins of the batch-verified EventQueries:
  * the tumbling-window aggregate mirrors q_events_window, the stateful
  * sessionizer mirrors q_events_sessionize — StreamingSpec asserts the
  * equivalence on the same input.
  *
  * Scale notes: the windowed agg is partial-aggregated per micro-batch and
  * keyed state is bounded by the watermark (late data beyond 2h dropped,
  * state evicted). Sessionization state is one small case class per active
  * user, evicted on event-time timeout — no unbounded growth.
  */
object EventsStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionId: Long, lastSec: Long, nEvents: Long, total: Double)
  case class Session(user_id: Long, session_id: Long, n_events: Long, total_value: Double)

  /** Tumbling 1-hour window counts with a 2-hour watermark. */
  def hourlyWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState): emits a session when a gap > `gapSec` closes
    * it. Open sessions stay in state (flushed on timeout in production; in
    * tests the open tail is excluded from the equivalence check).
    * Requires events within a user's group to arrive time-ordered per
    * micro-batch, which `processAllAvailable` over sorted sources gives. */
  def sessionize(events: Dataset[Event], gapSec: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0.0))
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          for (e <- sorted) {
            val sec = e.ts.getTime / 1000L
            if (st.nEvents > 0L && sec - st.lastSec > gapSec) {
              closed += Session(userId, st.sessionId, st.nEvents, st.total)
              st = SessionState(st.sessionId + 1, sec, 1L, e.value)
            } else if (st.nEvents == 0L) {
              st = SessionState(st.sessionId + 1, sec, 1L, e.value)
            } else {
              st = st.copy(lastSec = sec, nEvents = st.nEvents + 1, total = st.total + e.value)
            }
          }
          state.update(st)
          closed.iterator
      }
  }

  /** [[sessionize]] with event-time timeout: open sessions are EMITTED
    * (not just held) once the watermark passes their last event + gap —
    * the production semantics where every session eventually leaves the
    * pipeline. State per user is one SessionState, registered for timeout
    * at `lastSec + gapSec`; the timeout branch emits the session and
    * removes the state, so memory is bounded by *active* users only.
    * Requires a watermark upstream (set here) for EventTimeTimeout. */
  def sessionizeWithTimeout(events: Dataset[Event], gapSec: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(Session(userId, st.sessionId, st.nEvents, st.total))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0.0))
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            for (e <- sorted) {
              val sec = e.ts.getTime / 1000L
              if (st.nEvents > 0L && sec - st.lastSec > gapSec) {
                closed += Session(userId, st.sessionId, st.nEvents, st.total)
                st = SessionState(st.sessionId + 1, sec, 1L, e.value)
              } else if (st.nEvents == 0L) {
                st = SessionState(st.sessionId + 1, sec, 1L, e.value)
              } else {
                // max(): a late (out-of-order across micro-batches) event
                // still counts toward the session but must never move
                // lastSec BACKWARDS — that would shrink the timeout
                // horizon and diverge from the batch sessionize ordering
                // (flatMapGroupsWithState does not drop below-watermark
                // rows for us).
                st = st.copy(lastSec = math.max(st.lastSec, sec),
                  nEvents = st.nEvents + 1, total = st.total + e.value)
              }
            }
            state.update(st)
            // fire once no on-time event can extend this session; clamped
            // above the current watermark (setTimeoutTimestamp rejects
            // timestamps the watermark has already passed)
            state.setTimeoutTimestamp(math.max(
              (st.lastSec + gapSec) * 1000L + 1000L,
              state.getCurrentWatermarkMs() + 1000L))
            closed.iterator
          }
      }
  }

  /** File-source streaming read of an events parquet directory. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Streaming MERGE sink: every micro-batch is upserted by `keys` into a
    * snapshot-versioned table via foreachBatch — the CDC / incremental-
    * refresh pattern (streaming counterpart of the reference's batch
    * full-refresh overwrite). Each batch yields one new atomic snapshot,
    * so readers flip between consistent versions and never observe a
    * half-applied batch; the stream checkpoint makes delivery
    * effectively-once at the table level (a replayed batch re-merges the
    * same rows idempotently). Caller contract: rows within a batch are
    * unique per key (pre-aggregate the changelog if not). */
  def upsertSink(updates: DataFrame, root: String, keys: Seq[String],
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, _) => {
      if (batch.isEmpty) ()
      else if (graft.sources.VersionedTable.latestVersion(root).isEmpty)
        graft.sources.VersionedTable.write(batch.toDF(), root)
      else
        graft.sources.VersionedTable.merge(batch.sparkSession, root, batch.toDF(), keys)
      ()
    }
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(applyBatch)
      .start()
  }

  /** Insert-only streaming ingestion sink: each micro-batch lands as ONE
    * O(batch) APPEND commit ([[graft.sources.VersionedTable.append]]) —
    * at 100 TB this is the streaming fact-table path: commit cost scales
    * with the batch, not the table, unlike [[upsertSink]]'s merge
    * (whose rewrite is the price of updates; route insert-only streams
    * here). Appends are NOT idempotent, so replay safety follows the
    * [[applyAggDelta]] contract: the applied batch id commits atomically
    * INSIDE each snapshot's metadata, and a replayed batch id ≤ the live
    * snapshot's is a no-op. compact() folds the accreted chain. */
  def appendSink(rows: DataFrame, root: String,
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, id) => {
      if (!batch.isEmpty) {
        val live = graft.sources.VersionedTable.latestVersion(root)
        // chain-walking watermark: a non-sink commit (merge/DELETE)
        // interleaved between appends carries no _batch — a tip-only
        // read would resolve None and double-append on crash replay
        val applied = graft.sources.VersionedTable.readMetaLatest(root, "_batch")
          .map(_.trim.toLong)
        if (applied.exists(_ >= id)) ()
        else if (live.isEmpty)
          graft.sources.VersionedTable.write(batch.toDF(), root,
            metaFiles = Map("_batch" -> id.toString))
        else
          graft.sources.VersionedTable.append(batch.toDF(), root,
            metaFiles = Map("_batch" -> id.toString))
      }
      ()
    }
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(applyBatch)
      .start()
  }

  /** Streaming ANN ingestion: each micro-batch of (vec_id, embedding)
    * rows is assigned against the FIXED coarse quantizer and appended
    * into the partitioned IVF layout ([[graft.llm.IvfIndex.append]]) —
    * new files land inside their cent_id= directories, so probes (and
    * their static partition pruning) see each batch as soon as it
    * commits, with no rebuild. Centroids stay fixed across batches (the
    * FAISS ingestion convention); re-training is an offline rebuild. */
  def ivfAppendSink(vectors: DataFrame, centroids: DataFrame, path: String,
                    checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, _) =>
      if (!batch.isEmpty) graft.llm.IvfIndex.append(batch.toDF(), centroids, path)
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(applyBatch)
      .start()
  }

  /** Stream-stream inner join with event-time range: pair each 'purchase'
    * with 'click' events by the same user within the preceding hour. Both
    * sides carry watermarks so join state is evicted once the time range
    * can no longer match — the bounded-state pattern for correlating two
    * live streams (e.g. impressions ⋈ conversions) at scale. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("value"))
  }

  /** Streaming exact deduplication on `idCols` with bounded state: the
    * watermark lets Spark evict seen-keys older than the lateness bound,
    * so state stays proportional to the dedup window, not the stream
    * history — the streaming twin of the batch exact-dedup operator and a
    * core ingestion guard for a training-data pipeline. */
  def dedupStream(events: DataFrame, idCols: Seq[String]): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicates(idCols :+ "ts")

  /** Streaming CONTENT dedup for document ingestion: the dedup key is
    * md5 of the payload (the batch exact-dedup key, TextOps.exactKey),
    * via `dropDuplicatesWithinWatermark` — unlike dropDuplicates(key, ts)
    * the key set excludes the event-time column, so a re-ingested
    * duplicate with a DIFFERENT timestamp still collapses, while state
    * evicts keys older than the delay regardless. This is the ingestion
    * guard in front of a training corpus: exact re-crawls die here, the
    * batch MinHash/SimHash pass handles near-dups downstream. */
  def dedupContentStream(docs: DataFrame, tsCol: String, payloadCol: String,
                         delay: String = "2 hours"): DataFrame =
    docs.withWatermark(tsCol, delay)
      .withColumn("content_key", md5(col(payloadCol).cast("binary")))
      .dropDuplicatesWithinWatermark("content_key")

  /** Apply ONE changelog micro-batch to a versioned AGGREGATE view —
    * the streaming twin of q_incremental_agg's materialized-view delta
    * maintenance. `batch` rows are (grp, op, measure) with op = +1
    * insert / −1 retraction and an integer measure; the batch partially
    * aggregates to per-group (Σop, Σop·measure) and MERGES into the
    * current aggregate by ADDITION (n += Σop, sum += Σop·measure);
    * groups whose count nets to exactly 0 drop out of the view, while
    * NEGATIVE counts (an out-of-order retraction ahead of its insert)
    * are kept as visible retraction debt so the view converges once
    * the insert lands. The base facts
    * are never read — the working set is the (group-cardinality-sized)
    * view plus the delta, at any base size.
    *
    * Additive merges are NOT idempotent, so replay safety cannot come
    * from the merge itself (unlike [[upsertSink]]'s replace-by-key):
    * the applied batch id is committed INSIDE the snapshot via
    * [[graft.sources.VersionedTable.write]]'s metaFiles (written before
    * the atomic pointer flip), and a batch with id ≤ the live
    * snapshot's recorded id is a no-op. Crash between data write and
    * pointer flip leaves an orphan version directory the next write
    * skips past — the replayed batch then re-applies against the OLD
    * live snapshot, exactly once either way. */
  def applyAggDelta(root: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // Hadoop-FS chain-walking read (VersionedTable.readMetaLatest), so
    // the maintained view's root can live on any Hadoop-supported
    // filesystem AND an interleaved non-sink commit can't hide the
    // applied watermark
    val applied = graft.sources.VersionedTable.readMetaLatest(root, "_batch")
      .map(_.trim.toLong)
    if (applied.exists(_ >= batchId)) return
    val delta = batch.groupBy(col("grp")).agg(
      sum(col("op")).as("dn"),
      sum(col("op") * col("measure")).as("ds"))
    val cur =
      if (graft.sources.VersionedTable.latestVersion(root).isEmpty)
        delta.select(col("grp"), lit(0L).as("n"), lit(0L).as("sum_measure"))
          .limit(0)
      else graft.sources.VersionedTable.readLatest(spark, root)
    // n =!= 0, not n > 0: an out-of-order retraction that arrives before
    // its insert leaves n = −1 — dropping that row would lose the
    // retraction and make the later insert double-visible; keeping the
    // negative state means the stream converges to the true net once
    // the matching insert lands (net-zero groups still vanish)
    val merged = cur.join(delta, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sum_measure"), lit(0L)) + coalesce(col("ds"), lit(0L)))
          .as("sum_measure"))
      .filter(col("n") =!= 0)
    graft.sources.VersionedTable.write(merged, root,
      metaFiles = Map("_batch" -> batchId.toString))
    ()
  }

  /** Streaming aggregate-maintenance sink: every micro-batch of
    * changelog rows flows through [[applyAggDelta]] — each batch one
    * atomic snapshot of the maintained view, exactly-once under
    * checkpoint replay via the committed batch id. */
  def aggMaintSink(changes: DataFrame, root: String,
                   checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => if (!batch.isEmpty) applyAggDelta(root, batch.toDF(), id)
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(applyBatch)
      .start()
  }

  /** Streaming TextMedallion silver ingestion — the streaming twin of
    * [[graft.layers.TextMedallion.runSilver]], composed from verified
    * parts: the content-dedup guard (dedup STATE replaces the batch
    * corpus-global winner election), the [[graft.queries.LlmQueries
    * .filterReason]] quality/lang rules as a pure row filter, and the
    * exactly-once versioned MERGE per micro-batch ([[upsertSink]]).
    * Input schema: (doc_id, ts, text, lang). */
  def textSilverSink(docs: DataFrame, root: String, checkpoint: String,
                     delay: String = "2 hours")
      : org.apache.spark.sql.streaming.StreamingQuery =
    upsertSink(
      dedupContentStream(docs, "ts", "text", delay)
        .withColumn("reason", graft.queries.LlmQueries.filterReason)
        .filter(col("reason") === "keep")
        .select(col("doc_id"), col("text"), col("lang"),
          size(graft.llm.TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
      root, Seq("doc_id"), checkpoint)
}
