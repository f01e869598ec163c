package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed rows for the S7 arbitrary-stateful operator (top level so
  * Spark's case-class Encoders can instantiate them). */
case class UserEvent(event_id: Long, ts_us: Long, user_id: Long,
                     event_type: String, value: Double)
case class ProfileState(n: Long, types: Seq[String], firstUs: Long,
                        lastUs: Long, vmin: Double, vmax: Double)
case class UserProfile(user_id: Long, n_events: Long, n_types: Int,
                       types: String, first_us: Long, last_us: Long,
                       vmin: Double, vmax: Double)

/** S1–S6 — the Structured Streaming surface (SURVEY §2.B streaming
  * declarations). Each operator is a pure transform over an unbounded
  * DataFrame — the same declarative plan Catalyst incrementalizes —
  * so the identical code runs on a file stream, Kafka, or a
  * MemoryStream in tests. Nothing here knows about sources or sinks.
  *
  * Scale posture: every stateful operator carries a watermark so
  * state is evicted as event time advances — unbounded state is the
  * streaming equivalent of the quadratic join (it dies at 100 TB /
  * unbounded retention). Aggregations shuffle once on their grouping
  * key, exactly like their batch counterparts.
  */
object Streams {

  /** S1 — tumbling 1-hour counts per event_type, 10-min watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** S2 — 1-hour windows sliding every 15 min: decimal-exact sum plus
    * event count per window (avg = sum/n is derived in one IEEE
    * division by the caller; the decimal sum keeps the aggregate
    * order-independent and engine-exact). */
  def slidingValueAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("sum_value"),
           count(lit(1)).as("n"))

  /** S3 — watermark + late data: append-mode tumbling counts. Only
    * windows whose end has passed the 10-minute watermark are emitted;
    * rows arriving later than the watermark are dropped. */
  def watermarkedTumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))

  /** S4 — session windows: 30-minute gap per user (must agree with the
    * batch sessionization Q17 — same gap, same >=-gap boundary rule). */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,6)")).as("sum_value"))

  /** S5 — streaming dedup on event_id; state for an id is kept only
    * within the watermark delay, so it is evicted as time advances
    * (dropDuplicates("event_id") alone would grow state forever). */
  def dedupByEventId(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** S6 — the reference's inverted index (Q1), incrementalized: Q1's
    * own per-task distinct (doc_id, word) pairs, grouped in update
    * mode. The posting list uses collect_set exactly like batch Q1
    * (R10/R11), which also drops the pairs two tasks both emit. */
  def incrementalInvertedIndex(docs: DataFrame): DataFrame =
    graft.queries.InvertedIndex.pairs(docs)
      .groupBy(col("word"))
      .agg(sort_array(collect_set(col("doc_id"))).as("doc_ids"))

  /** S7 — ARBITRARY stateful processing (`flatMapGroupsWithState`,
    * the custom-state tier of the streaming API the built-in
    * windows/dedup can't express): an incrementally-maintained
    * per-user profile — event count, sorted distinct event types,
    * first/last event time, min/max value. Every statistic is
    * order-independent (counts, set union, min/max), so the profile
    * is deterministic regardless of batch boundaries or iterator
    * order — the property that makes the operator verifiable against
    * a batch oracle.
    *
    * Scale posture: state per key is O(1) (six scalars + a ≤5-element
    * type list); EventTimeTimeout + the watermark evict users idle
    * past the delay, so state never grows unboundedly. */
  def userProfiles(events: DataFrame): Dataset[UserProfile] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      // ts rides along past the typed view (extra columns are fine
      // for as[]) — dropping it would drop the watermark the
      // event-time timeout requires.
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("ts"))
      .withWatermark("ts", "10 minutes")
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ProfileState, UserProfile](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[ProfileState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the watermark: evict, emit nothing
            Iterator.empty
          } else {
            val init = state.getOption.getOrElse(ProfileState(
              0L, Seq.empty, Long.MaxValue, Long.MinValue,
              Double.PositiveInfinity, Double.NegativeInfinity))
            val st = rows.foldLeft(init) { (s, e) =>
              ProfileState(
                s.n + 1,
                if (s.types.contains(e.event_type)) s.types
                else (s.types :+ e.event_type).sorted,
                math.min(s.firstUs, e.ts_us), math.max(s.lastUs, e.ts_us),
                math.min(s.vmin, e.value), math.max(s.vmax, e.value))
            }
            state.update(st)
            // Evict 10 min (event time) after the user's last event;
            // clamped above the current watermark (setting a timeout
            // at-or-before it is an error for long-idle users).
            state.setTimeoutTimestamp(math.max(
              st.lastUs / 1000 + 10 * 60 * 1000,
              state.getCurrentWatermarkMs() + 60 * 1000))
            Iterator(UserProfile(user, st.n, st.types.size,
              st.types.mkString(","), st.firstUs, st.lastUs, st.vmin, st.vmax))
          }
      }
  }

  /** S8 — stream-stream inner join: each click joined to the same
    * user's purchases landing within [click_ts, click_ts + 30 min].
    * Both inputs are watermarked and the join condition bounds event
    * time in BOTH directions, so Spark can evict buffered rows from
    * both state stores as the watermark advances — the unbounded-state
    * trap of stream-stream joins (a join without a time bound must
    * keep every row forever) is structurally avoided. One shuffle per
    * side, keyed by user_id.
    *
    * joinType "leftOuter" (S10): a click with no purchase in its
    * window is emitted null-extended only once the watermark passes
    * `click_ts + 30 min` — the point where the time bound proves no
    * future purchase can match — i.e. unmatched results surface with
    * watermark latency, the price of correctness on unbounded
    * streams. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
  }

  /** S9 — stream-static join: the unbounded event stream enriched
    * against a bounded dimension table (the classic at-scale pattern:
    * the static side is broadcast to every task — stateless, no
    * store, re-resolved per micro-batch), then aggregated per
    * (segment, event_type). The only stateful op is the aggregation;
    * the join itself keeps zero state. */
  def enrichedSegmentAgg(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,6)")).as("sum_value"))

  /** S6 sink: maintain the reference's 26 `<letter>.txt` files from
    * the incremental index — complete-mode foreachBatch republishes
    * the letter files on every micro-batch, so a reader always sees
    * the reference's exact output contract over all data so far. */
  def writeIndexLetterFiles(docs: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalInvertedIndex(docs)
      .select(col("word"),
        substring(col("word"), 1, 1).as("letter"),
        size(col("doc_ids")).cast("long").as("df"),
        col("doc_ids"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.TextCorpus.writeLetterFilesFromIndex(batch, outDir)
      }
      .start()
}
