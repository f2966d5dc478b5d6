package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators over the events stream (ts, event_type,
  * user_id, value, props — the TESTDATA `events` table read as a stream).
  *
  * Design per the Spark streaming model: declarative readStream →
  * transforms → writeStream; event-time windows bounded by watermarks so
  * state is evicted and the job runs forever at constant memory — the
  * 100 TB/continuous-ingest design point. Custom state (sessionization)
  * uses flatMapGroupsWithState with event-time timeout: state size is
  * O(active sessions), not O(events).
  */
// Serializable: the FMGWS closures call the shared funnel fold methods
// ([[funnelStep]]/[[funnelOut]]), which makes the lambda capture the
// (stateless) module — Spark ships it inside the serialized task.
object EventStreams extends Serializable {

  case class Event(ts: Timestamp, event_type: String, user_id: Long,
                   value: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long,
                        value_sum: Double)

  /** Per-user session accumulator (public: Catalyst's state encoder
    * codegen instantiates it reflectively).
    */
  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Tumbling-window rollup with a watermark: late events beyond `lateness`
    * are dropped and window state is evicted — append-mode compatible.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), windowValueAvg)
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("value_avg"))

  /** 4-decimal window mean, engine-portable: exact DECIMAL sum (order
    * independent), one IEEE division, and the floor(x·10⁴+0.5) rounding
    * both engines compute bit-identically (q81's pattern — avg(double)
    * + round() can land either side of a half boundary depending on
    * summation order and the engine's rounding path).
    */
  private def windowValueAvg =
    (floor(sum(col("value").cast("decimal(18,6)")).cast("double")
             / count(lit(1)).cast("double") * 10000.0d + 0.5d) / 10000.0d)
      .as("value_avg")

  /** Event-time sessionization: a session closes after `gapMs` of
    * inactivity (enforced via event-time timeout against the watermark).
    * Emits one row per closed session. State per user is four scalars.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.last, t),
                                          s.n + 1, s.total + e.value))
                case Some(s) => // gap exceeded → close previous session
                  closed ::= SessionOut(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Late batches can make s.last + gapMs fall at or before the
              // current watermark, which EventTimeTimeout rejects (it would
              // be a timeout in the past) — clamp to just past the
              // watermark so the session closes on the next trigger instead
              // of killing the query.
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** [[sessionize]]'s twin on Spark 4's `transformWithState` — the
    * arbitrary-state API that supersedes `flatMapGroupsWithState`:
    * explicit NAMED typed state variables (two `ValueState`s here;
    * list/map state and per-variable TTL retention policies hang off
    * the same handle), first-class event-time TIMERS instead of the
    * one implicit timeout, per-variable state READOUT through the
    * state data source (`stateVarName` — the RTBF audit surface gets
    * variable-level resolution), and the RocksDB state-store backend
    * (required by the operator; a stream starts under
    * `Sessions.withConf(stream, [[RocksDbState]])`). Output semantics are
    * IDENTICAL to [[sessionize]] — EventStreamsSpec pins twin ≡
    * flatMapGroupsWithState on the same feed — so stateful operators
    * can move to the modern API without changing answers; q288 runs
    * it over the staged real events table under the DuckDB oracle.
    */
  class TwsSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    @transient private var st: ValueState[SessionState] = _
    // the registered timer's timestamp, so a continued session can
    // DELETE its stale timer before registering the next one (FMGWS's
    // implicit timeout did this internally; here timers are explicit)
    @transient private var timerAt: ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[SessionState](
        "session", org.apache.spark.sql.Encoders.product[SessionState],
        TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long](
        "timer", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    private def out(uid: Long, s: SessionState) =
      SessionOut(uid, new Timestamp(s.start), new Timestamp(s.last),
                 s.n, s.total)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[SessionOut] = {
      // (ts, value) sort: equal-timestamp events fold in a stable
      // order, so the double sum is bit-reproducible across runs
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
      var closed = List.empty[SessionOut]
      var cur: Option[SessionState] =
        if (st.exists()) Some(st.get()) else None
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(SessionState(s.start, math.max(s.last, t),
                                    s.n + 1, s.total + e.value))
          case Some(s) =>
            closed ::= out(uid, s)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        st.update(s)
        if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
        // same clamp as sessionize: an already-overdue deadline would
        // be a timer in the past — fire on the next watermark advance
        val at = math.max(s.last + gapMs, tv.getCurrentWatermarkInMs() + 1)
        getHandle.registerTimer(at)
        timerAt.update(at)
      }
      closed.reverseIterator
    }
    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[SessionOut] =
      if (!st.exists()) Iterator.empty
      else {
        val s = st.get()
        st.clear()
        timerAt.clear()
        Iterator(out(uid, s))
      }
  }

  /** The RocksDB state-store provider `transformWithState` requires,
    * as a conf for `Sessions.withConf(stream, RocksDbState)`. The
    * provider is read at QUERY START and pinned into that query's
    * checkpoint, so a configured clone around the start is sufficient
    * and no other query's checkpoint is affected.
    */
  val RocksDbState: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The narrow `spark.sql.shuffle.partitions` of the staged-fixture
    * streams, for `Sessions.withConf(spark, FixtureStatePartitions)`
    * (round-17, guide §2.2/§6): a stateful query PINS its state
    * partition count at first run from this conf, and every later
    * state-data-source read of that checkpoint opens one store (a
    * RocksDB instance load for the TWS families) PER PARTITION. The
    * synthetic attestation fixtures are KB-scale, so running them at
    * the session default (the local core count) made every estate
    * audit pay 32 store opens per surface read; 4 keeps the read cost
    * proportional to the data. Content is partition-invariant — the
    * audits aggregate over all rows. Production-scale streams must NOT
    * use this: their state partitioning follows the cluster-sized
    * session conf / AQE as before.
    */
  val FixtureStatePartitions: (String, String) =
    "spark.sql.shuffle.partitions" -> "4"

  /** Event-time sessionization via [[TwsSessionProcessor]] — same
    * contract as [[sessionize]]: one row per CLOSED session, state per
    * user is one `SessionState` + one timer.
    */
  def twsSessionize(events: Dataset[Event],
                    gapMs: Long = 30 * 60 * 1000L)
                   (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(
        new TwsSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  case class FunnelEvent(ts: Timestamp, event_type: String,
                         user_id: Long, event_id: Long)
  case class FunnelState(start: Long, last: Long, lastId: Long,
                         v: Boolean, c: Boolean, p: Boolean)
  case class FunnelOut(user_id: Long, stage: Int)

  /** Streaming session-funnel state machine — the stateful-streaming
    * twin of the batch session funnel (q252): per user, sessions close
    * on a >`gapMs` event-time gap (or an EventTimeTimeout once the
    * watermark passes last+gap), and each CLOSED session emits the
    * funnel stage it reached (0–3) under the same strictly-after rule
    * — the first `view` arms the session, the first `click` after
    * that advances it, the first `purchase` after that completes it.
    * Events are processed in exact (ts, event_id) order (sorted
    * within each per-user group; feed batches time-sliced so the
    * cross-batch order is also by time), so the state machine
    * reproduces the batch positional scan decision-for-decision —
    * q253's oracle is the SAME SQL string as q252's.
    *
    * State per live session is three booleans + timestamps — constant
    * memory per active user on an infinite stream, evicted by the
    * timeout like [[sessionize]].
    */
  /** The funnel state machine's step + emit rules, shared verbatim by
    * the flatMapGroupsWithState operator and its transformWithState
    * twin — answer identity between the two APIs is by construction,
    * and the spec pins it on a staged feed.
    */
  private def funnelOut(uid: Long, s: FunnelState) = FunnelOut(
    uid, (if (s.v) 1 else 0) + (if (s.c) 1 else 0) +
           (if (s.p) 1 else 0))
  private def funnelStep(s: FunnelState, e: FunnelEvent): FunnelState = {
    val t = e.ts.getTime
    val s2 = s.copy(last = math.max(s.last, t), lastId = e.event_id)
    e.event_type match {
      case "view" if !s2.v                 => s2.copy(v = true)
      case "click" if s2.v && !s2.c        => s2.copy(c = true)
      case "purchase" if s2.c && !s2.p     => s2.copy(p = true)
      case _                                => s2
    }
  }

  def funnelSessionize(events: Dataset[FunnelEvent],
                       gapMs: Long = 30 * 60 * 1000L)
                      (implicit spark: SparkSession)
      : Dataset[FunnelOut] = {
    import spark.implicits._
    def out(uid: Long, s: FunnelState) = funnelOut(uid, s)
    def step(s: FunnelState, e: FunnelEvent): FunnelState =
      funnelStep(s, e)
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[FunnelEvent],
         state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(out(userId, s))
          } else {
            val sorted = rows.toSeq
              .sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[FunnelOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(step(s, e))
                case Some(s) =>
                  closed ::= out(userId, s)
                  cur = Some(step(FunnelState(t, t, e.event_id,
                                              v = false, c = false,
                                              p = false), e))
                case None =>
                  cur = Some(step(FunnelState(t, t, e.event_id,
                                              v = false, c = false,
                                              p = false), e))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs,
                         state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** [[funnelSessionize]]'s `transformWithState` twin — the second
    * FMGWS user migrated to the modern API (q288/[[TwsSessionProcessor]]
    * was the first), so NO production operator is left stranded on
    * flatMapGroupsWithState when it deprecates. The fold is the SHARED
    * [[funnelStep]]/[[funnelOut]] — answer identity is by construction
    * — and the state surface gains what the migration buys everywhere:
    * named variables (`funnel` + the `timer` bookkeeping state) each
    * readable through the state source at variable granularity, and
    * explicit event-time timers with stale-timer deletion.
    */
  class TwsFunnelProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, FunnelEvent, FunnelOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    @transient private var st: ValueState[FunnelState] = _
    @transient private var timerAt: ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[FunnelState](
        "funnel", org.apache.spark.sql.Encoders.product[FunnelState],
        TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long](
        "timer", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[FunnelEvent],
                                 tv: TimerValues): Iterator[FunnelOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var closed = List.empty[FunnelOut]
      var cur: Option[FunnelState] =
        if (st.exists()) Some(st.get()) else None
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(funnelStep(s, e))
          case Some(s) =>
            closed ::= funnelOut(uid, s)
            cur = Some(funnelStep(FunnelState(t, t, e.event_id,
                                              v = false, c = false,
                                              p = false), e))
          case None =>
            cur = Some(funnelStep(FunnelState(t, t, e.event_id,
                                              v = false, c = false,
                                              p = false), e))
        }
      }
      cur.foreach { s =>
        st.update(s)
        if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
        val at = math.max(s.last + gapMs, tv.getCurrentWatermarkInMs() + 1)
        getHandle.registerTimer(at)
        timerAt.update(at)
      }
      closed.reverseIterator
    }
    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[FunnelOut] =
      if (!st.exists()) Iterator.empty
      else {
        val s = st.get()
        st.clear()
        timerAt.clear()
        Iterator(funnelOut(uid, s))
      }
  }

  /** Streaming session-funnel via [[TwsFunnelProcessor]] — same
    * contract as [[funnelSessionize]]: one (user, reached stage) row
    * per CLOSED session.
    */
  def twsFunnelSessionize(events: Dataset[FunnelEvent],
                          gapMs: Long = 30 * 60 * 1000L)
                         (implicit spark: SparkSession)
      : Dataset[FunnelOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(
        new TwsFunnelProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Streaming exact dedup for incremental corpus ingest: new documents
    * are dropped if their normalized-text fingerprint was already seen
    * within the watermark horizon. State = one fingerprint per unique doc
    * inside the horizon, evicted as the watermark advances — constant
    * memory on an infinite stream (the batch dedup twin is
    * [[graft.llm.Dedup.exact]]).
    */
  def streamingDedup(docs: DataFrame, tsCol: String,
                     textCol: String,
                     horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.llm.TextAnalysis.fingerprint(
        org.apache.spark.sql.functions.col(textCol)))
      .withWatermark(tsCol, horizon)
      // dropDuplicates("fp") alone would never evict state (eviction only
      // applies when the watermark column is part of the dedup key);
      // dropDuplicatesWithinWatermark ties each fingerprint's state to the
      // watermark so it is dropped once the horizon passes — actual
      // constant-memory dedup on an infinite stream.
      .dropDuplicatesWithinWatermark("fp")

  /** Watermarked stream-stream INNER join (the streaming twin of the
    * as-of/event-correlation pattern): each purchase joins the signup of
    * the same user that happened within `window` before it. Both sides
    * carry watermarks and the join condition bounds purchase_ts relative
    * to signup_ts, so Spark derives state-eviction watermarks for BOTH
    * join buffers — state is O(events inside the window+lateness horizon),
    * constant on an infinite stream. Without the time bound the buffers
    * would grow forever; that shape is rejected by design here.
    */
  def streamStreamJoin(signups: DataFrame, purchases: DataFrame,
                       lateness: String = "30 minutes",
                       window: String = "1 hour"): DataFrame = {
    val s = signups
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", lateness)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("value"))
      .withWatermark("purchase_ts", lateness)
    p.join(s,
      col("p_user") === col("s_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"INTERVAL $window"))
      .select(col("s_user").as("user_id"), col("signup_ts"),
              col("purchase_ts"), col("value"))
  }

  /** Watermarked stream-stream LEFT OUTER join — the harder sibling of
    * [[streamStreamJoin]]: every signup emits exactly once, WITH its
    * in-window purchases or (once the watermark passes
    * `signup_ts + window` and no match arrived) with nulls. The outer
    * row cannot be emitted eagerly — it is only correct when late
    * matches are impossible — so Spark holds the signup in state until
    * the watermark finalizes it; the time-bound join condition keeps
    * that state O(window + lateness horizon), constant on an infinite
    * stream. Consumers comparing against a batch twin must restrict to
    * watermark-FINALIZED signups (old enough that the outer verdict
    * can't change) — q264 does exactly that.
    */
  def streamStreamLeftJoin(signups: DataFrame, purchases: DataFrame,
                           lateness: String = "30 minutes",
                           window: String = "1 hour"): DataFrame = {
    val s = signups
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", lateness)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("value"))
      .withWatermark("purchase_ts", lateness)
    s.join(p,
        col("s_user") === col("p_user") &&
          col("purchase_ts") > col("signup_ts") &&
          col("purchase_ts") <=
            col("signup_ts") + expr(s"INTERVAL $window"),
        "left_outer")
      .select(col("s_user").as("user_id"), col("signup_ts"),
              col("purchase_ts"),
              floor(col("value") * 1000).cast("long").as("p_milli"))
  }

  /** Native `session_window` streaming aggregation — the declarative
    * sibling of the [[sessionize]] custom-state operator: Spark's
    * built-in session windows merge adjacent per-key windows closer
    * than `gap` inside the aggregation itself (no user state
    * machine), finalize each session when the watermark passes its
    * end, and evict its state — O(open sessions), constant on an
    * infinite stream. Emits one row per (user, session): start, end
    * (last event + gap), event count, and the exact milli-unit value
    * sum. The batch twin is the classic gap-cut sessionization
    * (q29's lag/cumsum shape) — q265 pins streamed ≡ batch through
    * one oracle.
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
                          lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"),
           sum(floor(col("value") * 1000).cast("long")).as("v_milli"))
      .select(col("user_id"),
              col("session_window.start").as("s_start"),
              col("session_window.end").as("s_end"),
              col("n"), col("v_milli"))

  /** Idempotent micro-batch parquet upsert — the foreachBatch exactly-once
    * recipe: each micro-batch lands in its own `batch_id=` partition with
    * overwrite, so a replayed batch (failure between sink write and
    * checkpoint commit) REPLACES its previous partial output instead of
    * appending duplicates. Exposed standalone so tests can replay a batch
    * id directly.
    */
  def upsertBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** Start a streaming query writing `df` through [[upsertBatch]]. */
  def idempotentParquetSink(df: DataFrame, outDir: String,
                            checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(batch.toDF(), id, outDir))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Right-to-be-forgotten for a LANDED `batch_id=` sink — the
    * streaming estate's erasure pass: idempotent micro-batch sinks
    * keep every batch's rows forever, so erased keys persist in
    * landed partitions long after the source tables forgot them
    * (q274/q275 cover the batch tables and the materialized view;
    * this covers the streamed artifacts). The pass is
    * PARTITION-PRUNED end to end:
    *
    *  1. key-only routing — scan just `(batch_id, key)`, semi-join
    *     the (gated-broadcast) erase set, `distinct` the batch ids:
    *     the touched-partition list is bounded by the PARTITION
    *     count, never the data (safe to collect);
    *  2. rewrite ONLY touched partitions — each is read alone,
    *     anti-joined against the erase keys, written to a temp dir,
    *     and swapped in; untouched partitions are never opened, so
    *     they stay byte-identical (the 100 TB property: erasure cost
    *     tracks the erase set's partition footprint, not sink size).
    *
    * The temp-write-then-swap keeps the read and the overwrite of the
    * same path apart (Spark would otherwise delete its own input).
    * The swap itself is CRASH-ORDERED (the versioned-flip discipline
    * of [[graft.llm.IndexStore]], applied to a partition dir): write
    * tmp → rename the live partition ASIDE → rename tmp in → delete
    * the old. At every intermediate state either the old or the new
    * partition is complete on disk, and both staging names are
    * underscore-prefixed so Spark's file index never lists them as
    * data. [[recoverSinkSwaps]] (run first on every pass) rolls any
    * interrupted swap forward or back from the state alone:
    * old-aside present without the live dir means the tmp write had
    * already completed (the aside rename strictly follows it), so the
    * swap finishes; otherwise stale staging dirs are dropped and the
    * pass redoes that partition. Returns (touched partitions, erased
    * rows).
    */
  def eraseFromSink(spark: SparkSession, outDir: String,
                    eraseKeys: DataFrame, keyCol: String)
      : (Long, Long) = {
    recoverSinkSwaps(spark, outDir)
    val sink = spark.read.parquet(outDir)
    val nErased = sink.select(col(keyCol))
      .join(eraseKeys, Seq(keyCol), "left_semi").count()
    val touched = sink.select(col("batch_id"), col(keyCol))
      .join(eraseKeys, Seq(keyCol), "left_semi")
      .select("batch_id").distinct()
      .collect().map(_.get(0).toString).sorted
    val hconf = spark.sparkContext.hadoopConfiguration
    touched.foreach { b =>
      val pdir = new org.apache.hadoop.fs.Path(s"$outDir/batch_id=$b")
      val tmp =
        new org.apache.hadoop.fs.Path(s"$outDir/__erase_tmp_b$b")
      val old =
        new org.apache.hadoop.fs.Path(s"$outDir/__erase_old_b$b")
      val fs = pdir.getFileSystem(hconf)
      spark.read.parquet(pdir.toString)
        .join(eraseKeys, Seq(keyCol), "left_anti")
        .write.mode("overwrite").parquet(tmp.toString)
      // crash-ordered swap: aside → in → delete. A crash before the
      // aside rename leaves the sink untouched (stale tmp is swept by
      // recoverSinkSwaps); after it, the tmp is provably complete and
      // recovery finishes the swap.
      require(fs.rename(pdir, old), s"aside rename failed for $pdir")
      require(fs.rename(tmp, pdir), s"swap-in failed for $pdir")
      fs.delete(old, true)
    }
    (touched.length.toLong, nErased)
  }

  /** Roll interrupted [[eraseFromSink]] swaps forward or back. State
    * machine per partition b (tmp = `__erase_tmp_b`, old =
    * `__erase_old_b`, live = `batch_id=b`):
    *
    *  - old exists, live missing — crash between the two renames. The
    *    aside rename strictly follows a COMPLETED tmp write, so if tmp
    *    exists finish the swap (tmp → live, drop old); if tmp is gone
    *    (it was already renamed in and the live dir then vanished some
    *    other way) restore old → live.
    *  - old exists, live exists — crash after swap-in, before the old
    *    delete: the new partition is live, drop old.
    *  - tmp exists, live exists — crash before the aside rename: tmp
    *    may be PARTIAL, drop it (the pass will rewrite).
    *
    * Both staging prefixes start with `_`, so a concurrent plain
    * `spark.read.parquet(outDir)` never lists them as data even
    * before recovery runs (SinkErasureSpec pins this).
    */
  def recoverSinkSwaps(spark: SparkSession, outDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("__erase_old_b")) {
        val b = n.stripPrefix("__erase_old_b")
        val live = new org.apache.hadoop.fs.Path(s"$outDir/batch_id=$b")
        val tmp =
          new org.apache.hadoop.fs.Path(s"$outDir/__erase_tmp_b$b")
        if (!fs.exists(live)) {
          if (fs.exists(tmp)) {
            require(fs.rename(tmp, live), s"recovery swap-in failed: $tmp")
            fs.delete(p, true)
          } else {
            require(fs.rename(p, live), s"recovery restore failed: $p")
          }
        } else {
          fs.delete(p, true)
        }
      }
    }
    // stale tmp dirs with a live partition and no old-aside: the swap
    // never started, the tmp may be partial — drop it
    fs.listStatus(root).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("__erase_tmp_b")) {
        val b = n.stripPrefix("__erase_tmp_b")
        val live = new org.apache.hadoop.fs.Path(s"$outDir/batch_id=$b")
        if (fs.exists(live)) fs.delete(p, true)
      }
    }
  }

  /** Readout of a streaming operator's STATE STORE from its checkpoint
    * — Spark 4's state data source over the checkpoint dir (operator
    * 0, the latest committed batch, default store). This is the RTBF
    * audit surface for STATEFUL queries, the one place the erasure
    * estate could not see until round 15: [[eraseFromSink]] scrubs the
    * LANDED partitions, but subject keys live on inside the
    * checkpoint's state (dedup fingerprints, session state, join
    * buffers) until watermark eviction. The retention POLICY for that
    * state is the watermark horizon itself — every state row carries
    * an eviction deadline (`value.expiresAtMicros` for
    * dropDuplicatesWithinWatermark), and the engine's no-data final
    * micro-batch applies the last watermark — so the attestation a
    * privacy office needs is: PAST THE HORIZON, the readable state
    * snapshot holds no subject key. q287 measures it under the DuckDB
    * oracle; EventStreamsSpec drives the full erase-mid-stream →
    * restart-from-checkpoint lifecycle.
    */
  def stateReadout(spark: SparkSession, checkpoint: String): DataFrame =
    spark.read.format("statestore").option("path", checkpoint).load()

  /** [[stateReadout]] shaped for [[streamingDedup]]'s state: one row
    * per fingerprint still held by the checkpoint, with its eviction
    * deadline.
    */
  def dedupStateFingerprints(spark: SparkSession,
                             checkpoint: String): DataFrame =
    stateReadout(spark, checkpoint)
      .select(col("key.fp").as("fp"),
              col("value.expiresAtMicros").as("expires_at_micros"))

  /** One banded-signature row into the in-stream dedup layer:
    * doc × band with its hashed shingle set (the
    * [[graft.llm.Dedup.bandedSigRowsPortable]] shape).
    */
  case class BandedDoc(band: Int, bucket: Long, doc_id: Long,
                       ts: Timestamp, shh: Array[Long])

  /** One entry buffered per LSH bucket: the doc's id, event time, and
    * hashed shingle set — everything a later arrival needs to verify
    * exact Jaccard against it.
    */
  case class BucketEntry(doc_id: Long, tsMs: Long, shh: Array[Long])

  /** One verified NEW-NEW near-dup match out of the in-stream layer:
    * `doc_id` matched the EARLIER `match_id` (earlier by (event time,
    * doc id)) with exact Jaccard `jaccard_pm` (permille, integer —
    * engine-portable). The processor folds to the single best match —
    * min (match_id, jaccard_pm), the engine's deterministic tie rule —
    * per arriving doc per bucket, and the sink folds across bands per
    * micro-batch, so the landed volume is ≤1 row per arriving doc per
    * batch (round-16 emitted every qualifying pair per shared band and
    * the ×20 probe landed 7.9 M rows the reader immediately
    * min-aggregated away).
    */
  case class InStreamPair(doc_id: Long, match_id: Long, jaccard_pm: Long)

  /** Per-(band, bucket) processor behind [[inStreamNearDedupSink]]:
    * buffers the bucket's within-horizon entries in a named list
    * state, verifies each arrival against strictly-earlier entries
    * (exact Jaccard on the hashed shingle sets — the same
    * distinct-intersection/union rule as `jaccardLong`, in integer
    * permille), and emits the arriving doc's single BEST qualifying
    * match — min (match_id, jaccard_pm), the deterministic tie rule
    * the q291 reader already applied — instead of every qualifying
    * pair (the fold cuts ×20-probe emission from pair-quadratic in
    * dup-cluster size to one row per arrival per shared band).
    *
    * Horizon eviction is an EARLIEST-DEADLINE event-time timer: the
    * registered timer is the soonest entry death (tsMs + horizon),
    * and each firing sweeps the dead entries and re-registers at the
    * next death — so once the final watermark passes, the STORED
    * state equals the logically-live set exactly (round-16's
    * max-deadline idle sweep left dead entries physically present in
    * buckets whose newest entry kept the timer in the future, which a
    * state-source erasure attestation would mis-read as retention
    * violations). Access-path reads additionally filter against the
    * watermark, so a reader never observes a dead entry between
    * firings. `maxBucket` caps the buffered entries per bucket — the
    * hot-bucket/boilerplate guard every LSH layer in the engine
    * carries; a bucket at cap stops admitting (boilerplate detection
    * is upstream's job).
    */
  class TwsInStreamDedupProcessor(horizonMs: Long, maxBucket: Int,
                                  thresholdPm: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, Long), BandedDoc, InStreamPair] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState, ListState}
    @transient private var entries: ListState[BucketEntry] = _
    @transient private var timerAt: ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: TimeMode): Unit = {
      entries = getHandle.getListState[BucketEntry](
        "entries", org.apache.spark.sql.Encoders.product[BucketEntry],
        TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long](
        "timer", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    private def jpm(a: Array[Long], b: Array[Long]): Long = {
      val sa = a.toSet
      val sb = b.toSet
      val inter = sa.count(sb.contains)
      val union = sa.size + sb.size - inter
      if (union == 0) 1000L else inter.toLong * 1000L / union
    }
    private def live(wm: Long): Seq[BucketEntry] =
      (if (entries.exists()) entries.get().toSeq else Seq.empty)
        .filter(_.tsMs + horizonMs > wm)
    private def pin(acc: Seq[BucketEntry], wm: Long): Unit = {
      entries.clear()
      if (timerAt.exists()) {
        getHandle.deleteTimer(timerAt.get())
        timerAt.clear()
      }
      if (acc.nonEmpty) {
        entries.appendList(acc.toArray)
        // earliest entry death, so every firing sweeps something and
        // the stored list converges to the live set as the watermark
        // advances (a max-deadline timer would strand dead entries in
        // any bucket whose newest arrival keeps the deadline ahead of
        // the final watermark)
        val at = math.max(acc.map(_.tsMs).min + horizonMs, wm + 1)
        getHandle.registerTimer(at)
        timerAt.update(at)
      }
    }
    override def handleInputRows(key: (Int, Long),
                                 rows: Iterator[BandedDoc],
                                 tv: TimerValues): Iterator[InStreamPair] = {
      val wm = tv.getCurrentWatermarkInMs()
      var acc = live(wm).sortBy(e => (e.tsMs, e.doc_id))
      val out = Seq.newBuilder[InStreamPair]
      rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
        val t = r.ts.getTime
        // fold to the arriving doc's best match in THIS bucket: min
        // (match_id, jaccard_pm) over qualifying earlier entries —
        // the same deterministic rule the reader's min-aggregate
        // applies, so folding here changes landed volume, not answers
        var best: Option[(Long, Long)] = None
        acc.foreach { e =>
          if (e.doc_id != r.doc_id &&
              (e.tsMs < t || (e.tsMs == t && e.doc_id < r.doc_id))) {
            val j = jpm(e.shh, r.shh)
            if (j >= thresholdPm && best.forall { case (bm, bj) =>
                  e.doc_id < bm || (e.doc_id == bm && j < bj) })
              best = Some((e.doc_id, j))
          }
        }
        best.foreach { case (m, j) => out += InStreamPair(r.doc_id, m, j) }
        if (acc.size < maxBucket && !acc.exists(_.doc_id == r.doc_id))
          acc = acc :+ BucketEntry(r.doc_id, t, r.shh)
      }
      pin(acc, wm)
      out.result().iterator
    }
    override def handleExpiredTimer(key: (Int, Long), tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[InStreamPair] = {
      // the timer that fired is already gone; deleting it again in
      // `pin` logs a warning per firing
      timerAt.clear()
      pin(live(tv.getCurrentWatermarkInMs()),
          tv.getCurrentWatermarkInMs())
      Iterator.empty
    }
  }

  /** IN-STREAM near-dedup — the layer the static-index sink
    * structurally lacks: [[incrementalNearDedupSink]] (and its TWS
    * twin) classify each arrival against a PERSISTED index, so two NEW
    * near-duplicate docs arriving between index rotations both pass as
    * unique. This operator buckets the stream itself (banded portable
    * MinHash, the exact q35/q76 candidate rule) and keeps each
    * bucket's within-horizon arrivals in transformWithState list
    * state, landing each verified arrival's single best earlier match
    * — min (match_id, Jaccard permille), folded per bucket in the
    * processor and across bands in one narrow per-batch exchange —
    * into idempotent `batch_id=` partitions. Compose
    * with the static-index sink for full coverage: index catches
    * new-vs-corpus, this catches new-vs-new; the daily index roll
    * resets the horizon.
    *
    * 100 TB shape: state is one (id, ts, shingle-hash set) entry per
    * doc × band inside the horizon, RocksDB-backed, `maxBucket`-capped
    * per bucket (the hot-bucket guard), lazily + timer-evicted at the
    * watermark horizon; per-batch work is delta-sized signing plus
    * per-bucket verifies bounded by bucket occupancy — never a corpus
    * scan, no shuffle beyond the (band, bucket) exchange the batch
    * pipeline also pays. q291 pins the full pair set against a DuckDB
    * replay of the banding + Jaccard rule on the real documents table.
    */
  def inStreamNearDedupSink(docs: DataFrame, idCol: String,
                            textCol: String, tsCol: String,
                            outDir: String, checkpoint: String,
                            lateness: String = "30 minutes",
                            horizonMs: Long = 3600000L,
                            k: Int = 5, numHashes: Int = 32,
                            bands: Int = 8, thresholdPm: Long = 500L,
                            maxBucket: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = graft.llm.Dedup
      .bandedSigRowsPortable(docs, idCol, textCol, tsCol,
                             k, numHashes, bands)
      .withWatermark("ts", lateness)
      .as[BandedDoc]
      .groupByKey(r => (r.band, r.bucket))
      .transformWithState(
        new TwsInStreamDedupProcessor(horizonMs, maxBucket, thresholdPm),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    graft.Sessions.withConf(pairs, RocksDbState) { pairs =>
      pairs.writeStream
        .foreachBatch((b: Dataset[InStreamPair], id: Long) =>
          // cross-band fold: the same arriving doc surfaces its
          // per-bucket best from up to `bands` buckets — one narrow
          // (doc_id) exchange per micro-batch lands exactly its
          // global best match, so sink volume is ≤1 row per arrival
          upsertBatch(
            b.groupBy("doc_id")
              .agg(min(struct(col("match_id"), col("jaccard_pm")))
                     .as("m"))
              .select(col("doc_id"), col("m.match_id").as("match_id"),
                      col("m.jaccard_pm").as("jaccard_pm")),
            id, outDir))
        .option("checkpointLocation", checkpoint)
        .outputMode(OutputMode.Append)
        .start()
    }
  }

  /** Stage a bounded ingest slice as ONE parquet file per micro-batch
    * under `inDir`, so a file-source stream
    * (`spark.readStream.schema(...).parquet(inDir)` with
    * `maxFilesPerTrigger=1`) replays micro-batch b = the rows where
    * `batchExpr = b` — a fully distributed feed: the slices are written
    * by executors and nothing is ever collected to the driver (the
    * MemoryStream harness this replaces collected the whole slice).
    * FileStreamSource admits new files oldest-modification-time first,
    * so the staged strictly-increasing mtimes pin batch order
    * content-free (the mtimes span minutes, far inside the source's
    * 7-day maxFileAge window, which purges relative to the LATEST seen
    * file timestamp, not the wall clock). `coalesce(1)` per slice is
    * the local-harness shape; a production feed writes many files per
    * batch and raises `maxFilesPerTrigger` to match.
    */
  def stageMicroBatchFiles(slice: DataFrame,
                           batchExpr: org.apache.spark.sql.Column,
                           nBatches: Int, inDir: String,
                           firstBatch: Int = 0): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val base = Paths.get(inDir)
    Files.createDirectories(base)
    // `firstBatch` stages a LATER tranche into an already-fed landing
    // dir (mtimes continue the sequence) — the mid-stream-pause
    // lifecycle the RTBF specs drive: feed, stop, erase, feed the rest
    (firstBatch until firstBatch + nBatches).foreach { b =>
      val stage = s"$inDir/__stage_b$b"
      slice.filter(batchExpr === b).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val stageDir = Paths.get(stage)
      val part = Files.list(stageDir).iterator().asScala
        .find { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        .getOrElse(sys.error(s"no part file staged for micro-batch $b"))
      val dest = base.resolve(s"batch$b.parquet")
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(60000L * (b + 1)))
      Files.walk(stageDir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  /** Streaming incremental near-dedup: each micro-batch of newly ingested
    * documents is classified against a PERSISTED
    * [[graft.llm.Dedup.MinhashIndex]] (built offline from the accumulated
    * corpus) and written to idempotent `batch_id=` partitions — the
    * continuous-ingest twin of q76. foreachBatch is the right tool, not a
    * stream-static join per stage: the classification is a multi-join
    * batch pipeline (banding → index join → verify → min-match), and
    * foreachBatch runs it unchanged per micro-batch with exactly-once
    * sink semantics via [[upsertBatch]]. The index frames stay static
    * across batches (refresh = restart with a newer index, the standard
    * daily-index rotation).
    */
  def incrementalNearDedupSink(docs: DataFrame,
                               index: graft.llm.Dedup.MinhashIndex,
                               idCol: String, textCol: String,
                               outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(
          graft.llm.Dedup.minhashIncrementalPortable(
            batch.toDF(), index, idCol, textCol),
          id, outDir))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Restart-surviving variant: the index is loaded from its persisted
    * bucketed tables ([[graft.llm.IndexStore]]) by NAME, so a sink
    * restarted in a fresh session — same checkpoint, same index name —
    * resumes classifying with identical state. Daily index rotation =
    * re-save under the same name, restart the query.
    */
  def incrementalNearDedupSink(docs: DataFrame, indexName: String,
                               idCol: String, textCol: String,
                               outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalNearDedupSink(
      docs,
      graft.llm.IndexStore.loadMinhashIndex(docs.sparkSession, indexName),
      idCol, textCol, outDir, checkpoint)

  /** One candidate row into the near-dedup classifier: a doc × band
    * with its verified match (or nulls) — the streaming-plan shape
    * [[graft.llm.Dedup.minhashCandidateRowsPortable]] emits.
    */
  case class NearDupCand(doc_id: Long, ts: Timestamp,
                         corpus_id: Option[Long],
                         jaccard: Option[Double])

  /** One classification out of the near-dedup sink — identical columns
    * to [[incrementalNearDedupSink]]'s landed rows.
    */
  case class NearDupOut(doc_id: Long, dup_of_corpus: Boolean,
                        match_id: Option[Long],
                        match_jaccard: Option[Double])

  /** Per-doc classifier behind [[twsIncrementalNearDedupSink]]: folds
    * the doc's candidate rows to the batch rule's best match
    * (smallest corpus_id carries ITS jaccard — exactly
    * `min(struct(corpus_id, jaccard))`), remembers the doc in a named
    * `seen` state variable, and suppresses RE-ARRIVALS of the same
    * doc_id within the horizon (a crawler re-send would otherwise be
    * re-classified and re-emitted every time — the foreachBatch sink
    * does exactly that, its one at-least-once seam). The `seen` entry
    * is evicted by an explicit event-time timer at first-seen +
    * horizon, so state is bounded by the ingest rate × horizon.
    */
  class TwsNearDedupProcessor(horizonMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, NearDupCand, NearDupOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    @transient private var seen: ValueState[Long] = _
    @transient private var timerAt: ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: TimeMode): Unit = {
      seen = getHandle.getValueState[Long](
        "seen", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long](
        "timer", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(docId: Long,
                                 rows: Iterator[NearDupCand],
                                 tv: TimerValues): Iterator[NearDupOut] =
      if (seen.exists()) Iterator.empty
      else {
        val rs = rows.toSeq
        val best = rs
          .flatMap(r => for (c <- r.corpus_id; j <- r.jaccard)
                          yield (c, j))
          .sortBy(p => (p._1, p._2)).headOption
        val ts = rs.map(_.ts.getTime).max
        seen.update(ts)
        if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
        val at = math.max(ts + horizonMs,
                          tv.getCurrentWatermarkInMs() + 1)
        getHandle.registerTimer(at)
        timerAt.update(at)
        Iterator(NearDupOut(docId, best.isDefined, best.map(_._1),
                            best.map(_._2)))
      }
    override def handleExpiredTimer(docId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[NearDupOut] = {
      seen.clear()
      timerAt.clear()
      Iterator.empty
    }
  }

  /** [[incrementalNearDedupSink]]'s `transformWithState` twin — the
    * foreachBatch user migrated to the modern state API (the round-15
    * verdict's migration story, item 7): instead of re-running a batch
    * multi-join pipeline per micro-batch inside foreachBatch, the
    * WHOLE classification is one declarative streaming plan —
    * stateless signature/banding projections, two stream-STATIC left
    * joins against the persisted index's bucketed tables, and a
    * [[TwsNearDedupProcessor]] keyed by doc that folds candidates to
    * the same best-match rule. Answer identity with the foreachBatch
    * sink on distinct-doc feeds is spec-pinned (stream/batch parity +
    * restart-from-checkpoint), and the twin ADDS what only real state
    * can: within-horizon re-arrivals of a doc_id are suppressed
    * instead of re-emitted, with the `seen` variable and its timers
    * readable through the state source at variable granularity.
    *
    * 100 TB shape: per-batch cost is delta-sized row-local signing +
    * key-bounded joins against the index (the batch sink's bound,
    * unchanged); state is one long per doc inside the horizon,
    * RocksDB-backed, timer-evicted. Index rotation = restart with the
    * newer index, exactly like the foreachBatch sink.
    */
  def twsIncrementalNearDedupSink(docs: DataFrame,
                                  index: graft.llm.Dedup.MinhashIndex,
                                  idCol: String, textCol: String,
                                  tsCol: String, outDir: String,
                                  checkpoint: String,
                                  lateness: String = "30 minutes",
                                  horizonMs: Long = 3600000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    val classified = graft.llm.Dedup
      .minhashCandidateRowsPortable(docs, index, idCol, textCol, tsCol)
      .withWatermark("ts", lateness)
      .as[NearDupCand]
      .groupByKey(_.doc_id)
      .transformWithState(
        new TwsNearDedupProcessor(horizonMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    graft.Sessions.withConf(classified, RocksDbState) { classified =>
      classified.writeStream
        .foreachBatch((b: Dataset[NearDupOut], id: Long) =>
          upsertBatch(b.toDF(), id, outDir))
        .option("checkpointLocation", checkpoint)
        .outputMode(OutputMode.Append)
        .start()
    }
  }

  /** Streaming exact-dedup sink: [[streamingDedup]]'s stateful
    * first-seen gate landed in idempotent `batch_id=` partitions. Each
    * partition holds the FINGERPRINTS first seen in that micro-batch —
    * fp, not doc rows, because when several same-fp docs arrive in one
    * micro-batch the state store keeps an arbitrary one; the fingerprint
    * set per batch is the deterministic (and oracle-checkable) output,
    * while which physical row represented it is a partitioning accident.
    * Downstream joins the kept fps back to the landing table when it
    * needs full rows.
    */
  def streamingDedupSink(docs: DataFrame, tsCol: String, textCol: String,
                         horizon: String, outDir: String,
                         checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingDedup(docs, tsCol, textCol, horizon).writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(batch.toDF().select("fp"), id, outDir))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming dataset-card maintenance: every micro-batch of documents
    * lands its (token, n) counts in an idempotent `batch_id=` partition
    * — the streaming feeder of [[graft.llm.CorpusStats.mergeCounts]].
    * Counts are the mergeable sufficient statistic, so the partition
    * union re-aggregated equals the counts of everything streamed,
    * whatever the batch boundaries were (replays overwrite their own
    * partition — exactly-once across restarts), and merging them into
    * the persisted base counts reproduces the from-scratch card
    * byte-for-byte (q187's oracle). Per-batch cost: one batch-sized
    * tokenize + a vocabulary-rows agg; the base corpus is never
    * touched.
    */
  def tokenCountSink(docs: DataFrame, textCol: String, outDir: String,
                     checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(
          graft.llm.CorpusStats.tokenCounts(batch.toDF(), textCol),
          id, outDir))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming KMV sketch maintenance: each micro-batch of events emits
    * its per-day bottom-64 keyed user-hash sketch (q219's sketch rule —
    * distinct (day, hash), WindowGroupLimit bottom-k) into idempotent
    * `batch_id=` partitions. Because bottom-k merge is LOSSLESS, the
    * union of the per-batch partial sketches re-cut to bottom-k equals
    * the sketch built in one batch pass over everything streamed,
    * whatever the batch boundaries were — the q187 counts argument with
    * set-minima instead of sums, and q224's oracle pins it from raw
    * events. Per-batch cost: one batch-sized distinct + a k-rows/day
    * cut; accumulated state lives in the sink partitions, not the
    * stream.
    */
  def kmvSketchSink(events: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        import org.apache.spark.sql.expressions.Window
        upsertBatch(
          batch.toDF().select(
              datediff(col("ts").cast("date"), lit("1970-01-01"))
                .cast("long").as("day"),
              conv(substring(md5(concat(lit("kmv11:"),
                col("user_id").cast("string")).cast("binary")), 1, 15),
                16, 10).cast("long").as("h"))
            .distinct()
            .withColumn("r", row_number().over(
              Window.partitionBy("day").orderBy("h")))
            .filter(col("r") <= 64).select("day", "h"),
          id, outDir)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming PQ encode: each micro-batch of newly ingested embedding
    * vectors is encoded against a PERSISTED product-quantization
    * index's codebooks (loaded by NAME — codebooks are the quantization
    * contract and stay fixed across batches; refit = new index version,
    * restart the sink) and landed as (corpus_id, codes) rows in
    * idempotent `batch_id=` partitions — the continuous-ingest twin of
    * the q169 roll, same encode rule, same day-two economics: per-batch
    * cost is batch-sized row-local argmin work against the broadcast
    * codebooks.
    */
  def pqEncodeSink(vecs: DataFrame, indexName: String,
                   outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val index = graft.llm.IndexStore.loadPqIndex(vecs.sparkSession,
                                                 indexName)
    vecs.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(
          graft.llm.Similarity.pqAssignCodes(
            index.codebooks,
            batch.toDF().select(col("vec_id").as("corpus_id"),
                                col("embedding").as("cvec")),
            index.subDim),
          id, outDir))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()
  }

  /** Per-micro-batch corpus stats for one ingest batch, flagged against
    * a REFERENCE snapshot's numbers — the drift row a monitoring sink
    * appends: a batch whose token entropy collapses or whose mean
    * quality drops usually means an upstream source broke (boilerplate
    * flood, encoding breakage, a crawler stuck in a template farm).
    * `tol` is the +/- band on entropy bits; quality alerts below
    * `minQuality`. Pure aggregation — one row out per batch.
    */
  def qualityDriftRow(batch: DataFrame, batchId: Long, textCol: String,
                      refEntropyBits: Double, tol: Double,
                      minQuality: Double): DataFrame = {
    val stats = graft.llm.CorpusStats.corpusStats(batch, textCol)
    // q81's exact-integer mean: the per-doc quality is a 4-decimal
    // rational, so summing ×10⁴ longs + one floored division is
    // order-independent and engine-portable (lets the monitor table sit
    // under the DuckDB oracle, q122)
    val qint = floor(graft.llm.TextAnalysis.qualityScore(col(textCol))
                       * 10000.0d + 0.5d).cast("long")
    val q = batch.agg(
      (floor(sum(qint).cast("double") / count(lit(1)).cast("double")
               + 0.5d) / 10000.0d).as("mean_quality"),
      count(lit(1)).as("n_docs"))
    stats.crossJoin(q).select(
      lit(batchId).as("batch_id"),
      col("n_docs"), col("n_tokens"), col("entropy_bits"),
      col("mean_quality"),
      (abs(col("entropy_bits") - lit(refEntropyBits)) > lit(tol))
        .as("entropy_alert"),
      (col("mean_quality") < lit(minQuality)).as("quality_alert"))
  }

  /** Streaming corpus-quality drift monitor: every micro-batch of
    * documents appends ONE stats row (entropy, mean quality, alert
    * flags vs the reference corpus) to a parquet monitoring table via
    * the idempotent `batch_id=` layout — replayed batches overwrite
    * their own partition, so the monitor history stays exactly-once
    * across restarts. The reference numbers come from a batch
    * [[graft.llm.CorpusStats.corpusStats]] run over the accepted
    * corpus (refit at each release).
    */
  def qualityDriftSink(docs: DataFrame, textCol: String,
                       refEntropyBits: Double, tol: Double,
                       minQuality: Double,
                       outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(
          qualityDriftRow(batch.toDF(), id, textCol,
                          refEntropyBits, tol, minQuality),
          id, outDir))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Batch replay of the same logic over the static events table —
    * identical semantics checked in tests (stream/batch parity is the
    * Structured Streaming contract).
    */
  def windowedCountsBatch(events: DataFrame,
                          windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), windowValueAvg)
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("value_avg"))

  /** Streaming decayed-activity partials: each micro-batch of events
    * lands its per-(event_type, user) decayed-score PARTIAL SUM under
    * the PINNED reference day `refDay` in an idempotent `batch_id=`
    * partition. Because every weight is computed against the same
    * refDay, the partition union re-aggregated with plain sum() equals
    * the one-shot batch score exactly (the
    * [[graft.operators.TimeSeriesQueries.decayedScores]] merge law —
    * integer weights, no halving, no floors crossing batch
    * boundaries); rolling refDay forward is a store-side halving, not
    * a sink concern. Per-batch cost: batch-sized row-local weights +
    * a keys-rows aggregate.
    */
  def decayedScoreSink(events: DataFrame, refDay: Long, outDir: String,
                       checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        upsertBatch(
          graft.operators.TimeSeriesQueries.decayedScores(
            batch.toDF().select(
              col("event_type"), col("user_id"),
              expr("unix_timestamp(ts) div 86400").as("day")),
            lit(refDay)),
          id, outDir)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming SCD-2 maintenance: each changelog micro-batch (columns
    * `doc_id, version, op, text`) rolls the standing history forward
    * via [[graft.llm.Versioning.scd2Roll]] and lands the full rolled
    * table at `{outDir}/v{batchId}` — the staged-state shape of the
    * daily-delta contract, but fed by a stream. The write is
    * DETERMINISTIC per batch (same prev state + same delta → same
    * output, overwrite mode), so a replayed micro-batch after a
    * restart reproduces its own directory instead of corrupting it —
    * the same idempotency story as the `batch_id=` sinks. Seed the
    * initial history at `{outDir}/vinit` before starting.
    *
    * Per-batch cost is delta-sized plus one read+write of the history
    * table; at 100 TB the landing table would be id-bucketed and the
    * rewrite bounded to affected buckets — here the point pinned by
    * the oracle is stream ≡ roll ≡ rebuild, byte-for-byte.
    */
  /** Streaming JOIN+AGG view maintenance: each micro-batch of newly
    * arrived lineitem rows rolls the standing per-order revenue view
    * forward via [[graft.operators.ViewMaintenance.orderRevenueRoll]],
    * with the batch's order-attribute rows resolved by a delta-key
    * semi-join against the orders dimension (delta-sized — the same
    * contract as the batch roll). Lands the full rolled view at
    * `{outDir}/v{batchId}`, deterministic per batch, so a replayed
    * micro-batch reproduces its own directory (the [[scd2Sink]]
    * idempotency story). Seed the initial view at `{outDir}/vinit`.
    *
    * `roll` defaults to the insert-only roll; pass
    * [[graft.operators.ViewMaintenance.orderRevenueRetractRoll]] to
    * maintain the view under a RETRACTABLE changelog stream (micro-
    * batches carrying `op` = ±1) — streamed CDC with deletes. Batches
    * staged key-atomically (each key's changelog rows in one batch)
    * keep every intermediate landed view a valid prefix state; the
    * group structure of the measures makes the final state order-
    * independent regardless.
    */
  def joinViewSink(lines: DataFrame, orders: DataFrame, outDir: String,
                   checkpoint: String,
                   roll: (DataFrame, DataFrame, DataFrame) => DataFrame =
                     graft.operators.ViewMaintenance.orderRevenueRoll)
      : org.apache.spark.sql.streaming.StreamingQuery =
    lines.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        val spark = batch.sparkSession
        val prev = if (id == 0L) s"$outDir/vinit"
                   else s"$outDir/v${id - 1}"
        val view = spark.read.parquet(prev)
        val deltaLines = batch.toDF()
        val deltaOrders = orders.join(
          deltaLines.select(col("l_orderkey").as("o_orderkey"))
            .distinct(),
          Seq("o_orderkey"), "left_semi")
        roll(view, deltaOrders, deltaLines)
          .write.mode("overwrite").parquet(s"$outDir/v$id")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming cascade-rollup maintenance (q260's stream leg): each
    * micro-batch of raw events is cut to ITS hourly partials once;
    * the standing hourly table merges them key-wise, and the day
    * table merges the batch's day partials cascaded from those same
    * hours — raw history is never re-read, the day grain never sees
    * raw rows at all. Both grains land at `{outDir}/h{id}` /
    * `{outDir}/d{id}`, deterministic per batch (replay-idempotent,
    * the [[scd2Sink]] story). Seed empty grains at `hinit`/`dinit`.
    * Per-batch cost: the batch scan + two bounded-table merges
    * (≤ #types×#hours and ≤ #types×#days rows).
    */
  def cascadeSink(events: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        val spark = batch.sparkSession
        val tsq = graft.operators.TimeSeriesQueries
        val (prevH, prevD) =
          if (id == 0L) (s"$outDir/hinit", s"$outDir/dinit")
          else (s"$outDir/h${id - 1}", s"$outDir/d${id - 1}")
        val bh = tsq.evHourly(batch.toDF())
        tsq.mergeGrain(spark.read.parquet(prevH), bh,
                       Seq("event_type", "hour"))
          .write.mode("overwrite").parquet(s"$outDir/h$id")
        tsq.mergeGrain(spark.read.parquet(prevD), tsq.evDayFromHours(bh),
                       Seq("event_type", "day"))
          .write.mode("overwrite").parquet(s"$outDir/d$id")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  def scd2Sink(changes: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        val spark = batch.sparkSession
        val prev = if (id == 0L) s"$outDir/vinit"
                   else s"$outDir/v${id - 1}"
        val hist = spark.read.parquet(prev)
        graft.llm.Versioning
          .scd2Roll(hist, batch.toDF(), "doc_id", "version", "op",
                    "text")
          .write.mode("overwrite").parquet(s"$outDir/v$id")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()
}
