package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Real-time feature pipeline (SURVEY §2.8 — the reference's
  * single-process in-memory `kafka_streams_processor.py` re-expressed
  * on Structured Streaming).
  *
  * Differences by design (documented deviations, all improvements):
  *  - T7: the reference has no watermark/late-data story (in-order
  *    assumption, unbounded dicts). We watermark on event time and
  *    bound all per-key state (ring buffers like the reference's
  *    deques at `:62,74`, plus a 15-min idle timeout matching its
  *    `window_size` at `:77`).
  *  - State lives in Spark's checkpointed state store, not process
  *    memory — survives restarts, scales per-key across executors.
  */
object Features {

  /** Canonical streaming event (post-normalization). */
  case class Event(
      user_id: String,
      product_id: String,
      category: String,
      event_type: String,
      price: Double,
      ts: Timestamp)

  /** Per-user session state (`kafka_streams_processor.py:61-69`):
    * bounded to the last `maxRecent` events like the reference's
    * deque(maxlen=100). */
  case class UserSessionState(
      sessionStart: Long,
      lastActivity: Long,
      eventsInSession: Int,
      categoryCounts: Map[String, Int],
      recentProducts: List[String],
      viewedProducts: Set[String],
      cartProducts: Set[String])

  /** Emitted per-event user features
    * (`kafka_streams_processor.py:118-178`, T3). */
  case class UserFeatures(
      user_id: String,
      session_duration_s: Long,
      events_in_session: Int,
      categories_explored: Int,
      products_viewed_count: Int,
      preferred_categories: Seq[String],
      recent_event_sequence: Seq[String],
      is_returning_to_product: Boolean,
      cart_size: Int)

  val MaxRecent = 100       // ref deque maxlen (:62)
  val SessionIdleMs = 15L * 60 * 1000 // ref window_size 15 min (:77)

  /** T1+T3: keyed session state via mapGroupsWithState with a
    * processing-time idle timeout standing in for the reference's
    * 15-minute session window. Works identically on batch Datasets
    * (Spark runs mapGroupsWithState in batch too), which is how the
    * unit tests pin semantics. */
  def userFeatures(events: Dataset[Event]): Dataset[UserFeatures] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSessionState, UserFeatures](
        GroupStateTimeout.ProcessingTimeTimeout) {
        (userId, evts, state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            // idle timer fired with no new events: emit a terminal
            // snapshot and DROP the state — without this the store
            // keeps one entry per all-time user forever and re-emits
            // a stale row every 15 minutes per idle user. (Timeouts
            // never fire in batch execution, so the oracle path q83
            // is unaffected.)
            val s = state.get
            state.remove()
            mkFeatures(userId, s, last = None)
          } else {
            val sorted =
              evts.toSeq.sortBy(e => (e.ts.getTime, e.product_id))
            // session reset on idle gap (ref resets session_start) —
            // the per-event transition lives in [[advance]], shared
            // with the delta form below.
            val s = sorted.foldLeft(
              state.getOption.getOrElse(emptySession))(advance)
            state.update(s)
            state.setTimeoutDuration(SessionIdleMs)
            mkFeatures(userId, s, sorted.lastOption)
          }
      }
  }

  private def mkFeatures(userId: String, s: UserSessionState,
                         last: Option[Event]): UserFeatures = {
    val topCats = s.categoryCounts.toSeq
      .sortBy { case (c, n) => (-n, c) }.take(3).map(_._1)
    UserFeatures(
      user_id = userId,
      session_duration_s =
        math.max(0L, (s.lastActivity - s.sessionStart) / 1000),
      events_in_session = s.eventsInSession,
      categories_explored = s.categoryCounts.size,
      products_viewed_count = s.viewedProducts.size,
      preferred_categories = topCats,
      recent_event_sequence = s.recentProducts.take(5),
      is_returning_to_product = last.exists(e =>
        s.recentProducts.tail.contains(e.product_id)),
      cart_size = s.cartProducts.size)
  }

  /** One delta row per input event, plus a terminal summary row when a
    * user's session times out idle — the emission contract the
    * reference's per-message processing loop implies
    * (`kafka_streams_processor.py:118-178` emits per message) but
    * mapGroupsWithState can't express (one row per group per batch). */
  case class FeatureDelta(
      user_id: String,
      kind: String, // "event" | "session_closed"
      events_in_session: Int,
      categories_explored: Int,
      cart_size: Int,
      session_duration_s: Long)

  /** Advance the session state by one event (shared by the
    * per-batch aggregate form and the per-event delta form). */
  private def advance(st: UserSessionState, e: Event): UserSessionState = {
    val t = e.ts.getTime
    val fresh = t - st.lastActivity > SessionIdleMs
    val base = if (fresh && st.lastActivity > 0)
      st.copy(sessionStart = t, eventsInSession = 0)
    else st.copy(sessionStart = math.min(st.sessionStart, t))
    base.copy(
      lastActivity = math.max(base.lastActivity, t),
      eventsInSession = base.eventsInSession + 1,
      categoryCounts = base.categoryCounts.updatedWith(e.category) {
        c => Some(c.getOrElse(0) + 1)
      },
      recentProducts = (e.product_id :: base.recentProducts).take(MaxRecent),
      viewedProducts =
        if (e.event_type == "view") base.viewedProducts + e.product_id
        else base.viewedProducts,
      cartProducts = e.event_type match {
        case "add_to_cart" => base.cartProducts + e.product_id
        case "purchase"    => base.cartProducts - e.product_id
        case _             => base.cartProducts
      })
  }

  private val emptySession = UserSessionState(
    Long.MaxValue, 0L, 0, Map.empty, Nil, Set.empty, Set.empty)

  /** T1+T3 delta form: flatMapGroupsWithState emitting one
    * [[FeatureDelta]] per EVENT (Append mode) and a `session_closed`
    * summary when the idle timeout fires, after which state is
    * removed — the state store holds only live sessions. */
  def userFeatureDeltas(events: Dataset[Event]): Dataset[FeatureDelta] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSessionState, FeatureDelta](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout) {
        (userId, evts, state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(FeatureDelta(userId, "session_closed",
              s.eventsInSession, s.categoryCounts.size,
              s.cartProducts.size,
              math.max(0L, (s.lastActivity - s.sessionStart) / 1000)))
          } else {
            val sorted = evts.toSeq.sortBy(e => (e.ts.getTime, e.product_id))
            val init = state.getOption.getOrElse(emptySession)
            val (finalState, deltas) =
              sorted.foldLeft((init, Vector.empty[FeatureDelta])) {
                case ((st, acc), e) =>
                  val nxt = advance(st, e)
                  (nxt, acc :+ FeatureDelta(userId, "event",
                    nxt.eventsInSession, nxt.categoryCounts.size,
                    nxt.cartProducts.size,
                    math.max(0L,
                      (nxt.lastActivity - nxt.sessionStart) / 1000)))
              }
            state.update(finalState)
            state.setTimeoutDuration(SessionIdleMs)
            deltas.iterator
          }
      }
  }

  /** T4: rolling 1-hour per-product view counts — the reference's
    * 1000-deep timestamp deque (`:70-75,134-135`) becomes a sliding
    * window aggregate with a watermark bounding state. */
  def rollingProductViews(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 hour", "5 minutes"), col("product_id"))
      .agg(count(lit(1)).as("views_last_hour"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("product_id"), col("views_last_hour"))

  /** T2+T5: per-product stats with conversion/cart rates, div-by-zero
    * guarded like the reference (`:137-138` max(views,1)). */
  def productStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("product_id"))
      .agg(
        sum(when(col("event_type") === "view", 1).otherwise(0))
          .as("view_count"),
        sum(when(col("event_type") === "add_to_cart", 1).otherwise(0))
          .as("cart_adds"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("purchases"))
      .withColumn("conversion_rate",
        round(lit(100.0) * col("purchases")
          / greatest(col("view_count"), lit(1)), 2))
      .withColumn("cart_rate",
        round(lit(100.0) * col("cart_adds")
          / greatest(col("view_count"), lit(1)), 2))
      .select(col("window.start").as("window_start"), col("product_id"),
        col("view_count"), col("cart_adds"), col("purchases"),
        col("conversion_rate"), col("cart_rate"))

  /** T8: session-window aggregates — the 15-minute-inactivity sessions
    * the reference only implies. */
  def sessionAggregates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "15 minutes"), col("user_id"))
      // exact distinct is unsupported on streams; HLL sketch is the
      // scale-correct substitute (exact at tiny cardinalities anyway)
      .agg(count(lit(1)).as("events_in_session"),
        approx_count_distinct(col("product_id")).as("products_in_session"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("events_in_session"),
        col("products_in_session"))

  /** T6: multi-topic fan-out via foreachBatch — each micro-batch lands
    * user features, product shapes, and high-value signals to their
    * own sinks (parquet dirs here; swap writers for Kafka topics in a
    * deployment with the kafka connector on the classpath). Guarded
    * by a per-batchId delivery marker (sibling of the checkpoint, so
    * it shares the checkpoint's storage): foreachBatch re-delivers a
    * batch after crash-restart with the SAME id, and a blind
    * three-way append would double every downstream count. */
  def fanOutQuery(features: DataFrame, userDir: String, prodDir: String,
                  signalsDir: String, checkpointDir: String) =
    features.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        withBatchMarker(batch, checkpointDir + ".markers", batchId) {
          val b = batch.persist()
          // marker payload = batch row count: three sequential appends
          // are the widest non-atomic window in the engine, and a
          // crash mid-fan-out is only reconcilable if the marker says
          // how many rows each sink should have gained
          val n = b.count()
          b.write.mode("append").parquet(userDir)
          b.groupBy(col("product_id"))
            .agg(count(lit(1)).as("events"))
            .write.mode("append").parquet(prodDir)
          b.filter(col("event_type").isin("add_to_cart", "purchase"))
            .write.mode("append").parquet(signalsDir)
          b.unpersist()
          n.toString
        }
      }

  /** S12: the Kafka→bronze landing query shape (Kafka Connect S3 sink
    * replacement, `deploy_s3_connectors.py:70-105`): derive
    * year/month/day/hour partitions from *event* timestamp and write
    * time-partitioned JSON with a checkpoint. Requires a streaming
    * source DataFrame; runs against the file source in tests. */
  def bronzeLanding(stream: DataFrame, bronzeDir: String,
                    checkpointDir: String) =
    stream
      .withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
      .withColumn("day", dayofmonth(col("ts")))
      .withColumn("hour", hour(col("ts")))
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .partitionBy("year", "month", "day", "hour")
      .format("json")
      .option("path", bronzeDir)

  /** Streaming exact dedup (D1 on a stream): drop repeated keys with
    * the dedup state BOUNDED by the event-time watermark — at-least-
    * once sources (Kafka replays, file re-lists) become exactly-once
    * downstream, and state for keys older than the watermark is
    * dropped instead of growing forever (the unbounded-dict failure
    * mode the reference's in-memory dedup would hit at scale). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join (the q53 attribution window in real
    * time): each purchase joined to the same user's view events from
    * the preceding hour. Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark provably expires
    * buffered state — the two requirements for an unbounded-run
    * stream-stream join (without them state grows forever; the same
    * per-key discipline as the reference's in-memory context dicts,
    * but with the engine owning eviction). Inner join: purchases with
    * no prior views simply emit no rows (the batch q53 keeps them via
    * its left join; streaming left-outer would also work but delays
    * emission to the watermark). */
  def attributionStream(purchases: DataFrame, views: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("p_ts"))
    val v = views.withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user_id"), col("ts").as("v_ts"),
        col("product_id").as("viewed_product"))
    p.join(v,
      col("user_id") === col("v_user_id") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") < col("p_ts"),
      "inner")
      .select(col("purchase_id"), col("user_id"),
        col("viewed_product"), col("v_ts"))
  }

  /** Stream-static enrichment: a streaming event frame joined to a
    * STATIC dimension (re-read per micro-batch if the underlying
    * files change — Spark's stream-static contract). The static side
    * is broadcast when small, so no shuffle lands on the stream; at
    * 100 TB/day of events this is the standard way product/user
    * attributes reach real-time features without a stateful join.
    * Left join: events with unknown keys pass through with nulls
    * rather than being dropped. */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Per-batchId delivery marker via Hadoop FileSystem — markers MUST
    * live on the same durable storage as the checkpoint: a
    * driver-local `java.io.File` marker is gone when the driver
    * restarts on another node, which is exactly the crash-replay
    * scenario the marker exists for. Runs `deliver` only when no
    * marker exists, then records the marker with the payload `deliver`
    * RETURNS (the delivered row count, for reconciliation) — payload
    * production lives inside the guarded block so the already-
    * delivered replay path does no batch work at all. */
  private[graft] def withBatchMarker(batch: DataFrame, markerDir: String,
                                     batchId: Long)(
      deliver: => String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(markerDir)
    val fs = dir.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId")
    if (fs.exists(marker)) {
      System.err.println(s"[sink] batch $batchId already delivered, skipping")
    } else {
      val payload = deliver
      fs.mkdirs(dir)
      val out = fs.create(marker, true)
      try out.write(payload.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Idempotent (effectively exactly-once) batch sink: foreachBatch
    * re-delivers a batch after a crash-restart WITH THE SAME batchId,
    * so a marker per delivered id makes the parquet append
    * replay-safe — the poor-man's transactional sink for stores with
    * no native idempotence. Marker write happens AFTER the data
    * write: a crash between the two re-appends that batch on
    * recovery... which the marker check then prevents from doubling
    * only if the data write itself is atomic, so markers carry the
    * batch row count for reconciliation. */
  def idempotentSink(outDir: String, markerDir: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    withBatchMarker(batch, markerDir, batchId) {
      // persist+count INSIDE the guarded block: a replayed
      // already-delivered batch skips without scanning its data
      val b = batch.persist()
      val n = b.count()
      b.write.mode("append").parquet(outDir)
      b.unpersist()
      n.toString
    }
    ()
  }

  /** Lifetime running aggregate per user, bounded by state TTL. */
  case class RunningAgg(
      nEvents: Long, nPurchases: Long, totalValue: Double, lastTs: Long)

  /** Emitted running-feature row (one per key per micro-batch). */
  case class UserRunning(
      user_id: String, n_events: Long, n_purchases: Long,
      total_value: Double)

  /** Per-key running features on Spark 4's arbitrary-stateful-
    * processing v2 API (`transformWithState`): typed `ValueState`,
    * optionally with a TTL so inactive users' state is EVICTED by the
    * store itself — the eviction contract `mapGroupsWithState` can
    * only approximate with manual timeouts. One emitted row per
    * active key per micro-batch; state lives in the checkpointed
    * (RocksDB) store — at 1000 executors each task owns its key
    * range's state, so total state is users-with-activity-inside-TTL,
    * not all-time users. */
  class RunningFeaturesProcessor(ttl: Option[java.time.Duration])
      extends StatefulProcessor[String, Event, UserRunning] {
    @transient private var agg: ValueState[RunningAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[RunningAgg]("agg",
        org.apache.spark.sql.Encoders.product[RunningAgg],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: String, rows: Iterator[Event],
        tv: TimerValues): Iterator[UserRunning] = {
      val prev =
        if (agg.exists()) agg.get() else RunningAgg(0L, 0L, 0.0, 0L)
      val s = rows.foldLeft(prev) { (a, e) =>
        RunningAgg(
          a.nEvents + 1,
          a.nPurchases + (if (e.event_type == "purchase") 1L else 0L),
          a.totalValue + e.price,
          math.max(a.lastTs, e.ts.getTime))
      }
      agg.update(s)
      Iterator.single(
        UserRunning(key, s.nEvents, s.nPurchases, s.totalValue))
    }
  }

  /** T3 on the v2 state API: running per-user features, optionally
    * with TTL-bounded state. Requires the RocksDB state store
    * provider (bundled with Spark 4).
    *
    * TTL implies `TimeMode.ProcessingTime`, under which the
    * micro-batch engine keeps scheduling batches to service
    * expirations — correct for an always-on deployment (the trigger
    * loop never quiesces there anyway), but it means
    * `Trigger.AvailableNow`/`processAllAvailable` never drain
    * (measured: 3k+ empty batches before we killed it). Pass
    * `ttl = None` for drain-to-idle semantics; the state is then
    * bounded only by the live-key count. */
  def runningUserFeatures(events: Dataset[Event],
      ttl: Option[java.time.Duration] = None): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningFeaturesProcessor(ttl),
        ttl.map(_ => TimeMode.ProcessingTime()).getOrElse(TimeMode.None()),
        OutputMode.Update())
  }

  /** Per-group streaming sketch profile emitted per micro-batch. */
  case class GroupProfile(g: String, n: Long, median: Long,
      top_key: Long, top_est: Long, n_distinct: Long)

  /** UPDATE-mode sketch maintenance (the q121/q123 sketch family as
    * dashboard state, vs StreamingSpec's complete-mode re-aggregation):
    * each group's Misra–Gries and MRL quantile sketches live in the
    * checkpointed state store; a micro-batch folds only ITS rows into
    * the stored summaries and emits the group's refreshed profile —
    * one row per ACTIVE group per batch, never a whole-table re-emit.
    * Because both sketches are mergeable and the fold order is
    * immaterial in the exact regime, the last emission per group
    * equals the one-shot batch aggregate over the full history —
    * the delta-merge contract StreamingSpec pins.
    *
    * Scale: state per group is the k-bounded sketch pair (not the
    * keyspace), update mode writes only touched groups, and the store
    * shards by group key across executors — the always-on profiling
    * sidecar a 100-TB ingest runs next to its landing query. */
  class RunningSketchProcessor(k: Int)
      extends StatefulProcessor[String, (String, Long), GroupProfile] {
    import graft.functions.{Freq, Quant, Theta}
    @transient private var mg: ValueState[Freq.MGSummary] = _
    @transient private var qs: ValueState[Quant.QuantileSketch] = _
    @transient private var th: ValueState[Theta.ThetaBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val h = getHandle
      mg = h.getValueState[Freq.MGSummary]("mg",
        org.apache.spark.sql.Encoders.javaSerialization[Freq.MGSummary],
        TTLConfig.NONE)
      qs = h.getValueState[Quant.QuantileSketch]("qs",
        org.apache.spark.sql.Encoders
          .javaSerialization[Quant.QuantileSketch],
        TTLConfig.NONE)
      th = h.getValueState[Theta.ThetaBuf]("th",
        org.apache.spark.sql.Encoders.javaSerialization[Theta.ThetaBuf],
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        tv: TimerValues): Iterator[GroupProfile] = {
      val m = if (mg.exists()) mg.get() else new Freq.MGSummary(k)
      val q = if (qs.exists()) qs.get() else new Quant.QuantileSketch(k)
      // lgK=12 default: the distinct-count member of the profile (the
      // full sketch-family triple — heavy keys, quantiles, distincts —
      // as one state row per group)
      val t = if (th.exists()) th.get() else new Theta.ThetaBuf(12)
      rows.foreach { case (_, v) => m.update(v); q.update(v); t.update(v) }
      mg.update(m); qs.update(q); th.update(t)
      // deterministic top counter: max estimate, ties to the lower key
      val (tk, te) =
        if (m.counts.isEmpty) (-1L, 0L)
        else m.counts.toSeq.maxBy { case (kk, c) => (c, -kk) }
      Iterator.single(GroupProfile(key, q.n, q.query(500000L), tk, te,
        math.round(t.result().getEstimate)))
    }
  }

  /** [[RunningSketchProcessor]] over a (group, value) stream. Requires
    * the RocksDB state store provider (Spark 4's transformWithState
    * contract). */
  def runningGroupSketches(ds: Dataset[(String, Long)],
      k: Int = 64): Dataset[GroupProfile] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RunningSketchProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** One emitted top-k row (per group per rank per micro-batch). */
  case class TopKRow(g: String, rnk: Long, id: Long, ord: Long)

  /** Streaming top-k leaderboard — the claim in
    * [[graft.functions.TopK]]'s doc made executable: window functions
    * cannot run on a stream, but the k-bounded mergeable buffer CAN
    * live in the state store. Each micro-batch folds its (value, id)
    * rows into the group's stored [[graft.functions.TopK.TopKBuf]]
    * and emits the refreshed top-k (largest value first, ties to the
    * lower id — the q133 order); after any prefix of batches the
    * emission equals the batch-mode top-k over everything seen, by
    * the same merge associativity TopKSpec pins. State per group is k
    * pairs of longs.
    *
    * Contracts (inherited from [[graft.functions.TopK]], restated
    * here because the stream lifetime widens them): ids must be
    * unique per group ACROSS THE WHOLE STREAM — rows are immutable
    * events, not score updates (a later row with the same id ranks
    * alongside the earlier one, exactly as batch top-k over both rows
    * would; a latest-score-per-id leaderboard needs max-per-id state
    * upstream of this buffer). `ord = Long.MinValue` is
    * unrepresentable under the largest-first negation of the buffer
    * key; real order keys never touch it. Changing `k` across a
    * checkpointed restart is handled: a deserialized buffer built
    * with a different k is re-keyed to the current k on its group's
    * next input batch (widening takes effect immediately; narrowing
    * evicts deterministically). */
  class RunningTopKProcessor(k: Int)
      extends StatefulProcessor[String, (String, Long, Long), TopKRow] {
    import graft.functions.TopK.TopKBuf
    @transient private var st: ValueState[TopKBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TopKBuf]("topk",
        org.apache.spark.sql.Encoders.javaSerialization[TopKBuf],
        TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Long)],
        tv: TimerValues): Iterator[TopKRow] = {
      val stored = if (st.exists()) Some(st.get()) else None
      // k lives inside the serialized buffer: after a restart with a
      // different k, rebuild the buffer at the current width instead
      // of silently keeping each group's old bound
      val buf = stored match {
        case Some(b) if b.k == k => b
        case Some(b) =>
          val nb = new TopKBuf(k); b.set.foreach(nb.insert); nb
        case None => new TopKBuf(k)
      }
      rows.foreach { case (_, v, id) => buf.insert((-v, id)) }
      st.update(buf)
      buf.set.toSeq.zipWithIndex.map { case ((negOrd, id), i) =>
        TopKRow(key, i + 1L, id, -negOrd)
      }.iterator
    }
  }

  /** [[RunningTopKProcessor]] over a (group, value, id) stream. */
  def runningTopK(ds: Dataset[(String, Long, Long)],
      k: Int): Dataset[TopKRow] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RunningTopKProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }
}
