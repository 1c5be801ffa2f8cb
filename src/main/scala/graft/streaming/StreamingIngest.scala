package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ingest.PayloadReader

/** The reference's incremental ingest (SURVEY.md §2 A7/B4) as
  * Structured Streaming, plus the streaming twins of batch operators
  * and the generation stores that fold micro-batches into snapshots.
  *
  * Every micro-batch sink here goes through one of two drivers, one
  * per contract:
  *   - [[ingestStream]] hands each micro-batch of payload documents to a
  *     batch loader. A micro-batch is an ordinary DataFrame, so the
  *     parquet loader is [[graft.StockPipeline.run]] itself and the
  *     stream runs the batch contract: a bar whose primary key is new is
  *     inserted whatever its age, one already present is skipped, and
  *     the store is the partitioned four-table store. No watermark
  *     bounds the dedup, so stream and batch cannot diverge on a late or
  *     newly added symbol's history.
  *   - [[generationStream]] commits each micro-batch as one immutable
  *     `gen-<batchId>` directory of a generation store.
  */
object StreamingIngest {

  /** Payload JSON documents (one per file) appearing under `payloadDir`,
    * handed to `load` one micro-batch at a time. `Trigger.AvailableNow`
    * drains everything present, then stops: one batch ingest run per
    * start, resumed from `checkpointDir`.
    *
    * A micro-batch holds raw payloads (`PayloadReader.payloadSchema`),
    * so `load` is a batch loader unchanged:
    *   - parquet: `b => StockPipeline.run(spark, base, b, b, b)`. Each
    *     table's normalizer reads only its own series key, so one payload
    *     directory fills all four tables;
    *   - JDBC: `b => sink.appendIdempotent(Normalize.daily(b))`, the
    *     streaming twin of the reference's continuous Postgres mode.
    *
    * Delivery: the checkpoint gives at-least-once micro-batch delivery,
    * and both loaders' PK anti-join turns a replayed micro-batch into 0
    * inserts, so the target holds each PK exactly once — the reference's
    * `ON CONFLICT DO NOTHING` effect without an idempotent Spark sink.
    */
  def ingestStream(spark: SparkSession, payloadDir: String,
      checkpointDir: String)(load: DataFrame => Unit): StreamingQuery =
    spark.readStream
      .schema(PayloadReader.payloadSchema)
      .option("multiLine", true)
      .json(payloadDir)
      .writeStream
      .foreachBatch((batch: Dataset[Row], _: Long) => load(batch.toDF()))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Tumbling event-time window aggregate over an intraday bar stream:
    * per (symbol, window) OHLCV candle — open/close from the earliest/
    * latest bar in the window (min_by/max_by on event time), high/low/
    * volume as plain aggregates — with late data bounded by the
    * watermark (§2.C streaming).
    */
  def windowedOhlcv(intraday: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    intraday
      .withWatermark("date_time", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("date_time"), window)
          .as("w"),
        col("company_symbol"))
      .agg(
        min_by(col("open_price"), col("date_time")).as("open_price"),
        max(col("high_price")).as("high_price"),
        min(col("low_price")).as("low_price"),
        max_by(col("close_price"), col("date_time")).as("close_price"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_bars"))
      .select(col("company_symbol"), col("w.start").as("window_start"),
        col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("volume"), col("n_bars"))

  // ---- stream-stream interval join ----

  /** Stream-stream interval join (the click-attribution shape): each
    * purchase matches every click by the same user within
    * [purchase_ts − lookback, purchase_ts]. Both sides carry event-time
    * watermarks, and the interval condition is what lets Spark EXPIRE
    * join state: a buffered click older than (watermark − lookback) can
    * never match a future purchase and is evicted, so state stays
    * bounded by the time window instead of growing with the stream.
    * Inner-join matches emit as soon as both rows have arrived; the
    * watermark only bounds buffering, not emission latency.
    *
    * Batch twin: `Advanced.q46_attribution` (DuckDB-checked) — the
    * spec drives this operator over the same events and asserts
    * identical output.
    */
  def intervalJoin(
      clicks: DataFrame,     // user_id, click_ts, click_value
      purchases: DataFrame,  // user_id, purchase_ts, purchase_value
      lookback: String = "30 minutes",
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("click_ts", watermark)
      .select(col("user_id").as("__c_user"), col("click_ts"), col("click_value"))
    val p = purchases.withWatermark("purchase_ts", watermark)
    // leftOuter: a purchase with no in-window click emits once with
    // null click columns — but only after the CLICK watermark passes
    // purchase_ts (before that a matching click could still arrive), so
    // outer results trail the inner ones by up to the watermark delay.
    p.join(c,
      col("__c_user") === col("user_id")
        && col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $lookback")
        && col("click_ts") <= col("purchase_ts"),
      joinType)
      .select(col("user_id"), col("purchase_ts"), col("purchase_value"),
        col("click_ts"), col("click_value"))
  }

  // ---- custom state: streaming SMA via flatMapGroupsWithState ----

  case class Bar(company_symbol: String, ts: java.sql.Timestamp, close: Double)
  case class SmaState(recent: List[(Long, Double)])
  case class SmaOut(company_symbol: String, ts: java.sql.Timestamp, sma: Double)

  /** Per-symbol running n-bar SMA with explicit keyed state
    * (`flatMapGroupsWithState`) — the custom-state shape for operators
    * the built-in windows can't express (here: emit-on-arrival rolling
    * aggregates over a count-based, not time-based, window).
    *
    * State per key is the last n (ts, close) pairs — O(n) per symbol,
    * partitioned by symbol across executors like any keyed state store.
    * Bars at-or-before the newest already-processed timestamp (late
    * cross-batch arrivals and duplicates) are dropped — the streaming
    * analogue of the batch high-water-mark filter (A7); emitting
    * retroactive corrections would require Update-mode re-emission,
    * which count-based SMA semantics don't define.
    */
  def streamingSma(bars: org.apache.spark.sql.Dataset[Bar], n: Int)
      : org.apache.spark.sql.Dataset[SmaOut] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.company_symbol)
      .flatMapGroupsWithState[SmaState, SmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, in: Iterator[Bar], state: GroupState[SmaState]) =>
          var recent = state.getOption.map(_.recent).getOrElse(Nil)
          val out = in.toSeq.sortBy(_.ts.getTime).flatMap { b =>
            val hwm = recent.headOption.map(_._1)
            if (hwm.exists(b.ts.getTime <= _)) None  // late or duplicate bar
            else {
              recent = ((b.ts.getTime, b.close) :: recent).take(n)
              if (recent.length == n)
                Some(SmaOut(symbol, b.ts, recent.map(_._2).sum / n))
              else None
            }
          }
          state.update(SmaState(recent))
          out.iterator
      }
  }

  // ---- custom state: streaming sessionization (emit-on-close) ----

  case class SessEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Keyed session state. `n > 0`: an open session. `n == 0`: a sentinel
    * left behind by an idle-timeout flush — no session is open, but
    * `sessionId` carries the NEXT session number to assign and
    * `lastMicros` the flushed session's last event (for the late-event
    * rule), so numbering stays monotonic across flushes. By default the
    * sentinel sets no timeout and persists exactly as long as the
    * open-session state the no-timeout variant keeps for an idle user;
    * an optional sentinel TTL bounds state under unbounded user churn.
    */
  case class SessionState(sessionId: Long, startMicros: Long, lastMicros: Long, n: Long)
  case class ClosedSession(
      user_id: Long, session_id: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  private def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  private def fromMicros(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(m, 1000L))
    t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming twin of the batch [[graft.operators.Sessionize]]: keyed
    * state holds the one open session per user; an event whose gap to
    * the previous exceeds `gapMicros` CLOSES it (emitting one row with
    * the same 1-based numbering the batch operator assigns) and opens
    * the next. Events at-or-before the open session's last timestamp
    * are dropped — the same late-data rule as [[streamingSma]].
    *
    * Emit-on-close keeps the operator deterministic under any batch
    * boundary placement; the final open session emits when a later
    * event closes it. A production deployment that must flush idle
    * sessions adds `GroupStateTimeout.EventTimeTimeout` + a watermark
    * and emits the open session in the timeout branch — same state,
    * same output row.
    */
  def streamingSessions(
      events: org.apache.spark.sql.Dataset[SessEvent],
      gapMicros: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, in: Iterator[SessEvent], state: GroupState[SessionState]) =>
          var st = state.getOption.orNull
          val closed = scala.collection.mutable.ListBuffer[ClosedSession]()
          in.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val m = micros(e.ts)
            if (st == null) {
              st = SessionState(1L, m, m, 1L)
            } else if (m <= st.lastMicros) {
              () // late or duplicate event — drop
            } else if (m - st.lastMicros > gapMicros) {
              closed += ClosedSession(user, st.sessionId, st.n,
                fromMicros(st.startMicros), fromMicros(st.lastMicros))
              st = SessionState(st.sessionId + 1, m, m, 1L)
            } else {
              st = st.copy(lastMicros = m, n = st.n + 1)
            }
          }
          if (st != null) state.update(st)
          closed.iterator
      }
  }

  // ---- custom state: streaming funnel (emit-on-stage-completion) ----

  case class FunnelEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  /** Per-user funnel progress; -1L = stage not reached. */
  case class FunnelState(vMicros: Long, cMicros: Long, pMicros: Long)
  case class StageReached(user_id: Long, stage: String, ts: java.sql.Timestamp)

  /** Streaming twin of the batch funnel (`Advanced.q57_funnel`): keyed
    * state tracks each user's first view, first click after that view,
    * and first purchase after that click; a row emits the moment a
    * stage is newly reached. Under per-user in-timestamp-order delivery
    * (the same no-late-arrivals contract the sessionization twin
    * documents) the greedy first-match recurrence computes exactly the
    * batch MIN-chain, so distinct users per stage equal q57's counts —
    * spec-asserted against the oracle-checked batch query.
    */
  def streamingFunnel(events: org.apache.spark.sql.Dataset[FunnelEvent])
      : org.apache.spark.sql.Dataset[StageReached] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReached](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, in: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ListBuffer[StageReached]()
          in.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val m = micros(e.ts)
            e.event_type match {
              case "view" if st.vMicros < 0 =>
                st = st.copy(vMicros = m)
                out += StageReached(user, "view", e.ts)
              case "click" if st.cMicros < 0 && st.vMicros >= 0 && m > st.vMicros =>
                st = st.copy(cMicros = m)
                out += StageReached(user, "click_after_view", e.ts)
              case "purchase" if st.pMicros < 0 && st.cMicros >= 0 && m > st.cMicros =>
                st = st.copy(pMicros = m)
                out += StageReached(user, "purchase_after_click", e.ts)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** [[streamingSessions]] with idle-session flushing: the caller's
    * stream must carry a watermark on `ts`; a session whose user goes
    * quiet emits once the event-time watermark passes its last event
    * plus the gap — the `EventTimeTimeout` branch the emit-on-close
    * variant documents. Same state, same output rows; the only
    * difference is that trailing sessions don't wait for a later event
    * to close them. Timeout rows lag real time by the watermark delay,
    * like every watermark-finalized result in Structured Streaming.
    *
    * State lifetime: flushing leaves a numbering sentinel per user so
    * a resumed user continues monotonically. By default the sentinel
    * persists — the SAME total-state footprint as [[streamingSessions]]
    * (which keeps every idle user's open session forever). Under
    * unbounded user churn pass `sentinelTtlMicros`: a sentinel idle
    * past the TTL is evicted, bounding state to recently-active users
    * at the documented cost that a user silent for gap + TTL restarts
    * numbering at 1.
    */
  def streamingSessionsWithTimeout(
      events: org.apache.spark.sql.Dataset[SessEvent],
      gapMicros: Long,
      sentinelTtlMicros: Option[Long] = None): org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, in: Iterator[SessEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last-event + gap: the open session can
            // never be extended — flush it, but KEEP a sentinel carrying
            // the next session number so a user who resumes later
            // continues the monotonic numbering instead of restarting at
            // 1 (which would duplicate (user_id, session_id) keys).
            val st = state.get
            if (st.n > 0) {
              state.update(SessionState(st.sessionId + 1, st.lastMicros,
                st.lastMicros, 0L))
              // default: no timeout on the sentinel → persists (exact
              // numbering forever); with a TTL the sentinel itself
              // times out and is evicted below, bounding state
              sentinelTtlMicros.foreach { ttl =>
                // clamp: a deadline already behind the watermark (tiny
                // TTLs) must still be settable — fire next cycle
                state.setTimeoutTimestamp(math.max(
                  Math.floorDiv(st.lastMicros + gapMicros + ttl + 999L, 1000L),
                  state.getCurrentWatermarkMs() + 1))
              }
              Iterator.single(ClosedSession(user, st.sessionId, st.n,
                fromMicros(st.startMicros), fromMicros(st.lastMicros)))
            } else {
              // sentinel TTL expired — evict; the user's numbering
              // restarts at 1 if they ever return (documented tradeoff)
              state.remove()
              Iterator.empty
            }
          } else {
            var st = state.getOption.orNull
            val closed = scala.collection.mutable.ListBuffer[ClosedSession]()
            in.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
              val m = micros(e.ts)
              if (st == null) {
                st = SessionState(1L, m, m, 1L)
              } else if (m <= st.lastMicros) {
                () // late or duplicate event — drop
              } else if (st.n == 0L) {
                // resuming after an idle flush: open the next session
                // under the sentinel's carried number
                st = SessionState(st.sessionId, m, m, 1L)
              } else if (m - st.lastMicros > gapMicros) {
                closed += ClosedSession(user, st.sessionId, st.n,
                  fromMicros(st.startMicros), fromMicros(st.lastMicros))
                st = SessionState(st.sessionId + 1, m, m, 1L)
              } else {
                st = st.copy(lastMicros = m, n = st.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              if (st.n > 0)
                // fires when the event-time watermark passes last + gap;
                // round the micros→ms conversion UP so the timeout can
                // never fire before the full gap has elapsed (a
                // floor-rounded timestamp can be ~1 ms early and split a
                // session whose next event lands inside that sliver);
                // clamped — a watermark-late event's deadline may
                // already be behind the watermark, which Spark rejects
                state.setTimeoutTimestamp(math.max(
                  Math.floorDiv(st.lastMicros + gapMicros + 999L, 1000L),
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
        }
  }

  // ---- streaming exact dedup ----

  case class DocArrival(doc_id: Long, content_hash: String,
      ts: java.sql.Timestamp)

  /** Streaming exact deduplication — the streaming face of
    * [[graft.dedup.Dedup.exactDedup]] (d01): keep the FIRST arrival of
    * each content hash, drop every later duplicate that lands within
    * the watermark horizon. `dropDuplicatesWithinWatermark` keys state
    * by hash and evicts an entry once the watermark passes its event
    * time plus the delay, so state is bounded by the dedup horizon
    * instead of growing with the stream — at corpus scale the state
    * store holds one hash per distinct document seen in the last
    * `watermark`, not the whole corpus. A stream can only promise
    * uniqueness within that horizon; corpus-wide exactness is the
    * batch operator's contract, and a re-arrival after eviction is
    * re-emitted (the documented tradeoff, spec-asserted).
    */
  def streamingExactDedup(
      arrivals: org.apache.spark.sql.Dataset[DocArrival],
      watermark: String = "10 minutes")
      : org.apache.spark.sql.Dataset[DocArrival] =
    arrivals
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  // ---- streaming top-k per key ----

  case class RankEvent(key: Long, item: Long, score: Double)
  case class TopK(key: Long, items: Seq[Long], scores: Seq[Double])

  /** Streaming top-k per key (the leaderboard shape) — the streaming
    * face of the custom batch operator [[graft.plans.TopKPerKey]]:
    * keyed state holds a BOUNDED k-element list per key (never the
    * event history), each trigger folds new events into it and emits
    * the key's refreshed top-k in Update mode. State is k rows per
    * distinct key — the same bound the batch operator's map-side heaps
    * enforce — so a 100 TB keyspace costs k·|keys| state, independent
    * of stream length. Ties break deterministically on (score desc,
    * item asc), matching the batch operator's ordering.
    */
  // ---- streaming SCD Type-2 apply (CDC dimension sink) ----

  /** CDC apply stream: fold each micro-batch of attribute changes into
    * a parquet-backed SCD Type-2 dimension with
    * [[graft.load.Incremental.scdMerge]]. Each batch first collapses to
    * its latest change per key (deterministic (ts, attr) max), so one
    * trigger = one SCD batch — changes superseded inside a single
    * micro-batch coarsen to their final value, the standard micro-batch
    * CDC contract.
    *
    * The dimension lives in the generation directories `gen-<batchId>`
    * of [[generationStream]] under `dimRoot`, one full dimension each: a
    * batch merges into the newest generation strictly below its own id,
    * so a replay re-derives the same result, and re-merging
    * already-applied changes is a no-op by scdMerge's null-safe compare.
    * Durable state is the dimension itself, never executor memory; each
    * trigger costs scdMerge's one keyed join, so a 100 TB dimension
    * streams through exactly like its batch counterpart.
    */
  def scdApplyStream(
      changes: DataFrame,
      dimRoot: String,
      key: String,
      attr: String,
      ts: String,
      checkpointDir: String): StreamingQuery =
    generationStream(changes, dimRoot, checkpointDir) { (batch, gens, genDir) =>
      val latest = batch
        .groupBy(col(key))
        .agg(max_by(col(attr), struct(col(ts), col(attr))).as(attr),
          max(col(ts)).as(ts))
      val empty = latest
        .select(col(key), col(attr), col(ts).as("valid_from"),
          lit(null).cast(batch.schema(ts).dataType).as("valid_to"))
        .limit(0)
      val dim = gens.lastOption
        .map(p => batch.sparkSession.read.parquet(p))
        .getOrElse(empty)
      graft.load.Incremental.scdMerge(dim, latest, key, attr, ts)
        .write.mode("overwrite").parquet(genDir)
    }

  /** Newest committed dimension generation under `dimRoot` (the frame
    * consumers read), or None before the first batch lands.
    */
  def currentScdDimension(
      spark: SparkSession, dimRoot: String): Option[DataFrame] =
    priorGeneration(spark, dimRoot, Long.MaxValue)
      .map(p => spark.read.parquet(p))

  private def priorGeneration(
      spark: SparkSession, root: String, below: Long): Option[String] =
    generations(spark, root, below).lastOption

  /** Paths of the COMMITTED generations under `root` with id below
    * `below`, ascending by id.
    */
  private def generations(
      spark: SparkSession, root: String, below: Long): Seq[String] = {
    val (fs, gens) = listGenerations(spark, root)
    // COMMITTED generations only: [[generationStream]] drops `_SUCCESS`
    // in the gen dir as its LAST act, so a
    // marker-less dir is a mid-write crash remnant — resolving it by
    // name alone would hand every external read-side a
    // silently-truncated snapshot between the crash and the replay.
    // Sub-table generations written BEFORE the gen-level marker existed
    // are adopted by [[backfillGenerationMarkers]] — a read-time
    // fallback to per-table markers is deliberately NOT done here,
    // because mid-crash dirs (one committed table, the next never
    // started) are indistinguishable from legacy commits without the
    // expected table list.
    gens.collect { case (id, p) if id < below && committed(fs, p) => p.toString }
  }

  /** Every `gen-<id>` dir under `root` as (id, path), ascending by id,
    * committed or not — the one listing all generation-store readers,
    * migrations and GC share.
    */
  private def listGenerations(spark: SparkSession, root: String)
      : (FileSystem, Seq[(Long, Path)]) = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens =
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
        .flatMap(s => s.getPath.getName.stripPrefix("gen-").toLongOption
          .map(id => (id, s.getPath)))
        .sortBy(_._1)
    (fs, gens)
  }

  /** A dir (generation or one of its tables) is committed once its
    * writer has dropped `_SUCCESS` in it.
    */
  private def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** The one driver of every generation store. Micro-batch `n` hands
    * `write` its rows, the paths of the store's COMMITTED generations
    * with id strictly below `n` (ascending), and its own directory
    * `root/gen-<n>`, into which `write` lands one snapshot (or, for the
    * admission stores, one append-only part) — directly or as named
    * sub-tables.
    *
    * Commit: the generation-level `_SUCCESS` marker is deleted before
    * `write` runs (so a replayed batch's rewrite un-commits the dir for
    * the rewrite's duration, as Spark's own overwrite of a direct-parquet
    * generation does) and created after it returns. Readers resolve
    * only marker-bearing dirs, so a read-side arriving between a
    * mid-write crash and the stream's replay resolves the newest
    * fully-committed generation instead of a truncated one.
    *
    * Replay contract: generations below `n` are immutable (a batch only
    * ever writes `gen-<its own id>`), so a batch Spark replays after a
    * crash resolves the same generations, recomputes the same output and
    * overwrites its own half- or fully-written dir. Each generation is a
    * deterministic function of the batch id — Structured Streaming's
    * condition for exactly-once micro-batch output.
    */
  private def generationStream(
      input: DataFrame, root: String, checkpointDir: String)(
      write: (DataFrame, Seq[String], String) => Unit): StreamingQuery =
    input.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val below = generations(spark, root, batchId)
        val genDir = s"$root/gen-$batchId"
        val marker = new Path(genDir, "_SUCCESS")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(marker)) fs.delete(marker, false)
        write(batch.toDF(), below, genDir)
        fs.create(marker, true).close()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** A single-table generation store: micro-batch `n` maps its rows to
    * a `partial`, folds that into the `table` of the newest committed
    * generation below `n` (the first batch's snapshot is its partial
    * alone), and writes the result as `gen-<n>/<table>` through
    * [[generationStream]]. Every generation is a full folded snapshot,
    * so readers go through [[latest]] and [[pruneGenerations]] may
    * reclaim older ones. Per-trigger cost is the partial plus one fold
    * against the previous snapshot.
    */
  private def foldStream(
      input: DataFrame, root: String, table: String, checkpointDir: String)(
      fold: (DataFrame, DataFrame) => DataFrame)(
      partial: DataFrame => DataFrame): StreamingQuery =
    generationStream(input, root, checkpointDir) { (batch, gens, genDir) =>
      val part = partial(batch)
      gens.lastOption
        .map(p => fold(batch.sparkSession.read.parquet(s"$p/$table"), part))
        .getOrElse(part)
        .write.mode("overwrite").parquet(s"$genDir/$table")
    }

  /** Additive fold: the union of both snapshots re-aggregated by `keys`,
    * summing every other column under its own name (keys first, then
    * the summed columns in the partial's order). No keys = one row.
    */
  private def sumBy(keys: String*)(prior: DataFrame, part: DataFrame): DataFrame = {
    val sums = part.columns.filterNot(keys.contains).map(c => sum(col(c)).as(c))
    prior.unionByName(part).groupBy(keys.map(col): _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** Store fold under at-least-once armor: a `key` already in the prior
    * snapshot keeps its prior row, so an upstream re-emission can never
    * double-count or rewrite history. The partial must already be
    * unique on `key`.
    */
  private def firstWins(key: String)(prior: DataFrame, part: DataFrame): DataFrame =
    prior.unionByName(part.join(prior.select(col(key)), Seq(key), "left_anti"))

  /** The `table` of the newest committed generation under `root`, or
    * None before the first batch lands.
    */
  private def latest(
      spark: SparkSession, root: String, table: String): Option[DataFrame] =
    priorGeneration(spark, root, Long.MaxValue)
      .map(p => spark.read.parquet(s"$p/$table"))

  /** One-time upgrade migration for SUB-TABLE generation stores
    * (corpus stats and every other `gen-<id>/<table>` layout):
    * generations written before the gen-level `_SUCCESS` marker
    * existed carry only per-table markers, so after the upgrade the
    * strict read-side sees the store as empty (fold state silently
    * restarts) and [[pruneGenerations]] never reclaims the old dirs.
    * This backfills the gen-level marker onto every `gen-*` dir where
    * ALL of the named `tables` subdirectories exist and each carries
    * its own `_SUCCESS` — the expected-table list is what makes the
    * adoption sound: a mid-write crash remnant (first table committed,
    * next never started) is missing a named table and stays
    * uncommitted, which a table-blind "all present subdirs committed"
    * rule could not guarantee. Idempotent; returns the number of
    * generations adopted. Run once per store before the first
    * post-upgrade read (e.g. `backfillGenerationMarkers(spark, root,
    * Seq("df", "tot"))` for a corpus-stats store).
    */
  def backfillGenerationMarkers(spark: SparkSession, root: String,
      tables: Seq[String]): Int = {
    require(tables.nonEmpty, "expected sub-table names must be given")
    val (fs, gens) = listGenerations(spark, root)
    val adopted = gens.map(_._2)
      .filterNot(committed(fs, _))
      .filter(g => tables.forall(tbl => committed(fs, new Path(g, tbl))))
    adopted.foreach(g => fs.create(new Path(g, "_SUCCESS"), true).close())
    adopted.size
  }

  /** Time-travel read over any generation store: the path of the
    * newest COMMITTED generation with id ≤ `id`, or None if that
    * horizon has no committed generation (never started, or already
    * GC'd). Since every generation is a full folded snapshot, this IS
    * the store's state as of batch `id` — pass the exact batch id for
    * a point lookup, `Long.MaxValue` for the current snapshot.
    *
    * GC interaction ([[pruneGenerations]]): pruning keeps the newest
    * `keep` generations, so `keep` is the time-travel horizon — reads
    * at ids older than the `keep`-th-newest generation return the
    * oldest retained snapshot BELOW them or None. A retained
    * generation is immutable (writers only ever touch `gen-<own id>`),
    * so an as-of read is byte-identical no matter how many newer
    * batches land after it (spec-asserted in StreamingSpec).
    */
  def asOfGeneration(
      spark: SparkSession, root: String, id: Long): Option[String] =
    priorGeneration(spark, root,
      if (id == Long.MaxValue) Long.MaxValue else id + 1)

  /** [[asOfGeneration]] typed for the [[scdApplyStream]] dimension
    * (and any other direct-parquet generation store): the dimension
    * frame as of batch `id`.
    */
  def scdDimensionAsOf(
      spark: SparkSession, dimRoot: String, id: Long): Option[DataFrame] =
    asOfGeneration(spark, dimRoot, id).map(p => spark.read.parquet(p))

  // ---- streaming corpus-stats maintenance (the t33 fold, continuous) ----

  /** Continuously maintained corpus statistics — the streaming face of
    * t33's batch fold ([[graft.text.CorpusStats]]), completing the
    * continuous-corpus loop for retrieval/quality stats the way
    * [[streamingNearDupAdmission]] does for dedup: each micro-batch of
    * documents contributes its ADDITIVE partials (n_docs, Σdl,
    * per-term df), which merge with the previous generation's stats
    * and land as `gen-<batchId>` under `statsRoot` (a `df` and a `tot`
    * table per generation, through [[generationStream]]). Per-trigger
    * cost O(|batch| + |vocab|), independent of corpus history — the
    * stats never require a corpus rescan, which is what makes per-batch
    * BM25/LM freshness affordable on a 100 TB corpus.
    */
  def corpusStatsStream(
      docs: DataFrame, // streaming frame with a `text` column
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    generationStream(docs, statsRoot, checkpointDir) { (batch, gens, genDir) =>
      def prior(table: String) =
        gens.lastOption.map(p => batch.sparkSession.read.parquet(s"$p/$table")).toSeq
      val staged = batch
        .withColumn("__toks", graft.text.TextAnalysis.tokens(col("text")))
      val (dfAll, totAll) = graft.text.CorpusStats.merge(
        prior("df") :+ graft.text.CorpusStats.dfPartial(staged, col("__toks")),
        prior("tot") :+ graft.text.CorpusStats.totalsPartial(staged, col("__toks")))
      dfAll.write.mode("overwrite").parquet(s"$genDir/df")
      totAll.write.mode("overwrite").parquet(s"$genDir/tot")
    }

  /** Generation GC for every generation-dir stream (scdApplyStream,
    * corpusStatsStream, transitionMatrixStream, cusumStream): each
    * batch lands a FULL folded snapshot, so only the newest generation
    * is ever read — the older dirs exist purely for the replay window
    * (a re-run batch reads strictly below its own id). Pruning keeps
    * the newest `keep` generations and deletes the rest; with
    * checkpointed streams a batch more than `keep` generations old can
    * never replay, so reads are unaffected (spec-asserted). Without
    * GC a long-running stream's storage grows with trigger count, not
    * state size — this is the missing operational half of the
    * generation protocol.
    *
    * NOT for [[streamingNearDupAdmission]]: its corpus is the UNION of
    * generation dirs (append-only parts, each holding only that
    * batch's admitted docs), so pruning there deletes corpus data.
    * This GC applies only to streams whose every generation is a
    * complete folded snapshot.
    */
  def pruneGenerations(spark: SparkSession, root: String,
      keep: Int = 2): Int = {
    require(keep >= 1, "must keep at least the newest generation")
    val (fs, gens) = listGenerations(spark, root)
    // prune counts and deletes COMMITTED generations only: a marker-less
    // dir is a mid-write crash remnant the restarted stream is about to
    // overwrite — it must neither consume a slot of the keep window
    // (with keep = 1, a remnant above the only committed generation
    // would otherwise get "kept" while the committed one is deleted —
    // data loss) nor be deleted out from under the replay that owns it.
    // Pre-marker sub-table generations are adopted (gen marker
    // backfilled) by the explicit [[backfillGenerationMarkers]]
    // migration, after which they count here like any other committed
    // generation.
    val doomed = gens.map(_._2).filter(committed(fs, _)).dropRight(keep)
    doomed.foreach(fs.delete(_, true))
    doomed.size
  }

  /** Newest committed stats generation as (per-term df, one-row
    * totals), or None before the first batch lands.
    */
  def currentCorpusStats(
      spark: SparkSession, statsRoot: String): Option[(DataFrame, DataFrame)] =
    priorGeneration(spark, statsRoot, Long.MaxValue)
      .map(p => (spark.read.parquet(s"$p/df"), spark.read.parquet(s"$p/tot")))

  // ---- streaming transition-matrix maintenance (the q88 twin) ----

  case class TypedEvent(user_id: Long, event_type: String,
      ts: java.sql.Timestamp, event_id: Long)
  /** Per-user last-seen event (the only state a first-order chain
    * needs — O(|active users|), independent of history length).
    */
  case class LastEvent(tsMicros: Long, eventId: Long, eventType: String)
  case class Transition(user_id: Long, from_type: String, to_type: String,
      ts: java.sql.Timestamp)

  /** Streaming twin of q88's transition extraction: keyed state holds
    * each user's LAST event, and every arrival emits exactly one
    * (from → to) transition row — including across micro-batch
    * boundaries, which a stateless per-batch LEAD would drop. Under
    * the per-user in-order delivery contract the twins document
    * (sessionization, funnel), the emitted multiset equals the batch
    * window's consecutive pairs exactly — spec-asserted against
    * oracle-checked q88 on the real events table.
    */
  def streamingTransitions(events: org.apache.spark.sql.Dataset[TypedEvent])
      : org.apache.spark.sql.Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, in: Iterator[TypedEvent], state: GroupState[LastEvent]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer[Transition]()
          in.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            if (st != null)
              out += Transition(user, st.eventType, e.event_type, e.ts)
            st = LastEvent(micros(e.ts), e.event_id, e.event_type)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Continuously maintained first-order transition matrix — the
    * streaming face of q88, completing the twin the way
    * [[corpusStatsStream]] does for t33: transition counts are
    * ADDITIVE, so each micro-batch's (from, to) counts merge with the
    * previous generation by summation and land as `gen-<batchId>`
    * under `matrixRoot` ([[foldStream]] owns the replay contract).
    * Per-trigger cost O(|batch| + |types|²); the matrix never needs an event-log
    * rescan. Probabilities are DERIVED at read time
    * ([[currentTransitionMatrix]]) — persisting the additive counts,
    * not the normalized rows, is what makes the fold exact.
    */
  def transitionMatrixStream(
      events: org.apache.spark.sql.Dataset[TypedEvent],
      matrixRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(streamingTransitions(events).toDF(), matrixRoot, "matrix",
        checkpointDir)(sumBy("from_type", "to_type")) {
      _.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_trans"))
    }

  /** Newest committed transition matrix with row-normalized
    * probabilities derived from the persisted counts (q88's exact
    * output shape), or None before the first batch lands.
    */
  def currentTransitionMatrix(
      spark: SparkSession, matrixRoot: String): Option[DataFrame] =
    latest(spark, matrixRoot, "matrix").map { m =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      m.select(col("from_type"), col("to_type"), col("n_trans"),
          round(col("n_trans").cast("double") /
            sum(col("n_trans")).over(w), 6).as("p_trans"))
    }

  // ---- streaming CUSUM maintenance (the q89 twin) ----

  /** Continuously maintained CUSUM drift statistics — the streaming
    * face of q89: per-type DAILY event counts are ADDITIVE, so each
    * micro-batch's (event_type, day) counts merge with the previous
    * generation by summation and land as `gen-<batchId>` (through
    * [[foldStream]]). The CUSUM recursion itself is
    * NOT folded — it is order-dependent, so persisting it would bake
    * in arrival order; instead [[currentCusum]] re-derives it at read
    * time from the folded daily series, which is affordable at ANY
    * corpus scale because the series is calendar-bounded (days ×
    * |types|), never event-volume-bounded. That split — fold the
    * additive base, derive the sequential statistic — is the same
    * exactness discipline as [[transitionMatrixStream]]'s derived
    * probabilities, and makes the streamed statistic EQUAL q89 on the
    * union of batches (spec-asserted), late or out-of-order daily
    * buckets included.
    */
  def cusumStream(
      events: DataFrame, // streaming frame with event_type + ts columns
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "daily", checkpointDir)(
        sumBy("event_type", "day")) {
      _.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
    }

  /** q89's exact output derived from the newest folded daily series
    * (integer-scaled Page recursion over the calendar-bounded frame),
    * or None before the first batch lands.
    */
  def currentCusum(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "daily")
      .map(graft.queries.Extensions.cusumFromDaily)

  /** Continuously maintained drift histogram — the streaming face of
    * q122's PSI report (the train/serve skew monitor a feature
    * platform runs ONLINE, alerting between releases instead of at
    * them). Per-bin (n_ref, n_cur) counts are ADDITIVE, so each
    * micro-batch folds [[graft.queries.Features.psiHistogram]]'s
    * partial into the previous generation by summation
    * (through [[foldStream]]); the PSI arithmetic itself
    * is a RATIO statistic — order-dependent on nothing but the folded
    * totals — so [[currentPsi]] re-derives the report at read time
    * through the SAME [[graft.queries.Features.psiFromBins]] the batch
    * query uses, making streamed ≡ batch exact on the union of
    * batches (spec-asserted), late/out-of-order events included. The
    * generation frame is bin-count-bounded (fixed-width bins), never
    * event-volume-bounded.
    */
  def psiDriftStream(
      events: DataFrame, // streaming frame with ts + value columns
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "bins", checkpointDir)(sumBy("bin"))(
      graft.queries.Features.psiHistogram)

  /** q122's exact PSI report derived from the newest folded histogram,
    * or None before the first batch lands.
    */
  def currentPsi(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "bins")
      .map(graft.queries.Features.psiFromBins)

  /** Continuously maintained KS drift monitor — the streaming face of
    * q135 (the significance-tested companion to [[psiDriftStream]]:
    * PSI reports a binned divergence magnitude online, this one tests
    * the raw distributions). Per-value (ref, cur) counts are ADDITIVE,
    * so each micro-batch folds
    * [[graft.queries.Features.ksValueCounts]]'s partial into the
    * previous generation by summation (through [[foldStream]]); the KS
    * max-gap is an order statistic over the folded
    * CDF — a function of the totals alone — so [[currentKs]] derives
    * the report at read time through the SAME
    * [[graft.queries.Features.ksFromCounts]] the batch query uses,
    * making streamed ≡ batch exact on the union of batches
    * (spec-asserted), late/out-of-order events included. The
    * generation frame is distinct-value-bounded, never event-volume-
    * bounded.
    */
  def ksDriftStream(
      events: DataFrame, // streaming frame with ts + value columns
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "vals", checkpointDir)(sumBy("v"))(
      graft.queries.Features.ksValueCounts)

  /** q135's exact KS report derived from the newest folded counts, or
    * None before the first batch lands.
    */
  def currentKs(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "vals")
      .map(graft.queries.Features.ksFromCounts)

  /** Continuously maintained PER-SLICE drift dashboard — the streaming
    * face of q139 (the production monitor: per-segment KS + rank-sum
    * significance that updates as events arrive). Per-(slice, value)
    * (ref, cur) counts are ADDITIVE
    * ([[graft.queries.Features.sliceValueCounts]]), so each
    * micro-batch folds by summation exactly like [[ksDriftStream]],
    * and [[currentDriftBySlice]] derives the whole dashboard at read
    * time through the SAME
    * [[graft.queries.Features.driftFromSliceCounts]] the batch query
    * uses — streamed ≡ batch exact on the union of batches
    * (spec-asserted). The generation frame is bounded by slices ×
    * distinct values, never event volume.
    */
  def driftBySliceStream(
      events: DataFrame, // streaming frame: ts + event_type + value
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "svals", checkpointDir)(
      sumBy("slice", "v"))(graft.queries.Features.sliceValueCounts)

  /** q139's exact per-slice dashboard derived from the newest folded
    * counts, or None before the first batch lands.
    */
  def currentDriftBySlice(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "svals")
      .map(graft.queries.Features.driftFromSliceCounts)

  /** q143's FDR-corrected dashboard derived from the SAME folded
    * per-slice counts [[driftBySliceStream]] maintains — a pure
    * read-side addition (the c08 pattern: zero new state; the BH
    * correction is a projection over the dashboard the store already
    * serves), so the streamed reject set EQUALS the batch one on the
    * union of batches. A late batch can flip a rejection — both by
    * moving a slice's z and by changing m — and the read-time
    * derivation re-ranks from scratch, so both flips are handled by
    * construction.
    */
  def currentBhFdr(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    currentDriftBySlice(spark, statsRoot)
      .map(graft.queries.Features.bhFromDashboard)

  /** Continuously maintained training-mix release — the streaming face
    * of c06 (a corpus that grows all day, a release manifest that is
    * always current). The survivor state is the min-doc-id-per-text
    * fold keyed on the 60-bit text hash, which is ASSOCIATIVE
    * ([[graft.queries.Corpus.c06FoldSurvivors]]): each micro-batch
    * computes its own compact survivor partial (raw text never enters
    * the state) and folds it into the previous generation — O(Δ) work
    * per batch, state bounded by DISTINCT texts, the same class as a
    * persisted dedup table. Quotas, thresholds, packing, and the
    * manifest are all functions of the survivor set alone, so
    * [[currentRelease]] derives the report at read time through the
    * SAME [[graft.queries.Corpus.releaseFromSurvivors]] the batch
    * query uses — streamed ≡ batch exact on the union of batches
    * (spec-asserted), cross-batch duplicate texts included: a batch-2
    * duplicate of a batch-1 text collapses in the fold exactly as it
    * would in one scan.
    */
  def releaseStream(
      docs: DataFrame, // streaming frame: doc_id + source + text
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(docs, statsRoot, "surv", checkpointDir)(
      (prior, part) =>
        graft.queries.Corpus.c06FoldSurvivors(prior.unionByName(part)))(
      graft.queries.Corpus.c06SurvivorPartial)

  /** c06's exact release manifest derived from the newest folded
    * survivor set, or None before the first batch lands.
    */
  def currentRelease(
      spark: SparkSession, statsRoot: String,
      budget: Long = graft.queries.Corpus.C06Budget): Option[DataFrame] =
    latest(spark, statsRoot, "surv").map(surv =>
      graft.queries.Corpus.releaseFromSurvivors(surv.drop("__htext"), budget))

  /** Continuously maintained QUALITY-GATED release — the streaming
    * face of c09, closing the family releaseStream (c06) opened.
    * Unlike c06, NO compact fold can carry this gate: t29's xent is
    * CORPUS-RELATIVE (every document's score and the tertile boundary
    * move when the vocabulary grows), and the gate runs BEFORE dedup,
    * so the gated survivor set is itself corpus-dependent — a batch-2
    * arrival can flip a batch-1 document across the quality boundary
    * and thereby change which copy of a duplicate group survives. The
    * state is therefore the compact DOC STORE itself (doc_id, source,
    * text — the c07 turn-store protocol: state is the input relation,
    * every report derived at read time), and the release comes from
    * the SAME [[graft.queries.Corpus.qualityReleaseOf]] the batch
    * query uses — streamed ≡ batch exact on the union of batches,
    * cross-batch duplicates straddling the quality boundary included
    * (spec-asserted). Zero NEW state kinds; the per-batch rewrite is
    * O(accumulated docs) here for replay simplicity — at production
    * scale the doc store is a partitioned table and a batch appends
    * only its own partition (the scoring pass at read time is the
    * SAME scan c09 pays in batch).
    */
  def qualityReleaseStream(
      docs: DataFrame, // streaming frame: doc_id + source + text
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    // at-least-once armor (r14 advice): checkpoint replay protects
    // against a REPLAYED batch, but an upstream that re-emits a document
    // in a LATER micro-batch would permanently double-count it in every
    // read side (c09 gate, c10 manifest, dedup group sizing). Dedup on
    // doc_id both within the batch (deterministic min-struct pick) and
    // against the prior generation (firstWins — the prior generation's
    // row wins, so a re-emission can never rewrite history either).
    foldStream(docs, statsRoot, "docs", checkpointDir)(firstWins("doc_id")) {
      _.select(col("doc_id"), col("source"), col("text"))
        .groupBy(col("doc_id"))
        .agg(min(struct(col("source"), col("text"))).as("__s"))
        .select(col("doc_id"), col("__s.source"), col("__s.text"))
    }

  /** Continuously maintained EMBEDDING store — the vector sibling of
    * [[qualityReleaseStream]]'s doc store (state is the input
    * relation; every similarity read side derives at read time). The
    * same at-least-once armor: vec_id dedup within the batch
    * (deterministic min-struct pick — Spark orders arrays
    * lexicographically) and against the prior generation (first
    * write wins). Necessarily read-time for the c09 reason: a
    * batch-2 vector can flip a batch-1 point's best-margin neighbor
    * AND its mutual verdict, which no carried pair state could get
    * right.
    */
  def embeddingStream(
      vecs: DataFrame, // streaming frame: vec_id + embedding
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(vecs, statsRoot, "vecs", checkpointDir)(firstWins("vec_id")) {
      _.select(col("vec_id"), col("embedding"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("embedding"))).as("__s"))
        .select(col("vec_id"), col("__s.embedding"))
    }

  /** s21's mined bitext pairs derived from the newest embedding
    * store, or None before the first batch lands — zero new state
    * (the currentBradleyTerry pattern): the miner is the SHARED
    * [[graft.queries.Corpus.s21BruteMinedPairs]] (exact candidates +
    * the same margin/mutual tail the batch query and the recall gate
    * run), so streamed ≡ batch on the union of batches, late
    * cross-batch vectors that flip a mutual-best verdict included
    * (spec-asserted). At production scale the read side probes the
    * persisted IVF index instead of the exact candidate frame — the
    * s21 query's path; the margin algebra is identical.
    */
  def currentBitextPairs(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "vecs")
      .map(graft.queries.Corpus.s21BruteMinedPairs)

  /** s23's PCA projection + whitening derived from the newest
    * embedding store, or None before the first batch lands — the
    * second zero-new-state read side over [[embeddingStream]]'s
    * store. The model REFITS at read time on the store's bounded
    * sample (the shared [[graft.queries.Corpus.fitPca]] +
    * [[graft.queries.Corpus.pcaWhitenOf]] — one fit rule, one
    * projection tail, stream and batch), which is the c09
    * necessity argument again: a late vector landing inside the
    * smallest-id sample boundary changes the MODEL, not just its own
    * row, so no carried moment state could stay exact under
    * first-write-wins dedup. Streamed ≡ batch on the union of
    * batches (spec-asserted).
    */
  def currentPcaWhitening(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "vecs").map(store =>
      graft.queries.Corpus.pcaWhitenOf(store,
        graft.queries.Corpus.fitPca(store)))

  /** c09's exact quality-gated release derived from the newest doc
    * store, or None before the first batch lands.
    */
  def currentQualityRelease(
      spark: SparkSession, statsRoot: String,
      budget: Long = graft.queries.Corpus.C06Budget): Option[DataFrame] =
    latest(spark, statsRoot, "docs")
      .map(graft.queries.Corpus.qualityReleaseOf(_, budget))

  /** c10's exact domain-gate manifest derived from the SAME doc store
    * [[qualityReleaseStream]] maintains — a pure read-side addition
    * with ZERO new state, and necessarily read-time for the c09
    * reason squared: every one of c10's four signals is
    * corpus-relative (the tertile boundary, the cross-source
    * fingerprint overlap) or re-aggregates per source, so a batch-2
    * arrival can flip a SOURCE's verdict — no per-source fold could
    * carry that. Streamed ≡ batch exact on the union of batches
    * (spec-asserted).
    */
  def currentDomainGate(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "docs")
      .map(graft.queries.Corpus.c10ManifestOf)

  /** q150's exact Bradley–Terry fit derived from the SAME turn store
    * [[sftAssemblyStream]] maintains (the third read-side consumer
    * after c07's assembly and c08's pairs — one state, the whole
    * preference ladder): duel aggregation, smoothing, and the
    * fixed-point MM rounds all run at read time through the batch
    * definitions, so a LATE turn that changes a prompt group's
    * chosen/rejected ends re-scores every duel it participated in —
    * which no carried duel-count state could get right. Streamed ≡
    * batch exact on the union of batches (spec-asserted).
    */
  def currentBradleyTerry(
      spark: SparkSession, statsRoot: String,
      iters: Int = graft.queries.Corpus.BtIters): Option[DataFrame] =
    latest(spark, statsRoot, "turns").map(turns =>
      graft.analytics.Preference.bradleyTerryFromDuels(
        graft.queries.Corpus.btDuelsFromTurns(turns), iters))

  /** Continuously maintained SFT assembly — the streaming face of c07
    * (conversations that grow as events arrive, loss-mask offsets that
    * are always current). Turn extraction
    * ([[graft.queries.Corpus.c07TurnFrame]]) is a STATELESS row map,
    * so the state is simply the compact turn store (no raw props, no
    * offsets); each micro-batch appends its turns to the previous
    * generation. Assembly — turn order, prefix-sum offsets, packing,
    * spans — happens at READ time through the SAME
    * [[graft.queries.Corpus.sftFromTurns]] the batch query uses, which
    * is the load-bearing design point: a LATE turn (an old week's
    * event arriving batches later) re-slots into its conversation and
    * moves every downstream offset in that user's stream, which no
    * carried-offset state could get right — streamed ≡ batch exact on
    * the union of batches, out-of-order arrivals included
    * (spec-asserted). The per-batch rewrite is O(accumulated turns)
    * here for replay simplicity; at production scale the turn store is
    * a week-partitioned table and a batch rewrites only the (user,
    * week) partitions it touches — closed weeks are immutable.
    */
  def sftAssemblyStream(
      events: DataFrame, // streaming frame: events-shaped rows
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "turns", checkpointDir)(_ unionByName _)(
      graft.queries.Corpus.c07TurnFrame)

  /** c07's exact assembly derived from the newest turn store, or None
    * before the first batch lands.
    */
  def currentSftAssembly(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "turns")
      .map(graft.queries.Corpus.sftFromTurns)

  /** c08's exact preference pairs derived from the SAME turn store
    * [[sftAssemblyStream]] maintains — a pure read-side addition with
    * ZERO new state: ranking, margin filter, and pair-level dedup all
    * happen at read time through the batch
    * [[graft.queries.Corpus.prefPairsFromTurns]], so a late candidate
    * response can re-decide a prompt group's chosen/rejected verdict
    * (which no carried-pair state could get right) — streamed ≡ batch
    * exact on the union of batches (spec-asserted).
    */
  def currentPreferencePairs(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "turns")
      .map(graft.queries.Corpus.prefPairsFromTurns)

  /** Continuously maintained epoch-shard layout — the streaming face
    * of t45 (a corpus that grows all day, epoch shard manifests that
    * are always current). Every column of the layout is
    * ASSOCIATIVE+COMMUTATIVE (counts and token sums add, membership
    * checksums xor), so each micro-batch folds
    * [[graft.queries.Corpus.epochShufflePartial]]'s compact partial
    * into the previous generation through the SAME
    * [[graft.queries.Corpus.foldEpochShuffle]] the read side uses —
    * O(Δ) work per batch, state bounded at epochs × buckets rows,
    * streamed ≡ batch exact on the union of batches (spec-asserted).
    */
  def epochShuffleStream(
      docs: DataFrame, // streaming frame: doc_id + text
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(docs, statsRoot, "layout", checkpointDir)(
      (prior, part) =>
        graft.queries.Corpus.foldEpochShuffle(prior.unionByName(part)))(
      graft.queries.Corpus.epochShufflePartial)

  /** t45's exact layout derived from the newest folded generation, or
    * None before the first batch lands.
    */
  def currentEpochShuffle(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "layout")

  /** Continuously maintained tokenizer scorecard — the streaming face
    * of t46 (fertility/compression per language, always current as
    * documents arrive). Every column of the mass frame is a count or
    * a sum ([[graft.queries.Corpus.tokenizerEvalPartial]]), so each
    * micro-batch folds its partial into the previous generation
    * through the SAME [[graft.queries.Corpus.foldTokenizerEval]] and
    * [[currentTokenizerEval]] derives the ratio tail at read time
    * through the batch [[graft.queries.Corpus.tokenizerEvalReport]]
    * — O(Δ) per batch, state bounded at one row per language,
    * streamed ≡ batch exact on the union of batches (spec-asserted).
    * The two fitted tokenizer models are parameters: a production
    * stream pins the release tokenizers, it does not refit per batch.
    */
  def tokenizerEvalStream(
      docs: DataFrame, // streaming frame: text + lang
      bm: graft.text.Bpe.Merges,
      um: graft.text.Unigram.Model,
      wm: graft.text.WordPiece.Vocab,
      ym: graft.text.Bpe.Merges, // byte-level table (t52's alphabet)
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(docs, statsRoot, "mass", checkpointDir)(
      (prior, part) =>
        graft.queries.Corpus.foldTokenizerEval(prior.unionByName(part)))(
      graft.queries.Corpus.tokenizerEvalPartial(_, bm, um, wm, ym))

  /** t46's exact scorecard derived from the newest folded generation,
    * or None before the first batch lands.
    */
  def currentTokenizerEval(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "mass")
      .map(graft.queries.Corpus.tokenizerEvalReport)

  /** Continuously maintained experiment readout — the streaming face
    * of q127's Welch A/B test (the live experimentation dashboard:
    * significance updates as purchase events arrive, instead of at a
    * nightly batch). Per-variant (n, Σy, Σy²) sufficient statistics
    * are ADDITIVE, so each micro-batch folds
    * [[graft.queries.Features.abSufficientStats]]'s partial into the
    * previous generation by summation (through [[foldStream]]), and
    * [[currentAbTest]] derives t and df at read time
    * through the SAME [[graft.queries.Features.welchFromStats]] the
    * batch query uses — streamed ≡ batch exact on the union of
    * batches (spec-asserted), because decimal sums are
    * order-independent and the closed-form statistics consume only
    * the folded totals. The generation frame is 2 rows at any event
    * volume.
    */
  def abTestStream(
      events: DataFrame, // streaming frame: user_id + event_type + value
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "ab", checkpointDir)(sumBy("variant_a"))(
      graft.queries.Features.abSufficientStats)

  /** q127's exact readout derived from the newest folded statistics,
    * or None before the first batch lands.
    */
  def currentAbTest(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "ab")
      .map(graft.queries.Features.welchFromStats)

  /** q149's design readout derived from the SAME folded statistics
    * [[abTestStream]] maintains — zero new state (the c08 read-side
    * pattern): the live experiment dashboard shows the Welch verdict
    * AND what lift the current sample could even detect, both from
    * one store.
    */
  def currentMde(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "ab")
      .map(graft.queries.Features.mdeFromStats)

  /** Continuously maintained multi-arm experiment readout — q141's
    * streaming face, the [[abTestStream]] protocol over ALL event
    * types: per-group (n, Σcents, Σcents²) sufficient statistics are
    * additive, each micro-batch folds
    * [[graft.queries.Features.anovaSufficientStats]]'s partial by
    * summation, and [[currentAnova]] derives F at read time through
    * the SAME [[graft.queries.Features.anovaFromStats]] — state
    * bounded at one row per event type, streamed ≡ batch exact on the
    * union of batches (spec-asserted).
    */
  def anovaStream(
      events: DataFrame, // streaming frame: event_type + value
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "anova", checkpointDir)(
      sumBy("event_type"))(graft.queries.Features.anovaSufficientStats)

  /** q141's exact readout derived from the newest folded statistics,
    * or None before the first batch lands.
    */
  def currentAnova(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "anova")
      .map(graft.queries.Features.anovaFromStats)

  /** Continuously maintained Kruskal–Wallis monitor — q142's
    * streaming face, the [[anovaStream]] protocol on the
    * NONPARAMETRIC statistic: per-(group, value) counts are additive
    * ([[graft.queries.Features.kwCounts]]), each micro-batch folds
    * the partial by summation, and [[currentKruskal]] derives H at
    * read time through the SAME
    * [[graft.queries.Features.kruskalWallisFromCounts]] the batch
    * query uses — streamed ≡ batch exact on the union of batches
    * (spec-asserted). State is bounded by groups × distinct values
    * (the ksDriftStream bound), never event volume.
    */
  def kruskalStream(
      events: DataFrame, // streaming frame: event_type + value
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "kw", checkpointDir)(
      sumBy("event_type", "v"))(graft.queries.Features.kwCounts)

  /** q142's exact readout derived from the newest folded counts, or
    * None before the first batch lands.
    */
  def currentKruskal(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "kw")
      .map(graft.queries.Features.kruskalWallisFromCounts)

  /** q146's pairwise post-hoc derived from the SAME folded counts
    * [[kruskalStream]] maintains — zero new state (the c08 read-side
    * pattern): the omnibus monitor and its follow-up read one store.
    */
  def currentDunn(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "kw")
      .map(graft.queries.Features.dunnFromCounts)

  /** Continuously maintained Mann–Kendall trend monitor — q147's
    * streaming face: per-(type, day) counts are additive, each
    * micro-batch folds by summation (state = types × days, the
    * calendar bound), and [[currentMannKendall]] derives the test at
    * read time through the SAME
    * [[graft.queries.Features.mannKendallFromDaily]] the batch query
    * uses — streamed ≡ batch exact on the union of batches
    * (spec-asserted), late events on old days included (the fold
    * updates that day's count and the read side re-ranks).
    */
  def mannKendallStream(
      events: DataFrame, // streaming frame: ts + event_type
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "mk", checkpointDir)(
        sumBy("event_type", "day")) {
      _.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
    }

  /** q147's exact readout derived from the newest folded daily
    * counts, or None before the first batch lands.
    */
  def currentMannKendall(
      spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "mk")
      .map(graft.queries.Features.mannKendallFromDaily)

  /** Continuously maintained term-frequency counts — t47's streaming
    * face (and the general corpus-coverage audit): per-token
    * occurrence counts are additive
    * ([[graft.queries.Corpus.tfCounts]]), each micro-batch folds the
    * partial by summation (through [[foldStream]] — state is
    * vocabulary-bounded, the same O(V) generation the df store
    * carries), and [[currentChao1]] derives the Chao1/Good–Turing
    * report at read time through the SAME
    * [[graft.queries.Corpus.chao1FromCounts]] the batch query uses —
    * streamed ≡ batch exact on the union of batches (spec-asserted).
    */
  def termFreqStream(
      docs: DataFrame, // streaming frame with a `text` column
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(docs, statsRoot, "tf", checkpointDir)(sumBy("token"))(
      graft.queries.Corpus.tfCounts)

  /** t47's exact readout derived from the newest folded counts, or
    * None before the first batch lands.
    */
  def currentChao1(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "tf")
      .map(graft.queries.Corpus.chao1FromCounts)

  /** Continuously maintained panel-agreement monitor — q144's
    * streaming face, the [[anovaStream]] protocol on Fleiss' κ: the
    * three sufficient statistics (N, Σ agreement numerators, Σ
    * positive votes) are additive
    * ([[graft.queries.Features.fleissPartial]]), each micro-batch
    * folds by summation, and [[currentFleiss]] derives κ at read time
    * through the SAME [[graft.queries.Features.fleissFromStats]] the
    * batch query uses — state is ONE row, streamed ≡ batch exact on
    * the union of batches (spec-asserted).
    */
  def fleissStream(
      docs: DataFrame, // streaming frame with a `text` column
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(docs, statsRoot, "fleiss", checkpointDir)(sumBy())(
      batch => graft.queries.Features.fleissPartial(
        graft.queries.Features.fleissLabels(batch)))

  /** q144's exact readout derived from the newest folded statistics,
    * or None before the first batch lands.
    */
  def currentFleiss(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "fleiss")
      .map(graft.queries.Features.fleissFromStats)

  /** Continuously maintained categorical mix monitor — q145's
    * streaming face: per-type (ref, cur) counts are additive
    * ([[graft.queries.Features.catDriftCounts]]), each micro-batch
    * folds by summation, and [[currentCatDrift]] derives χ² at read
    * time through the SAME
    * [[graft.queries.Features.chi2FromCatCounts]] the batch query
    * uses — state is one row per event type, streamed ≡ batch exact
    * on the union of batches (spec-asserted).
    */
  def catDriftStream(
      events: DataFrame, // streaming frame: ts + event_type
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(events, statsRoot, "cat", checkpointDir)(
      sumBy("event_type"))(graft.queries.Features.catDriftCounts)

  /** q145's exact readout derived from the newest folded counts, or
    * None before the first batch lands.
    */
  def currentCatDrift(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "cat")
      .map(graft.queries.Features.chi2FromCatCounts)

  /** Continuously maintained truncation-loss curve — t48's streaming
    * face: the per-candidate-length sums are additive
    * ([[graft.queries.Corpus.truncationPartial]]), each micro-batch
    * folds by summation, and [[currentTruncation]] derives the curve
    * at read time through the SAME
    * [[graft.queries.Corpus.truncationReport]] the batch query uses —
    * state is one row per candidate length, streamed ≡ batch exact on
    * the union of batches (spec-asserted).
    */
  def truncationStream(
      docs: DataFrame, // streaming frame with a `text` column
      statsRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(docs, statsRoot, "trunc", checkpointDir)(sumBy("max_len"))(
      graft.queries.Corpus.truncationPartial)

  /** t48's exact readout derived from the newest folded partials, or
    * None before the first batch lands.
    */
  def currentTruncation(spark: SparkSession, statsRoot: String): Option[DataFrame] =
    latest(spark, statsRoot, "trunc")
      .map(graft.queries.Corpus.truncationReport)

  /** Streaming near-dup admission — the continuous-dedup serving loop
    * over [[graft.dedup.Dedup.incrementalNearDups]]: each micro-batch
    * of (doc_id, text) is (1) self-deduped with the d02 band family
    * (greedy: drop every doc that near-dups a smaller-id batch doc),
    * (2) admission-filtered against the standing corpus — corpus ×
    * corpus is never re-paired, so a batch costs O(|batch| × bands)
    * plus one corpus scan — and (3) its ADMITTED docs land as an
    * immutable generation dir `gen-<batchId>` under `corpusRoot`. The
    * corpus is the union of generation dirs: a batch appends
    * O(admitted) bytes and never rewrites history, which is what makes
    * the loop affordable on a 100 TB corpus. Replay-safe: a re-run
    * batch overwrites only its own generation with the same
    * deterministic result (band family and verify are hash-exact).
    * Seed a bootstrap corpus by writing it to `gen--1` before start.
    */
  def streamingNearDupAdmission(
      incoming: DataFrame,
      corpusRoot: String,
      checkpointDir: String,
      k: Int = 5,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): StreamingQuery =
    generationStream(incoming, corpusRoot, checkpointDir) { (batch, gens, genDir) =>
      val b = batch.select(col("doc_id"), col("text"))
      val selfDropped = graft.dedup.Dedup.minhashNearDups(
        b, "text", "doc_id", k, numHashes, bands, threshold)
        .select(col("id_b").as("doc_id")).distinct()
      graft.Pin.during(b.join(selfDropped, Seq("doc_id"), "left_anti")) { survivors =>
        val admitted =
          if (gens.isEmpty) survivors
          else {
            val corpus = batch.sparkSession.read.parquet(gens: _*)
            val hit = graft.dedup.Dedup.incrementalNearDups(
              corpus, survivors, "text", "doc_id",
              k, numHashes, bands, threshold)
              .select(col("batch_id").as("doc_id")).distinct()
            survivors.join(hit, Seq("doc_id"), "left_anti")
          }
        admitted.write.mode("overwrite").parquet(genDir)
      }
    }

  /** The admitted corpus across all committed generations, or None
    * before any generation (including a `gen--1` seed) exists.
    */
  def admittedCorpus(
      spark: SparkSession, corpusRoot: String): Option[DataFrame] = {
    val gens = generations(spark, corpusRoot, Long.MaxValue)
    if (gens.isEmpty) None else Some(spark.read.parquet(gens: _*))
  }

  /** Streaming exact-substring decontamination — the continuous face
    * of the d17/d18 batch pair (Lee et al. 2022), completing find →
    * cut → ADMIT-AS-YOU-INGEST: each micro-batch of (doc_id, text) is
    *
    *   1. SELF-deduped: a doc sharing any L-gram anchor with a
    *      smaller-id doc in the same batch drops (the greedy
    *      smallest-id-survives rule of [[streamingNearDupAdmission]]);
    *   2. admission-filtered against the standing corpus's ANCHOR
    *      INDEX — sharing an anchor is exactly sharing ≥ L
    *      consecutive tokens (d17's match predicate at threshold L,
    *      reduced to set membership because admission needs
    *      existence, not the maximal extent), so one left-semi join
    *      on 16-byte keys replaces any text comparison;
    *   3. admitted docs land as `gen-<id>/docs` with their DISTINCT
    *      anchors beside them as `gen-<id>/anchors` — the persisted
    *      shingle index, so the standing corpus is NEVER re-exploded:
    *      per-trigger cost is O(|batch| anchors) + one keyed probe,
    *      independent of corpus history. Rejected docs contribute NO
    *      anchors (the index describes what the corpus contains, not
    *      what it has seen).
    *
    * Commit/replay contract: the two tables land under one
    * [[generationStream]] marker; a replayed batch reads only
    * generations strictly below its own id and re-derives the
    * identical result (anchors are content hashes). The admitted
    * corpus carries the d17 invariant BY CONSTRUCTION: no two
    * admitted documents share ≥ L consecutive tokens (spec-asserted
    * with a maximalMatches sweep over the union).
    */
  def exactSubstrAdmissionStream(
      incoming: DataFrame, // streaming (doc_id, text)
      corpusRoot: String,
      checkpointDir: String,
      L: Int = 20): StreamingQuery =
    generationStream(incoming, corpusRoot, checkpointDir) { (batch, gens, genDir) =>
      graft.Pin.during(batch.select(col("doc_id"), col("text"))
          .withColumn("__anch", array_distinct(
            graft.dedup.Dedup.spanAnchors(
              graft.text.TextAnalysis.tokens(col("text")), L)))) { b =>
        val ex = b.select(col("doc_id"), explode(col("__anch")).as("h"))
        val selfDrop = ex
          .join(ex.groupBy(col("h")).agg(min(col("doc_id")).as("__min")),
            Seq("h"))
          .where(col("doc_id") > col("__min"))
          .select(col("doc_id")).distinct()
        val corpusHit =
          if (gens.isEmpty) selfDrop.limit(0)
          else ex.join(anchorIndex(batch.sparkSession, corpusRoot, gens), Seq("h"),
              "left_semi")
            .select(col("doc_id")).distinct()
        val dropped = selfDrop.unionByName(corpusHit).distinct()
        val admitted = b.join(dropped, Seq("doc_id"), "left_anti")
        admitted.select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(s"$genDir/docs")
        admitted.select(explode(col("__anch")).as("h")).distinct()
          .write.mode("overwrite").parquet(s"$genDir/anchors")
      }
    }

  /** The anchor index of the generations at `gens`, read with one
    * multi-path scan. Anchors are BINARY(16) md5 keys; a generation
    * written before that key shrink holds 32-char hex STRING anchors,
    * which this read would see as 32-byte BINARY keys that match
    * nothing — silently admitting duplicates. So any anchor that is not
    * 16 bytes fails the batch and names the one-time
    * [[rewriteHexAnchors]] migration.
    */
  private def anchorIndex(
      spark: SparkSession, corpusRoot: String, gens: Seq[String]): DataFrame =
    spark.read.schema("h BINARY").parquet(gens.map(p => s"$p/anchors"): _*)
      .select(when(length(col("h")) =!= 16, raise_error(lit(
          s"hex-era STRING anchors under $corpusRoot: run " +
            "StreamingIngest.rewriteHexAnchors(spark, corpusRoot) once " +
            "before starting the stream")))
        .otherwise(col("h")).as("h"))

  /** One-time upgrade migration for [[exactSubstrAdmissionStream]]
    * stores written before anchors became BINARY(16) md5 keys: every
    * committed generation whose `anchors` table holds the 32-char hex
    * STRING form gets it rewritten as `unhex(h)`, the exact inverse of
    * the old key. The rewrite lands beside the old table as
    * `anchors.rewrite` and is then swapped in by delete + rename, so the
    * generation stays committed throughout and `anchors` is never
    * half-written: a crash leaves the old table, the new one, or —
    * between delete and rename — no `anchors` at all, which fails the
    * next probe loudly until a re-run finishes the swap. Idempotent;
    * returns the number of generations rewritten. Run once per store
    * before restarting its stream.
    */
  def rewriteHexAnchors(spark: SparkSession, corpusRoot: String): Int = {
    val (fs, gens) = listGenerations(spark, corpusRoot)
    gens.map(_._2).filter(committed(fs, _)).count { g =>
      val anchors = new Path(g, "anchors")
      val staged = new Path(g, "anchors.rewrite")
      if (fs.exists(anchors)) {
        val a = spark.read.parquet(anchors.toString)
        if (a.schema("h").dataType == org.apache.spark.sql.types.StringType)
          a.select(unhex(col("h")).as("h"))
            .write.mode("overwrite").parquet(staged.toString)
      }
      // a committed staged table is a finished rewrite — this run's, or
      // one a crash left between delete and rename
      committed(fs, staged) && {
        fs.delete(anchors, true)
        fs.rename(staged, anchors)
      }
    }
  }

  /** The span-clean admitted corpus across all committed generations
    * of [[exactSubstrAdmissionStream]], or None before any exist.
    */
  def admittedCleanCorpus(
      spark: SparkSession, corpusRoot: String): Option[DataFrame] = {
    val gens = generations(spark, corpusRoot, Long.MaxValue)
    if (gens.isEmpty) None
    else Some(spark.read.parquet(gens.map(p => s"$p/docs"): _*))
  }

  def streamingTopKPerKey(
      events: org.apache.spark.sql.Dataset[RankEvent],
      k: Int): org.apache.spark.sql.Dataset[TopK] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .mapGroupsWithState[List[(Double, Long)], TopK](
        GroupStateTimeout.NoTimeout) {
        (key: Long, in: Iterator[RankEvent],
            state: GroupState[List[(Double, Long)]]) =>
          val merged = (state.getOption.getOrElse(Nil) ++
              in.map(e => (e.score, e.item)))
            .sortBy { case (s, i) => (-s, i) }
            .take(k)
          state.update(merged)
          TopK(key, merged.map(_._2), merged.map(_._1))
      }
  }

  // ---- streaming sampled quantiles (mergeable bottom-k-hash state) ----

  case class QuantEvent(group: String, id: Long, value: Double)
  case class QuantEstimate(group: String, nSample: Int, p50: Double, p90: Double)

  /** Scala-side twin of `KmvSketch.hash64` (first 15 hex chars of the
    * md5 parsed base-16) so streaming state ranks rows by the SAME
    * stable hash the batch sample (q73) and the DuckDB oracle use.
    */
  def md5Hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Linear-interpolated percentile over a sorted sample — the exact
    * `percentile`/`quantile_cont` formula (rank p·(n−1), interpolate).
    */
  def interpPercentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val r = p * (sorted.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    if (lo == hi) sorted(lo)
    else sorted(lo) + (r - lo) * (sorted(hi) - sorted(lo))
  }

  /** Streaming approximate quantiles — the q73 bottom-k-hash summary
    * held as keyed state: each group's state is the k events with the
    * smallest (md5-hash, id) rank seen so far. Min-k is mergeable in
    * any arrival order (min-k of a union = min-k of the min-k's), so
    * after any batch split the state equals the batch sample over the
    * same events — the spec pins that — and each trigger re-emits the
    * group's refreshed interpolated percentiles in Update mode. State
    * is bounded at k triples per group regardless of stream length; no
    * RNG anywhere, so results are replay-deterministic.
    */
  def streamingSampledQuantiles(
      events: org.apache.spark.sql.Dataset[QuantEvent],
      k: Int): org.apache.spark.sql.Dataset[QuantEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.group)
      .mapGroupsWithState[List[(Long, Long, Double)], QuantEstimate](
        GroupStateTimeout.NoTimeout) {
        (group: String, in: Iterator[QuantEvent],
            state: GroupState[List[(Long, Long, Double)]]) =>
          val merged = (state.getOption.getOrElse(Nil) ++
              in.map(e => (md5Hash64(e.id.toString), e.id, e.value)))
            .sortBy { case (h, id, _) => (h, id) }
            .take(k)
          state.update(merged)
          val vals = merged.map(_._3).sorted.toIndexedSeq
          QuantEstimate(group, vals.length,
            interpPercentile(vals, 0.5), interpPercentile(vals, 0.9))
      }
  }

  // ---- streaming co-purchase edge maintenance (the g-family twin) ----

  case class OrderItem(l_orderkey: Long, l_partkey: Long)
  case class PairDelta(src: Long, dst: Long)
  case class OrderParts(parts: Seq[Long])

  /** Streaming twin of [[graft.graph.GraphOps.copurchaseEdgesUndirected]]'s
    * pair extraction: keyed state holds each order's distinct part
    * set, and every NEW part emits exactly one (min, max) pair against
    * each part already in the order — including pairs whose two
    * lineitems arrive in DIFFERENT micro-batches, which a per-batch
    * self-join would silently drop. Duplicate (order, part) arrivals
    * emit nothing (the batch operator's DISTINCT). Per-order state is
    * bounded by order width, and the per-order emitted multiset equals
    * the batch self-join's pairs exactly, so the downstream additive
    * support fold reproduces batch support counts for ANY chunking of
    * the input.
    */
  def streamingCopurchasePairs(items: org.apache.spark.sql.Dataset[OrderItem])
      : org.apache.spark.sql.Dataset[PairDelta] = {
    import items.sparkSession.implicits._
    items
      .groupByKey(_.l_orderkey)
      .flatMapGroupsWithState[OrderParts, PairDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (o: Long, in: Iterator[OrderItem], state: GroupState[OrderParts]) =>
          var seen = state.getOption.map(_.parts.toSet).getOrElse(Set.empty[Long])
          val out = scala.collection.mutable.ListBuffer[PairDelta]()
          in.map(_.l_partkey).toSeq.distinct.sorted.foreach { p =>
            if (!seen(p)) {
              seen.foreach(q =>
                out += PairDelta(math.min(p, q), math.max(p, q)))
              seen += p
            }
          }
          state.update(OrderParts(seen.toSeq))
          out.iterator
      }
  }

  /** Continuously maintained co-purchase edge list — the streaming
    * face of the graph family (g01-g05), closing its continuous loop
    * the way [[transitionMatrixStream]] does for q88: pair SUPPORT is
    * ADDITIVE, so each micro-batch's (src, dst) delta counts merge
    * with the previous generation by summation and land as
    * `gen-<batchId>` under `edgesRoot` (through [[foldStream]]).
    * Per-trigger cost O(|batch|·width + |edges|); the graph
    * operators then run on [[currentCopurchaseEdges]] — the support
    * threshold is applied at READ time, because persisting the raw
    * additive counts (not the thresholded edge set) is what makes the
    * fold exact for every k at once.
    */
  def copurchaseEdgeStream(
      items: org.apache.spark.sql.Dataset[OrderItem],
      edgesRoot: String,
      checkpointDir: String): StreamingQuery =
    foldStream(streamingCopurchasePairs(items).toDF(), edgesRoot, "edges",
        checkpointDir)(sumBy("src", "dst")) {
      _.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("support"))
    }

  /** Newest committed edge set at the given support threshold —
    * shaped exactly like `copurchaseEdgesUndirected(lineitem, k)`, so
    * components / triangles / PageRank / HyperBall run on it
    * unchanged. None before the first batch lands.
    */
  def currentCopurchaseEdges(
      spark: SparkSession, edgesRoot: String, minSupport: Int): Option[DataFrame] =
    latest(spark, edgesRoot, "edges").map(_
        .where(col("support") >= minSupport)
        .select(col("src"), col("dst")))

  /** Weighted variant: support rides along as the edge weight and the
    * mirror union matches [[graft.graph.GraphOps.copurchaseEdgesWeighted]]
    * exactly, so the stream-maintained graph feeds `pageRankWeighted`
    * (g06) unchanged — and, because the fold is exact, with BIT-IDENTICAL
    * ranks to the batch-derived graph (spec-proven).
    */
  def currentCopurchaseEdgesWeighted(
      spark: SparkSession, edgesRoot: String, minSupport: Int): Option[DataFrame] =
    latest(spark, edgesRoot, "edges").map { edges =>
      val u = edges
        .where(col("support") >= minSupport)
        .select(col("src"), col("dst"), col("support").as("w"))
      u.unionAll(u.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    }

  // ---- streaming online feature store (the q118 twin) ----

  /** Continuously maintained per-user feature snapshot — the ONLINE
    * half of the feature store whose OFFLINE half is q118's
    * point-in-time training assembly. Each micro-batch contributes its
    * additive per-user partials (event count, lifetime value in exact
    * integer cents, purchase count, max last-seen timestamp); they
    * fold with the previous generation under the same generation /
    * replay protocol as [[corpusStatsStream]] (a batch reads the
    * newest generation strictly below its own id, so a crashed batch
    * re-derives an identical generation). The fold is a commutative
    * monoid — sums and max — so any batch split of the event stream
    * reaches the same snapshot as a batch recompute (spec-asserted on
    * real events), and per-trigger cost is O(|batch| + |active
    * users|), never a history rescan.
    *
    * The deliberate asymmetry with q118: the stream serves CURRENT
    * features for inference (one row per user, cents as BIGINT); the
    * batch as-of assembly serves TRAINING, where every label needs
    * the snapshot as of its own past timestamp. Maintaining full
    * snapshot HISTORY in the stream would make state O(events); the
    * offline/online split is how production feature stores resolve
    * exactly this tension.
    */
  def featureSnapshotStream(
      events: DataFrame, // streaming: user_id, ts, event_type, value
      storeRoot: String,
      checkpointDir: String): StreamingQuery =
    generationStream(events, storeRoot, checkpointDir) { (batch, gens, genDir) =>
      val part = featurePartials(batch)
      gens.lastOption
        .map(p => foldFeatures(batch.sparkSession.read.parquet(p), part))
        .getOrElse(part)
        .write.mode("overwrite").parquet(genDir)
    }

  /** Per-user additive partials of one event batch. Lifetime value is
    * exact integer cents (the 2-decimal event values quantize
    * losslessly through DECIMAL(18,2)·100), so the fold never touches
    * float addition order.
    */
  def featurePartials(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      sum((round(col("value"), 2)
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long")).as("value_cents"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purchases"),
      max(col("ts")).as("last_seen_ts"))

  /** Monoid fold of two partial frames (union + re-aggregate — one
    * keyed shuffle over |users| rows).
    */
  def foldFeatures(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("user_id")).agg(
      sum(col("n_events")).as("n_events"),
      sum(col("value_cents")).as("value_cents"),
      sum(col("n_purchases")).as("n_purchases"),
      max(col("last_seen_ts")).as("last_seen_ts"))

  /** Newest committed feature snapshot, or None before the first
    * batch lands.
    */
  def currentFeatures(
      spark: SparkSession, storeRoot: String): Option[DataFrame] =
    priorGeneration(spark, storeRoot, Long.MaxValue)
      .map(p => spark.read.parquet(p))
}
