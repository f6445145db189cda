package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.10).
  *
  * The reference is batch (README.md:28, streaming=False README.md:223);
  * what it *does* have is event-driven incremental triggering — a Cloud
  * Function launching a run per GCS upload (README.md:104) and idempotent
  * re-delivery dedup (README.md:114). Spark equivalents:
  *  - file-source stream + `Trigger.AvailableNow()` = run-to-completion
  *    per invocation, exactly the reference's batch-per-event model;
  *  - `dropDuplicatesWithinWatermark` = bounded-state re-delivery dedup;
  *  - watermark + tumbling `window()` aggregation and a
  *    `flatMapGroupsWithState` sessionizer cover the [EXT] event-time
  *    operators the `events` table supports.
  *
  * Scale notes: every stream below keys its state by a high-cardinality
  * column (event_id / user_id / window start), so state distributes
  * across executors; watermarks bound state size; AvailableNow runs
  * backfill without unbounded-source semantics.
  */
object EventStream {

  /** events.parquet physical schema with `ts` read as a nanos long via
    * the legacy conf [[graft.Session.local]] sets — the pre-round-5
    * testdata layout (INT64 TIMESTAMP(NANOS)); current files carry
    * plain `timestamp[us]`. The
    * stream source needs an explicit schema, so [[readEvents]] sniffs the
    * actual layout from the parquet footer (one driver-side metadata
    * read, no Spark job) and picks the matching variant. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over events parquet — the streaming twin of
    * Tables.events (ts_ns exact long + µs timestamp; shared
    * [[graft.Tables.normalizeEvents]] keeps the frames identical).
    * `path` may be a directory or a single file; FileStreamSource needs
    * a directory basePath, so a bare file is turned into a glob under
    * its parent. */
  def readEvents(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val streamPath =
      if (path.endsWith(".parquet")) {
        val slash = path.lastIndexOf('/')
        path.substring(0, slash + 1) + "{" + path.substring(slash + 1) + "}"
      } else path
    val fileSchema = graft.Tables.parquet(spark, path).schema
    val rawSchema = StructType(eventsRawSchema.map { f =>
      if (f.name == "ts") f.copy(dataType = fileSchema("ts").dataType) else f
    })
    val reader = spark.readStream.schema(rawSchema)
    // maxFilesPerTrigger splits a multi-file source into one microbatch
    // per file — q291 uses it to force re-delivered duplicates to
    // arrive in a LATER batch, so the dedup state genuinely carries
    // across microbatches instead of collapsing into within-batch dedup
    val withOpt = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    graft.Tables.normalizeEvents(withOpt.parquet(streamPath))
  }

  /** Tumbling event-time window aggregation with watermark. In streaming
    * mode windows finalize `delay` after their end; the same expression
    * runs unchanged on a batch frame (batch ignores the watermark). */
  def tumblingCounts(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Idempotent re-delivery dedup (README.md:114 semantics): drop
    * duplicate event_ids arriving within the watermark horizon. State is
    * bounded — ids older than the watermark are evicted. */
  def dedupRedelivery(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user session state for [[sessionize]]. */
  case class SessionState(start: Long, lastNs: Long, nEvents: Long)
  /** Emitted closed session. */
  case class Session(user_id: Long, session_start_ns: Long,
      session_end_ns: Long, n_events: Long)
  /** Input row shape for [[sessionize]]. `event_id` exists only as the
    * deterministic tiebreak for same-timestamp events. */
  case class Ev(user_id: Long, ts_ns: Long, event_id: Long)

  /** Custom stateful operator: gap-based sessionization with
    * `flatMapGroupsWithState` (the KeyValueGroupedDataset state API the
    * brief calls for). Emits a session whenever a user's gap exceeds
    * `gapNs`; the open session rides in GroupState across batches.
    * Batch-equivalent logic: Events.sessionize (q22).
    *
    * Ordering contract: rows are sorted within each batch; ACROSS
    * batches events are processed at arrival (the reference's
    * batch-per-upload model). A late event lands in the open session if
    * it falls inside the gap window (lastNs never regresses); late
    * events beyond the gap start a new session at their own time — a
    * watermark+buffer design would be needed for full event-time
    * reordering, which the reference does not require. */
  def sessionize(events: DataFrame, gapNs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val eid = if (events.columns.contains("event_id")) col("event_id") else lit(0L)
    events.select(col("user_id"), col("ts_ns"), eid.as("event_id")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            cur match {
              case Some(s) if math.abs(e.ts_ns - s.lastNs) <= gapNs =>
                // in-gap (possibly a late arrival): extend, never regress
                cur = Some(s.copy(
                  start = math.min(s.start, e.ts_ns),
                  lastNs = math.max(s.lastNs, e.ts_ns),
                  nEvents = s.nEvents + 1))
              case Some(s) =>
                closed += Session(user, s.start, s.lastNs, s.nEvents)
                cur = Some(SessionState(e.ts_ns, e.ts_ns, 1))
              case None =>
                cur = Some(SessionState(e.ts_ns, e.ts_ns, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }.toDF()
  }

  /** Per-user running-total state for [[runningUserTotals]]. Value
    * cents ride as LONG (derived from an exact decimal cast upstream)
    * so state math is integer-only — no float accumulation drift
    * across batches, no parity exposure. */
  case class TotalsState(n: Long, cents: Long)
  /** Updated per-user totals emitted each batch. */
  case class UserTotals(user_id: Long, n_events: Long, sum_cents: Long)

  /** Custom stateful operator #2: per-key running totals via
    * `mapGroupsWithState` (exactly one output row per key per batch —
    * the API variant next to [[sessionize]]'s flatMap, which can emit
    * zero or many). Update output mode: each batch emits the keys it
    * touched with their NEW running totals; state never expires (a
    * deployment tracking live per-user counters would add a
    * GroupStateTimeout eviction policy).
    *
    * Input contract: (user_id, cents) — cents already exact (the
    * caller derives them from a DECIMAL cast, never raw-double math
    * inside the state function). */
  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("cents")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[TotalsState, UserTotals](GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[TotalsState]) =>
          val prev = state.getOption.getOrElse(TotalsState(0L, 0L))
          var n = prev.n
          var c = prev.cents
          rows.foreach { r => n += 1; c += r._2 }
          state.update(TotalsState(n, c))
          UserTotals(uid, n, c)
      }.toDF()
  }

  /** Output row of [[TypeStatsProcessor]]. */
  case class TypeStats(event_type: String, n_events: Long, max_cents: Long)

  /** Custom stateful operator #3: the Spark-4 `transformWithState`
    * API (the successor to mapGroups/flatMapGroupsWithState) with two
    * named ValueState variables per key — count and max-cents — and
    * RocksDB as the required state backend. Folds are commutative
    * (count, max), so the result is independent of row arrival order
    * within a batch. TTLConfig.NONE keeps state forever (a deployment
    * sets a TTL or registers timers for eviction — both are
    * first-class in this API, unlike GroupStateTimeout's coarser
    * contract). */
  class TypeStatsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), TypeStats] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, ValueState}
    @transient private var nState: ValueState[Long] = _
    @transient private var maxState: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      maxState = getHandle.getValueState[Long]("mx",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeStats] = {
      var n = if (nState.exists()) nState.get() else 0L
      var mx = if (maxState.exists()) maxState.get() else Long.MinValue
      rows.foreach { r => n += 1; mx = math.max(mx, r._2) }
      nState.update(n)
      maxState.update(mx)
      Iterator.single(TypeStats(key, n, mx))
    }
  }

  /** Per-type running (count, max) via `transformWithState` — input
    * contract (event_type, cents), cents exact from a decimal cast. */
  def typeStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), col("cents")).as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new TypeStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Checkpoint base for the memory-sink harness streams: tmpfs when
    * available ([[graft.Scratch.fastScratchBase]]). A checkpoint commit
    * is many small fsync-ed files; on a disk-backed /tmp that latency
    * is pure per-microbatch overhead charged to every streaming query.
    * Each query derives its own subdir (queryNames are unique per
    * invocation); the whole base is removed on JVM exit. */
  private lazy val checkpointBase: String = {
    val p = s"${graft.Scratch.fastScratchBase}/graft_chk_${ProcessHandle.current().pid()}"
    graft.Scratch.deleteOnExit(p)
    p
  }

  /** Shuffle partitions every harness stream starts with. Partition
    * count is a state-volume knob, not a parallelism knob: every stateful
    * operator pays a fixed per-partition cost per microbatch (state-store
    * open/commit/snapshot — a stream-stream join keeps FOUR stores per
    * partition), so at harness scale, where the state is a few MB, 32
    * partitions are pure overhead (q58 spent ~5 s/run committing
    * near-empty stores). A 100 TB deployment sizes it to keep each
    * store's state in executor memory. */
  val StateParts = 8

  /** The RocksDB state backend (transformWithState requires it). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Start `writer` under the stream-start confs, scoped to `start()`
    * alone: `start()` clones the session for the query, so the clone
    * keeps [[StateParts]] (and `extra`) for the query's life while the
    * shared session is restored before the stream runs. */
  def startStream(spark: SparkSession, writer: DataStreamWriter[_],
      extra: (String, String)*): StreamingQuery =
    graft.Session.withConf(spark,
        ("spark.sql.shuffle.partitions" -> StateParts.toString) +: extra: _*) {
      writer.start()
    }

  /** Run a streaming frame to completion into an in-memory table
    * (AvailableNow = the reference's run-per-trigger model) and return
    * the materialized result. Complete mode emits every window, so the
    * result matches the batch oracle exactly.
    *
    * Each query checkpoints under its own `checkpointBase/<name>`
    * (queryNames are unique per invocation), set per query so no
    * session conf can re-point a later, unrelated stream at it.
    *
    * The no-data microbatch is skipped unless `finalizeByWatermark`: it
    * exists to finalize watermark-closed APPEND-mode windowed
    * aggregates, and most harness queries don't emit through that path
    * (q38/q61 run Complete; q39/q58/q40 emit on arrival) — for them it
    * is one more state-store open/commit round per store for zero
    * output. q97 DOES emit through it and passes finalizeByWatermark =
    * true to keep the default behavior (also pinned on a default-config
    * stream in StreamingSpec). Oracle-checked: results are
    * batch-identical. `rocksDb` selects [[RocksDbProvider]] for this
    * query (q99's transformWithState requires it).
    *
    * The result is materialized with an eager `localCheckpoint` (block-
    * manager storage, distributed across executors in cluster mode — no
    * driver collect) and the sink's temp view dropped: the blocks are
    * released by the ContextCleaner once the returned frame is
    * unreachable, unlike a `.cache()` which would grow the pinned cache
    * set by one entry per invocation for the process lifetime. */
  def runToTable(df: DataFrame, name: String, mode: OutputMode,
      finalizeByWatermark: Boolean = false, rocksDb: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val writer = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", s"$checkpointBase/$name")
      .trigger(Trigger.AvailableNow())
    val confs =
      Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> finalizeByWatermark.toString) ++
        Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)
    val q = startStream(spark, writer, confs: _*)
    q.awaitTermination()
    // Update-mode parity guard: the memory sink retains one row per
    // touched key PER BATCH, so batch-oracle equality relies on the
    // whole input landing in a single data microbatch (true today:
    // events.parquet is one file and no maxFilesPerTrigger is set). If
    // a future source split ever breaks that, stale partial totals
    // would silently ride along with final ones — fail loudly instead.
    if (mode == OutputMode.Update()) {
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"runToTable($name): Update-mode memory sink saw $dataBatches data " +
          "microbatches; results would mix stale per-batch rows with final " +
          "ones. Dedup to the last row per key or keep the input single-batch.")
    }
    val result = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    result
  }
}
