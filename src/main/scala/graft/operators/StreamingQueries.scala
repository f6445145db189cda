package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.Parity._
import graft.streaming.EventStream

/** Streaming operators surfaced through the driver harness: each query
  * runs a real Structured Streaming job (file source -> stateful
  * transform -> memory sink, Trigger.AvailableNow) to completion and
  * returns the materialized table, so the DuckDB oracle verifies the
  * streaming path end-to-end — not a batch stand-in.
  */
object StreamingQueries {

  private val runId = new AtomicInteger(0)
  private def sinkName(prefix: String) = s"${prefix}_${runId.incrementAndGet()}"

  /** Q38: watermarked tumbling-hour aggregation over the event stream
    * (§2.10). Complete mode emits every window, so the result is exactly
    * the batch answer. */
  def streamTumbling(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
    val agg = EventStream.tumblingCounts(ev)
      .select(col("window_start"), col("event_type"), col("n"))
    EventStream.runToTable(agg, sinkName("stream_tumbling"), OutputMode.Complete())
      .orderBy(col("window_start"), col("event_type"))
  }

  val streamTumblingSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Q39: streaming re-delivery dedup (README.md:114) — then a stateless
    * rollup of the deduped stream. Append mode emits first-seen rows. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
    val deduped = EventStream.dedupRedelivery(ev)
    val out = EventStream.runToTable(
      deduped.select(col("event_id"), col("event_type")),
      sinkName("stream_dedup"), OutputMode.Append())
    out.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique_events"))
      .orderBy(col("event_type"))
  }

  val streamDedupSql: String =
    """SELECT event_type, COUNT(DISTINCT event_id) AS n_unique_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q40: flatMapGroupsWithState sessionization (30-min gap). Append
    * mode emits CLOSED sessions; each user's open tail session stays in
    * state — the oracle drops the last session per user to match.
    * Timestamps are emitted at µs precision: DuckDB truncates the ns
    * parquet timestamp to µs on read, and `div 1000` floors identically. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
    val gapNs = 30L * 60 * 1000 * 1000 * 1000
    val sessions = EventStream.sessionize(ev, gapNs)
    EventStream.runToTable(sessions, sinkName("stream_sessions"), OutputMode.Append())
      .select(col("user_id"),
        expr("session_start_ns div 1000").as("session_start_us"),
        expr("session_end_ns div 1000").as("session_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  val streamSessionsSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS ns,
      |    CASE WHEN LAG(epoch_ns(ts)) OVER w IS NULL
      |           OR epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > 30*60*1000000000::BIGINT
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
      |numbered AS (
      |  SELECT user_id, ns,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ns, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, sid, MIN(ns) // 1000 AS session_start_us,
      |    MAX(ns) // 1000 AS session_end_us, COUNT(*) AS n_events
      |  FROM numbered GROUP BY user_id, sid),
      |maxsid AS (SELECT user_id, MAX(sid) AS m FROM sessions GROUP BY user_id)
      |SELECT s.user_id AS user_id, session_start_us, session_end_us, n_events
      |FROM sessions s JOIN maxsid ON s.user_id = maxsid.user_id
      |WHERE sid < m
      |ORDER BY s.user_id, session_start_us""".stripMargin

  /** Q58: stream-stream interval join — every (click, purchase) pair for
    * the same user with the purchase at most 1 hour after the click.
    * Both sides are real streams with watermarks; the time-interval join
    * condition is what lets Spark evict click state once the purchase
    * watermark passes click_ts + 1h (unbounded state otherwise — the
    * make-or-break property at scale). Inner joins emit matches as they
    * arrive, so the AvailableNow run produces exactly the batch answer,
    * which the oracle verifies as a theta join.
    *
    * Batch-equality assumption: the file source here consumes the input
    * in ONE microbatch (no maxFilesPerTrigger is set, and the input is a
    * single parquet directory), so no watermark advances mid-stream. If
    * the input were split across microbatches, a click older than
    * (watermark - 1h) could be evicted before a late-file purchase
    * arrives and a valid pair would be dropped — a production deployment
    * feeding files over time relies on event-time-ordered arrival within
    * the 2h watermark delay, which is the standard streaming contract,
    * not an extra constraint. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val clicks = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    EventStream.runToTable(joined, sinkName("stream_join"), OutputMode.Append())
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val streamStreamJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** Q250: STREAM-STREAM LEFT SEMI JOIN — "which clicks converted
    * within the hour", emitting each click AT MOST ONCE: the
    * streaming existence test that completes the stream-stream join
    * surface (q58 inner emits every pair — a user with 3 purchases
    * triples each click; q215 outer adds the non-matches; semi is the
    * dedup-on-match shape a funnel feeding a billing/attribution
    * system actually wants). Same watermarked interval condition as
    * q58, so click state still evicts once the purchase watermark
    * passes click_ts + 1h — and semi state is CHEAPER than inner: a
    * click can drop its buffered row the moment one match is seen.
    *
    * Batch equality: q58's single-microbatch file-source argument
    * verbatim; the oracle is the EXISTS replay of the same predicate.
    * Emission is eager-on-first-match (existence needs no end-of-
    * watermark wait), so Append mode produces the batch answer. */
  def streamSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val clicks = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_semi")
      .select(col("c_user").as("user_id"), col("click_id"),
        unix_micros(col("click_ts")).as("click_us"))
    EventStream.runToTable(joined, sinkName("stream_semi"), OutputMode.Append())
      .orderBy(col("user_id"), col("click_id"))
  }

  val streamSemiJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us
      |FROM events c
      |WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND epoch_us(p.ts) >= epoch_us(c.ts)
      |    AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000)
      |ORDER BY user_id, click_id""".stripMargin

  /** Q61: SLIDING-window aggregation over the stream (1 h window /
    * 30 min slide — each event counts in 2 overlapping windows).
    * Streaming twin of batch q57, sharing its oracle. Complete mode is
    * the verification-harness compromise (like q38): it emits every
    * window so the result equals the batch answer, but it also makes
    * Spark retain all window state — a production deployment uses
    * Append/Update, where the watermark declared here evicts windows
    * past the horizon and bounds state. */
  def streamSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
    val agg = ev
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dec2(sum(money(col("value")))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
    EventStream.runToTable(agg, sinkName("stream_sliding"), OutputMode.Complete())
      .orderBy(col("window_start"), col("event_type"))
  }

  // Split by fastScratchBase's own contract: CHECKPOINTS (metadata-sized,
  // fsync-heavy — the microbatch-latency lever) ride tmpfs when present;
  // LANDED DATA (q81's partitioned parquet, q86's aggregate table — scales
  // with the corpus) stays on java.io.tmpdir so RAM-backed scratch never
  // holds a 1:1 copy of the dataset.
  private[graft] lazy val fileSinkDataBase: String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_stream_sink_" +
      ProcessHandle.current().pid()
    graft.Scratch.deleteOnExit(p)
    p
  }
  private lazy val fileSinkCkptBase: String = {
    val p = s"${graft.Scratch.fastScratchBase}/graft_stream_chk_" +
      ProcessHandle.current().pid()
    graft.Scratch.deleteOnExit(p)
    p
  }

  /** Q81: streaming PARTITIONED FILE SINK — the ingest-to-lake leg the
    * memory-sink queries don't exercise. The stream lands append-mode
    * parquet partitioned by event_type with a checkpoint; the file
    * sink's `_spark_metadata` commit log is what makes the write
    * exactly-once (a batch readback lists committed files through the
    * log, never half-written ones; re-running against the same
    * checkpoint adds NO duplicate rows — pinned in StreamingSpec). The
    * readback aggregates per partition so the oracle verifies the
    * landed data, not the stream plan.
    *
    * Scale: stateless passthrough (no state store); sink partitioning
    * makes downstream reads prune by event_type. At 100 TB the same
    * job fans into per-trigger files whose compaction is exactly q68. */
  def streamFileSink(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    // per-(process, sf) layout: Verify and Bench reuse, parallel JVMs don't collide
    val tag = math.abs(dir.hashCode).toString
    val out = s"$fileSinkDataBase/out_$tag"
    val chk = s"$fileSinkCkptBase/chk_$tag"
    val q = EventStream.startStream(spark, ev.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .partitionBy("event_type")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_ids"),
        dec2(sum(money(col("value")))).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val streamFileSinkSql: String =
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_ids,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q86: foreachBatch incremental-aggregate sink — the streaming twin
    * of q85 and the third sink surface (memory, file, foreachBatch):
    * each microbatch's partial aggregate merges into a stored
    * aggregate table via a full outer join, so the stored table is
    * refreshed in O(aggregate key space) per trigger regardless of
    * history size.
    *
    * CRASH-ATOMIC VERSIONED COMMITS (rewritten r12 after the q184
    * crash-injection program): the previous shape rewrote ONE table
    * dir with mode(overwrite), so a crash mid-overwrite destroyed the
    * merged history and the torn-dir recovery could only "rebuild from
    * this batch" — silent loss of every earlier batch's contribution.
    * Now each applied batch writes a NEW immutable version dir
    * (`v<batchId>/`, complete iff Spark's own `_SUCCESS` landed) and
    * the previous complete version is garbage-collected only AFTER the
    * new one is live — the poor-man's Delta/Iceberg commit log, ≤ 2
    * live versions at any instant. Every crash window is covered: a
    * tear mid-write leaves a torn `v<id>` beside the intact previous
    * version (rebuilt over on re-delivery); a tear before the
    * checkpoint commit re-delivers a batch whose version is already
    * complete — `applied >= batchId` skips it (the idempotent-
    * foreachBatch guard, now carried by version DIR NAMES, never by a
    * column in a table that might itself be torn). Versioning also
    * removes the self-overwrite hazard entirely (the merge reads
    * v_old and writes v_new — different paths), so the old
    * localCheckpoint materialization is gone. All probes run through
    * Hadoop's FileSystem (the q184 rule) and the version listing is
    * driver-side metadata over ≤ 2 entries.
    *
    * Scale: the merge never touches history; monoid aggregates only
    * (count/sum), same contract as q85. foreachBatch is where a real
    * deployment would issue MERGE INTO against a warehouse table
    * (jar-verified n/a offline — NOTES round-12). */
  def streamIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
      .select(col("event_type"), col("value"))
    val tag = math.abs(dir.hashCode).toString
    val aggPath = s"$fileSinkDataBase/agg_$tag"
    val chk = s"$fileSinkCkptBase/aggchk_$tag"
    // complete versions = v<digits> children whose own _SUCCESS landed
    def completeVersions(ss: SparkSession): Seq[(Long, String)] = {
      val base = new org.apache.hadoop.fs.Path(aggPath)
      val fs = base.getFileSystem(ss.sparkContext.hadoopConfiguration)
      if (!fs.exists(base)) Nil
      else fs.listStatus(base).toSeq.flatMap { st =>
        val nm = st.getPath.getName
        if (nm.length > 1 && nm.startsWith("v") && nm.drop(1).forall(_.isDigit)
            && fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
          Some(nm.drop(1).toLong -> st.getPath.toString)
        else None
      }
    }
    val q = EventStream.startStream(spark, ev.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val partial = batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(money(col("value"))).as("s"))
        val versions = completeVersions(ss)
        val applied = versions.map(_._1).maxOption.getOrElse(-1L)
        if (applied < batchId) {
          val merged = versions.sortBy(-_._1).headOption match {
            case Some((_, latest)) =>
              ss.read.parquet(latest)
                .withColumnsRenamed(Map("n" -> "n_b", "s" -> "s_b"))
                .join(partial, Seq("event_type"), "full_outer")
                .select(
                  col("event_type"),
                  (coalesce(col("n_b"), lit(0L)) + coalesce(col("n"), lit(0L))).as("n"),
                  // sum(DECIMAL(18,2)) aggregates as DECIMAL(28,2); the
                  // zero literals must carry that type, and the result
                  // re-casts — decimal addition widens to (29,2) and the
                  // stored schema would drift one digit per batch
                  (coalesce(col("s_b"), lit(0).cast("decimal(28,2)"))
                    + coalesce(col("s"), lit(0).cast("decimal(28,2)")))
                    .cast("decimal(28,2)").as("s"))
            case None => partial
          }
          merged.write.mode("overwrite").parquet(s"$aggPath/v$batchId")
          tornBatchHook(batchId, "agg_committed")
          // GC AFTER the new version is complete: every other child
          // (the superseded version, any torn dir) goes — never the
          // one just committed
          val base = new org.apache.hadoop.fs.Path(aggPath)
          val fs = base.getFileSystem(ss.sparkContext.hadoopConfiguration)
          fs.listStatus(base).foreach { st =>
            if (st.getPath.getName != s"v$batchId") fs.delete(st.getPath, true)
          }
        }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    q.awaitTermination()
    val (_, latest) = completeVersions(spark).maxBy(_._1)
    spark.read.parquet(latest)
      .select(col("event_type"), col("n"), dec2(col("s")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val streamIncrementalAggSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q95: STREAM-STATIC enrichment join — the dimension-enrich
    * mechanism the matrix was missing next to q58's stream-stream
    * join: a live stream broadcast-joined against a precomputed
    * batch profile (here, per-type event counts and value sums read
    * batch-side from the same store), then a stateful rollup of the
    * enriched rows. Stream-static joins are STATELESS on the stream
    * side (no watermark, no join state — the static side is planned
    * as a broadcast into every microbatch), so the only state is the
    * final aggregate, keyed by event_type (cardinality-bounded).
    *
    * Parity: "value above the type average" cross-multiplies to
    * exact decimals (value * n_t > sum_t) — never a double division
    * whose rounding could flip a flag between engines. */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val profile = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"), sum(money(col("value"))).as("s_t"))
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
    val enriched = ev.join(broadcast(profile), Seq("event_type"))
      .withColumn("above", money(col("value")) * col("n_t") > col("s_t"))
    val agg = enriched.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("above"), 1L).otherwise(0L)).as("n_above"))
    EventStream.runToTable(agg, sinkName("stream_static"), OutputMode.Complete())
      .orderBy(col("event_type"))
  }

  val streamStaticEnrichSql: String =
    """WITH prof AS (
      |  SELECT event_type, COUNT(*) AS n_t,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS s_t
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type AS event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN CAST(e.value AS DECIMAL(18,2)) * n_t > s_t THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      |FROM events e JOIN prof USING (event_type)
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  /** Q96: per-user running totals via `mapGroupsWithState` in UPDATE
    * mode — the arbitrary-state API variant q40's flatMap sessionizer
    * doesn't cover (exactly one updated row per touched key per
    * batch). Under the harness's single AvailableNow batch every user
    * is touched once, so the update stream IS the per-user totals and
    * the batch oracle verifies the state math end-to-end. Cents are
    * derived from an exact decimal cast BEFORE entering the state
    * function and the output stays integer-only — zero float parity
    * surface.
    *
    * Scale: state is one 16-byte struct per user (high-cardinality
    * key → shards across executors); a deployment adds a
    * GroupStateTimeout eviction policy for departed keys. */
  def streamRunningTotals(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
      .select(col("user_id"),
        (money(col("value")) * 100).cast("long").as("cents"))
    val totals = EventStream.runningUserTotals(ev)
    EventStream.runToTable(totals, sinkName("stream_totals"), OutputMode.Update())
      .orderBy(col("user_id"))
  }

  val streamRunningTotalsSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Q97: watermark-FINALIZED append windows — the emission path every
    * other windowed query sidesteps (q38/q61 run Complete mode): an
    * append-mode tumbling aggregate emits a window only once the
    * watermark passes its end, so the result is the set of CLOSED
    * windows — exactly what an incremental pipeline appends to a
    * downstream table per trigger, and the reason runToTable's no-data
    * skip must stay per-query. The oracle recomputes the closure rule
    * batch-side: windows whose end ≤ max event time (at Spark's
    * millisecond watermark granularity) minus the 2h delay.
    *
    * Scale: append mode is THE bounded-state windowed shape — emitted
    * windows leave the store, so state holds only open windows
    * (watermark horizon x types), while Complete mode retains all. */
  def streamFinalizedWindows(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
    val agg = EventStream.tumblingCounts(ev)
      .select(col("window_start"), col("event_type"), col("n"))
    EventStream.runToTable(agg, sinkName("stream_final"), OutputMode.Append(),
        finalizeByWatermark = true)
      .orderBy(col("window_start"), col("event_type"))
  }

  val streamFinalizedWindowsSql: String =
    """WITH m AS (SELECT MAX(ts) AS mx FROM events),
      |w AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |        event_type, COUNT(*) AS n
      |      FROM events GROUP BY 1, 2)
      |SELECT window_start, event_type, n FROM w CROSS JOIN m
      |WHERE epoch_ms(window_start + INTERVAL 1 HOUR) <= epoch_ms(mx) - 7200000
      |ORDER BY window_start, event_type""".stripMargin

  /** Q99: per-type running stats via the Spark-4 `transformWithState`
    * API on the ROCKSDB state backend (the API requires it; runToTable
    * scopes the provider to this query's start, like the no-data
    * flag). Two named ValueState variables per key; commutative folds
    * (count, max) so arrival order cannot change the answer; output
    * integer-only. RocksDB is also the backend a 100 TB deployment
    * runs — state spills to disk with changelog checkpointing instead
    * of living in executor heap like the HDFS-backed store. */
  def streamTypeStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
      .select(col("event_type"),
        (money(col("value")) * 100).cast("long").as("cents"))
    EventStream.runToTable(EventStream.typeStats(ev), sinkName("stream_tws"),
        OutputMode.Update(), rocksDb = true)
      .orderBy(col("event_type"))
  }

  val streamTypeStatsSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS max_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q108: STREAMING INCREMENTAL DECONTAMINATION — q104's
    * ingestion-time twin: newly-arriving documents (the doc_id % 5 == 0
    * slice, read as a file-source stream) are checked against the SAME
    * persisted corpus artifacts q104 built (gram-hash index + derived
    * bloom), entirely inside the microbatch: stateless explode ->
    * codegen'd bloom probe -> stream-static LEFT join against the
    * index, with the join key NULLed for bloom-rejected grams so
    * definitely-new grams (the vast majority in a healthy pipeline)
    * probe nothing -> per-doc aggregate in Update mode. Each document
    * lives in exactly one microbatch, so Update emits one final row
    * per doc; runToTable's single-batch guard fails loudly if a source
    * split ever breaks that.
    *
    * Accounting is per gram INSTANCE (streaming aggregation cannot do
    * per-key distinct) — the documented semantic difference from
    * q104's distinct-gram accounting; the oracle mirrors it. The only
    * state is the per-doc aggregate, keyed by high-cardinality doc_id
    * and bounded by the docs in flight. */
  def streamDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.wordShingles
    val (indexPath, bloom) = Indexes.buildCorpusGramIndex(spark, dir)
    val index = spark.read.parquet(indexPath).withColumn("hit", lit(1))
    val docsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(docsSchema)
      .parquet(s"$dir/{documents.parquet}")
      .filter(col("doc_id") % Indexes.BatchMod === 0 && col("text").isNotNull)
      .select(col("doc_id"),
        explode(wordShingles(col("text"), Indexes.GramK)).as("gram"))
      // md5 raw bytes: must match the v2 binary-keyed gram index
      .select(col("doc_id"), unhex(md5(col("gram"))).as("gh"))
      // NULL bucket for bloom-rejected grams: equi-join keys never
      // match NULL, so only candidates probe the index
      .withColumn("bucket",
        when(Indexes.bloomMightContain(col("gh"), bloom), Indexes.bucketOf(col("gh"))))
    val agg = stream.join(index, Seq("bucket", "gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_shared"))
    EventStream.runToTable(agg, sinkName("stream_decontam"), OutputMode.Update())
      .filter(col("n_shared") > 0)
      .withColumn("shared_frac",
        dec6(col("n_shared").cast("decimal(18,0)") / col("n_grams")))
      .select(col("doc_id"), col("n_grams"), col("n_shared"), col("shared_frac"))
      .orderBy(col("doc_id"))
  }

  val streamDecontamSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE text IS NOT NULL),
      |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS g
      |        FROM toks WHERE len(t) >= 8),
      |grams AS (SELECT doc_id, md5(array_to_string(t[g:g+7], ' ')) AS gh FROM pos),
      |corpus AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 5 != 0),
      |batch AS (SELECT doc_id, gh FROM grams WHERE doc_id % 5 = 0)
      |SELECT b.doc_id, COUNT(*) AS n_grams,
      |  CAST(COUNT(c.gh) AS BIGINT) AS n_shared,
      |  CAST((2 * COUNT(c.gh) * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
      |    / 1000000 AS shared_frac
      |FROM batch b LEFT JOIN corpus c USING (gh)
      |GROUP BY b.doc_id HAVING COUNT(c.gh) > 0
      |ORDER BY doc_id""".stripMargin

  /** Q184: STREAMING END-TO-END CURATION — the composition proof: one
    * continuous file-stream query chains q112's rule gate → q108's
    * decontamination probe (against the SAME persisted q104 artifacts)
    * → cross-batch exact dedup → q74's sequence packing, landing the
    * per-document bin assignment in an idempotent partitioned sink.
    * Each stage is the operator family's own logic (the shared
    * [[Curation.gopherPassAll]] conjunction, the bloom-pruned index
    * equi-join, keep-first-arrived dedup, the packBins cum/floor
    * arithmetic), so this is q87's batch pipeline re-deployed as
    * continuous ingestion.
    *
    * CROSS-BATCH STATE LIVES IN THE COMMITTED TABLE, not a state
    * store: a batch reads prior batches' content hashes (dedup) and
    * per-source token totals (packing offsets) from the sink itself —
    * the warehouse-native pattern (Delta/Iceberg MERGE state), bounded
    * per trigger by O(committed assignments), and the natural shape
    * when downstream consumers need the assignments as a table anyway.
    * Exactly-once: each batch overwrites its own DETERMINISTIC
    * partition path (`batch=<id>`, staged-published); a re-delivered
    * batch recomputes offsets from strictly-earlier batches
    * (batch < id) and rewrites byte-identical content. Dedup keeps the
    * FIRST-ARRIVED copy (the streaming reality); with the harness's
    * single-file source every doc arrives in one batch in doc_id
    * order, so the result equals the batch oracle's keep-min-doc_id —
    * StreamingSpec additionally splits the corpus into two ordered
    * files and pins 2-batch ≡ 1-batch equality (offsets + dedup
    * actually crossing a trigger boundary).
    *
    * Scale shape per trigger: the gate and gram probe are batch-local
    * (bloom prunes before the index join, candidate grams only); the
    * dedup anti-join keys on 32-char hashes; the packing window
    * partitions by source; the prior-state read carries three narrow
    * columns. Nothing rescans the corpus, nothing shuffles text. */
  def streamCuration(spark: SparkSession, dir: String): DataFrame =
    streamCurationOn(spark, dir, s"$dir/{documents.parquet}", "cura")

  /** TEST-ONLY crash injection for the q184 sink (VERDICT r11 task 4):
    * invoked at the two torn-write points of every batch — after the
    * staging write but before the publish rename (`"staged"`), and
    * after the publish but before foreachBatch returns, i.e. before
    * the checkpoint commit (`"published"`). A hook that throws kills
    * the stream exactly there; StreamingSpec restarts from the same
    * checkpoint and pins committed-table ≡ uninterrupted-run for both
    * tear positions. Production path: a no-op. */
  @volatile private[graft] var tornBatchHook: (Long, String) => Unit =
    (_, _) => ()

  private[graft] def streamCurationOn(spark: SparkSession, dir: String,
      streamPath: String, tagPrefix: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.{tokenCount, distinctTokens, stopwordCount, wordShingles}
    val (indexPath, bloom) = Indexes.buildCorpusGramIndex(spark, dir)
    val tag = s"${tagPrefix}_${math.abs((dir + "|" + streamPath).hashCode)}"
    val outPath = s"$fileSinkDataBase/$tag"
    val chk = s"$fileSinkCkptBase/chk_$tag"
    val docsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val reader = spark.readStream.schema(docsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(streamPath)
      .filter(col("doc_id") % Indexes.BatchMod === 0 && col("text").isNotNull)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        // q112 gate over exact count features (shared conjunction)
        val m = batch.select(col("doc_id"), col("source"), col("text"),
          tokenCount(col("text")).as("n"),
          (length(col("text")) - tokenCount(col("text")) + 1).as("tokchars"),
          size(distinctTokens(col("text"))).cast("bigint").as("nd"),
          stopwordCount(col("text")).as("nstop"))
        val gated = m.filter(Curation.gopherPassAll(
          col("n"), col("tokchars"), col("nd"), col("nstop")))
        // q108 probe: a doc survives iff it shares NO corpus 8-gram
        // (inner join keeps only true hits; zero shared instances ==
        // zero shared distinct grams, so the gate is accounting-free)
        val index = ss.read.parquet(indexPath)
        val contaminated = gated
          .select(col("doc_id"),
            explode(wordShingles(col("text"), Indexes.GramK)).as("gram"))
          // md5 raw bytes: must match the v2 binary-keyed gram index
          .select(col("doc_id"), unhex(md5(col("gram"))).as("gh"))
          .withColumn("bucket",
            when(Indexes.bloomMightContain(col("gh"), bloom),
              Indexes.bucketOf(col("gh"))))
          .join(index, Seq("bucket", "gh"))
          .select(col("doc_id")).distinct()
        val clean = gated.join(contaminated, Seq("doc_id"), "left_anti")
          .withColumn("h", md5(col("text")))
          .select(col("doc_id"), col("source"), col("h"), col("n"))
        // prior-state probe through Hadoop's FileSystem, not java.nio:
        // the sink path is warehouse-native, so under an HDFS/S3A base
        // a local-filesystem check would silently answer false and
        // every batch would restart offsets as if no state existed
        val outHPath = new org.apache.hadoop.fs.Path(outPath)
        val outFs = outHPath.getFileSystem(ss.sparkContext.hadoopConfiguration)
        // probe for a COMMITTED partition, not bare dir existence: a
        // batch torn between staging write and publish leaves the sink
        // dir behind EMPTY (creating the staging child created the
        // parent), and a bare-existence probe would then read an empty
        // dir as parquet on restart and die on schema inference — found
        // by the crash-injection spec, the q184 torn-batch test
        val outExists = outFs.exists(outHPath) &&
          outFs.listStatus(outHPath).exists(_.getPath.getName.startsWith("batch="))
        val prior =
          if (outExists)
            Some(ss.read.parquet(outPath).filter(col("batch") < batchId)
              .select(col("source"), col("h"), col("n")).localCheckpoint(true))
          else None
        val newDocs = prior match {
          case Some(p) =>
            clean.join(p.select(col("h")).distinct(), Seq("h"), "left_anti")
          case None => clean
        }
        val withinW = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        val deduped = newDocs.withColumn("rn", row_number().over(withinW))
          .filter(col("rn") === 1).drop("rn")
        val packW = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val packed0 = deduped.withColumn("cum0", sum(col("n")).over(packW))
        val offs = prior.map(_.groupBy(col("source"))
          .agg(sum(col("n")).as("off")))
        val packed = (offs match {
          case Some(o) => packed0.join(broadcast(o), Seq("source"), "left")
            .withColumn("cum", col("cum0") + coalesce(col("off"), lit(0L)))
          case None => packed0.withColumn("cum", col("cum0"))
        })
          // floor, not a bare cast (the packBins parity note)
          .withColumn("bin",
            floor((col("cum") - col("n")) / Curation.PackBudget).cast("bigint"))
          .select(col("doc_id"), col("source"), col("h"), col("n"), col("bin"))
        // NOTE: publishStaged's rename-aside swap is java.nio and thus
        // POSIX-local; a distributed sink (HDFS/S3A) would instead rely
        // on the partition dir's own atomic commit (write to
        // batch=N.tmp + FileSystem.rename), which HDFS rename gives
        // directly. The prior-state PROBE above is already FS-correct;
        // only the publish step carries the local restriction.
        graft.Scratch.publishStaged(s"$outPath/batch=$batchId") { stage =>
          packed.write.mode("overwrite").parquet(stage)
          tornBatchHook(batchId, "staged")
        }
        tornBatchHook(batchId, "published")
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outPath)
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("bigint").as("bin_tokens"),
        min(col("doc_id")).cast("bigint").as("first_doc"),
        max(col("doc_id")).cast("bigint").as("last_doc"))
      .orderBy(col("source"), col("bin"))
  }

  /** DuckDB twin: gate → no-shared-gram filter → keep-min-doc dedup →
    * per-source packing, replayed over the same %5 slice. */
  val streamCurationSql: String = {
    val stopList = graft.functions.TextFunctions.EnglishStopwords
      .map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS t
       |           FROM documents WHERE text IS NOT NULL),
       |feat AS (SELECT doc_id, source, text, t, len(t) AS n,
       |           len(text) - len(t) + 1 AS tokchars,
       |           len(list_distinct(t)) AS nd,
       |           len(list_filter(t, x -> x IN ($stopList))) AS nstop
       |         FROM d WHERE doc_id % 5 = 0),
       |gated AS (SELECT * FROM feat
       |          WHERE n BETWEEN 20 AND 80
       |            AND tokchars*100 >= n*420 AND tokchars*100 <= n*470
       |            AND nstop >= 2 AND nstop*20 >= n AND nd*2 >= n),
       |corpus AS (SELECT DISTINCT md5(array_to_string(t[g:g+7], ' ')) AS gh
       |           FROM (SELECT t, unnest(generate_series(1, len(t) - 7)) AS g
       |                 FROM d WHERE doc_id % 5 != 0 AND len(t) >= 8)),
       |bg AS (SELECT doc_id, md5(array_to_string(t[g:g+7], ' ')) AS gh
       |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS g
       |             FROM gated WHERE len(t) >= 8)),
       |contam AS (SELECT DISTINCT doc_id FROM bg JOIN corpus USING (gh)),
       |clean AS (SELECT g.doc_id, g.source, md5(g.text) AS h, g.n FROM gated g
       |          WHERE g.doc_id NOT IN (SELECT doc_id FROM contam)),
       |dedup AS (SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
       |    FROM clean) WHERE rn = 1),
       |packed AS (SELECT *,
       |    SUM(n) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM dedup)
       |SELECT source, CAST(FLOOR((cum - n) / ${Curation.PackBudget}) AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS bin_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM packed GROUP BY 1, 2 ORDER BY source, bin""".stripMargin
  }

  /** Q215: WATERMARKED LEFT-OUTER STREAM-STREAM JOIN — q58's interval
    * join with outer semantics: every click pairs with its purchases
    * within 1 hour, AND clicks that never convert emit a null-padded
    * row once the watermark PROVES no future purchase can match. The
    * null-side timing is the whole operator: a row (click, NULL) is
    * only correct once click_ts + 1h < global watermark (min of both
    * streams' max-event-time − 2h delay), so the oracle mirrors that
    * eviction rule exactly — unconverted clicks inside the final
    * watermark horizon are STILL IN STATE at query end and absent
    * from the output by design, not by bug.
    *
    * finalizeByWatermark = true is load-bearing here (same as q97):
    * null-padded rows emit in the terminal no-data microbatch, after
    * the data batch has advanced the watermark — without it the
    * outer join degrades to the inner q58 answer.
    *
    * Scale shape: identical state layout to q58 (four stores per
    * partition, eviction by the interval condition); the outer flush
    * adds no state, only changes what eviction EMITS. At 100 TB the
    * watermark delay is the state-size knob, unchanged. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val clicks = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    EventStream.runToTable(joined, sinkName("stream_outer_join"),
        OutputMode.Append(), finalizeByWatermark = true)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** DuckDB twin: the matched theta join (q58's) UNION ALL the
    * unconverted clicks whose 1-hour horizon closed under the final
    * watermark wm = min(max click ts, max purchase ts) − 2 h. */
  val streamOuterJoinSql: String =
    """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT LEAST((SELECT MAX(cus) FROM c), (SELECT MAX(pus) FROM p))
      |         - 7200000000 AS wm_us),
      |m AS (SELECT c.user_id, c.click_id, p.purchase_id, p.pus - c.cus AS gap_us
      |      FROM c JOIN p ON c.user_id = p.user_id
      |        AND p.pus >= c.cus AND p.pus - c.cus <= 3600000000)
      |SELECT user_id, click_id, purchase_id, gap_us FROM m
      |UNION ALL
      |SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
      |  CAST(NULL AS BIGINT) AS gap_us
      |FROM c, wm
      |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
      |  AND c.cus + 3600000000 < wm.wm_us
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  /** Q273: WATERMARKED FULL-OUTER STREAM-STREAM JOIN — the last cell
    * of the stream-stream join matrix (inner q58, left-outer q215,
    * left-semi q250): every click×purchase match within the hour,
    * PLUS null-padded rows for BOTH kinds of orphans — clicks that
    * never converted AND purchases with no attributable click. The
    * purchase side's emission rule is the new semantics: a purchase
    * can match clicks with click_ts ∈ [purchase_ts − 1h, purchase_ts],
    * and since arriving clicks carry event time ≥ watermark, the
    * orphan (NULL, purchase) row is provably final exactly when
    * purchase_ts < wm — a DIFFERENT horizon than the click side's
    * click_ts + 1h < wm (the join condition is asymmetric, so the
    * two eviction frontiers are too; both mirrored in the oracle).
    * Orphans inside their horizon at query end are STILL IN STATE
    * and absent by design (the q215 rule).
    *
    * finalizeByWatermark = true is load-bearing (q215/q97): both
    * null-padded sides emit in the terminal no-data microbatch.
    *
    * Scale shape: q58's state layout; the full-outer flush changes
    * only what eviction EMITS on each side, never what is stored —
    * at 100 TB the watermark delay remains the state-size knob. */
  def streamFullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val clicks = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = EventStream.readEvents(spark, path)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    EventStream.runToTable(joined, sinkName("stream_full_outer"),
        OutputMode.Append(), finalizeByWatermark = true)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** DuckDB twin: q215's matched+unconverted-clicks union, plus the
    * orphan purchases whose horizon closed (pus < wm — the asymmetric
    * right-side frontier). */
  val streamFullOuterJoinSql: String =
    """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT LEAST((SELECT MAX(cus) FROM c), (SELECT MAX(pus) FROM p))
      |         - 7200000000 AS wm_us),
      |m AS (SELECT c.user_id, c.click_id, p.purchase_id, p.pus - c.cus AS gap_us
      |      FROM c JOIN p ON c.user_id = p.user_id
      |        AND p.pus >= c.cus AND p.pus - c.cus <= 3600000000)
      |SELECT user_id, click_id, purchase_id, gap_us FROM m
      |UNION ALL
      |SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
      |  CAST(NULL AS BIGINT) AS gap_us
      |FROM c, wm
      |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
      |  AND c.cus + 3600000000 < wm.wm_us
      |UNION ALL
      |SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, p.purchase_id,
      |  CAST(NULL AS BIGINT) AS gap_us
      |FROM p, wm
      |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
      |  AND p.pus < wm.wm_us
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  /** Q228: STREAMING SESSION-WINDOW AGGREGATION — q70's native
    * `session_window(ts, 30 min)` run as an ACTUAL STREAM: watermarked
    * groupBy, Spark's built-in merging-window STATE STORE, Append-mode
    * eviction. The sessionization triangle closes here: q22 hand-rolls
    * the lag/sum form (batch), q40 owns arbitrary per-session state
    * (flatMapGroupsWithState, streaming), q70 proves the primitive's
    * batch semantics — and q228 is the primitive under streaming
    * execution, where the CONTENT is the emission rule (which sessions
    * exist in the output at all), something the batch run never
    * exercises. Same ≥-gap break rule as q70, pinned by the shared
    * oracle arithmetic.
    *
    * Emission rule (mirrored exactly by the oracle, the q215
    * discipline): Append mode emits a session only once the final
    * watermark (global max event time − 1 h delay) has passed its
    * window END (last event + gap) — sessions still inside the
    * horizon remain in state at query end, absent by design.
    * finalizeByWatermark = true is load-bearing: emission happens in
    * the terminal no-data microbatch after the data batch advanced
    * the watermark.
    *
    * Scale shape: state is keyed by (user_id, merging window) — high
    * cardinality, distributes across executors; the watermark bounds
    * open-session state exactly as in q40. One shuffle on user_id;
    * session merge is per-key state-store work, never a sort. */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventStream.readEvents(spark, s"$dir/events.parquet")
    val agg = ev
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    EventStream.runToTable(agg, sinkName("stream_session_window"),
        OutputMode.Append(), finalizeByWatermark = true)
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** DuckDB twin: gaps-and-islands with the session_window break rule
    * (new session when the gap is ≥ 30 min — window ends are
    * exclusive, so an event AT ts+gap starts a new session; contrast
    * q40's custom `>` rule), end = last event + gap, emitted only if
    * end < final watermark = max(ts) − 1 h. */
  val streamSessionWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
      |              >= 30*60*1000000::BIGINT
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |numbered AS (
      |  SELECT user_id, us,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, MIN(us) AS session_start_us,
      |    MAX(us) + 30*60*1000000::BIGINT AS session_end_us,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM numbered GROUP BY user_id, sid),
      |wm AS (SELECT MAX(epoch_us(ts)) - 3600000000 AS wm_us FROM events)
      |SELECT user_id, session_start_us, session_end_us, n_events
      |FROM sessions, wm WHERE session_end_us < wm.wm_us
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Staged re-delivery corpus for q291: the events table PLUS an
    * injected exact duplicate of every event_id ≡ 0 (mod 5) row — the
    * reference's at-least-once upload trigger re-firing on the same
    * object (README.md:114 semantics, which q39 models but never
    * actually exercises: the events table's ids are unique, so its
    * dedup state never drops a row). ONE parquet write, range-split on
    * a file tag so originals and re-deliveries land in SEPARATE
    * part-files (→ separate microbatches under maxFilesPerTrigger=1)
    * while Spark's own `_SUCCESS` marker stays transactional for the
    * whole fixture — two sequential writes would drop a marker after
    * the first and a torn build could read as complete. */
  private[graft] def redeliveryRoot(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.artifactPath("redelivery_stream", dir, "_m5")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.withColumn("__f", lit(0))
        .unionByName(raw.filter(pmod(col("event_id"), lit(5)) === 0)
          .withColumn("__f", lit(1)))
        .repartitionByRange(2, col("__f")).drop("__f")
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Q291: RE-DELIVERY DEDUP WITH REAL DUPLICATES — the
    * `dropDuplicatesWithinWatermark` semantics actually fired
    * (VERDICT r9 task 6): the staged corpus re-delivers every 5th
    * event in a LATER microbatch (maxFilesPerTrigger=1 over the two
    * staged files), the dedup operator drops them against state
    * carried ACROSS batches, and the published per-type audit proves
    * it — n_delivered (batch count over the same staged files,
    * duplicates included) vs n_unique_events (the stream's append
    * output), with n_redelivered = the difference, strictly positive
    * by construction. The watermark delay (10 years ≫ the corpus
    * span) keeps every key's state live for the whole run, so the
    * final snapshot is deterministic regardless of file arrival
    * order; a deployment sets the delay to its re-delivery horizon
    * and state stays bounded (ids older than the watermark evict —
    * the semantics q39 documents).
    *
    * Scale shape: dedup state is keyed by event_id (high-cardinality,
    * distributes across executors); the audit join is on the ≤5-row
    * per-type rollups. */
  def streamRedelivery(spark: SparkSession, dir: String): DataFrame = {
    val root = redeliveryRoot(spark, dir)
    val ev = EventStream.readEvents(spark, root, maxFilesPerTrigger = Some(1))
    val deduped = EventStream.dedupRedelivery(ev, delay = "87600 hours")
    val out = EventStream.runToTable(
      deduped.select(col("event_id"), col("event_type")),
      sinkName("stream_redelivery"), OutputMode.Append())
    val unique = out.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_unique_events"))
    val delivered = spark.read.parquet(root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_delivered"))
    delivered.join(unique, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_delivered"), lit(0L)).as("n_delivered"),
        coalesce(col("n_unique_events"), lit(0L)).as("n_unique_events"))
      .withColumn("n_redelivered",
        col("n_delivered") - col("n_unique_events"))
      .orderBy(col("event_type"))
  }

  val streamRedeliverySql: String =
    """SELECT event_type,
      |  CAST(COUNT(*) + SUM(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_delivered,
      |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique_events,
      |  CAST(COUNT(*) + SUM(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
      |    - COUNT(DISTINCT event_id) AS BIGINT) AS n_redelivered
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def queries: Map[String, Relational.Q] = Map(
    "q291_stream_redelivery" -> (streamRedelivery _),
    "q228_stream_session_window" -> (streamSessionWindow _),
    "q215_stream_outer_join" -> (streamOuterJoin _),
    "q273_stream_full_outer" -> (streamFullOuterJoin _),
    "q184_stream_curation" -> (streamCuration _),
    "q95_stream_static_join" -> (streamStaticEnrich _),
    "q108_stream_decontam" -> (streamDecontam _),
    "q96_stream_running_totals" -> (streamRunningTotals _),
    "q97_stream_final_windows" -> (streamFinalizedWindows _),
    "q99_stream_tws_rocksdb" -> (streamTypeStats _),
    "q38_stream_tumbling" -> (streamTumbling _),
    "q81_stream_file_sink" -> (streamFileSink _),
    "q86_stream_incr_agg" -> (streamIncrementalAgg _),
    "q39_stream_dedup" -> (streamDedup _),
    "q40_stream_sessions" -> (streamSessions _),
    "q58_stream_join" -> (streamStreamJoin _),
    "q250_stream_semi_join" -> (streamSemiJoin _),
    "q61_stream_sliding" -> (streamSliding _),
  )

  def oracles: Map[String, String] = Map(
    "q291_stream_redelivery" -> streamRedeliverySql,
    "q228_stream_session_window" -> streamSessionWindowSql,
    "q215_stream_outer_join" -> streamOuterJoinSql,
    "q273_stream_full_outer" -> streamFullOuterJoinSql,
    "q184_stream_curation" -> streamCurationSql,
    "q95_stream_static_join" -> streamStaticEnrichSql,
    "q108_stream_decontam" -> streamDecontamSql,
    "q96_stream_running_totals" -> streamRunningTotalsSql,
    "q97_stream_final_windows" -> streamFinalizedWindowsSql,
    "q99_stream_tws_rocksdb" -> streamTypeStatsSql,
    "q38_stream_tumbling" -> streamTumblingSql,
    "q81_stream_file_sink" -> streamFileSinkSql,
    "q86_stream_incr_agg" -> streamIncrementalAggSql,
    "q39_stream_dedup" -> streamDedupSql,
    "q40_stream_sessions" -> streamSessionsSql,
    "q58_stream_join" -> streamStreamJoinSql,
    "q250_stream_semi_join" -> streamSemiJoinSql,
    // same answer as the batch sliding window — shared oracle text
    "q61_stream_sliding" -> Events.slidingWindowSql,
  )
}
