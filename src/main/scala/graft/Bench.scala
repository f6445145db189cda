package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query at
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Measurement discipline: the action is a `noop`-format write, which
  * materializes EVERY output column — `count()` would let Catalyst prune
  * derived columns and eliminate final sorts, under-measuring the real
  * work. Warm-up absorbs one-time JVM/JIT start-up cost so timed queries
  * measure steady state: a scan/agg pass (~5s of codegen+classloading),
  * a 12-row LogisticRegression fit (~5s of spark.ml/breeze JIT that q37
  * would otherwise be charged for — its real work at bench scale is a
  * sub-second 175-row fit), and two 3-row stateful streams (microbatch
  * planner + state-store init + the stream-stream join's symmetric-hash
  * state manager, seconds otherwise charged to the first streaming
  * queries).
  *
  * Each query is timed SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * per-query MEDIAN is reported (the JSON carries reps/agg so the number
  * is self-describing); a `spread` map carries per-query
  * [min, median, max] so a single-query drift spike (one rep 3x the
  * others on identical code — the q147/q241 class) is visible inside
  * one artifact without a cross-round diff. Reps are INTERLEAVED — the whole suite runs
  * `reps` full passes, each pass visiting the queries in a fresh
  * seeded-shuffled order — never back-to-back per query. Rationale
  * (round-2/3 lesson): this container has multi-minute drift windows
  * where everything runs 2-7x slower on identical code/plans. With
  * back-to-back reps in a FIXED order, one query's entire sample lives
  * in one time-neighborhood — round 3's artifact showed the
  * alphabetically-last query at 6.9x on unchanged code because a drift
  * window covered all of its reps. Interleaved shuffled passes spread
  * any drift window thinly across many queries, so a per-query median
  * reflects the plan, not the schedule position. SPARK_GRAFT_BENCH_SEED
  * (default 421) makes the orders reproducible.
  *
  * Drift calibration (round-5): interleaving fixes WITHIN-run
  * concentration but cannot normalize a whole-run-slow container —
  * BENCH_r04 ran 2-8x slower than r3 on unchanged code/plans because
  * the entire driver window was slow. Each pass therefore also times a
  * FIXED probe (the warm-up's scan/agg/noop-write shape, constant
  * across rounds), shuffled into the pass like any query. The metric
  * line carries `calibration` (median probe seconds) and
  * `calibration_passes`; cross-round comparisons should divide totals
  * by the calibration ratio before calling anything a regression.
  * Output layout is truncation-aware: the driver artifact keeps only a
  * TAIL of stdout (BENCH_r04's map lost q1-q47), so a compact summary
  * object ({"metric":"summary",...}) prints on its own line before the
  * full metric line AND the headline fields (total/worst/calibration)
  * repeat AFTER the per-query map inside the metric line — whichever
  * end survives truncation, the headline numbers survive with it.
  *
  * Drift auto-adjudication (round-9): a per-query max/median > 3
  * inside one run is the q147/q91 spike class; the flagged set is
  * automatically re-measured with 5 extra interleaved passes and the
  * artifact carries `drift_flags` + `drift_remeasure` — the manual
  * REPS=5 adjudication protocol, automated. The worst-5 list also
  * emits probe-normalized (`worst_cal_units`) so cross-round worst
  * lists compare directly.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Session settings live in graft.Session. Round-13 measured
    // NON-change to them: AQE size-based partition coalescing
    // (coalescePartitions.parallelismFirst=false) was tried for the
    // r12 "32-core over-parallelization" list and made
    // the suite WORSE across the board (min-of-reps +7-58% on a
    // 12-query class-spanning set; q30 +33%, q8 +58%) — this suite's
    // post-shuffle work is CPU-dense per shuffled byte (quadratic
    // verifies, window chains), so coalescing tiny-byte stages to one
    // partition serializes real compute. parallelismFirst=true (the
    // default) is the right setting here at every scale; the r12
    // scaling-block 0.08-0.4 ratios were median contamination by
    // drift/build reps, not a plan defect (OPTIMIZATION_r13.md).
    val spark = Session.local()
    // warm-up: JIT the scan/agg/write paths once, untimed
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    // warm-up: JIT the spark.ml fit path (assembler + LBFGS/breeze)
    locally {
      import spark.implicits._
      val toy = (0 until 12).map(i => (i.toDouble, (i % 2).toDouble))
        .toDF("x", "label")
      val assembled = new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(Array("x")).setOutputCol("features").transform(toy)
      new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(5).fit(assembled)
    }
    // warm-up: JIT the streaming machinery (microbatch planner, state
    // store provider, memory sink) with three 3-row streams started the
    // way the streaming queries start theirs: a stateful windowed count;
    // a stream-stream join (symmetric hash join state managers, one per
    // side per partition — otherwise the first rep of the interval-join
    // query pays several seconds of classloading); and transformWithState
    // on the RocksDB backend (q99's API requires RocksDB; loading its
    // native library and column-family plumbing is a one-time cost that
    // would otherwise land on q99's first rep)
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.EventStream
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[Long]
      ms.addData(1L, 2L, 3L)
      EventStream.runToTable(
        ms.toDF().withColumn("ts", timestamp_micros(col("value")))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 minute")).count(),
        "bench_warmup_stream", OutputMode.Complete())
      val l = MemoryStream[Long]; l.addData(1L, 2L, 3L)
      val r = MemoryStream[Long]; r.addData(1L, 2L, 3L)
      val lf = l.toDF().select(col("value").as("lk"),
        timestamp_micros(col("value")).as("lts")).withWatermark("lts", "1 hour")
      val rf = r.toDF().select(col("value").as("rk"),
        timestamp_micros(col("value")).as("rts")).withWatermark("rts", "1 hour")
      EventStream.runToTable(
        lf.join(rf, col("lk") === col("rk") &&
          col("rts") >= col("lts") && col("rts") <= col("lts") + expr("INTERVAL 1 MINUTE")),
        "bench_warmup_join", OutputMode.Append())
      val kv = MemoryStream[(String, Long)]
      kv.addData(("a", 1L), ("b", 2L))
      EventStream.runToTable(
        EventStream.typeStats(kv.toDF().toDF("event_type", "cents")),
        "bench_warmup_rocksdb", OutputMode.Update(), rocksDb = true)
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // dev-only subset filter (comma-separated name substrings); the
    // driver never sets it, so driver rounds always time every query
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val seed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED", "421").toLong
    val rng = new scala.util.Random(seed)
    // Fixed calibration probe: the warm-up's scan/agg shape, constant
    // across rounds and independent of any registered query, timed once
    // per pass at a seeded-shuffled position like any other query. Its
    // cross-round ratio IS the container-speed ratio (the plan never
    // changes), so r4-style whole-run drift stops masquerading as code
    // regression. Excluded from `total`.
    val calibrationName = "__calibration_probe"
    val probe: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"),
          org.apache.spark.sql.functions.count("*").as("n"))
    // Probe battery (round-11): the scan/agg probe's OWN reading moves
    // ±20% across sessions in ways the query medians don't follow (an
    // IO-bound shape — page-cache state dominates it), which caps the
    // precision of any single-probe cal-unit comparison; two round-11
    // same-code runs had raw per-query medians within 4% while their
    // probes disagreed 7%. Two more fixed shapes probe the other
    // resources — a high-cardinality shuffle and a pure-compute string
    // kernel — so cross-round analysis can normalize against whichever
    // resource actually drifted. `calibration` stays the scan probe for
    // cross-round continuity; the battery medians ride alongside.
    val shuffleProbeName = "__calibration_shuffle"
    val shuffleProbe: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_partkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"),
          org.apache.spark.sql.functions.count("*").as("n"))
    val computeProbeName = "__calibration_compute"
    val computeProbe: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => s.read.parquet(s"$dir/documents.parquet")
        .select(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.regexp_replace(
              org.apache.spark.sql.functions.col("text"), "[aeiou]", ""))).as("x"))
    val timed = selected :+ (calibrationName -> probe) :+
      (shuffleProbeName -> shuffleProbe) :+ (computeProbeName -> computeProbe)
    // One timed pass over `fns` in a fresh shuffled order, shared by the
    // main passes and the drift re-measure. A failed rep records NO
    // time: a query dying in 50ms at plan time must not contribute a
    // near-zero median that makes the headline total look faster than
    // the prior round — its absence plus the `failed` array is the
    // honest signal. Fatal errors (OOM, linkage) abort the run.
    def pass(fns: Seq[(String, operators.Relational.Q)]): Map[String, Option[Double]] =
      rng.shuffle(fns).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case NonFatal(e) =>
            if (!failed.contains(name)) {
              failed += name
              System.err.println(s"[bench] $name failed: $e")
            }
            false
          }
        name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
      }.toMap
    // `reps` full passes over the suite
    val passes = (1 to reps).map(_ => pass(timed))
    // per-query (min, median, max) across passes: the spread makes a
    // single-query drift spike (the q147/q241 class — one rep 3x the
    // others on identical code) self-identifying in the artifact
    // instead of needing a cross-round diff
    val spreads = selected.flatMap { case (name, _) =>
      val times = passes.flatMap(_(name)).sorted
      if (times.isEmpty) None
      else Some(name -> (times.head, times(times.length / 2), times.last))
    }
    val results = spreads.map { case (name, (_, med, _)) => name -> med }
    val calTimes = passes.flatMap(_(calibrationName)).sorted
    val calMedian = if (calTimes.isEmpty) -1.0 else calTimes(calTimes.length / 2)
    def probeMedian(name: String): Double = {
      val ts = passes.flatMap(_(name)).sorted
      if (ts.isEmpty) -1.0 else ts(ts.length / 2)
    }
    val calShuffle = probeMedian(shuffleProbeName)
    val calCompute = probeMedian(computeProbeName)
    // Drift auto-adjudication (round-9, VERDICT r8 task 3): a single
    // rep far above its siblings on identical code is the q147/q91
    // drift class (GC/page-cache spike) — previously adjudicated by a
    // human re-running REPS=5 by hand (NOTES "Round-8 outlier
    // adjudication"). Automate exactly that protocol inside ONE
    // artifact: flag max/median > 3, immediately re-measure the
    // flagged set with 5 interleaved shuffled passes, and append the
    // re-measured spreads to the JSON. The headline numbers stay the
    // main-run medians (the re-measure is evidence, not a retake);
    // a flag whose re-measured median is ~the main median is a real
    // slow query, one that collapses is adjudicated drift.
    //
    // q228 spread exemption note (VERDICT r9 task 5, root-caused
    // round 10): the recurring ~19 s max rep in past artifacts is NOT
    // a q228-internal cold path — an isolated 15-rep run (max/median
    // 1.84), a streaming-family 5-rep run (1.26) and two full-tree
    // runs (1.76, 1.10) all stayed quiet in the same session, 26
    // consecutive spike-free reps. The r9 artifact that showed 19.33 s
    // also showed q16 (a pure string-function scan with no state
    // stores) at 13× its median in the same pass — a whole-container
    // stall window, exactly the class this re-measure block exists to
    // adjudicate. No pre-warm or code change is warranted; a future
    // q228 flag whose re-measured median collapses is drift by this
    // standing evidence.
    val driftFlagged = spreads.collect {
      case (name, (_, med, mx)) if med > 0 && mx / med > 3.0 => name
    }
    val driftRemeasure: Seq[(String, (Double, Double, Double))] =
      if (driftFlagged.isEmpty) Nil
      else {
        val flaggedFns = selected.filter { case (n, _) => driftFlagged.contains(n) }
        val rePasses = (1 to 5).map(_ => pass(flaggedFns))
        driftFlagged.flatMap { name =>
          val ts = rePasses.flatMap(_(name)).sorted
          if (ts.isEmpty) None
          else Some(name -> (ts.head, ts(ts.length / 2), ts.last))
        }
      }
    val calPasses = calTimes.map(t => f"$t%.4f").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spreadJson = spreads.map { case (k, (mn, md, mx)) =>
      s"\"" + k + "\":[" + f"$mn%.3f,$md%.3f,$mx%.3f" + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val worst = results.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // worst-5 in CAL-UNITS (median / calibration probe): raw-second
    // worst lists from different rounds ran on different-speed
    // containers — the cal-unit list is the one that compares
    // directly across rounds (VERDICT r8 task 3)
    val worstCal =
      if (calMedian <= 0) "{}"
      else results.sortBy(-_._2).take(5)
        .map { case (k, v) => s"\"" + k + "\":" + f"${v / calMedian}%.2f" }
        .mkString("{", ",", "}")
    val driftFlagsJson = driftFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val driftRemeasureJson = driftRemeasure.map { case (k, (mn, md, mx)) =>
      s"\"" + k + "\":[" + f"$mn%.3f,$md%.3f,$mx%.3f" + "]"
    }.mkString("{", ",", "}")
    // failures surface in the metric line itself — a stderr-only signal
    // would let a broken query silently "improve" the total
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // total normalized by the probe (total / calibration): container
    // speed drifts up to ~2x between rounds on identical code, so the
    // probe-relative total is the ONLY number comparable across rounds
    // without manual adjudication. Pass/fail-neutral — emitted for the
    // reader, never gated on.
    val calUnits = if (calMedian > 0) total / calMedian else -1.0
    // Contention-robust headlines (VERDICT r10 task 1): `total_cal_units`
    // divides a cross-pass query-median sum by the cross-pass probe
    // MEDIAN — a stall window that covers one whole pass inflates ~1/3
    // of the per-query medians while the probe median can still come
    // from a quiet pass, so three same-code r10 readings spanned 1.49×.
    // Two forms that survive a one-pass stall:
    //  * total_cal_units_robust — each pass's OWN query-time sum divided
    //    by that pass's OWN probe (a whole-pass slowdown scales numerator
    //    and denominator together), median across passes. Only queries
    //    timed in EVERY pass contribute, so a failed rep cannot shrink
    //    one pass's coverage relative to another's.
    //  * total_min / total_cal_units_min — each query's fastest rep (its
    //    least-contended measurement) summed; the cal-unit form divides
    //    by the MEDIAN probe (dividing by the fastest probe mixed two
    //    different windows and overstated whenever the probe's own min
    //    was an outlier — the round-11 R1/R2 finding). Empirically the
    //    RAW total_min is the most reproducible cross-session statistic
    //    on same-class hardware (292.3 vs 290.5 s across two round-11
    //    sessions whose probes disagreed by 7%): prefer it for
    //    round-over-round trend reads; use cal-units only to adjudicate
    //    gross (≥2×) container-speed changes.
    val completeNames = selected.map(_._1)
      .filter(n => passes.forall(_(n).isDefined))
    val perPassRatios = passes.flatMap { p =>
      p(calibrationName).filter(_ > 0).map { probe =>
        completeNames.map(n => p(n).get).sum / probe
      }
    }.sorted
    val calUnitsRobust =
      if (perPassRatios.isEmpty) -1.0
      else perPassRatios(perPassRatios.length / 2)
    val totalMin = spreads.map(_._2._1).sum
    val calUnitsMin = if (calMedian > 0) totalMin / calMedian else -1.0
    // Gate numbers vs evidence payload (VERDICT r9 task 1): the driver
    // keeps only a bounded HEAD and TAIL of the artifact, and the r9
    // drift_remeasure block (44 entries on a noisy container) grew past
    // the tail window, evicting total/total_cal_units from the captured
    // text. Emit GATES LAST on the tail-facing metric line (after every
    // unbounded payload) and GATES FIRST on the head-facing summary
    // line, so both truncation directions retain them.
    // total_min leads the gate block, adjacent to failed (VERDICT r11
    // task 8): the round-11 probe-variance finding made the raw
    // min-of-reps sum THE cross-round statistic (≤2.2% across three
    // independent sessions while probe cal-units swung ±20%), so it must
    // be the first gate field a truncated artifact retains, not the last.
    val gates = f""""total_min":$totalMin%.3f,"failed":$failedJson,"n_queries":${results.size},"calibration":$calMedian%.4f,"calibration_shuffle":$calShuffle%.4f,"calibration_compute":$calCompute%.4f,"total":$total%.3f,"total_cal_units":$calUnits%.1f,"total_cal_units_robust":$calUnitsRobust%.1f,"total_cal_units_min":$calUnitsMin%.1f"""
    val payload = s""""worst":$worst,"worst_cal_units":$worstCal,"calibration_passes":$calPasses,"drift_flags":$driftFlagsJson,"drift_remeasure":$driftRemeasureJson"""
    // summary-first line: survives head-truncation of the artifact
    // (gates lead; the drift re-measure payload is metric-line-only)
    println(s"""{"metric":"summary",$gates,"reps":$reps,"sf":"$sfDir","drift_flags":$driftFlagsJson}""")
    // per-query [min, median] as its OWN bounded line (round-13, VERDICT
    // r12 task 2): BENCH_r11 kept only a tail of the metric line, whose
    // unbounded drift payload pushed the per-query map out of the capture
    // window — the cross-round PERF diff got n_common: 0 and no per-query
    // baseline. This line is bounded (3-decimal, two numbers per query,
    // no spread/drift payload, ~12 KB at 305 queries) and prints BEFORE
    // the metric line, so a tail-truncation that eats the metric line's
    // middle still leaves every query's timing in the artifact. Additive:
    // the metric line below is unchanged (same fields, same statistics).
    val perQueryJson = spreads.map { case (k, (mn, md, _)) =>
      s"\"" + k + "\":[" + f"$mn%.3f,$md%.3f" + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"per_query","agg":"[min,median]","queries_min_median":$perQueryJson,"total_min":${f"$totalMin%.3f"},"reps":$reps,"sf":"$sfDir"}""")
    // metric line (driver contract): gate fields repeat AFTER the
    // per-query map AND the drift payload so tail-truncation keeps them
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spreadJson,"reps":$reps,"agg":"median","sf":"$sfDir",$payload,$gates}""")
    spark.stop()
  }
}
