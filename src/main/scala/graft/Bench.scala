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
  * seeded-shuffled order — never back-to-back per query, so a drift
  * window spreads thinly across many queries instead of covering one
  * query's whole sample. SPARK_GRAFT_BENCH_SEED (default 421) makes the
  * orders reproducible.
  *
  * Each pass also times FIXED calibration probes (`calibration*`), so
  * a whole-run-slow host is told apart from a code regression. Output
  * is truncation-aware: gate fields lead the summary line and close
  * the metric line. A per-query max/median > 3 is re-measured with 5
  * more interleaved passes (`drift_flags`, `drift_remeasure`). The
  * history behind each rule is in NOTES.md "Bench: design history".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Session settings live in graft.Session; size-based AQE coalescing
    // (parallelismFirst=false) was measured worse (NOTES.md, Bench)
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
    // cross-run ratio IS the host-speed ratio (the plan never changes),
    // so whole-run drift stops masquerading as code regression.
    // Excluded from `total`.
    val calibrationName = "__calibration_probe"
    val probe: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"),
          org.apache.spark.sql.functions.count("*").as("n"))
    // Probe battery: a high-cardinality shuffle and a pure-compute
    // string kernel beside the scan probe, so analysis can normalize by
    // whichever resource drifted; `calibration` stays the scan probe
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
    // Drift adjudication: flag max/median > 3 and re-measure the
    // flagged set with 5 interleaved passes. The headline numbers stay
    // the main-run medians: a flag whose re-measured median collapses
    // is drift, one that holds is a real slow query.
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
    // worst-5 in CAL-UNITS (median / calibration probe): the list that
    // compares across different-speed hosts
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
    // Headlines that survive a one-pass stall:
    //  * total_cal_units_robust — each pass's own query-time sum over
    //    that pass's own probe, median across passes; only queries timed
    //    in every pass contribute.
    //  * total_min / total_cal_units_min — each query's fastest rep
    //    summed, the cal-unit form over the MEDIAN probe. Raw total_min
    //    is the statistic to compare across runs.
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
    // Gates go LAST on the tail-facing metric line (after every
    // unbounded payload) and FIRST on the head-facing summary line, so
    // a capture truncated either way keeps them; total_min leads them.
    val gates = f""""total_min":$totalMin%.3f,"failed":$failedJson,"n_queries":${results.size},"calibration":$calMedian%.4f,"calibration_shuffle":$calShuffle%.4f,"calibration_compute":$calCompute%.4f,"total":$total%.3f,"total_cal_units":$calUnits%.1f,"total_cal_units_robust":$calUnitsRobust%.1f,"total_cal_units_min":$calUnitsMin%.1f"""
    val payload = s""""worst":$worst,"worst_cal_units":$worstCal,"calibration_passes":$calPasses,"drift_flags":$driftFlagsJson,"drift_remeasure":$driftRemeasureJson"""
    // summary-first line: survives head-truncation of the artifact
    // (gates lead; the drift re-measure payload is metric-line-only)
    println(s"""{"metric":"summary",$gates,"reps":$reps,"sf":"$sfDir","drift_flags":$driftFlagsJson}""")
    // per-query [min, median] as its OWN bounded line (~12 KB at 305
    // queries) before the metric line, so a truncated capture keeps
    // every query's timing
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
