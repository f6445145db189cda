package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The distributed two-pass family: exact global ranks and prefixes
  * without a one-task global sort. Its members are the rank kernels
  * ([[groupRankLookup]], [[groupWeightedMedian]]) and [[runningSum]]
  * with its 7 consumers (q91, q145, q173, q94, q111, q142, q189); all
  * share the sampled, balance-only bucket function [[scoreBuckets]]
  * and one bucket-count rule. (`Derivations.quantilesDistributed`
  * keeps its own passes: it interpolates doubles like Spark's
  * `Percentile`, the kernels rank longs.)
  *
  * One definition on purpose — the q62 sampleBucket lesson
  * ([[Curation.sampleBucket]]): a boundary/guard fix must land in one
  * place, not drift across per-query copies (the null-sketch guard
  * below originally existed in two of the three call sites and not the
  * third). */
private[graft] object TwoPass {

  /** Materialize the kernel's narrow decision frame once and reuse it
    * across the kernel's sketch/histogram/fetch passes (round-12
    * optimization, guide §5: caching pays exactly when a frame is
    * reused and recomputing it is dearer than holding it).
    *
    * Both kernels first probe their input with the one-task finish
    * ([[oneTask]]); an input above its bound is then walked THREE more
    * times (boundary sketch, bounded histogram, pruned fetch). Without
    * this, each walk re-runs the input's whole lineage — a parquet scan
    * plus the caller's projection/join chain, per pass (and q147 pays
    * it twice over). The input is always the narrow (k, c[, w])
    * proxy — a few fixed-width columns, never payloads — so the
    * materialized footprint is the cheap side of the guide §8 rule:
    * decide over small rows, move them once. MEMORY_AND_DISK spills
    * gracefully when a 100 TB deployment's proxy outgrows storage
    * memory.
    *
    * Frames the CALLER already materialized (persisted, or a
    * `localCheckpoint` — the q147/q145 shape: one base frame feeds the
    * kernel call(s) plus the final aggregation) are left alone —
    * `own = false` — so a shared cache is not dropped from under the
    * caller and a checkpointed frame is not duplicated into storage.
    * All kernel results are collected driver-side maps, so the
    * kernel-owned cache is always released before returning, also
    * when a pass throws (round-13, ADVICE r12: otherwise the
    * MEMORY_AND_DISK blocks leak for the session — every graft.Session
    * runs the periodic-GC remedy; embedding drivers' own sessions need
    * not). */
  private def cached[T](rows: DataFrame)(kernel: DataFrame => T): T = {
    val own = !materialized(rows) && rows.storageLevel == StorageLevel.NONE
    val frame = if (own) rows.persist(StorageLevel.MEMORY_AND_DISK) else rows
    try kernel(frame) finally if (own) frame.unpersist(false)
  }

  /** True when `df` is a checkpoint — or a pure column-level reshape of
    * one (Project/Filter only). Such a frame re-scans in-memory blocks,
    * so materializing it again would only duplicate storage. */
  private[graft] def materialized(df: DataFrame): Boolean = {
    def rdd(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD => true
      case pr: Project => rdd(pr.child)
      case f: Filter => rdd(f.child)
      case _ => false
    }
    rdd(df.queryExecution.logical)
  }

  /** Bucket function for `value` with ~`nBuckets` balanced buckets.
    *
    *  - Boundaries come from `percentile_approx` over a seeded 5%
    *    sample — cheap, deterministic, and BALANCE-ONLY: every
    *    consumer's exactness is independent of boundary quality
    *    (offsets are computed from real per-bucket counts afterwards).
    *  - A null sketch (the sample can be EMPTY on a tiny corpus, and
    *    its percentile is then NULL) degrades to one bucket — slower,
    *    never wrong.
    *  - Assignment is the codegen'd [[graft.functions.BoundaryBucket]]
    *    binary search: smallest i with boundary(i) >= v (so EQUAL
    *    values can never straddle a boundary — rank ties stay in one
    *    group), O(log buckets) per row at ANY bucket count. The
    *    earlier literal CASE chain was O(buckets) deep — fine at
    *    local[32], codegen blowup at the thousands of partitions a
    *    100 TB deployment sizes shuffles to.
    *  - Long inputs ride through a double cast: monotone and
    *    tie-preserving, which is all the consumers need from a
    *    balance-only bucketing. */
  def scoreBuckets(df: DataFrame, value: Column, nBuckets: Int): Column => Column = {
    val fracs = (1 until nBuckets.max(2)).map(_.toDouble / nBuckets.max(2)).toArray
    val bnds: Array[Double] = Option(
      df.filter(value.isNotNull)
        .sample(withReplacement = false, 0.05, seed = 42L)
        .agg(percentile_approx(value, lit(fracs), lit(2000)).as("b"))
        .head().getSeq[Any](0)).getOrElse(Seq.empty)
      .map {
        case l: Long => l.toDouble
        case d: Double => d
        case other => other.toString.toDouble
      }.toArray.sorted
    c => org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.BoundaryBucket(
        org.apache.spark.sql.GraftSqlShim.expression(c.cast("double")), bnds))
  }

  /** Buckets per distributed pass: the session's shuffle width, at
    * least 2. */
  private def bucketCount(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt.max(2)

  /** Distributed running sum: `rows` plus `cum`, the exact inclusive
    * running sum of the non-null `weight` (as long) within each
    * `groups` key in `order`, and `tot`, the group's total weight. The
    * frame is ROWS, so tied rows take distinct prefixes (deterministic
    * when `order` is total). `groups` may be empty: one global line.
    *
    * Never a per-group global sort. The first `order` column is the
    * bucket key of [[scoreBuckets]]; ONE map-side-combined (group,
    * bucket) weight subtotal comes back to the driver (bounded:
    * |groups| x buckets rows, control flow, not data); its scanLeft
    * becomes per-(group, bucket) offsets, a local relation (building it
    * starts no job) broadcast into the one row-scale shuffle, a
    * within-(group, bucket) running window. Exact for any boundary
    * quality: buckets are monotone in the bucket key and never split
    * equal keys, so offset + within-bucket sum is the global prefix.
    * A row with a null group or bucket key has no prefix and is
    * dropped. `rows` is walked three times (sketch, subtotal, final):
    * pass a cheap or materialized frame.
    *
    * Known bound: one bucket-key value carrying a large share of a
    * group's rows lands its whole tie-run in one (group, bucket) task.
    * The remedy, if a corpus ever has such mass points, is to collapse
    * tied keys into runs first. */
  def runningSum(spark: SparkSession, rows: DataFrame, groups: Seq[String],
      order: Seq[Column], weight: Column): DataFrame = {
    val bucketOf = scoreBuckets(rows, order.head, bucketCount(spark))
    val keys = groups :+ "__b"
    val keyed = rows.withColumn("__b", bucketOf(order.head))
      .withColumn("__w", weight.cast("long"))
    val sub = keyed.groupBy(keys.map(col): _*).agg(sum(col("__w")).as("__t"))
    val b = groups.length
    val offRows = new java.util.ArrayList[Row]
    sub.collect().filterNot(_.isNullAt(b)).groupBy(r => (0 until b).map(r.get))
      .foreach { case (key, bs) =>
        val sorted = bs.sortBy(_.getInt(b))
        val cum = sorted.scanLeft(0L)(_ + _.getLong(b + 1))
        sorted.zip(cum).foreach { case (r, off) =>
          offRows.add(Row.fromSeq(key ++ Seq[Any](r.getInt(b), off, cum.last)))
        }
      }
    val offsets = spark.createDataFrame(offRows, StructType(sub.schema.take(b + 1) ++
      Seq(StructField("__off", LongType), StructField("__tot", LongType))))
    val win = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.join(broadcast(offsets), keys)
      .select(rows.columns.toSeq.map(c => col(s"`$c`")) ++ Seq(
        (col("__off") + sum(col("__w")).over(win)).as("cum"),
        col("__tot").as("tot")): _*)
  }

  /** Row budget of the one-task finish ([[oneTask]]): a kernel input of
    * at most this many rows is answered exactly inside ONE task; above
    * it the sampled-sketch, histogram and pruned-fetch passes run
    * distributed. Set from timings of both paths on `local[4]` (see
    * SCALE.md, rank kernels) and capped at 10^6 rows, so the task's
    * buffers stay bounded (under 40 MB of primitive arrays) whatever
    * the input. Not a conf: specs pass 0 to force the distributed
    * path. */
  private[graft] val OneTaskRows = 1000000L

  /** Rows the kernels rank: a null key or value has no rank (a null
    * `c` would otherwise count towards `n` while its bucket never
    * matches the fetch join, shifting every later rank). */
  private def ranked(rows: DataFrame): DataFrame =
    rows.filter(col("k").isNotNull && col("c").isNotNull)

  /** Answers of [[oneTask]], one row per (group, wanted rank) or per
    * group: the group's size (or total weight) `n`, a rank `r` (null
    * for a per-group answer) and the value `v` there. A row with a null
    * `k` is the overflow marker. */
  private val answerSchema = StructType(Seq(StructField("k", StringType),
    StructField("n", LongType), StructField("r", LongType), StructField("v", LongType)))

  /** The shared one-task finish of both kernels: ONE `coalesce(1)` task
    * reads the (k, c[, w]) rows and stops after `bound + 1` of them.
    * Within the bound it lays the rows out group by group in primitive
    * arrays and `answer(k, c, w, from, until)` computes the group's
    * exact answers from its slice (`w` is null when unweighted); only
    * those answer rows leave the task. Past the bound it returns the
    * overflow marker and this returns None, so the caller runs the
    * distributed passes over the same persisted frame.
    *
    * `coalesce`, not `repartition`: it is narrow, so the task stops
    * reading early; a shuffle would move every row first. Probing the
    * kernel's cached frame means an overflow has computed only the
    * first cached partitions, and the passes reuse them. */
  private def oneTask(rows: DataFrame, weighted: Boolean, bound: Long)(
      answer: (String, Array[Long], Array[Long], Int, Int) => Iterator[Row])
      : Option[Array[Row]] = {
    val cols = if (weighted) Seq(col("k"), col("c"), col("w")) else Seq(col("k"), col("c"))
    val out = rows.select(cols: _*).coalesce(1).mapPartitions { it =>
      val groupOf = new java.util.HashMap[String, Integer]
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      var gs = new Array[Int](1024)
      var cs = new Array[Long](1024)
      var ws = if (weighted) new Array[Long](1024) else null
      var n = 0
      while (n <= bound && it.hasNext) {
        val row = it.next()
        if (n == gs.length) {
          val len = 2 * n
          gs = java.util.Arrays.copyOf(gs, len)
          cs = java.util.Arrays.copyOf(cs, len)
          if (weighted) ws = java.util.Arrays.copyOf(ws, len)
        }
        val k = row.getString(0)
        var g = groupOf.get(k)
        if (g == null) { g = keys.length; groupOf.put(k, g); keys += k }
        gs(n) = g
        cs(n) = row.getLong(1)
        if (weighted) ws(n) = row.getLong(2)
        n += 1
      }
      if (n > bound) Iterator.single(Row(null, null, null, null))
      else {
        // counting sort by group: group g owns [start(g), start(g + 1))
        val start = new Array[Int](keys.length + 1)
        (0 until n).foreach(i => start(gs(i) + 1) += 1)
        (1 to keys.length).foreach(g => start(g) += start(g - 1))
        val next = java.util.Arrays.copyOf(start, keys.length)
        val c = new Array[Long](n)
        val w = if (weighted) new Array[Long](n) else null
        (0 until n).foreach { i =>
          val j = next(gs(i))
          next(gs(i)) += 1
          c(j) = cs(i)
          if (weighted) w(j) = ws(i)
        }
        keys.indices.iterator.flatMap(g => answer(keys(g), c, w, start(g), start(g + 1)))
      }
    }(Encoders.row(answerSchema)).collect()
    if (out.exists(_.isNullAt(0))) None else Some(out)
  }

  /** Per-group answer of [[groupRankLookup]]: the group size and the
    * exact value at each requested 1-based global rank. */
  final case class GroupRanks(n: Long, at: Map[Long, Long])

  /** Distributed WEIGHTED median (q224's kernel): for each group in
    * `rows` — columns `k: string`, `c: long` (value), `w: long`
    * (weight) — the total weight W and the smallest value whose
    * inclusive cumulative weight cum satisfies 2·cum ≥ W (the lower
    * weighted median), WITHOUT a per-group sort over the distinct
    * values once the input outgrows one task — on quasi-continuous
    * value domains (prices) the distinct frame is row-scale, so the
    * q212 "bounded histogram" argument does NOT apply and a per-group
    * cumulative window would be a single-task row-scale sort (the
    * exact hazard [[groupRankLookup]] exists to avoid).
    *
    * Rows with a null key or value, or a weight that is not positive,
    * are dropped first (a zero-total group would otherwise be kept in
    * `totals` but skipped from `wants`, making med(k) throw); a group
    * with NO positive weight simply has no median and is omitted.
    *
    * Shape: an input of at most `oneTaskRows` rows is answered by
    * [[oneTask]] (per group: sorted distinct values, their summed
    * weights, one cumulative scan). Above it: sampled balance-only
    * buckets, ONE map-side-combined (k, bucket) WEIGHT histogram
    * collected to the driver (bounded: |groups| × buckets), driver
    * turns the weighted threshold into a (bucket, local residual
    * threshold) per group, then one pruned fetch runs the
    * cumulative-weight window over the single wanted bucket's slice
    * only. Exact for any boundary quality: equal values never straddle
    * a bucket (scoreBuckets invariant), and thresholds come from real
    * weights, not the sketch. */
  def groupWeightedMedian(spark: SparkSession, rows: DataFrame,
      oneTaskRows: Long = OneTaskRows): Map[String, (Long, Long)] =
    cached(rows) { frame =>
      val live = ranked(frame).filter(col("w") > 0)
      oneTask(live, weighted = true, oneTaskRows)(weightedMedianOf) match {
        case Some(out) => out.map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
        case None => weightedMedianBuckets(spark, live)
      }
    }

  /** [[oneTask]] answer of [[groupWeightedMedian]] for one group's
    * slice: total weight and lower weighted median. */
  private val weightedMedianOf: (String, Array[Long], Array[Long], Int, Int) => Iterator[Row] =
    (k, c, w, from, until) => {
      val vs = java.util.Arrays.copyOfRange(c, from, until)
      java.util.Arrays.sort(vs)
      var m = 0 // distinct values land in vs(0 until m)
      vs.indices.foreach { i => if (i == 0 || vs(i) != vs(m - 1)) { vs(m) = vs(i); m += 1 } }
      val acc = new Array[Long](m)
      (from until until).foreach { i =>
        acc(java.util.Arrays.binarySearch(vs, 0, m, c(i))) += w(i)
      }
      val total = acc.sum
      val r = (total + 1) / 2 // smallest integer with 2r >= W
      var cum = 0L
      var i = 0
      while (cum + acc(i) < r) { cum += acc(i); i += 1 }
      Iterator.single(Row(k, total, null, vs(i)))
    }

  /** The distributed passes of [[groupWeightedMedian]] over the
    * kernel's persisted, filtered frame. */
  private def weightedMedianBuckets(spark: SparkSession,
      rows: DataFrame): Map[String, (Long, Long)] = {
    import spark.implicits._
    val bucketOf = scoreBuckets(rows, col("c"), bucketCount(spark))
    val hist = rows.withColumn("b", bucketOf(col("c")))
      .groupBy(col("k"), col("b")).agg(sum(col("w")).cast("long").as("n"))
      .collect()
    val wants = Seq.newBuilder[(String, Int, Long)] // (k, b, local threshold)
    val totals = hist.groupBy(_.getAs[String]("k")).map { case (k, rs) =>
      val present = rs.sortBy(_.getAs[Int]("b"))
      val cum = present.map(_.getAs[Long]("n")).scanLeft(0L)(_ + _)
      val total = cum.last
      val r = (total + 1) / 2 // smallest integer with 2r >= W
      val idx = cum.lastIndexWhere(_ < r)
      if (idx >= 0 && idx < present.length)
        wants += ((k, present(idx).getAs[Int]("b"), r - cum(idx)))
      k -> total
    }
    val wantDf = wants.result().toDF("wk", "wb", "lt")
    val cw = Window.partitionBy(col("k"), col("b")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // the join leaves one wanted bucket per group, so grouping by
    // (k, b) is grouping by k — and the window's (k, b) partitioning
    // already satisfies it: no second exchange
    val med = rows.withColumn("b", bucketOf(col("c")))
      .join(broadcast(wantDf), col("k") === col("wk") && col("b") === col("wb"))
      .withColumn("cum", sum(col("w")).over(cw))
      .filter(col("cum") >= col("lt"))
      .groupBy(col("k"), col("b")).agg(min(col("c")).as("m"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    totals.flatMap { case (k, w) => med.get(k).map(m => k -> (w, m)) }.toMap
  }

  /** Measured NON-change (round-13, VERDICT r12 task 3): a two-pass
    * variant — full-data Greenwald-Khanna sketch with hard rank bounds
    * in pass 1, one combined below-count + in-window selection in pass
    * 2 — was implemented, spec-proven exact, and benchmarked across the
    * 16-query family. It LOST: the single-group/many-rank consumers
    * regressed 1.5-2x (q170 1.69 -> 3.30 s, q91 1.72 -> 2.66, q51
    * 0.80 -> 1.21 min-of-5 at sf0.1/local[32]) because (a) a full-data
    * GK insert per row costs more than the 5%-sample sketch it
    * replaced, and (b) pass 2 joins rows to wants on the GROUP key, so
    * an R-rank consumer pushes n x R rows through the aggregation —
    * the bucket histogram below shares its boundary/count work across
    * ALL ranks of a group at one hash-agg update per row. Small-group
    * single-rank consumers were flat (q141 0.97x, q147 1.02x, q246
    * 1.00x). The sampled-sketch bucket path is the right shape above
    * one task for this mixed consumer set, with PropertySpec pinning
    * it against a driver-side exact sort (ties, skew, out-of-range
    * ranks).
    *
    * Distributed targeted-rank lookup (q141's kernel, shared with
    * q147): for each group in `rows` — columns `k: string`,
    * `c: long` — fetch the exact value at each global rank
    * `ranksFor(groupSize)` returns (out-of-range ranks are skipped),
    * WITHOUT ever sorting a whole group in one task once the input
    * outgrows one. Rows with a null key or value are dropped first.
    * An input of at most `oneTaskRows` rows is answered by
    * [[oneTask]] (per group: a sort, then the rank picks; `ranksFor`
    * then runs in that task). Above it: sampled balance-only buckets
    * ([[scoreBuckets]]), ONE map-side-combined (k, bucket) histogram
    * collected to the driver (bounded: |groups| x buckets rows),
    * driver locates the bucket + local rank of every wanted value,
    * then one pruned fetch joins only the wanted buckets (broadcast
    * want-list) and row_numbers WITHIN a bucket. Exactness is
    * independent of boundary quality: offsets come from real counts,
    * the sketch only balances. */
  def groupRankLookup(spark: SparkSession, rows: DataFrame,
      ranksFor: Long => Seq[Long],
      oneTaskRows: Long = OneTaskRows): Map[String, GroupRanks] =
    cached(rows) { frame =>
      val live = ranked(frame)
      val pick: (String, Array[Long], Array[Long], Int, Int) => Iterator[Row] =
        (k, c, _, from, until) => {
          java.util.Arrays.sort(c, from, until)
          val n = (until - from).toLong
          Iterator.single(Row(k, n, null, null)) ++
            ranksFor(n).distinct.iterator.filter(r => r >= 1 && r <= n)
              .map(r => Row(k, n, r, c(from + (r - 1).toInt)))
        }
      oneTask(live, weighted = false, oneTaskRows)(pick) match {
        case Some(out) => out.groupBy(_.getString(0)).map { case (k, rs) =>
          k -> GroupRanks(rs.head.getLong(1),
            rs.filterNot(_.isNullAt(2)).map(r => r.getLong(2) -> r.getLong(3)).toMap)
        }
        case None => rankLookupBuckets(spark, live, ranksFor)
      }
    }

  /** The distributed passes of [[groupRankLookup]] (sampled boundaries
    * → bounded histogram → pruned window fetch) over the kernel's
    * persisted, filtered frame. */
  private def rankLookupBuckets(spark: SparkSession, rows: DataFrame,
      ranksFor: Long => Seq[Long]): Map[String, GroupRanks] = {
    import spark.implicits._
    val bucketOf = scoreBuckets(rows, col("c"), bucketCount(spark))
    val hist = rows.withColumn("b", bucketOf(col("c")))
      .groupBy(col("k"), col("b")).agg(count(lit(1)).as("n")).collect()
    // locate, per group, the bucket + local rank of every wanted value
    val wants = Seq.newBuilder[(String, Int, Long, Long)] // (k, b, localRank, globalRank)
    val sizes = hist.groupBy(_.getAs[String]("k")).map { case (k, rs) =>
      val present = rs.sortBy(_.getAs[Int]("b"))
      val cum = present.map(_.getAs[Long]("n")).scanLeft(0L)(_ + _)
      val n = cum.last
      ranksFor(n).distinct.foreach { r =>
        val idx = cum.lastIndexWhere(_ < r)
        if (idx >= 0 && idx < present.length)
          wants += ((k, present(idx).getAs[Int]("b"), r - cum(idx), r))
      }
      k -> n
    }
    val wantDf = wants.result().toDF("wk", "wb", "lr", "gr")
    val rw = Window.partitionBy(col("k"), col("b")).orderBy(col("c"))
    val fetched = rows.withColumn("b", bucketOf(col("c")))
      .join(broadcast(wantDf.select(col("wk").as("k"), col("wb").as("b")).distinct()),
        Seq("k", "b"))
      .withColumn("r", row_number().over(rw))
      .join(broadcast(wantDf), col("k") === col("wk") &&
        col("b") === col("wb") && col("r") === col("lr"))
      .select(col("k"), col("gr"), col("c"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) =>
        k -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
      }
    sizes.map { case (k, n) =>
      k -> GroupRanks(n, fetched.getOrElse(k, Map.empty))
    }.toMap
  }
}
