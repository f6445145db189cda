package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.functions.Parity._

/** Derived scalar expressions from SURVEY.md §2.3 — string/date/math/
  * conditional derivations the reference performs in bash/jq
  * (.github/workflows/main.yml:56-148) and in the Beam/SQL specs
  * (README.md:200-266).
  *
  * All are pure `Column` expressions (whole-stage-codegen friendly, no
  * UDFs) so Catalyst folds/pushes them freely at any scale.
  */
object Derivations {

  /** Q13: CASE WHEN derivation (D6/D7 winner+points analog,
    * README.md:79-81) — bucket orders by price tier. */
  def caseWhen(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.withColumn("tier",
        when(col("o_totalprice") > 200000d, "high")
          .when(col("o_totalprice") > 100000d, "mid")
          .otherwise("low"))
      .groupBy(col("tier"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dec2(sum(money(col("o_totalprice")))).as("total"))
      .orderBy(col("tier"), col("o_orderstatus"))
  }

  val caseWhenSql: String =
    """SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
      |            WHEN o_totalprice > 100000 THEN 'mid'
      |            ELSE 'low' END AS tier,
      |  o_orderstatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY tier, o_orderstatus""".stripMargin

  /** Q14: date-part derivation (D5 date parse, README.md:71). */
  def dateParts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.withColumn("yr", year(col("o_orderdate")).cast("bigint"))
      .withColumn("mo", month(col("o_orderdate")).cast("bigint"))
      .groupBy(col("yr"), col("mo"))
      .agg(count(lit(1)).as("n_orders"), dec2(sum(money(col("o_totalprice")))).as("total"))
      .orderBy(col("yr"), col("mo"))
  }

  val datePartsSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  /** Q15: regex extract/replace (D1 prefix extract main.yml:57, D2 strip
    * suffix main.yml:71-73). Patterns kept in the common Java/RE2 subset. */
  def regexDerive(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    p.withColumn("first_word", regexp_extract(col("p_name"), "^[a-z]+", 0))
      .withColumn("brand_num",
        nullif(regexp_extract(col("p_brand"), "([0-9]+)", 1), lit("")).cast("bigint"))
      .withColumn("name_nodigits", regexp_replace(col("p_name"), "[0-9]+", ""))
      .groupBy(col("first_word"))
      .agg(
        count(lit(1)).as("n_parts"),
        min(col("brand_num")).as("min_brand"),
        max(col("brand_num")).as("max_brand"),
        countDistinct(col("name_nodigits")).as("n_names"))
      .orderBy(col("first_word"))
  }

  val regexDeriveSql: String =
    """SELECT regexp_extract(p_name, '^[a-z]+', 0) AS first_word,
      |  COUNT(*) AS n_parts,
      |  MIN(CAST(NULLIF(regexp_extract(p_brand, '([0-9]+)', 1), '') AS BIGINT)) AS min_brand,
      |  MAX(CAST(NULLIF(regexp_extract(p_brand, '([0-9]+)', 1), '') AS BIGINT)) AS max_brand,
      |  COUNT(DISTINCT regexp_replace(p_name, '[0-9]+', '', 'g')) AS n_names
      |FROM part GROUP BY 1 ORDER BY first_word""".stripMargin

  /** Q16: string functions (D3 trim, D10 escape/concat; main.yml:75,87). */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    c.select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        lower(col("c_mktsegment")).as("seg_lower"),
        length(col("c_name")).cast("bigint").as("name_len"),
        substring(col("c_name"), 10, 9).as("name_digits"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
        trim(lit("  x  ")).as("trimmed"))
      .orderBy(col("c_custkey"))
  }

  val stringFuncsSql: String =
    """SELECT c_custkey,
      |  UPPER(c_name) AS name_upper,
      |  LOWER(c_mktsegment) AS seg_lower,
      |  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
      |  SUBSTRING(c_name, 10, 9) AS name_digits,
      |  c_mktsegment || '|' || c_name AS tagged,
      |  TRIM('  x  ') AS trimmed
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Q17: JSON field extraction with default (D9, main.yml:66,144; X5 on
    * the events.props testdata column). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // try_cast: under default ANSI mode a non-numeric props.k would
    // abort the job; dirty JSON must degrade to NULL at scale
    ev.withColumn("k", get_json_object(col("props"), "$.k").try_cast("bigint"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        dec2(sum(money(col("value")))).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val jsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q18: deterministic first-wins lookup build (D8, main.yml:60-63) —
    * `first()` under parallelism is non-deterministic, so the engine uses
    * min_by over an explicit ordering key (SURVEY §7 risk 4). */
  def firstWins(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(col("lang"))
      .agg(
        min_by(col("source"), col("doc_id")).as("first_source"),
        min(col("doc_id")).as("first_doc"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  val firstWinsSql: String =
    """SELECT lang, MIN_BY(source, doc_id) AS first_source,
      |  MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Q19: exact distinct counts ([EXT] per SURVEY §2.5 note).
    * Three COUNT(DISTINCT) in one aggregate plan through Catalyst's
    * Expand rewrite (4 rows per input row) — deliberately kept: at
    * 100 TB one table read with in-memory row expansion beats the
    * alternative of N separate scans + a join, because scan I/O
    * dominates. The related trap (mixing a SKETCH into the same
    * aggregate) is documented at q49. */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val distinctCountsSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q49: HLL++ approximate distinct counts ([EXT] per SURVEY §2.5 note).
    * Sketch-only on purpose: mixing approx_count_distinct with exact
    * COUNT(DISTINCT) in ONE aggregate triggers Catalyst's Expand-based
    * mixed-distinct rewrite, which re-evaluates the HLL buffers per
    * expanded row (measured 18x slower) — exactly the single-pass
    * sketch's reason to exist. No oracle (estimates are
    * engine-specific); DerivationsSpec bounds the error vs q19's exact
    * counts. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.05).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), rsd = 0.05).as("approx_supps"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.05).as("approx_orders"))
      .orderBy(col("l_returnflag"))
  }

  private val KmvK = 64
  /** The fixed l_returnflag domain — branch literals for [[kmvCardinality]]
    * (the Priorities-literal convention). */
  private val ReturnFlags = Seq("A", "N", "R")

  /** Q277: KMV (BOTTOM-K) CARDINALITY SKETCH — the fully-oracled twin
    * for q49's ⊙ family (the q200/q261/q266 twin discipline applied
    * to SKETCHES): q49's HLL++ buffers are Spark-internal and can
    * never hash-match an oracle, but the k-minimum-values estimator
    * (Bar-Yossef et al. 2002) is the same one-pass mergeable-sketch
    * class with a CROSS-ENGINE hash — per return flag, hash each
    * distinct part to a 48-bit md5 uniform, keep the k = 64 smallest,
    * and estimate distinct = (k−1)·2⁴⁸/u₍ₖ₎. DuckDB replays hash,
    * order statistic and estimate exactly; the published rel_err
    * against the exact count is the sketch-accuracy audit q49 could
    * only spec-pin.
    *
    * Exactness: u is an exact BIGINT (12 hex chars of md5 — ties
    * broken by pk so the order statistic is total even under 48-bit
    * collisions); the estimate is the half-up micro idiom on
    * (k−1)·2⁴⁸ / u₍ₖ₎ (numerator ×2·10⁶ ≈ 3.5e22 — DECIMAL(38,0) /
    * HUGEINT); a flag with fewer than k distinct parts publishes its
    * exact count (degenerate convention, both engines). rel_err is
    * the one fixed dag on (estimate, n_exact).
    *
    * Scale shape: one TakeOrderedAndProject per FIXED flag branch —
    * Spark's distributed bottom-k (per-partition heaps, 64-row
    * merge), never a per-group sort window over the part domain; each
    * branch's scan is pushdown-pruned to its flag. The exact-count
    * side is one map-side partial-distinct aggregation (it exists
    * only to audit the sketch — a production deployment ships the
    * 64-value sketch alone, which is what makes KMV mergeable across
    * 100 TB shards: union-then-bottom-k is associative). */
  def kmvCardinality(spark: SparkSession, dir: String): DataFrame = {
    val two48 = 281474976710656L // 2^48
    val sketches = ReturnFlags.map { fl =>
      Tables.lineitem(spark, dir)
        .filter(col("l_returnflag") === fl)
        .select(col("l_partkey").as("pk")).distinct()
        .select(col("pk"),
          conv(substring(md5(col("pk").cast("string")), 1, 12), 16, 10)
            .cast("long").as("u"))
        .orderBy(col("u"), col("pk")).limit(KmvK)
        .agg(max(col("u")).as("u_k"),
          count(lit(1)).cast("long").as("n_in_sketch"))
        .withColumn("f", lit(fl))
    }.reduce(_ union _)
    val exact = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("f"))
      .agg(countDistinct(col("l_partkey")).cast("long").as("n_exact"))
    // u_k > 0 guard: an all-zero 48-bit md5 prefix among the bottom-k
    // is ~2⁻⁴⁸ per key but nonzero at extreme scale — fall back to the
    // exact count rather than an ANSI division error (both engines)
    val est6 = when(col("n_exact") >= KmvK && col("u_k") > 0,
      expr(s"(2 * CAST(${KmvK - 1} AS DECIMAL(38,0)) * $two48 * 1000000 + u_k) " +
        s"div (2 * u_k)"))
      .otherwise(col("n_exact") * 1000000L)
    exact.join(broadcast(sketches), Seq("f"))
      .withColumn("kmv_estimate", est6.cast("double") / 1000000)
      .select(col("f").as("l_returnflag"), col("n_exact"),
        col("n_in_sketch"), col("u_k"), col("kmv_estimate"),
        ((col("kmv_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
      .orderBy(col("l_returnflag"))
  }

  val kmvCardinalitySql: String = {
    val two48 = 281474976710656L
    s"""WITH dv AS (SELECT DISTINCT l_returnflag AS f, l_partkey AS pk FROM lineitem),
       |h AS (SELECT f, pk,
       |    CAST(('0x' || substring(md5(CAST(pk AS VARCHAR)), 1, 12)) AS BIGINT) AS u
       |  FROM dv),
       |rk AS (SELECT f, u,
       |    ROW_NUMBER() OVER (PARTITION BY f ORDER BY u, pk) AS rn FROM h),
       |sk AS (SELECT f, CAST(MAX(u) AS BIGINT) AS u_k,
       |    CAST(COUNT(*) AS BIGINT) AS n_in_sketch
       |  FROM rk WHERE rn <= $KmvK GROUP BY 1),
       |ex AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_exact FROM dv GROUP BY 1),
       |est AS (SELECT ex.f, ex.n_exact, sk.n_in_sketch, sk.u_k,
       |    CAST(CASE WHEN ex.n_exact >= $KmvK AND u_k > 0 THEN
       |        (2 * CAST(${KmvK - 1} AS HUGEINT) * $two48 * 1000000 + u_k)
       |          // (2 * u_k)
       |      ELSE ex.n_exact * 1000000 END AS BIGINT) AS e6
       |  FROM ex JOIN sk USING (f))
       |SELECT f AS l_returnflag, n_exact, n_in_sketch, u_k,
       |  CAST(e6 AS DOUBLE) / 1000000 AS kmv_estimate,
       |  (CAST(e6 AS DOUBLE) / 1000000 - CAST(n_exact AS DOUBLE))
       |    / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM est ORDER BY l_returnflag""".stripMargin
  }

  private val SqK = 1024
  private val SqPs = Seq(50, 90, 99) // percent numerators

  /** Q281: HASH-SAMPLED QUANTILES — the fully-oracled twin for q128's
    * ⊙ approx-quantile family (closing the sketch-twin program q277
    * started: q49→q277 cardinality, q128→q281 quantiles): a
    * deterministic uniform sample — the [[SqK]] = 1024 orders with
    * the smallest 48-bit md5(o_orderkey) — stands in for the stream,
    * and the sample's discrete quantiles estimate the population's.
    * The audit is the RANK ERROR: for each estimate q̂ₚ, one
    * conditional count gives its exact population rank, and
    * |rank/N − p| is the quantity uniform-sampling theory bounds
    * (≈1/√k) — no exact-quantile machinery needed, which is the
    * point: q51 pays a two-pass global-rank dance for exactness;
    * q281 pays one bottom-k plus one audit scan.
    *
    * Exactness: u is an exact BIGINT (12 md5 hex chars, ties broken
    * by key); the sample quantile is element ⌈p·k⌉ of the collected
    * sorted 1024-array (exact cents, in-expression); rank and the
    * micro rank-error are exact integers (half-up idiom). k > N
    * degenerates to the exact disc quantile (index scales with the
    * actual sample size).
    *
    * Scale shape: one distributed bottom-k (TakeOrderedAndProject —
    * the q277 rationale), one 1024-element collect into a single
    * row, one audit scan with three conditional counts crossJoin-
    * broadcast against the 1-row quantile frame. The sample IS the
    * mergeable sketch: bottom-k of a union is the bottom-k of
    * per-shard bottom-ks. */
  def sampledQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir).select(col("o_orderkey").as("k"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long").as("cents"))
    val sample = vals
      .select(col("k"), col("cents"),
        conv(substring(md5(col("k").cast("string")), 1, 12), 16, 10)
          .cast("long").as("u"))
      .orderBy(col("u"), col("k")).limit(SqK)
      .agg(sort_array(collect_list(col("cents"))).as("xs"))
      .select(col("xs") +:
        SqPs.map(p => expr(
          s"element_at(xs, cast(($p * size(xs) + 99) div 100 as int))")
          .as(s"q$p")): _*)
      .drop("xs")
    val auditAggs = (count(lit(1)).cast("long").as("n") +:
      SqPs.map(p => max(col(s"q$p")).as(s"q$p"))) ++
      SqPs.map(p => sum(when(col("cents") <= col(s"q$p"), 1L).otherwise(0L))
        .cast("long").as(s"r$p"))
    val audited = vals.crossJoin(broadcast(sample))
      .agg(auditAggs.head, auditAggs.tail: _*)
    // long form: (p, sample_q, exact_rank, rank_err_micro)
    audited.select(explode(array(SqPs.map(p => struct(
        lit(p.toLong).as("pct"),
        col(s"q$p").as("sample_q_cents"),
        col(s"r$p").as("exact_rank"),
        abs(expr(s"(2 * r$p * 1000000 + n) div (2 * n)") - lit(p * 10000L))
          .as("rank_err_micro"))): _*)).as("row"), col("n"))
      .select(col("row.pct").as("pct"), col("n").as("n_total"),
        col("row.sample_q_cents").as("sample_q_cents"),
        col("row.exact_rank").as("exact_rank"),
        col("row.rank_err_micro").as("rank_err_micro"))
      .orderBy(col("pct"))
  }

  val sampledQuantilesSql: String = {
    val qcols = SqPs.map(p =>
      s"xs[CAST(($p * len(xs) + 99) // 100 AS INT)] AS q$p").mkString(",\n       |    ")
    val rcols = SqPs.map(p =>
      s"CAST(SUM(CASE WHEN cents <= q$p THEN 1 ELSE 0 END) AS BIGINT) AS r$p")
      .mkString(",\n       |    ")
    val outRows = SqPs.map(p =>
      s"""SELECT CAST($p AS BIGINT) AS pct, n AS n_total,
         |  q$p AS sample_q_cents, r$p AS exact_rank,
         |  ABS((2 * r$p * 1000000 + n) // (2 * n) - ${p * 10000L}) AS rank_err_micro
         |FROM audited""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH vals AS (SELECT o_orderkey AS k,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM orders),
       |h AS (SELECT k, cents,
       |    CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) AS u
       |  FROM vals),
       |sm AS (SELECT cents FROM h ORDER BY u, k LIMIT $SqK),
       |arr AS (SELECT list_sort(list(cents)) AS xs FROM sm),
       |qs AS (SELECT
       |    $qcols
       |  FROM arr),
       |audited AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    MAX(q50) AS q50, MAX(q90) AS q90, MAX(q99) AS q99,
       |    $rcols
       |  FROM vals CROSS JOIN qs)
       |$outRows
       |ORDER BY pct""".stripMargin
  }

  /** Q50: ROLLUP — hierarchical subtotals (returnflag -> linestatus ->
    * grand total) in one pass; grouping() disambiguates genuine NULL
    * keys from subtotal rows. Oracle-checked: DuckDB shares ROLLUP
    * semantics; ordering pins NULLS FIRST explicitly (SURVEY §7 risk 1). */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        dec2(sum(money(col("l_quantity")))).as("sum_qty"),
        grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
        grouping(col("l_linestatus")).cast("bigint").as("g_status"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val rollupCountsSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Q51: exact percentiles — Spark `percentile` and DuckDB
    * `quantile_cont` share linear-interpolation semantics, so the
    * medians oracle-match. The approximate sketch variant
    * (`percentile_approx`, Greenwald-Khanna) returns engine-specific
    * picks and lives in DerivationsSpec with an error bound instead.
    *
    * NOT the `percentile` aggregate: that operator's merged per-group
    * state is a map of every distinct value in the group, and the
    * group key here has THREE values — at 100 TB each of three
    * reducers would hold its group's whole value set (the memory
    * cousin of the single-task-sort hazard q91's rank avoids).
    * Instead, a distributed TARGETED RANK LOOKUP with bounded state
    * everywhere, the q91/q94 two-pass pattern specialized to "fetch
    * two ranks per group":
    *
    *  - job 0: sampled value-bucket boundaries (balance only — any
    *    boundaries are correct);
    *  - job A: per-(status, bucket) counts, map-side combined; the
    *    histogram returns to the driver (bounded by buckets x
    *    statuses — control flow, not data), which locates for each
    *    requested quantile the bucket + local rank of the two values
    *    linear interpolation needs;
    *  - job B: one scan fetches exactly those values — a broadcast
    *    lookup join on (status, bucket) prunes to the hit buckets,
    *    a within-(status, bucket) row_number picks the local ranks
    *    (each hit bucket sorts ~1/buckets of one group, never the
    *    group).
    *
    * The interpolation applies Spark's own `Percentile` formula
    * (lower*(ceil-pos) + higher*(pos-floor)) to the fetched doubles,
    * so the output is bit-identical to the `percentile` aggregate —
    * DerivationsSpec pins that identity plus n=1/n=2/tie edge
    * groups. */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesDistributed(spark, Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_totalprice")))

  /** The distributed form over any (group: string, value: double)
    * 2-column frame; exposed for the spec's edge-case frames. */
  private[graft] def quantilesDistributed(spark: SparkSession, in: DataFrame): DataFrame = {
    val Seq(grpCol, valCol) = in.columns.toSeq
    // round-12: the 2-column proxy is checkpointed once; the sketch,
    // histogram and fetch passes walk blocks instead of re-running the
    // input lineage per pass
    val rows = in.select(col(grpCol).as("st"), col(valCol).as("v"))
      .localCheckpoint()
    val ps = Seq(0.5, 0.95)
    val nBuckets = spark.conf.get("spark.sql.shuffle.partitions").toInt.max(2)
    // shared first pass (TwoPass.scoreBuckets): sampled balance-only
    // boundaries, monotone CASE chain, null-sketch guarded
    val bucketOf = TwoPass.scoreBuckets(rows, col("v"), nBuckets)
    // job A: per-(status, bucket) histogram + per-status row count —
    // bounded by buckets x statuses, driver-side control flow
    val hist = rows.withColumn("b", when(col("v").isNotNull, bucketOf(col("v"))))
      .groupBy(col("st"), col("b")).agg(count(lit(1)).as("c"))
      .collect()
    // locate, per (status, quantile), the global ranks interpolation
    // needs and map them to (bucket, local rank); Spark's Percentile
    // counts only non-null values, COUNT(*) counts all rows
    val wants = Seq.newBuilder[(String, Int, Long, Long)] // (st, b, localRank, globalRank)
    val meta = hist.groupBy(_.getAs[String]("st")).map { case (st, rs) =>
      val nAll = rs.map(_.getAs[Long]("c")).sum
      val present = rs.filter(!_.isNullAt(1)).sortBy(_.getAs[Int]("b"))
      val cum = present.map(_.getAs[Long]("c")).scanLeft(0L)(_ + _)
      val nVal = cum.last
      val positions = ps.map { p =>
        val pos = (nVal - 1) * p
        (pos, math.floor(pos).toLong, math.ceil(pos).toLong)
      }
      positions.flatMap { case (_, lo, hi) => Seq(lo + 1, hi + 1) }.distinct
        .filter(_ >= 1).foreach { r =>
          val idx = cum.lastIndexWhere(_ < r) // bucket holding rank r
          if (idx >= 0 && idx < present.length)
            wants += ((st, present(idx).getAs[Int]("b"), r - cum(idx), r))
        }
      st -> (nAll, nVal, positions)
    }
    // job B: fetch exactly the wanted values — broadcast lookup join
    // prunes to hit buckets, window picks the local ranks
    import spark.implicits._
    val wantDf = wants.result().toDF("wst", "wb", "lr", "gr")
    val w = Window.partitionBy(col("st"), col("b")).orderBy(col("v"))
    val fetched = rows.filter(col("v").isNotNull)
      .withColumn("b", bucketOf(col("v")))
      .join(broadcast(wantDf.select(col("wst").as("st"), col("wb").as("b")).distinct()),
        Seq("st", "b"))
      .withColumn("r", row_number().over(w))
      .join(broadcast(wantDf), col("st") === col("wst") &&
        col("b") === col("wb") && col("r") === col("lr"))
      .select(col("st"), col("gr"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Spark Percentile.getPercentile formula, applied to the same
    // doubles in the same IEEE order -> bit-identical to the aggregate
    def interp(st: String, pos: Double, lo: Long, hi: Long): Double = {
      val lower = fetched((st, lo + 1))
      if (hi == lo) lower
      else {
        val higher = fetched((st, hi + 1))
        lower * (hi - pos) + higher * (pos - lo)
      }
    }
    val out = meta.toSeq.map { case (st, (nAll, nVal, positions)) =>
      val qs = positions.map { case (pos, lo, hi) =>
        if (nVal == 0) None else Some(interp(st, pos, lo, hi))
      }
      (st, qs(0), qs(1), nAll)
    }
    out.toDF("st", "m", "p", "n")
      .select(col("st").as(grpCol),
        dec6(col("m")).as("median"), dec6(col("p")).as("p95"), col("n"))
      .orderBy(col(grpCol))
  }

  val quantilesSql: String =
    """SELECT o_orderstatus,
      |  CAST(CAST(ROUND(quantile_cont(o_totalprice, 0.5), 6) AS DECIMAL(38,6)) AS DOUBLE) AS median,
      |  CAST(CAST(ROUND(quantile_cont(o_totalprice, 0.95), 6) AS DECIMAL(38,6)) AS DOUBLE) AS p95,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Q52: CUBE — all grouping-set combinations (vs ROLLUP's hierarchy);
    * grouping() flags distinguish subtotal shapes. */
  def cubeCounts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast("bigint").as("g_status"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_prio"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first,
        col("g_status"), col("g_prio"))
  }

  val cubeCountsSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST,
      |  g_status, g_prio""".stripMargin

  /** Q60: explicit GROUPING SETS — the general form ROLLUP (q50) and
    * CUBE (q52) specialize: an arbitrary set list (here both one-column
    * marginals but NOT the grand total, a shape neither rollup nor cube
    * can express). One Expand-based pass, same engine machinery. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        dec2(sum(money(col("l_quantity")))).as("sum_qty"),
        grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
        grouping(col("l_linestatus")).cast("bigint").as("g_status"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Q53: PIVOT — BigQuery-style wide conditional aggregation; the
    * explicit value list keeps the output schema static (required for
    * a deterministic plan at scale AND for the oracle's column set). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.withColumn("yr", year(col("o_orderdate")).cast("bigint"))
      .groupBy(col("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dec2(sum(money(col("o_totalprice")))))
      .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
      .orderBy(col("yr"))
  }

  val pivotStatusSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |  CAST(CAST(SUM(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS DOUBLE) AS total_f,
      |  CAST(CAST(SUM(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS DOUBLE) AS total_o,
      |  CAST(CAST(SUM(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS DOUBLE) AS total_p
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  /** Q82: numeric column profile with EXACT variance — the profiling
    * pass a data-quality or feature-engineering stage runs per column.
    * Variance uses the sufficient-statistics identity
    * (n·Σx² − (Σx)²) / (n·(n−1)) computed entirely in decimal, so the
    * result is bit-identical across engines and partition counts —
    * Spark's `var_samp` (double accumulation) is order-sensitive and
    * can't be hash-compared cross-engine. One scan, one hash agg;
    * sufficient statistics combine associatively map-side, which is
    * also why this shape streams and distributes (same property HLL
    * exploits in q49).
    *
    * Precision bounds (documented contract, asserted nowhere cheaper
    * than here): per-group n < 1e9 and Σx² < 1e24 keep every
    * intermediate inside DECIMAL(38,4) — at 100 TB that means
    * profiling per partition-group, not one global group, which is
    * how profiles are consumed anyway. */
  def numericProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val x = col("l_extendedprice").cast(DecimalType(18, 2))
    val agg = li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        min(x).cast(DoubleType).as("min_price"),
        max(x).cast(DoubleType).as("max_price"),
        sum(x).cast(DecimalType(19, 2)).as("s1"),
        sum(x.cast(DecimalType(19, 2)) * x).cast(DecimalType(28, 4)).as("s2"))
    agg.select(
        col("l_returnflag"), col("n"), col("min_price"), col("max_price"),
        dec6(col("s1") / col("n")).as("mean_price"),
        // n >= 2 guard: a single-row group has n*(n-1) = 0 and sample
        // variance is undefined — emit NULL (CaseWhen short-circuits,
        // so ANSI mode never sees the zero divisor); oracle mirrors
        when(col("n") >= 2,
          dec6((col("n").cast(DecimalType(9, 0)) * col("s2")
              - col("s1") * col("s1").cast(DecimalType(18, 2)))
            / (col("n") * (col("n") - 1)))).as("var_price"))
      .orderBy(col("l_returnflag"))
  }

  val numericProfileSql: String =
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price,
      |    MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS max_price,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS s1,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(19,2))
      |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,4)) AS s2
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CAST(min_price AS DOUBLE) AS min_price,
      |  CAST(max_price AS DOUBLE) AS max_price,
      |  CAST((2 * CAST(s1 * 100 AS HUGEINT) * 10000 + n) // (2 * n) AS DOUBLE)
      |    / 1000000 AS mean_price,
      |  CASE WHEN n >= 2 THEN
      |    CAST((2 * (n * CAST(s2 * 10000 AS HUGEINT)
      |        - CAST(s1 * 100 AS HUGEINT) * CAST(s1 * 100 AS HUGEINT)) * 100
      |      + n * (n - 1)) // (2 * n * (n - 1)) AS DOUBLE) / 1000000
      |  END AS var_price
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** Bucket count for [[equiDepthHistogram]]. */
  val HistogramBuckets = 8

  /** Q170: EQUI-DEPTH HISTOGRAM (ANALYZE-statistics build) — the
    * cost-based-optimizer statistic engines collect: 8 equal-depth
    * buckets over price cents with exact boundary values (value at
    * rank ⌈k·n/B⌉, pinned integer convention) and the TRUE row count
    * per bucket — which differs from n/B exactly where ties straddle a
    * boundary, and an honest histogram reports that, not the nominal
    * depth.
    *
    * Scale shape: boundaries from the shared
    * [[TwoPass.groupRankLookup]] kernel (single group: one bounded
    * task up to [[TwoPass.OneTaskRows]] rows, never a global sort
    * above it); true counts are B conditional sums fused into ONE
    * aggregation against the boundary literals (the q158 pattern —
    * never a rows×buckets theta-join). */
  def equiDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = HistogramBuckets
    // round-12: one lineitem scan — the 1-column cents proxy is
    // checkpointed once for the kernel (one task below its bound, three
    // passes above it) AND the true-count agg
    val rows = Tables.lineitem(spark, dir).select(
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long").as("c"))
      .localCheckpoint()
    val lookup = TwoPass.groupRankLookup(spark,
      rows.select(lit("all").as("k"), col("c")),
      n => 1L +: (1 to b).map(k => (k * n + b - 1) / b))
    val gr = lookup("all")
    val minV = gr.at(1L)
    val bounds = (1 to b).map(k => gr.at((k * gr.n + b - 1) / b))
    val aggs = (1 to b).map { k =>
      val lo = if (k == 1) minV - 1 else bounds(k - 2)
      sum(when(col("c") > lo && col("c") <= bounds(k - 1), 1L).otherwise(0L))
        .as(s"c$k")
    }
    val cells = (1 to b).map(k => s"$k, c$k").mkString(", ")
    val counts = rows.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack($b, $cells) as (bucket, n_rows)"))
    val boundDf = (1 to b).map { k =>
      (k, if (k == 1) minV else bounds(k - 2), bounds(k - 1))
    }.toDF("bucket", "lo", "hi")
    boundDf.join(counts, Seq("bucket"))
      .select(col("bucket").cast("int").as("bucket"),
        dec2(col("lo").cast("decimal(18,0)") / 100).as("lo_price"),
        dec2(col("hi").cast("decimal(18,0)") / 100).as("hi_price"),
        col("n_rows").cast("bigint").as("n_rows"))
      .orderBy(col("bucket"))
  }

  val equiDepthHistogramSql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM lineitem),
      |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn,
      |        COUNT(*) OVER () AS n
      |      FROM c),
      |bd AS (SELECT g.k AS bucket,
      |         MAX(CASE WHEN r.rn = (g.k * r.n + 7) // 8 THEN r.c END) AS hi,
      |         MAX(CASE WHEN r.rn = 1 THEN r.c END) AS mn
      |       FROM r, generate_series(1, 8) g(k) GROUP BY g.k),
      |bs AS (SELECT bucket,
      |         COALESCE(LAG(hi) OVER (ORDER BY bucket),
      |                  (SELECT MAX(mn) FROM bd)) AS lo0,
      |         CASE WHEN bucket = 1 THEN (SELECT MAX(mn) FROM bd) - 1
      |              ELSE LAG(hi) OVER (ORDER BY bucket) END AS lo_excl,
      |         hi
      |       FROM bd)
      |SELECT CAST(bs.bucket AS INT) AS bucket,
      |  CAST(CAST(ROUND(bs.lo0 / 100, 2) AS DECIMAL(38,2)) AS DOUBLE) AS lo_price,
      |  CAST(CAST(ROUND(bs.hi / 100, 2) AS DECIMAL(38,2)) AS DOUBLE) AS hi_price,
      |  CAST((SELECT COUNT(*) FROM c WHERE c.c > bs.lo_excl AND c.c <= bs.hi) AS BIGINT)
      |    AS n_rows
      |FROM bs ORDER BY bucket""".stripMargin

  /** Buckets for [[equiWidthHistogram]]. */
  val WidthBuckets = 16

  /** Q186: EQUI-WIDTH HISTOGRAM — q170's fixed-width complement, per
    * group: for each event type, 16 equal-width buckets spanning the
    * type's exact [min, max] cent range, with the true count per
    * non-empty bucket. Equi-width is the histogram monitoring systems
    * and quick profilers build (O(1) bucket arithmetic, no rank pass);
    * equi-depth (q170) is the optimizer's. Everything is integer:
    * bucket = min(B−1, (c−mn)·B div (mx−mn)) — the max value folds
    * into the last bucket, a degenerate single-value type collapses to
    * bucket 0 (guarded identically on both engines), and the printed
    * bucket bounds are the same floor-div arithmetic.
    *
    * Scale shape: one map-side-combined (type, min, max) aggregation
    * over the bounded type dimension, broadcast back; the bucket
    * assignment is a pure map and the count is one aggregation into
    * the bounded ≤ types × B grid. Two row-scale passes, no window,
    * no rank kernel — the whole point of fixed-width. */
  def equiWidthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val b = WidthBuckets
    val ev = Tables.events(spark, dir).select(col("event_type"),
      (col("value").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long").as("c"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("bucket",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(lit(b - 1).cast("long"),
            expr(s"((c - mn) * $b) div (mx - mn)"))))
      .groupBy(col("event_type"), col("bucket"), col("mn"), col("mx"))
      .agg(count(lit(1)).cast("bigint").as("n_events"))
      .select(col("event_type"), col("bucket").cast("int").as("bucket"),
        dec2((col("mn") + expr(s"(bucket * (mx - mn)) div $b"))
          .cast("decimal(18,0)") / 100).as("lo_value"),
        dec2((col("mn") + expr(s"((bucket + 1) * (mx - mn)) div $b"))
          .cast("decimal(18,0)") / 100).as("hi_value"),
        col("n_events"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val equiWidthHistogramSql: String = {
    val b = WidthBuckets
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |  FROM events),
       |bd AS (SELECT event_type, MIN(c) AS mn, MAX(c) AS mx
       |       FROM e GROUP BY 1),
       |a AS (SELECT e.event_type,
       |        CASE WHEN bd.mx = bd.mn THEN 0
       |             ELSE LEAST($b - 1, ((e.c - bd.mn) * $b) // (bd.mx - bd.mn))
       |        END AS bucket,
       |        bd.mn, bd.mx
       |      FROM e JOIN bd USING (event_type))
       |SELECT event_type, CAST(bucket AS INT) AS bucket,
       |  CAST(CAST(ROUND((mn + (bucket * (mx - mn)) // $b) / 100, 2)
       |    AS DECIMAL(38,2)) AS DOUBLE) AS lo_value,
       |  CAST(CAST(ROUND((mn + ((bucket + 1) * (mx - mn)) // $b) / 100, 2)
       |    AS DECIMAL(38,2)) AS DOUBLE) AS hi_value,
       |  CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM a GROUP BY event_type, bucket, mn, mx
       |ORDER BY event_type, bucket""".stripMargin
  }

  /** Q176: JOIN-CARDINALITY ESTIMATOR AUDIT — the CBO sanity check
    * beside q170's histograms and q134's skew profile: estimate
    * |orders ⋈ customer| from per-key count sketches at two bucket
    * widths (md5-bucketed key histograms, est = Σ_b cO(b)·cC(b)) and
    * report them against the EXACT actual (Σ_k cO(k)·cC(k)). Bucket
    * collisions only ever ADD phantom matches, so est ≥ actual is an
    * invariant (pinned in spec), and the over-estimation ratio is the
    * resolution-vs-cost curve a planner tunes.
    *
    * Exactness: everything is integer sums; ratios are single dec6
    * divisions.
    *
    * Scale shape: per side, ONE map-side-combined count aggregation
    * per resolution (the exact path groups true keys — at 100 TB the
    * sketch path is the one a planner keeps, which is the point of
    * the audit); bucket frames are ≤256 rows, and the three 1-row
    * results assemble by tag-union + conditional max (never a 1-row
    * crossJoin BNLJ). */
  def joinCardinalityAudit(spark: SparkSession, dir: String): DataFrame = {
    def keyed(df: DataFrame, key: String) =
      df.select(col(key).cast("string").as("k"))
    val o = keyed(Tables.orders(spark, dir), "o_custkey")
    val c = keyed(Tables.customer(spark, dir), "c_custkey")
    val oExact = o.groupBy(col("k")).agg(count(lit(1)).as("co"))
    val cExact = c.groupBy(col("k")).agg(count(lit(1)).as("cc"))
    val actual = oExact.join(cExact, Seq("k"))
      .agg(sum(col("co") * col("cc")).cast("bigint").as("v"))
      .select(lit("actual").as("m"), col("v"))
    def est(buckets: Int): DataFrame = {
      val b = substring(md5(col("k")), 1, if (buckets == 16) 1 else 2)
      val ob = o.groupBy(b.as("b")).agg(count(lit(1)).as("co"))
      val cb = c.groupBy(b.as("b")).agg(count(lit(1)).as("cc"))
      ob.join(cb, Seq("b"))
        .agg(sum(col("co") * col("cc")).cast("bigint").as("v"))
        .select(lit(s"est_$buckets").as("m"), col("v"))
    }
    import graft.functions.Parity._
    actual.unionAll(est(16)).unionAll(est(256))
      .agg(max(when(col("m") === "actual", col("v"))).as("actual"),
        max(when(col("m") === "est_16", col("v"))).as("est_16"),
        max(when(col("m") === "est_256", col("v"))).as("est_256"))
      .select(col("actual").cast("bigint").as("actual"),
        col("est_16").cast("bigint").as("est_16"),
        col("est_256").cast("bigint").as("est_256"),
        dec6(col("est_16").cast("decimal(19,0)")
          / col("actual").cast("decimal(19,0)")).as("ratio_16"),
        dec6(col("est_256").cast("decimal(19,0)")
          / col("actual").cast("decimal(19,0)")).as("ratio_256"))
  }

  val joinCardinalityAuditSql: String =
    """WITH o AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
      |c AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
      |oe AS (SELECT k, COUNT(*) AS co FROM o GROUP BY 1),
      |ce AS (SELECT k, COUNT(*) AS cc FROM c GROUP BY 1),
      |act AS (SELECT SUM(co * cc) AS actual FROM oe JOIN ce USING (k)),
      |o16 AS (SELECT substr(md5(k), 1, 1) AS b, COUNT(*) AS co FROM o GROUP BY 1),
      |c16 AS (SELECT substr(md5(k), 1, 1) AS b, COUNT(*) AS cc FROM c GROUP BY 1),
      |e16 AS (SELECT SUM(co * cc) AS est_16 FROM o16 JOIN c16 USING (b)),
      |o256 AS (SELECT substr(md5(k), 1, 2) AS b, COUNT(*) AS co FROM o GROUP BY 1),
      |c256 AS (SELECT substr(md5(k), 1, 2) AS b, COUNT(*) AS cc FROM c GROUP BY 1),
      |e256 AS (SELECT SUM(co * cc) AS est_256 FROM o256 JOIN c256 USING (b))
      |SELECT CAST(actual AS BIGINT) AS actual,
      |  CAST(est_16 AS BIGINT) AS est_16, CAST(est_256 AS BIGINT) AS est_256,
      |  CAST((2 * est_16 * 1000000 + actual) // (2 * actual) AS DOUBLE) / 1000000
      |    AS ratio_16,
      |  CAST((2 * est_256 * 1000000 + actual) // (2 * actual) AS DOUBLE) / 1000000
      |    AS ratio_256
      |FROM act CROSS JOIN e16 CROSS JOIN e256""".stripMargin

  def queries: Map[String, Relational.Q] = Map(
    "q186_equi_width_histogram" -> (equiWidthHistogram _),
    "q176_join_cardinality" -> (joinCardinalityAudit _),
    "q170_equi_depth_histogram" -> (equiDepthHistogram _),
    "q13_case_when" -> (caseWhen _),
    "q82_numeric_profile" -> (numericProfile _),
    "q49_approx_distinct" -> (approxDistinct _),
    "q277_kmv_cardinality" -> (kmvCardinality _),
    "q281_sampled_quantiles" -> (sampledQuantiles _),
    "q50_rollup" -> (rollupCounts _),
    "q51_quantiles" -> (quantiles _),
    "q52_cube" -> (cubeCounts _),
    "q53_pivot" -> (pivotStatus _),
    "q60_grouping_sets" -> (groupingSets _),
    "q14_date_parts" -> (dateParts _),
    "q15_regex_derive" -> (regexDerive _),
    "q16_string_funcs" -> (stringFuncs _),
    "q17_json_extract" -> (jsonExtract _),
    "q18_first_wins" -> (firstWins _),
    "q19_distinct_counts" -> (distinctCounts _),
  )

  def oracles: Map[String, String] = Map(
    "q186_equi_width_histogram" -> equiWidthHistogramSql,
    "q176_join_cardinality" -> joinCardinalityAuditSql,
    "q277_kmv_cardinality" -> kmvCardinalitySql,
    "q281_sampled_quantiles" -> sampledQuantilesSql,
    "q170_equi_depth_histogram" -> equiDepthHistogramSql,
    "q13_case_when" -> caseWhenSql,
    "q82_numeric_profile" -> numericProfileSql,
    "q50_rollup" -> rollupCountsSql,
    "q51_quantiles" -> quantilesSql,
    "q52_cube" -> cubeCountsSql,
    "q53_pivot" -> pivotStatusSql,
    "q60_grouping_sets" -> groupingSetsSql,
    // q49 omitted: HLL sketch estimates are engine-specific; spec-bounded.
    "q14_date_parts" -> datePartsSql,
    "q15_regex_derive" -> regexDeriveSql,
    "q16_string_funcs" -> stringFuncsSql,
    "q17_json_extract" -> jsonExtractSql,
    "q18_first_wins" -> firstWinsSql,
    "q19_distinct_counts" -> distinctCountsSql,
  )
}
