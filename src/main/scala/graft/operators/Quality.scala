package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** [EXT] Pipeline-integrity operators: declarative data-quality
  * constraint checking (the Deequ/expectations shape) and snapshot
  * change-data capture — the audit stages a warehouse load or a
  * training-corpus refresh runs before promoting data.
  */
object Quality {

  private val stopwordSqlList =
    graft.functions.TextFunctions.EnglishStopwords.map(s => s"'$s'").mkString(", ")

  /** Q79: constraint suite — each rule is (name, n_checked,
    * n_violations), evaluated in one scan per source table plus one
    * key join for referential integrity; results union into the
    * familiar expectations report. A clean corpus reports 0
    * violations on every rule — the point is the operator shape: at
    * 100 TB each rule is a map-side conditional count (no shuffle
    * beyond the final 5-row union) and the FK probe joins against
    * the distinct key set, so adding rules adds scans, never
    * quadratic work. */
  def constraintSuite(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val customer = Tables.customer(spark, dir)

    val pkUnique = orders.agg(
      lit("orders_pk_unique").as("rule"),
      count(lit(1)).as("n_checked"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))

    val statusDomain = orders.agg(
      lit("orders_status_domain").as("rule"),
      count(lit(1)).as("n_checked"),
      sum(when(!col("o_orderstatus").isInCollection(Seq("O", "F", "P")), 1L)
        .otherwise(0L)).cast("bigint").as("n_violations"))

    val qtyRange = lineitem.agg(
      lit("lineitem_qty_range").as("rule"),
      count(lit(1)).as("n_checked"),
      sum(when(col("l_quantity") <= 0 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).cast("bigint").as("n_violations"))

    val fk = lineitem
      .join(orders.select(col("o_orderkey")).distinct(),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        lit("lineitem_fk_orders").as("rule"),
        count(lit(1)).as("n_checked"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
          .cast("bigint").as("n_violations"))

    val nonNull = customer.agg(
      lit("customer_acctbal_nonnull").as("rule"),
      count(lit(1)).as("n_checked"),
      sum(when(col("c_acctbal").isNull, 1L).otherwise(0L))
        .cast("bigint").as("n_violations"))

    pkUnique.unionByName(statusDomain).unionByName(qtyRange)
      .unionByName(fk).unionByName(nonNull)
      .orderBy(col("rule"))
  }

  val constraintSuiteSql: String =
    """SELECT * FROM (
      |  SELECT 'orders_pk_unique' AS rule, COUNT(*) AS n_checked,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations FROM orders
      |  UNION ALL
      |  SELECT 'orders_status_domain', COUNT(*),
      |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_qty_range', COUNT(*),
      |    CAST(SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders', COUNT(*),
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |    ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'customer_acctbal_nonnull', COUNT(*),
      |    CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer)
      |ORDER BY rule""".stripMargin

  /** Q80: snapshot diff (CDC audit) — classify every key across two
    * corpus snapshots as added / removed / changed / unchanged via a
    * full outer join on the key with null-safe content-hash compare.
    * The snapshots are deterministic derivations of the documents
    * table (old = doc_id % 3 != 0; new = doc_id % 5 != 0 with the
    * % 7 == 0 slice rewritten), so the oracle can classify
    * independently per row without any join. Presence travels as an
    * explicit marker column: a NULL content hash means null text,
    * not absence, and conflating the two would misclassify null-text
    * docs as added/removed.
    *
    * Scale: one key-partitioned full outer join (SMJ) over (key,
    * 16-byte hash, marker) — content never shuffles; the classify-
    * and-count is map-side after the join. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val vOld = d.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h_old"), lit(1).as("in_old"))
    val vNew = d.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text2",
        when(col("doc_id") % 7 === 0, upper(col("text"))).otherwise(col("text")))
      .select(col("doc_id"), md5(col("text2")).as("h_new"), lit(1).as("in_new"))
    vOld.join(vNew, Seq("doc_id"), "full_outer")
      .withColumn("change_type",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("h_old") <=> col("h_new")), "changed")
          .otherwise("unchanged"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("change_type"))
  }

  val snapshotDiffSql: String =
    """SELECT change_type, COUNT(*) AS n_docs FROM (
      |  SELECT CASE
      |    WHEN doc_id % 3 = 0 AND doc_id % 5 != 0 THEN 'added'
      |    WHEN doc_id % 3 != 0 AND doc_id % 5 = 0 THEN 'removed'
      |    WHEN doc_id % 3 != 0 AND doc_id % 5 != 0
      |         AND doc_id % 7 = 0 AND upper(text) IS DISTINCT FROM text THEN 'changed'
      |    WHEN doc_id % 3 != 0 AND doc_id % 5 != 0 THEN 'unchanged'
      |    END AS change_type
      |  FROM documents)
      |WHERE change_type IS NOT NULL
      |GROUP BY change_type ORDER BY change_type""".stripMargin

  /** Q141: WINSORIZED ROBUST STATISTICS — outlier-clipped moments, the
    * robust-statistics step a metrics/feature pipeline runs before any
    * mean is trusted: per event type, the exact p05/p95 value (integer
    * rank convention, no floating-point rank arithmetic: lo rank =
    * ⌈n/20⌉ = (n+19) div 20, hi rank = ⌈19n/20⌉), counts clipped at
    * each tail, and the raw vs winsorized mean.
    *
    * Exactness: values are exact cents; the winsorized sum clamps
    * cents between two cents thresholds, so both means are single
    * dec6 divisions of exact integer sums — order-independent at any
    * parallelism.
    *
    * Scale shape: a per-group percentile over 100 TB must not sort
    * groups (a (type)-partitioned rank window sends EVERY row of a
    * type through one task). This runs q51's distributed targeted
    * rank lookup instead — now the shared [[TwoPass.groupRankLookup]]
    * kernel (sampled balance-only buckets, a bounded per-(type,
    * bucket) histogram to the driver, one pruned fetch of exactly the
    * two threshold values per type) — then one broadcast join + map-side
    * clamp + one aggregation over the full data. Bounded state
    * everywhere; the oracle recomputes thresholds with an explicit
    * ROW_NUMBER so the rank convention is pinned, not inherited from
    * an engine's quantile function. */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity._
    import spark.implicits._
    // round-12: the kernel lazily persists the (k, c) proxy across its
    // own reads (TwoPass.cached: one task below its bound, three passes
    // above it); an eager caller-side checkpoint measured WORSE here
    // (scan-only lineage — the extra materialize job costs more than
    // the parquet re-scan it saves)
    def rows = Tables.events(spark, dir).select(col("event_type").as("et"),
      (col("value").cast("decimal(18,2)") * 100).cast("decimal(18,0)")
        .cast("long").as("c"))
    val lookup = TwoPass.groupRankLookup(spark,
      rows.select(col("et").as("k"), col("c")),
      n => Seq((n + 19) / 20, (19 * n + 19) / 20))
    val th = lookup.toSeq.map { case (et, gr) =>
      (et, gr.at((gr.n + 19) / 20), gr.at((19 * gr.n + 19) / 20))
    }.toDF("et", "lo", "hi")
    rows.join(broadcast(th), Seq("et"))
      .groupBy(col("et"))
      .agg(count(lit(1)).as("n"),
        max(col("lo")).as("loc"), max(col("hi")).as("hic"),
        sum(when(col("c") < col("lo"), 1L).otherwise(0L)).cast("bigint")
          .as("n_clipped_low"),
        sum(when(col("c") > col("hi"), 1L).otherwise(0L)).cast("bigint")
          .as("n_clipped_high"),
        sum(col("c").cast("decimal(28,0)")).as("sc"),
        sum(least(greatest(col("c"), col("lo")), col("hi"))
          .cast("decimal(28,0)")).as("swc"))
      .select(col("et").as("event_type"), col("n"),
        dec2(col("loc").cast("decimal(18,0)") / 100).as("p05"),
        dec2(col("hic").cast("decimal(18,0)") / 100).as("p95"),
        col("n_clipped_low"), col("n_clipped_high"),
        dec6(col("sc") / (col("n").cast("decimal(19,0)") * 100)).as("mean_value"),
        dec6(col("swc") / (col("n").cast("decimal(19,0)") * 100)).as("wins_mean"))
      .orderBy(col("event_type"))
  }

  val winsorizedStatsSql: String =
    """WITH e AS (
      |  SELECT event_type AS et,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |r AS (SELECT et, c,
      |        ROW_NUMBER() OVER (PARTITION BY et ORDER BY c) AS rn,
      |        COUNT(*) OVER (PARTITION BY et) AS n
      |      FROM e),
      |th AS (SELECT et, MAX(n) AS n,
      |         MAX(CASE WHEN rn = (n + 19) // 20 THEN c END) AS lo,
      |         MAX(CASE WHEN rn = (19*n + 19) // 20 THEN c END) AS hi
      |       FROM r GROUP BY et)
      |SELECT e.et AS event_type, th.n,
      |  CAST(CAST(ROUND(th.lo / 100, 2) AS DECIMAL(38,2)) AS DOUBLE) AS p05,
      |  CAST(CAST(ROUND(th.hi / 100, 2) AS DECIMAL(38,2)) AS DOUBLE) AS p95,
      |  CAST(SUM(CASE WHEN e.c < th.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
      |  CAST(SUM(CASE WHEN e.c > th.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
      |  CAST((2 * SUM(e.c) * 10000 + th.n) // (2 * th.n) AS DOUBLE) / 1000000
      |    AS mean_value,
      |  CAST((2 * SUM(LEAST(GREATEST(e.c, th.lo), th.hi)) * 10000 + th.n)
      |    // (2 * th.n) AS DOUBLE) / 1000000 AS wins_mean
      |FROM e JOIN th ON e.et = th.et
      |GROUP BY e.et, th.n, th.lo, th.hi
      |ORDER BY event_type""".stripMargin

  /** k-anonymity threshold for [[kAnonymity]]. */
  val AnonymityK = 5

  /** Q143: K-ANONYMITY AUDIT — the privacy-governance companion to
    * q92's PII redaction: how many customers sit in a
    * quasi-identifier group smaller than k (= [[AnonymityK]]), i.e.
    * are re-identifiable by joining public attributes. Two rungs of
    * the standard generalization lattice are audited side by side —
    * (segment, nation) and its generalization (segment, region) — so
    * the report shows how much risk one generalization step retires.
    *
    * Scale shape: per rung, one map-side-combined count aggregation
    * into the bounded QI-group frame, then a bounded rollup; nation/
    * region are broadcast dims. No row ever leaves with its identity
    * — only group sizes travel. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_mktsegment").as("segment"),
        col("n_name").as("nation"), col("r_name").as("region"))
    def audit(level: String, qi: Seq[String]): DataFrame =
      base.groupBy(qi.map(col): _*).agg(count(lit(1)).as("sz"))
        .agg(lit(level).as("level"),
          count(lit(1)).as("n_groups"),
          sum(when(col("sz") < AnonymityK, 1L).otherwise(0L)).cast("bigint")
            .as("n_risky_groups"),
          sum(when(col("sz") < AnonymityK, col("sz")).otherwise(0L))
            .cast("bigint").as("n_rows_at_risk"),
          min(col("sz")).as("min_group_size"))
    audit("1_segment_nation", Seq("segment", "nation"))
      .unionByName(audit("2_segment_region", Seq("segment", "region")))
      .orderBy(col("level"))
  }

  val kAnonymitySql: String =
    s"""WITH base AS (
      |  SELECT c_mktsegment AS segment, n_name AS nation, r_name AS region
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |g1 AS (SELECT COUNT(*) AS sz FROM base GROUP BY segment, nation),
      |g2 AS (SELECT COUNT(*) AS sz FROM base GROUP BY segment, region)
      |SELECT '1_segment_nation' AS level, COUNT(*) AS n_groups,
      |  CAST(SUM(CASE WHEN sz < $AnonymityK THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
      |  CAST(SUM(CASE WHEN sz < $AnonymityK THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  CAST(MIN(sz) AS BIGINT) AS min_group_size
      |FROM g1
      |UNION ALL
      |SELECT '2_segment_region', COUNT(*),
      |  CAST(SUM(CASE WHEN sz < $AnonymityK THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(CASE WHEN sz < $AnonymityK THEN sz ELSE 0 END) AS BIGINT),
      |  CAST(MIN(sz) AS BIGINT)
      |FROM g2
      |ORDER BY level""".stripMargin

  /** Q146: CHI-SQUARE INDEPENDENCE AUDIT — the data-profiling test
    * behind "is attribute A independent of attribute B" (segment ×
    * region here): per contingency cell the observed count, the
    * independence-expected count E = rowTot·colTot/N, and the χ²
    * contribution (O−E)²/E. A mixture pipeline runs exactly this to
    * detect source/attribute entanglement before stratifying on
    * either.
    *
    * Exactness: every input to the two dec6 divisions is an exact
    * integer — the contribution is computed as the cross-multiplied
    * rational (O·N − rT·cT)² / (N·rT·cT), so no float enters before
    * the final rounding (the q93/q120 discipline). Headroom: the
    * squared term is (O·N)²-scale ≈ 1e34 at 1e9 rows — inside
    * DECIMAL(38,0), and ANSI throws rather than corrupts beyond.
    *
    * Scale shape: ONE row-scale map-side-combined count aggregation
    * into the |segments|·|regions|-bounded contingency frame;
    * everything after (three marginal windows, the rational per cell)
    * moves only those ~25 rows. Dims broadcast. */
  def chiSquareAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Parity._
    val obs = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_mktsegment").as("segment"), col("r_name").as("region"))
      .groupBy(col("segment"), col("region"))
      .agg(count(lit(1)).as("o"))
    // the three marginal windows repartition only the bounded
    // contingency frame — single-task on ~25 rows by design
    val rt = sum(col("o")).over(Window.partitionBy(col("segment")))
    val ct = sum(col("o")).over(Window.partitionBy(col("region")))
    val n = sum(col("o")).over(Window.partitionBy())
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    obs
      .withColumn("rt", rt).withColumn("ct", ct).withColumn("nn", n)
      .withColumn("diff", d19(col("o")) * d19(col("nn"))
        - d19(col("rt")) * d19(col("ct")))
      .select(col("segment"), col("region"), col("o").as("observed"),
        dec6(d19(col("rt")) * d19(col("ct")) / d19(col("nn"))).as("expected"),
        dec6((col("diff") * col("diff"))
          / (d19(col("nn")) * d19(col("rt")) * d19(col("ct"))))
          .as("contribution"))
      .orderBy(col("segment"), col("region"))
  }

  val chiSquareAuditSql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS segment, r_name AS region
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |obs AS (SELECT segment, region, COUNT(*) AS o FROM base GROUP BY 1, 2),
      |m AS (SELECT segment, region, o,
      |        SUM(o) OVER (PARTITION BY segment) AS rt,
      |        SUM(o) OVER (PARTITION BY region) AS ct,
      |        SUM(o) OVER () AS nn
      |      FROM obs)
      |SELECT segment, region, CAST(o AS BIGINT) AS observed,
      |  CAST((2 * rt * ct * 1000000 + nn) // (2 * nn) AS DOUBLE) / 1000000
      |    AS expected,
      |  CAST((2 * (o*nn - rt*ct) * (o*nn - rt*ct) * 1000000 + nn * rt * ct)
      |    // (2 * nn * rt * ct) AS DOUBLE) / 1000000 AS contribution
      |FROM m ORDER BY segment, region""".stripMargin

  /** Q147: MAD ROBUST OUTLIER AUDIT — the median/MAD robust z-score
    * every metrics pipeline wants where q141's winsorization is too
    * blunt: per event type, the exact lower median (rank (n+1) div 2 —
    * the convention is pinned, not inherited from an engine quantile),
    * the median absolute deviation around it, and how many rows sit
    * beyond the classic 3×MAD robust fence.
    *
    * Exactness: values are exact cents (long); the deviation frame
    * |c − med| stays in exact integers, and the outlier test
    * `dev > 3·mad` is pure long arithmetic — no float enters before
    * the two final dec2/dec6 roundings.
    *
    * Scale shape: MAD needs two dependent per-group medians — the
    * second over a derived column — so a naive plan pays two full
    * per-group sort windows. This instead runs the shared
    * [[TwoPass.groupRankLookup]] kernel twice (q141's machinery):
    * each pass is one map-side-combined bounded histogram + one
    * pruned single-bucket fetch, and the med/mad thresholds travel
    * back as a broadcast |types|-row frame. Final scan is one
    * aggregation with integer conditionals.
    *
    * Round-12: the narrow (k, c) proxy is localCheckpoint'ed once and
    * feeds BOTH kernel calls, the deviation derivation and the final
    * aggregation — one events scan total where the previous shape
    * re-scanned parquet per kernel pass (guide §5/§8: materialize the
    * small decision rows once, never the payload). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity._
    import spark.implicits._
    val rows = Tables.events(spark, dir).select(col("event_type").as("k"),
      (col("value").cast("decimal(18,2)") * 100).cast("decimal(18,0)")
        .cast("long").as("c"))
      .localCheckpoint()
    val med = TwoPass.groupRankLookup(spark, rows, n => Seq((n + 1) / 2))
      .toSeq.map { case (k, gr) => (k, gr.at((gr.n + 1) / 2)) }
      .toDF("k", "med")
    val dev = rows.join(broadcast(med), Seq("k"))
      .select(col("k"), abs(col("c") - col("med")).as("c"))
    val mad = TwoPass.groupRankLookup(spark, dev, n => Seq((n + 1) / 2))
      .toSeq.map { case (k, gr) => (k, gr.at((gr.n + 1) / 2)) }
      .toDF("k", "mad")
    rows.join(broadcast(med), Seq("k")).join(broadcast(mad), Seq("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("medc"), max(col("mad")).as("madc"),
        sum(when(abs(col("c") - col("med")) > lit(3L) * col("mad"), 1L)
          .otherwise(0L)).cast("bigint").as("n_outliers"))
      .select(col("k").as("event_type"), col("n"),
        dec2(col("medc").cast("decimal(18,0)") / 100).as("median_value"),
        dec2(col("madc").cast("decimal(18,0)") / 100).as("mad_value"),
        col("n_outliers"),
        dec6(col("n_outliers").cast("decimal(19,0)")
          / col("n").cast("decimal(19,0)")).as("outlier_rate"))
      .orderBy(col("event_type"))
  }

  val madOutliersSql: String =
    """WITH e AS (
      |  SELECT event_type AS et,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |r AS (SELECT et, c,
      |        ROW_NUMBER() OVER (PARTITION BY et ORDER BY c) AS rn,
      |        COUNT(*) OVER (PARTITION BY et) AS n
      |      FROM e),
      |med AS (SELECT et, MAX(n) AS n,
      |          MAX(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med
      |        FROM r GROUP BY et),
      |d AS (SELECT e.et, ABS(e.c - med.med) AS dc FROM e JOIN med ON e.et = med.et),
      |dr AS (SELECT et, dc,
      |         ROW_NUMBER() OVER (PARTITION BY et ORDER BY dc) AS rn,
      |         COUNT(*) OVER (PARTITION BY et) AS n
      |       FROM d),
      |mad AS (SELECT et, MAX(CASE WHEN rn = (n + 1) // 2 THEN dc END) AS mad
      |        FROM dr GROUP BY et),
      |agg AS (SELECT e.et, med.n, med.med, mad.mad,
      |          SUM(CASE WHEN ABS(e.c - med.med) > 3 * mad.mad THEN 1 ELSE 0 END)
      |            AS n_out
      |        FROM e
      |        JOIN med ON e.et = med.et
      |        JOIN mad ON e.et = mad.et
      |        GROUP BY e.et, med.n, med.med, mad.mad)
      |SELECT et AS event_type, n,
      |  CAST(CAST(ROUND(med / 100, 2) AS DECIMAL(38,2)) AS DOUBLE) AS median_value,
      |  CAST(CAST(ROUND(mad / 100, 2) AS DECIMAL(38,2)) AS DOUBLE) AS mad_value,
      |  CAST(n_out AS BIGINT) AS n_outliers,
      |  CAST((2 * n_out * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000
      |    AS outlier_rate
      |FROM agg ORDER BY event_type""".stripMargin

  /** Benford per-mille probabilities for first digits 1..9 —
    * round(1000·log10(1+1/d)); the SAME integer literals are embedded
    * in the Spark plan and the oracle SQL so no engine ever evaluates
    * a logarithm (the q130 bounded-literal convention). */
  val BenfordPerMille: Seq[(Int, Long)] =
    Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)

  /** Q148: BENFORD FIRST-DIGIT AUDIT — the classic fraud/synthetic-data
    * screen over a financial measure: distribution of the first
    * significant digit of order totals vs Benford's law, reported as
    * per-digit observed share, expected share, and absolute gap.
    *
    * Exactness: the first digit is taken from the decimal string of
    * exact integer cents (no float log/pow); shares and gaps are
    * exact rationals of integer counts and the shared per-mille
    * literals ([[BenfordPerMille]]) — both engines compute
    * |1000·observed − n·pm| / (1000·n) from the same integers.
    *
    * Scale shape: ONE row-scale map-side-combined count into a
    * ≤9-row frame; the Benford table is a 9-row literal LEFT-joined
    * so absent digits still report (observed 0), and the total-n
    * window moves only those 9 rows. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Parity._
    import spark.implicits._
    val obs = Tables.orders(spark, dir)
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 0)
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long").as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("o"))
    val benford = BenfordPerMille.toDF("digit", "pm")
    val n = sum(col("o")).over(Window.partitionBy()) // 9-row frame only
    benford.join(obs, Seq("digit"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("n", n)
      .select(col("digit"), col("o").cast("bigint").as("observed"),
        dec6(col("o").cast("decimal(19,0)") / col("n").cast("decimal(19,0)"))
          .as("observed_share"),
        dec6(col("pm").cast("decimal(19,0)") / 1000).as("benford_share"),
        dec6(abs(col("o").cast("decimal(19,0)") * 1000
            - col("n").cast("decimal(19,0)") * col("pm"))
          / (col("n").cast("decimal(19,0)") * 1000)).as("abs_gap"))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
      |o AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
      |        COUNT(*) AS o
      |      FROM c GROUP BY 1),
      |b(digit, pm) AS (VALUES (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
      |                        (6, 67), (7, 58), (8, 51), (9, 46)),
      |m AS (SELECT b.digit, b.pm, COALESCE(o.o, 0) AS o,
      |        SUM(COALESCE(o.o, 0)) OVER () AS n
      |      FROM b LEFT JOIN o ON b.digit = o.digit)
      |SELECT digit, CAST(o AS BIGINT) AS observed,
      |  CAST((2 * o * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000 AS observed_share,
      |  CAST(CAST(ROUND(pm / 1000.0, 6) AS DECIMAL(38,6)) AS DOUBLE) AS benford_share,
      |  CAST((2 * ABS(o * 1000 - n * pm) * 1000 + n) // (2 * n) AS DOUBLE) / 1000000
      |    AS abs_gap
      |FROM m ORDER BY digit""".stripMargin

  /** Q156: RELIABILITY / CALIBRATION TABLE — the eval-side audit for
    * any [0,1]-scored classifier: bucket rows by predicted score, and
    * per fixed-width score bin report the observed positive rate next
    * to the mean score. The audited scorer here is the stopword-share
    * "looks English" heuristic against the lang label — which on the
    * synthetic corpus is KNOWN-miscalibrated (every lang draws from
    * the same English-ish vocabulary, so the share carries no language
    * signal), and the table's job is precisely to expose that: the
    * per-bin gap |1000·pos − Σscore| / (1000·n) is the bin's ECE
    * contribution, exact as one integer rational (never a difference
    * of two rounded rates — the q151 layered-rounding discipline), and
    * the spec asserts the audit actually flags the bad scorer.
    *
    * Fixed-width bins (10 × 100 permille) instead of score deciles on
    * purpose: deciles need a global rank (the q91 machinery) and tie
    * handling; calibration literature bins by score value, which is a
    * pure map. Scale shape: one row-scale map-side-combined count into
    * a ≤10-row frame. */
  def calibrationTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    import graft.functions.Parity._
    val scored = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select((col("lang") === "en").as("pos"),
        (stopwordCount(col("text")) * 1000).as("sw1000"),
        tokenCount(col("text")).as("tc"))
      .withColumn("score", expr("sw1000 div tc"))
      .withColumn("bin", least(expr("score div 100"), lit(9L)))
    scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_en"),
        sum(col("score")).as("s"))
      .select(col("bin").cast("int").as("score_bin"),
        col("n_docs").cast("bigint").as("n_docs"),
        col("n_en").cast("bigint").as("n_en"),
        dec6(col("s").cast("decimal(19,0)")
          / (col("n_docs").cast("decimal(19,0)") * 1000)).as("mean_score"),
        dec6(col("n_en").cast("decimal(19,0)")
          / col("n_docs").cast("decimal(19,0)")).as("en_rate"),
        dec6(abs(col("n_en").cast("decimal(19,0)") * 1000
            - col("s").cast("decimal(19,0)"))
          / (col("n_docs").cast("decimal(19,0)") * 1000)).as("gap"))
      .orderBy(col("score_bin"))
  }

  val calibrationTableSql: String =
    s"""WITH scored AS (
       |  SELECT lang = 'en' AS pos,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopwordSqlList)))
       |      * 1000 // len(string_split(text, ' ')) AS score
       |  FROM documents WHERE text IS NOT NULL),
       |b AS (SELECT LEAST(score // 100, 9) AS bin, pos, score FROM scored)
       |SELECT CAST(bin AS INT) AS score_bin, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  CAST((2 * SUM(score) * 1000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
       |    / 1000000 AS mean_score,
       |  CAST((2 * SUM(CASE WHEN pos THEN 1 ELSE 0 END) * 1000000 + COUNT(*))
       |    // (2 * COUNT(*)) AS DOUBLE) / 1000000 AS en_rate,
       |  CAST((2 * ABS(SUM(CASE WHEN pos THEN 1 ELSE 0 END) * 1000 - SUM(score)) * 1000
       |    + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000 AS gap
       |FROM b GROUP BY bin ORDER BY score_bin""".stripMargin

  /** Q157: COHEN'S KAPPA — chance-corrected agreement between two
    * independent raters, the standard metric before trusting any
    * rule ensemble or annotator pool. Raters here are two en-detector
    * heuristics over different evidence: A = at least 2 function-word
    * hits; B = the document contains 'the' or 'is' as a token. Kappa
    * is computed as the single cross-multiplied integer rational
    * (N·agree − Σ marginal products) / (N² − Σ marginal products) —
    * po and pe are reported dec6 but NEVER subtracted post-rounding.
    *
    * Scale shape: one map-side-combined conditional-count scan into a
    * 1-row frame; the kappa arithmetic moves 6 integers. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    import graft.functions.Parity._
    val rated = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select((stopwordCount(col("text")) >= 2).as("a"),
        arrays_overlap(tokens(col("text")), array(lit("the"), lit("is")))
          .as("b"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    rated.agg(
        count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .withColumn("pe_num",
        d19(col("n11") + col("n10")) * d19(col("n11") + col("n01"))
          + d19(col("n00") + col("n10")) * d19(col("n00") + col("n01")))
      .select(col("n").cast("bigint").as("n_docs"),
        col("n11").cast("bigint").as("n11"),
        col("n10").cast("bigint").as("n10"),
        col("n01").cast("bigint").as("n01"),
        col("n00").cast("bigint").as("n00"),
        dec6(d19(col("n11") + col("n00")) / d19(col("n"))).as("po"),
        dec6(col("pe_num") / (d19(col("n")) * d19(col("n")))).as("pe"),
        // kappa is 0 by convention when chance agreement is total
        // (constant raters: pe = 1 makes the ratio 0/0)
        when(d19(col("n")) * d19(col("n")) === col("pe_num"), lit(0.0))
          .otherwise(
            dec6((d19(col("n")) * d19(col("n11") + col("n00")) - col("pe_num"))
              / (d19(col("n")) * d19(col("n")) - col("pe_num"))))
          .as("kappa"))
  }

  val cohensKappaSql: String =
    s"""WITH rated AS (
       |  SELECT
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopwordSqlList))) >= 2 AS a,
       |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'is'))) >= 1 AS b
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT COUNT(*) AS n,
       |        SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
       |        SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,
       |        SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,
       |        SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00
       |      FROM rated),
       |k AS (SELECT *, (n11 + n10) * (n11 + n01) + (n00 + n10) * (n00 + n01) AS pe_num
       |      FROM c)
       |SELECT CAST(n AS BIGINT) AS n_docs, CAST(n11 AS BIGINT) AS n11,
       |  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
       |  CAST(n00 AS BIGINT) AS n00,
       |  CAST((2 * (n11 + n00) * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000 AS po,
       |  CAST((2 * pe_num * 1000000 + n * n) // (2 * n * n) AS DOUBLE) / 1000000 AS pe,
       |  CASE WHEN n * n = pe_num THEN 0.0
       |       ELSE CAST(CASE WHEN n * (n11 + n00) < pe_num
       |         THEN -((2 * (pe_num - n * (n11 + n00)) * 1000000 + (n * n - pe_num))
       |                // (2 * (n * n - pe_num)))
       |         ELSE (2 * (n * (n11 + n00) - pe_num) * 1000000 + (n * n - pe_num))
       |                // (2 * (n * n - pe_num)) END AS DOUBLE) / 1000000
       |  END AS kappa
       |FROM k""".stripMargin

  /** Deterministic deletion-request slice for [[deletionCascade]]:
    * customers with custkey ≡ 0 (mod 25), standing in for an external
    * right-to-be-forgotten queue. */
  val DeletionModulus = 25

  /** Q165: DELETION-CASCADE AUDIT (GDPR / right-to-be-forgotten) —
    * before a deletion batch runs, account for its full referential
    * blast radius: deleting a customer set cascades to their orders
    * and to those orders' line items. Per table: total rows, rows the
    * cascade removes, rows kept (closure — no kept row references a
    * deleted parent — is pinned in QualitySpec rather than padded into
    * the report, since it holds by construction of the semi-joins).
    *
    * Scale shape: each level is ONE anti/semi-join on its FK — the
    * deleted-customer key set is corpus-fraction-sized (NOT assumed
    * broadcastable; the joins shuffle on the key, AQE picks the
    * strategy), and the deleted-ORDER set needed by level 3 is the
    * semi-join output projected to keys only. Counts are map-side
    * conditional sums; the whole audit never moves a payload column. */
  def deletionCascade(spark: SparkSession, dir: String): DataFrame = {
    val delC = Tables.customer(spark, dir)
      .filter(col("c_custkey") % DeletionModulus === 0)
      .select(col("c_custkey").as("dk"))
    val orders = Tables.orders(spark, dir)
    val delO = orders.join(delC, col("o_custkey") === col("dk"), "left_semi")
      .select(col("o_orderkey").as("dok"))
    def audit(name: String, df: DataFrame, deleted: Column): DataFrame =
      df.agg(lit(name).as("table_name"),
        count(lit(1)).cast("bigint").as("n_rows"),
        sum(when(deleted, 1L).otherwise(0L)).cast("bigint").as("n_deleted"))
        .withColumn("n_kept", col("n_rows") - col("n_deleted"))
    val cA = audit("customer", Tables.customer(spark, dir),
      col("c_custkey") % DeletionModulus === 0)
    val oA = audit("orders",
      orders.join(delC, col("o_custkey") === col("dk"), "left_outer"),
      col("dk").isNotNull)
    val lA = audit("lineitem",
      Tables.lineitem(spark, dir)
        .join(delO, col("l_orderkey") === col("dok"), "left_outer"),
      col("dok").isNotNull)
    cA.unionAll(oA).unionAll(lA).orderBy(col("table_name"))
  }

  val deletionCascadeSql: String =
    """WITH delc AS (SELECT c_custkey AS dk FROM customer WHERE c_custkey % 25 = 0),
      |delo AS (SELECT o_orderkey AS dok FROM orders
      |         WHERE o_custkey IN (SELECT dk FROM delc))
      |SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN c_custkey % 25 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
      |  CAST(SUM(CASE WHEN c_custkey % 25 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
      |FROM customer
      |UNION ALL
      |SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN l_orderkey IN (SELECT dok FROM delo) THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(CASE WHEN l_orderkey IN (SELECT dok FROM delo) THEN 0 ELSE 1 END) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN o_custkey IN (SELECT dk FROM delc) THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(CASE WHEN o_custkey IN (SELECT dk FROM delc) THEN 0 ELSE 1 END) AS BIGINT)
      |FROM orders
      |ORDER BY table_name""".stripMargin

  /** Q172: EXACT AUC (Mann-Whitney) — q156's discrimination twin: the
    * probability a random positive outscores a random negative, with
    * TIES handled exactly by midrank (never a float perturbation).
    * AUC = (Σ_pos 2·midrank − n_pos·(n_pos+1)) / (2·n_pos·n_neg) — a
    * single cross-multiplied integer rational: midranks double to
    * 2·cum_prev + cnt + 1 on the grouped-score frame, so no halves
    * ever materialize.
    *
    * Same honest framing as q156: the synthetic corpus gives the
    * en-scorer no signal, so the audit's JOB is to report AUC ≈ 0.5 —
    * and the spec pins it against a brute-force concordant-pair count
    * (an independent formulation of the same statistic).
    *
    * Scale shape: the score domain is permille (≤1001 values), so one
    * row-scale conditional-count aggregation lands on a bounded
    * frame; the rank algebra is two windows over that frame and a
    * 1-row reduce. */
  def aucScorer(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions._
    import graft.functions.Parity._
    val byScore = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select((col("lang") === "en").as("pos"),
        (stopwordCount(col("text")) * 1000).as("sw1000"),
        tokenCount(col("text")).as("tc"))
      .withColumn("score", expr("sw1000 div tc"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
    val ord = Window.orderBy(col("score"))
    def d(c: Column) = c.cast("decimal(38,0)")
    byScore
      .withColumn("cum_prev",
        coalesce(sum(col("cnt")).over(ord.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("mr2", lit(2L) * col("cum_prev") + col("cnt") + 1)
      .agg(sum(col("cnt")).as("n"),
        sum(col("np")).as("n_pos"),
        sum(col("np") * col("mr2")).as("num2"))
      .select(col("n").cast("bigint").as("n_docs"),
        col("n_pos").cast("bigint").as("n_pos"),
        (col("n") - col("n_pos")).cast("bigint").as("n_neg"),
        // AUC undefined on a one-class corpus: NULL, not a crash
        when(col("n_pos") === 0 || col("n") === col("n_pos"),
          lit(null).cast("double"))
          .otherwise(dec6((d(col("num2")) - d(col("n_pos")) * (col("n_pos") + 1))
            / (lit(2).cast("decimal(2,0)") * d(col("n_pos"))
              * (col("n") - col("n_pos"))))).as("auc"))
  }

  val aucScorerSql: String =
    s"""WITH scored AS (
       |  SELECT lang = 'en' AS pos,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopwordSqlList)))
       |      * 1000 // len(string_split(text, ' ')) AS score
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT score, COUNT(*) AS cnt,
       |        SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np
       |      FROM scored GROUP BY 1),
       |r AS (SELECT score, cnt, np,
       |        COALESCE(SUM(cnt) OVER (ORDER BY score
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
       |      FROM g)
       |SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
       |  CAST(SUM(np) AS BIGINT) AS n_pos,
       |  CAST(SUM(cnt) - SUM(np) AS BIGINT) AS n_neg,
       |  CASE WHEN SUM(np) = 0 OR SUM(np) = SUM(cnt) THEN NULL
       |       ELSE CAST(
       |         (2 * (SUM(np * (2 * cum_prev + cnt + 1)) - SUM(np) * (SUM(np) + 1))
       |            * 1000000 + 2 * SUM(np) * (SUM(cnt) - SUM(np)))
       |           // (2 * (2 * SUM(np) * (SUM(cnt) - SUM(np)))) AS DOUBLE) / 1000000
       |  END AS auc
       |FROM r""".stripMargin

  /** Q204: L-DIVERSITY AUDIT — q143's companion: k-anonymity bounds
    * RE-IDENTIFICATION (group too small), but a large group whose
    * SENSITIVE attribute is homogeneous still leaks it to anyone who
    * can place a row in the group (attribute disclosure). Sensitive
    * bit here: the customer's debt flag (acctbal < 0). Per
    * generalization rung, the groups with fewer than 2 distinct
    * sensitive values, the rows exposed by them, and the worst
    * diversity — the l ≥ 2 report a release gate reads next to q143's
    * k ≥ 5 one.
    *
    * Scale shape: identical to q143 — one map-side-combined
    * aggregation per rung into the bounded QI frame, bounded rollup,
    * broadcast dims. Diversity of the BOOLEAN sensitive attribute is
    * computed as has_true + has_false (two conditional maxes), NOT
    * COUNT(DISTINCT): the distinct-agg form triggers Spark's Expand
    * rewrite (the NOTES mixed-distinct trap — observed +2 exchanges
    * per rung when first written that way) while the max form
    * combines map-side like any plain aggregate. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_mktsegment").as("segment"),
        col("n_name").as("nation"), col("r_name").as("region"),
        (col("c_acctbal") < 0).as("in_debt"))
    def audit(level: String, qi: Seq[String]): DataFrame =
      base.groupBy(qi.map(col): _*)
        .agg(count(lit(1)).as("sz"),
          (max(when(col("in_debt"), 1L).otherwise(0L))
            + max(when(col("in_debt"), 0L).otherwise(1L))).as("ldiv"))
        .agg(lit(level).as("level"),
          count(lit(1)).as("n_groups"),
          sum(when(col("ldiv") < 2, 1L).otherwise(0L)).cast("bigint")
            .as("n_homogeneous_groups"),
          sum(when(col("ldiv") < 2, col("sz")).otherwise(0L)).cast("bigint")
            .as("n_rows_exposed"),
          min(col("ldiv")).cast("bigint").as("min_diversity"))
    audit("1_segment_nation", Seq("segment", "nation"))
      .unionByName(audit("2_segment_region", Seq("segment", "region")))
      .orderBy(col("level"))
  }

  val lDiversitySql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS segment, n_name AS nation, r_name AS region,
      |    c_acctbal < 0 AS in_debt
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |g1 AS (SELECT COUNT(*) AS sz, COUNT(DISTINCT in_debt) AS ldiv
      |       FROM base GROUP BY segment, nation),
      |g2 AS (SELECT COUNT(*) AS sz, COUNT(DISTINCT in_debt) AS ldiv
      |       FROM base GROUP BY segment, region)
      |SELECT '1_segment_nation' AS level, COUNT(*) AS n_groups,
      |  CAST(SUM(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous_groups,
      |  CAST(SUM(CASE WHEN ldiv < 2 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_exposed,
      |  CAST(MIN(ldiv) AS BIGINT) AS min_diversity
      |FROM g1
      |UNION ALL
      |SELECT '2_segment_region', COUNT(*),
      |  CAST(SUM(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(SUM(CASE WHEN ldiv < 2 THEN sz ELSE 0 END) AS BIGINT),
      |  CAST(MIN(ldiv) AS BIGINT)
      |FROM g2
      |ORDER BY level""".stripMargin

  /** Q211: MANN-WHITNEY U (Wilcoxon rank-sum) — the nonparametric
    * two-sample location test the profiling suite lacked (q146 tests
    * categorical independence; q211 tests whether one source's length
    * DISTRIBUTION is shifted vs the rest — the standard "did this
    * source drift" gate before admitting a crawl batch to a mixture).
    * Sample A = src0 documents' n_chars, sample B = every other
    * source; emits the tie-corrected U, z-score and rank-biserial
    * effect size.
    *
    * Exactness: ranks are computed on the VALUE-GROUP frame with the
    * doubled-rank trick — avg tied rank = c_lt + (t+1)/2 is half-
    * integral, so 2·rank = 2·c_lt + t + 1 stays an exact BIGINT, and
    * `u1_x2` = 2·U₁ = Σ cₐ·r2 − n₁(n₁+1) never sees a float. The z /
    * effect doubles are a FIXED dag of correctly-rounded IEEE ops on
    * exact-integer operands (each < 2⁵³: N³ ≈ 8e12 at sf0.1, n₁n₂ ≤
    * 1e8), identical bit-for-bit in both engines — the q199 rule,
    * extended to ·, √ and mirrored association. Degenerate guard:
    * var = 0 (all values tied) cannot occur while ≥2 distinct values
    * exist; headroom note at 1e9 docs: N³ ≈ 1e27 needs the decimal
    * path — flagged in SCALE.md, not needed at any test SF.
    *
    * Scale shape: one map-side-combined groupBy over the BOUNDED
    * value domain (n_chars ≤ max doc length — a histogram frame, not
    * a row-scale one), then the rank cumsum runs single-task over
    * that bounded frame (the q146 marginal-window argument); output
    * is one row. At 100× the value domain, not the corpus, bounds the
    * window. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(spark, dir)
      .select(when(col("source") === "src0", 1L).otherwise(0L).as("is_a"),
        col("n_chars").as("v"))
      .groupBy(col("v"))
      .agg(sum(col("is_a")).as("ca"),
        (count(lit(1)) - sum(col("is_a"))).as("cb"))
    val byV = Window.partitionBy().orderBy(col("v"))
    val scalar = cells
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("clt", coalesce(sum(col("t")).over(
        byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("r2", lit(2L) * col("clt") + col("t") + lit(1L))
      .agg(sum(col("ca")).cast("bigint").as("n1"),
        sum(col("cb")).cast("bigint").as("n2"),
        sum(col("ca") * col("r2")).cast("bigint").as("r1x2"),
        sum(col("t") * col("t") * col("t") - col("t")).cast("bigint").as("tie_term"))
    val bigN = col("n1") + col("n2")
    val u1x2 = col("r1x2") - col("n1") * (col("n1") + lit(1L))
    val varD = (col("n1").cast("double") * col("n2").cast("double")) *
      (((bigN + lit(1L)) * bigN * (bigN - lit(1L)) - col("tie_term")).cast("double")
        / (lit(12L) * bigN * (bigN - lit(1L))).cast("double"))
    scalar.select(
      lit("src0").as("sample_a"), lit("rest").as("sample_b"),
      col("n1"), col("n2"),
      u1x2.cast("bigint").as("u1_x2"),
      col("tie_term"),
      ((u1x2 - col("n1") * col("n2")).cast("double")
        / (lit(2.0d) * sqrt(varD))).as("z_score"),
      ((u1x2 - col("n1") * col("n2")).cast("double")
        / (col("n1") * col("n2")).cast("double")).as("rank_biserial"))
  }

  val mannWhitneySql: String =
    """WITH cells AS (
      |  SELECT n_chars AS v,
      |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM documents GROUP BY 1),
      |r AS (SELECT ca, cb, ca + cb AS t,
      |        COALESCE(SUM(ca + cb) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt
      |      FROM cells),
      |s AS (SELECT CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(cb) AS BIGINT) AS n2,
      |        CAST(SUM(ca * (2 * clt + t + 1)) AS BIGINT) AS r1x2,
      |        CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
      |      FROM r)
      |SELECT 'src0' AS sample_a, 'rest' AS sample_b, n1, n2,
      |  CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2, tie_term,
      |  CAST(r1x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
      |    / (2.0 * SQRT((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) *
      |        (CAST((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tie_term AS DOUBLE)
      |         / CAST(12 * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))) AS z_score,
      |  CAST(r1x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
      |    / CAST(n1 * n2 AS DOUBLE) AS rank_biserial
      |FROM s""".stripMargin

  /** Q212: KOLMOGOROV–SMIRNOV TWO-SAMPLE — the distribution-SHAPE
    * companion to q211's location test: the maximum ECDF discrepancy
    * between src0's n_chars and the rest, with the value where it
    * occurs. The standard drift detector when a shift test is too
    * weak (bimodal vs unimodal sources share a median).
    *
    * Exactness: the discrepancy is maximized in CROSS-MULTIPLIED
    * integer form — d_num = max |n₂·F₁ᶜᵘᵐ − n₁·F₂ᶜᵘᵐ| over the value
    * groups (ECDF evaluated after each complete tie group, the
    * correct KS convention) — so the argmax and numerator are exact
    * BIGINTs; D and the √(n₁n₂/N)-scaled statistic follow the q211
    * fixed-dag double discipline. Argmax tie pin: smallest value.
    *
    * Scale shape: identical to q211 — histogram-frame groupBy (map-
    * side combined), bounded single-task cumsum, one output row. */
  def ksTwoSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(spark, dir)
      .select(when(col("source") === "src0", 1L).otherwise(0L).as("is_a"),
        col("n_chars").as("v"))
      .groupBy(col("v"))
      .agg(sum(col("is_a")).as("ca"),
        (count(lit(1)) - sum(col("is_a"))).as("cb"))
    val byV = Window.partitionBy().orderBy(col("v"))
    val all = Window.partitionBy()
    val sweep = cells
      .withColumn("cum_a", sum(col("ca")).over(
        byV.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_b", sum(col("cb")).over(
        byV.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n1", sum(col("ca")).over(all))
      .withColumn("n2", sum(col("cb")).over(all))
      .withColumn("d_num",
        abs(col("n2") * col("cum_a") - col("n1") * col("cum_b")))
      .withColumn("rn", row_number().over(
        Window.partitionBy().orderBy(col("d_num").desc, col("v"))))
      .filter(col("rn") === 1)
    sweep.select(
      lit("src0").as("sample_a"), lit("rest").as("sample_b"),
      col("n1").cast("bigint").as("n1"), col("n2").cast("bigint").as("n2"),
      col("d_num").cast("bigint").as("d_num"),
      col("v").cast("bigint").as("at_value"),
      (col("d_num").cast("double")
        / (col("n1") * col("n2")).cast("double")).as("d_stat"),
      ((col("d_num").cast("double") / (col("n1") * col("n2")).cast("double"))
        * sqrt((col("n1").cast("double") * col("n2").cast("double"))
          / (col("n1") + col("n2")).cast("double"))).as("ks_scaled"))
  }

  val ksTwoSampleSql: String =
    """WITH cells AS (
      |  SELECT n_chars AS v,
      |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM documents GROUP BY 1),
      |c AS (SELECT v,
      |        CAST(SUM(ca) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
      |        CAST(SUM(cb) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
      |        CAST(SUM(ca) OVER () AS BIGINT) AS n1,
      |        CAST(SUM(cb) OVER () AS BIGINT) AS n2
      |      FROM cells),
      |d AS (SELECT *, ABS(n2 * cum_a - n1 * cum_b) AS d_num,
      |        ROW_NUMBER() OVER (ORDER BY ABS(n2 * cum_a - n1 * cum_b) DESC, v) AS rn
      |      FROM c)
      |SELECT 'src0' AS sample_a, 'rest' AS sample_b, n1, n2,
      |  CAST(d_num AS BIGINT) AS d_num, CAST(v AS BIGINT) AS at_value,
      |  -- d_num ≤ n1·n2 grows ~n² past 2^53: VARCHAR-route (q286 finding)
      |  CAST(CAST(d_num AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(n1 * n2 AS VARCHAR) AS DOUBLE) AS d_stat,
      |  (CAST(CAST(d_num AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(n1 * n2 AS VARCHAR) AS DOUBLE))
      |    * SQRT((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |        / CAST(n1 + n2 AS DOUBLE)) AS ks_scaled
      |FROM d WHERE rn = 1""".stripMargin

  /** Q213: MANN-KENDALL TREND TEST — the nonparametric monotone-trend
    * detector over a grouped time series (is a nation's monthly
    * revenue drifting up or down?), completing the q211/q212 test
    * trio: location shift, shape drift, temporal trend. Per nation
    * over monthly 1996–1997 revenue: S = Σ_{i<j} sign(xⱼ − xᵢ), the
    * tie-corrected Var(S) numerator, continuity-corrected z and
    * Kendall's τ_b.
    *
    * Exactness: S and both tie terms are exact integer sums over the
    * within-nation month-pair frame; Var(S)·18 = n(n−1)(2n+5) −
    * Σt(t−1)(2t+5) is emitted as a BIGINT so the only doubles are the
    * q211 fixed dag (÷18, √, one division; τ_b mirrors association).
    * z pin: (S−1)/√Var for S>0, (S+1)/√Var for S<0, exactly 0.0 at
    * S=0 (no division).
    *
    * Scale shape: the pair expansion is WITHIN a nation's month
    * series — |months|² ≈ 576 pairs per group, bounded by the
    * calendar, never by rows (the q171 basket rule) — and runs
    * IN-EXPRESSION over the collected per-nation month array, so the
    * whole test is one chain: row-scale monthly rollup (the only
    * row-scale exchange) → nation-keyed collect (bounded frame) →
    * array HOFs → output sort. Three exchanges, no joins, no branch
    * recompute (the earlier window/self-join shape paid five: each
    * broadcast branch re-ran the rollup). At 100× only the monthly
    * rollup grows; the array stays |months| ≈ hundreds even for a
    * decades-long corpus. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).cast("long").as("rev"))
    // one bounded array per nation, sorted by month (m is unique within
    // a nation, so struct order = month order); every statistic is an
    // exact-BIGINT HOF over it. Each HOF output feeds exactly one
    // aggregate column (the NOTES.md CollapseProject rule: an inlined
    // recompute would only re-walk a ≤|months| array anyway).
    // n_months >= 2 on BOTH engines: a 1-month nation has no pairs, so
    // tau_b's denominator is 0 (NaN on Spark) while the oracle's inner
    // pair-join silently drops the row — pin the degenerate case to
    // "dropped" on both sides (same guard as q219/q231).
    val arrs = monthly.groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev")))).as("xs"))
      .filter(size(col("xs")) >= 2)
    // S = Σ_j (#earlier < x_j) − (#earlier > x_j): slice(xs, 1, j) is
    // the strictly-earlier prefix under the 0-based transform index
    val j = arrs.select(col("nation"),
      expr("""aggregate(
                transform(xs, (x, j) ->
                  CAST(size(filter(slice(xs, 1, j), y -> y.rev < x.rev)) AS BIGINT)
                  - CAST(size(filter(slice(xs, 1, j), y -> y.rev > x.rev)) AS BIGINT)),
                CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("s_stat"),
      // per-element contribution trick: summing (t−1)·(2t+5) over the t
      // members of a tie group yields t(t−1)(2t+5)
      expr("""aggregate(
                transform(xs, x ->
                  (CAST(size(filter(xs, y -> y.rev = x.rev)) AS BIGINT) - 1)
                  * (2 * CAST(size(filter(xs, y -> y.rev = x.rev)) AS BIGINT) + 5)),
                CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("tie_var_term"),
      expr("""aggregate(
                transform(xs, x ->
                  CAST(size(filter(xs, y -> y.rev = x.rev)) AS BIGINT) - 1),
                CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("tie_pair_x2"),
      size(col("xs")).cast("long").as("n_months"))
    val n = col("n_months")
    val varX18 = (n * (n - 1) * (lit(2L) * n + 5) - col("tie_var_term"))
      .cast("bigint")
    val sd = sqrt(varX18.cast("double") / lit(18.0d))
    val d0x2 = (n * (n - 1)).cast("double")
    j.select(col("nation"), col("n_months").cast("bigint").as("n_months"),
        col("s_stat").cast("bigint").as("s_stat"),
        varX18.as("var_s_x18"),
        when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sd)
          .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sd)
          .otherwise(lit(0.0d)).as("z_score"),
        (col("s_stat").cast("double")
          / sqrt((d0x2 / lit(2.0d))
            * ((d0x2 - col("tie_pair_x2").cast("double")) / lit(2.0d))))
          .as("tau_b"))
      .orderBy(col("nation"))
  }

  val mannKendallSql: String =
    """WITH monthly AS (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE year(o_orderdate) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.nation,
      |    CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
      |                  WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM monthly a JOIN monthly b
      |    ON a.nation = b.nation AND a.m < b.m
      |  GROUP BY 1),
      |ties AS (
      |  SELECT nation, CAST(SUM(t) AS BIGINT) AS n_months,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_var_term,
      |    CAST(SUM(t * (t - 1)) AS BIGINT) AS tie_pair_x2
      |  FROM (SELECT nation, rev, COUNT(*) AS t FROM monthly GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT p.nation, n_months, s_stat,
      |  CAST(n_months * (n_months - 1) * (2 * n_months + 5) - tie_var_term
      |    AS BIGINT) AS var_s_x18,
      |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
      |         / SQRT(CAST(n_months * (n_months - 1) * (2 * n_months + 5)
      |             - tie_var_term AS DOUBLE) / 18.0)
      |       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
      |         / SQRT(CAST(n_months * (n_months - 1) * (2 * n_months + 5)
      |             - tie_var_term AS DOUBLE) / 18.0)
      |       ELSE 0.0 END AS z_score,
      |  CAST(s_stat AS DOUBLE)
      |    / SQRT((CAST(n_months * (n_months - 1) AS DOUBLE) / 2.0)
      |        * ((CAST(n_months * (n_months - 1) AS DOUBLE)
      |            - CAST(tie_pair_x2 AS DOUBLE)) / 2.0)) AS tau_b
      |FROM pairs p JOIN ties t ON p.nation = t.nation
      |WHERE n_months >= 2
      |ORDER BY p.nation""".stripMargin

  /** Q219: THEIL–SEN SLOPE — the robust trend MAGNITUDE estimator
    * that pairs with q213's Mann-Kendall significance test (the
    * standard reporting pair: MK says "is there a monotone trend",
    * Theil–Sen says "how steep"): per nation, the median of all
    * pairwise monthly-revenue slopes (rev_j − rev_i)/(m_j − m_i) over
    * the same 1996–1997 monthly frame. Robust to outlier months where
    * q135's least-squares slope is not (breakdown point 29%).
    *
    * Exactness: every slope is the exact rational (num, den) with
    * num = Δrev in cents (BIGINT), den = Δmonths ∈ [1, 23]; the
    * median is an ORDER STATISTIC, not an average — selected at the
    * lower-median rank (m+1)÷2 under the total order (slope double,
    * num, den): the IEEE quotient orders rationals correctly except
    * for sub-ulp distinctions, and the (num, den) suffix makes the
    * full order deterministic in both engines; the emitted slope pair
    * is exact, the double is its one-division image (q199 rule).
    *
    * Scale shape: q213's chain verbatim — row-scale monthly rollup,
    * nation-keyed collect of the calendar-bounded month array
    * (|months| ≤ 24), pair slopes IN-EXPRESSION (≤ 276 per nation),
    * sort_array + element_at for the median. Three exchanges, no
    * joins, no pair frame ever leaves the array. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).cast("long").as("rev"))
    // n_months >= 2 on BOTH engines: a 1-month nation has an EMPTY
    // slope array, so element_at(sl, 0) is an ANSI INVALID_INDEX_OF_ZERO
    // runtime error on Spark while the oracle's inner pair-join drops
    // the row — pin the degenerate case to "dropped" on both sides.
    val arrs = monthly.groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev")))).as("xs"))
      .filter(size(col("xs")) >= 2)
    val slopes = arrs.select(col("nation"),
      size(col("xs")).cast("long").as("n_months"),
      expr("""sort_array(flatten(transform(xs, (x, i) ->
                transform(slice(xs, i + 2, size(xs)), y ->
                  struct(CAST(y.rev - x.rev AS DOUBLE)
                           / CAST(y.m - x.m AS DOUBLE) AS slope,
                         CAST(y.rev - x.rev AS BIGINT) AS num,
                         CAST(y.m - x.m AS BIGINT) AS den)))))""").as("sl"))
    slopes.select(col("nation"), col("n_months"),
        size(col("sl")).cast("long").as("n_pairs"),
        element_at(col("sl"),
          ((size(col("sl")) + 1) / lit(2)).cast("int")).as("med"))
      .select(col("nation"), col("n_months"), col("n_pairs"),
        col("med.num").as("slope_num"), col("med.den").as("slope_den"),
        col("med.slope").as("slope_cents_per_month"))
      .orderBy(col("nation"))
  }

  val theilSenSql: String =
    """WITH monthly AS (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE year(o_orderdate) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |sl AS (
      |  SELECT a.nation,
      |    CAST(b.rev - a.rev AS BIGINT) AS num,
      |    CAST(b.m - a.m AS BIGINT) AS den,
      |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS slope
      |  FROM monthly a JOIN monthly b
      |    ON a.nation = b.nation AND b.m > a.m),
      |nm AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months
      |       FROM monthly GROUP BY 1),
      |r AS (SELECT nation, num, den, slope,
      |        ROW_NUMBER() OVER (PARTITION BY nation
      |          ORDER BY slope, num, den) AS rn,
      |        COUNT(*) OVER (PARTITION BY nation) AS np
      |      FROM sl)
      |SELECT r.nation, n_months, CAST(np AS BIGINT) AS n_pairs,
      |  num AS slope_num, den AS slope_den,
      |  slope AS slope_cents_per_month
      |FROM r JOIN nm ON r.nation = nm.nation
      |WHERE rn = (np + 1) // 2 AND n_months >= 2
      |ORDER BY r.nation""".stripMargin

  /** The five order priorities, the fixed group axis of [[anovaOneWay]]
    * — literal so the SSB dag has a pinned term order. */
  private val Priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Q223: ONE-WAY ANOVA F-TEST — does mean order value differ across
    * the five order priorities? The k-group generalization of q211's
    * two-sample test: F = (SSB/(k−1)) / (SSW/(N−k)) with
    * SSB = Σ n_g(ȳ_g − ȳ)², SSW = SST − SSB. The standard gate before
    * trusting any per-segment mean comparison (q220's rate effects).
    *
    * Exactness (the q211/q199 correctly-rounded-dag discipline):
    * every input is exact — n_g, S_g in BIGINT cents (S_g ≤ ~1e14,
    * below 2⁵³, so the double image is EXACT), ΣY² in DECIMAL(38,0) —
    * and every published double is a FIXED dag of IEEE +,−,·,/ on
    * those exact values. The one ordering hazard in ANOVA — the
    * across-group Σ in SSB, which a float aggregation would make
    * partition-order-dependent — is eliminated by PIVOTING the k=5
    * groups into one row (conditional aggregation, integer-exact) and
    * writing the five SSB terms as one explicit left-associated
    * expression, identical text on both engines.
    *
    * Scale shape: ONE conditional-aggregation scan (map-side
    * combined) to a single row; the dag is driver-free scalar math on
    * that row. Adding groups means adding columns, not exchanges. */
  /** The one-row (n₁..n₅, s₁..s₅, Σy²) sufficient-statistics pivot of
    * order value cents by priority — shared by q223 (ANOVA) and q284
    * (Tukey-Kramer); one definition per the TwoPass rule. */
  private def priorityCentsPivot(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("long")
    val aggs = Priorities.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        sum(when(col("g") === p, 1L).otherwise(0L)).cast("long")
          .as(s"n${i + 1}"),
        sum(when(col("g") === p, col("y")).otherwise(0L)).cast("long")
          .as(s"s${i + 1}"))
    } :+ sum(col("y").cast("decimal(38,0)") * col("y"))
      .cast("decimal(38,0)").as("ssq")
    Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("g"), cents.as("y"))
      .groupBy()
      .agg(aggs.head, aggs.tail: _*)
  }

  def anovaOneWay(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = priorityCentsPivot(spark, dir)
    val nT = (1 to 5).map(i => col(s"n$i")).reduce(_ + _)
    val sT = (1 to 5).map(i => col(s"s$i")).reduce(_ + _)
    val nD = col("n_total").cast("double")
    val grand = col("s_total").cast("double") / nD
    def term(i: Int): Column = {
      val d = col(s"s$i").cast("double") / col(s"n$i").cast("double") - grand
      col(s"n$i").cast("double") * (d * d)
    }
    val ssb = (1 to 5).map(term).reduce(_ + _)
    val sst = col("ssq").cast("double") -
      col("s_total").cast("double") * col("s_total").cast("double") / nD
    pivoted
      .withColumn("n_total", nT)
      .withColumn("s_total", sT)
      .withColumn("ssb", ssb)
      .withColumn("sst", sst)
      .withColumn("ssw", col("sst") - col("ssb"))
      .select(lit(5L).as("k_groups"), col("n_total"),
        grand.as("grand_mean_cents"),
        col("ssb"), col("ssw"),
        ((col("ssb") / lit(4.0d))
          / (col("ssw") / (nD - lit(5.0d)))).as("f_stat"),
        (col("ssb") / col("sst")).as("eta_sq"))
  }

  /** Oracle: the identical pivot and the identical left-associated
    * dag — term order pinned by priority name on both engines. */
  val anovaOneWaySql: String = {
    val conds = Priorities.zipWithIndex.map { case (p, i) =>
      s"""    CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n${i + 1},
         |    CAST(SUM(CASE WHEN o_orderpriority = '$p'
         |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS s${i + 1}""".stripMargin
    }.mkString(",\n")
    val terms = (1 to 5).map(i =>
      s"CAST(n$i AS DOUBLE) * ((CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) - grand) * (CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) - grand))")
      .mkString("\n    + ")
    s"""WITH piv AS (
       |  SELECT
       |$conds,
       |    CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
       |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS ssq
       |  FROM orders),
       |t AS (
       |  SELECT n1 + n2 + n3 + n4 + n5 AS n_total,
       |    s1 + s2 + s3 + s4 + s5 AS s_total, * FROM piv),
       |g AS (
       |  SELECT *, CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS grand
       |  FROM t),
       |e AS (
       |  SELECT *,
       |    $terms AS ssb,
       |    CAST(ssq AS DOUBLE)
       |      - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
       |        / CAST(n_total AS DOUBLE) AS sst
       |  FROM g)
       |SELECT CAST(5 AS BIGINT) AS k_groups, CAST(n_total AS BIGINT) AS n_total,
       |  grand AS grand_mean_cents, ssb, sst - ssb AS ssw,
       |  (ssb / 4.0) / ((sst - ssb) / (CAST(n_total AS DOUBLE) - 5.0)) AS f_stat,
       |  ssb / sst AS eta_sq
       |FROM e""".stripMargin
  }

  /** Q229: TRIMMED MEAN — per nation, the 10%-two-sided trimmed mean
    * of order value: drop the k = ⌊n/10⌋ smallest and largest orders,
    * average the rest. The robust location estimate between the mean
    * (q1, breakdown 0%) and the median (q199, inefficient when the
    * middle is clean) — the standard spend-per-order readout when a
    * few whale orders would otherwise own the mean. Pairs with q147's
    * MAD (robust scale) and q219's Theil–Sen (robust slope); the
    * deliberate contrast is q141, which WINSORIZES (clips the tails to
    * the p05/p95 values, keeping n constant) where this REMOVES the
    * tails entirely — the two canonical robust-mean treatments, with
    * different breakdown/efficiency trade-offs and different answers
    * on the same data.
    *
    * Exactness: membership in the kept middle is integer rank
    * arithmetic — ties at either boundary value are apportioned by
    * exact counts (kept sum = total − Σ(bottom k) − Σ(top k), with
    * each tail sum = everything strictly past the boundary value plus
    * (k − that count) copies of the boundary value itself); the mean
    * publishes via the (2N+D)÷(2D) micro-cent form on a DECIMAL(38)
    * numerator.
    *
    * Scale shape: order value is QUASI-CONTINUOUS, so a distinct-value
    * histogram is row-scale and a per-nation cumulative window would
    * be a single-task row-scale sort — q141's exact hazard, solved
    * the same way: [[TwoPass.groupRankLookup]] fetches the two
    * boundary values (ranks k and n−k+1) without ever sorting a whole
    * group, then ONE conditional aggregation against the broadcast
    * boundary frame produces the tail-adjusted kept sum. The oracle
    * keeps the textbook per-row ROW_NUMBER form as the witness that
    * both shapes agree. */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("long")
    // round-12: one orders scan + dim joins — the narrow (k, c) proxy
    // is checkpointed once for the kernel passes AND the final agg
    val rows = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("k"), cents.as("c"))
      .localCheckpoint()
    val lookup = TwoPass.groupRankLookup(spark, rows,
      n => { val t = n / 10; Seq(t, n - t + 1).filter(r => r >= 1 && r <= n) })
    val th = lookup.toSeq.map { case (nation, gr) =>
      val t = gr.n / 10
      // t = 0 (n < 10): nothing trimmed; boundaries collapse to
      // sentinels that make both tail adjustments vanish
      (nation, gr.n, t,
        if (t > 0) gr.at(t) else Long.MinValue,
        if (t > 0) gr.at(gr.n - t + 1) else Long.MaxValue)
    }.toDF("k", "n", "t", "vlo", "vhi")
    rows.join(broadcast(th), Seq("k"))
      .groupBy(col("k"))
      .agg(max(col("n")).cast("long").as("n_orders"),
        max(col("t")).cast("long").as("k_trim"),
        max(col("vlo")).as("vlo"), max(col("vhi")).as("vhi"),
        sum(col("c").cast("decimal(38,0)")).as("s_all"),
        sum(when(col("c") < col("vlo"), col("c")).otherwise(0L)
          .cast("decimal(38,0)")).as("s_below"),
        sum(when(col("c") < col("vlo"), 1L).otherwise(0L)).cast("long")
          .as("n_below"),
        sum(when(col("c") > col("vhi"), col("c")).otherwise(0L)
          .cast("decimal(38,0)")).as("s_above"),
        sum(when(col("c") > col("vhi"), 1L).otherwise(0L)).cast("long")
          .as("n_above"))
      .select(col("k").as("nation"), col("n_orders"), col("k_trim"),
        (col("n_orders") - lit(2L) * col("k_trim")).as("m_kept"),
        ((col("s_all")
          - (col("s_below") + (col("k_trim") - col("n_below")) * col("vlo"))
          - (col("s_above") + (col("k_trim") - col("n_above")) * col("vhi")))
          .as("ksum")))
      .select(col("nation"), col("n_orders"), col("k_trim"), col("m_kept"),
        (expr("(2 * CAST(ksum AS DECIMAL(38,0)) * 1000000 + m_kept) div (2 * m_kept)")
          .cast("double") / 1000000).as("trimmed_mean_cents"))
      .orderBy(col("nation"))
  }

  val trimmedMeanSql: String =
    """WITH j AS (
      |  SELECT n_name AS nation,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |r AS (SELECT nation, v,
      |        ROW_NUMBER() OVER (PARTITION BY nation ORDER BY v) AS rn,
      |        COUNT(*) OVER (PARTITION BY nation) AS n
      |      FROM j),
      |kept AS (SELECT nation, v, n, n // 10 AS k
      |         FROM r WHERE rn > n // 10 AND rn <= n - n // 10)
      |SELECT nation, CAST(MAX(n) AS BIGINT) AS n_orders,
      |  CAST(MAX(k) AS BIGINT) AS k_trim,
      |  CAST(COUNT(*) AS BIGINT) AS m_kept,
      |  CAST((2 * CAST(SUM(v) AS HUGEINT) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) AS DOUBLE) / 1000000 AS trimmed_mean_cents
      |FROM kept GROUP BY nation ORDER BY nation""".stripMargin

  /** Q230: WILSON SCORE INTERVAL — per supplier nation, the 95%
    * confidence interval for the return rate (share of lineitems with
    * l_returnflag = 'R'). Wilson is the binomial CI that behaves at
    * extreme p̂ and small n where the naive Wald interval collapses —
    * the gate before acting on any per-segment rate comparison (which
    * nations' return rates are DISTINGUISHABLE, not just different).
    *
    * Exactness: x and n are exact BIGINTs; the interval is one fixed
    * IEEE dag (+,−,·,/,√ are all correctly rounded — the q211
    * extended-dag rule) written with identical association on both
    * engines, z = 1.96 as the same literal double.
    *
    * Scale shape: ONE map-side-combined conditional aggregation to
    * the |nations| frame after broadcast dim joins; the dag is scalar
    * math on that bounded frame. */
  def wilsonInterval(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("long").as("x"))
    val nD = col("n").cast("double")
    val z = lit(1.96d)
    val z2 = z * z
    val p = col("x").cast("double") / nD
    val denom = lit(1.0d) + z2 / nD
    val center = (p + z2 / (lit(2.0d) * nD)) / denom
    val half = z * sqrt(p * (lit(1.0d) - p) / nD
      + z2 / (lit(4.0d) * nD * nD)) / denom
    base.select(col("nation"), col("n"), col("x"),
        p.as("p_hat"),
        (center - half).as("wilson_lo"),
        (center + half).as("wilson_hi"))
      .orderBy(col("nation"))
  }

  /** Oracle: the identical dag, spelled with the same association —
    * every subexpression textually parallel to the Column form. */
  val wilsonIntervalSql: String =
    """WITH b AS (
      |  SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1),
      |e AS (
      |  SELECT nation, n, x,
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    CAST(n AS DOUBLE) AS nd,
      |    1.96 * 1.96 AS z2
      |  FROM b),
      |f AS (
      |  SELECT nation, n, x, p,
      |    (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
      |    1.96 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
      |      / (1.0 + z2 / nd) AS half
      |  FROM e)
      |SELECT nation, n, x, p AS p_hat,
      |  center - half AS wilson_lo, center + half AS wilson_hi
      |FROM f ORDER BY nation""".stripMargin

  /** Q231: HODGES–LEHMANN ESTIMATOR — per nation, the median of all
    * Walsh averages (rev_i + rev_j)/2, i ≤ j, over the 1996–97
    * monthly-revenue frame: the location estimate the Mann-Whitney
    * test (q211) inverts, completing the robust trio with q219's
    * Theil–Sen slope (same pair machinery, location instead of
    * slope). More efficient than the plain median under near-normal
    * noise, still 29% breakdown.
    *
    * Exactness: each Walsh PAIR SUM is an exact BIGINT; the median is
    * an order statistic at rank (m+1)÷2 of the sum order (monotone
    * image of the average order); the published estimate is sum/2.0 —
    * division by a power of two, EXACT in IEEE, so the double is not
    * even rounded.
    *
    * Scale shape: q219's chain verbatim — row-scale monthly rollup,
    * nation-keyed collect of the calendar-bounded ≤ 24-month array,
    * the ≤ 300 Walsh sums generated IN-EXPRESSION (self-pairs
    * included via slice from the element itself), sort_array +
    * element_at for the order statistic. Three exchanges, no joins. */
  def hodgesLehmann(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).cast("long").as("rev"))
    // n_months >= 2 on BOTH engines — not strictly needed here (self
    // Walsh pairs make a 1-month nation well-defined and identical on
    // both engines) but pinned for family consistency with q213/q219.
    val arrs = monthly.groupBy(col("nation"))
      .agg(sort_array(collect_list(col("rev"))).as("xs"))
      .filter(size(col("xs")) >= 2)
    arrs.select(col("nation"),
        size(col("xs")).cast("long").as("n_months"),
        expr("""sort_array(flatten(transform(xs, (x, i) ->
                  transform(slice(xs, i + 1, size(xs)), y -> x + y))))""")
          .as("ws"))
      .select(col("nation"), col("n_months"),
        size(col("ws")).cast("long").as("n_pairs"),
        (element_at(col("ws"),
          ((size(col("ws")) + 1) / lit(2)).cast("int")).cast("double")
          / 2.0d).as("hl_cents"))
      .orderBy(col("nation"))
  }

  val hodgesLehmannSql: String =
    """WITH monthly AS (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE year(o_orderdate) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT a.nation, a.rev + b.rev AS s
      |  FROM monthly a JOIN monthly b
      |    ON a.nation = b.nation AND b.m >= a.m),
      |nm AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months
      |       FROM monthly GROUP BY 1),
      |r AS (SELECT nation, s,
      |        ROW_NUMBER() OVER (PARTITION BY nation ORDER BY s) AS rn,
      |        COUNT(*) OVER (PARTITION BY nation) AS np
      |      FROM w)
      |SELECT r.nation, n_months, CAST(np AS BIGINT) AS n_pairs,
      |  CAST(s AS DOUBLE) / 2.0 AS hl_cents
      |FROM r JOIN nm ON r.nation = nm.nation
      |WHERE rn = (np + 1) // 2 AND n_months >= 2
      |ORDER BY r.nation""".stripMargin

  /** The fixed language axis of [[kruskalWallis]] — literal so the
    * 5-term H dag has a pinned order. */
  private val KwLangs = Seq("de", "en", "es", "fr", "zh")

  /** Q237: KRUSKAL–WALLIS TEST — does document length differ across
    * the five languages? The RANK-BASED twin of q223's ANOVA (k-group
    * generalization of q211's Mann-Whitney): immune to the heavy
    * tails and outliers that inflate ANOVA's SSW, at the cost of
    * testing stochastic dominance rather than means. Tie-corrected:
    * H / (1 − Σ(t³−t)/(N³−N)) over the tie-group sizes t.
    *
    * Exactness: ranks come from the n_chars VALUE HISTOGRAM with
    * q211's doubled-rank trick — the average rank of a tied run is
    * the possibly-.5 value (cb + (ct+1)/2), so DOUBLED ranks
    * R2 = 2·cb + ct + 1 stay exact BIGINTs; per-language doubled rank
    * sums and the tie term Σ(ct³−ct) accumulate in DECIMAL(38,0);
    * H is one fixed IEEE dag on their exact double images, the five
    * Σ R²/n terms written in pinned language order (the q223
    * discipline; with doubled sums, 12/(N(N+1))·ΣR²/n becomes
    * 3/(N(N+1))·ΣS2²/n).
    *
    * Scale shape: ONE map-side-combined aggregation to the bounded
    * n_chars value histogram (conditional per-language counts in-row
    * — no (lang, value) key explosion), the exclusive-cumsum window
    * on that bounded frame (the q211/q212 single-task boundedness
    * argument), one aggregation to a single row, scalar dag. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = KwLangs.map(l =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).cast("long").as(s"c_$l"))
    val hist = Tables.documents(spark, dir)
      .filter(col("lang").isin(KwLangs: _*)) // N must equal Σn_g
      .select(col("lang"), col("n_chars").as("v"))
      .groupBy(col("v"))
      .agg(counts.head, counts.tail :+
        count(lit(1)).cast("long").as("ct"): _*)
    val byV = Window.partitionBy().orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("cb", coalesce(sum(col("ct")).over(byV), lit(0L)))
      .withColumn("r2", lit(2L) * col("cb") + col("ct") + 1L)
    val aggs = KwLangs.flatMap { l =>
      Seq(sum(col(s"c_$l")).cast("long").as(s"n_$l"),
        sum((col(s"c_$l") * col("r2")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as(s"s2_$l"))
    } ++ Seq(
      sum(col("ct")).cast("long").as("n"),
      sum((col("ct") * col("ct") * col("ct") - col("ct"))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("ties"))
    val one = ranked.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    def term(l: String) = when(col(s"n_$l") > 0,
      col(s"s2_$l").cast("double") * col(s"s2_$l").cast("double")
        / col(s"n_$l").cast("double")).otherwise(lit(0.0d))
    val tsum = KwLangs.map(term).reduce(_ + _)
    val hUnc = lit(3.0d) * tsum / (nD * (nD + lit(1.0d))) -
      lit(3.0d) * (nD + lit(1.0d))
    val corr = lit(1.0d) -
      col("ties").cast("double") / (nD * nD * nD - nD)
    one.select(col("n").as("n_total"),
        lit(KwLangs.size.toLong).as("k_groups"),
        col("ties").cast("double").as("tie_term"),
        hUnc.as("h_uncorrected"),
        when(corr > 0, hUnc / corr).as("h_stat"))
  }

  /** Oracle: the identical pivoted histogram and the identical
    * pinned-order dag. */
  val kruskalWallisSql: String = {
    val cs = KwLangs.map(l =>
      s"    CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS c_$l")
      .mkString(",\n")
    val ss = KwLangs.flatMap(l => Seq(
      s"    CAST(SUM(c_$l) AS BIGINT) AS n_$l",
      s"    CAST(SUM(CAST(c_$l AS HUGEINT) * r2) AS HUGEINT) AS s2_$l"))
      .mkString(",\n")
    val terms = KwLangs.map(l =>
      s"CASE WHEN n_$l > 0 THEN CAST(s2_$l AS DOUBLE) * CAST(s2_$l AS DOUBLE) / CAST(n_$l AS DOUBLE) ELSE 0.0 END")
      .mkString("\n      + ")
    s"""WITH hist AS (
       |  SELECT n_chars AS v,
       |$cs,
       |    CAST(COUNT(*) AS BIGINT) AS ct
       |  FROM documents
       |  WHERE lang IN (${KwLangs.map(l => s"'$l'").mkString(", ")})
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT *,
       |    2 * COALESCE(SUM(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS r2
       |  FROM hist),
       |one AS (
       |  SELECT
       |$ss,
       |    CAST(SUM(ct) AS BIGINT) AS n,
       |    CAST(SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) AS ties
       |  FROM ranked),
       |e AS (
       |  SELECT *, CAST(n AS DOUBLE) AS nd,
       |    $terms AS tsum
       |  FROM one),
       |f AS (
       |  SELECT *,
       |    3.0 * tsum / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0) AS h_unc,
       |    1.0 - CAST(ties AS DOUBLE) / (nd * nd * nd - nd) AS corr
       |  FROM e)
       |SELECT n AS n_total, CAST(${KwLangs.size} AS BIGINT) AS k_groups,
       |  CAST(ties AS DOUBLE) AS tie_term, h_unc AS h_uncorrected,
       |  CASE WHEN corr > 0 THEN h_unc / corr END AS h_stat
       |FROM f""".stripMargin
  }

  /** Q240: WASSERSTEIN-1 DRIFT — per source, the earth-mover distance
    * between the source's document-length distribution and the rest
    * of the corpus (q211's src-vs-rest convention): W₁ = ∫|F₁ − F₂|
    * over the merged support. The drift metric the family lacked a
    * TRANSPORT view of: q212's KS is the sup norm (one worst point),
    * q126/q133's L1 ignores the ORDER of the domain — W₁ weights a
    * mismatch by how far the mass must move, which is what matters
    * when the domain is a real quantity (chars, latency, price).
    *
    * Exactness: on a step CDF the integral is the exact finite sum
    * Σ_v |n₂·C₁(v) − n₁·C₂(v)|·Δv / (n₁·n₂) — cumulative counts and
    * gaps are exact BIGINTs, the numerator accumulates in
    * DECIMAL(38,0), ONE micro-unit division publishes.
    *
    * Scale shape: n_chars is a BOUNDED domain (a few hundred distinct
    * values at any SF — the q212 histogram argument holds here,
    * unlike prices), so everything lives on bounded frames: the
    * (source × value) grid is |sources|·|values| ≈ 10⁴ rows built by
    * crossing two bounded dims (the allowlisted bounded×bounded
    * cross), per-source cumulative windows run over ≤|values| rows,
    * and the only row-scale work is the two initial rollups. */
  def wassersteinDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"))
    val sv = docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).cast("long").as("c"))
    val wV = Window.partitionBy().orderBy(col("v"))
    val vcum = docs.groupBy(col("v")).agg(count(lit(1)).cast("long").as("ca"))
      .withColumn("cumall", sum(col("ca")).over(
        wV.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dv", lead(col("v"), 1).over(wV) - col("v"))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n1"))
      .withColumn("ntot", sum(col("n1")).over(Window.partitionBy()))
    val crossed = vcum.crossJoin(broadcast(stats))
      .join(sv, Seq("source", "v"), "left")
      .na.fill(0L, Seq("c"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    crossed
      .withColumn("cums", sum(col("c")).over(wSrc))
      .filter(col("dv").isNotNull)
      .withColumn("tnum",
        (abs((col("ntot") - col("n1")) * col("cums")
          - col("n1") * (col("cumall") - col("cums"))) * col("dv"))
          .cast("decimal(38,0)"))
      .groupBy(col("source"))
      .agg(max(col("n1")).cast("long").as("n_src"),
        max(col("ntot") - col("n1")).cast("long").as("n_rest"),
        sum(col("tnum")).cast("decimal(38,0)").as("wnum"))
      .select(col("source"), col("n_src"), col("n_rest"),
        (expr("""(2 * wnum * 1000000 + CAST(n_src AS DECIMAL(38,0)) * n_rest)
               div (2 * CAST(n_src AS DECIMAL(38,0)) * n_rest)""")
          .cast("double") / 1000000).as("w1_chars"))
      .orderBy(col("source"))
  }

  val wassersteinDriftSql: String =
    """WITH docs AS (SELECT source, n_chars AS v FROM documents),
      |sv AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM docs GROUP BY 1, 2),
      |vcum AS (SELECT v,
      |    CAST(SUM(COUNT(*)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cumall,
      |    LEAD(v) OVER (ORDER BY v) - v AS dv
      |  FROM docs GROUP BY v),
      |stats AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
      |    CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS ntot
      |  FROM docs GROUP BY 1),
      |crossed AS (SELECT s.source, s.n1, s.ntot, vc.v, vc.cumall, vc.dv,
      |    COALESCE(sv.c, 0) AS c
      |  FROM vcum vc CROSS JOIN stats s
      |  LEFT JOIN sv ON sv.source = s.source AND sv.v = vc.v),
      |cum AS (SELECT *,
      |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cums
      |  FROM crossed),
      |terms AS (SELECT source, n1, ntot,
      |    CAST(ABS((ntot - n1) * cums - n1 * (cumall - cums))
      |      * dv AS HUGEINT) AS tnum
      |  FROM cum WHERE dv IS NOT NULL)
      |SELECT source, CAST(MAX(n1) AS BIGINT) AS n_src,
      |  CAST(MAX(ntot - n1) AS BIGINT) AS n_rest,
      |  CAST((2 * SUM(tnum) * 1000000
      |      + CAST(MAX(n1) AS HUGEINT) * MAX(ntot - n1))
      |    // (2 * CAST(MAX(n1) AS HUGEINT) * MAX(ntot - n1)) AS DOUBLE)
      |    / 1000000 AS w1_chars
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** Q241: QUANTILE NORMALIZATION — the feature-prep transform that
    * maps each source's length distribution onto the POOLED corpus
    * distribution: a source value v maps to the smallest pooled value
    * v' whose pooled CDF reaches the source's CDF at v (the classic
    * microarray/feature-scaling recipe, the exact-quantile cousin of
    * q178's min-max scaling — rank-preserving within source, and
    * after mapping every source draws from the same marginal). The
    * curation use: comparing per-source quality scores whose scales
    * drift (q116's calibration problem) by forcing a common marginal
    * first.
    *
    * Exactness: the mapping predicate is the cross-multiplied integer
    * test n₁·cumAll(v') ≥ N·cumS(v) — no quantile floats anywhere;
    * the pick is a first-match order statistic over the pooled
    * support (always defined: at max v', cumAll = N and the test
    * reduces to n₁·N ≥ N·cumS, true since cumS ≤ n₁).
    *
    * Scale shape: the pooled CDF lives in ONE collected ≤|values|
    * array (n_chars is the genuinely bounded domain — see q240) that
    * broadcasts to every (source, value) row; the lookup is an
    * in-expression first-match filter over that array, O(|values|)
    * per distinct (source, value) pair — never a range join. One
    * rollup exchange, one per-source window, one 1-row broadcast. */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"))
    val wV = Window.partitionBy().orderBy(col("v"))
    val pooled = docs.groupBy(col("v")).agg(count(lit(1)).cast("long").as("ca"))
      .withColumn("cumall", sum(col("ca")).over(
        wV.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("v"), col("cumall"))))
        .as("arr"))
      .withColumn("j", lit(1))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n1"))
      .withColumn("ntot", sum(col("n1")).over(Window.partitionBy()))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).cast("long").as("n_at_v"))
      .withColumn("cums", sum(col("n_at_v")).over(wSrc))
      .join(broadcast(stats), Seq("source"))
      .withColumn("j", lit(1))
      .join(broadcast(pooled), Seq("j"))
      // round-13: the first-match was an interpreted HOF `filter` with a
      // DECIMAL(38,0) multiply per pooled-CDF element per row (guide §4
      // — q241 read 3.9 s). The predicate is monotone along the array
      // (cumall strictly ascending), so the compiled binary search
      // [[graft.functions.CdfFirstAtLeast]] returns the identical first
      // match in O(log |arr|) with the product compare exact in 128
      // bits — equivalence pinned in QualitySpec against the HOF form.
      .withColumn("mapped", org.apache.spark.sql.GraftSqlShim.column(
        graft.functions.CdfFirstAtLeast(
          org.apache.spark.sql.GraftSqlShim.expression(col("arr")),
          org.apache.spark.sql.GraftSqlShim.expression(col("n1")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ntot")),
          org.apache.spark.sql.GraftSqlShim.expression(col("cums")))))
      .select(col("source"), col("v"), col("n_at_v"),
        col("cums").cast("long").as("src_cum"),
        col("mapped").cast("long").as("mapped_v"))
      .orderBy(col("source"), col("v"))
  }

  val quantileNormalizeSql: String =
    """WITH docs AS (SELECT source, n_chars AS v FROM documents),
      |pooled AS (SELECT v,
      |    CAST(SUM(COUNT(*)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cumall
      |  FROM docs GROUP BY v),
      |stats AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
      |    CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS ntot
      |  FROM docs GROUP BY 1),
      |sv AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS n_at_v,
      |    CAST(SUM(COUNT(*)) OVER (PARTITION BY source ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cums
      |  FROM docs GROUP BY 1, 2)
      |SELECT sv.source, sv.v, sv.n_at_v, sv.cums AS src_cum,
      |  (SELECT MIN(p.v) FROM pooled p
      |   WHERE st.n1 * p.cumall >= st.ntot * sv.cums) AS mapped_v
      |FROM sv JOIN stats st ON sv.source = st.source
      |ORDER BY sv.source, sv.v""".stripMargin

  /** Q242: McNEMAR'S TEST — the PAIRED significance companion to
    * q157's Cohen's kappa, on the same two quality raters over the
    * same documents: kappa says how much the raters AGREE; McNemar
    * says whether they disagree SYMMETRICALLY — i.e. whether switching
    * rater would change the pass RATE, which only the discordant
    * cells (b = A-only, c = B-only) can answer. χ² = (b−c)²/(b+c)
    * with the Edwards continuity correction (|b−c|−1)²/(b+c), the
    * form every stats package reports. A two-independent-samples test
    * (q146) on the same data would be wrong — the ratings are paired
    * per document; the marginal cells a, d carry no information.
    *
    * Exactness: cells are exact counts; both statistics are one
    * micro-unit integer division each ((b−c)² and (|b−c|−1)² are
    * exact BIGINTs; NULL when b + c = 0 — no discordance, no test).
    *
    * Scale shape: q157's — ONE conditional aggregation to one row. */
  def mcnemarTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val rated = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select((stopwordCount(col("text")) >= 2).as("ra"),
        arrays_overlap(tokens(col("text")), array(lit("the"), lit("is")))
          .as("rb"))
    rated.agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).cast("long")
          .as("b"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).cast("long")
          .as("c"))
      .select(col("n_docs"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          expr("""(2 * (b - c) * (b - c) * 1000000 + (b + c))
                 div (2 * (b + c))""").cast("double") / 1000000)
          .as("chi2"),
        when(col("b") + col("c") > 0,
          expr("""(2 * (abs(b - c) - 1) * (abs(b - c) - 1) * 1000000
                   + (b + c)) div (2 * (b + c))""").cast("double") / 1000000)
          .as("chi2_corrected"))
  }

  val mcnemarTestSql: String =
    s"""WITH rated AS (
       |  SELECT
       |    len(list_filter(string_split(text, ' '),
       |      t -> t IN ($stopwordSqlList))) >= 2 AS ra,
       |    len(list_intersect(string_split(text, ' '),
       |      ['the', 'is'])) > 0 AS rb
       |  FROM documents WHERE text IS NOT NULL),
       |cells AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS b,
       |    CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c
       |  FROM rated)
       |SELECT n_docs, b, c,
       |  CASE WHEN b + c > 0 THEN
       |    CAST((2 * (b - c) * (b - c) * 1000000 + (b + c))
       |      // (2 * (b + c)) AS DOUBLE) / 1000000 END AS chi2,
       |  CASE WHEN b + c > 0 THEN
       |    CAST((2 * (ABS(b - c) - 1) * (ABS(b - c) - 1) * 1000000
       |        + (b + c)) // (2 * (b + c)) AS DOUBLE) / 1000000 END
       |    AS chi2_corrected
       |FROM cells""".stripMargin

  /** The q213/q219/q231 per-(nation, month) 1996-97 revenue rollup,
    * shared by the round-8 tail (q245/q247) — one definition so a
    * window/filter fix lands once (the TwoPass single-definition
    * rule). `rev` is exact cents; `cnt` the month's order count. */
  private def nationMonthly(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("long")).cast("long").as("rev"),
        count(lit(1)).cast("long").as("cnt"))

  /** The monthly CTE text mirrored by every oracle over
    * [[nationMonthly]] — one string so engine and oracle can't drift. */
  private val nationMonthlySqlCte: String =
    """monthly AS (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS rev,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE year(o_orderdate) IN (1996, 1997)
      |  GROUP BY 1, 2)""".stripMargin

  /** Q245: SPEARMAN RANK CORRELATION — per nation, the rank
    * correlation between monthly revenue and monthly order count over
    * the 1996-97 frame: is "more orders" what moves revenue, or do
    * big-ticket months break the coupling? The robust complement of
    * q234's Pearson (rank-invariant to outlier months) and the
    * x-vs-y generalization of q213's value-vs-time Kendall.
    *
    * Exactness: ranks use the q211/q237 DOUBLED-rank trick — tied
    * months get the average rank, so doubled ranks 2·(#smaller) +
    * (#ties incl. self) + 1 stay exact BIGINTs — and Spearman IS
    * Pearson on ranks (affine-invariant, so doubled ranks change
    * nothing). All five sufficient sums are exact integer HOF folds
    * (n ≤ 24, ranks ≤ 49 — tiny); the published rho is ONE fixed dag
    * (integer-exact doubles, one multiply, one √, one division).
    * Degenerate guard: an all-tied variable has zero rank variance —
    * rho is NULL on both engines, never 0/0.
    *
    * Scale shape: the q213 chain verbatim — row-scale monthly rollup,
    * nation-keyed collect of the calendar-bounded array, ranks and
    * sums in-expression, output sort. Three exchanges, no joins. */
  def spearmanMonthly(spark: SparkSession, dir: String): DataFrame = {
    val arrs = nationMonthly(spark, dir).groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev"), col("cnt"))))
        .as("xs"))
      .filter(size(col("xs")) >= 2)
    val ranked = arrs.select(col("nation"),
      size(col("xs")).cast("long").as("n_months"),
      expr("""transform(xs, x ->
                2 * CAST(size(filter(xs, y -> y.rev < x.rev)) AS BIGINT)
                + CAST(size(filter(xs, y -> y.rev = x.rev)) AS BIGINT) + 1)""")
        .as("rx"),
      expr("""transform(xs, x ->
                2 * CAST(size(filter(xs, y -> y.cnt < x.cnt)) AS BIGINT)
                + CAST(size(filter(xs, y -> y.cnt = x.cnt)) AS BIGINT) + 1)""")
        .as("ry"))
    val sums = ranked.select(col("nation"), col("n_months"),
      expr("aggregate(zip_with(rx, ry, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("sxy"),
      expr("aggregate(rx, CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("sx"),
      expr("aggregate(ry, CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("sy"),
      expr("aggregate(rx, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)").as("sxx"),
      expr("aggregate(ry, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)").as("syy"))
    val num = (col("n_months") * col("sxy") - col("sx") * col("sy")).cast("bigint")
    val vx = (col("n_months") * col("sxx") - col("sx") * col("sx")).cast("bigint")
    val vy = (col("n_months") * col("syy") - col("sy") * col("sy")).cast("bigint")
    sums.select(col("nation"), col("n_months"),
        num.as("cov_num"), vx.as("v_x"), vy.as("v_y"),
        when(vx > 0 && vy > 0,
          num.cast("double") / sqrt((vx * vy).cast("double"))).as("spearman_rho"))
      .orderBy(col("nation"))
  }

  val spearmanMonthlySql: String =
    s"""WITH $nationMonthlySqlCte,
       |r AS (SELECT nation,
       |    2 * (RANK() OVER (PARTITION BY nation ORDER BY rev) - 1)
       |      + COUNT(*) OVER (PARTITION BY nation, rev) + 1 AS rx,
       |    2 * (RANK() OVER (PARTITION BY nation ORDER BY cnt) - 1)
       |      + COUNT(*) OVER (PARTITION BY nation, cnt) + 1 AS ry
       |  FROM monthly),
       |s AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months,
       |    CAST(SUM(rx * ry) AS BIGINT) AS sxy,
       |    CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
       |    CAST(SUM(rx * rx) AS BIGINT) AS sxx, CAST(SUM(ry * ry) AS BIGINT) AS syy
       |  FROM r GROUP BY 1 HAVING COUNT(*) >= 2)
       |SELECT nation, n_months,
       |  CAST(n_months * sxy - sx * sy AS BIGINT) AS cov_num,
       |  CAST(n_months * sxx - sx * sx AS BIGINT) AS v_x,
       |  CAST(n_months * syy - sy * sy AS BIGINT) AS v_y,
       |  CASE WHEN n_months * sxx - sx * sx > 0 AND n_months * syy - sy * sy > 0
       |    THEN CAST(n_months * sxy - sx * sy AS DOUBLE)
       |      / SQRT(CAST((n_months * sxx - sx * sx)
       |          * (n_months * syy - sy * sy) AS DOUBLE))
       |  END AS spearman_rho
       |FROM s ORDER BY nation""".stripMargin

  /** Q247: PETTITT CHANGEPOINT TEST — per nation, the rank-based
    * single-changepoint locator over the 1996-97 monthly revenue
    * series: U_t = Σ_{i≤t,j>t} sign(x_j − x_i) for every split t,
    * K = max|U_t| and the first argmax split. The LOCATOR the
    * change-detection family lacked: q214's CUSUM flags "a shift
    * happened" against a reference mean, q213's Mann-Kendall says
    * "there is a monotone trend" — Pettitt answers WHERE the level
    * shifted, with no distributional assumption (it is Mann-Whitney
    * at every split).
    *
    * Exactness: every U_t is an exact integer pair sum; K, the
    * argmax (first-t tie rule, pinned on both engines) and the split
    * month are integer selections — no floats anywhere.
    *
    * Scale shape: the q213 chain — the O(n³) split×pair sweep (≤ 24³
    * ≈ 14k int ops per nation) runs IN-EXPRESSION over the
    * calendar-bounded array; nothing quadratic ever materializes as
    * rows. Three exchanges, no joins. */
  def pettittTest(spark: SparkSession, dir: String): DataFrame = {
    val arrs = nationMonthly(spark, dir).groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev")))).as("xs"))
      .filter(size(col("xs")) >= 2)
    val u = arrs.select(col("nation"),
      size(col("xs")).cast("long").as("n_months"), col("xs"),
      expr("""transform(sequence(1, size(xs) - 1), t ->
                aggregate(slice(xs, 1, t), CAST(0 AS BIGINT), (acc, a) ->
                  acc + aggregate(slice(xs, t + 1, size(xs) - t),
                    CAST(0 AS BIGINT), (acc2, b) ->
                      acc2 + (CASE WHEN b.rev > a.rev THEN 1
                                   WHEN b.rev < a.rev THEN -1
                                   ELSE 0 END))))""").as("us"))
    u.select(col("nation"), col("n_months"),
        expr("array_max(transform(us, v -> abs(v)))").as("k_stat"),
        expr("CAST(array_position(transform(us, v -> abs(v)), array_max(transform(us, v -> abs(v)))) AS BIGINT)").as("t_star"),
        expr("element_at(us, CAST(array_position(transform(us, v -> abs(v)), array_max(transform(us, v -> abs(v)))) AS INT))").as("u_star"),
        expr("element_at(xs, CAST(array_position(transform(us, v -> abs(v)), array_max(transform(us, v -> abs(v)))) AS INT)).m").as("split_m"))
      .orderBy(col("nation"))
  }

  val pettittTestSql: String =
    s"""WITH $nationMonthlySqlCte,
       |rn AS (SELECT nation, m, rev,
       |    ROW_NUMBER() OVER (PARTITION BY nation ORDER BY m) AS rn,
       |    COUNT(*) OVER (PARTITION BY nation) AS n
       |  FROM monthly),
       |splits AS (SELECT nation, n, unnest(generate_series(1, CAST(n - 1 AS INT))) AS t
       |  FROM (SELECT DISTINCT nation, n FROM rn) WHERE n >= 2),
       |u AS (SELECT s.nation, s.n, s.t,
       |    CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
       |                  WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS u
       |  FROM splits s
       |  JOIN rn a ON a.nation = s.nation AND a.rn <= s.t
       |  JOIN rn b ON b.nation = s.nation AND b.rn > s.t
       |  GROUP BY 1, 2, 3),
       |k AS (SELECT nation, n, t, u,
       |    MAX(ABS(u)) OVER (PARTITION BY nation) AS k_stat,
       |    ROW_NUMBER() OVER (PARTITION BY nation ORDER BY ABS(u) DESC, t) AS pick
       |  FROM u)
       |SELECT k.nation, CAST(k.n AS BIGINT) AS n_months, k.k_stat,
       |  CAST(k.t AS BIGINT) AS t_star, k.u AS u_star, rn.m AS split_m
       |FROM k JOIN rn ON rn.nation = k.nation AND rn.rn = k.t
       |WHERE k.pick = 1
       |ORDER BY k.nation""".stripMargin

  /** Q246: BROWN–FORSYTHE TEST (median-centered Levene) — does order
    * value VARIANCE differ across the five priorities? The
    * homoscedasticity gate q223's ANOVA assumes but never checks:
    * ANOVA's F compares means under equal group variances; this runs
    * the SAME F dag on z = |y − median_g|, whose group means ARE the
    * groups' dispersions. Median-centered (Brown–Forsythe) rather
    * than mean-centered (classic Levene) for robustness — and because
    * the engine can produce EXACT group medians.
    *
    * Exactness: medians are exact cent values fetched by the shared
    * [[TwoPass.groupRankLookup]] kernel at the lower-median rank
    * (n+1)÷2 (same total order both engines, so the fetched value is
    * identical); z is an exact BIGINT; the published row then follows
    * q223's correctly-rounded-dag discipline verbatim — integer
    * pivot row, ΣZ² in DECIMAL(38)/HUGEINT, one explicit
    * left-associated 5-term SSB, fixed-dag doubles. The five medians
    * are emitted so the oracle verifies the rank lookup itself, not
    * just the F.
    *
    * Scale shape: groupRankLookup is the q224/q141 two-pass shape
    * (sampled balance-only buckets, ONE bounded histogram to the
    * driver, one pruned in-bucket fetch — never a per-group global
    * sort); the F then costs ONE conditional-aggregation scan to a
    * single row, exactly q223. */
  def brownForsythe(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("long")
    // round-12: one orders scan — the (k, c) proxy is checkpointed for
    // the kernel passes and reused (renamed) by the pivot aggregation
    val rows = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("k"), cents.as("c"))
      .localCheckpoint()
    // all five priorities exist at every TPC-H SF (q223's precondition
    // too); getOrElse keeps an absent group a NaN-F, never a crash
    val meds: Map[String, Long] =
      TwoPass.groupRankLookup(spark, rows, n => Seq((n + 1) / 2))
        .map { case (k, gr) => k -> gr.at((gr.n + 1) / 2) }
    val medCol = Priorities.foldLeft(lit(null).cast("long")) { (acc, p) =>
      when(col("g") === p, lit(meds.getOrElse(p, 0L))).otherwise(acc)
    }
    val aggs = Priorities.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        sum(when(col("g") === p, 1L).otherwise(0L)).cast("long")
          .as(s"n${i + 1}"),
        sum(when(col("g") === p, col("z")).otherwise(0L)).cast("long")
          .as(s"s${i + 1}"))
    } :+ sum(col("z").cast("decimal(38,0)") * col("z"))
      .cast("decimal(38,0)").as("ssq")
    val pivoted = rows
      .select(col("k").as("g"), col("c").as("y"))
      .withColumn("z", abs(col("y") - medCol))
      .groupBy()
      .agg(aggs.head, aggs.tail: _*)
    val nT = (1 to 5).map(i => col(s"n$i")).reduce(_ + _)
    val sT = (1 to 5).map(i => col(s"s$i")).reduce(_ + _)
    val nD = col("n_total").cast("double")
    val grand = col("s_total").cast("double") / nD
    def term(i: Int): Column = {
      val d = col(s"s$i").cast("double") / col(s"n$i").cast("double") - grand
      col(s"n$i").cast("double") * (d * d)
    }
    val ssb = (1 to 5).map(term).reduce(_ + _)
    val sst = col("ssq").cast("double") -
      col("s_total").cast("double") * col("s_total").cast("double") / nD
    // an absent group's median witness publishes NULL (matching the
    // oracle's MAX(CASE ...) over zero rows — the family's "degenerate
    // pins to NULL on both engines" discipline), never a fake 0;
    // latent at TPC-H SFs, where all five priorities always exist
    val medCols = Priorities.zipWithIndex.map { case (p, i) =>
      meds.get(p).map(lit(_)).getOrElse(lit(null).cast("long"))
        .as(s"med${i + 1}")
    }
    pivoted
      .withColumn("n_total", nT)
      .withColumn("s_total", sT)
      .withColumn("ssb", ssb)
      .withColumn("sst", sst)
      .select(Seq(lit(5L).as("k_groups"), col("n_total")) ++ medCols ++ Seq(
        grand.as("grand_mean_absdev"),
        col("ssb"), (col("sst") - col("ssb")).as("ssw"),
        ((col("ssb") / lit(4.0d))
          / ((col("sst") - col("ssb")) / (nD - lit(5.0d)))).as("f_stat")): _*)
  }

  /** Oracle: exact lower medians via ROW_NUMBER (DuckDB runs at oracle
    * scale, where per-group sorts are fine), then q223's identical
    * pivot + left-associated dag on z. */
  val brownForsytheSql: String = {
    val conds = Priorities.zipWithIndex.map { case (p, i) =>
      s"""    CAST(SUM(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n${i + 1},
         |    CAST(SUM(CASE WHEN g = '$p' THEN z ELSE 0 END) AS BIGINT) AS s${i + 1}""".stripMargin
    }.mkString(",\n")
    val medSel = Priorities.zipWithIndex.map { case (p, i) =>
      s"  CAST(MAX(CASE WHEN g = '$p' THEN med END) AS BIGINT) AS med${i + 1}"
    }.mkString(",\n")
    val terms = (1 to 5).map(i =>
      s"CAST(n$i AS DOUBLE) * ((CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) - grand) * (CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) - grand))")
      .mkString("\n    + ")
    s"""WITH y AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |  FROM orders),
       |med AS (
       |  SELECT g, c AS med FROM (
       |    SELECT g, c, ROW_NUMBER() OVER (PARTITION BY g ORDER BY c) AS rn,
       |      COUNT(*) OVER (PARTITION BY g) AS n
       |    FROM y)
       |  WHERE rn = (n + 1) // 2),
       |medw AS (SELECT
       |$medSel
       |FROM med),
       |z AS (SELECT y.g, ABS(y.c - med.med) AS z FROM y JOIN med ON y.g = med.g),
       |piv AS (
       |  SELECT
       |$conds,
       |    CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS ssq
       |  FROM z),
       |t AS (
       |  SELECT n1 + n2 + n3 + n4 + n5 AS n_total,
       |    s1 + s2 + s3 + s4 + s5 AS s_total, * FROM piv),
       |g AS (
       |  SELECT *, CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS grand
       |  FROM t),
       |f AS (
       |  SELECT *,
       |    $terms AS ssb,
       |    CAST(ssq AS DOUBLE)
       |      - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
       |        / CAST(n_total AS DOUBLE) AS sst
       |  FROM g)
       |SELECT CAST(5 AS BIGINT) AS k_groups, CAST(n_total AS BIGINT) AS n_total,
       |  med1, med2, med3, med4, med5,
       |  grand AS grand_mean_absdev, ssb, sst - ssb AS ssw,
       |  (ssb / 4.0) / ((sst - ssb) / (CAST(n_total AS DOUBLE) - 5.0)) AS f_stat
       |FROM f, medw""".stripMargin
  }

  /** Q248: ISOTONIC CALIBRATION (PAV) — the monotone recalibration of
    * q156's reliability table: fit the best non-decreasing rate curve
    * over the score bins (weighted L2 isotonic regression), the
    * standard post-hoc calibrator (Zadrozny–Elkan) sitting between
    * binning (q156) and the Platt-style parametric fit the engine
    * avoids (it needs a sigmoid solver). Emitted per bin: raw rate
    * and isotonic rate — where they differ, the scorer's ranking is
    * locally inverted (exactly the q156 miscalibration made usable as
    * a correction table).
    *
    * Algorithm: the max-min CLOSED FORM of pool-adjacent-violators —
    * iso_i = max_{j≤i} min_{k≥i} rate(j..k), with rate(j,k) the
    * pooled (Σe)/(Σn) over bins j..k — not the sequential pooling
    * loop (same fitted values by the PAV duality theorem, but every
    * cell is independently computable, which is what an engine wants).
    *
    * Exactness: "MICRO-UNIT PAV" convention, pinned on both engines —
    * each pooled rate enters the max-min as its exact half-up
    * micro-unit integer (2·Σe·10⁶ + Σn)÷(2·Σn), so every comparison
    * and the published value are integer operations; deviation from
    * real-valued PAV is < 1e-6 per pooled rate and the monotonicity
    * of the output holds for ANY fixed rate matrix (max over a
    * growing j-range of min over a shrinking k-range).
    *
    * Scale shape: q156's one row-scale map-side-combined count into
    * the ≤10-bin frame; the O(B³)≈1k-op max-min sweep runs
    * IN-EXPRESSION over the collected bin array (the q241 1-row
    * pattern); output explodes ≤10 rows. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val scored = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select((col("lang") === "en").as("pos"),
        (stopwordCount(col("text")) * 1000).as("sw1000"),
        tokenCount(col("text")).as("tc"))
      .withColumn("score", expr("sw1000 div tc"))
      .withColumn("bin", least(expr("score div 100"), lit(9L)))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).cast("bigint").as("e"))
    val arr = bins.agg(
      sort_array(collect_list(struct(col("bin"), col("n"), col("e")))).as("xs"))
    arr.select(explode(expr(
        """transform(xs, (x, i0) -> named_struct(
          |  'bin', x.bin, 'n', x.n, 'e', x.e,
          |  'iso6', array_max(transform(sequence(1, i0 + 1), j ->
          |    array_min(transform(sequence(i0 + 1, size(xs)), k ->
          |      (2 * aggregate(slice(xs, j, k - j + 1), CAST(0 AS BIGINT),
          |             (a, s) -> a + s.e) * 1000000
          |       + aggregate(slice(xs, j, k - j + 1), CAST(0 AS BIGINT),
          |             (a, s) -> a + s.n))
          |      div (2 * aggregate(slice(xs, j, k - j + 1), CAST(0 AS BIGINT),
          |             (a, s) -> a + s.n))))))))""".stripMargin)).as("r"))
      .select(col("r.bin").cast("int").as("score_bin"),
        col("r.n").as("n_docs"), col("r.e").as("n_en"),
        (expr("(2 * r.e * 1000000 + r.n) div (2 * r.n)").cast("double") / 1000000)
          .as("raw_rate"),
        (col("r.iso6").cast("double") / 1000000).as("iso_rate"))
      .orderBy(col("score_bin"))
  }

  val isotonicCalibrationSql: String =
    s"""WITH scored AS (
       |  SELECT lang = 'en' AS pos,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopwordSqlList)))
       |      * 1000 // len(string_split(text, ' ')) AS score
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT LEAST(score // 100, 9) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS e
       |  FROM scored GROUP BY 1),
       |arr AS (SELECT list(struct_pack(bin := bin, n := n, e := e) ORDER BY bin) AS xs
       |  FROM g),
       |it AS (SELECT unnest(generate_series(1, len(xs))) AS i, xs FROM arr),
       |vals AS (SELECT xs[i].bin AS score_bin, xs[i].n AS n_docs, xs[i].e AS n_en,
       |    list_max(list_transform(generate_series(1, i), j ->
       |      list_min(list_transform(generate_series(i, len(xs)), k ->
       |        (2 * list_sum(list_transform(xs[j:k], s -> s.e)) * 1000000
       |         + list_sum(list_transform(xs[j:k], s -> s.n)))
       |        // (2 * list_sum(list_transform(xs[j:k], s -> s.n))))))) AS iso6
       |  FROM it)
       |SELECT CAST(score_bin AS INT) AS score_bin, n_docs, n_en,
       |  CAST((2 * n_en * 1000000 + n_docs) // (2 * n_docs) AS DOUBLE) / 1000000
       |    AS raw_rate,
       |  CAST(iso6 AS DOUBLE) / 1000000 AS iso_rate
       |FROM vals ORDER BY score_bin""".stripMargin

  /** Q253: DURBIN–WATSON TEST — per nation, the autocorrelation-of-
    * RESIDUALS diagnostic on the monthly-revenue OLS trend:
    * DW = Σ(e_t − e_{t−1})² / Σe_t². The regression-diagnostics gate
    * the family lacked — q135/q238 FIT trend lines and q218 measures
    * ACF of the raw series; DW asks whether the RESIDUALS of the fit
    * are still serially dependent (DW ≈ 2 ⇒ independent; → 0 ⇒
    * positive autocorrelation, the classic "trend line through a
    * cycle" failure that invalidates q238's exchangeability
    * assumption).
    *
    * Exactness: with x_t = 1..n, the OLS closed form has integer
    * den = n·Σx² − (Σx)², b_num = n·Σxy − Σx·Σy, a_num = Σy·Σx² −
    * Σx·Σxy, so each SCALED residual r_t = den·y_t − (a_num +
    * b_num·t) is an exact BIGINT, and DW = Σ(Δr)²/Σr² EXACTLY (den²
    * cancels). Squares accumulate in DECIMAL(38) and publish as exact
    * STRING witnesses; dw itself publishes as the DOUBLE ratio of the
    * two exact witnesses (the q256 var_num→z discipline: one
    * correctly-rounded cast per witness, one IEEE division — both
    * engines bit-identical). The earlier micro-unit integer division
    * computed 2·ssd·10⁶ + ssr INSIDE DECIMAL(38), which exhausts the
    * 38-digit headroom around SF≈10–100 (round-8 advisor finding);
    * the witness-ratio form defers the limit to the Σr² accumulation
    * itself (~1e38, SF≈3e4 — recorded in SCALE.md). A perfect fit
    * (Σr² = 0) yields NULL on both engines.
    *
    * Scale shape: the q213 chain — rollup, bounded collect, integer
    * HOFs, sort. Three exchanges, no joins. */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val arrs = nationMonthly(spark, dir).groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev")))).as("xs"))
      .filter(size(col("xs")) >= 3)
    val sums = arrs.select(col("nation"),
      size(col("xs")).cast("long").as("n"),
      expr("aggregate(xs, CAST(0 AS BIGINT), (acc, v) -> acc + v.rev)").as("sy"),
      expr("""aggregate(zip_with(xs, sequence(1, size(xs)), (v, t) -> v.rev * t),
                CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("sxy"),
      col("xs"))
    val withOls = sums
      .withColumn("sx", (col("n") * (col("n") + 1) / 2).cast("long"))
      .withColumn("sxx", (col("n") * (col("n") + 1) * (col("n") * 2 + 1) / 6).cast("long"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("b_num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("a_num", col("sy") * col("sxx") - col("sx") * col("sxy"))
      .withColumn("rs", expr(
        """zip_with(xs, sequence(1, size(xs)),
          |  (v, t) -> den * v.rev - (a_num + b_num * t))""".stripMargin))
    // witnesses publish as STRING: exact digits at any magnitude
    // (~1e28 here — beyond 2^53) without a DECIMAL output column,
    // which the driver's hash compare cannot digest (ContractSpec /
    // round-1 lesson)
    withOls.select(col("nation"), col("n").as("n_months"),
        expr("""aggregate(rs, CAST(0 AS DECIMAL(38,0)),
                  (acc, r) -> acc + CAST(r AS DECIMAL(38,0)) * r,
                  acc -> acc)""").as("ssr0"),
        expr("""aggregate(zip_with(slice(rs, 2, size(rs) - 1), slice(rs, 1, size(rs) - 1),
                    (b, a) -> b - a),
                  CAST(0 AS DECIMAL(38,0)),
                  (acc, d) -> acc + CAST(d AS DECIMAL(38,0)) * d,
                  acc -> acc)""").as("ssd0"))
      .withColumn("dw", when(col("ssr0") > 0,
        col("ssd0").cast("double") / col("ssr0").cast("double")))
      .select(col("nation"), col("n_months"),
        col("ssr0").cast("string").as("ssr_scaled"),
        col("ssd0").cast("string").as("ssd_scaled"), col("dw"))
      .orderBy(col("nation"))
  }

  val durbinWatsonSql: String =
    s"""WITH $nationMonthlySqlCte,
       |tx AS (SELECT nation, rev,
       |    ROW_NUMBER() OVER (PARTITION BY nation ORDER BY m) AS t
       |  FROM monthly),
       |s AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(rev) AS BIGINT) AS sy, CAST(SUM(rev * t) AS BIGINT) AS sxy
       |  FROM tx GROUP BY 1 HAVING COUNT(*) >= 3),
       |ols AS (SELECT nation, n, sy, sxy,
       |    n * (n + 1) // 2 AS sx,
       |    n * (n + 1) * (2 * n + 1) // 6 AS sxx
       |  FROM s),
       |ols2 AS (SELECT nation, n,
       |    n * sxx - sx * sx AS den,
       |    n * sxy - sx * sy AS b_num,
       |    sy * sxx - sx * sxy AS a_num
       |  FROM ols),
       |res AS (SELECT t.nation, o.n, t.t,
       |    o.den * t.rev - (o.a_num + o.b_num * t.t) AS r
       |  FROM tx t JOIN ols2 o ON t.nation = o.nation),
       |agg AS (SELECT nation, MAX(n) AS n_months,
       |    CAST(SUM(CAST(r AS HUGEINT) * r) AS HUGEINT) AS ssr,
       |    CAST(SUM(CASE WHEN t > 1
       |      THEN CAST(r - lag_r AS HUGEINT) * (r - lag_r) ELSE 0 END) AS HUGEINT) AS ssd
       |  FROM (SELECT *, LAG(r) OVER (PARTITION BY nation ORDER BY t) AS lag_r FROM res)
       |  GROUP BY 1)
       |SELECT nation, n_months,
       |  CAST(ssr AS VARCHAR) AS ssr_scaled,
       |  CAST(ssd AS VARCHAR) AS ssd_scaled,
       |  CASE WHEN ssr > 0 THEN
       |    -- squared-residual witnesses pass 2^53: VARCHAR-route
       |    -- (q286 finding)
       |    CAST(CAST(ssd AS VARCHAR) AS DOUBLE)
       |      / CAST(CAST(ssr AS VARCHAR) AS DOUBLE)
       |  END AS dw
       |FROM agg ORDER BY nation""".stripMargin

  /** Q256: COCHRAN–ARMITAGE TREND TEST — is lateness MONOTONE in
    * order priority? The ordered-groups proportion test the battery
    * lacked: q146's chi-square treats groups as unordered (it would
    * spend power on any deviation pattern); CA weights the five
    * priorities with ordinal scores 1..5 and tests specifically for a
    * linear trend in the late-delivery rate — the one-degree-of-
    * freedom test an ops review actually asks for. An order is late
    * iff any line item shipped more than 90 days after the order date
    * (the generated lineitem carries l_shipdate only — no
    * commit/receipt dates — so the SLA is ship-latency-based).
    *
    * Exactness: with p̄ = E/N, T·N = Σ wᵢ(eᵢN − nᵢE) is an exact
    * BIGINT and Var·N³ = E(N−E)·(N·Σw²n − (Σwn)²) an exact
    * DECIMAL(38); z = (T·N)·√N / √(Var·N³) is a fixed dag on those
    * two witnesses (both published). Degenerate E ∈ {0, N} or a
    * single-priority corpus → NULL z on both engines.
    *
    * Scale shape: one per-order lateness rollup (map-side combined on
    * l_orderkey), one orderkey join to priorities (SMJ at scale —
    * inherent fact-fact shape, the q2 rationale), one conditional
    * pivot to a single row. */
  /** Per-order lateness flag (any line shipped > 90 days after the
    * order date), keyed by priority — shared by q256 (Cochran-Armitage
    * trend) and q279 (adjusted residuals); one definition per the
    * TwoPass single-definition rule. */
  private def orderLateness(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority").as("g"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("g"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        1L).otherwise(0L)).as("late"))

  /** The `j` CTE mirrored by every oracle over [[orderLateness]]. */
  private val orderLatenessSqlCte: String =
    """j AS (
      |  SELECT o_orderkey, o_orderpriority AS g,
      |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |        THEN 1 ELSE 0 END) AS late
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  def cochranArmitage(spark: SparkSession, dir: String): DataFrame = {
    val byPrio = orderLateness(spark, dir)
    val aggs = Priorities.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        sum(when(col("g") === p, 1L).otherwise(0L)).cast("long").as(s"n${i + 1}"),
        sum(when(col("g") === p, col("late")).otherwise(0L)).cast("long")
          .as(s"e${i + 1}"))
    }
    val piv = byPrio.groupBy().agg(aggs.head, aggs.tail: _*)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val nT = (1 to 5).map(i => col(s"n$i")).reduce(_ + _)
    val eT = (1 to 5).map(i => col(s"e$i")).reduce(_ + _)
    val tn = (1 to 5).map(i =>
      lit(i.toLong) * (col(s"e$i") * col("n_total") - col(s"n$i") * col("e_total")))
      .reduce(_ + _)
    val swn = (1 to 5).map(i => lit(i.toLong) * col(s"n$i")).reduce(_ + _)
    val sw2n = (1 to 5).map(i => lit((i * i).toLong) * col(s"n$i")).reduce(_ + _)
    piv
      .withColumn("n_total", nT)
      .withColumn("e_total", eT)
      .withColumn("t_num", tn.cast("bigint"))
      .withColumn("var_num",
        (d38(col("e_total")) * (col("n_total") - col("e_total"))
          * (d38(col("n_total")) * sw2n - d38(swn) * swn)).cast("decimal(38,0)"))
      .select(lit(5L).as("k_groups"),
        col("n_total").cast("bigint").as("n_total"),
        col("e_total").cast("bigint").as("n_late"),
        col("t_num"),
        // STRING witness: ~1e21 exceeds 2^53 and DECIMAL outputs break
        // the driver hash (ContractSpec) — exact digits instead
        col("var_num").cast("string").as("var_num"),
        when(col("var_num") > 0,
          col("t_num").cast("double") * sqrt(col("n_total").cast("double"))
            / sqrt(col("var_num").cast("double"))).as("z_trend"))
  }

  val cochranArmitageSql: String = {
    val conds = Priorities.zipWithIndex.map { case (p, i) =>
      s"""    CAST(SUM(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n${i + 1},
         |    CAST(SUM(CASE WHEN g = '$p' THEN late ELSE 0 END) AS BIGINT) AS e${i + 1}""".stripMargin
    }.mkString(",\n")
    val tn = (1 to 5).map(i => s"$i * (e$i * n_total - n$i * e_total)")
      .mkString("\n    + ")
    val swn = (1 to 5).map(i => s"$i * n$i").mkString(" + ")
    val sw2n = (1 to 5).map(i => s"${i * i} * n$i").mkString(" + ")
    s"""WITH $orderLatenessSqlCte,
       |piv AS (
       |  SELECT
       |$conds
       |  FROM j),
       |t AS (SELECT *, n1 + n2 + n3 + n4 + n5 AS n_total,
       |    e1 + e2 + e3 + e4 + e5 AS e_total FROM piv),
       |u AS (SELECT *,
       |    CAST($tn AS BIGINT) AS t_num,
       |    CAST(CAST(e_total AS HUGEINT) * (n_total - e_total)
       |      * (CAST(n_total AS HUGEINT) * ($sw2n)
       |         - CAST($swn AS HUGEINT) * ($swn)) AS HUGEINT) AS var_num
       |  FROM t)
       |SELECT CAST(5 AS BIGINT) AS k_groups, CAST(n_total AS BIGINT) AS n_total,
       |  CAST(e_total AS BIGINT) AS n_late, t_num,
       |  CAST(var_num AS VARCHAR) AS var_num,
       |  CASE WHEN var_num > 0 THEN
       |    -- t_num/var_num grow ~n²/n⁴: route the >2^53-capable
       |    -- witnesses through VARCHAR→DOUBLE (strtod, correctly
       |    -- rounded) — DuckDB 1.0.0's direct HUGEINT→DOUBLE is not
       |    -- (the q286 depth-sweep finding)
       |    CAST(CAST(t_num AS VARCHAR) AS DOUBLE) * SQRT(CAST(n_total AS DOUBLE))
       |      / SQRT(CAST(CAST(var_num AS VARCHAR) AS DOUBLE)) END AS z_trend
       |FROM u""".stripMargin
  }

  /** Q268: KENDALL τ-b — per nation, the rank correlation of monthly
    * revenue vs order count over the 1996-97 calendar: the
    * concordance complement of q245's Spearman (ρ sums rank GAPS,
    * τ-b counts pair INVERSIONS) and the value-vs-value
    * generalization of q213's Mann-Kendall (which fixes y = time),
    * with the tie normalization both of those skip. A 1996-97 month
    * pair is concordant when revenue and order count move the same
    * way, discordant when they invert — τ-b is the probability-scale
    * summary of that agreement.
    *
    * Exactness: every pair is classified by SIGN COMPARISONS, never a
    * (Δrev·Δcnt) product — cent-scale revenue deltas square into
    * ~1e30 at large SF, an ANSI BIGINT overflow, while the comparison
    * form never multiplies data values. C/D/Tx/Ty are exact BIGINTs;
    * τ-b = (C−D)/√((n₀−Tx)(n₀−Ty)) is one fixed dag on them
    * (integer-exact doubles, one multiply, one √, one division — the
    * q245 discipline). An all-tied axis ⇒ NULL, never 0/0.
    *
    * Scale shape: the q213/q245 chain verbatim — row-scale monthly
    * rollup (map-side combined), nation-keyed collect of the
    * CALENDAR-BOUNDED array (n ≤ 24 forever: the axis is the 1996-97
    * month grid, not the row count), the O(n²) pair sweep
    * in-expression (≤ 276 comparisons per nation), output sort.
    * Three exchanges, no joins. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val arrs = nationMonthly(spark, dir).groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev"), col("cnt"))))
        .as("xs"))
      .filter(size(col("xs")) >= 2)
    val k = arrs.select(col("nation"),
      size(col("xs")).cast("long").as("n_months"),
      expr("""aggregate(sequence(1, size(xs) - 1),
             |  named_struct('c', 0L, 'd', 0L, 'tx', 0L, 'ty', 0L, 'tb', 0L),
             |  (acc, i) -> named_struct(
             |    'c', acc.c + size(filter(slice(xs, i + 1, size(xs) - i), b ->
             |      (b.rev > element_at(xs, i).rev AND b.cnt > element_at(xs, i).cnt) OR
             |      (b.rev < element_at(xs, i).rev AND b.cnt < element_at(xs, i).cnt))),
             |    'd', acc.d + size(filter(slice(xs, i + 1, size(xs) - i), b ->
             |      (b.rev > element_at(xs, i).rev AND b.cnt < element_at(xs, i).cnt) OR
             |      (b.rev < element_at(xs, i).rev AND b.cnt > element_at(xs, i).cnt))),
             |    'tx', acc.tx + size(filter(slice(xs, i + 1, size(xs) - i), b ->
             |      b.rev = element_at(xs, i).rev)),
             |    'ty', acc.ty + size(filter(slice(xs, i + 1, size(xs) - i), b ->
             |      b.cnt = element_at(xs, i).cnt)),
             |    'tb', acc.tb + size(filter(slice(xs, i + 1, size(xs) - i), b ->
             |      b.rev = element_at(xs, i).rev AND
             |      b.cnt = element_at(xs, i).cnt))))""".stripMargin).as("k"))
    val n0 = expr("n_months * (n_months - 1) div 2")
    // ties_both published so the SHARP pair-partition identity
    // C + D + Tx + Ty − Tboth = n₀ is externally checkable (advisor
    // r9: the earlier spec line was a tautology without it)
    k.select(col("nation"), col("n_months"),
        col("k.c").as("n_conc"), col("k.d").as("n_disc"),
        col("k.tx").as("ties_x"), col("k.ty").as("ties_y"),
        col("k.tb").as("ties_both"))
      .withColumn("tau_b",
        when(n0 > col("ties_x") && n0 > col("ties_y"),
          (col("n_conc") - col("n_disc")).cast("double")
            / sqrt(((n0 - col("ties_x")) * (n0 - col("ties_y"))).cast("double"))))
      .orderBy(col("nation"))
  }

  val kendallTauSql: String =
    s"""WITH $nationMonthlySqlCte,
       |p AS (SELECT a.nation,
       |    CASE WHEN (b.rev > a.rev AND b.cnt > a.cnt)
       |           OR (b.rev < a.rev AND b.cnt < a.cnt) THEN 1 ELSE 0 END AS c,
       |    CASE WHEN (b.rev > a.rev AND b.cnt < a.cnt)
       |           OR (b.rev < a.rev AND b.cnt > a.cnt) THEN 1 ELSE 0 END AS d,
       |    CASE WHEN b.rev = a.rev THEN 1 ELSE 0 END AS tx,
       |    CASE WHEN b.cnt = a.cnt THEN 1 ELSE 0 END AS ty,
       |    CASE WHEN b.rev = a.rev AND b.cnt = a.cnt THEN 1 ELSE 0 END AS tb
       |  FROM monthly a JOIN monthly b ON a.nation = b.nation AND a.m < b.m),
       |n AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months
       |  FROM monthly GROUP BY 1 HAVING COUNT(*) >= 2),
       |s AS (SELECT nation, CAST(SUM(c) AS BIGINT) AS c, CAST(SUM(d) AS BIGINT) AS d,
       |    CAST(SUM(tx) AS BIGINT) AS tx, CAST(SUM(ty) AS BIGINT) AS ty,
       |    CAST(SUM(tb) AS BIGINT) AS tb
       |  FROM p GROUP BY 1)
       |SELECT n.nation, n.n_months, s.c AS n_conc, s.d AS n_disc,
       |  s.tx AS ties_x, s.ty AS ties_y, s.tb AS ties_both,
       |  CASE WHEN n_months * (n_months - 1) // 2 > tx
       |        AND n_months * (n_months - 1) // 2 > ty THEN
       |    CAST(c - d AS DOUBLE)
       |      / SQRT(CAST((n_months * (n_months - 1) // 2 - tx)
       |          * (n_months * (n_months - 1) // 2 - ty) AS DOUBLE))
       |  END AS tau_b
       |FROM n JOIN s USING (nation) ORDER BY nation""".stripMargin

  /** Q269: JONCKHEERE–TERPSTRA ORDERED-TREND TEST — does worst-line
    * ship latency INCREASE along the priority order 1-URGENT → 5-LOW?
    * The ordered-alternative test for a CONTINUOUS outcome: q256's
    * Cochran-Armitage orders the groups but needs a binary outcome
    * (late y/n); q237's Kruskal-Wallis takes the continuous outcome
    * but treats groups as unordered. JT is Mann-Whitney summed over
    * every ordered group pair — J = Σ_{i<j} U_ij — the one-sided
    * power of both.
    *
    * Exactness: per-order latency v = max ship lag is a DOMAIN-
    * bounded integer (the generator ships inside a fixed multi-year
    * calendar window around the order date: lag ∈ [−2400, 2500] at
    * every SF — ~5k distinct day values, measured 9.7k/19.9k
    * populated (group, day) cells at sf0.01/0.1 against the ~24.5k
    * domain ceiling), so the test runs on contingency counts whose
    * cardinality is SF-INDEPENDENT. J2 = 2·#less + #ties and every
    * tie-corrected variance witness (Σnᵢ(nᵢ−1)(2nᵢ+5) etc.) is exact
    * DECIMAL(38,0) arithmetic on cell counts (published as STRING —
    * the q256 >2⁵³ discipline; headroom: nᵢ³ ≤ 1e38 up to nᵢ ~ 4e12
    * orders per priority, far past 100 TB). z is one fixed dag of
    * IEEE ops on the exact witnesses, identical on both engines; the
    * variance is the full Hollander-Wolfe tie-corrected form (the
    * day-valued outcome is heavily tied — the uncorrected variance
    * would overstate it).
    *
    * Pair counting is SORT-BASED, never quadratic: with the cells
    * pivoted to one row per day value (n1..n5 group counts), #less =
    * Σ_v Σ_j n_j(v)·Σ_{i<j} cumᵢ(<v) via ONE running-sum window over
    * the day axis — O(|domain|) exact integer work. (The first cut
    * swept collected cell pairs in an interpreted HOF: 19.9k² ≈ 4e8
    * lambda ops = 72 s at sf0.1 — the q265 interpreted-HOF lesson
    * extended: a DOMAIN-bounded frame is not automatically small
    * enough to SQUARE in-expression.)
    *
    * Scale shape: one per-order lateness rollup (map-side combined on
    * l_orderkey) after the orderkey join (SMJ at scale, the q256
    * shape), ONE day-keyed pivot aggregation (≤ |domain| rows,
    * localCheckpointed for its three consumers — the q263 rule), the
    * single-task running-sum window over the ≤5k-row day axis (the
    * q211/q212 value-domain-window class), and the 1-row reduces
    * crossJoin-broadcast together. */
  def jonckheereTrend(spark: SparkSession, dir: String): DataFrame = {
    val lat = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("gi"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("gi"))
      .agg(max(datediff(col("l_shipdate"), col("o_orderdate"))).as("v"))
    val pivAggs = (1 to 5).map(i =>
      sum(when(col("gi") === i, 1L).otherwise(0L)).cast("long").as(s"n$i"))
    val piv = lat.groupBy(col("v"))
      .agg(pivAggs.head, pivAggs.tail: _*)
      .localCheckpoint()
    def d38(c: Column) = c.cast("decimal(38,0)")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = piv.select(col("v") +:
      ((1 to 5).map(i => col(s"n$i")) ++
        (1 to 5).map(i =>
          coalesce(sum(col(s"n$i")).over(w), lit(0L)).as(s"cum$i"))): _*)
    // #less = Σ_v Σ_j n_j(v)·Σ_{i<j} cumᵢ(<v); #ties = Σ_v Σ_{i<j} nᵢ·n_j —
    // d38 before the product: count × cumulative reaches ~1.5e20 at 100 TB
    val lessRow = (2 to 5).map(j =>
      d38(col(s"n$j")) * (1 until j).map(i => col(s"cum$i")).reduce(_ + _))
      .reduce(_ + _)
    val tieRow = (for (i <- 1 to 4; j <- (i + 1) to 5)
      yield d38(col(s"n$i")) * col(s"n$j")).reduce(_ + _)
    val pairs = cum.agg(
      sum(lessRow).cast("decimal(38,0)").as("n_less"),
      sum(tieRow).cast("decimal(38,0)").as("n_tie"))
    val grpAggs = (1 to 5).map(i => sum(col(s"n$i")).cast("long").as(s"g$i"))
    val grp = piv
      .agg(grpAggs.head, grpAggs.tail: _*)
      .select(
        (1 to 5).map(i => col(s"g$i")).reduce(_ + _).cast("long").as("n_total"),
        (1 to 5).map(i => d38(col(s"g$i")) * col(s"g$i")).reduce(_ + _)
          .cast("decimal(38,0)").as("s2"),
        (1 to 5).map(i => d38(col(s"g$i")) * (col(s"g$i") - 1)
          * (lit(2) * col(s"g$i") + 5)).reduce(_ + _)
          .cast("decimal(38,0)").as("a3"),
        (1 to 5).map(i => d38(col(s"g$i")) * (col(s"g$i") - 1)
          * (col(s"g$i") - 2)).reduce(_ + _)
          .cast("decimal(38,0)").as("c1"),
        (1 to 5).map(i => d38(col(s"g$i")) * (col(s"g$i") - 1)).reduce(_ + _)
          .cast("decimal(38,0)").as("c2"))
    val vals = piv
      .select(((1 to 5).map(i => col(s"n$i")).reduce(_ + _)).cast("long").as("t"))
      .agg(
        sum(d38(col("t")) * (col("t") - 1) * (lit(2) * col("t") + 5))
          .cast("decimal(38,0)").as("b3"),
        sum(d38(col("t")) * (col("t") - 1) * (col("t") - 2))
          .cast("decimal(38,0)").as("d1"),
        sum(d38(col("t")) * (col("t") - 1)).cast("decimal(38,0)").as("d2"))
    val one = pairs.crossJoin(broadcast(grp)).crossJoin(broadcast(vals))
      .withColumn("j2", (lit(2) * col("n_less") + col("n_tie")).cast("decimal(38,0)"))
      .withColumn("mean2",
        ((d38(col("n_total")) * col("n_total") - col("s2")) / 2).cast("decimal(38,0)"))
      .withColumn("t0",
        (d38(col("n_total")) * (col("n_total") - 1) * (lit(2) * col("n_total") + 5))
          .cast("decimal(38,0)"))
    val nd = col("n_total").cast("double")
    val vr =
      (col("t0") - col("a3") - col("b3")).cast("decimal(38,0)").cast("double") / 72.0 +
        (col("c1").cast("double") * col("d1").cast("double") /
          (lit(36.0) * nd * (nd - 1.0) * (nd - 2.0))) +
        (col("c2").cast("double") * col("d2").cast("double") /
          (lit(8.0) * nd * (nd - 1.0)))
    one.select(
      lit(5L).as("k_groups"),
      col("n_total"),
      col("j2").cast("string").as("j2"),
      col("mean2").cast("string").as("mean2"),
      when(vr > 0.0,
        (col("j2").cast("double") - col("mean2").cast("double"))
          / (lit(2.0) * sqrt(vr))).as("z_trend"))
  }

  val jonckheereTrendSql: String =
    """WITH lat AS (
      |  SELECT o_orderkey, CAST(substring(o_orderpriority, 1, 1) AS INT) AS gi,
      |    MAX(datediff('day', o_orderdate, l_shipdate)) AS v
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |piv AS (SELECT v,
      |    CAST(SUM(CASE WHEN gi = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN gi = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN gi = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      |    CAST(SUM(CASE WHEN gi = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
      |    CAST(SUM(CASE WHEN gi = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
      |  FROM lat GROUP BY 1),
      |cum AS (SELECT *,
      |    COALESCE(SUM(n1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum1,
      |    COALESCE(SUM(n2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum2,
      |    COALESCE(SUM(n3) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum3,
      |    COALESCE(SUM(n4) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum4
      |  FROM piv),
      |pairs AS (SELECT
      |    CAST(SUM(CAST(n2 AS HUGEINT) * cum1
      |           + CAST(n3 AS HUGEINT) * (cum1 + cum2)
      |           + CAST(n4 AS HUGEINT) * (cum1 + cum2 + cum3)
      |           + CAST(n5 AS HUGEINT) * (cum1 + cum2 + cum3 + cum4)) AS HUGEINT) AS n_less,
      |    CAST(SUM(CAST(n1 AS HUGEINT) * (n2 + n3 + n4 + n5)
      |           + CAST(n2 AS HUGEINT) * (n3 + n4 + n5)
      |           + CAST(n3 AS HUGEINT) * (n4 + n5)
      |           + CAST(n4 AS HUGEINT) * n5) AS HUGEINT) AS n_tie
      |  FROM cum),
      |g AS (SELECT CAST(SUM(n1) AS BIGINT) AS g1, CAST(SUM(n2) AS BIGINT) AS g2,
      |    CAST(SUM(n3) AS BIGINT) AS g3, CAST(SUM(n4) AS BIGINT) AS g4,
      |    CAST(SUM(n5) AS BIGINT) AS g5 FROM piv),
      |grp AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
      |    CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS s2,
      |    CAST(SUM(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)) AS HUGEINT) AS a3,
      |    CAST(SUM(CAST(n AS HUGEINT) * (n - 1) * (n - 2)) AS HUGEINT) AS c1,
      |    CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT) AS c2
      |  FROM (SELECT unnest([g1, g2, g3, g4, g5]) AS n FROM g)),
      |vals AS (SELECT
      |    CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS HUGEINT) AS b3,
      |    CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS HUGEINT) AS d1,
      |    CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) AS d2
      |  FROM (SELECT n1 + n2 + n3 + n4 + n5 AS t FROM piv)),
      |one AS (SELECT *,
      |    2 * n_less + n_tie AS j2,
      |    (CAST(n_total AS HUGEINT) * n_total - s2) // 2 AS mean2,
      |    CAST(n_total AS HUGEINT) * (n_total - 1) * (2 * n_total + 5) AS t0
      |  FROM pairs CROSS JOIN grp CROSS JOIN vals),
      |z AS (SELECT *,
      |    -- the n³-class tie witnesses pass 2^53 at large corpora:
      |    -- VARCHAR-route every exact-integer→DOUBLE conversion
      |    -- (q286 finding: direct HUGEINT→DOUBLE is not correctly
      |    -- rounded in DuckDB 1.0.0)
      |    CAST(CAST(t0 - a3 - b3 AS VARCHAR) AS DOUBLE) / 72.0
      |      + (CAST(CAST(c1 AS VARCHAR) AS DOUBLE) * CAST(CAST(d1 AS VARCHAR) AS DOUBLE))
      |        / (36.0 * CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0)
      |           * (CAST(n_total AS DOUBLE) - 2.0))
      |      + (CAST(CAST(c2 AS VARCHAR) AS DOUBLE) * CAST(CAST(d2 AS VARCHAR) AS DOUBLE))
      |        / (8.0 * CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0)) AS vr
      |  FROM one)
      |SELECT CAST(5 AS BIGINT) AS k_groups, n_total,
      |  CAST(j2 AS VARCHAR) AS j2, CAST(mean2 AS VARCHAR) AS mean2,
      |  CASE WHEN vr > 0.0 THEN
      |    -- j2/mean2 grow ~n² past 2^53: VARCHAR-route (q286 finding)
      |    (CAST(CAST(j2 AS VARCHAR) AS DOUBLE)
      |     - CAST(CAST(mean2 AS VARCHAR) AS DOUBLE)) / (2.0 * SQRT(vr))
      |  END AS z_trend
      |FROM z""".stripMargin

  /** Q271: FLEISS' κ — chance-corrected agreement of THREE independent
    * deterministic quality raters over the document corpus, the
    * multi-rater generalization of q157's two-rater Cohen's κ (whose
    * math caps at 2 raters; Fleiss handles n). The raters are three
    * real curation heuristics binning each doc into quality class
    * {0,1,2}: length (n_chars ≥ 330 / ≥ 180), stopword naturalness
    * (100·stop ≥ 10·tokens / ≥ 5·tokens — exact integer predicates,
    * never a float ratio), and lexical diversity (100·types ≥
    * 52·tokens / ≥ 42·tokens). "Do our quality signals agree beyond
    * chance?" is the calibration question a multi-signal quality gate
    * (q116) must answer before votes are combined.
    *
    * Exactness: with n=3 raters and k=3 categories, κ reduces to the
    * exact integer form κ = (3MS − 2Q)/(2(9M² − Q)) where M = docs,
    * S = Σ_i(Σ_j n_ij² − 3) (per-doc agreement witnesses ∈ {0,2,6}),
    * Q = Σ_j c_j² (category marginals) — DECIMAL(38,0) exact to
    * M ~ 1e17 docs; κ/P̄/Pₑ are fixed dags on those integers.
    * Degenerate single-category corpus ⇒ NULL κ on both engines.
    *
    * Scale shape: ONE map-side-combinable aggregation over the doc
    * scan (every rater is a per-row expression); output is a single
    * row. One exchange. */
  /** The three deterministic quality raters shared by q271 (Fleiss' κ)
    * and q280 (Cochran's Q) — one definition so a threshold change
    * lands once (the TwoPass single-definition rule). Classes {0,1,2},
    * every predicate exact-integer. */
  private def qualityRaters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(spark, dir).filter(col("text").isNotNull)
      .withColumn("nt", tokenCount(col("text")))
      .withColumn("ty", size(distinctTokens(col("text"))).cast("long"))
      .withColumn("ns", stopwordCount(col("text")))
      .withColumn("ra",
        when(col("n_chars") >= 330, 2L).when(col("n_chars") >= 180, 1L).otherwise(0L))
      .withColumn("rb",
        when(lit(100) * col("ns") >= lit(10) * col("nt"), 2L)
          .when(lit(100) * col("ns") >= lit(5) * col("nt"), 1L).otherwise(0L))
      .withColumn("rc",
        when(lit(100) * col("ty") >= lit(52) * col("nt"), 2L)
          .when(lit(100) * col("ty") >= lit(42) * col("nt"), 1L).otherwise(0L))
  }

  /** The `r` CTE (ra/rb/rc) mirrored by every oracle over
    * [[qualityRaters]] — one string so engine and oracle can't drift. */
  private val qualityRatersSqlCte: String =
    s"""rt AS (
       |  SELECT doc_id, n_chars,
       |    len(string_split(text, ' ')) AS nt,
       |    len(list_distinct(string_split(text, ' '))) AS ty,
       |    len(list_filter(string_split(text, ' '), x -> x IN ($stopwordSqlList))) AS ns
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT
       |    CASE WHEN n_chars >= 330 THEN 2 WHEN n_chars >= 180 THEN 1 ELSE 0 END AS ra,
       |    CASE WHEN 100 * ns >= 10 * nt THEN 2
       |         WHEN 100 * ns >= 5 * nt THEN 1 ELSE 0 END AS rb,
       |    CASE WHEN 100 * ty >= 52 * nt THEN 2
       |         WHEN 100 * ty >= 42 * nt THEN 1 ELSE 0 END AS rc
       |  FROM rt)""".stripMargin

  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val d = qualityRaters(spark, dir)
    def nj(j: Int) =
      when(col("ra") === j, 1L).otherwise(0L) +
        when(col("rb") === j, 1L).otherwise(0L) +
        when(col("rc") === j, 1L).otherwise(0L)
    val counted = d.select(
      nj(0).as("n0"), nj(1).as("n1"), nj(2).as("n2"))
    val agg = counted.agg(
      count(lit(1)).cast("long").as("m"),
      sum(col("n0") * col("n0") + col("n1") * col("n1") + col("n2") * col("n2") - 3)
        .cast("long").as("s"),
      sum(col("n0")).cast("long").as("c0"),
      sum(col("n1")).cast("long").as("c1"),
      sum(col("n2")).cast("long").as("c2"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val q = (d38(col("c0")) * col("c0") + d38(col("c1")) * col("c1")
      + d38(col("c2")) * col("c2")).cast("decimal(38,0)")
    val num = (lit(3) * d38(col("m")) * col("s") - lit(2) * q).cast("decimal(38,0)")
    val den = (lit(2) * (lit(9) * d38(col("m")) * col("m") - q)).cast("decimal(38,0)")
    agg.select(
      col("m").as("n_docs"), lit(3L).as("n_raters"),
      col("c0"), col("c1"), col("c2"), col("s").as("s_agree"),
      (col("s").cast("double") / (lit(6.0) * col("m").cast("double"))).as("p_bar"),
      (q.cast("double")
        / (lit(9.0) * col("m").cast("double") * col("m").cast("double"))).as("p_e"),
      when(den =!= 0, num.cast("double") / den.cast("double")).as("kappa"))
  }

  val fleissKappaSql: String =
    s"""WITH $qualityRatersSqlCte,
       |cnt AS (SELECT
       |    (CASE WHEN ra = 0 THEN 1 ELSE 0 END + CASE WHEN rb = 0 THEN 1 ELSE 0 END
       |     + CASE WHEN rc = 0 THEN 1 ELSE 0 END) AS n0,
       |    (CASE WHEN ra = 1 THEN 1 ELSE 0 END + CASE WHEN rb = 1 THEN 1 ELSE 0 END
       |     + CASE WHEN rc = 1 THEN 1 ELSE 0 END) AS n1,
       |    (CASE WHEN ra = 2 THEN 1 ELSE 0 END + CASE WHEN rb = 2 THEN 1 ELSE 0 END
       |     + CASE WHEN rc = 2 THEN 1 ELSE 0 END) AS n2
       |  FROM r),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |    CAST(SUM(n0 * n0 + n1 * n1 + n2 * n2 - 3) AS BIGINT) AS s,
       |    CAST(SUM(n0) AS BIGINT) AS c0, CAST(SUM(n1) AS BIGINT) AS c1,
       |    CAST(SUM(n2) AS BIGINT) AS c2
       |  FROM cnt),
       |w AS (SELECT *,
       |    CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1
       |      + CAST(c2 AS HUGEINT) * c2 AS q,
       |    3 * CAST(m AS HUGEINT) * s
       |      - 2 * (CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1
       |             + CAST(c2 AS HUGEINT) * c2) AS num,
       |    2 * (9 * CAST(m AS HUGEINT) * m
       |         - (CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1
       |            + CAST(c2 AS HUGEINT) * c2)) AS den
       |  FROM agg)
       |SELECT m AS n_docs, CAST(3 AS BIGINT) AS n_raters, c0, c1, c2, s AS s_agree,
       |  CAST(s AS DOUBLE) / (6.0 * CAST(m AS DOUBLE)) AS p_bar,
       |  CAST(q AS DOUBLE) / (9.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS p_e,
       |  -- num/den grow ~m² past 2^53: VARCHAR-route (q286 finding)
       |  CASE WHEN den <> 0 THEN CAST(CAST(num AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(den AS VARCHAR) AS DOUBLE) END AS kappa
       |FROM w""".stripMargin

  /** Q275: BRIER-SCORE MURPHY DECOMPOSITION — the q156 calibration
    * table's summary statistic, decomposed: for the permille
    * stopword-share forecast of "is English", Brier = REL − RES +
    * UNC, where reliability (how far forecast groups sit from their
    * observed rates — q156's gap, squared and weighted), resolution
    * (how much the groups separate from the base rate — the score's
    * actual skill), and uncertainty (the irreducible base-rate
    * variance) answer what a single Brier number hides: a score can
    * be well-calibrated and useless, or skilled and miscalibrated.
    * Bins are EXACT SCORE VALUES (≤1001 — the permille domain), so
    * the decomposition identity is exact, not the fixed-width-bin
    * approximation (which would leak within-bin variance terms).
    *
    * Exactness: Brier and UNC are single exact rationals (Σ(s−1000y)²
    * / (10⁶·N) and E(N−E)/N²) published half-up micro; REL is the sum
    * of per-bin half-up micro contributions (the q251 RAKE
    * integer-sum rule — never a float accumulation across bins); RES
    * is published THROUGH THE IDENTITY (rel6 − brier6 + unc6, exact
    * integer arithmetic on the three published micros, ±2 µ of the
    * unrounded value — the convention both engines share by
    * construction). Headroom: per-bin (s·n−1000e)² ≤ 10⁶·n² — inside
    * DECIMAL(38) to ~10¹⁶ docs.
    *
    * Scale shape: one row-scale map-side-combined count into the
    * ≤1001-row exact-score frame (localCheckpointed — totals and the
    * REL pass both read it), a 1-row totals reduce crossJoin-broadcast
    * back for the per-bin REL terms, one final 1-row reduce. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    def d38(c: Column) = c.cast("decimal(38,0)")
    val scored = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select((col("lang") === "en").as("pos"),
        (stopwordCount(col("text")) * 1000).as("sw1000"),
        tokenCount(col("text")).as("tc"))
      .withColumn("s", expr("sw1000 div tc"))
    val bins = scored.groupBy(col("s"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).cast("long").as("e"))
      .localCheckpoint()
    val tot = bins.agg(
      sum(col("n")).cast("long").as("nd"),
      sum(col("e")).cast("long").as("ep"),
      count(lit(1)).cast("long").as("nb"),
      sum(d38(col("e")) * (col("s") - 1000) * (col("s") - 1000)
        + d38(col("n") - col("e")) * col("s") * col("s"))
        .cast("decimal(38,0)").as("s2"))
    val rel = bins.crossJoin(broadcast(tot))
      .withColumn("dv", d38(col("s") * col("n") - lit(1000) * col("e")))
      .withColumn("r6n", (lit(2) * col("dv") * col("dv")
        + d38(col("n")) * col("nd")).cast("decimal(38,0)"))
      .withColumn("r6d", (lit(2) * d38(col("n")) * col("nd")).cast("decimal(38,0)"))
      .withColumn("r6", expr("r6n div r6d"))
      .agg(sum(col("r6")).cast("long").as("rel6"))
    tot.crossJoin(broadcast(rel))
      .withColumn("b6n", (lit(2) * col("s2") + col("nd")).cast("decimal(38,0)"))
      .withColumn("b6d", (lit(2) * d38(col("nd"))).cast("decimal(38,0)"))
      .withColumn("brier6", expr("b6n div b6d"))
      .withColumn("u6n", (lit(2) * lit(1000000) * d38(col("ep")) * (col("nd") - col("ep"))
        + d38(col("nd")) * col("nd")).cast("decimal(38,0)"))
      .withColumn("u6d", (lit(2) * d38(col("nd")) * col("nd")).cast("decimal(38,0)"))
      .withColumn("unc6", expr("u6n div u6d"))
      .select(
        col("nd").as("n_docs"), col("ep").as("n_pos"), col("nb").as("n_bins"),
        (col("brier6").cast("double") / 1000000).as("brier"),
        (col("unc6").cast("double") / 1000000).as("uncertainty"),
        (col("rel6").cast("double") / 1000000).as("reliability"),
        ((col("rel6") - col("brier6") + col("unc6")).cast("double") / 1000000)
          .as("resolution"))
  }

  val brierDecompositionSql: String =
    s"""WITH scored AS (
       |  SELECT lang = 'en' AS pos,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopwordSqlList)))
       |      * 1000 // len(string_split(text, ' ')) AS s
       |  FROM documents WHERE text IS NOT NULL),
       |bins AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS e
       |  FROM scored GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nd, CAST(SUM(e) AS BIGINT) AS ep,
       |    CAST(COUNT(*) AS BIGINT) AS nb,
       |    CAST(SUM(CAST(e AS HUGEINT) * (s - 1000) * (s - 1000)
       |             + CAST(n - e AS HUGEINT) * s * s) AS HUGEINT) AS s2
       |  FROM bins),
       |rel AS (SELECT CAST(SUM(
       |    (2 * CAST(s * n - 1000 * e AS HUGEINT) * (s * n - 1000 * e)
       |     + CAST(n AS HUGEINT) * nd) // (2 * CAST(n AS HUGEINT) * nd))
       |    AS BIGINT) AS rel6
       |  FROM bins CROSS JOIN tot),
       |mic AS (SELECT nd, ep, nb, rel6,
       |    CAST((2 * s2 + nd) // (2 * nd) AS BIGINT) AS brier6,
       |    CAST((2 * 1000000 * CAST(ep AS HUGEINT) * (nd - ep)
       |          + CAST(nd AS HUGEINT) * nd)
       |      // (2 * CAST(nd AS HUGEINT) * nd) AS BIGINT) AS unc6
       |  FROM tot CROSS JOIN rel)
       |SELECT nd AS n_docs, ep AS n_pos, nb AS n_bins,
       |  CAST(brier6 AS DOUBLE) / 1000000 AS brier,
       |  CAST(unc6 AS DOUBLE) / 1000000 AS uncertainty,
       |  CAST(rel6 AS DOUBLE) / 1000000 AS reliability,
       |  CAST(rel6 - brier6 + unc6 AS DOUBLE) / 1000000 AS resolution
       |FROM mic""".stripMargin

  /** Q276: HOLT LINEAR-TREND SMOOTHING — double exponential smoothing
    * over each nation's 1996-97 monthly revenue (α = 0.2, β = 0.1;
    * init l₂ = y₂, b₂ = y₂ − y₁): the trend-aware rung above q153's
    * single EWMA (which a trending series systematically lags), with
    * the 3-month-ahead forecast l + 3b a planning rollup would
    * publish. The verification technique is the novelty: the engine
    * folds the recurrence IN-EXPRESSION (one sequential `aggregate`
    * over the calendar-bounded array), the oracle replays it as a
    * DuckDB RECURSIVE CTE — two independent sequential evaluators of
    * the same IEEE dag, so agreement is bit-exact, no rounding
    * tolerance (the fixed-dag discipline extended from single
    * expressions to RECURRENCES; cent revenues < 2⁵³ keep the double
    * images of the inputs exact to ~10¹⁵ cents/month, documented
    * headroom).
    *
    * Scale shape: the q213/q245 chain — row-scale monthly rollup,
    * nation-keyed collect of the ≤24-element array, the fold
    * in-expression, output sort. Three exchanges, no joins. */
  def holtLinear(spark: SparkSession, dir: String): DataFrame = {
    val arrs = nationMonthly(spark, dir).groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev")))).as("xs"))
      .filter(size(col("xs")) >= 2)
    arrs.select(col("nation"),
        size(col("xs")).cast("long").as("n_months"),
        expr("""aggregate(slice(xs, 3, size(xs) - 2),
               |  named_struct(
               |    'l', CAST(element_at(xs, 2).rev AS DOUBLE),
               |    'b', CAST(element_at(xs, 2).rev AS DOUBLE)
               |         - CAST(element_at(xs, 1).rev AS DOUBLE)),
               |  (acc, x) -> named_struct(
               |    'l', 0.2D * CAST(x.rev AS DOUBLE) + 0.8D * (acc.l + acc.b),
               |    'b', 0.1D * ((0.2D * CAST(x.rev AS DOUBLE)
               |                  + 0.8D * (acc.l + acc.b)) - acc.l)
               |         + 0.9D * acc.b))""".stripMargin).as("st"))
      .select(col("nation"), col("n_months"),
        col("st.l").as("level"), col("st.b").as("trend"),
        (col("st.l") + lit(3.0) * col("st.b")).as("forecast_3"))
      .orderBy(col("nation"))
  }

  val holtLinearSql: String =
    s"""WITH RECURSIVE $nationMonthlySqlCte,
       |ser AS (SELECT nation, CAST(rev AS DOUBLE) AS y,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY nation ORDER BY m) AS INT) AS i
       |  FROM monthly),
       |cnt AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months
       |  FROM ser GROUP BY 1 HAVING COUNT(*) >= 2),
       |r AS (
       |  SELECT s2.nation, 2 AS i, s2.y AS l, s2.y - s1.y AS b
       |  FROM ser s1 JOIN ser s2 ON s1.nation = s2.nation
       |    AND s1.i = 1 AND s2.i = 2
       |  UNION ALL
       |  SELECT r.nation, r.i + 1,
       |    0.2 * s.y + 0.8 * (r.l + r.b),
       |    0.1 * ((0.2 * s.y + 0.8 * (r.l + r.b)) - r.l) + 0.9 * r.b
       |  FROM r JOIN ser s ON s.nation = r.nation AND s.i = r.i + 1)
       |SELECT c.nation, c.n_months, r.l AS level, r.b AS trend,
       |  r.l + 3.0 * r.b AS forecast_3
       |FROM cnt c JOIN r ON r.nation = c.nation AND r.i = c.n_months
       |ORDER BY c.nation""".stripMargin

  /** Q279: ADJUSTED PEARSON RESIDUALS — the per-cell drill-down the
    * omnibus tests can't give: q146's chi-square and q256's trend say
    * THAT the (priority × late) table deviates; the Haberman-adjusted
    * residual rᵢⱼ = (O − E)/√(E(1−rᵢ/N)(1−cⱼ/N)) says WHICH cells
    * carry it, each on an approximate N(0,1) scale (the plain
    * (O−E)/√E understates significance for big margins — the
    * adjustment divides out the margin variance). The standard next
    * question after any significant contingency test.
    *
    * Exactness: O, row/col margins and N are exact BIGINTs; the
    * deviation witness O·N − rᵢ·cⱼ is exact DECIMAL(38,0) published
    * as STRING (O·N ~ 2e22 at 100 TB, the q256 >2⁵³ rule); the
    * residual is ONE fixed dag of IEEE ops on the exact values.
    *
    * Scale shape: the shared [[orderLateness]] rollup (map-side
    * combined after the SMJ), one 5-row pivot aggregation, the
    * long-form explode to 10 cells, 1-row totals crossJoin-broadcast.
    * Nothing after the rollup exceeds 10 rows. */
  def pearsonResiduals(spark: SparkSession, dir: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val byG = orderLateness(spark, dir).groupBy(col("g"))
      .agg(count(lit(1)).cast("long").as("r_tot"),
        sum(col("late")).cast("long").as("o1"))
    val cells = byG.select(col("g"), col("r_tot"),
        explode(array(
          struct(lit(0L).as("late"), (col("r_tot") - col("o1")).as("o")),
          struct(lit(1L).as("late"), col("o1").as("o")))).as("cell"))
      .select(col("g"), col("r_tot"), col("cell.late").as("late"),
        col("cell.o").as("o"))
    val tot = byG.agg(sum(col("r_tot")).cast("long").as("n_all"),
      sum(col("o1")).cast("long").as("c1_tot"))
    val withTot = cells.crossJoin(broadcast(tot))
      .withColumn("c_tot",
        when(col("late") === 1, col("c1_tot"))
          .otherwise(col("n_all") - col("c1_tot")))
    val od = col("o").cast("double")
    val rd = col("r_tot").cast("double")
    val cd = col("c_tot").cast("double")
    val nd = col("n_all").cast("double")
    val e = rd * cd / nd
    withTot.select(col("g").as("priority"), col("late"),
        col("o").as("n_obs"),
        col("r_tot"), col("c_tot"),
        (d38(col("o")) * col("n_all") - d38(col("r_tot")) * col("c_tot"))
          .cast("decimal(38,0)").cast("string").as("dev_num"),
        when(col("c_tot") > 0 && col("c_tot") < col("n_all")
            && col("r_tot") < col("n_all"),
          (od - e) / sqrt(e * (lit(1.0) - rd / nd) * (lit(1.0) - cd / nd)))
          .as("adj_resid"))
      .orderBy(col("priority"), col("late"))
  }

  val pearsonResidualsSql: String =
    s"""WITH $orderLatenessSqlCte,
       |byg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r_tot,
       |    CAST(SUM(late) AS BIGINT) AS o1
       |  FROM j GROUP BY 1),
       |cells AS (
       |  SELECT g, r_tot, CAST(0 AS BIGINT) AS late, r_tot - o1 AS o FROM byg
       |  UNION ALL
       |  SELECT g, r_tot, CAST(1 AS BIGINT) AS late, o1 AS o FROM byg),
       |tot AS (SELECT CAST(SUM(r_tot) AS BIGINT) AS n_all,
       |    CAST(SUM(o1) AS BIGINT) AS c1_tot FROM byg),
       |wt AS (SELECT g, late, o, r_tot,
       |    CASE WHEN late = 1 THEN c1_tot ELSE n_all - c1_tot END AS c_tot,
       |    n_all
       |  FROM cells CROSS JOIN tot)
       |SELECT g AS priority, late, o AS n_obs, r_tot, c_tot,
       |  CAST(CAST(o AS HUGEINT) * n_all - CAST(r_tot AS HUGEINT) * c_tot
       |    AS VARCHAR) AS dev_num,
       |  CASE WHEN c_tot > 0 AND c_tot < n_all AND r_tot < n_all THEN
       |    (CAST(o AS DOUBLE)
       |       - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n_all AS DOUBLE))
       |    / SQRT(CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n_all AS DOUBLE)
       |        * (1.0 - CAST(r_tot AS DOUBLE) / CAST(n_all AS DOUBLE))
       |        * (1.0 - CAST(c_tot AS DOUBLE) / CAST(n_all AS DOUBLE)))
       |  END AS adj_resid
       |FROM wt ORDER BY priority, late""".stripMargin

  /** Q280: COCHRAN'S Q TEST — do the three binary quality gates (each
    * [[qualityRaters]] rater voting "high", class 2) PASS DIFFERENT
    * FRACTIONS of the corpus? The k-related-samples extension of
    * q242's McNemar (which caps at 2 raters) and the rate-side
    * complement of q271's Fleiss κ (κ asks "do they agree per doc";
    * Q asks "do their marginal rates differ" — raters can agree badly
    * yet pass identical fractions, or vice versa). The standard gate
    * before pooling heterogeneous quality votes.
    *
    * Exactness: with k=3, Q reduces to the single integer rational
    * 2(3Σtⱼ² − T²)/(3T − ΣRᵢ²) (Σⱼ(tⱼ−T/3)² = (3Σt²−T²)/3, so every
    * witness is an exact integer; 3T − ΣR² = ΣRᵢ(3−Rᵢ) ≥ 0, zero iff
    * every doc is unanimous — NULL Q on both engines). The numerator
    * (~6·M² = 6e22 at 100 TB) publishes as a DECIMAL(38,0) STRING
    * witness; Q is the one-division double dag.
    *
    * Scale shape: ONE map-side-combinable aggregation over the doc
    * scan (raters are per-row predicates); single-row output. */
  def cochranQ(spark: SparkSession, dir: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val flags = qualityRaters(spark, dir).select(
      when(col("ra") === 2, 1L).otherwise(0L).as("ha"),
      when(col("rb") === 2, 1L).otherwise(0L).as("hb"),
      when(col("rc") === 2, 1L).otherwise(0L).as("hc"))
    val agg = flags.agg(
      count(lit(1)).cast("long").as("m"),
      sum(col("ha")).cast("long").as("ta"),
      sum(col("hb")).cast("long").as("tb"),
      sum(col("hc")).cast("long").as("tc"),
      sum((col("ha") + col("hb") + col("hc"))
        * (col("ha") + col("hb") + col("hc"))).cast("long").as("sum_r2"))
    val t = (col("ta") + col("tb") + col("tc")).cast("long")
    val qn = (lit(2) * (lit(3) * (d38(col("ta")) * col("ta")
      + d38(col("tb")) * col("tb") + d38(col("tc")) * col("tc"))
      - d38(t) * t)).cast("decimal(38,0)")
    val qd = (lit(3) * t - col("sum_r2")).cast("long")
    agg.select(
      col("m").as("n_docs"),
      col("ta"), col("tb"), col("tc"), col("sum_r2"),
      qn.cast("string").as("q_num"),
      qd.as("q_den"),
      when(qd > 0, qn.cast("double") / qd.cast("double")).as("q_stat"))
  }

  val cochranQSql: String =
    s"""WITH $qualityRatersSqlCte,
       |f AS (SELECT
       |    CASE WHEN ra = 2 THEN 1 ELSE 0 END AS ha,
       |    CASE WHEN rb = 2 THEN 1 ELSE 0 END AS hb,
       |    CASE WHEN rc = 2 THEN 1 ELSE 0 END AS hc
       |  FROM r),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |    CAST(SUM(ha) AS BIGINT) AS ta, CAST(SUM(hb) AS BIGINT) AS tb,
       |    CAST(SUM(hc) AS BIGINT) AS tc,
       |    CAST(SUM((ha + hb + hc) * (ha + hb + hc)) AS BIGINT) AS sum_r2
       |  FROM f),
       |w AS (SELECT *,
       |    2 * (3 * (CAST(ta AS HUGEINT) * ta + CAST(tb AS HUGEINT) * tb
       |              + CAST(tc AS HUGEINT) * tc)
       |         - CAST(ta + tb + tc AS HUGEINT) * (ta + tb + tc)) AS qn,
       |    3 * (ta + tb + tc) - sum_r2 AS qd
       |  FROM agg)
       |SELECT m AS n_docs, ta, tb, tc, sum_r2,
       |  CAST(qn AS VARCHAR) AS q_num, CAST(qd AS BIGINT) AS q_den,
       |  CASE WHEN qd > 0 THEN CAST(qn AS DOUBLE) / CAST(qd AS DOUBLE) END AS q_stat
       |FROM w""".stripMargin

  private val BootB = 32
  /** Cumulative Poisson(1) probabilities (k = 0..7) scaled to the
    * 32-bit mix domain — compile-time constants interpolated as the
    * SAME literals into engine and oracle, so both draw identical
    * weights. A hash beyond the last threshold gets weight 8
    * (P ≈ 1e-5 per draw; documented cap). */
  private val PoissonThresh32: Seq[Long] = {
    val fact = (0 to 7).scanLeft(1L)((a, k) => a * (k + 1)).init // 0!..7!
    val cums = fact.indices.map(k =>
      (0 to k).map(j => math.exp(-1.0) / fact(j)).sum)
    cums.map(c => (c * 4294967296.0).toLong)
  }

  /** Per-resample multiply-shift constants (A, B, C) — 30-bit odd
    * multipliers (the q261 overflow-safety argument: A·v1 + B·v2 + C
    * < 2⁶³ with v < 2³²), derived from golden-ratio multiples so the
    * B mixes decorrelate; deterministic compile-time literals shared
    * with the oracle. */
  private val BootMix: Seq[(Long, Long, Long)] = (0 until BootB).map { b =>
    def odd30(x: Long): Long = ((x * 0x9E3779B9L) & 0x3FFFFFFEL) | 1L
    (odd30(2L * b + 1), odd30(2L * b + 2), (b * 0x85EBCA6BL) & 0x3FFFFFFFL)
  }

  /** Q282: DETERMINISTIC POISSON BOOTSTRAP — a distribution-free
    * standard error for the mean order value in ONE PASS: each of
    * B = 32 resamples weights every order w ~ Poisson(1), the
    * single-pass approximation of sampling-with-replacement that
    * (unlike the classic bootstrap's B index draws) needs no global
    * indexing and map-side-combines — THE bootstrap form that works
    * on a 100 TB shard set. Weights are derived, not random: ONE md5
    * per row splits into two 32-bit halves and the per-resample
    * multiply-shift mix ([[BootMix]], the q261 hash-family
    * discipline) yields the B uniforms — a per-(row, b) md5
    * formulation measured 12.4 s at sf0.1 vs ~1 s for the mix
    * (NOTES) — each inverted through the Poisson(1) CDF thresholds
    * ([[PoissonThresh32]] — exact shared literals), so both engines
    * draw the identical resamples (the q62/q93 no-rand determinism
    * rule extended to resampling). The spread of the 32 published
    * resample means IS the standard-error estimate a parametric-
    * assumption-free pipeline gate wants.
    *
    * Exactness: weights are exact integers (8 threshold compares per
    * draw; mix stays in BIGINT — the 30-bit-odd q261 argument); Σw
    * and Σw·cents are exact. Σw·cents ~ 7e19 exceeds BIGINT at
    * 100 TB, but a DECIMAL(38) accumulator put 32 BigDecimal sums on
    * the hot path (measured ~6 s at sf0.1): instead cents splits
    * radix-10⁴ into (hi, lo) and each resample carries TWO long sums
    * (Σw·hi ≤ 4.8e4·N, Σw·lo ≤ 8e4·N — inside 2⁶³ to N ~ 1e14 rows,
    * documented headroom), recombined into DECIMAL(38) only on the
    * 32-row result and published as STRING per the q256 rule; each
    * resample mean is the half-up micro idiom.
    *
    * Scale shape: a PIPELINED per-row explode over the B resample
    * ids feeding the partial aggregate in the same task — the B×
    * rows exist only inside the operator pipeline, the exchange
    * carries 32 groups × partitions partials (a first cut kept all
    * 2·B sums as one 96-field wide aggregate and fell out of
    * whole-stage codegen — interpreted eval measured ~5 s at sf0.1;
    * the small per-(row, b) expression keeps codegen on, NOTES).
    * 1 md5 + B mul-adds per row either way. */
  def poissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val vals = Tables.orders(spark, dir).select(
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long").as("cents"),
      md5(col("o_orderkey").cast("string")).as("h"))
      .withColumn("v1", expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("v2", expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)"))
      .withColumn("chi", expr("cents div 10000"))
      .withColumn("clo", expr("cents % 10000"))
    val ma = typedlit(BootMix.map(_._1).toArray)
    val mb = typedlit(BootMix.map(_._2).toArray)
    val mc = typedlit(BootMix.map(_._3).toArray)
    val exploded = vals
      .select(col("chi"), col("clo"), col("v1"), col("v2"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("b"))
      .withColumn("u",
        (element_at(ma, col("b") + 1) * col("v1")
          + element_at(mb, col("b") + 1) * col("v2")
          + element_at(mc, col("b") + 1)).bitwiseAND(lit(4294967295L)))
      .withColumn("w", expr(PoissonThresh32
        .map(t => s"(CASE WHEN u >= ${t}L THEN 1 ELSE 0 END)")
        .mkString(" + ")).cast("long"))
    exploded.groupBy(col("b"))
      .agg(sum(col("w")).cast("long").as("n_eff"),
        sum(col("w") * col("chi")).cast("long").as("sh"),
        sum(col("w") * col("clo")).cast("long").as("sl"))
      .withColumn("s", (d38(col("sh")) * 10000 + col("sl")).cast("decimal(38,0)"))
      .select(col("b").cast("long").as("resample"),
        col("n_eff"),
        col("s").cast("string").as("sum_cents"),
        // n_eff = 0 is a ~e⁻ᴺ event but would be an ANSI division
        // error — NULL mean on both engines (the family rule)
        when(col("n_eff") > 0,
          expr("(2 * s * 1000000 + n_eff) div (2 * n_eff)").cast("double") / 1000000)
          .as("mean_cents"))
      .orderBy(col("resample"))
  }

  /** Oracle: the explode-and-group formulation (independent of the
    * engine's wide single-pass aggregate — DuckDB runs locally where
    * the B× row expansion is free); the per-resample mix constants
    * ride in as a VALUES list of the same literals. */
  val poissonBootstrapSql: String = {
    val wTerms = PoissonThresh32
      .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
      .mkString("\n       |      + ")
    val mixRows = BootMix.zipWithIndex
      .map { case ((a, bb, c), i) => s"($i, $a, $bb, $c)" }.mkString(", ")
    s"""WITH v AS (SELECT
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS v1,
       |    CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 9, 8)) AS BIGINT) AS v2
       |  FROM orders),
       |mx(b, ma, mb, mc) AS (VALUES $mixRows),
       |u AS (SELECT b, cents,
       |    (ma * v1 + mb * v2 + mc) & 4294967295 AS u
       |  FROM v CROSS JOIN mx),
       |w AS (SELECT b, cents,
       |    $wTerms AS w
       |  FROM u),
       |agg AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
       |    CAST(SUM(CAST(w AS HUGEINT) * cents) AS HUGEINT) AS s
       |  FROM w GROUP BY b)
       |SELECT CAST(b AS BIGINT) AS resample, n_eff,
       |  CAST(s AS VARCHAR) AS sum_cents,
       |  CASE WHEN n_eff > 0 THEN
       |    CAST((2 * s * 1000000 + n_eff) // (2 * n_eff) AS DOUBLE) / 1000000
       |  END AS mean_cents
       |FROM agg ORDER BY resample""".stripMargin
  }

  /** Q284: TUKEY-KRAMER HSD — the post-hoc q223 cannot answer: ANOVA's
    * F says SOME priority's mean order value differs; Tukey-Kramer
    * says WHICH pairs, via the studentized-range statistic
    * q_ij = |ȳᵢ−ȳⱼ| / √(MSW/2·(1/nᵢ+1/nⱼ)) for all 10 priority
    * pairs — the family-wise follow-up every significant omnibus
    * test demands (10 naive t-tests would inflate the error rate;
    * the q scale is what the studentized-range tables correct).
    *
    * Exactness: shares [[priorityCentsPivot]]'s exact sufficient
    * statistics with q223 (single-definition rule) and q223's SSW
    * dag verbatim (same term order); each q_ij is one fixed dag of
    * IEEE ops on the exact (nᵢ, sᵢ, SSW) witnesses. Degenerate
    * MSW ≤ 0 or an empty group ⇒ NULL q on both engines.
    *
    * Scale shape: the one map-side pivot aggregation (row-scale),
    * then a 10-element explode of the single result row. One
    * exchange plus the output sort. */
  def tukeyHsd(spark: SparkSession, dir: String): DataFrame = {
    val piv = priorityCentsPivot(spark, dir)
      .withColumn("n_total", (1 to 5).map(i => col(s"n$i")).reduce(_ + _))
      .withColumn("s_total", (1 to 5).map(i => col(s"s$i")).reduce(_ + _))
    val nD = col("n_total").cast("double")
    val grand = col("s_total").cast("double") / nD
    def term(i: Int): Column = {
      val d = col(s"s$i").cast("double") / col(s"n$i").cast("double") - grand
      col(s"n$i").cast("double") * (d * d)
    }
    val ssb = (1 to 5).map(term).reduce(_ + _)
    val sst = col("ssq").cast("double") -
      col("s_total").cast("double") * col("s_total").cast("double") / nD
    val withMsw = piv
      .withColumn("ssw", sst - ssb)
      .withColumn("msw", col("ssw") / (nD - lit(5.0d)))
    val pairs = for (i <- 1 to 4; j <- (i + 1) to 5) yield {
      val ma = col(s"s$i").cast("double") / col(s"n$i").cast("double")
      val mb = col(s"s$j").cast("double") / col(s"n$j").cast("double")
      struct(
        lit(Priorities(i - 1)).as("g_a"), lit(Priorities(j - 1)).as("g_b"),
        col(s"n$i").as("n_a"), col(s"n$j").as("n_b"),
        // empty-group means pin to NULL (not 0/0 = NaN) on both engines
        when(col(s"n$i") > 0, ma).as("mean_a"),
        when(col(s"n$j") > 0, mb).as("mean_b"),
        when(col("msw") > 0.0 && col(s"n$i") > 0 && col(s"n$j") > 0,
          abs(ma - mb) / sqrt(col("msw") / lit(2.0)
            * (lit(1.0) / col(s"n$i").cast("double")
               + lit(1.0) / col(s"n$j").cast("double")))).as("q_stat"))
    }
    withMsw.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.g_a").as("g_a"), col("p.g_b").as("g_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"),
        col("p.mean_a").as("mean_a"), col("p.mean_b").as("mean_b"),
        col("p.q_stat").as("q_stat"))
      .orderBy(col("g_a"), col("g_b"))
  }

  val tukeyHsdSql: String = {
    val conds = Priorities.zipWithIndex.map { case (p, i) =>
      s"""    CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n${i + 1},
         |    CAST(SUM(CASE WHEN o_orderpriority = '$p'
         |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS s${i + 1}""".stripMargin
    }.mkString(",\n")
    val terms = (1 to 5).map(i =>
      s"CAST(n$i AS DOUBLE) * ((CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) - grand) * (CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) - grand))")
      .mkString("\n    + ")
    val rows = (for (i <- 1 to 4; j <- (i + 1) to 5) yield {
      val (pa, pb) = (Priorities(i - 1), Priorities(j - 1))
      s"""SELECT '$pa' AS g_a, '$pb' AS g_b, n$i AS n_a, n$j AS n_b,
         |  CASE WHEN n$i > 0 THEN CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) END AS mean_a,
         |  CASE WHEN n$j > 0 THEN CAST(s$j AS DOUBLE) / CAST(n$j AS DOUBLE) END AS mean_b,
         |  CASE WHEN msw > 0.0 AND n$i > 0 AND n$j > 0 THEN
         |    ABS(CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE)
         |        - CAST(s$j AS DOUBLE) / CAST(n$j AS DOUBLE))
         |    / SQRT(msw / 2.0 * (1.0 / CAST(n$i AS DOUBLE)
         |                        + 1.0 / CAST(n$j AS DOUBLE)))
         |  END AS q_stat
         |FROM m""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH piv AS (
       |  SELECT
       |$conds,
       |    CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
       |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS ssq
       |  FROM orders),
       |t AS (SELECT *, n1 + n2 + n3 + n4 + n5 AS n_total,
       |    s1 + s2 + s3 + s4 + s5 AS s_total FROM piv),
       |g AS (SELECT *, CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS grand
       |  FROM t),
       |m AS (SELECT *,
       |    ((CAST(ssq AS DOUBLE)
       |       - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE))
       |     - ($terms))
       |    / (CAST(n_total AS DOUBLE) - 5.0) AS msw
       |  FROM g)
       |$rows
       |ORDER BY g_a, g_b""".stripMargin
  }

  /** Q285: DETERMINISTIC PERMUTATION TEST — the hypothesis-test half
    * of the resampling pair q282's bootstrap started (bootstrap
    * answers "how uncertain is the estimate", permutation answers
    * "could the observed GAP be chance"): is the mean document
    * length of English docs different from the rest? Under the null
    * the labels are exchangeable, so each of B = 32 permutations
    * reassigns every doc to a pseudo-group by one fair bit of the
    * q282 multiply-shift mix (top bit — the low bits of a
    * multiply-shift are its weak ones) and recomputes the mean gap;
    * the one-row report publishes the observed gap, how many
    * permuted |gaps| reach it, and the exact mid-less p-value
    * (1 + #extreme)/(B + 1).
    *
    * Exactness: group sums/counts are exact BIGINTs; each gap's
    * micro value is the half-up idiom on the exact cross-product
    * rational (sₐ·n_b − s_b·nₐ)/(nₐ·n_b) — DECIMAL(38,0) internals
    * (sₐ·n_b ~ 1e25 at 100 TB); the extreme count compares micro
    * integers, never floats; p is an exact rational over B+1.
    *
    * Scale shape: the q282 pipelined explode → map-side combine on
    * 32 keys (1 md5 + B mul-adds per row), ONE observed-gap
    * aggregation over the same scan, a 32-row × 1-row broadcast
    * join, a 1-row reduce. */
  def permutationTest(spark: SparkSession, dir: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select((col("lang") === "en").as("is_en"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("v1", expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("v2", expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)"))
    val obs = docs.agg(
      sum(when(col("is_en"), 1L).otherwise(0L)).cast("long").as("na"),
      sum(when(col("is_en"), col("n_chars")).otherwise(0L)).cast("long").as("sa"),
      sum(when(!col("is_en"), 1L).otherwise(0L)).cast("long").as("nb"),
      sum(when(!col("is_en"), col("n_chars")).otherwise(0L)).cast("long").as("sb"))
    val ma = typedlit(BootMix.map(_._1).toArray)
    val mb = typedlit(BootMix.map(_._2).toArray)
    val mc = typedlit(BootMix.map(_._3).toArray)
    val perms = docs
      .select(col("n_chars"), col("v1"), col("v2"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("b"))
      .withColumn("u",
        (element_at(ma, col("b") + 1) * col("v1")
          + element_at(mb, col("b") + 1) * col("v2")
          + element_at(mc, col("b") + 1)).bitwiseAND(lit(4294967295L)))
      .withColumn("ga", col("u") >= 2147483648L)
      .groupBy(col("b"))
      .agg(
        sum(when(col("ga"), 1L).otherwise(0L)).cast("long").as("na"),
        sum(when(col("ga"), col("n_chars")).otherwise(0L)).cast("long").as("sa"),
        sum(when(!col("ga"), 1L).otherwise(0L)).cast("long").as("nb"),
        sum(when(!col("ga"), col("n_chars")).otherwise(0L)).cast("long").as("sb"))
    // an empty side (a ~2⁻ᴺ event for the permuted halves) pins the
    // gap to NULL rather than an ANSI division error (both engines)
    def absGap6(sa: String, na: String, sb: String, nb: String): Column =
      when(col(na) > 0 && col(nb) > 0,
        expr(s"(2 * abs(CAST($sa AS DECIMAL(38,0)) * $nb " +
          s"- CAST($sb AS DECIMAL(38,0)) * $na) * 1000000 " +
          s"+ CAST($na AS DECIMAL(38,0)) * $nb) " +
          s"div (2 * CAST($na AS DECIMAL(38,0)) * $nb)"))
    val obsG = obs.withColumn("obs_abs6", absGap6("sa", "na", "sb", "nb"))
      .withColumn("obs_sign",
        signum((d38(col("sa")) * col("nb") - d38(col("sb")) * col("na"))
          .cast("double")).cast("long"))
    val permG = perms.withColumn("perm_abs6", absGap6("sa", "na", "sb", "nb"))
    permG.crossJoin(broadcast(obsG.select(
        col("na").as("n_en"), col("nb").as("n_other"),
        col("obs_abs6"), col("obs_sign"))))
      .agg(
        max(col("n_en")).as("n_en"),
        max(col("n_other")).as("n_other"),
        count(lit(1)).cast("long").as("n_perms"),
        max(col("obs_abs6") * col("obs_sign")).as("obs6"),
        sum(when(col("perm_abs6") >= col("obs_abs6"), 1L).otherwise(0L))
          .cast("long").as("n_extreme"))
      .select(col("n_en"), col("n_other"), col("n_perms"),
        (col("obs6").cast("double") / 1000000).as("obs_gap"),
        col("n_extreme"),
        (expr(s"(2 * (1 + n_extreme) * 1000000 + (n_perms + 1)) " +
          s"div (2 * (n_perms + 1))").cast("double") / 1000000).as("p_value"))
  }

  val permutationTestSql: String = {
    val mixRows = BootMix.zipWithIndex
      .map { case ((a, bb, c), i) => s"($i, $a, $bb, $c)" }.mkString(", ")
    s"""WITH d AS (SELECT lang = 'en' AS is_en, n_chars,
       |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS v1,
       |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) AS v2
       |  FROM documents WHERE text IS NOT NULL),
       |obs AS (SELECT
       |    CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(SUM(CASE WHEN is_en THEN n_chars ELSE 0 END) AS BIGINT) AS sa,
       |    CAST(SUM(CASE WHEN NOT is_en THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN NOT is_en THEN n_chars ELSE 0 END) AS BIGINT) AS sb
       |  FROM d),
       |mx(b, ma, mb, mc) AS (VALUES $mixRows),
       |pg AS (SELECT b,
       |    CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(SUM(CASE WHEN ga THEN n_chars ELSE 0 END) AS BIGINT) AS sa,
       |    CAST(SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN NOT ga THEN n_chars ELSE 0 END) AS BIGINT) AS sb
       |  FROM (SELECT b, n_chars,
       |      ((ma * v1 + mb * v2 + mc) & 4294967295) >= 2147483648 AS ga
       |    FROM d CROSS JOIN mx)
       |  GROUP BY b),
       |og AS (SELECT na AS n_en, nb AS n_other,
       |    CASE WHEN na > 0 AND nb > 0 THEN
       |      (2 * abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) * 1000000
       |       + CAST(na AS HUGEINT) * nb) // (2 * CAST(na AS HUGEINT) * nb)
       |    END AS obs_abs6,
       |    CASE WHEN CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na >= 0
       |         THEN 1 ELSE -1 END AS obs_sign
       |  FROM obs),
       |pp AS (SELECT b,
       |    CASE WHEN na > 0 AND nb > 0 THEN
       |      (2 * abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) * 1000000
       |       + CAST(na AS HUGEINT) * nb) // (2 * CAST(na AS HUGEINT) * nb)
       |    END AS perm_abs6
       |  FROM pg)
       |SELECT og.n_en, og.n_other,
       |  CAST(COUNT(*) AS BIGINT) AS n_perms,
       |  CAST(MAX(og.obs_abs6 * og.obs_sign) AS DOUBLE) / 1000000 AS obs_gap,
       |  CAST(SUM(CASE WHEN pp.perm_abs6 >= og.obs_abs6 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_extreme,
       |  CAST((2 * (1 + SUM(CASE WHEN pp.perm_abs6 >= og.obs_abs6 THEN 1 ELSE 0 END))
       |        * 1000000 + (COUNT(*) + 1))
       |    // (2 * (COUNT(*) + 1)) AS DOUBLE) / 1000000 AS p_value
       |FROM pp CROSS JOIN og
       |GROUP BY og.n_en, og.n_other""".stripMargin
  }

  /** Q286: COHEN'S d / HEDGES' g — the EFFECT SIZE the test battery
    * mostly lacks: q211/q223 say whether 1-URGENT and 5-LOW order
    * values differ *significantly* (which any difference does at
    * 100 TB row counts); d = (ȳ₁−ȳ₂)/s_pooled says whether the
    * difference is *big*, on the scale every power analysis and
    * meta-analysis uses, with Hedges' small-sample correction
    * g = d·(1 − 3/(4·df − 1)).
    *
    * Exactness: the two groups' (n, Σy, Σy²) are exact
    * (BIGINT/DECIMAL(38) — the q223 sufficient-statistics
    * discipline); s²_pooled = (ss₁ + ss₂)/df with ssᵢ = Σy² − Sᵢ²/nᵢ,
    * and d/g are ONE fixed dag of IEEE ops on the exact witnesses.
    * Degenerate df ≤ 0 or zero pooled variance ⇒ NULL on both
    * engines; the Hedges factor enters as the exact rational
    * (4·df − 4)/(4·df − 1) in doubles.
    *
    * Scale shape: ONE map-side-combinable two-group aggregation
    * (pushdown-prunable priority filter), single-row output. */
  def cohensD(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("long")
    val agg = Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select((col("o_orderpriority") === "1-URGENT").as("g1"), cents.as("y"))
      .agg(
        sum(when(col("g1"), 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("g1"), col("y")).otherwise(0L)).cast("long").as("s1"),
        sum(when(col("g1"), col("y").cast("decimal(38,0)") * col("y")).otherwise(0))
          .cast("decimal(38,0)").as("q1"),
        sum(when(!col("g1"), 1L).otherwise(0L)).cast("long").as("n2"),
        sum(when(!col("g1"), col("y")).otherwise(0L)).cast("long").as("s2"),
        sum(when(!col("g1"), col("y").cast("decimal(38,0)") * col("y")).otherwise(0))
          .cast("decimal(38,0)").as("q2"))
    def nd(c: String) = col(c).cast("double")
    val ss1 = col("q1").cast("double") - nd("s1") * nd("s1") / nd("n1")
    val ss2 = col("q2").cast("double") - nd("s2") * nd("s2") / nd("n2")
    val df = nd("n1") + nd("n2") - lit(2.0)
    val sp2 = (ss1 + ss2) / df
    val d = (nd("s1") / nd("n1") - nd("s2") / nd("n2")) / sqrt(sp2)
    agg.select(
      col("n1"), col("s1"), col("n2"), col("s2"),
      col("q1").cast("string").as("sumsq_1"),
      col("q2").cast("string").as("sumsq_2"),
      when(col("n1") > 1 && col("n2") > 1 && sp2 > 0.0, d).as("cohens_d"),
      when(col("n1") > 1 && col("n2") > 1 && sp2 > 0.0,
        d * ((lit(4.0) * df - 4.0) / (lit(4.0) * df - 1.0))).as("hedges_g"))
  }

  val cohensDSql: String =
    """WITH agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
      |           * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS HUGEINT) AS q1,
      |    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS s2,
      |    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
      |      THEN CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
      |           * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS HUGEINT) AS q2
      |  FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |w AS (SELECT *,
      |    -- the Σy² witnesses exceed 2^53 at sf0.1: DuckDB 1.0.0's
      |    -- direct HUGEINT→DOUBLE cast is not correctly rounded up
      |    -- there (1-ulp error caught by the round-10 depth sweep),
      |    -- while VARCHAR→DOUBLE (strtod) is — route through it, the
      |    -- exact conversion Spark's Decimal.toDouble performs
      |    CAST(CAST(q1 AS VARCHAR) AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS ss1,
      |    CAST(CAST(q2 AS VARCHAR) AS DOUBLE)
      |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS ss2,
      |    CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0 AS df
      |  FROM agg),
      |z AS (SELECT *, (ss1 + ss2) / df AS sp2,
      |    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |     - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS md
      |  FROM w)
      |SELECT n1, s1, n2, s2,
      |  CAST(q1 AS VARCHAR) AS sumsq_1, CAST(q2 AS VARCHAR) AS sumsq_2,
      |  CASE WHEN n1 > 1 AND n2 > 1 AND sp2 > 0.0 THEN md / SQRT(sp2) END AS cohens_d,
      |  CASE WHEN n1 > 1 AND n2 > 1 AND sp2 > 0.0 THEN
      |    md / SQRT(sp2) * ((4.0 * df - 4.0) / (4.0 * df - 1.0))
      |  END AS hedges_g
      |FROM z""".stripMargin

  /** Q287: HOLT IN-SAMPLE FORECAST ACCURACY (MASE) — the evaluation
    * q276 publishes no number for: was the trend model worth fitting?
    * The fold that runs Holt's recurrence ALSO accumulates the
    * one-step-ahead absolute errors |yₜ − (l+b)ₜ₋₁| (each forecast
    * made strictly before its observation — honest in-sample
    * evaluation), and MASE divides by the naive-forecast MAE
    * Σ|yₜ − yₜ₋₁| over the same steps (Hyndman-Koehler 2006): MASE
    * < 1 ⇔ the model beats "predict last month". The q276
    * recurrence-replay verification extends to the ERROR
    * accumulator: the same sequential dag on both engines, bit-exact.
    *
    * Exactness: naive errors are exact BIGINTs; Holt errors are the
    * deterministic sequential-fold doubles (HOF fold ≡ recursive
    * CTE); MASE is one division of the two accumulated values.
    *
    * Scale shape: the q213/q245/q276 chain — three exchanges, no
    * joins; n ≥ 3 so at least one evaluated step exists. */
  def holtMase(spark: SparkSession, dir: String): DataFrame = {
    val arrs = nationMonthly(spark, dir).groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("m"), col("rev")))).as("xs"))
      .filter(size(col("xs")) >= 3)
    arrs.select(col("nation"),
        size(col("xs")).cast("long").as("n_months"),
        expr("""aggregate(slice(xs, 3, size(xs) - 2),
               |  named_struct(
               |    'l', CAST(element_at(xs, 2).rev AS DOUBLE),
               |    'b', CAST(element_at(xs, 2).rev AS DOUBLE)
               |         - CAST(element_at(xs, 1).rev AS DOUBLE),
               |    'sae', CAST(0 AS DOUBLE)),
               |  (acc, x) -> named_struct(
               |    'l', 0.2D * CAST(x.rev AS DOUBLE) + 0.8D * (acc.l + acc.b),
               |    'b', 0.1D * ((0.2D * CAST(x.rev AS DOUBLE)
               |                  + 0.8D * (acc.l + acc.b)) - acc.l)
               |         + 0.9D * acc.b,
               |    'sae', acc.sae + abs(CAST(x.rev AS DOUBLE) - (acc.l + acc.b))))"""
          .stripMargin).as("st"),
        expr("""aggregate(sequence(3, size(xs)), 0L, (acc, i) ->
               |  acc + abs(element_at(xs, i).rev
               |            - element_at(xs, i - 1).rev))""".stripMargin)
          .as("naive_sae"))
      .select(col("nation"), col("n_months"),
        col("st.sae").as("holt_sae"),
        col("naive_sae"),
        when(col("naive_sae") > 0,
          col("st.sae") / col("naive_sae").cast("double")).as("mase"))
      .orderBy(col("nation"))
  }

  val holtMaseSql: String =
    s"""WITH RECURSIVE $nationMonthlySqlCte,
       |ser AS (SELECT nation, CAST(rev AS DOUBLE) AS y, rev,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY nation ORDER BY m) AS INT) AS i
       |  FROM monthly),
       |cnt AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months
       |  FROM ser GROUP BY 1 HAVING COUNT(*) >= 3),
       |r AS (
       |  SELECT s2.nation, 2 AS i, s2.y AS l, s2.y - s1.y AS b,
       |    CAST(0 AS DOUBLE) AS sae
       |  FROM ser s1 JOIN ser s2 ON s1.nation = s2.nation
       |    AND s1.i = 1 AND s2.i = 2
       |  UNION ALL
       |  SELECT r.nation, r.i + 1,
       |    0.2 * s.y + 0.8 * (r.l + r.b),
       |    0.1 * ((0.2 * s.y + 0.8 * (r.l + r.b)) - r.l) + 0.9 * r.b,
       |    r.sae + abs(s.y - (r.l + r.b))
       |  FROM r JOIN ser s ON s.nation = r.nation AND s.i = r.i + 1),
       |nv AS (SELECT a.nation,
       |    CAST(SUM(abs(a.rev - b.rev)) AS BIGINT) AS naive_sae
       |  FROM ser a JOIN ser b ON a.nation = b.nation AND b.i = a.i - 1
       |  WHERE a.i >= 3 GROUP BY 1)
       |SELECT c.nation, c.n_months, r.sae AS holt_sae, nv.naive_sae,
       |  CASE WHEN nv.naive_sae > 0 THEN r.sae / CAST(nv.naive_sae AS DOUBLE)
       |  END AS mase
       |FROM cnt c
       |JOIN r ON r.nation = c.nation AND r.i = c.n_months
       |JOIN nv ON nv.nation = c.nation
       |ORDER BY c.nation""".stripMargin

  def queries: Map[String, Relational.Q] = Map(
    "q286_cohens_d" -> (cohensD _),
    "q287_holt_mase" -> (holtMase _),
    "q285_permutation_test" -> (permutationTest _),
    "q284_tukey_hsd" -> (tukeyHsd _),
    "q282_poisson_bootstrap" -> (poissonBootstrap _),
    "q279_pearson_residuals" -> (pearsonResiduals _),
    "q280_cochran_q" -> (cochranQ _),
    "q275_brier_decomposition" -> (brierDecomposition _),
    "q276_holt_linear" -> (holtLinear _),
    "q268_kendall_tau" -> (kendallTau _),
    "q269_jonckheere_trend" -> (jonckheereTrend _),
    "q271_fleiss_kappa" -> (fleissKappa _),
    "q256_cochran_armitage" -> (cochranArmitage _),
    "q245_spearman_monthly" -> (spearmanMonthly _),
    "q246_brown_forsythe" -> (brownForsythe _),
    "q247_pettitt_changepoint" -> (pettittTest _),
    "q248_isotonic_calibration" -> (isotonicCalibration _),
    "q253_durbin_watson" -> (durbinWatson _),
    "q242_mcnemar" -> (mcnemarTest _),
    "q240_wasserstein_drift" -> (wassersteinDrift _),
    "q241_quantile_normalize" -> (quantileNormalize _),
    "q237_kruskal_wallis" -> (kruskalWallis _),
    "q229_trimmed_mean" -> (trimmedMean _),
    "q230_wilson_interval" -> (wilsonInterval _),
    "q231_hodges_lehmann" -> (hodgesLehmann _),
    "q223_anova_oneway" -> (anovaOneWay _),
    "q219_theil_sen" -> (theilSen _),
    "q213_mann_kendall" -> (mannKendall _),
    "q211_mann_whitney" -> (mannWhitney _),
    "q212_ks_two_sample" -> (ksTwoSample _),
    "q204_l_diversity" -> (lDiversity _),
    "q172_auc_scorer" -> (aucScorer _),
    "q165_deletion_cascade" -> (deletionCascade _),
    "q79_constraint_suite" -> (constraintSuite _),
    "q80_snapshot_diff" -> (snapshotDiff _),
    "q141_winsorized_stats" -> (winsorizedStats _),
    "q143_k_anonymity" -> (kAnonymity _),
    "q146_chi_square" -> (chiSquareAudit _),
    "q147_mad_outliers" -> (madOutliers _),
    "q148_benford_audit" -> (benfordAudit _),
    "q156_calibration_table" -> (calibrationTable _),
    "q157_cohens_kappa" -> (cohensKappa _),
  )

  def oracles: Map[String, String] = Map(
    "q286_cohens_d" -> cohensDSql,
    "q287_holt_mase" -> holtMaseSql,
    "q285_permutation_test" -> permutationTestSql,
    "q284_tukey_hsd" -> tukeyHsdSql,
    "q282_poisson_bootstrap" -> poissonBootstrapSql,
    "q279_pearson_residuals" -> pearsonResidualsSql,
    "q280_cochran_q" -> cochranQSql,
    "q275_brier_decomposition" -> brierDecompositionSql,
    "q276_holt_linear" -> holtLinearSql,
    "q268_kendall_tau" -> kendallTauSql,
    "q269_jonckheere_trend" -> jonckheereTrendSql,
    "q271_fleiss_kappa" -> fleissKappaSql,
    "q245_spearman_monthly" -> spearmanMonthlySql,
    "q246_brown_forsythe" -> brownForsytheSql,
    "q248_isotonic_calibration" -> isotonicCalibrationSql,
    "q253_durbin_watson" -> durbinWatsonSql,
    "q256_cochran_armitage" -> cochranArmitageSql,
    "q247_pettitt_changepoint" -> pettittTestSql,
    "q242_mcnemar" -> mcnemarTestSql,
    "q240_wasserstein_drift" -> wassersteinDriftSql,
    "q241_quantile_normalize" -> quantileNormalizeSql,
    "q237_kruskal_wallis" -> kruskalWallisSql,
    "q229_trimmed_mean" -> trimmedMeanSql,
    "q230_wilson_interval" -> wilsonIntervalSql,
    "q231_hodges_lehmann" -> hodgesLehmannSql,
    "q223_anova_oneway" -> anovaOneWaySql,
    "q219_theil_sen" -> theilSenSql,
    "q213_mann_kendall" -> mannKendallSql,
    "q211_mann_whitney" -> mannWhitneySql,
    "q212_ks_two_sample" -> ksTwoSampleSql,
    "q204_l_diversity" -> lDiversitySql,
    "q79_constraint_suite" -> constraintSuiteSql,
    "q80_snapshot_diff" -> snapshotDiffSql,
    "q141_winsorized_stats" -> winsorizedStatsSql,
    "q143_k_anonymity" -> kAnonymitySql,
    "q146_chi_square" -> chiSquareAuditSql,
    "q147_mad_outliers" -> madOutliersSql,
    "q148_benford_audit" -> benfordAuditSql,
    "q156_calibration_table" -> calibrationTableSql,
    "q157_cohens_kappa" -> cohensKappaSql,
    "q165_deletion_cascade" -> deletionCascadeSql,
    "q172_auc_scorer" -> aucScorerSql,
  )
}
