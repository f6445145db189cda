package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.Parity._

/** Sink/source operators (SURVEY §2.1): partitioned+clustered parquet
  * layout with partition-pruned readback (S5/S7, README.md:86-87), and
  * the SQL entry surface (S8 CTAS-style views, README.md:253).
  */
object Storage {

  /** Q47: partitioned write + pruned read. Writes orders partitioned by
    * year with within-partition clustering on custkey (the BigQuery
    * partition+cluster layout, README.md:86-87), reads back ONE
    * partition, and aggregates. The readback scan must show
    * PartitionFilters (pruning) — asserted by StorageSpec; values are
    * oracle-checked against the unpartitioned source. */
  /** Per-process scratch path, removed on JVM exit: a fixed name would
    * let a concurrent Verify/Bench JVM overwrite partitions mid-read,
    * and a pid-suffixed path without cleanup would accumulate a full
    * orders copy per driver round. */
  private[graft] lazy val scratchDir: String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_orders_partitioned_" +
      ProcessHandle.current().pid()
    graft.Scratch.deleteOnExit(path)
    path
  }

  def partitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir
    Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")))
      .repartition(col("order_year"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite")
      .partitionBy("order_year")
      .parquet(out)
    spark.read.parquet(out)
      .filter(col("order_year") === 1995)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        dec2(sum(money(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val partitionedPruneSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM orders
      |WHERE EXTRACT(year FROM o_orderdate) = 1995
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Q48: the SQL entry surface — temp views + a multi-join analytic
    * statement run wholly through spark.sql (the engine's BigQuery-SQL
    * equivalent, README.md:251-266). Same text runs on DuckDB. */
  val revenueByNationSql: String =
    """SELECT n_name, COUNT(DISTINCT c_custkey) AS n_customers,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus <> 'P'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    spark.sql(revenueByNationSql)
  }

  /** Q56: bucketed co-located join (S7's clustering taken to its real
    * Spark conclusion). orders and customer are written ONCE as tables
    * bucketed 8-ways on the join key (one file per bucket, sorted
    * within), so the join needs NO shuffle and NO sort on either side —
    * the shuffle that dominates every orders⋈customer query here
    * disappears. At 100 TB this is the difference between re-shuffling
    * the fact table per query and reading co-located buckets; the
    * bucketed layout is the warehouse-side twin of q47's partition
    * pruning. StorageSpec asserts the exchange-free plan; values are
    * oracle-checked against the unbucketed source. */
  private[graft] def bucketedNames(spark: SparkSession, dir: String): (String, String) = {
    // one table pair per (process, sf dir): Verify and Bench reuse them
    // across invocations instead of rewriting per query call
    val tag = s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
    (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
  }

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ordersT, customerT) = bucketedNames(spark, dir)
    // guard on BOTH tables: a build that died between the two
    // saveAsTable calls must rebuild, not serve the torso forever
    if (!spark.catalog.tableExists(ordersT) || !spark.catalog.tableExists(customerT)) {
      Seq(ordersT, customerT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq(ordersT, customerT).foreach(t => graft.Scratch.deleteOnExit(s"$wh/$t"))
      Tables.orders(spark, dir)
        .repartition(8, col("o_custkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(ordersT)
      Tables.customer(spark, dir)
        .repartition(8, col("c_custkey"))
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(customerT)
    }
    // merge hint: at test scale the planner would broadcast the tiny
    // customer side, silently bypassing the bucketed layout this query
    // demonstrates; SMJ over co-bucketed tables is the shape that holds
    // at 100 TB (no exchange on either side — asserted in StorageSpec)
    spark.table(ordersT).hint("merge")
      .join(spark.table(customerT), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        dec2(sum(money(col("o_totalprice")))).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val bucketedJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Q68: small-file compaction — THE operational storage problem at
    * 100 TB (a streaming or per-trigger ingest lands thousands of
    * KB-sized files; scans then pay one task + one footer read per
    * file). The operator rewrites a fragmented dataset into few
    * range-clustered files: `repartitionByRange(o_orderdate)` gives
    * globally non-overlapping date ranges per file, so min/max footer
    * stats prune date predicates across files — compaction and
    * clustering in one pass. The harness query builds a 64-fragment
    * copy of orders, compacts it to 4 range-clustered files, and
    * aggregates the compacted data; the oracle computes the same
    * aggregate from the original table, proving the rewrite preserved
    * content exactly. StorageSpec asserts the file counts and the
    * non-overlapping range layout.
    *
    * The 64-fragment INPUT state is built once per (process, corpus)
    * behind a _SUCCESS guard (the IVF-index discipline) — it is the
    * fixture, not the operator; rebuilding it per invocation made
    * every bench rep pay the setup write and evict page cache for
    * its neighbors. The compaction rewrite itself runs every call. */
  // Scratch.deleteOnExit is idempotent per path, so per-call
  // registration from this def (bench reps re-enter it) adds exactly
  // one shutdown hook per distinct dir
  private[graft] def fragmentedDir(dir: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_fragmented_" +
      s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
    graft.Scratch.deleteOnExit(p)
    p
  }
  private[graft] lazy val compactedDir: String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_compacted_" +
      ProcessHandle.current().pid()
    graft.Scratch.deleteOnExit(p)
    p
  }

  def compaction(spark: SparkSession, dir: String): DataFrame = {
    // simulate the ingest-fragmented state: 64 small files, built once
    // per (process, corpus); _SUCCESS-guarded so a half-written fixture
    // is rebuilt, never compacted as truth
    val fragged = fragmentedDir(dir)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$fragged/_SUCCESS"))) {
      graft.Scratch.deleteNow(fragged)
      Tables.orders(spark, dir).repartition(64)
        .write.mode("overwrite").parquet(fragged)
    }
    // compact: few files, globally range-clustered on the scan predicate
    // column so footer min/max prune across AND within files
    spark.read.parquet(fragged)
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(compactedDir)
    spark.read.parquet(compactedDir)
      .withColumn("order_year", year(col("o_orderdate")))
      .groupBy(col("order_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        dec2(sum(money(col("o_totalprice")))).as("total"))
      .orderBy(col("order_year"))
  }

  val compactionSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin

  /** Q69: schema-evolution read — a corpus written over months has
    * files from multiple schema versions side by side; the engine must
    * read them as ONE table with NULLs for columns a version lacks
    * (the reference's schema_version column exists for exactly this,
    * README.md:82). Two exported snapshots (v1: 3 columns; v2: adds
    * n_chars + a source tag) are read with mergeSchema; the oracle
    * reads the same files with union_by_name. Export paths carry the
    * sf basename (the oracle text pins sf0.01 — the driver's
    * correctness SF) so Verify and Bench runs cannot clobber each
    * other's snapshots mid-compare. */
  def schemaEvolutionPaths(dir: String): (String, String) = {
    val sf = dir.stripSuffix("/").split('/').last
    (s"/tmp/graft_q69_v1_$sf", s"/tmp/graft_q69_v2_$sf")
  }

  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = schemaEvolutionPaths(dir)
    val d = Tables.documents(spark, dir)
    // staged publish (fixed oracle-read paths): swap, don't overwrite in place
    graft.Scratch.publishStaged(v1)(stage =>
      d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").parquet(stage))
    graft.Scratch.publishStaged(v2)(stage =>
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"),
          lit("v2").as("source_tag"))
        .write.mode("overwrite").parquet(stage))
    spark.read.option("mergeSchema", true).parquet(v1, v2)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_with_chars"),
        count(col("source_tag")).as("n_v2"),
        coalesce(sum(col("n_chars")), lit(0L)).as("chars_total"))
      .orderBy(col("lang"))
  }

  val schemaEvolutionSql: String = {
    val (v1, v2) = ("/tmp/graft_q69_v1_sf0.01", "/tmp/graft_q69_v2_sf0.01")
    s"""SELECT lang, COUNT(*) AS n_docs,
      |  COUNT(n_chars) AS n_with_chars,
      |  COUNT(source_tag) AS n_v2,
      |  CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS chars_total
      |FROM read_parquet(['$v1/*.parquet', '$v2/*.parquet'], union_by_name=true)
      |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Q75: incremental merge-upsert (SCD type 1) — the warehouse load
    * step the reference's staging→table promotion implies
    * (`README.md:229-249`): a staging frame of changed rows replaces
    * matching base rows by key and the result is re-aggregated. Here
    * staging is the deterministic slice o_orderkey % 10 == 0 with a
    * repriced total (exact decimal round at scale 2) and status 'U'.
    *
    * Expressed as base ANTI-JOIN staging-keys UNION staging — the
    * merge semantics without a transactional table format (Spark's
    * MERGE INTO needs Delta/Iceberg, absent here by design). At scale
    * the anti-join is a key-partitioned SMJ; a small change-set side
    * broadcasts, and a lakehouse deployment swaps this operator for
    * MERGE INTO with identical semantics. The oracle is an
    * independent formulation: a per-row CASE on the same key
    * predicate, never a join. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
    val repriced = (money(col("o_totalprice")) * lit(BigDecimal("1.1")))
      .cast(org.apache.spark.sql.types.DecimalType(18, 2))
      .cast("double")
    val staging = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", repriced)
      .withColumn("o_orderstatus", lit("U"))
    base
      .join(staging.select(col("o_orderkey").as("sk")),
        col("o_orderkey") === col("sk"), "left_anti")
      .unionByName(staging)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        dec2(sum(money(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val mergeUpsertSql: String =
    """SELECT
      |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CASE WHEN o_orderkey % 10 = 0
      |    THEN CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DECIMAL(18,2)) AS DECIMAL(18,2))
      |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** Q76: subquery SQL surface — correlated scalar subqueries plus
    * EXISTS, run as one statement through spark.sql (same text on
    * DuckDB): customers strictly above their nation's average balance
    * that have at least one finished order. The above-average test is
    * the cross-multiplied integer/decimal form `bal * n > sum` —
    * exact in both engines, where a floating AVG could flip a
    * customer sitting on the boundary. Catalyst decorrelates the
    * scalar subqueries into aggregate-then-join and the EXISTS into a
    * semi-join — the plan a hand-written join would give, which is
    * the point of the surface. */
  val subqueriesSql: String =
    """SELECT c_nationkey, COUNT(*) AS n_above
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,2))
      |      * (SELECT COUNT(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c3
      |       WHERE c3.c_nationkey = c.c_nationkey)
      |  AND EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def subqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(subqueriesSql)
  }

  /** Morton (z-order) interleave of the low 16 bits of two dimension
    * columns — a static fold of bitwise ops, fully codegen'd; no UDF.
    * Bit i of `a` lands at position 2i, bit i of `b` at 2i+1. */
  private[graft] def morton16(a: Column, b: Column): Column = {
    val a16 = a.bitwiseAND(lit(0xFFFFL))
    val b16 = b.bitwiseAND(lit(0xFFFFL))
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(a16.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(b16.bitwiseAND(lit(1L << i)), i + 1))
    }
  }

  private[graft] lazy val zorderDir: String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_" +
      ProcessHandle.current().pid()
    graft.Scratch.deleteOnExit(p)
    p
  }

  /** Q84: Z-ORDER compaction — q68's range clustering generalized to
    * TWO scan dimensions. A single-column sort gives perfect file
    * skipping on that column and none on any other; interleaving the
    * bits of (custkey, order day) into a Morton code and range-
    * clustering on it gives every file a bounded rectangle in BOTH
    * dimensions, so footer min/max stats prune predicates on either
    * (the multi-dimensional clustering Delta/Iceberg OPTIMIZE ZORDER
    * performs, here as a plain Spark rewrite). The z-column is a pure
    * bitwise expression fold — codegen'd, no UDF — and is dropped
    * before the write. The oracle proves content preservation;
    * StorageSpec asserts per-file spans contract in both dimensions.
    *
    * Each dimension is min/max-normalized to the full 16-bit range
    * BEFORE interleaving — raw values would let the wider dimension
    * monopolize the high z bits and the curve degenerates to a
    * single-column sort (observed: un-normalized custkey spans didn't
    * contract at all). The min/max pre-pass is a 4-value aggregate;
    * collecting it is driver-side control flow over a bounded result,
    * the same contract as ChampionModel.walkForwardFolds.
    *
    * Scale: identical cost shape to q68 (one stats pass + one
    * repartitionByRange pass); runs per partition as a maintenance
    * job. */
  def zorderCompaction(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val day = datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
      .cast("long")
    val stats = orders.agg(
      min(col("o_custkey")), max(col("o_custkey")), min(day), max(day)).head()
    // Column./ is double division; the product stays far under 2^53
    // (needs range * 65535 < 9e15), so the floor-div is exact
    def scale16(c: Column, lo: Long, hi: Long): Column =
      floor(((c - lit(lo)) * lit(65535L)) / lit(math.max(hi - lo, 1L))).cast("long")
    val z = morton16(
      scale16(col("o_custkey"), stats.getLong(0), stats.getLong(1)),
      scale16(day, stats.getLong(2), stats.getLong(3)))
    orders.withColumn("zval", z)
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions(col("zval"))
      .drop("zval")
      .write.mode("overwrite").parquet(zorderDir)
    spark.read.parquet(zorderDir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        dec2(sum(money(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val zorderCompactionSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // lazy val: deleteOnExit registers ONE shutdown hook (a def would
  // stack one per bench rep — same trap as q68's scratch dirs)
  private[graft] lazy val aggTableBase: String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_aggtable_" +
      ProcessHandle.current().pid()
    graft.Scratch.deleteOnExit(p)
    p
  }
  private[graft] def aggTablePaths(dir: String): (String, String) = {
    val sf = dir.stripSuffix("/").split('/').last
    (s"$aggTableBase/base_$sf", s"$aggTableBase/delta_$sf")
  }

  /** Q169: MERKLE CORPUS MANIFEST — content-addressed freeze
    * manifest, the cryptographic upgrade of q125's count/sum ledger:
    * per source, the Merkle-style root md5(concat(sorted leaf md5s))
    * over document contents, plus a corpus root over the sorted
    * source roots. Two frozen corpora are byte-identical iff the
    * corpus roots match; a diverging source is located by comparing
    * the |sources| roots — no row-level diff needed.
    *
    * Determinism: leaves are sorted md5 strings (total ASCII order,
    * engine-independent); the concatenation order is therefore pinned
    * and both engines derive identical roots.
    *
    * Scale shape: one scan to leaf hashes (32-byte rows — payloads
    * never move), one per-source agg; the per-source sort is over ONE
    * source's leaf hashes (at true scale, a two-level tree — chunk
    * roots then source roots — bounds every sort; noted here, single
    * level implemented as the testdata fits). The corpus root is a
    * window over the bounded source frame. */
  def merkleManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leaves = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), md5(col("text")).as("leaf"))
    val roots = leaves.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        md5(concat_ws("", array_sort(collect_list(col("leaf")))))
          .as("source_root"))
    roots
      .withColumn("corpus_root",
        md5(concat_ws("", array_sort(collect_list(col("source_root"))
          .over(Window.partitionBy())))))
      .select(col("source"), col("n_docs"), col("source_root"),
        col("corpus_root"))
      .orderBy(col("source"))
  }

  val merkleManifestSql: String =
    """WITH leaves AS (
      |  SELECT source, md5(text) AS leaf
      |  FROM documents WHERE text IS NOT NULL),
      |roots AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    md5(string_agg(leaf, '' ORDER BY leaf)) AS source_root
      |  FROM leaves GROUP BY 1)
      |SELECT source, n_docs, source_root,
      |  (SELECT md5(string_agg(source_root, '' ORDER BY source_root)) FROM roots)
      |    AS corpus_root
      |FROM roots ORDER BY source""".stripMargin

  /** Q164: INCREMENTAL JOIN-VIEW MAINTENANCE — q85's join-view
    * sibling: a materialized join view V = orders ⋈ customer is
    * refreshed under inserts on BOTH sides by the delta algebra
    * ΔV = ΔO⋈C_old ∪ O_old⋈ΔC ∪ ΔO⋈ΔC (disjoint and complete for an
    * inner join under insert-only deltas), never by re-joining
    * history. Old/delta slices use the q80/q122 snapshot convention
    * (orderkey/custkey mod cuts). The maintained view is materialized
    * to parquet (the q85 stored-table discipline), read back, and
    * aggregated per market segment; the ORACLE aggregates the full
    * re-join of the new snapshot — result identity between the
    * incremental path and the recompute IS the delta-algebra proof
    * (the q144 argument).
    *
    * Scale shape: three delta joins touch only delta-sized inputs on
    * at least one side (broadcast the small side); history re-join
    * happens once to seed V_old (in production it already exists).
    * The final aggregation is map-side-combined into the bounded
    * segment frame. */
  def joinViewMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val viewPath = s"$aggTableBase/joinview_${dir.stripSuffix("/").split('/').last}"
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), money(col("o_totalprice")).as("price"))
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val oOld = orders.filter(col("o_orderkey") % 3 =!= 0)
    val oDelta = orders.filter(col("o_orderkey") % 3 === 0)
    val cOld = customer.filter(col("c_custkey") % 5 =!= 0)
    val cDelta = customer.filter(col("c_custkey") % 5 === 0)
    def v(o: DataFrame, c: DataFrame) =
      o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("price"))
    // V_old seeded once; the refresh writes ONLY the three delta joins
    v(oOld, cOld).write.mode("overwrite").parquet(s"$viewPath/seed")
    v(oDelta, cOld).unionAll(v(oOld, cDelta)).unionAll(v(oDelta, cDelta))
      .write.mode("overwrite").parquet(s"$viewPath/delta")
    spark.read.parquet(s"$viewPath/seed")
      .unionAll(spark.read.parquet(s"$viewPath/delta"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        dec2(sum(col("price"))).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** Oracle: the full re-join of the new snapshot — independent of the
    * delta decomposition. */
  val joinViewMaintenanceSql: String =
    """SELECT c_mktsegment,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
      |    AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Q85: incremental aggregate maintenance — the warehouse pattern
    * that makes 100 TB aggregations affordable: a stored aggregate
    * table is REFRESHED by merging a delta batch's partial aggregate,
    * never by re-scanning history. Base (orders before 1997) and
    * delta (the rest) are each aggregated to (year, status) partials
    * persisted as parquet; the refresh is a full outer join on the
    * aggregate key with monoid merges (count-sum / sum-sum —
    * avg/variance derive from merged sums at read time; only
    * associative-commutative aggregates may live in the stored
    * table). The merge touches O(|aggregate key space|) rows — here
    * dozens, at scale maybe millions — never the fact table. The
    * oracle recomputes from the full fact table, proving
    * merge-of-partials == aggregate-of-union. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val (basePath, deltaPath) = aggTablePaths(dir)
    val orders = Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
    def partial(df: DataFrame) = df
      .groupBy(col("order_year"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(money(col("o_totalprice"))).as("s"))
    partial(orders.filter(col("order_year") < 1997))
      .write.mode("overwrite").parquet(basePath)
    // the complement must be NULL-exhaustive: a NULL order date fails
    // BOTH `< 1997` and `>= 1997` and the row would silently vanish
    // from the refreshed aggregate (the oracle keeps a NULL-year group)
    partial(orders.filter(col("order_year") >= 1997 || col("order_year").isNull))
      .write.mode("overwrite").parquet(deltaPath)
    val base = spark.read.parquet(basePath)
      .withColumnsRenamed(Map("n" -> "n_b", "s" -> "s_b"))
    val delta = spark.read.parquet(deltaPath)
      .withColumnsRenamed(Map("n" -> "n_d", "s" -> "s_d"))
    base.join(delta, Seq("order_year", "o_orderstatus"), "full_outer")
      .select(
        col("order_year"), col("o_orderstatus"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_orders"),
        dec2(coalesce(col("s_b"), lit(0).cast(DecimalType(38, 2)))
          + coalesce(col("s_d"), lit(0).cast(DecimalType(38, 2)))).as("total"))
      // explicit NULLS FIRST: Spark's asc default, but DuckDB's is
      // NULLS LAST — matters iff a NULL-year group exists (Parity doc)
      .orderBy(col("order_year").asc_nulls_first, col("o_orderstatus"))
  }

  val incrementalAggSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
      |  o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2
      |ORDER BY order_year ASC NULLS FIRST, o_orderstatus""".stripMargin

  /** Shared machinery for the interchange round-trips (q88 CSV, q90
    * JSONL): one export projection, one explicit readback schema, one
    * readback aggregate, one oracle template — a format fix lands in
    * one place, not four (the sampling/packing-helper lesson).
    * Explicit schema on readback: header/inference at 100 TB means an
    * extra full scan and a silently-wrong dtype the first time a
    * column goes all-null in a shard. Export paths carry the sf
    * basename (q69's pattern) so Verify and Bench can't clobber each
    * other; the oracle texts pin sf0.01. */
  private val docsRoundtripSchema =
    "doc_id BIGINT, lang STRING, source STRING, text STRING, n_chars BIGINT"

  private def docsRoundtripAgg(read: DataFrame): DataFrame =
    read.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("text")).as("docs_with_text"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .orderBy(col("lang"))

  private def docsRoundtripSql(sourceExpr: String): String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  COUNT(text) AS docs_with_text,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(length(text)) AS BIGINT) AS total_text_len
       |FROM $sourceExpr
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Q88: CSV source/sink round-trip — the interchange format every
    * warehouse ingest still meets; the readback aggregate is oracled
    * by DuckDB reading THE SAME CSV FILES, so the check covers
    * Spark's writer + reader against an independent CSV parser, not
    * just the aggregate.
    *
    * CSV cannot portably round-trip the empty-string/NULL
    * distinction: Spark writes '' as a quoted `""` and reads it back
    * as empty, while DuckDB's reader (allow_quoted_nulls default)
    * turns `""` into NULL — so the operator NORMALIZES empty text to
    * NULL before export and the collapse is explicit semantics
    * applied identically for both readers, not a parser coin-flip.
    * The readback sets multiLine: embedded newlines arrive quoted and
    * a line-split read would shred them (DuckDB handles them
    * natively). multiLine costs per-line file splitting — one more
    * reason CSV is an EXCHANGE format here, never the at-rest one. */
  def csvExportPath(dir: String): String =
    s"/tmp/graft_q88_csv_${dir.stripSuffix("/").split('/').last}"

  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = csvExportPath(dir)
    // escape = quote: Spark's default escape is backslash, which
    // writes an embedded " as \" — RFC-4180 parsers (DuckDB's
    // read_csv) expect doubled quotes and would shred such a field.
    // Setting escape to the quote char makes the writer emit "" and
    // both readers (Spark's, told the same escape, and DuckDB's
    // native rule) parse it identically. Latent on the quote-free
    // synthetic vocabulary; load-bearing for real text. Staged
    // publish: the fixed path is read by the oracle.
    graft.Scratch.publishStaged(out)(stage =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          nullif(col("text"), lit("")).as("text"), col("n_chars"))
        .write.option("header", true).option("escape", "\"")
        .mode("overwrite").csv(stage))
    docsRoundtripAgg(
      spark.read
        .schema(docsRoundtripSchema)
        .option("header", true)
        .option("multiLine", true)
        .option("escape", "\"")
        .csv(out))
  }

  val csvRoundtripSql: String = docsRoundtripSql(
    s"""read_csv('${csvExportPath("sf0.01")}/*.csv', header=true,
       |  columns={'doc_id':'BIGINT','lang':'VARCHAR','source':'VARCHAR','text':'VARCHAR','n_chars':'BIGINT'})""".stripMargin)

  /** Q90: JSON-lines sink/source round-trip — q88's twin for the
    * other interchange format (the reference emits JSON at ingest,
    * `main.yml`; this closes the write side). Null fields are OMITTED
    * by Spark's writer and resurface as NULL in both readers — and
    * unlike CSV, JSON represents the empty string unambiguously, so
    * no normalization is needed and count(text) is lossless. */
  def jsonExportPath(dir: String): String =
    s"/tmp/graft_q90_json_${dir.stripSuffix("/").split('/').last}"

  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = jsonExportPath(dir)
    graft.Scratch.publishStaged(out)(stage =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"), col("n_chars"))
        .write.mode("overwrite").json(stage))
    docsRoundtripAgg(spark.read.schema(docsRoundtripSchema).json(out))
  }

  val jsonRoundtripSql: String = docsRoundtripSql(
    s"""read_json('${jsonExportPath("sf0.01")}/*.json', format='newline_delimited',
       |  columns={'doc_id':'BIGINT','lang':'VARCHAR','source':'VARCHAR','text':'VARCHAR','n_chars':'BIGINT'})""".stripMargin)

  /** Q198: ORC source/sink round-trip — the last built-in columnar
    * format without coverage (q88 CSV, q90 JSONL, parquet everywhere).
    * DuckDB cannot READ ORC, so the q88 read-the-same-files oracle is
    * unavailable; instead this uses q125's manifest pattern: the
    * readback is digested row-by-row (md5 over engine-stable
    * renderings, ∅-guarded nulls) into a per-lang ledger of counts +
    * min/max digest, and the oracle recomputes the SAME ledger from
    * the source parquet — equality proves Spark's ORC writer+reader
    * preserved every row and value, including the null/empty-string
    * distinction ORC (unlike CSV) represents natively.
    *
    * Scale shape: the export is `_SUCCESS`-guarded (one write per
    * process/corpus, durable-root reusable); the measured serving
    * cost is one ORC scan with digests computed at scan time (16
    * bytes/row past the scan) into a map-side-combined bounded
    * per-lang frame. StorageSpec pins the physical layout (.orc
    * files, zlib default) and readback row identity. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.artifactPath("orc_docs", dir, "_v1")
    if (!graft.Scratch.artifactComplete(out)) {
      graft.Scratch.prepareArtifact(out)
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          col("n_chars"))
        .write.mode("overwrite").orc(out)
    }
    def nn(c: Column): Column = coalesce(c, lit("∅"))
    spark.read.schema(docsRoundtripSchema).orc(out)
      .withColumn("h", md5(concat_ws("|",
        nn(col("doc_id").cast("string")), nn(col("lang")), nn(col("source")),
        nn(col("text")), nn(col("n_chars").cast("string")))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("text")).as("docs_with_text"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        min(col("h")).as("min_digest"),
        max(col("h")).as("max_digest"))
      .orderBy(col("lang"))
  }

  /** Oracle: the identical digest ledger recomputed from the source
    * parquet (DuckDB has no ORC reader — the artifact is validated
    * through the ledger equality, the q125 discipline). */
  val orcRoundtripSql: String =
    """WITH d AS (SELECT lang, text, n_chars,
      |    md5(COALESCE(CAST(doc_id AS VARCHAR), '∅') || '|'
      |      || COALESCE(lang, '∅') || '|' || COALESCE(source, '∅') || '|'
      |      || COALESCE(text, '∅') || '|'
      |      || COALESCE(CAST(n_chars AS VARCHAR), '∅')) AS h
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs, COUNT(text) AS docs_with_text,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(h) AS min_digest, MAX(h) AS max_digest
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Q125: EXPORT MANIFEST — the write-validation ledger for a
    * partitioned export: after writing lineitem partitioned by
    * l_returnflag, the manifest is computed from the WRITTEN artifact
    * (read back through the partition-directory layout), while the
    * oracle recomputes it from the source table — equality proves the
    * write/read round trip preserved every row. Each row's digest is
    * md5 over engine-stable renderings ONLY (BIGINT/INT as-is,
    * doubles through DECIMAL(18,2), timestamps through DATE — raw
    * double-to-string would diverge between engines), and the
    * per-partition ledger carries counts plus the min/max digest.
    *
    * Scale shape: digests are computed at scan time (16 bytes/row
    * past the scan); the ledger map-side-combines to |partitions|
    * rows. min/max digest + counts is the bounded accounting — a full
    * content tree-hash would aggregate sorted digests and is the
    * same plan shape one level deeper. */
  def writeManifest(spark: SparkSession, dir: String): DataFrame = {
    // one export per (process, sf dir) behind a _SUCCESS guard (the
    // q104-q106/q109 artifact convention): the manifest is the
    // validation pass over an EXISTING export, so the measured cost is
    // the digest scan, not a redundant identical rewrite per call
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_" +
      s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/_SUCCESS"))) {
      graft.Scratch.deleteNow(out)
      graft.Scratch.deleteOnExit(out)
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate"), col("l_returnflag"))
        .repartition(col("l_returnflag"))
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    }
    // every field rendered null-safe BEFORE concatenation: concat_ws
    // SKIPS nulls while the oracle's || PROPAGATES them, so an
    // unguarded null field would silently diverge the two digests on
    // a future corpus (today's lineitem is null-free; the guard is the
    // CSV-quoting class of hardening — latent but load-bearing)
    def nn(c: Column): Column = coalesce(c, lit("∅"))
    spark.read.parquet(out)
      .withColumn("h", md5(concat_ws("|",
        nn(col("l_orderkey").cast("string")),
        nn(col("l_linenumber").cast("string")),
        nn(money(col("l_quantity")).cast("string")),
        nn(col("l_shipdate").cast("date").cast("string")),
        nn(col("l_returnflag")))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("l_orderkey")).as("n_orders"),
        min(col("h")).as("min_digest"),
        max(col("h")).as("max_digest"))
      .orderBy(col("l_returnflag"))
  }

  val writeManifestSql: String =
    """WITH d AS (SELECT l_returnflag, l_orderkey,
      |    md5(COALESCE(CAST(l_orderkey AS VARCHAR), '∅') || '|'
      |      || COALESCE(CAST(l_linenumber AS VARCHAR), '∅') || '|'
      |      || COALESCE(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR), '∅') || '|'
      |      || COALESCE(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), '∅') || '|'
      |      || COALESCE(l_returnflag, '∅')) AS h
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |  MIN(h) AS min_digest, MAX(h) AS max_digest
      |FROM d GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** Q191: RECURSIVE CTE (Spark 4's `WITH RECURSIVE` / UnionLoop
    * surface): the depth-GENERIC foreign-key cascade closure — q165's
    * blast radius re-expressed as a level-synchronous BFS over a
    * tagged (parent, child) edge list, so the SAME query handles any
    * FK DAG depth with zero code change (q165 hand-writes one join
    * per level). Seeds are the q165 deletion set (customers with
    * key % 25 = 0); the recursion walks customer → orders → lineitem
    * edges and reports per (level, entity) affected-row counts.
    * Spark 4.1 restricts recursive CTEs to UNION ALL, which is exact
    * here BECAUSE the FK graph is a forest (each child has one
    * parent, so each row is reached exactly once — no dedup needed);
    * cyclic graphs stay on the star-contraction path (q63), which is
    * why both operators exist.
    *
    * Scale shape: each recursion level is ONE distributed hash join
    * of the frontier against the edge list (UnionLoopExec re-plans
    * per level) — the BFS shape a warehouse cascade actually runs;
    * the edge list is the row-scale frame, frontiers are bounded by
    * the cascade itself. QualitySpec cross-checks the totals against
    * q165's fixed-join audit. */
  def recursiveCascade(spark: SparkSession, dir: String): DataFrame = {
    val m = Quality.DeletionModulus
    // tagged ids are PACKED INTEGERS, not strings — id = key·4 + tag
    // (tag 0 = customer, 1 = orders, 2 = lineitem; lineitem's key is
    // orderkey·8 + linenumber, linenumber ≤ 7) — the frontier joins
    // hash 8-byte longs instead of concatenated strings (string tags
    // measured ~2× slower at sf0.1)
    val edges = Tables.orders(spark, dir).select(
        (col("o_custkey") * 4).as("parent"),
        (col("o_orderkey") * 4 + 1).as("child"))
      .unionAll(Tables.lineitem(spark, dir).select(
        (col("l_orderkey") * 4 + 1).as("parent"),
        ((col("l_orderkey") * 8 + col("l_linenumber")) * 4 + 2).as("child")))
    // localCheckpoint: UnionLoopExec re-plans the recursive member per
    // level, so a lazy view would redo the two scans + tag projection
    // every level; the materialized edge list is read by each level's
    // frontier join instead
    edges.localCheckpoint().createOrReplaceTempView("graft_q191_edges")
    Tables.customer(spark, dir)
      .filter(col("c_custkey") % m === 0)
      .select((col("c_custkey") * 4).as("id"))
      .createOrReplaceTempView("graft_q191_seeds")
    spark.sql(
      """WITH RECURSIVE r AS (
        |  SELECT id, 0 AS lvl FROM graft_q191_seeds
        |  UNION ALL
        |  SELECT e.child, r.lvl + 1 FROM r
        |  JOIN graft_q191_edges e ON e.parent = r.id)
        |SELECT CAST(lvl AS INT) AS level,
        |  CASE id % 4 WHEN 0 THEN 'customer'
        |       WHEN 1 THEN 'orders' ELSE 'lineitem' END AS entity,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Oracle: DuckDB's own WITH RECURSIVE over the same packed-integer
    * edge list — both engines run genuine recursive SQL. */
  val recursiveCascadeSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT o_custkey * 4 AS parent, o_orderkey * 4 + 1 AS child
      |  FROM orders
      |  UNION ALL
      |  SELECT l_orderkey * 4 + 1, (l_orderkey * 8 + l_linenumber) * 4 + 2
      |  FROM lineitem),
      |s AS (SELECT c_custkey * 4 AS id FROM customer
      |      WHERE c_custkey % 25 = 0),
      |r AS (
      |  SELECT id, 0 AS lvl FROM s
      |  UNION ALL
      |  SELECT e.child, r.lvl + 1 FROM r JOIN e ON e.parent = r.id)
      |SELECT CAST(lvl AS INT) AS level,
      |  CASE id % 4 WHEN 0 THEN 'customer'
      |       WHEN 1 THEN 'orders' ELSE 'lineitem' END AS entity,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q192: VARIANT SEMI-STRUCTURED ROUND-TRIP (Spark 4's VariantType)
    * — the OPEN-schema path beside q17's string-path extraction:
    * `props` is parsed ONCE at ingest into a binary VARIANT column
    * (`try_parse_json` — malformed rows degrade to NULL, the ANSI
    * dirty-data rule), LANDED to parquet in Spark's shredded VARIANT
    * encoding, and served by reading the stored table back with typed
    * `try_variant_get` paths. At 100 TB this is the difference
    * between re-parsing JSON text per query (q17's shape — one parse
    * per access) and parsing once at write time with typed
    * sub-column access after; the aggregate equality against the
    * oracle's direct-from-text extraction proves the encode → shred →
    * decode chain is lossless.
    *
    * Scale shape: the parse is a map-side scan feeding the
    * `_SUCCESS`-guarded landed table (built once per (process,
    * corpus), durable-root reusable); the serving read is one
    * map-side-combined aggregate over the bounded type dimension. */
  def variantRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // "_v1" = landed-schema revision (event_id, event_type, v VARIANT);
    // bump when the parse projection changes
    val path = graft.Scratch.artifactPath("variant_events", dir, "_v1")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"),
          try_parse_json(col("props")).as("v"))
        .write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
      .select(col("event_type"),
        try_variant_get(col("v"), "$.k", "bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).cast("bigint").as("n_with_k"),
        sum(col("k")).cast("bigint").as("sum_k"),
        min(col("k")).cast("bigint").as("min_k"),
        max(col("k")).cast("bigint").as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Oracle: the same aggregates extracted DIRECTLY from the JSON
    * text — equality proves the variant encode/shred/decode fidelity. */
  val variantRoundtripSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS n_with_k,
      |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS min_k,
      |  CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q195: LATERAL CORRELATED SUBQUERY — the per-row-parameterized
    * subquery surface q76's scalar/EXISTS decorrelation does not
    * cover: for each customer in a bounded probe set, the top-2 orders
    * by price via a LATERAL subquery with ORDER BY + LIMIT. Catalyst
    * DECORRELATES this into a ranked window join (there is no per-row
    * re-execution at runtime — the plan-level rewrite IS the point of
    * exposing the surface: users write the intuitive per-row form and
    * get the set-based plan). DuckDB executes its own LATERAL as the
    * oracle.
    *
    * Scale shape: after decorrelation this is one orders-side window
    * partitioned by custkey (high-cardinality, even reducers) joined
    * to the probe set — the same shape as a hand-written q7-style
    * rank filter, which is exactly what the rewrite must produce. */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_q195_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q195_orders")
    spark.sql(
      """SELECT c.c_custkey AS custkey, o.o_orderkey AS orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |FROM graft_q195_customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM graft_q195_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_custkey % 100 = 0
        |ORDER BY custkey, totalprice DESC, orderkey""".stripMargin)
  }

  val lateralTopOrdersSql: String =
    """SELECT c.c_custkey AS custkey, o.o_orderkey AS orderkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |WHERE c.c_custkey % 100 = 0
      |ORDER BY custkey, totalprice DESC, orderkey""".stripMargin

  /** Q272: RENDEZVOUS-HASH SHARD PLACEMENT + RESHARD AUDIT — assign
    * every document to a shard by highest-random-weight hashing
    * (Thaler-Ravishankar rendezvous: shard = argmax_s md5(doc:s)),
    * the placement law behind consistent data distribution in
    * object stores and training-data shard layouts, then audit the
    * N=8 → N=9 reshard: per shard, the old and new populations and
    * how many docs MOVED IN. Rendezvous's minimal-disruption theorem
    * is visible in the output: a doc moves iff the NEW shard's hash
    * is its new global max, so every moved doc lands on shard 8 and
    * `moved_in` is 0 for shards 0..7 (oracle-checked; Round9Spec
    * pins it plus the ≈1/9 movement fraction). The placement
    * complement of q47's partition pruning and q65's salting: those
    * layout VALUES, this layouts the CORPUS.
    *
    * Exactness: md5 is the cross-engine hash (the q200/q261
    * discipline); argmax over the 9 hex strings is a total lexical
    * order (ties would need an md5 collision); counts are exact.
    *
    * Scale shape: the shard sweep is IN-EXPRESSION over one shared
    * 9-hash array per row (map-side, no 9× explode — at S shards
    * the cost is O(S) hashes per row with zero extra rows or
    * shuffles, vs the S× row blowup of the explode formulation);
    * two map-side-combinable shard-keyed aggregations (≤ 9 groups),
    * one ≤9-row join, output sort. */
  def rendezvousShards(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("hs", expr(
        "transform(sequence(0, 8), s -> " +
          "md5(concat(cast(doc_id as string), ':', cast(s as string))))"))
      .withColumn("s9", expr("array_position(hs, array_max(hs)) - 1").cast("long"))
      .withColumn("s8", expr(
        "array_position(slice(hs, 1, 8), array_max(slice(hs, 1, 8))) - 1")
        .cast("long"))
    val a8 = d.groupBy(col("s8").as("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs_8"))
    val a9 = d.groupBy(col("s9").as("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs_9"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).cast("long")
          .as("moved_in"))
    // FULL outer (advisor r9): a shard populated under N=8 but empty
    // under N=9 must still report its n_docs_8 — a left join from the
    // N=9 side would silently drop it and break the population-
    // conservation invariant Round9Spec asserts
    a9.join(a8, Seq("shard"), "full_outer")
      .select(col("shard"), coalesce(col("n_docs_8"), lit(0L)).as("n_docs_8"),
        coalesce(col("n_docs_9"), lit(0L)).as("n_docs_9"),
        coalesce(col("moved_in"), lit(0L)).as("moved_in"))
      .orderBy(col("shard"))
  }

  val rendezvousShardsSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 8),
      |      s -> md5(doc_id || ':' || s)) AS hs
      |  FROM documents),
      |a AS (SELECT doc_id,
      |    CAST(list_position(hs, list_max(hs)) - 1 AS BIGINT) AS s9,
      |    CAST(list_position(hs[1:8], list_max(hs[1:8])) - 1 AS BIGINT) AS s8
      |  FROM h),
      |g8 AS (SELECT s8 AS shard, CAST(COUNT(*) AS BIGINT) AS n8 FROM a GROUP BY 1),
      |g9 AS (SELECT s9 AS shard, CAST(COUNT(*) AS BIGINT) AS n9,
      |    CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS moved_in
      |  FROM a GROUP BY 1)
      |SELECT COALESCE(g9.shard, g8.shard) AS shard,
      |  COALESCE(g8.n8, CAST(0 AS BIGINT)) AS n_docs_8,
      |  COALESCE(g9.n9, CAST(0 AS BIGINT)) AS n_docs_9,
      |  COALESCE(g9.moved_in, CAST(0 AS BIGINT)) AS moved_in
      |FROM g9 FULL OUTER JOIN g8 ON g9.shard = g8.shard
      |ORDER BY shard""".stripMargin

  /** Retention horizon for [[retentionPurge]]: partitions strictly
    * older than this year are dropped. The reference pins "Lifecycle
    * policy: purge >1 year" (README.md:43) against a moving clock; a
    * static corpus pins the horizon as a constant instead (the fixture
    * discipline — the operator's arithmetic is identical), interpolated
    * into BOTH the engine predicate and the DuckDB oracle. The corpus
    * spans order years 1995–2001, so 1998 exercises both sides. */
  val RetentionHorizonYear = 1998

  private[graft] lazy val retentionBase: String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_retention_" +
      ProcessHandle.current().pid()
    graft.Scratch.deleteOnExit(p)
    p
  }

  /** Q306: RETENTION/LIFECYCLE PURGE — the reference's raw-bucket
    * lifecycle policy ("purge >1 year", README.md:43) as a live
    * operator, the storage-policy→operator upgrade q260 gave S10's
    * rsync: age-partitioned data is expired by PARTITION DROP, with a
    * deletion manifest and post-purge witnesses the oracle recomputes
    * end-to-end.
    *
    * Pipeline per invocation: (1) stage orders as a year-partitioned
    * warehouse table (rebuilt each call — the purge mutates it);
    * (2) ledger EVERY partition FROM THE ARTIFACT — row count, exact
    * canonical-payload byte cost, and a q169-style content digest
    * (md5 over the sorted per-row md5s) — and persist it as the
    * deletion manifest BEFORE anything is dropped (the manifest must
    * outlive the data it describes); (3) drop each partition directory
    * older than [[RetentionHorizonYear]] — a metadata operation per
    * partition, exactly how warehouse retention jobs run (DROP
    * PARTITION / object-store prefix delete), never a row-level
    * rewrite; (4) re-ledger the SURVIVING table and publish manifest ⋈
    * survivors. A purged partition must come back (n_rows_after = 0,
    * digest_after NULL); a retained one must reproduce its EXACT
    * pre-purge digest — deletion happened, and deletion touched
    * nothing else. The DuckDB oracle recomputes counts, byte costs,
    * digests, and the horizon arithmetic from the source table alone,
    * so the hash compare proves artifact ≡ source AND purge ≡ policy.
    *
    * Scale shape: the stage write shuffles once on the partition key;
    * each ledger is one map-side-combinable agg (the per-year digest
    * list is bounded per partition; at 100 TB the q169 two-level
    * chunk-tree note applies verbatim); the purge loop is driver-side
    * FS metadata over |years| ≈ 7 entries (bounded control flow, like
    * any DROP PARTITION); the final join carries |years| rows. */
  def retentionPurge(spark: SparkSession, dir: String): DataFrame = {
    val sf = dir.stripSuffix("/").split('/').last
    val tablePath = s"$retentionBase/orders_$sf"
    val manifestPath = s"$retentionBase/manifest_$sf"
    Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
      .repartition(col("order_year"))
      .write.mode("overwrite").partitionBy("order_year").parquet(tablePath)
    // per-partition ledger: count + canonical byte cost + content
    // digest, computed from a READBACK of the staged artifact (never
    // the source — the manifest must witness what is on disk)
    def ledger(df: DataFrame): DataFrame = df
      .withColumn("canon", concat_ws("|", col("o_orderkey"),
        col("o_orderstatus"), col("o_orderdate").cast("string")))
      .groupBy(col("order_year").cast("bigint").as("order_year"))
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        sum(octet_length(col("canon"))).cast("bigint").as("n_bytes"),
        md5(concat_ws("", array_sort(collect_list(md5(col("canon"))))))
          .as("digest"))
    ledger(spark.read.parquet(tablePath))
      .withColumn("action",
        when(col("order_year") < RetentionHorizonYear, lit("purged"))
          .otherwise(lit("retained")))
      .write.mode("overwrite").parquet(manifestPath)
    // the purge: partition-directory drops through Hadoop's FileSystem
    // (works unchanged on HDFS/S3A); driver-side loop over |years|
    // entries — bounded metadata control flow, not a data path
    val hp = new org.apache.hadoop.fs.Path(tablePath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partRe = "^order_year=([0-9]{4})$".r
    fs.listStatus(hp).foreach { st =>
      st.getPath.getName match {
        case partRe(y) if y.toInt < RetentionHorizonYear =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    val after = ledger(spark.read.parquet(tablePath))
      .select(col("order_year"), col("n_rows").as("n_rows_after"),
        col("digest").as("digest_after"))
    spark.read.parquet(manifestPath)
      .join(after, Seq("order_year"), "left")
      .select(col("order_year"), col("action"), col("n_rows"),
        col("n_bytes"), col("digest"),
        coalesce(col("n_rows_after"), lit(0L)).as("n_rows_after"),
        col("digest_after"))
      .orderBy(col("order_year"))
  }

  /** Oracle: counts, byte costs, digests AND the horizon arithmetic
    * recomputed from the source table alone — agreement proves the
    * staged artifact matched the source, the purge dropped exactly the
    * policy's partitions, and the survivors are byte-identical. */
  val retentionPurgeSql: String =
    s"""WITH y AS (
       |  SELECT EXTRACT(year FROM o_orderdate) AS yr,
       |    CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
       |      || CAST(o_orderdate AS VARCHAR) AS canon
       |  FROM orders),
       |m AS (
       |  SELECT CAST(yr AS BIGINT) AS order_year,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(octet_length(encode(canon))) AS BIGINT) AS n_bytes,
       |    md5(string_agg(md5(canon), '' ORDER BY md5(canon))) AS digest
       |  FROM y GROUP BY 1)
       |SELECT order_year,
       |  CASE WHEN order_year < $RetentionHorizonYear
       |    THEN 'purged' ELSE 'retained' END AS action,
       |  n_rows, n_bytes, digest,
       |  CAST(CASE WHEN order_year < $RetentionHorizonYear
       |    THEN 0 ELSE n_rows END AS BIGINT) AS n_rows_after,
       |  CASE WHEN order_year < $RetentionHorizonYear
       |    THEN NULL ELSE digest END AS digest_after
       |FROM m ORDER BY order_year""".stripMargin

  /** Catalog-table triple for [[cboStarJoin]], built once per
    * (process, sf) and ANALYZEd with full column statistics — the
    * prerequisite the CBO reads (row counts, NDVs, min/max) live in
    * the catalog, not the file footers. */
  private[graft] def analyzedTables(spark: SparkSession, dir: String): (String, String, String) = {
    val tag = s"${ProcessHandle.current().pid()}_${math.abs(dir.hashCode)}"
    val names = (s"graft_cbo_orders_$tag", s"graft_cbo_customer_$tag",
      s"graft_cbo_nation_$tag")
    val all = Seq(names._1, names._2, names._3)
    // guard on ALL tables (the q56 torn-build rule)
    if (!all.forall(spark.catalog.tableExists)) {
      all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      all.foreach(t => graft.Scratch.deleteOnExit(s"$wh/$t"))
      Tables.orders(spark, dir).write.saveAsTable(names._1)
      Tables.customer(spark, dir).write.saveAsTable(names._2)
      Tables.nation(spark, dir).write.saveAsTable(names._3)
      all.foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    }
    names
  }

  /** The cost-based optimizer + stats-driven join reorder, for a
    * [[graft.Session.withConf]] scope: the confs are session-global and
    * every OTHER registered query's plan is pinned by PlanInvariantsSpec
    * under the default optimizer, so the CBO window must close before
    * q308 returns. */
  private[graft] val CboConf: Seq[(String, String)] =
    Seq("spark.sql.cbo.enabled" -> "true", "spark.sql.cbo.joinReorder.enabled" -> "true")

  /** The q308 star text over the analyzed catalog tables — written in
    * the DELIBERATELY bad syntactic order (fact ⋈ mid-dim first, tiny
    * dim last) so the stats-driven reorder has something to fix. */
  private[graft] def cboStarText(o: String, c: String, n: String): String =
    s"""SELECT n_name, COUNT(*) AS n_orders,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
       |FROM $o JOIN $c ON o_custkey = c_custkey
       |JOIN $n ON c_nationkey = n_nationkey
       |WHERE o_orderstatus = 'F'
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Q308: COST-BASED-OPTIMIZER STATS SURFACE — the engine-side
    * capability SURVEY §4.2 names as relied-upon, demonstrated live
    * instead of documented: the three star tables are registered in
    * the session catalog, `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    * ALL COLUMNS` persists row counts + per-column NDV/min/max, and
    * the star query EXECUTES under `spark.sql.cbo.enabled` +
    * `spark.sql.cbo.joinReorder.enabled` — the DP join reorder
    * rewrites the deliberately mis-ordered FROM clause (fact first,
    * 25-row nation last) into the dimension-first order the
    * cardinalities dictate. StorageSpec pins the plan effect
    * stats-on vs stats-off (leaf order flips, rowCount statistics
    * present); the oracle pins the result, which must be
    * plan-invariant.
    *
    * The CBO window is scoped: the query MATERIALIZES inside the
    * [[CboConf]] scope (plan time = execution time for a lazy DataFrame, so
    * returning an unexecuted frame would let the conf restore defeat
    * the demonstration), and the returned frame is the readback — the
    * q85 stored-result discipline.
    *
    * Scale shape: this IS the scale operator — at 100 TB the reorder
    * it demonstrates is the difference between shuffling the fact
    * table against a mid-size dim before the tiny dim can prune, and
    * broadcasting both dims; the ANALYZE cost amortizes over every
    * query on the table. */
  def cboStarJoin(spark: SparkSession, dir: String): DataFrame = {
    val (o, c, n) = analyzedTables(spark, dir)
    val sf = dir.stripSuffix("/").split('/').last
    val outPath = s"$retentionBase/cbo_star_$sf"
    graft.Session.withConf(spark, CboConf: _*) {
      spark.sql(cboStarText(o, c, n))
        .write.mode("overwrite").parquet(outPath)
    }
    spark.read.parquet(outPath).orderBy(col("n_name"))
  }

  val cboStarJoinSql: String =
    """SELECT n_name, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  def queries: Map[String, Relational.Q] = Map(
    "q306_retention_purge" -> (retentionPurge _),
    "q308_cbo_star" -> (cboStarJoin _),
    "q272_rendezvous_shards" -> (rendezvousShards _),
    "q195_lateral_topk" -> (lateralTopOrders _),
    "q192_variant_roundtrip" -> (variantRoundtrip _),
    "q191_recursive_cte" -> (recursiveCascade _),
    "q125_write_manifest" -> (writeManifest _),
    "q47_partitioned_prune" -> (partitionedPrune _),
    "q88_csv_roundtrip" -> (csvRoundtrip _),
    "q90_json_roundtrip" -> (jsonRoundtrip _),
    "q198_orc_roundtrip" -> (orcRoundtrip _),
    "q48_sql_surface" -> (sqlSurface _),
    "q56_bucketed_join" -> (bucketedJoin _),
    "q68_compaction" -> (compaction _),
    "q69_schema_evolution" -> (schemaEvolution _),
    "q75_merge_upsert" -> (mergeUpsert _),
    "q76_subqueries" -> (subqueries _),
    "q84_zorder_compaction" -> (zorderCompaction _),
    "q85_incremental_agg" -> (incrementalAgg _),
    "q164_join_view_maintenance" -> (joinViewMaintenance _),
    "q169_merkle_manifest" -> (merkleManifest _),
  )

  def oracles: Map[String, String] = Map(
    "q306_retention_purge" -> retentionPurgeSql,
    "q308_cbo_star" -> cboStarJoinSql,
    "q272_rendezvous_shards" -> rendezvousShardsSql,
    "q195_lateral_topk" -> lateralTopOrdersSql,
    "q192_variant_roundtrip" -> variantRoundtripSql,
    "q191_recursive_cte" -> recursiveCascadeSql,
    "q169_merkle_manifest" -> merkleManifestSql,
    "q164_join_view_maintenance" -> joinViewMaintenanceSql,
    "q125_write_manifest" -> writeManifestSql,
    "q47_partitioned_prune" -> partitionedPruneSql,
    "q48_sql_surface" -> revenueByNationSql,
    "q56_bucketed_join" -> bucketedJoinSql,
    "q68_compaction" -> compactionSql,
    "q69_schema_evolution" -> schemaEvolutionSql,
    "q75_merge_upsert" -> mergeUpsertSql,
    "q76_subqueries" -> subqueriesSql,
    "q84_zorder_compaction" -> zorderCompactionSql,
    "q85_incremental_agg" -> incrementalAggSql,
    "q88_csv_roundtrip" -> csvRoundtripSql,
    "q90_json_roundtrip" -> jsonRoundtripSql,
    "q198_orc_roundtrip" -> orcRoundtripSql,
  )
}
