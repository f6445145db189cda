package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Second-seed corpus generator (VERDICT r11 task 1): reproduces the
  * TESTDATA.md sf0.01 table shapes — schemas, row counts, value
  * domains, referential structure — under a DIFFERENT seed, so the
  * full Verify + parity + determinism gate can re-run on data none of
  * the oracles or probed thresholds have ever seen. Oracle SQL is
  * seed-agnostic by construction; this corpus is the empirical check
  * that the 296 greens are algebraic, not corpus-coincidental.
  *
  * Value domains mirror the driver corpus (inspected 2026-08-17 at
  * sf0.01): orders 1995-01-01..2001-08-01 / status F,P,O / price
  * 1e3..5e5; lineitem qty 1..50, discount 0..0.10, tax 0..0.08,
  * uniform l_orderkey draws (~4 lines/order), linenumber sequential
  * per order; events 30 days of Jan-2024 sorted by event_id, 5 types,
  * 150 users, props `{"k": 0..99}`; documents from the same 31-word
  * vocabulary (stopwords included — the Gopher-gate and decontam
  * thresholds depend on the vocabulary, not the draw), 10..99 tokens,
  * 5 langs / 20 sources; embeddings 64-dim floats in ±0.5.
  *
  * Determinism discipline: every field derives from
  * md5(seed:table:column:id) — the repo's no-rand rule, which also
  * makes the generator distributed (spark.range + codegen'd column
  * expressions, no driver-side loops except the bounded dimension
  * literals). Each table lands as a single-part parquet matching the
  * driver layout (one file per table; the streaming queries glob
  * `{documents.parquet}` and expect the single-batch arrival shape).
  *
  * Usage: runMain graft.GenCorpus <outDir> <seed>   (sf0.01 shapes)
  */
object GenCorpus {
  /** SQL snippet: uniform BIGINT in [0, mod) from the seeded per-row
    * hash — 8 hex chars of md5 at offset `off`, so independent
    * (table, column) streams never correlate. conv() returns STRING;
    * the cast is mandatory under ANSI. */
  private def uSql(seed: Long, tag: String, id: String, mod: Long,
      off: Int = 1): String =
    s"(cast(conv(substring(md5(concat('$seed', ':', '$tag', ':', $id)), $off, 8), 16, 10) as bigint) % ${mod}L)"

  private def u(seed: Long, tag: String, id: String, mod: Long) =
    expr(uSql(seed, tag, id, mod))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val seed = args(1).toLong
    val spark = Session.local(
      extra = Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    import spark.implicits._
    new java.io.File(outDir).mkdirs()

    // single FILE per table (not a part-file directory): the driver
    // layout, which both DuckDB's read_parquet('<dir>/<t>.parquet')
    // and the file-streaming single-batch arrival shape depend on
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$outDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.Scratch.deleteNow(tmp)
    }

    // region / nation: fixed dimension content (not seed-dependent —
    // the driver's are constants too)
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark.range(1500).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(seed, "c_nat", "id", 25).cast("int").as("c_nationkey"),
      (u(seed, "c_bal", "id", 1000000).cast("double") / 100).as("c_acctbal"),
      element_at(typedLit(segments), (u(seed, "c_seg", "id", 5) + 1).cast("int"))
        .as("c_mktsegment")), "customer")

    write(spark.range(100).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(seed, "s_nat", "id", 25).cast("int").as("s_nationkey"),
      (u(seed, "s_bal", "id", 1000000).cast("double") / 100).as("s_acctbal")), "supplier")

    val adjectives = Seq("small", "red", "blue", "hot", "cold", "big", "dark", "light")
    val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "cog", "plate", "wire")
    val ptypes = Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO")
    write(spark.range(2000).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        element_at(typedLit(adjectives), (u(seed, "p_adj", "id", 8) + 1).cast("int")),
        element_at(typedLit(nouns), (u(seed, "p_nou", "id", 8) + 1).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), u(seed, "p_brd", "id", 30).cast("string")).as("p_brand"),
      element_at(typedLit(ptypes), (u(seed, "p_typ", "id", 5) + 1).cast("int"))
        .as("p_type"),
      (u(seed, "p_siz", "id", 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + u(seed, "p_prc", "id", 2000).cast("double") / 10).as("p_retailprice")),
      "part")

    // orders: dates span 1995-01-01 .. 2001-08-01 (2404 days — the
    // retention/partition queries depend on the year domain)
    val statuses = Seq("F", "P", "O")
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark.range(15000).select(
      col("id").as("o_orderkey"),
      u(seed, "o_cst", "id", 1500).as("o_custkey"),
      element_at(typedLit(statuses), (u(seed, "o_sts", "id", 3) + 1).cast("int"))
        .as("o_orderstatus"),
      (round((lit(1000L) + u(seed, "o_prc", "id", 49900000).cast("double") / 100)
        * 100) / 100).as("o_totalprice"),
      (lit("1995-01-01").cast("timestamp_ntz")
        + make_dt_interval(u(seed, "o_dat", "id", 2404))).as("o_orderdate"),
      element_at(typedLit(priorities), (u(seed, "o_pri", "id", 5) + 1).cast("int"))
        .as("o_orderpriority")), "orders")

    // lineitem: uniform orderkey draws (≈4 lines/order, like the
    // driver corpus), linenumber sequential within each order
    val liBase = spark.range(60000).select(
      u(seed, "l_ord", "id", 15000).as("l_orderkey"),
      u(seed, "l_prt", "id", 2000).as("l_partkey"),
      u(seed, "l_sup", "id", 100).as("l_suppkey"),
      (u(seed, "l_qty", "id", 50) + 1).cast("double").as("l_quantity"),
      (round((lit(900.0) + u(seed, "l_ext", "id", 10400000).cast("double") / 100)
        * 100) / 100).as("l_extendedprice"),
      (u(seed, "l_dsc", "id", 11).cast("double") / 100).as("l_discount"),
      (u(seed, "l_tax", "id", 9).cast("double") / 100).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")),
        (u(seed, "l_rfl", "id", 3) + 1).cast("int")).as("l_returnflag"),
      element_at(typedLit(Seq("F", "O")),
        (u(seed, "l_lst", "id", 2) + 1).cast("int")).as("l_linestatus"),
      u(seed, "l_shp", "id", 95).as("ship_off"),
      col("id").as("gen_id"))
    write(liBase
      .join(spark.range(15000).select(col("id").as("l_orderkey"),
        (lit("1995-01-01").cast("timestamp_ntz")
          + make_dt_interval(u(seed, "o_dat", "id", 2404))).as("odate")),
        Seq("l_orderkey"))
      .withColumn("l_linenumber",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_orderkey")).orderBy(col("gen_id"))).cast("int"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"),
        (col("odate") + make_dt_interval(col("ship_off") + 1)).as("l_shipdate")),
      "lineitem")

    // events: ts monotone in event_id across 30 days of Jan 2024
    // (259.2 s/slot, jitter within the slot), the driver ordering
    val types = Seq("click", "error", "purchase", "signup", "view")
    write(spark.range(10000).select(
      col("id").as("event_id"),
      // NTZ like the driver layout (session TZ is UTC, so the LTZ→NTZ
      // cast preserves the wall-clock instant exactly)
      timestamp_micros(lit(1704067200000000L) // 2024-01-01T00:00Z
        + col("id") * 259200000L
        + u(seed, "e_jit", "id", 259200).cast("long") * 1000L)
        .cast("timestamp_ntz").as("ts"),
      u(seed, "e_usr", "id", 150).as("user_id"),
      element_at(typedLit(types), (u(seed, "e_typ", "id", 5) + 1).cast("int"))
        .as("event_type"),
      ((u(seed, "e_val", "id", 50000) + 1).cast("double") / 100).as("value"),
      format_string("{\"k\": %d}", u(seed, "e_prp", "id", 100)).as("props")),
      "events")

    // documents: the SAME 31-word vocabulary as the driver corpus (the
    // text-quality thresholds are vocabulary-relative), 10..99 tokens.
    // Duplicate structure is PLANTED so the gram-overlap / near-dup /
    // decontamination families stay non-vacuous on this seed too:
    // doc_id ≡ 1 (mod 25) re-emits the PREVIOUS doc's token stream with
    // the last token swapped to 'dup' (a near-duplicate with a long
    // shared prefix → shared 8-grams, high Jaccard; the original at
    // ≡ 0 (mod 25) is always an eval-slice doc (÷5), so the decontam
    // probes really fire across the train/eval cut), and doc_id ≡ 3
    // (mod 50) re-emits doc_id−3 verbatim (an exact duplicate).
    val vocab = Seq("join", "hash", "row", "batch", "scan", "column",
      "customer", "filter", "small", "slow", "merge", "order", "vector",
      "line", "data", "table", "agg", "value", "key", "stream", "window",
      "a", "spark", "part", "group", "big", "sort", "query", "fast",
      "the", "dup")
    def toksSql(idExpr: String): String =
      s"""transform(sequence(1,
         |  cast(${uSql(seed, "d_len", idExpr, 90)} + 10 as int)),
         |  i -> element_at(array(${vocab.map("'" + _ + "'").mkString(",")}),
         |    cast(CASE WHEN ${uSql(seed, "d_tok", s"concat($idExpr, ':', i)", 40)} < 39
         |      THEN ${uSql(seed, "d_tok", s"concat($idExpr, ':', i)", 30, off = 9)}
         |      ELSE 30 END + 1 as int)))""".stripMargin
    val langs = Seq("en", "en", "de", "es", "fr", "zh") // en-heavy like the driver mix
    write(spark.range(500).select(
      col("id").as("doc_id"),
      expr(s"""CASE
          |  WHEN id % 25 = 1 THEN array_join(concat(
          |    slice(${toksSql("(id - 1)")}, 1,
          |      size(${toksSql("(id - 1)")}) - 1), array('dup')), ' ')
          |  WHEN id % 50 = 3 THEN array_join(${toksSql("(id - 3)")}, ' ')
          |  ELSE array_join(${toksSql("id")}, ' ')
          |END""".stripMargin).as("text"),
      element_at(typedLit(langs), (u(seed, "d_lng", "id", 6) + 1).cast("int"))
        .as("lang"),
      concat(lit("src"), u(seed, "d_src", "id", 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint")), "documents")

    // embeddings: 64-dim float32, ~±0.5 (sum-of-3-uniforms bell shape)
    write(spark.range(500).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(1, 64), i -> cast((cast(
          |  ${uSql(seed, "v_a", "concat(id, ':', i)", 1000)} +
          |  ${uSql(seed, "v_b", "concat(id, ':', i)", 1000)} +
          |  ${uSql(seed, "v_c", "concat(id, ':', i)", 1000)}
          |  as double) - 1498.5) / 3000.0 as float))""".stripMargin).as("embedding"),
      u(seed, "v_lbl", "id", 10).cast("int").as("label")), "embeddings")

    println(s"[gencorpus] wrote sf0.01-shaped corpus seed=$seed at $outDir")
    spark.stop()
  }
}
