package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Storage, TextAnalysis}
import graft.functions.VectorFunctions._

/** Storage-layout queries + the oracle-less q44/q46 ground truths. */
class StorageSpec extends SparkSuite {

  test("q47 partitioned readback prunes to one partition") {
    val df = Storage.partitionedPrune(spark, Sf0001)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(order_year"), plan)
    // the pruned scan reads only the 1995 directory
    val scanLine = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(!scanLine.contains("order_year=1996"), scanLine)
  }

  test("dynamic partition pruning fires on a dim-filtered join") {
    import spark.implicits._
    Storage.partitionedPrune(spark, Sf0001).count() // materialize the layout
    val part = spark.read.parquet(Storage.scratchDir)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_year_dim").toString
    Seq((1995, "target"), (1996, "other"), (1997, "other"))
      .toDF("order_year", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = part.join(dim.filter($"tag" === "target"), Seq("order_year"))
      .groupBy($"order_year").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
  }

  test("q56 bucketed join: no shuffle below the join, values match parquet") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Storage.bucketedJoin(spark, Sf0001)
    def collectAll(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
        case _ => Seq(p)
      }
      self ++ p.children.flatMap(collectAll)
    }
    val nodes = collectAll(df.queryExecution.executedPlan)
    val join = nodes.find(_.nodeName.contains("SortMergeJoin"))
    assert(join.isDefined, nodes.map(_.nodeName).mkString(","))
    // the join's subtree reads co-located buckets: zero exchanges. (A
    // within-partition Sort remains: Spark 3+ no longer propagates
    // sorted-bucket output ordering unless the legacy
    // bucketedTableScan.outputOrdering conf is on — the exchange is the
    // cost that matters at scale, the sort runs over already-sorted
    // runs.)
    val below = join.toSeq.flatMap(_.children.flatMap(collectAll))
    assert(below.count(_.isInstanceOf[ShuffleExchangeExec]) === 0,
      below.map(_.nodeName).mkString(","))
    // same values as the plain-parquet computation
    val o = Tables.orders(spark, Sf0001)
    val c = Tables.customer(spark, Sf0001)
    val plain = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_orders"))
    val got = df.select("c_mktsegment", "n_orders")
    assert(got.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(got).count() === 0)
  }

  test("q68 compaction: 64 fragments -> 4 files with non-overlapping date ranges") {
    import graft.operators.Storage
    Storage.compaction(spark, Sf0001).collect() // runs the rewrite
    def parts(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.startsWith("part-")).toSeq
    assert(parts(Storage.fragmentedDir(Sf0001)).size === 64)
    val compacted = parts(Storage.compactedDir)
    assert(compacted.size === 4)
    // range clustering: per-file min/max date intervals must not overlap
    // ISO timestamp strings sort lexicographically == chronologically
    val ranges = compacted.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("o_orderdate").cast("string")),
          max(col("o_orderdate").cast("string"))).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2,
        s"file ranges overlap: $hi > $lo2")
      case _ =>
    }
  }

  test("q48 sql surface matches the DataFrame expression of the same query") {
    val viaSql = Storage.sqlSurface(spark, Sf0001)
    val o = Tables.orders(spark, Sf0001)
    val c = Tables.customer(spark, Sf0001)
    val n = Tables.nation(spark, Sf0001)
    val viaDf = o.filter(col("o_orderstatus") =!= "P")
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(countDistinct(col("c_custkey")).as("n_customers"))
    assert(viaSql.count() === viaDf.count())
    assert(viaSql.agg(sum("n_customers")).head().getLong(0) ===
      viaDf.agg(sum("n_customers")).head().getLong(0))
  }

  test("q44 embedding near-dup: exact pairs above threshold only") {
    val got = Dedup.neardupEmbedding(spark, Sf0001).cache()
    assert(got.filter(col("cosine") < 0.4).count() === 0)
    // precision 1.0: every reported pair verified by brute force
    val e = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
    val brute = e.select(col("vec_id").as("id_a"), col("emb").as("emb_a"))
      .crossJoin(e.select(col("vec_id").as("id_b"), col("emb").as("emb_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosineSimilarity(col("emb_a"), col("emb_b")), 6))
      .filter(col("cosine") >= 0.4)
      .select("id_a", "id_b")
    assert(got.select("id_a", "id_b").exceptAll(brute).count() === 0)
    // recall: bits=3 x 8 tables finds most of the (weakly similar) tail
    val nTrue = brute.count()
    val nGot = got.count()
    assert(nTrue === 0 || nGot.toDouble / nTrue >= 0.5, s"recall $nGot/$nTrue")
    got.unpersist()
  }

  test("q46 rolling fingerprint groups every exact-duplicate text") {
    val fp = TextAnalysis.rollingFingerprint(spark, Sf0001)
    // exact dups share all 8-grams -> identical min rolling hash
    val nDupTexts = Tables.documents(spark, Sf0001)
      .groupBy("text").count().filter(col("count") > 1).count()
    assert(fp.count() >= nDupTexts)
    // determinism across runs
    val fp2 = TextAnalysis.rollingFingerprint(spark, Sf0001)
    assert(fp.exceptAll(fp2).count() === 0)
  }

  test("RollingMinHash expression is bit-identical to the HOF formulation") {
    import spark.implicits._
    val k = 8
    // corpus docs + adversarial shapes: empty, shorter-than-k, exactly k,
    // multi-byte chars straddling window boundaries
    val edge = Seq("", "ab", "exactly8", "héllo wörld ütf8 ßtraß",
      "日本語テキストの窓", "a" * 9).toDF("text")
    val d = Tables.documents(spark, Sf0001).select("text").unionByName(edge)
    val both = d.select(
      graft.functions.TextFunctions.rollingMinHash(col("text"), k).as("native"),
      array_min(transform(
        sequence(lit(1), greatest(length(col("text")) - (k - 1), lit(1))),
        i => xxhash64(col("text").substr(i, lit(k))))).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    // SQL surface (GraftExtensions injection): compare the SQL call
    // against the Column API at a DIFFERENT k than the default, so a
    // mis-wired gram-size argument cannot slip through
    d.filter(col("text").isNotNull).createOrReplaceTempView("docs_rmh")
    val viaSql = spark.sql(
      "SELECT count(*) AS bad FROM docs_rmh WHERE graft_rolling_minhash(text, 4) IS DISTINCT FROM graft_rolling_minhash(text, 8)")
      .head().getLong(0)
    assert(viaSql > 0, "k must change the fingerprint for real texts")
    val sqlVsColumn = spark.sql("SELECT text, graft_rolling_minhash(text, 4) AS s FROM docs_rmh")
      .withColumn("c", graft.functions.TextFunctions.rollingMinHash(col("text"), 4))
      .filter(col("s") =!= col("c")).count()
    assert(sqlVsColumn === 0)
  }

  test("q75 merge upsert: row count preserved, exactly the staged slice updated") {
    val base = Tables.orders(spark, Sf0001)
    val merged = Storage.mergeUpsert(spark, Sf0001)
    assert(merged.agg(sum("n_orders")).head().getLong(0) === base.count())
    val updated = merged.filter(col("o_orderstatus") === "U")
      .select("n_orders").head().getLong(0)
    assert(updated === base.filter(col("o_orderkey") % 10 === 0).count())
  }

  test("q306 retention purge: dropped partition dirs are exactly the sub-horizon years; survivors byte-identical") {
    val rows = Storage.retentionPurge(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val purged = rows.filter(_.getAs[String]("action") == "purged")
      .map(_.getAs[Long]("order_year"))
    val retained = rows.filter(_.getAs[String]("action") == "retained")
      .map(_.getAs[Long]("order_year"))
    // non-vacuity: the fixture must exercise BOTH sides of the horizon
    assert(purged.nonEmpty && retained.nonEmpty, rows.mkString(";"))
    assert(purged.forall(_ < Storage.RetentionHorizonYear))
    assert(retained.forall(_ >= Storage.RetentionHorizonYear))
    // on-disk witness: the surviving partition directories are EXACTLY
    // the retained years — purge really deleted, and deleted only policy
    val sf = Sf0001.stripSuffix("/").split('/').last
    val dirs = new java.io.File(s"${Storage.retentionBase}/orders_$sf")
      .listFiles().map(_.getName).filter(_.startsWith("order_year="))
      .map(_.stripPrefix("order_year=").toLong).sorted.toSeq
    assert(dirs === retained.sorted.toSeq)
    // manifest witnesses: purged partitions come back empty, retained
    // ones reproduce their exact pre-purge content digest
    rows.foreach { r =>
      val y = r.getAs[Long]("order_year")
      if (r.getAs[String]("action") == "purged") {
        assert(r.getAs[Long]("n_rows_after") === 0L, s"year $y")
        assert(r.isNullAt(r.fieldIndex("digest_after")), s"year $y")
      } else {
        assert(r.getAs[Long]("n_rows_after") === r.getAs[Long]("n_rows"), s"year $y")
        assert(r.getAs[String]("digest_after") === r.getAs[String]("digest"), s"year $y")
      }
      assert(r.getAs[Long]("n_rows") > 0L, s"year $y")
    }
  }

  test("q308 CBO: analyzed column stats flip the star join order; row counts reach the plan") {
    val (o, c, n) = Storage.analyzedTables(spark, Sf0001)
    // leaf-relation order of the optimized plan, tagged by which star
    // table each leaf is; forced INSIDE the conf window because plan
    // optimization (and stats visitation) is lazy
    def leafTags(): Seq[String] = spark.sql(Storage.cboStarText(o, c, n))
      .queryExecution.optimizedPlan.collectLeaves()
      .map(_.toString)
      .map(s => if (s.contains("cbo_orders")) "orders"
        else if (s.contains("cbo_customer")) "customer"
        else if (s.contains("cbo_nation")) "nation" else "?")
    val plain = leafTags()
    val (cbo, leafRowCounts) = Session.withConf(spark, Storage.CboConf: _*) {
      val df = spark.sql(Storage.cboStarText(o, c, n))
      val p = df.queryExecution.optimizedPlan
      (leafTags(), p.collectLeaves().map(_.stats.rowCount))
    }
    // without stats the optimizer keeps the deliberately bad syntactic
    // order (fact joined before the 25-row dim can prune)
    assert(plain === Seq("orders", "customer", "nation"), plain.mkString(","))
    // with ANALYZEd stats + CBO the DP reorder changes the join tree
    assert(cbo !== plain, s"CBO left the join order unchanged: $cbo")
    // and the catalog statistics actually reached the plan
    assert(leafRowCounts.forall(_.isDefined), leafRowCounts.mkString(","))
  }

  test("q84 z-order: per-file spans contract in BOTH dimensions") {
    Storage.zorderCompaction(spark, Sf0001).collect() // runs the rewrite
    val files = new java.io.File(Storage.zorderDir).listFiles()
      .filter(_.getName.startsWith("part-")).toSeq
    assert(files.size === 8)
    val global = spark.read.parquet(Storage.zorderDir)
      .agg(min("o_custkey"), max("o_custkey"),
        min("o_orderdate").cast("string"), max("o_orderdate").cast("string")).head()
    val custSpan = global.getLong(1) - global.getLong(0)
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("o_custkey"), max("o_custkey"),
          min(datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))),
          max(datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")))).head()
      (r.getLong(1) - r.getLong(0), (r.getInt(3) - r.getInt(2)).toLong)
    }
    val dateSpanGlobal = spark.read.parquet(Storage.zorderDir)
      .agg(max(datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")))
        - min(datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")))).head().getInt(0).toLong
    // a single-column sort would leave the OTHER dimension's per-file
    // span at ~the global span; z-order must contract both on average
    val avgCust = spans.map(_._1).sum.toDouble / spans.size
    val avgDate = spans.map(_._2).sum.toDouble / spans.size
    assert(avgCust < 0.8 * custSpan, s"custkey avg span $avgCust vs global $custSpan")
    assert(avgDate < 0.8 * dateSpanGlobal, s"date avg span $avgDate vs global $dateSpanGlobal")
  }

  test("q85 incremental agg: merge of partials equals aggregate of the union") {
    val merged = Storage.incrementalAgg(spark, Sf0001)
    val direct = Tables.orders(spark, Sf0001)
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
      .groupBy(col("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
    assert(merged.count() === direct.count())
    val m = merged.select("order_year", "o_orderstatus", "n_orders")
    assert(m.exceptAll(direct.select("order_year", "o_orderstatus", "n_orders")).count() === 0)
  }

  test("q88 csv round-trip conserves rows and characters") {
    val agg = Storage.csvRoundtrip(spark, Sf0001).collect()
    val d = Tables.documents(spark, Sf0001)
    assert(agg.map(_.getAs[Long]("n_docs")).sum === d.count())
    val trueChars = d.agg(sum(col("n_chars"))).head().getLong(0)
    assert(agg.map(_.getAs[Long]("total_chars")).sum === trueChars)
  }

  test("q198 orc round-trip: .orc layout on disk, readback preserves every row") {
    Storage.orcRoundtrip(spark, Sf0001).collect() // builds the export
    val out = Scratch.artifactPath("orc_docs", Sf0001, "_v1")
    // physical layout: actual ORC part files landed (not parquet/csv)
    val files = new java.io.File(out).listFiles()
    assert(files.exists(_.getName.endsWith(".orc")), files.mkString(","))
    assert(files.exists(_.getName == "_SUCCESS"))
    // readback row identity against the source (exceptAll both ways)
    val src = Tables.documents(spark, Sf0001)
      .select("doc_id", "lang", "source", "text", "n_chars")
    val back = spark.read.orc(out)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("q90 json round-trip conserves rows and characters") {
    val agg = Storage.jsonRoundtrip(spark, Sf0001).collect()
    val d = Tables.documents(spark, Sf0001)
    assert(agg.map(_.getAs[Long]("n_docs")).sum === d.count())
    assert(agg.map(_.getAs[Long]("docs_with_text")).sum ===
      d.filter(col("text").isNotNull).count())
  }

  test("q76 subqueries decorrelate: no nested-loop join in the plan") {
    val df = Storage.subqueries(spark, Sf0001)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("publishStaged: swap replaces the export, a failed write keeps the old one") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_publish_spec")
    val target = s"$base/export"
    def put(content: String): Unit =
      Scratch.publishStaged(target) { stage =>
        Files.createDirectories(Paths.get(stage))
        Files.writeString(Paths.get(stage, "part"), content)
      }
    def read(): String = Files.readString(Paths.get(target, "part"))
    put("v1")
    assert(read() === "v1")
    // a crashing write must leave the previous export fully intact
    intercept[RuntimeException] {
      Scratch.publishStaged(target) { stage =>
        Files.createDirectories(Paths.get(stage))
        Files.writeString(Paths.get(stage, "part"), "torn")
        throw new RuntimeException("writer died")
      }
    }
    assert(read() === "v1")
    put("v2")
    assert(read() === "v2")
    // no staging residue beside the export
    import scala.jdk.CollectionConverters._
    val residue = Files.list(base).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("export.stage")).toSeq
    assert(residue.isEmpty, residue)
    Scratch.deleteNow(base.toString)
  }

  test("q125 manifest from the written artifact equals a source-side recomputation") {
    import org.apache.spark.sql.functions._
    import graft.functions.Parity.money
    val fromArtifact = Storage.writeManifest(spark, Sf0001).collect()
    // same ledger computed straight from the source frame (no write):
    // equality proves the partitioned round trip preserved every row
    def nn(c: org.apache.spark.sql.Column) = coalesce(c, lit("∅"))
    val direct = Tables.lineitem(spark, Sf0001)
      .withColumn("h", md5(concat_ws("|",
        nn(col("l_orderkey").cast("string")),
        nn(col("l_linenumber").cast("string")),
        nn(money(col("l_quantity")).cast("string")),
        nn(col("l_shipdate").cast("date").cast("string")),
        nn(col("l_returnflag")))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("l_orderkey")).as("n_orders"),
        min(col("h")).as("min_digest"), max(col("h")).as("max_digest"))
      .orderBy(col("l_returnflag"))
      .collect()
    assert(fromArtifact.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq)
    assert(fromArtifact.map(_.getAs[Long]("n_rows")).sum ===
      Tables.lineitem(spark, Sf0001).count())
  }

  test("q164 join-view maintenance: incremental path == full recompute") {
    val got = Storage.joinViewMaintenance(spark, Sf0001).collect()
    val direct = Tables.orders(spark, Sf0001)
      .join(Tables.customer(spark, Sf0001), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    assert(got.map(_.getString(0)).toSet === direct.keySet)
    got.foreach { r =>
      val (n, s) = direct(r.getString(0))
      assert(r.getLong(1) === n, s"n_orders $r")
      assert(r.getDouble(2) === s, s"revenue $r")
    }
    // the delta actually carried rows: both materialized slices non-empty
    val base = Storage.aggTableBase
    val sf = Sf0001.stripSuffix("/").split('/').last
    assert(spark.read.parquet(s"$base/joinview_$sf/seed").count() > 0)
    assert(spark.read.parquet(s"$base/joinview_$sf/delta").count() > 0)
  }

  test("q169 Merkle manifest: matches a driver-side hash-tree replay") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = Tables.documents(spark, Sf0001)
      .select($"source", $"text").as[(String, String)].collect()
      .filter(_._2 != null)
    val roots = docs.groupBy(_._1).view.mapValues { ds =>
      (ds.length.toLong, md5hex(ds.map(d => md5hex(d._2)).sorted.mkString))
    }.toMap
    val corpusRoot = md5hex(roots.values.map(_._2).toSeq.sorted.mkString)
    val got = Storage.merkleManifest(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet === roots.keySet)
    got.foreach { r =>
      val (n, root) = roots(r.getString(0))
      assert(r.getLong(1) === n, r)
      assert(r.getString(2) === root, s"source_root $r")
      assert(r.getString(3) === corpusRoot, s"corpus_root $r")
    }
    // sensitivity: a one-character change flips the source root
    val tweaked = md5hex((md5hex(docs.head._2 + " ") +:
      docs.tail.filter(_._1 == docs.head._1).map(d => md5hex(d._2))).sorted.mkString)
    assert(tweaked !== roots(docs.head._1)._2)
  }

  test("durable artifact root: index builds land under SPARK_GRAFT_ARTIFACT_ROOT") {
    // sys-prop alias of the env conf (same resolution path in
    // Scratch.artifactRootOverride) so the test can flip it in-JVM
    val root = java.nio.file.Files.createTempDirectory("graft_artifacts").toString
    System.setProperty("spark.graft.artifactRoot", root)
    try {
      val p = Scratch.artifactPath("sq8", Sf0001, "_d64")
      // durable paths key on the corpus only — no pid, so a later run
      // (different process) resolves the SAME path and reuses the build
      assert(p.startsWith(root), p)
      assert(!p.contains(ProcessHandle.current().pid().toString + "_"), p)
      val built = graft.operators.Similarity.buildSq8(spark, Sf0001)
      assert(built === p)
      assert(Scratch.artifactComplete(built), s"_SUCCESS missing under $built")
      assert(spark.read.parquet(built).count() > 0)
      // second call short-circuits on the _SUCCESS transaction marker
      val mtime = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$built/_SUCCESS"))
      graft.operators.Similarity.buildSq8(spark, Sf0001)
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$built/_SUCCESS")) === mtime)
    } finally {
      System.clearProperty("spark.graft.artifactRoot")
      Scratch.deleteNow(root)
    }
    // with the override cleared, paths return to pid-suffixed tmp scratch
    val ephemeral = Scratch.artifactPath("sq8", Sf0001, "_d64")
    assert(!ephemeral.startsWith(root), ephemeral)
    assert(ephemeral.contains(s"${ProcessHandle.current().pid()}_"), ephemeral)
  }

  test("q192: variant round-trip preserves typed paths; malformed JSON degrades to NULL") {
    import spark.implicits._
    // the landed table's variant column survives parquet with its
    // typed path intact (the shredded-encoding fidelity the oracle's
    // aggregate equality also checks, here asserted at row level)
    val path = Scratch.artifactPath("variant_events", Sf0001, "_v1")
    graft.operators.Storage.variantRoundtrip(spark, Sf0001).collect()
    val stored = spark.read.parquet(path)
    assert(stored.schema("v").dataType.typeName === "variant")
    val inferred = stored
      .select(schema_of_variant_agg(col("v"))).head().getString(0)
    assert(inferred === "OBJECT<k: BIGINT>", inferred)
    // dirty-data rule: try_parse_json NULLs malformed text instead of
    // aborting the job (ANSI mode would otherwise throw)
    val dirty = Seq("{\"k\": 1}", "not json", "{\"k\": []}").toDF("props")
      .select(try_parse_json(col("props")).as("v"))
      .select(try_variant_get(col("v"), "$.k", "bigint").as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(dirty.toSeq === Seq(Some(1L), None, None))
  }
}
