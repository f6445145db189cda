package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions._

/** Dedup operators (X1/X2, SURVEY §2.11). q31/q32 have no DuckDB oracle
  * (xxhash64 is Spark-specific), so these tests carry their correctness:
  * LSH output is checked against a brute-force exact-Jaccard sweep. */
class DedupSpec extends SparkSuite {

  test("q29 exact dedup: copies partition the corpus, keepers are unique") {
    val d = Dedup.dedupExact(spark, Sf0001).cache()
    val total = Tables.documents(spark, Sf0001).count()
    assert(d.agg(sum("n_copies")).head().getLong(0) === total)
    assert(d.select("kept_doc").distinct().count() === d.count())
    d.unpersist()
  }

  test("q31 minhash-lsh: subset of true pairs; full recall on exact dups") {
    // brute force: all pairs with shingle-Jaccard >= 0.5 (50 docs -> 1225 pairs)
    val sets = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), array_distinct(wordShingles(col("text"), 3)).as("sh"))
    val truePairs = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .crossJoin(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")))
      .filter(col("doc_a") < col("doc_b"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        / size(array_union(col("sh_a"), col("sh_b"))) >= 0.5)
      .select("doc_a", "doc_b")
    val lsh = Dedup.minhashLsh(spark, Sf0001).select("doc_a", "doc_b")
    // verification step guarantees precision 1.0
    assert(lsh.exceptAll(truePairs).count() === 0)
    // identical texts have identical signatures -> always collide.
    // Scoped to docs with >= 3 tokens: shorter docs yield no shingles,
    // are invisible to MinHash BY DESIGN, and are covered by q29's
    // exact dedup instead (see minhashLsh scaladoc).
    val longEnough = Tables.documents(spark, Sf0001)
      .filter(size(split(col("text"), " ")) >= 3)
    val exactDupPairs = longEnough.as("a")
      .join(longEnough.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    assert(exactDupPairs.exceptAll(lsh).count() === 0)
    // and overall recall on the near-dup ground truth is high
    val nTrue = truePairs.count()
    val nFound = lsh.intersect(truePairs).count()
    assert(nTrue === 0 || nFound.toDouble / nTrue >= 0.8, s"recall $nFound/$nTrue")
  }

  test("ShingleHashSet kernel equals the HOF formulation as a set") {
    import spark.implicits._
    val edge = Seq("", "one two", "a b c", "x  y z ", "日本 語 テキスト 窓").toDF("text")
    val d = Tables.documents(spark, Sf0001).select("text").unionByName(edge)
    val both = d.select(
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("native"),
      array_distinct(transform(wordShingles(col("text"), 3),
        s => xxhash64(s))).as("hof"))
    val bad = both.filter(
      size(array_except(col("native"), col("hof"))) =!= 0 ||
      size(array_except(col("hof"), col("native"))) =!= 0)
    assert(bad.count() === 0)
  }

  test("LshBands: null below w tokens, bands complete, dups share all bands") {
    import spark.implicits._
    val df = Seq("a b", "a b c d e", "a b c d e", "different text here now")
      .toDF("text")
      .select(col("text"),
        graft.functions.TextFunctions.lshBands(col("text"), 3, 32, 8).as("bands"))
    val rows = df.collect()
    assert(rows(0).isNullAt(1)) // 2 tokens < w=3
    val b1 = rows(1).getSeq[org.apache.spark.sql.Row](1)
    assert(b1.map(_.getInt(0)) === (0 until 8))
    // identical texts -> identical band hashes (exact-dup recall 1.0)
    assert(b1.map(_.getLong(1)) === rows(2).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)))
    // different texts -> (almost surely) different band hashes
    assert(b1.map(_.getLong(1)) !== rows(3).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)))
  }

  test("SimHashSig kernel equals the explode/bit-count formulation") {
    import spark.implicits._
    val bits = 32
    val edge = Seq("", "one", "a a a b", "tok " * 50).toDF("text")
      .withColumn("doc_id", monotonically_increasing_id() + 1000000)
    val d = Tables.documents(spark, Sf0001).select("doc_id", "text").unionByName(edge)
    val native = d.select(col("doc_id"),
      graft.functions.TextFunctions.simHashSig(col("text"), bits).as("sig_n"))
    val toks = d.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitCounts = (0 until bits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"c$b")) :+ count(lit(1)).as("n_toks")
    val sigExpr = (0 until bits).map { b =>
      when(col(s"c$b") * 2 > col("n_toks"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val hof = toks.groupBy(col("doc_id")).agg(bitCounts.head, bitCounts.tail: _*)
      .select(col("doc_id"), sigExpr.as("sig_h"))
    val joined = native.join(hof, Seq("doc_id"))
    assert(joined.filter(col("sig_n") =!= col("sig_h")).count() === 0)
  }

  test("q30 jaccard values are valid and symmetric-canonical") {
    val j = Dedup.neardupJaccard(spark, Sf0001)
    assert(j.filter(col("jaccard") < 0.8 || col("jaccard") > 1).count() === 0)
    assert(j.filter(col("doc_a") >= col("doc_b")).count() === 0)
  }

  test("q30 honesty numbers (sf0.01): anchored key 273 pairs, exact-length key 88, saturation ~24%") {
    // pins the measured claims in neardupJaccard's scaladoc as assertions
    val sf001 = "/root/testdata/sf0.01"
    val toksDf = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("n_chars"),
        array_distinct(tokens(col("text"))).as("toks"))
      .withColumn("nt", size(col("toks"))).cache()
    // the shipped (32-char band +-1, first token, rarest token) blocking
    assert(Dedup.neardupJaccard(spark, sf001).count() === 273)
    // the rarest-token anchor measurably cuts candidate pairs vs the
    // round-3/4 (band, first-token) key — the round-5 VERDICT done
    // criterion ("log the pair count"); the ~30-token vocabulary caps
    // the cut at ~1.6x here, a Zipfian corpus cuts far deeper
    val dBase = Tables.documents(spark, sf001)
      .select(col("doc_id"), expr("n_chars div 32").as("band"),
        element_at(split(col("text"), " "), 1).as("ftok"),
        array_distinct(tokens(col("text"))).as("toks"))
    val tok = dBase.select(col("doc_id"), explode(col("toks")).as("tok"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val rare = tok.join(broadcast(dfreq), Seq("tok")).groupBy("doc_id")
      .agg(min_by(col("tok"), struct(col("df"), col("tok"))).as("rtok"))
    val dAnchored = dBase.join(rare, Seq("doc_id"))
    def candCount(withRarest: Boolean): Long = {
      val keys = Seq("blk", "ftok") ++ (if (withRarest) Seq("rtok") else Nil)
      val l = dAnchored.select(
        explode(array(col("band"), col("band") + 1)).as("blk"),
        col("ftok"), col("rtok"), col("doc_id").as("id_l"))
      val r = dAnchored.select(col("band").as("blk"), col("ftok"), col("rtok").as("rtok_r"),
        col("doc_id").as("id_r")).withColumnRenamed("rtok_r", "rtok")
      l.join(r, keys).filter(col("id_l") =!= col("id_r"))
        .select(least(col("id_l"), col("id_r")).as("doc_a"),
          greatest(col("id_l"), col("id_r")).as("doc_b"))
        .distinct().count()
    }
    val (candOld, candNew) = (candCount(withRarest = false), candCount(withRarest = true))
    info(s"candidate pairs: band+ftok=$candOld, band+ftok+rtok=$candNew")
    assert(candOld === 793 && candNew === 487, s"$candOld/$candNew")
    // the pre-round-3 exact-n_chars blocking under the same verification:
    // misses every length-changing edit
    val a = toksDf.select(col("n_chars"),
      col("doc_id").as("doc_a"), col("toks").as("ta"), col("nt").as("na"))
    val b = toksDf.select(col("n_chars"),
      col("doc_id").as("doc_b"), col("toks").as("tb"), col("nt").as("nb"))
    val oldKey = a.join(b, Seq("n_chars")).filter(col("doc_a") < col("doc_b"))
      .withColumn("ni", size(array_intersect(col("ta"), col("tb"))))
      .filter(col("ni").cast("double") / (col("na") + col("nb") - col("ni")) >= 0.8)
    assert(oldKey.count() === 88)
    // vocabulary saturation: with a ~30-token vocabulary, a large share of
    // ALL pairs clears 0.8 distinct-token jaccard without being edit-model
    // near-dups — the reason sequence-sensitive q31 is the discriminative
    // metric on this corpus
    val l = toksDf.select(col("doc_id").as("doc_a"), col("toks").as("ta"), col("nt").as("na"))
    val r = toksDf.select(col("doc_id").as("doc_b"), col("toks").as("tb"), col("nt").as("nb"))
    val pairs = l.crossJoin(r).filter(col("doc_a") < col("doc_b"))
      .withColumn("ni", size(array_intersect(col("ta"), col("tb"))))
    val nAll = pairs.count()
    val nSat = pairs
      .filter(col("ni").cast("double") / (col("na") + col("nb") - col("ni")) >= 0.8)
      .count()
    val frac = nSat.toDouble / nAll
    assert(frac > 0.15 && frac < 0.35, s"saturation fraction $frac ($nSat/$nAll)")
    toksDf.unpersist()
  }

  test("connectedComponents: chains collapse, forests stay apart") {
    import spark.implicits._
    // two components: a 4-chain 10-2-7-5 (transitivity across 3 hops —
    // min label must cross the whole chain, exercising >1 propagation
    // round) and an isolated pair 20-21; plus a duplicate edge
    val pairs = Seq((10L, 2L), (2L, 7L), (7L, 5L), (7L, 5L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 2L, 2L -> 2L, 7L -> 2L, 5L -> 2L, 20L -> 20L, 21L -> 20L))
  }

  test("star contraction: a 1024-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // the adversarial case for min-label propagation: a path graph,
    // where label propagation needs diameter (= 1023) rounds; the
    // large-star/small-star contraction must stay logarithmic. Budget 0
    // keeps every round in the distributed loop (at the default budget
    // the chain fits one task and the loop runs 0 rounds).
    val n = 1024
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.starContract(pairs, finishEdges = 0)
    assert(rounds <= 25, s"chain took $rounds rounds — not logarithmic")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === n)
    assert(got.forall(_._2 == 0L), "every node must label to the chain minimum")
    // the loop exits on a fixpoint: the exit edge set (every non-centre
    // node -> its centre) survives one more round unchanged
    val exit = labels.filter(col("node") =!= col("lbl"))
      .select(col("node").as("u"), col("lbl").as("v")).cache()
    val unsettled = org.apache.spark.sql.Observation()
    val again = Dedup.smallStar(Dedup.largeStar(exit, unsettled)).cache()
    assert(again.exceptAll(exit).isEmpty && exit.exceptAll(again).isEmpty)
    assert(unsettled.get("n") === 0L)
    again.unpersist(); exit.unpersist()
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val nNodes = 30 + trial * 10
      val edges = Seq.fill(nNodes / 2)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      // both paths: the distributed loop (budget 0) and the one-task finish
      for (budget <- Seq(0L, Dedup.StarFinishEdges)) {
        val got = Dedup.starContract(edges.toDF("doc_a", "doc_b"), budget)._1
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"trial $trial, budget $budget, ${edges.size} edges")
      }
    }
  }

  test("connectedComponents labels string nodes by Spark's min, not String.compareTo") {
    import spark.implicits._
    // U+FFFD sorts AFTER an astral-plane code point in UTF-16
    // (String.compareTo) but BEFORE it in UTF-8 byte order (Spark)
    val pairs = Seq(("\uFFFD", "\uD83D\uDE00"), ("b", "a"), ("c", "b")).toDF("doc_a", "doc_b")
    val sparkMin = Seq("\uFFFD", "\uD83D\uDE00").toDF("n").agg(min("n")).head().getString(0)
    assert(sparkMin === "\uFFFD")
    for (budget <- Seq(0L, Dedup.StarFinishEdges)) {
      val got = Dedup.starContract(pairs, budget)._1
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === Map("\uFFFD" -> sparkMin, "\uD83D\uDE00" -> sparkMin,
        "a" -> "a", "b" -> "a", "c" -> "a"), s"budget $budget")
    }
  }

  test("connectedComponents of zero edges is an empty frame with the node schema") {
    import spark.implicits._
    for (budget <- Seq(0L, Dedup.StarFinishEdges)) {
      val (labels, rounds) =
        Dedup.starContract(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), budget)
      assert(labels.schema.map(f => f.name -> f.dataType) ===
        Seq("node" -> org.apache.spark.sql.types.LongType,
          "lbl" -> org.apache.spark.sql.types.LongType))
      assert(labels.isEmpty && rounds === 0, s"budget $budget")
    }
  }

  test("connectedComponents leaves session conf alone and is safe on a shared session") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import spark.implicits._
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .toDF("doc_a", "doc_b")
    def run(budget: Long): Seq[(Long, Long)] = Dedup.starContract(pairs, budget)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    for (budget <- Seq(0L, Dedup.StarFinishEdges)) {
      val solo = run(budget)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
      val both = Await.result(Future.sequence(Seq(Future(run(budget)), Future(run(budget)))),
        5.minutes)
      assert(both.forall(_ == solo), s"budget $budget")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
    }
  }

  test("q63/q64: clusters are consistent with q30 pairs; one keeper per cluster") {
    val pairs = Dedup.neardupJaccard(spark, Sf0001).select("doc_a", "doc_b").cache()
    val clusters = Dedup.dupClusters(spark, Sf0001).cache()
    // every verified pair lands in ONE cluster
    val crossCluster = pairs
      .join(clusters.select(col("doc_id").as("doc_a"), col("cluster").as("ca")), Seq("doc_a"))
      .join(clusters.select(col("doc_id").as("doc_b"), col("cluster").as("cb")), Seq("doc_b"))
      .filter(col("ca") =!= col("cb")).count()
    assert(crossCluster === 0)
    // cluster label = min doc_id of the cluster
    assert(clusters.groupBy(col("cluster")).agg(min(col("doc_id")).as("mn"))
      .filter(col("cluster") =!= col("mn")).count() === 0)
    // cluster_size is the actual member count
    assert(clusters.groupBy(col("cluster"), col("cluster_size")).count()
      .filter(col("cluster_size") =!= col("count")).count() === 0)
    val canonical = Dedup.canonicalDocs(spark, Sf0001).cache()
    // exactly one kept doc per cluster, and it is the longest member
    val keepers = canonical.filter(col("is_kept"))
    assert(keepers.groupBy(col("cluster")).count().filter(col("count") =!= 1).count() === 0)
    val maxLen = canonical.groupBy(col("cluster")).agg(max(col("n_chars")).as("mx"))
    assert(keepers.join(maxLen, Seq("cluster"))
      .filter(col("n_chars") =!= col("mx")).count() === 0)
    pairs.unpersist(); clusters.unpersist(); canonical.unpersist()
  }

  test("q32 simhash groups exact duplicates together") {
    // identical texts tokenize identically -> identical 32-bit signature,
    // so every exact-dup group (n_copies > 1) must land in some sig group
    val nDupDocs = Tables.documents(spark, Sf0001)
      .groupBy("text").count().filter(col("count") > 1)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    val grouped = Dedup.simhash(spark, Sf0001)
    val nGrouped = grouped.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
    assert(nGrouped >= nDupDocs)
    // every surfaced group is a real collision group
    assert(grouped.filter(col("n_docs") < 2).count() === 0)
  }

  test("q139 fuzzy linkage: matches brute-force within-block edit distances") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Tables.part(spark, Sf0001).select($"p_name").as[String]
      .collect().groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = (for {
      (a, fa) <- names; (b, fb) <- names
      if a < b && a.split(' ').last == b.split(' ').last
      d = lev(a, b) if d >= 1 && d <= 3
    } yield (a, b, d.toLong, fa * fb)).toSeq.sorted
    val got = Dedup.fuzzyLinkage(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
    assert(got.nonEmpty, "no linkage pairs at sf0.001 — test degenerate")
    // honesty: log what last-token blocking gives up vs true all-pairs
    val missed = (for {
      (a, _) <- names; (b, _) <- names
      if a < b && a.split(' ').last != b.split(' ').last
      d = lev(a, b) if d >= 1 && d <= 3
    } yield 1).size
    info(s"blocked recall: ${got.size} found, $missed cross-block pairs skipped")
  }

  test("q162 golden records: matches a driver-side union-find replay") {
    import spark.implicits._
    val names = Tables.part(spark, Sf0001)
      .select($"p_name").as[String].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val keys = names.keys.toSeq
    val parent = scala.collection.mutable.Map(keys.map(k => k -> k): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for {
      a <- keys; b <- keys
      if a < b && a.split(" ").last == b.split(" ").last
      d = lev(a, b) if d >= 1 && d <= 3
    } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val comps = keys.groupBy(find).filter(_._2.size > 1)
    val expected = comps.map { case (_, members) =>
      val entity = members.min
      val golden = members.minBy(m => (-names(m), m))
      entity -> (golden, members.size.toLong, members.map(names).sum)
    }
    val got = Dedup.goldenRecords(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet === expected.keySet)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert(r.getString(1) === e._1, s"golden_name $r")
      assert(r.getLong(2) === e._2, s"n_variants $r")
      assert(r.getLong(3) === e._3, s"n_rows $r")
    }
    assert(got.nonEmpty, "no multi-variant entities — test degenerate")
  }

  test("q185 prefix-filtered join matches a driver-side brute-force all-pairs replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def shingles(t: String): Set[String] =
      t.split(" ", -1).toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).intersect(sets(b)).size
      un = sets(a).size + sets(b).size - inter
      if 5 * inter >= 4 * un
    } yield (a, b) -> (inter.toLong, un.toLong)).toMap
    val got = Dedup.prefixJaccardJoin(spark, Sf0001).collect()
    // exactness in BOTH directions: no pair lost by prefix filtering
    // (completeness), no extra pair passed verification (soundness)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === expected.keySet)
    got.foreach { r =>
      val (ei, eu) = expected((r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) === ei, s"n_inter $r")
      assert(r.getLong(3) === eu, s"n_union $r")
      val j = (BigDecimal(ei) / BigDecimal(eu))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === j, s"jaccard $r")
    }
    assert(got.nonEmpty, "no near-dup pairs at threshold — test degenerate")
  }

  test("q185 position filter: strictly fewer candidates, identical verified pairs") {
    // the PPJoin position filter (round-9) must be output-neutral
    // (completeness theorem — see Dedup.prefixCandidates scaladoc)
    // while strictly shrinking the candidate set the verifier pays
    // for. sf0.1: at sf0.001/sf0.01 the prefix filter alone is already
    // perfect on this corpus (candidates == verified pairs — nothing
    // droppable); the slack the position filter removes appears at
    // sf0.1, where it cuts 43,543 candidates to 12,784 (measured
    // round-9, recorded in NOTES)
    val Sf01 = "/root/testdata/sf0.1"
    val toks = Dedup.prefixShingleFrame(spark, Sf01)
    val without = Dedup.prefixCandidates(toks, positionFilter = false)
    val withPos = Dedup.prefixCandidates(toks, positionFilter = true)
    val nWithout = without.count()
    val nWith = withPos.count()
    assert(nWith < nWithout,
      s"position filter did not drop any candidate ($nWith vs $nWithout)")
    // no recall loss: every candidate that verifies at J >= 4/5 under
    // the unfiltered generator still appears under the filtered one
    // (the filtered set is a subset by construction, so set equality
    // of the VERIFIED pairs is implied by q185's brute-force spec
    // above; here we pin the candidate-level superset direction too)
    val lost = without.select("da", "db").exceptAll(withPos.select("da", "db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.prefixJaccardJoin(spark, Sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lost.intersect(verified).isEmpty,
      s"position filter dropped verified pairs: ${lost.intersect(verified)}")
  }

  test("q196 token yield: ledger arithmetic consistent, dedup actually deflates") {
    val got = Dedup.tokenYield(spark, Sf0001).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), s"kept_docs > n_docs $r")
      assert(r.getLong(4) <= r.getLong(2), s"kept_tokens > n_tokens $r")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0, s"yield $r")
      // exactly one keeper per cluster and all singletons kept means a
      // source loses docs only to clustering
      assert(r.getLong(3) >= 1L, r)
    }
    // the corpus HAS near-dup clusters, so somewhere yield < 1
    assert(got.exists(_.getDouble(5) < 1.0), "no deflation — degenerate")
    // global doc conservation: kept + dropped == total
    val totalDocs = Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull).count()
    assert(got.map(_.getLong(1)).sum === totalDocs)
  }
}
