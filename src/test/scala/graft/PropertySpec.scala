package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions.naturalSortKey
import graft.soccer.{Ingest, Normalize, Standings}

/** ScalaCheck property tests (SURVEY §5.2.2): algebraic invariants of
  * the domain derivations under generated inputs. */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  /** Deterministic stand-in for the scalatest-scalacheck bridge (not in
    * the offline cache, and build.sbt deps are frozen): sample `n`
    * generated values from fixed seeds and run the property on each.
    * Gen.apply returns None when a `suchThat`/guard sieve fails (no
    * retries in ScalaCheck 1.18) — seeds are advanced until `n` REAL
    * samples ran, and producing none at all is a test failure, so a
    * filtered-out generator can never make a property silently vacuous. */
  private def forAllSampled[A](gen: Gen[A], n: Int = 12)(body: A => Unit): Unit = {
    var produced = 0
    var seed = 0
    while (produced < n && seed < n * 50) {
      gen.apply(Gen.Parameters.default, Seed(42L + seed)).foreach { a =>
        body(a); produced += 1
      }
      seed += 1
    }
    assert(produced == n, s"generator produced only $produced/$n samples")
  }

  private val versionGen: Gen[String] = for {
    alpha <- Gen.oneOf("en", "de", "at", "v", "file")
    parts <- Gen.listOfN(2, Gen.choose(0, 120))
  } yield alpha + parts.mkString(".")

  test("naturalSortKey: lexicographic key order == numeric-aware order (A7)") {
    forAllSampled(Gen.listOfN(30, versionGen)) { names: List[String] =>
      if (names.nonEmpty) {
        val byKey = names.distinct.toDF("n")
          .orderBy(naturalSortKey(col("n")), col("n"))
          .as[String].collect().toList
        // reference comparator: split digit runs, compare numerically
        def chunks(s: String): List[Either[String, Long]] =
          "([0-9]+)|([^0-9]+)".r.findAllIn(s).toList.map { c =>
            if (c.head.isDigit) Right(c.toLong) else Left(c)
          }
        val expected = names.distinct.sortWith { (a, b) =>
          val cmp = chunks(a).zip(chunks(b)).collectFirst {
            case (x, y) if x != y => (x, y) match {
              case (Right(i), Right(j)) => i < j
              case (Left(i), Left(j)) => i < j
              case (Right(_), Left(_)) => true // digits sort before letters
              case (Left(_), Right(_)) => false
            }
          }
          cmp.getOrElse(chunks(a).size < chunks(b).size || (chunks(a) == chunks(b) && a < b))
        }
        assert(byKey === expected, s"names=$names")
      }
    }
  }

  test("wordShingles: count = max(0, tokens - w + 1); identical docs hash equal") {
    val textGen = Gen.listOfN(12,
      Gen.oneOf("spark", "data", "query", "row", "batch")).map(_.mkString(" "))
    forAllSampled(Gen.listOfN(8, textGen)) { texts: List[String] =>
      if (texts.nonEmpty) {
        val df = texts.toDF("text")
          .withColumn("n_toks", size(split(col("text"), " ")))
          .withColumn("n_sh",
            size(graft.functions.TextFunctions.wordShingles(col("text"), 3)))
        val bad = df.filter(col("n_sh") =!=
          greatest(col("n_toks") - 2, lit(0)))
        assert(bad.count() === 0)
      }
    }
  }

  test("winner/points algebra: 3W+1D bookkeeping holds for any scoreline (D6/D7)") {
    forAllSampled(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))) {
      scores: List[(Long, Long)] =>
      if (scores.nonEmpty) {
        val df = scores.toDF("h", "a")
          .withColumn("w", Normalize.winnerCol($"h", $"a"))
          .withColumn("ph", Normalize.pointsCol($"h", $"a"))
          .withColumn("pa", Normalize.pointsCol($"a", $"h"))
        // total points = 3 * decisive + 2 * draws
        val agg = df.agg(
          sum($"ph" + $"pa").as("total"),
          sum(when($"w" === "draw", 1L).otherwise(0L)).as("draws"),
          count(lit(1)).as("n")).head()
        assert(agg.getAs[Long]("total") ===
          3L * (agg.getAs[Long]("n") - agg.getAs[Long]("draws")) + 2L * agg.getAs[Long]("draws"))
      }
    }
  }

  test("dedup idempotence: applying dedupAgainst twice adds nothing (A6/J3)") {
    forAllSampled(Gen.listOfN(25, Gen.zip(Gen.choose(1, 5), Gen.choose(1, 4)))) {
      keys: List[(Int, Int)] =>
      if (keys.nonEmpty) {
        val incoming = keys.map { case (c, p) => (s"sha$c", s"f$p", c * 10 + p) }
          .toDF("commit", "path", "v")
        val empty = Seq.empty[(String, String, Int)].toDF("commit", "path", "v")
        val once = Ingest.dedupAgainst(incoming, empty, Seq("commit", "path"))
        // exactly one row per distinct key survives
        assert(once.count() === keys.map(k => (k._1, k._2)).distinct.size)
        val merged = empty.unionByName(once)
        assert(Ingest.dedupAgainst(incoming, merged, Seq("commit", "path")).count() === 0)
      }
    }
  }

  test("unpivot conservation: per-team points sum to league bookkeeping (SO1)") {
    // guard-free distinct-team generation: offset the second pick past
    // the first (a `if t1 != t2` sieve would None-out most seeds)
    val matchGen = for {
      h <- Gen.choose(0, 5); a <- Gen.choose(0, 5)
      t1 <- Gen.choose(0, 4); t2r <- Gen.choose(0, 3)
    } yield {
      val t2 = if (t2r >= t1) t2r + 1 else t2r
      (s"T$t1", s"T$t2", h.toLong, a.toLong)
    }
    forAllSampled(Gen.listOfN(20, matchGen)) { ms: List[(String, String, Long, Long)] =>
      if (ms.nonEmpty) {
        val matches = ms.toDF("team_home", "team_away", "ft_home", "ft_away")
          .withColumn("league", lit("L")).withColumn("season", lit("S"))
          .withColumn("winner", Normalize.winnerCol($"ft_home", $"ft_away"))
          .withColumn("points_home", Normalize.pointsCol($"ft_home", $"ft_away"))
          .withColumn("points_away", Normalize.pointsCol($"ft_away", $"ft_home"))
        val table = Standings.seasonResults(matches)
        val draws = ms.count(m => m._3 == m._4)
        val totalPoints = table.agg(sum("points")).head().getLong(0)
        assert(totalPoints === 3L * (ms.size - draws) + 2L * draws)
        // played conservation: sum(played) = 2 * matches
        assert(table.agg(sum("played")).head().getLong(0) === 2L * ms.size)
      }
    }
  }

  test("TwoPass.scoreBuckets: monotone in the value, tie-stable, total") {
    // the exactness contract of the q91/q94/q51 family rests on exactly
    // these three properties of the bucket function — for ANY data,
    // including empty (null sketch -> one bucket) and all-equal values
    val valuesGen: Gen[List[Long]] = Gen.oneOf(
      Gen.const(Nil),
      Gen.listOfN(1, Gen.choose(-5L, 5L)),
      Gen.listOfN(40, Gen.choose(-1000L, 1000L)),
      Gen.listOfN(40, Gen.const(7L))) // mass point: every row one bucket
    forAllSampled(valuesGen, n = 8) { vs =>
      val df = vs.toDF("v")
      val bucketOf = graft.operators.TwoPass.scoreBuckets(df, col("v"), 4)
      val got = df.select(col("v"), bucketOf(col("v")).as("b"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      // monotone: sorted by value implies non-decreasing buckets
      got.sliding(2).foreach {
        case Array(a, b) => assert(a._2 <= b._2, s"$a > $b")
        case _ =>
      }
      // tie-stable: equal values always share a bucket
      got.groupBy(_._1).values.foreach(g => assert(g.map(_._2).distinct.length == 1))
    }
  }

  test("TwoPass.runningSum: cum and tot == a driver-side exact running sum") {
    // every shape is sampled on its own, so none can go uncovered:
    // empty, one row, a mass point (every key equal, ties broken by
    // id), several groups with one single-row group, zero weights
    type R = (String, Long, Long) // (group, key, weight); id = position
    def rowsOf(n: Int, groups: Gen[String], keys: Gen[Long], weights: Gen[Long]) =
      Gen.listOfN(n, Gen.zip(groups, keys, weights))
    val shapes: Seq[Gen[List[R]]] = Seq(
      Gen.const(Nil),
      rowsOf(1, Gen.const("g0"), Gen.choose(-5L, 5L), Gen.choose(0L, 9L)),
      rowsOf(300, Gen.const("g0"), Gen.const(7L), Gen.choose(0L, 5L)),
      for {
        many <- rowsOf(2000, Gen.oneOf("g0", "g1", "g2"), Gen.choose(-50L, 50L),
          Gen.choose(0L, 9L))
        solo <- rowsOf(1, Gen.const("solo"), Gen.choose(-50L, 50L), Gen.choose(1L, 9L))
      } yield many ++ solo,
      rowsOf(500, Gen.oneOf("g0", "g1"), Gen.choose(0L, 1000L), Gen.const(0L)))
    for (shape <- shapes) forAllSampled(shape, n = 2) { rs =>
      val indexed = rs.zipWithIndex.map { case ((g, k, w), id) => (g, k, id.toLong, w) }
      val df = indexed.toDF("g", "k", "id", "w")
      for (groups <- Seq(Seq("g"), Nil)) {
        val exact = indexed.groupBy(r => if (groups.isEmpty) "" else r._1).values.flatMap { g =>
          val sorted = g.sortBy(r => (r._2, r._3))
          val cum = sorted.scanLeft(0L)(_ + _._4).tail
          sorted.zip(cum).map { case (r, c) => r._3 -> (c, cum.last) }
        }.toMap
        val got = graft.operators.TwoPass.runningSum(spark, df, groups,
            Seq(col("k"), col("id")), col("w"))
          .select("id", "cum", "tot").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(got === exact, s"groups $groups, ${rs.length} rows")
      }
    }
  }

  test("BloomKernel: no false negatives on any inserted set; probes stay selective") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.BloomKernel
    val bits = 1L << 16
    val k = 3
    val words = new Array[Long]((bits / 64L).toInt)
    forAllSampled(Gen.listOfN(200, Gen.alphaNumStr.suchThat(_.nonEmpty)), n = 4) { ss =>
      java.util.Arrays.fill(words, 0L)
      val inserted = ss.distinct
      inserted.foreach { s =>
        val idx = BloomKernel.indices(UTF8String.fromString(s), bits, k)
        (0 until idx.numElements()).foreach { i =>
          val b = idx.getLong(i)
          words((b >>> 6).toInt) |= 1L << (b & 63L).toInt
        }
      }
      // the structural guarantee q104 rests on: inserted => probe true
      inserted.foreach { s =>
        assert(BloomKernel.probe(UTF8String.fromString(s), words, bits, k), s)
      }
      // and the prune is selective at this load (~600 bits of 65536 set)
      val others = (0 until 500).map(i => s"zz_never_inserted_$i")
        .filterNot(inserted.contains)
      val fp = others.count(s =>
        BloomKernel.probe(UTF8String.fromString(s), words, bits, k))
      assert(fp < others.size / 10, s"false-positive burst: $fp of ${others.size}")
    }
  }

  test("groupRankLookup: bucket path == exact sort (ties, skew, bad ranks)") {
    // round-13: first DIRECT pin of the rank kernel (consumer oracles
    // were the only gate before): random groups with HEAVY ties (values
    // drawn from a small domain), skewed group sizes, single-row
    // groups, and three rank shapes (median pair, extremes,
    // every-decile). Exactness must be independent of sketch quality —
    // the ground truth is a driver-side sort. (The round-13 two-pass GK
    // variant was proven exact by this same pin and then reverted on
    // measurement — see TwoPass.groupRankLookup's header.) Both paths
    // run: bound 0 forces the bucket passes, the default bound answers
    // in one task. Rows with a null key or value have no rank.
    val rng = new scala.util.Random(42)
    val data = (0 until 5).flatMap { g =>
      val size = Seq(1, 7, 100, 1733, 5000)(g)
      val domain = Seq(1, 3, 10, 40, 100000)(g)
      (0 until size).map(_ => (s"g$g", Option((rng.nextInt(domain) + 1).toLong)))
    }
    val df = (data ++ Seq((null, Some(2L)), ("g2", None), ("g4", None)))
      .toDF("k", "c")
    val rankFns: Seq[Long => Seq[Long]] = Seq(
      n => Seq(math.max(n / 2, 1L), math.max((n + 1) / 2, 1L)),
      n => Seq(1L, n, n + 5L, 0L, -3L), // out-of-range ranks must be skipped
      n => (1L to 10L).map(d => math.max(d * n / 10, 1L)))
    val exact = data.groupBy(_._1).map { case (k, rows) =>
      k -> rows.flatMap(_._2).sorted
    }
    for (bound <- Seq(0L, operators.TwoPass.OneTaskRows); ranksFor <- rankFns) {
      val got = operators.TwoPass.groupRankLookup(spark, df, ranksFor, bound)
      assert(got.keySet === exact.keySet, s"bound $bound")
      got.foreach { case (k, gr) =>
        val sorted = exact(k)
        assert(gr.n === sorted.length.toLong, k)
        val wanted = ranksFor(gr.n).distinct.filter(r => r >= 1 && r <= gr.n)
        assert(gr.at.keySet === wanted.toSet, k)
        gr.at.foreach { case (r, v) =>
          assert(v === sorted((r - 1).toInt), s"$k rank $r bound $bound")
        }
      }
    }
  }

  test("groupWeightedMedian: both paths == exact weighted median (ties, skew, weights, nulls)") {
    // ground truth: per group, the smallest value whose inclusive
    // cumulative weight reaches half the positive total (2·cum >= W);
    // null keys/values and non-positive weights take no part
    val rng = new scala.util.Random(7)
    def group(k: String, size: Int, domain: Int, maxW: Int) = (0 until size).map(_ =>
      (k, Option((rng.nextInt(domain) - domain / 2).toLong),
        Option((rng.nextInt(maxW) + 1).toLong)))
    val data = group("ties", 300, 3, 5) ++ group("skew", 4000, 100000, 10) ++
      group("one", 1, 10, 3) ++ group("pair", 2, 1000, 1) ++
      Seq(("half", Some(1L), Some(2L)), ("half", Some(2L), Some(2L)), // 2·cum = W exactly
        ("signs", Some(5L), Some(0L)), ("signs", Some(1L), Some(-4L)),
        ("signs", Some(9L), Some(3L)), ("signs", Some(3L), Some(1L)),
        ("nonpos", Some(4L), Some(0L)), ("nonpos", Some(6L), Some(-1L)),
        (null, Some(1L), Some(1L)), ("ties", None, Some(50L)), ("skew", Some(3L), None))
    val exact = data.collect { case (k, Some(c), Some(w)) if k != null && w > 0 => (k, c, w) }
      .groupBy(_._1).map { case (k, rs) =>
        val sorted = rs.sortBy(_._2)
        val total = rs.map(_._3).sum
        val cum = sorted.scanLeft(0L)(_ + _._3).tail
        k -> (total, sorted(cum.indexWhere(2 * _ >= total))._2)
      }
    assert(!exact.contains("nonpos") && exact("signs") === ((4L, 9L)))
    val df = data.toDF("k", "c", "w")
    val empty = df.filter(lit(false))
    for (bound <- Seq(0L, operators.TwoPass.OneTaskRows)) {
      assert(operators.TwoPass.groupWeightedMedian(spark, df, bound) === exact, s"bound $bound")
      assert(operators.TwoPass.groupWeightedMedian(spark, empty, bound).isEmpty)
      assert(operators.TwoPass.groupRankLookup(spark, empty.select("k", "c"),
        _ => Seq(1L), bound).isEmpty)
    }
  }

  test("rank kernels: a scan-only input under the bound answers in 1 job") {
    val rows = spark.range(0, 20000, 1, 4).select(
      (col("id") % 7).cast("string").as("k"), (col("id") * 31 % 1000).as("c"),
      (col("id") % 5 + 1).as("w"))
    assert(jobsStarted {
      operators.TwoPass.groupRankLookup(spark, rows.select("k", "c"), n => Seq(1L, n))
    } === 1)
    assert(jobsStarted { operators.TwoPass.groupWeightedMedian(spark, rows) } === 1)
  }

  test("rank kernels: both paths leave no persisted frame or conf change, also on a throw") {
    import org.apache.spark.storage.StorageLevel
    val rows = (0 until 400).map(i => (s"g${i % 3}", i.toLong, 1L + i % 2)).toDF("k", "c", "w")
    // the input's lineage raises on one row: every path evaluates it
    val failing = rows.withColumn("c",
      when(col("c") === 250L, raise_error(lit("boom"))).otherwise(col("c")))
    val sc = spark.sparkContext
    val confBefore = spark.conf.getAll
    val rddsBefore = sc.getPersistentRDDs.keySet
    def leftClean(inputs: org.apache.spark.sql.DataFrame*): Unit = {
      inputs.foreach(in => assert(in.storageLevel === StorageLevel.NONE))
      assert(sc.getPersistentRDDs.keySet.subsetOf(rddsBefore))
      assert(spark.conf.getAll === confBefore)
    }
    val kc = rows.select("k", "c")
    val failingKc = failing.select("k", "c")
    for (bound <- Seq(0L, operators.TwoPass.OneTaskRows)) {
      operators.TwoPass.groupRankLookup(spark, kc, n => Seq(n), bound)
      operators.TwoPass.groupWeightedMedian(spark, rows, bound)
      leftClean(kc, rows)
      intercept[Exception](operators.TwoPass.groupRankLookup(spark, kc,
        _ => throw new IllegalStateException("boom"), bound))
      intercept[Exception](operators.TwoPass.groupRankLookup(spark, failingKc,
        n => Seq(n), bound))
      intercept[Exception](operators.TwoPass.groupWeightedMedian(spark, failing, bound))
      leftClean(kc, failingKc, failing)
    }
  }
}
