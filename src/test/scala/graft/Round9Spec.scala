package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Relational}

/** Behavior pins for the round-9 operator tail. Oracles are the primary
  * gate; these assert each operator's DEFINING property — the invariant
  * a hash compare can't name.
  */
class Round9Spec extends SparkSuite {

  val Sf001 = "/root/testdata/sf0.01"

  test("q261 md5 twin and q31 kernel agree on verified near-dup pairs (sf0.01)") {
    // different hash families give different BAND collisions, but on
    // this corpus every true J>=0.5 pair is caught by both (high-J
    // pairs collide in >=1 of 8 bands with probability ~1): the
    // verified outputs are identical sets — the twin certifies the
    // kernel end-to-end, not just per-stage
    val kernel = Dedup.minhashLsh(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twin = Dedup.minhashLshMd5(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(twin.map(t => (t._1, t._2)).toSet === kernel,
      "twin/kernel verified pair sets diverged")
    assert(twin.nonEmpty, "no near-dup pairs at sf0.01 — test degenerate")
    // the twin's published (n_inter, n_union) must satisfy J >= 1/2
    // by integer cross-multiplication — the operator's threshold
    twin.foreach { case (a, b, ni, nu) =>
      assert(2 * ni >= nu, s"pair ($a,$b) below threshold: $ni/$nu")
      assert(ni <= nu, s"pair ($a,$b) intersection exceeds union")
    }
  }

  test("q261 signature permutation constants are 30-bit odd multipliers (overflow safety)") {
    // the BIGINT-safety argument (A·v1 + B·v2 + C < 2^63 with v < 2^32)
    // requires A, B < 2^30; odd multipliers keep the map 2-adic-mixing
    Dedup.getClass // touch the object so the val initializes
    val field = Dedup.minhashLshMd5Sql
    val consts = """\((\d+) \* v1 \+ (\d+) \* v2 \+ (\d+)\)""".r
      .findAllMatchIn(field).map(m =>
        (m.group(1).toLong, m.group(2).toLong, m.group(3).toLong)).toSeq
    assert(consts.size === 32)
    consts.foreach { case (a, b, c) =>
      assert(a < (1L << 30) && b < (1L << 30) && c < (1L << 30), s"($a,$b,$c)")
      assert(a % 2 === 1 && b % 2 === 1, s"even multiplier ($a,$b)")
    }
  }

  test("q263 closed itemsets: anti-monotonicity, closure consistency, lattice edges") {
    val rows = Relational.closedItemsets(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val byLevel = rows.groupBy(_.getAs[Long]("level"))
    assert(byLevel.keySet === Set(1L, 2L, 3L))
    // closure consistency: is_closed <=> (no extension OR strict drop)
    rows.foreach { r =>
      val sup = r.getAs[Long]("support")
      val ext = Option(r.getAs[Any]("max_ext_support")).map(_.asInstanceOf[Long])
      // anti-monotonicity: a superset can never exceed the subset
      ext.foreach(e => assert(e <= sup, s"extension support exceeds itemset: $r"))
      assert(r.getAs[Boolean]("is_closed") === ext.forall(_ < sup), s"$r")
    }
    // lattice edges: every mined pair's support <= each member item's
    // support, every mined triple's <= the containing mined pair's
    val l1 = byLevel(1L).map(r => r.getAs[Long]("part_a") -> r.getAs[Long]("support")).toMap
    byLevel(2L).foreach { r =>
      val sup = r.getAs[Long]("support")
      Seq("part_a", "part_b").foreach { c =>
        val p = r.getAs[Long](c)
        l1.get(p).foreach(s1 => assert(sup <= s1, s"pair support > item $p: $r"))
      }
    }
    val l2 = byLevel(2L).map(r =>
      (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) -> r.getAs[Long]("support")).toMap
    byLevel(3L).foreach { r =>
      val (a, b, c) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("part_c"))
      val sup = r.getAs[Long]("support")
      Seq((a, b), (a, c), (b, c)).foreach { p =>
        l2.get(p).foreach(s2 => assert(sup <= s2, s"triple support > pair $p: $r"))
      }
    }
  }

  test("q265 winnowing: coverage gap <= w, guarantee catches a shared 11-char substring") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import TextAnalysisSpec.{winnowFixture, winnowSelectRef}
    // coverage: every window of w consecutive gram positions contains a
    // selection, so consecutive selected positions differ by <= w
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val sel = winnowSelectRef(docs)
      .select($"doc_id", $"spos").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(sel.nonEmpty)
    sel.foreach { case (doc, ps) =>
      ps.zip(ps.tail).foreach { case (a, b) =>
        assert(b - a <= TextAnalysis.WinnowW, s"doc $doc coverage gap $a -> $b")
      }
    }
    // guarantee, on the engine's postings: two docs sharing ONE
    // substring of length w + k - 1 (= 11) at different offsets,
    // different elsewhere, MUST share a fingerprint hash (Schleimer et
    // al. theorem 1); the shared window of k-grams forces a common
    // selection
    val post = TextAnalysis.winnowPostings(winnowFixture(spark).filter($"doc_id" <= 2L))
      .select($"doc_id", $"sh").as[(Long, String)].collect()
    val h1 = post.filter(_._1 == 1L).map(_._2).toSet
    val h2 = post.filter(_._1 == 2L).map(_._2).toSet
    assert(h1.intersect(h2).nonEmpty,
      "winnowing guarantee violated: shared 11-char substring produced no shared fingerprint")
  }

  test("q266 hyperplane twin: sound vs brute force, recall floor, threshold exact") {
    import graft.operators.Similarity
    val out = Similarity.hyperplaneLshMd5(spark, Sf0001).collect()
    assert(out.nonEmpty, "no pairs at sf0.001 — test degenerate")
    // driver-side brute force over the SAME persisted SQ8 codes: the
    // exact integer-cosine >= 2/5 pair set (ground truth)
    val codes = spark.read.parquet(Similarity.buildSq8(spark, Sf0001))
      .collect().map { r =>
        r.getAs[Long]("vec_id") ->
          r.getAs[Seq[Byte]]("qcodes").map(_.toLong).toArray
      }.sortBy(_._1)
    val truth = (for {
      i <- codes.indices.iterator; j <- (i + 1) until codes.length
      (ida, sa) = codes(i); (idb, sb) = codes(j)
      dot = sa.zip(sb).map { case (x, y) => x * y }.sum
      na = sa.map(x => x * x).sum; nb = sb.map(x => x * x).sum
      if dot > 0 && 25L * dot * dot >= 4L * na * nb
    } yield (ida, idb)).toSet
    val got = out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // soundness: every emitted pair IS a true threshold pair (the
    // verification step is exact, so this must be an exact subset)
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(5)}")
    // recall floor: 4-bit x 6-table banding catches >= 60% of true
    // pairs on this corpus (measured; collision prob for cos >= 0.4 is
    // 1-(1-(1-acos/pi)^4)^6 >= 0.63 at the threshold, higher above it)
    assert(got.size * 10 >= truth.size * 6,
      s"recall ${got.size}/${truth.size} below the 60% floor")
    // published witnesses satisfy the exact predicate
    out.foreach { r =>
      val (dot, na, nb) = (r.getAs[Long]("dot"),
        r.getAs[Long]("norm_a"), r.getAs[Long]("norm_b"))
      assert(dot > 0 && 25L * dot * dot >= 4L * na * nb, s"$r")
      val cos = r.getAs[Double]("cosine")
      assert(cos >= 0.4 - 1e-12 && cos <= 1.0 + 1e-12, s"$r")
    }
  }

  test("q263 L1 supports replay against a driver-side item-frequency count") {
    import spark.implicits._
    val itemFreq = Tables.lineitem(spark, Sf0001)
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey")).count()
      .as[(Long, Long)].collect().toMap
    Relational.closedItemsets(spark, Sf0001).filter(col("level") === 1)
      .collect().foreach { r =>
        assert(r.getAs[Long]("support") === itemFreq(r.getAs[Long]("part_a")), s"$r")
      }
  }

  // ---- wave 4 ----

  test("q268 Kendall tau-b: pair accounting and |tau| <= 1") {
    val rows = operators.Quality.kendallTau(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_months")
      val n0 = n * (n - 1) / 2
      val (c, d) = (r.getAs[Long]("n_conc"), r.getAs[Long]("n_disc"))
      val (tx, ty) = (r.getAs[Long]("ties_x"), r.getAs[Long]("ties_y"))
      val tb = r.getAs[Long]("ties_both")
      // every pair is exactly one of {concordant, discordant, tied in
      // x or y} — the SHARP partition identity (inclusion-exclusion on
      // the published both-tied count; advisor r9)
      assert(c + d + tx + ty - tb === n0, s"$r")
      assert(tb <= math.min(tx, ty) && tx <= n0 && ty <= n0, s"$r")
      Option(r.getAs[Any]("tau_b")).map(_.asInstanceOf[Double]).foreach { t =>
        assert(t >= -1.0 - 1e-12 && t <= 1.0 + 1e-12, s"$r")
        // sign of tau matches sign of c − d
        assert(math.signum(t) === math.signum((c - d).toDouble), s"$r")
      }
    }
  }

  test("q269 Jonckheere-Terpstra: J2 within its exact lattice bounds") {
    val r = operators.Quality.jonckheereTrend(spark, Sf0001).collect().head
    val j2 = BigInt(r.getAs[String]("j2"))
    val mean2 = BigInt(r.getAs[String]("mean2"))
    // J = Σ U_ij ∈ [0, Σ_{i<j} n_i·n_j] and mean2 = Σ_{i<j} n_i·n_j,
    // so 0 <= j2 <= 2·mean2 exactly
    assert(j2 >= 0 && j2 <= 2 * mean2, s"j2=$j2 mean2=$mean2")
    assert(r.getAs[Long]("n_total") > 0)
    val z = r.getAs[Double]("z_trend")
    assert(!z.isNaN && !z.isInfinite)
  }

  test("q270 turning points: count bound and literal-series kernel identity") {
    val rows = operators.Multimodal.wavTurningPoints(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, tp) = (r.getAs[Long]("n_samples"), r.getAs[Long]("n_turning"))
      assert(tp >= 0 && tp <= n - 2, s"$r")
      // E and z are the documented dags of (tp, n)
      val e = 2.0 * (n - 2.0) / 3.0
      assert(r.getAs[Double]("e_turning") === e, s"$r")
      assert(r.getAs[Double]("z_turning") ===
        (tp.toDouble - e) / math.sqrt((16.0 * n - 29.0) / 90.0), s"$r")
    }
    // literal kernel identity on a crafted alternating + plateau series:
    // samples 1,3,1,1,2,2,5 → strict extrema at i=2 (3) and i=4?
    //   i=2: 3>1,3>1 yes; i=3: 1<3,1=1 no; i=4: 1=1 no; i=5: 2=2 no;
    //   i=6: 2<5 no → exactly 1 turning point
    import spark.implicits._
    val xs = Seq(1L, 3L, 1L, 1L, 2L, 2L, 5L)
    val lit1 = Seq(xs).toDF("xs")
      .selectExpr("""CAST(size(filter(sequence(2, size(xs) - 1), i ->
        (element_at(xs, i) > element_at(xs, i - 1)
          AND element_at(xs, i) > element_at(xs, i + 1)) OR
        (element_at(xs, i) < element_at(xs, i - 1)
          AND element_at(xs, i) < element_at(xs, i + 1)))) AS BIGINT) AS tp""")
      .collect().head.getLong(0)
    assert(lit1 === 1L, "strict-extremum tie convention drifted")
  }

  test("q271 Fleiss kappa: exact-rational identity and bounds") {
    val r = operators.Quality.fleissKappa(spark, Sf0001).collect().head
    val m = r.getAs[Long]("n_docs")
    val cs = Seq("c0", "c1", "c2").map(r.getAs[Long](_))
    assert(cs.sum === 3 * m, s"marginals don't sum to 3M: $r")
    val s = r.getAs[Long]("s_agree")
    assert(s >= 0 && s <= 6 * m, s"$r")
    val q = cs.map(c => BigInt(c) * c).sum
    val kappa = r.getAs[Double]("kappa")
    // κ = (3MS − 2Q)/(2(9M² − Q)) exactly, and κ ∈ [−1/2, 1] for n=3
    val num = 3 * BigInt(m) * s - 2 * q
    val den = 2 * (9 * BigInt(m) * m - q)
    assert(den != BigInt(0))
    assert(kappa === num.toDouble / den.toDouble, s"$r")
    assert(kappa >= -0.5 - 1e-12 && kappa <= 1.0 + 1e-12, s"$r")
  }

  test("q272 rendezvous resharding moves docs ONLY to the new shard") {
    val rows = operators.Storage.rendezvousShards(spark, Sf0001).collect()
    val byShard = rows.map(r => r.getAs[Long]("shard") -> r).toMap
    assert(byShard.keySet === (0L to 8L).toSet)
    val n = rows.map(_.getAs[Long]("n_docs_9")).sum
    assert(rows.map(_.getAs[Long]("n_docs_8")).sum === n, "population drifted")
    assert(byShard(8L).getAs[Long]("n_docs_8") === 0L)
    // the minimal-disruption theorem: a doc moves iff shard 8's hash
    // is its new global max → moved_in = 0 everywhere else
    (0L to 7L).foreach { s =>
      assert(byShard(s).getAs[Long]("moved_in") === 0L, s"shard $s gained docs")
    }
    val moved = byShard(8L).getAs[Long]("moved_in")
    assert(moved === byShard(8L).getAs[Long]("n_docs_9"),
      "every doc on the new shard must have moved there")
    // ≈1/9 of the corpus moves (binomial around n/9; wide CI for tiny SF)
    assert(moved * 100 >= n * 3 && moved * 100 <= n * 25,
      s"moved=$moved of $n outside the ~1/9 band")
  }

  // ---- wave 5 ----

  test("q273 full-outer stream join ⊇ inner matches, orphans on both sides null-padded") {
    val rows = operators.StreamingQueries.streamFullOuterJoin(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val matched = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    val clickOrphans = rows.filter(r => !r.isNullAt(1) && r.isNullAt(2))
    val purchaseOrphans = rows.filter(r => r.isNullAt(1) && !r.isNullAt(2))
    // the matrix cell is only exercised if both orphan kinds appear
    assert(clickOrphans.nonEmpty, "no unconverted clicks — fixture degenerate")
    assert(purchaseOrphans.nonEmpty, "no orphan purchases — fixture degenerate")
    // matched rows are exactly q58's inner join (restricted to shared cols)
    val inner = operators.StreamingQueries.streamStreamJoin(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === inner)
    // null-padded rows never carry a gap
    (clickOrphans ++ purchaseOrphans).foreach(r => assert(r.isNullAt(3), s"$r"))
  }

  test("q274 sequential pairs: asymmetry and antecedent bounds") {
    val rows = operators.Relational.sequentialPairs(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (seq, na) = (r.getAs[Long]("n_cust_seq"), r.getAs[Long]("n_cust_a"))
      assert(seq >= 1 && seq <= na,
        s"sequence support exceeds antecedent customers: $r")
      assert(r.getAs[Long]("part_a") !== r.getAs[Long]("part_b"), s"$r")
      val conf = r.getAs[Double]("confidence")
      assert(conf > 0.0 && conf <= 1.0 + 1e-12, s"$r")
    }
  }

  test("q275 Brier decomposition: identity, bounds, and exact-bin axis") {
    val r = operators.Quality.brierDecomposition(spark, Sf0001).collect().head
    val (brier, unc, rel, res) = (r.getAs[Double]("brier"),
      r.getAs[Double]("uncertainty"), r.getAs[Double]("reliability"),
      r.getAs[Double]("resolution"))
    // Murphy identity holds by construction on the published micros
    assert(math.abs((rel - res + unc) - brier) < 1e-9, s"$r")
    assert(brier >= 0 && brier <= 1 && unc >= 0 && unc <= 0.25 + 1e-12, s"$r")
    assert(rel >= 0, s"$r")
    // resolution can dip ≤2µ negative from the three roundings, no more
    assert(res >= -2e-6 && res <= unc + 2e-6,
      s"resolution outside [0, uncertainty]: $r")
    assert(r.getAs[Long]("n_bins") <= 1001, s"$r")
  }

  test("q276 Holt fold equals a driver-side replay of the recurrence") {
    import spark.implicits._
    val monthly = Tables.orders(spark, Sf0001)
      .join(Tables.customer(spark, Sf0001)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, Sf0001), col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).cast("long").as("rev"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (n, xs) =>
        n -> xs.sortBy(_._2).map(_._3.toDouble)
      }
    val got = operators.Quality.holtLinear(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("level"), r.getAs[Double]("trend")))
      .toMap
    monthly.filter(_._2.length >= 2).foreach { case (n, ys) =>
      var l = ys(1); var b = ys(1) - ys(0)
      ys.drop(2).foreach { y =>
        val l2 = 0.2 * y + 0.8 * (l + b)
        b = 0.1 * (l2 - l) + 0.9 * b
        l = l2
      }
      // same IEEE dag in the same order → bit-exact, no tolerance
      assert(got(n)._1 === l && got(n)._2 === b, s"nation $n diverged")
    }
  }

  // ---- wave 6 ----

  test("q277 KMV estimate lands inside the 4/√k relative-error band") {
    val rows = operators.Derivations.kmvCardinality(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_in_sketch"))
      val est = r.getAs[Double]("kmv_estimate")
      assert(k <= 64 && k >= math.min(n, 64L), s"$r")
      if (n < 64) assert(est === n.toDouble, s"degenerate convention broke: $r")
      // KMV std error ≈ 1/√k ≈ 12.5%; 4σ band = 50%
      else assert(math.abs(est - n) <= 0.5 * n, s"estimate off by >4σ: $r")
    }
  }

  test("q278 channel stats recombine to q264's mono totals") {
    val mono = operators.Multimodal.wavSampleStats(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_samples"), r.getAs[Long]("sum_abs"), r.getAs[Long]("peak_abs")))
      .toMap
    val ch = operators.Multimodal.wavChannelStats(spark, Sf0001).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(ch.nonEmpty)
    ch.foreach { case (id, rows) =>
      val (n, sa, pk) = mono(id)
      // de-interleave must partition the mono stream exactly
      assert(rows.map(_.getAs[Long]("n_samples")).sum === n, s"doc $id")
      assert(rows.map(_.getAs[Long]("sum_abs")).sum === sa, s"doc $id")
      assert(rows.map(_.getAs[Long]("peak_abs")).max === pk, s"doc $id")
    }
  }

  test("q279 residuals: zero-sum deviations and paired antisymmetry") {
    val rows = operators.Quality.pearsonResiduals(spark, Sf0001).collect()
    assert(rows.length === 10)
    // each priority's two cells carry equal-magnitude opposite deviations
    rows.groupBy(_.getAs[String]("priority")).foreach { case (p, cells) =>
      val devs = cells.map(r => BigInt(r.getAs[String]("dev_num")))
      assert(devs.sum === BigInt(0), s"$p deviations don't cancel")
      val res = cells.map(_.getAs[Double]("adj_resid"))
      assert(math.abs(res.sum) < 1e-9, s"$p residuals don't cancel")
    }
    // the deviation witness sums to zero over the whole table too
    assert(rows.map(r => BigInt(r.getAs[String]("dev_num"))).sum === BigInt(0))
  }

  test("q280 Cochran's Q: identity on the published witnesses and Q >= 0") {
    val r = operators.Quality.cochranQ(spark, Sf0001).collect().head
    val ts = Seq("ta", "tb", "tc").map(r.getAs[Long](_))
    val t = ts.sum
    val qn = BigInt(r.getAs[String]("q_num"))
    assert(qn === 2 * (3 * ts.map(x => BigInt(x) * x).sum - BigInt(t) * t), s"$r")
    assert(qn >= 0, s"$r") // Cauchy-Schwarz: 3Σt² ≥ T²
    val qd = r.getAs[Long]("q_den")
    assert(qd >= 0 && qd === 3 * t - r.getAs[Long]("sum_r2"), s"$r")
    if (qd > 0)
      assert(r.getAs[Double]("q_stat") === qn.toDouble / qd.toDouble, s"$r")
  }

  // ---- wave 7 ----

  test("q281 sampled quantiles: rank error within the sampling bound") {
    val rows = operators.Derivations.sampledQuantiles(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("pct")).toSeq === Seq(50L, 90L, 99L))
    rows.foreach { r =>
      val (p, n) = (r.getAs[Long]("pct"), r.getAs[Long]("n_total"))
      val rank = r.getAs[Long]("exact_rank")
      assert(rank >= 1 && rank <= n, s"$r")
      // uniform bottom-k sampling: |rank/N − p| ≤ 4/√k w.h.p. (k=1024 → 12.5%)
      assert(r.getAs[Long]("rank_err_micro") <= 125000L, s"$r")
      // the published error IS |half-up(rank/N in micro) − p·10⁴|
      val micro = (2 * rank * 1000000L + n) / (2 * n)
      assert(r.getAs[Long]("rank_err_micro") === math.abs(micro - p * 10000L), s"$r")
    }
  }

  test("q282 bootstrap resamples bracket the population mean") {
    val rows = operators.Quality.poissonBootstrap(spark, Sf0001).collect()
    assert(rows.length === 32)
    val popMean = Tables.orders(spark, Sf0001)
      .agg(avg((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).cast("double"))
      .collect().head.getDouble(0)
    val means = rows.map(_.getAs[Double]("mean_cents"))
    val n = Tables.orders(spark, Sf0001).count()
    rows.foreach { r =>
      val nEff = r.getAs[Long]("n_eff")
      // Σ Poisson(1) over n draws: mean n, sd √n — 6σ band
      assert(math.abs(nEff - n) <= 6 * math.sqrt(n.toDouble) + 1, s"$r")
      assert(BigInt(r.getAs[String]("sum_cents")) > 0, s"$r")
    }
    // the bootstrap distribution centers on the population mean
    val center = means.sum / means.length
    val sd = math.sqrt(means.map(m => (m - center) * (m - center)).sum / (means.length - 1))
    assert(sd > 0, "degenerate bootstrap spread")
    assert(math.abs(center - popMean) <= 5 * sd / math.sqrt(32.0) + 5 * sd,
      s"center $center vs pop $popMean (sd $sd)")
  }

  // ---- wave 8 ----

  test("q283 energy distance matches a driver-side replay and sits near 0 on exchangeable labels") {
    val r = operators.Similarity.energyDistance(spark, Sf0001).collect().head
    val (nx, ny) = (r.getAs[Long]("n_x"), r.getAs[Long]("n_y"))
    assert(nx >= 2 && ny >= 2)
    // driver replay: same artifact, same bottom-k rule, exact same sums
    val codes = spark.read.parquet(
      operators.Similarity.buildSq8(spark, Sf0001))
      .filter(col("label").isin(0, 1))
      .select(col("vec_id"), col("label"), col("qcodes")).collect()
      .map(row => (row.getLong(0), row.getInt(1),
        row.getSeq[Byte](2).map(_.toLong).toArray))
    def bottomK(label: Int) = codes.filter(_._2 == label)
      .map { case (id, _, c) =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(h.take(12), 16), id, c)
      }.sortBy(t => (t._1, t._2)).take(48).map(_._3)
    val (xs, ys) = (bottomK(0), bottomK(1))
    def l1(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (p, q) => math.abs(p - q) }.sum
    def pairSum(as: Array[Array[Long]], bs: Array[Array[Long]]) =
      as.map(a => bs.map(b => l1(a, b)).sum).sum
    assert(r.getAs[Long]("sum_dxy") === pairSum(xs, ys), "xy sum diverged")
    assert(r.getAs[Long]("sum_dxx") === pairSum(xs, xs), "xx sum diverged")
    assert(r.getAs[Long]("sum_dyy") === pairSum(ys, ys), "yy sum diverged")
    // labels are exchangeable in the synthetic corpus → D ≈ 0
    val d = r.getAs[Double]("energy_dist")
    assert(math.abs(d) <= 0.05 * r.getAs[Double]("e_xy"),
      s"energy distance $d too large for exchangeable labels")
  }

  test("q284 Tukey-Kramer: 10 ordered pairs, nonnegative q, pooled-mean identity") {
    val rows = operators.Quality.tukeyHsd(spark, Sf0001).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[String]("g_a") < r.getAs[String]("g_b"), s"$r")
      val q = r.getAs[Double]("q_stat")
      assert(!q.isNaN && q >= 0.0, s"$r")
    }
    // Σ n_i·mean_i recovers the total cents exactly enough (means are
    // exact-int ratios in doubles)
    val perG = rows.flatMap(r => Seq(
      r.getAs[String]("g_a") -> (r.getAs[Long]("n_a"), r.getAs[Double]("mean_a")),
      r.getAs[String]("g_b") -> (r.getAs[Long]("n_b"), r.getAs[Double]("mean_b"))))
      .toMap
    assert(perG.size === 5)
    val total = perG.values.map { case (n, m) => n * m }.sum
    val exact = Tables.orders(spark, Sf0001)
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).cast("double"))
      .collect().head.getDouble(0)
    assert(math.abs(total - exact) / exact < 1e-9, s"$total vs $exact")
  }

  test("q285 permutation test: exact p-value arithmetic and exchangeable null") {
    val r = operators.Quality.permutationTest(spark, Sf0001).collect().head
    assert(r.getAs[Long]("n_perms") === 32L)
    val ne = r.getAs[Long]("n_extreme")
    assert(ne >= 0 && ne <= 32, s"$r")
    // p = (1 + n_extreme)/(B + 1), half-up micro — recompute exactly
    val p6 = (2 * (1 + ne) * 1000000L + 33) / (2 * 33)
    assert(r.getAs[Double]("p_value") === p6.toDouble / 1000000, s"$r")
    assert(r.getAs[Double]("p_value") > 0.0 && r.getAs[Double]("p_value") <= 1.0)
    // the synthetic langs are exchangeable: the test should NOT reject
    // (a false rejection at 3% would indicate broken permutation draws)
    assert(r.getAs[Double]("p_value") >= 0.03,
      s"rejected an exchangeable null: $r")
  }

  // ---- wave 10 ----

  test("q286 effect size: dag identity on exact witnesses, |g| < |d|") {
    val r = operators.Quality.cohensD(spark, Sf0001).collect().head
    val (n1, s1) = (r.getAs[Long]("n1"), r.getAs[Long]("s1"))
    val (n2, s2) = (r.getAs[Long]("n2"), r.getAs[Long]("s2"))
    val (q1, q2) = (BigInt(r.getAs[String]("sumsq_1")), BigInt(r.getAs[String]("sumsq_2")))
    val ss1 = q1.toDouble - s1.toDouble * s1.toDouble / n1.toDouble
    val ss2 = q2.toDouble - s2.toDouble * s2.toDouble / n2.toDouble
    val df = n1.toDouble + n2.toDouble - 2.0
    val d = (s1.toDouble / n1 - s2.toDouble / n2) / math.sqrt((ss1 + ss2) / df)
    assert(r.getAs[Double]("cohens_d") === d, s"$r")
    val g = r.getAs[Double]("hedges_g")
    // the Hedges correction always shrinks toward 0
    assert(math.abs(g) < math.abs(d) && math.signum(g) === math.signum(d), s"$r")
  }

  test("q287 MASE: error accumulators replay driver-side, naive MAE exact") {
    val rows = operators.Quality.holtMase(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val monthly = Tables.orders(spark, Sf0001)
      .join(Tables.customer(spark, Sf0001)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, Sf0001), col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("long")).cast("long").as("rev"))
      .collect().groupBy(_.getString(0)).map { case (n, xs) =>
        n -> xs.sortBy(_.getLong(1)).map(_.getLong(2))
      }
    rows.foreach { r =>
      val ys = monthly(r.getString(0))
      var l = ys(1).toDouble; var b = ys(1).toDouble - ys(0).toDouble
      var sae = 0.0
      ys.drop(2).foreach { y =>
        sae += math.abs(y.toDouble - (l + b))
        val l2 = 0.2 * y.toDouble + 0.8 * (l + b)
        b = 0.1 * (l2 - l) + 0.9 * b
        l = l2
      }
      assert(r.getAs[Double]("holt_sae") === sae, s"${r.getString(0)} holt sae")
      val naive = ys.sliding(2).drop(1).map { case Array(a2, b2) =>
        math.abs(b2 - a2) }.sum
      assert(r.getAs[Long]("naive_sae") === naive, s"${r.getString(0)} naive sae")
    }
  }
}
