package graft

import org.apache.spark.sql.functions._
import graft.operators.{Events, StreamingQueries}
import graft.operators.{Quality => Q}

/** Pipeline-integrity (q79/q80), gap fill / range frame (q77/q78), and
  * the streaming file sink (q81). Oracles are the primary gate; these
  * pin invariants the hash compare can't express.
  */
class QualitySpec extends SparkSuite {

  test("q79 constraint suite: five rules, clean corpus reports zero violations") {
    val res = Q.constraintSuite(spark, Sf0001).collect()
    assert(res.length === 5)
    assert(res.map(_.getAs[String]("rule")).toSeq == res.map(_.getAs[String]("rule")).toSeq.sorted)
    res.foreach { r =>
      assert(r.getAs[Long]("n_violations") === 0L, r)
      assert(r.getAs[Long]("n_checked") > 0L, r)
    }
    val ordersN = Tables.orders(spark, Sf0001).count()
    val pk = res.find(_.getAs[String]("rule") == "orders_pk_unique").get
    assert(pk.getAs[Long]("n_checked") === ordersN)
  }

  test("q80 snapshot diff: classes partition the union of both snapshots") {
    val res = Q.snapshotDiff(spark, Sf0001).collect()
    val byType = res.map(r => r.getAs[String]("change_type") -> r.getAs[Long]("n_docs")).toMap
    val d = Tables.documents(spark, Sf0001)
    val nOld = d.filter(col("doc_id") % 3 =!= 0).count()
    val nNew = d.filter(col("doc_id") % 5 =!= 0).count()
    val nBoth = d.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 =!= 0).count()
    assert(byType.getOrElse("added", 0L) === nNew - nBoth)
    assert(byType.getOrElse("removed", 0L) === nOld - nBoth)
    assert(byType.getOrElse("changed", 0L) + byType.getOrElse("unchanged", 0L) === nBoth)
    // the rewritten slice actually registers as changed
    assert(byType.getOrElse("changed", 0L) > 0L)
  }

  test("q77 gap fill: grid is dense per user and conserves event counts") {
    val grid = Events.gapFill(spark, Sf0001).collect().toSeq
    assert(grid.nonEmpty)
    val byUser = grid.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rows) =>
      val hours = rows.map(_.getAs[java.sql.Timestamp]("hour").getTime)
      hours.sliding(2).foreach {
        case Seq(a, b) => assert(b - a === 3600 * 1000L, s"user $u grid not hourly")
        case _ =>
      }
      // carry-forward defined everywhere (first grid hour has data)
      rows.foreach(r => assert(!r.isNullAt(r.fieldIndex("carried_value")), s"user $u"))
    }
    val gridEvents = grid.map(_.getAs[Long]("n_events")).sum
    val trueEvents = Tables.events(spark, Sf0001).filter(col("user_id") < 5).count()
    assert(gridEvents === trueEvents)
  }

  test("q78 range frame matches a brute-force interval count") {
    import spark.implicits._
    val got = Events.rangeFrame(spark, Sf0001)
      .select($"user_id", $"event_id", $"epoch_s", $"n_1h").as[(Long, Long, Long, Long)]
      .collect()
    val ev = Tables.events(spark, Sf0001)
      .select($"user_id", expr("ts_ns div 1000000000").as("s")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    got.foreach { case (u, eid, s, n) =>
      val brute = ev(u).count(t => t >= s - 3599 && t <= s)
      assert(n === brute.toLong, s"user $u event $eid")
    }
  }

  test("q86 foreachBatch merge: refresh is exactly-once and matches batch agg") {
    val first = StreamingQueries.streamIncrementalAgg(spark, Sf0001).collect()
    val second = StreamingQueries.streamIncrementalAgg(spark, Sf0001).collect()
    assert(first.toSeq === second.toSeq)
    val direct = Tables.events(spark, Sf0001)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    first.foreach(r =>
      assert(r.getAs[Long]("n") === direct(r.getAs[String]("event_type")), r))
  }

  test("q86 versioned commits: a crash after commit replays clean; a torn version dir is invisible") {
    // uninterrupted reference
    val reference = StreamingQueries.streamIncrementalAgg(spark, Sf0001).collect().toSeq
    assert(reference.nonEmpty)
    // 1) tear AFTER the version commit, BEFORE the checkpoint commit:
    // the re-delivered batch must hit the applied>=batchId skip and the
    // recovered table must equal the uninterrupted run. (The checkpoint
    // already holds batch 0 from the reference run, so the injected run
    // only fires the hook if a batch actually applies — fresh corpus
    // state isn't needed: an idle re-run proves idempotence, an armed
    // failing batch proves recovery; both paths end at the same table.)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    StreamingQueries.tornBatchHook = (_, ph) =>
      if (ph == "agg_committed" && fired.compareAndSet(false, true))
        throw new RuntimeException("injected tear after version commit")
    try {
      val got =
        try Some(StreamingQueries.streamIncrementalAgg(spark, Sf0001).collect().toSeq)
        catch { case _: Exception => None } // armed run died at the tear
      got.foreach(g => assert(g === reference))
    } finally StreamingQueries.tornBatchHook = (_, _) => ()
    val recovered = StreamingQueries.streamIncrementalAgg(spark, Sf0001).collect().toSeq
    assert(recovered === reference)
    // 2) a torn version dir (no _SUCCESS) beside the complete one must
    // be invisible to the reader — the exact artifact a crash mid-write
    // leaves behind
    val tag = math.abs(Sf0001.hashCode).toString
    val aggPath = s"${StreamingQueries.fileSinkDataBase}/agg_$tag"
    val torn = new java.io.File(s"$aggPath/v99")
    torn.mkdirs()
    java.nio.file.Files.writeString(torn.toPath.resolve("part-junk.parquet"), "torn")
    try {
      val withTorn = StreamingQueries.streamIncrementalAgg(spark, Sf0001).collect().toSeq
      assert(withTorn === reference)
    } finally graft.Scratch.deleteNow(torn.toString)
  }

  test("q81 file sink is exactly-once: a second run adds no rows") {
    val first = StreamingQueries.streamFileSink(spark, Sf0001).collect()
    val second = StreamingQueries.streamFileSink(spark, Sf0001).collect()
    assert(first.toSeq === second.toSeq)
    val total = first.map(_.getAs[Long]("n")).sum
    assert(total === Tables.events(spark, Sf0001).count())
  }

  test("q141 winsorized stats: matches a driver-side sorted replay") {
    import spark.implicits._
    val evs = Tables.events(spark, Sf0001)
      .select($"event_type", $"value").as[(String, Double)].collect()
    def cents(d: Double): Long =
      BigDecimal.valueOf(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .*(100).toLongExact
    val got = Q.winsorizedStats(spark, Sf0001).collect()
    val byType = evs.groupBy(_._1).view.mapValues(_.map(e => cents(e._2)).sorted)
    assert(got.map(_.getString(0)).toSet === byType.keys.toSet)
    got.foreach { r =>
      val s = byType(r.getString(0))
      val n = s.length.toLong
      val lo = s(((n + 19) / 20 - 1).toInt)
      val hi = s(((19 * n + 19) / 20 - 1).toInt)
      assert(r.getLong(1) === n, r)
      assert(r.getDouble(2) === lo / 100.0, s"p05 $r")
      assert(r.getDouble(3) === hi / 100.0, s"p95 $r")
      assert(r.getLong(4) === s.count(_ < lo).toLong, r)
      assert(r.getLong(5) === s.count(_ > hi).toLong, r)
      val wmean = (BigDecimal(s.map(c => math.min(math.max(c, lo), hi))
        .map(BigInt(_)).sum) / BigDecimal(n * 100))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(7) === wmean, s"wins_mean $r")
      // clipping keeps the mean inside the threshold band
      assert(r.getDouble(7) >= r.getDouble(2) && r.getDouble(7) <= r.getDouble(3))
    }
  }

  test("q146 chi-square: matches a brute-force contingency recomputation") {
    import spark.implicits._
    val base = Tables.customer(spark, Sf0001)
      .join(Tables.nation(spark, Sf0001), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, Sf0001), col("n_regionkey") === col("r_regionkey"))
      .select($"c_mktsegment", $"r_name").as[(String, String)].collect()
    val obs = base.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rt = base.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = base.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = base.length.toLong
    val got = Q.chiSquareAudit(spark, Sf0001).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet === obs.keySet)
    assert(got.map(_.getLong(2)).sum === n)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val (o, rT, cT) = (obs(key), rt(key._1), ct(key._2))
      assert(r.getLong(2) === o, r)
      val exp = (BigDecimal(BigInt(rT) * BigInt(cT)) / BigDecimal(n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === exp, s"expected $r")
      val diff = BigInt(o) * BigInt(n) - BigInt(rT) * BigInt(cT)
      val contrib = (BigDecimal(diff * diff)
        / BigDecimal(BigInt(n) * BigInt(rT) * BigInt(cT)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === contrib, s"contribution $r")
    }
  }

  test("q147 MAD outliers: matches a driver-side sorted replay") {
    import spark.implicits._
    val evs = Tables.events(spark, Sf0001)
      .select($"event_type", $"value").as[(String, Double)].collect()
    def cents(d: Double): Long =
      BigDecimal.valueOf(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .*(100).toLongExact
    val got = Q.madOutliers(spark, Sf0001).collect()
    val byType = evs.groupBy(_._1).view.mapValues(_.map(e => cents(e._2)))
    assert(got.map(_.getString(0)).toSet === byType.keys.toSet)
    got.foreach { r =>
      val cs = byType(r.getString(0))
      val n = cs.length.toLong
      def lowerMedian(xs: Array[Long]): Long = xs.sorted.apply(((xs.length + 1) / 2 - 1))
      val med = lowerMedian(cs)
      val mad = lowerMedian(cs.map(c => math.abs(c - med)))
      assert(r.getLong(1) === n, r)
      assert(r.getDouble(2) === med / 100.0, s"median $r")
      assert(r.getDouble(3) === mad / 100.0, s"mad $r")
      val out = cs.count(c => math.abs(c - med) > 3 * mad).toLong
      assert(r.getLong(4) === out, s"n_outliers $r")
      val rate = (BigDecimal(out) / BigDecimal(n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) === rate, s"outlier_rate $r")
      // the robust fence is meaningful: outliers are a strict minority
      assert(out < n / 2, r)
    }
  }

  test("q148 Benford audit: complete digit frame, exact share accounting") {
    val got = Q.benfordAudit(spark, Sf0001).collect()
    assert(got.map(_.getInt(0)).toSeq === (1 to 9), "one row per digit 1..9")
    assert(Q.BenfordPerMille.map(_._2).sum === 1000L, "per-milles partition 1")
    val n = Tables.orders(spark, Sf0001)
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 0).count()
    assert(got.map(_.getLong(1)).sum === n, "observed counts partition orders")
    // shares are exact o/n roundings and gaps are |share - benford|
    got.foreach { r =>
      val share = (BigDecimal(r.getLong(1)) / BigDecimal(n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === share, s"observed_share $r")
      val pm = Q.BenfordPerMille.toMap.apply(r.getInt(0))
      val gap = (BigDecimal((BigInt(r.getLong(1)) * 1000 - BigInt(n) * pm).abs)
        / BigDecimal(BigInt(n) * 1000))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === gap, s"abs_gap $r")
    }
  }

  test("q156 calibration table: bins partition the corpus, gaps exact") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
      .select($"lang", $"text").as[(String, String)].collect()
      .filter(_._2 != null)
    val stop = graft.functions.TextFunctions.EnglishStopwords.toSet
    val scored = docs.map { case (lang, text) =>
      val toks = text.split(" ", -1)
      val score = toks.count(stop) * 1000L / toks.length
      (lang == "en", score, math.min(score / 100, 9L))
    }
    val got = Q.calibrationTable(spark, Sf0001).collect()
    assert(got.map(_.getLong(1)).sum === docs.length.toLong)
    got.foreach { r =>
      val bin = scored.filter(_._3 == r.getInt(0).toLong)
      assert(r.getLong(1) === bin.length.toLong, s"n_docs $r")
      assert(r.getLong(2) === bin.count(_._1).toLong, s"n_en $r")
      val gap = (BigDecimal((BigInt(bin.count(_._1)) * 1000
        - BigInt(bin.map(_._2).sum)).abs)
        / BigDecimal(bin.length * 1000L))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) === gap, s"gap $r")
    }
    // the audit's JOB on this corpus is to flag the scorer as
    // miscalibrated (stopword share carries no language signal in the
    // synthetic data): expected calibration error is far from zero
    val n = got.map(_.getLong(1)).sum
    val ece = got.map(r => r.getLong(1) * r.getDouble(5)).sum / n
    assert(ece > 0.05, s"audit failed to flag the known-bad scorer: ece=$ece")
  }

  test("q157 Cohen's kappa: matches a driver-side contingency replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
      .select($"text").as[String].collect().filter(_ != null)
    val stop = graft.functions.TextFunctions.EnglishStopwords.toSet
    val rated = docs.map { text =>
      val toks = text.split(" ", -1)
      (toks.count(stop) >= 2, toks.exists(t => t == "the" || t == "is"))
    }
    val (n11, n10, n01, n00) = (
      rated.count(r => r._1 && r._2).toLong,
      rated.count(r => r._1 && !r._2).toLong,
      rated.count(r => !r._1 && r._2).toLong,
      rated.count(r => !r._1 && !r._2).toLong)
    val n = rated.length.toLong
    val got = Q.cohensKappa(spark, Sf0001).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      === ((n11, n10, n01, n00)))
    val peNum = BigInt(n11 + n10) * BigInt(n11 + n01) +
      BigInt(n00 + n10) * BigInt(n00 + n01)
    val kappa = (BigDecimal(BigInt(n) * BigInt(n11 + n00) - peNum)
      / BigDecimal(BigInt(n) * BigInt(n) - peNum))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(7) === kappa, s"kappa $r")
    // the two en-detectors agree far beyond chance on this corpus
    assert(r.getDouble(7) > 0.3, s"kappa degenerate: $r")
  }

  test("q165 deletion cascade: exact counts and referential closure") {
    import spark.implicits._
    val delC = Tables.customer(spark, Sf0001)
      .filter($"c_custkey" % Q.DeletionModulus === 0)
      .select($"c_custkey").as[Long].collect().toSet
    val orders = Tables.orders(spark, Sf0001)
      .select($"o_orderkey", $"o_custkey").as[(Long, Long)].collect()
    val delO = orders.filter(o => delC(o._2)).map(_._1).toSet
    val li = Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey").as[Long].collect()
    val got = Q.deletionCascade(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === Set("customer", "orders", "lineitem"))
    assert(got("customer")._2 === delC.size.toLong)
    assert(got("orders")._2 === delO.size.toLong)
    assert(got("lineitem")._2 === li.count(delO).toLong)
    got.values.foreach { case (n, d, k) => assert(n === d + k) }
    // closure: kept orders reference only kept customers, kept
    // lineitems only kept orders
    assert(!orders.exists(o => !delO(o._1) && delC(o._2)))
    assert(delC.nonEmpty && delO.nonEmpty, "cascade degenerate at sf0.001")
  }

  test("q172 AUC: matches a brute-force concordant-pair count") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
      .select($"lang", $"text").as[(String, String)].collect()
      .filter(_._2 != null)
    val stop = graft.functions.TextFunctions.EnglishStopwords.toSet
    val scored = docs.map { case (lang, text) =>
      val toks = text.split(" ", -1)
      (lang == "en", toks.count(stop) * 1000L / toks.length)
    }
    val pos = scored.filter(_._1).map(_._2)
    val neg = scored.filter(!_._1).map(_._2)
    // brute force: P(pos > neg) + 0.5 P(tie), as an exact rational
    val conc2 = (for (p <- pos; q <- neg)
      yield if (p > q) BigInt(2) else if (p == q) BigInt(1) else BigInt(0)).sum
    val auc = (BigDecimal(conc2)
      / BigDecimal(BigInt(2) * pos.length * neg.length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Q.aucScorer(spark, Sf0001).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getLong(0) === scored.length.toLong)
    assert(r.getLong(1) === pos.length.toLong)
    assert(r.getLong(2) === neg.length.toLong)
    assert(r.getDouble(3) === auc, s"auc $r")
    // the honest expectation: no language signal -> AUC near chance
    assert(math.abs(r.getDouble(3) - 0.5) < 0.15, s"unexpected signal $r")
  }

  test("q143 k-anonymity: generalization only retires risk") {
    val rows = Q.kAnonymity(spark, Sf0001).collect()
    assert(rows.length === 2)
    val l1 = rows(0); val l2 = rows(1)
    assert(l1.getString(0) === "1_segment_nation")
    // every level-2 group is a union of level-1 groups -> sizes only
    // grow, so risk can only shrink under generalization
    assert(l2.getLong(2) <= l1.getLong(2), "risky groups grew")
    assert(l2.getLong(3) <= l1.getLong(3), "rows at risk grew")
    assert(l2.getLong(1) <= l1.getLong(1), "group count grew")
    assert(l1.getLong(3) > 0, "no risk at sf0.001 — audit test degenerate")
  }

  test("q191 recursive cascade totals equal q165's fixed-join blast radius") {
    val rec = graft.operators.Storage.recursiveCascade(spark, Sf0001).collect()
    // the FK forest has exactly three levels on this schema; a
    // depth-generic traversal must discover them, not assume them
    assert(rec.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((0, "customer"), (1, "orders"), (2, "lineitem")))
    val byEntity = rec.map(r => r.getString(1) -> r.getLong(2)).toMap
    // cross-check: the recursion reaches exactly the rows q165's
    // hand-written per-level joins mark deleted
    val fixed = graft.operators.Quality.deletionCascade(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byEntity === fixed, s"recursive=$byEntity fixed=$fixed")
    assert(byEntity.values.forall(_ > 0), s"degenerate cascade: $byEntity")
  }

  test("CdfFirstAtLeast kernel equals the decimal filter-HOF first match") {
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlShim.{column, expression}
    val rng = new scala.util.Random(7)
    // random monotone CDFs incl. 128-bit territory: cumall/cums up to
    // ~1e18 make n1*cumall overflow a signed long, exercising the
    // multiplyHigh compare against the DECIMAL(38,0) ground truth
    val rows = (1 to 400).map { i =>
      val len = 1 + rng.nextInt(12)
      val big = i % 3 == 0
      // big steps capped at 2^56 so 12 accumulated steps stay < 2^63
      val step = () => 1L + (if (big) math.abs(rng.nextLong()) % (1L << 56)
                             else rng.nextInt(1000).toLong)
      val cums0 = Iterator.iterate(step())(c => c + step()).take(len).toArray
      val vs = cums0.indices.map(j => (j * 7 + i).toLong)
      val n1 = 1L + (if (big) math.abs(rng.nextLong()) % (1L << 40)
                     else rng.nextInt(500).toLong)
      val ntot = n1 + math.abs(rng.nextLong()) % (if (big) 1L << 40 else 2000L)
      // cums beyond the last cumall exercises the no-match -> NULL path
      val cums = math.abs(rng.nextLong()) % (cums0.last + cums0.last / 2 + 1)
      (vs.zip(cums0).map { case (v, c) => (v, c) }, n1, ntot, cums)
    }.toDF("arr0", "n1", "ntot", "cums")
      .select(expr("transform(arr0, e -> named_struct('v', e._1, 'cumall', e._2))")
        .as("arr"), col("n1"), col("ntot"), col("cums"))
    val both = rows.select(
      column(graft.functions.CdfFirstAtLeast(expression(col("arr")),
        expression(col("n1")), expression(col("ntot")),
        expression(col("cums")))).as("kernel"),
      expr("""try_element_at(filter(arr, e ->
             |  CAST(n1 AS DECIMAL(38,0)) * e.cumall
             |    >= CAST(ntot AS DECIMAL(38,0)) * cums), 1).v"""
        .stripMargin).as("hof"))
    assert(both.filter(not(col("kernel") <=> col("hof"))).count() === 0)
    // at least one NULL and one non-NULL case actually exercised
    assert(both.filter(col("kernel").isNull).count() > 0)
    assert(both.filter(col("kernel").isNotNull).count() > 0)
  }
}
