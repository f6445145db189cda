package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Core relational operators (SURVEY §2.1-2.8). Value parity with DuckDB
  * is enforced by the driver's oracle gate; these tests pin the algebraic
  * invariants and — because the 100 TB design point is graded — the
  * physical plan shapes (broadcast joins, pushed filters, top-k). */
class RelationalSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2 standings: points/rank/played bookkeeping holds") {
    val s = Relational.standings(spark, Sf0001).cache()
    assert(s.filter(col("points") =!= col("wins") * 3 + col("draws")).count() === 0)
    assert(s.filter(col("played") =!= col("wins") + col("draws") + col("losses")).count() === 0)
    // every season has exactly one rank-1 row set (rank starts at 1)
    val minRanks = s.groupBy("season").agg(min("rank").as("mr"))
    assert(minRanks.filter(col("mr") =!= 1L).count() === 0)
    s.unpersist()
  }

  test("q1 pricing summary: ship-date filter is pushed to the parquet scan") {
    val p = plan(Relational.pricingSummary(spark, Sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q3/q5/q7: dimension joins broadcast, fact joins stay shuffled") {
    assert(plan(Relational.regionRollup(spark, Sf0001)).contains("BroadcastHashJoin"))
    assert(plan(Relational.antiJoin(spark, Sf0001)).contains("BroadcastHashJoin"))
    val rankPlan = plan(Relational.windowRank(spark, Sf0001))
    assert(rankPlan.contains("BroadcastHashJoin"), rankPlan)
  }

  test("q5 anti join: non-vacuity pin — orphan customers ARE reported") {
    // the sf0.01 CORRECTNESS entry passes with 0 rows (the generator
    // gives every customer an order), which is vacuously hash-equal;
    // this fixture proves the anti join actually emits orphans, so the
    // oracle entry is evidenced by a non-empty case too
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q5_fixture_" +
      ProcessHandle.current().pid()
    Scratch.deleteOnExit(dir)
    Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((100L, 1L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "ALPHA"), (20L, "BETA")).toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val got = Relational.antiJoin(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // customer 1 has the order; 2, 3, 4 are orphans (ledger shape:
    // nation, total customers, customers without orders)
    assert(got === Seq(("ALPHA", 2L, 1L), ("BETA", 2L, 2L)))
  }

  test("q10 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topK(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(Relational.topK(spark, Sf0001).count() === 10)
  }

  test("q4 semi join plans as a semi join, never materializing orders columns") {
    val p = plan(Relational.semiJoin(spark, Sf0001))
    assert(p.contains("LeftSemi"), p)
  }

  test("q11/q12: except and intersect partition the distinct R-domain") {
    val li = Tables.lineitem(spark, Sf0001)
    val rDistinct = li.filter(col("l_returnflag") === "R")
      .select("l_partkey", "l_suppkey").distinct().count()
    val ex = Relational.setExcept(spark, Sf0001).count()
    val in = Relational.setIntersect(spark, Sf0001).count()
    assert(ex + in === rDistinct)
  }

  test("q9 rolling window: frame never sees the current row") {
    val r = Relational.windowRolling(spark, Sf0001)
    // first row per customer has an empty frame -> null rolling_avg
    val o = Tables.orders(spark, Sf0001)
    val nCustomers = o.select("o_custkey").distinct().count()
    assert(r.filter(col("rolling_avg").isNull).count() === nCustomers)
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q137 star revenue: matches a driver-side hash-map recompute") {
    import spark.implicits._
    def money(d: Double): BigDecimal =
      BigDecimal.valueOf(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val ordersByKey = Tables.orders(spark, Sf0001)
      .select($"o_orderkey", $"o_custkey", year($"o_orderdate"))
      .as[(Long, Long, Int)].collect()
      .collect { case (ok, ck, 1996) => ok -> ck }.toMap
    val custNation = Tables.customer(spark, Sf0001)
      .select($"c_custkey", $"c_nationkey".cast("long"))
      .as[(Long, Long)].collect().toMap
    val suppNation = Tables.supplier(spark, Sf0001)
      .select($"s_suppkey", $"s_nationkey".cast("long"))
      .as[(Long, Long)].collect().toMap
    val nations = Tables.nation(spark, Sf0001)
      .select($"n_nationkey".cast("long"), $"n_name", $"n_regionkey".cast("long"))
      .as[(Long, String, Long)].collect()
    val asia = Tables.region(spark, Sf0001).filter($"r_name" === "ASIA")
      .select($"r_regionkey".cast("long")).as[Long].collect().toSet
    val asiaNation = nations.collect {
      case (k, name, rk) if asia(rk) => k -> name
    }.toMap
    val acc = scala.collection.mutable.Map[String, (BigDecimal, Long)]()
    Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .as[(Long, Long, Double, Double)].collect()
      .foreach { case (ok, sk, price, disc) =>
        for {
          ck <- ordersByKey.get(ok)
          cn <- custNation.get(ck)
          sn <- suppNation.get(sk) if cn == sn
          name <- asiaNation.get(sn)
        } {
          val rev = money(price) * (BigDecimal(1) - money(disc))
          val (r0, n0) = acc.getOrElse(name, (BigDecimal(0), 0L))
          acc(name) = (r0 + rev, n0 + 1)
        }
      }
    val expected = acc.map { case (name, (rev, n)) =>
      name -> (rev.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, n)
    }.toMap
    val got = Relational.starRevenue(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet === expected.keySet)
    got.foreach { r =>
      val (rev, n) = expected(r.getString(0))
      assert(r.getDouble(1) === rev, r)
      assert(r.getLong(2) === n, r)
    }
    // ordered by revenue desc (tie: name)
    val revs = got.map(r => (-r.getDouble(1), r.getString(0))).toSeq
    assert(revs === revs.sorted)
  }

  test("q91 ntile: run-splitting formulation is identical to the ntile window") {
    val fast = Relational.ntileQuartiles(spark, Sf0001)
    val slow = Relational.ntileQuartilesViaWindow(spark, Sf0001)
    assert(fast.exceptAll(slow).count() === 0)
    assert(slow.exceptAll(fast).count() === 0)
    assert(fast.count() === slow.count())
  }

  test("q91 ntile: quartiles within a flag differ by at most one row") {
    val q = Relational.ntileQuartiles(spark, Sf0001).collect()
    q.groupBy(_.getAs[String]("l_returnflag")).foreach { case (flag, rows) =>
      assert(rows.map(_.getAs[Long]("quartile")).sorted.toSeq === Seq(1L, 2L, 3L, 4L), flag)
      val ns = rows.map(_.getAs[Long]("n"))
      assert(ns.max - ns.min <= 1, s"$flag: ${ns.toSeq}")
      // quartile boundaries are ordered: max of k <= min of k+1
      val sorted = rows.sortBy(_.getAs[Long]("quartile"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("max_price") <= b.getAs[Double]("min_price"), flag)
        case _ =>
      }
    }
  }

  test("q145 Gini: matches a driver-side sorted replay; bounds hold") {
    import spark.implicits._
    val orders = Tables.orders(spark, Sf0001)
      .join(Tables.customer(spark, Sf0001), col("o_custkey") === col("c_custkey"))
      .select($"c_mktsegment", $"o_totalprice").as[(String, Double)].collect()
    def cents(d: Double): Long =
      BigDecimal.valueOf(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .*(100).toLongExact
    val got = Relational.giniConcentration(spark, Sf0001).collect()
    val bySeg = orders.groupBy(_._1).view.mapValues(_.map(o => cents(o._2)).sorted)
    assert(got.map(_.getString(0)).toSeq === bySeg.keys.toSeq.sorted)
    got.foreach { r =>
      val xs = bySeg(r.getString(0))
      val n = xs.length.toLong
      val t = xs.map(BigInt(_)).sum
      val s = xs.zipWithIndex.map { case (x, i) => BigInt(x) * (i + 1) }.sum
      assert(r.getLong(1) === n, r)
      assert(r.getDouble(2) ===
        (BigDecimal(t) / 100).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, r)
      val gini = (BigDecimal(2 * s - (n + 1) * t) / BigDecimal(n * t))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === gini, s"gini $r")
      // Gini of non-negative data lives in [0, 1)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0, r)
    }
  }

  test("q166 share shift: exact cross-multiplied pp change, shares sum to 100") {
    import spark.implicits._
    val rows = Tables.orders(spark, Sf0001)
      .join(Tables.customer(spark, Sf0001), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, Sf0001), col("c_nationkey") === col("n_nationkey"))
      .select($"n_name", year($"o_orderdate"), $"o_totalprice")
      .as[(String, Int, Double)].collect()
      .filter(t => t._2 == 1996 || t._2 == 1997)
    def cents(d: Double): BigInt =
      BigInt(BigDecimal.valueOf(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .*(100).toLongExact)
    val byNation = rows.groupBy(_._1).view.mapValues { rs =>
      (rs.filter(_._2 == 1996).map(r => cents(r._3)).sum,
        rs.filter(_._2 == 1997).map(r => cents(r._3)).sum)
    }.toMap
    val tOld = byNation.values.map(_._1).sum
    val tNew = byNation.values.map(_._2).sum
    val got = Relational.shareShift(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet === byNation.keySet)
    got.foreach { r =>
      val (ro, rn) = byNation(r.getString(0))
      val pp = (BigDecimal((rn * tOld - ro * tNew) * 100)
        / BigDecimal(tNew * tOld))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) === pp, s"share_change_pp $r")
      val shOld = (BigDecimal(ro * 100) / BigDecimal(tOld))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === shOld, s"share_old $r")
    }
    // shares sum to ~100 in each period (rounding residue < 1e-4 pp)
    assert(math.abs(got.map(_.getDouble(3)).sum - 100.0) < 1e-4)
    assert(math.abs(got.map(_.getDouble(4)).sum - 100.0) < 1e-4)
    // pp changes sum to ~0 (shares are zero-sum)
    assert(math.abs(got.map(_.getDouble(5)).sum) < 1e-4)
  }

  test("q171 basket pairs: matches a driver-side pair enumeration") {
    import spark.implicits._
    val items = Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().distinct
    val nOrders = items.map(_._1).distinct.length.toLong
    val pf = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCnt = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top = pairCnt.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(20)
    val got = Relational.basketPairs(spark, Sf0001).collect()
    assert(got.length === top.length)
    got.zip(top).foreach { case (r, ((a, b), c)) =>
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((a, b, c)), r)
      val support = (BigDecimal(c) / BigDecimal(nOrders))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === support, s"support $r")
      val lift = (BigDecimal(BigInt(c) * nOrders)
        / BigDecimal(BigInt(pf(a)) * pf(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) === lift, s"lift $r")
    }
  }

  test("q173 ABC classification: matches a driver-side Pareto replay") {
    import spark.implicits._
    val perPart = Tables.lineitem(spark, Sf0001)
      .select($"l_partkey", $"l_extendedprice").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(e =>
        BigDecimal.valueOf(e._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact).sum).toSeq
      .sortBy { case (pk, c) => (-c, pk) }
    val total = perPart.map(_._2).sum
    var cumPrev = 0L
    val classified = perPart.map { case (_, c) =>
      val cls = if (cumPrev * 5 < total * 4) "A"
        else if (cumPrev * 20 < total * 19) "B" else "C"
      cumPrev += c
      (cls, c)
    }
    val expected = classified.groupBy(_._1).view.mapValues { xs =>
      (xs.length.toLong, xs.map(_._2).sum)
    }.toMap
    val got = Relational.abcClassification(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet === expected.keySet)
    got.foreach { r =>
      val (n, rev) = expected(r.getString(0))
      assert(r.getLong(1) === n, s"n_parts $r")
      assert(r.getDouble(2) === (BigDecimal(rev) / 100)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, s"revenue $r")
    }
    // Pareto shape: A has the most revenue in the fewest parts
    val byCls = got.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    if (byCls.contains("A") && byCls.contains("C"))
      assert(byCls("A")._2 > byCls("C")._2 || byCls("A")._1 < byCls("C")._1)
  }

  test("q175 ratio-to-parent: shares reconcile up the hierarchy") {
    val got = Relational.ratioToParent(spark, Sf0001).collect()
    // nation shares sum to 100 within each region
    got.groupBy(_.getString(0)).foreach { case (region, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 100.0) < 1e-3, region)
      // region share identical on every row of the region
      assert(rows.map(_.getDouble(4)).distinct.length === 1, region)
    }
    // region shares sum to 100 over distinct regions
    val regionShares = got.groupBy(_.getString(0)).view
      .mapValues(_.head.getDouble(4)).values.sum
    assert(math.abs(regionShares - 100.0) < 1e-3)
    // revenue reconciles with a direct recompute
    val direct = Tables.orders(spark, Sf0001)
      .join(Tables.customer(spark, Sf0001), col("o_custkey") === col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).collect()
      .head.getDecimal(0).doubleValue()
    assert(math.abs(got.map(_.getDouble(2)).sum - direct) < 1e-6)
  }
}
