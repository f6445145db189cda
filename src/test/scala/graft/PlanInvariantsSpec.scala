package graft

import org.apache.spark.sql.functions._

/** CI enforcement of the 100 TB plan invariants (round-5 VERDICT task:
  * "promote PlanAudit's invariants into sbt test"). Walks EVERY
  * registered query's executed physical plan at sf0.001 and asserts:
  *
  *  - no `CartesianProductExec` anywhere (including subquery plans);
  *  - `BroadcastNestedLoopJoin` only for [[PlanInvariants.bnlAllowlist]]
  *    (bounded/by-design broadcast sides);
  *  - shuffle count within [[PlanInvariants.ceilingFor]] — exact
  *    audited ceilings, so one extra exchange fails the suite.
  *
  * A deliberately-broken plan is also audited to prove the checker
  * actually detects what it claims to (a checker that can't fail is
  * not a gate).
  */
class PlanInvariantsSpec extends SparkSuite {

  test("every registered query: no cartesian, BNLJ allowlisted, shuffles within ceiling") {
    val failures = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val a = PlanInvariants.audit(fn(spark, Sf0001))
      if (a.cartesians > 0)
        failures += s"$name: ${a.cartesians} CartesianProduct node(s)"
      if (a.broadcastNestedLoops > 0 && !PlanInvariants.bnlAllowlist(name))
        failures += s"$name: non-allowlisted BroadcastNestedLoopJoin"
      val ceiling = PlanInvariants.ceilingFor(name)
      if (a.shuffles > ceiling)
        failures += s"$name: ${a.shuffles} shuffles > ceiling $ceiling"
    }
    val bad = failures.result()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the checker detects a deliberately-broken plan") {
    import spark.implicits._
    // a genuine cartesian: no join condition, both sides too wide to
    // broadcast-degenerate away under AQE
    val left = spark.range(0, 100).select(col("id").as("a"))
    val right = spark.range(0, 100).select(col("id").as("b"))
    val cart = PlanInvariants.audit(left.crossJoin(right).filter($"a" =!= $"b"))
    assert(cart.cartesians + cart.broadcastNestedLoops > 0,
      s"cartesian/BNLJ not detected in: ${cart.nodeNames.mkString(", ")}")
    // an obviously shuffle-heavy plan exceeds the default ceiling
    // (chained aggregations on fresh keys — repartition chains would
    // collapse under CollapseRepartition and prove nothing)
    val heavy = (1 to 6).foldLeft(spark.range(0, 1000).toDF("id")) { (df, i) =>
      df.groupBy((col("id") % (100 - i)).as("id")).agg(count(lit(1)).as("n"))
        .select(col("id") + col("n").as("id")).toDF("id")
    }
    assert(PlanInvariants.audit(heavy).shuffles > PlanInvariants.defaultShuffleCeiling)
  }

  /** Spark jobs one execution of a registered query starts at sf0.001,
    * construct plus a `noop` write, once its artifacts are built: the
    * per-query job ceiling. Each pin is the count measured when it was
    * set; a rise means a new driver-side action or listing. The comment
    * gives the count from when every table read inferred its schema in
    * a Spark job and q265 read its raw selection twice. The seven
    * `TwoPass.runningSum` consumers are pinned at the counts their
    * hand-written passes started. */
  private val jobCeiling = Map(
    "q162_golden_records" -> 8, // 9
    "q224_weighted_median" -> 2, // 3
    "q265_winnowing" -> 5, // 9
    "q91_ntile_quartiles" -> 11,
    "q145_gini_concentration" -> 12,
    "q173_abc_classification" -> 12,
    "q94_budget_selection" -> 10,
    "q111_training_batches" -> 11,
    "q142_pps_sample" -> 9,
    "q189_dsir_resample" -> 15)

  test("pinned queries start exactly their pinned Spark job counts") {
    val counts = jobCeiling.keys.map { name =>
      val q = SparkEntry.queries(name)
      def run(): Unit =
        q(spark, Sf0001).write.format("noop").mode("overwrite").save()
      run() // builds the query's artifacts
      name -> jobsStarted(run())
    }.toMap
    assert(counts === jobCeiling)
  }
}
