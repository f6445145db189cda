package graft

import scala.util.control.NonFatal

/** Dev tool: per-query physical-plan diagnostics for the 100 TB design
  * review — shuffle count, join strategies, codegen spans, scan pushdown.
  * Usage: sbt "runMain graft.PlanAudit [sfDir]". Not part of the driver
  * contract; the INVARIANT subset (no cartesians, BNLJ allowlist,
  * shuffle ceilings) is enforced in CI by `PlanInvariantsSpec` via the
  * shared [[PlanInvariants]] walker — this main remains the verbose
  * human-readable view (scans, codegen spans, join strategies).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local()

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // audit() materializes THIS DataFrame's own plan instance:
        // under AQE, join picks and codegen insertion happen per stage
        // during execution, and a write would execute a cloned
        // QueryExecution, leaving this instance's adaptive plan in its
        // un-executed initial state. collect() is safe — PlanAudit
        // runs at sf0.001 where every result is tiny.
        val a = PlanInvariants.audit(df)
        val names = a.nodeNames
        val joins = names.filter(_.contains("Join")).groupBy(identity)
          .map { case (k, v) => s"$k x${v.size}" }.mkString(", ")
        val codegen = names.count(_.startsWith("WholeStageCodegen"))
        val scans = PlanInvariants.collectAll(df.queryExecution.executedPlan)
          .filter(_.nodeName.contains("Scan"))
          .map(_.toString.linesIterator.next().take(120)).distinct
        println(f"$name%-24s shuffles=${a.shuffles}%-3d codegen=$codegen%-3d joins=[$joins]")
        scans.foreach(s => println(s"    scan: $s"))
      } catch {
        case NonFatal(e) => println(s"$name AUDIT FAILED: ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
