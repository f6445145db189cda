package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write each selected query's `explain("formatted")` text to
  * `<outDir>/<query>.txt` — the evidence files committed under plans/ for
  * optimization rounds (before/after plan diffs). Not part of the driver
  * contract.
  *
  * Usage: sbt "runMain graft.PlanDump <sfDir> <outDir> [csvNames]"
  * With no name list, dumps every registered query. The session is
  * Bench's ([[Session.local]]: `SPARK_GRAFT_CPUS` threads, default 4, and
  * as many shuffle partitions) so plan shapes match what the bench
  * executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val names = args.lift(2).map(_.split(',').toSet)
    val spark = Session.local()
    Files.createDirectories(Paths.get(outDir))
    // Exact-name selection (ADVICE r12: startsWith made "q26" also dump
    // q261/q263/...; evidence files must select exactly what was asked).
    // A trailing '*' opts back into prefix matching explicitly.
    def matches(pat: String, n: String): Boolean =
      if (pat.endsWith("*")) n.startsWith(pat.dropRight(1)) else n == pat
    // Internal BUILD-path frames whose plans are invisible in the
    // registered query's explain (hidden behind a localCheckpoint or a
    // persisted artifact) — dumpable by name for optimization evidence.
    val internals: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "internal_q183_perdoc" -> ((s: SparkSession, d: String) =>
        graft.operators.Curation.bigramPerDoc(s, d)),
      "internal_q265_winnow_select" -> ((s: SparkSession, d: String) =>
        graft.operators.TextAnalysis.winnowSelect(Tables.documents(s, d))))
    val selected = (SparkEntry.queries.toSeq ++ internals).sortBy(_._1)
      .filter { case (n, _) => names.forall(_.exists(matches(_, n))) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"$name.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $name")
      } catch {
        // NonFatal: an OOM/linkage error must abort the dump, not print
        // a per-query FAILED line and carry on (ADVICE r12)
        case scala.util.control.NonFatal(e) =>
          println(s"[plandump] $name FAILED: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
