package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter for local
    // iteration (the driver always passes exactly two args — full run).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Four oracles (q37 model export, q69/q88/q90 interchange scratch)
    // read per-SF /tmp exports whose paths embed the sf basename. The
    // static SQL texts pin "sf0.01" — the SF the driver's DuckDB gate
    // runs at, so the driver sees byte-identical SQL — and this rewrite
    // re-points them when Verify runs at ANOTHER SF (the local sf0.1
    // depth sweep), so the oracle reads the exports of the run it is
    // checking instead of a stale sf0.01 copy.
    // The rewrite is anchored to the known /tmp/graft_* export-path
    // shape (never a bare "sf0.01" substring): a future numeric/string
    // literal that happens to contain "sf0.01" must not be rewritten.
    val sfBase = sfDir.stripSuffix("/").split('/').last
    val exportPath = """(/tmp/graft_[A-Za-z0-9_]*_)sf0\.01""".r
    val json = SparkEntry.oracleSql
      .map { case (k, v) => k -> (if (sfBase == "sf0.01") v
        else exportPath.replaceAllIn(v,
          m => java.util.regex.Matcher.quoteReplacement(m.group(1) + sfBase))) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
