package graft.soccer

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSuite
import graft.functions.TextFunctions.naturalSortKey

class IngestSpec extends SparkSuite {
  import spark.implicits._

  /** One openfootball record (layout B) with a single played match. */
  private def matchFile(name: String, home: String, away: String): String =
    s"""{"name": "$name", "matches": [{"round": "Matchday 1", "date": "2011-08-13",""" +
      s""" "team1": "$home", "team2": "$away", "score": {"ft": [1, 0]}}]}"""

  /** A repo root holding `files` (relative path -> content). */
  private def writeRepo(files: Seq[(String, String)]): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_repo")
    files.foreach { case (rel, content) =>
      val path = root.resolve(rel)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path, content)
    }
    root.toString
  }

  test("league map build: first-wins, season suffix stripped (D1-D3, D8)") {
    val raw = Normalize.readRaw(spark, fixturePath("2011-12") + "/*.json")
    val m = Ingest.buildLeagueMap(raw).as[(String, String)].collect().toMap
    assert(m("en") === "English Premier League")
    assert(m("de") === "Bundesliga")
  }

  test("natural sort key: sort -V semantics (A7 hard part)") {
    val names = Seq("en.1.json", "en.2.json", "en.10.json", "en.9.json")
    val sorted = names.toDF("f")
      .orderBy(naturalSortKey($"f"))
      .as[String].collect()
    assert(sorted === Array("en.1.json", "en.2.json", "en.9.json", "en.10.json"))
  }

  test("natural sort key property: order equals numeric order for vN") {
    val versions = (1 to 120).map(i => s"v$i")
    val sorted = new scala.util.Random(7).shuffle(versions).toDF("f")
      .orderBy(naturalSortKey($"f")).as[String].collect()
    assert(sorted === versions.toArray)
  }

  test("latest-version pick per key (A7/W4/T1, main.yml:136-141)") {
    val files = Seq(
      ("2011-12", "en", "en.1.json"),
      ("2011-12", "en", "en.2.json"),
      ("2011-12", "en", "en.10.json"),
      ("2011-12", "de", "de.3.json"),
    ).toDF("season_dir", "code", "file")
    val latest = Ingest.latestVersionPerKey(files, Seq("season_dir", "code"), "file")
      .select($"code", $"file").as[(String, String)].collect().toMap
    assert(latest("en") === "en.10.json")
    assert(latest("de") === "de.3.json")
  }

  test("season year extraction with fallback (D4)") {
    val df = Seq("2011-12", "archive").toDF("d")
      .select(Ingest.seasonYear($"d").as("y")).as[String].collect()
    assert(df === Array("2011", "archive"))
  }

  test("known-league whitelist skips unknown codes (P8)") {
    // 99.json has no letter prefix, so no league code the map can know
    val root = writeRepo(Seq(
      "2011-12/en.1.json" -> matchFile("English Premier League 2011/12", "A", "B"),
      "2011-12/99.json" -> matchFile("Mystery League 2011/12", "C", "D")))
    val rows = Ingest.run(spark, root, sourceCommit = "shaX")
      .select($"league", $"team_home", $"source_file").as[(String, String, String)].collect()
    assert(rows.map(r => (r._1, r._2)) === Array(("English Premier League", "A")))
    assert(rows.forall(_._3.endsWith("/en.1.json")))
  }

  test("dedup against existing is idempotent (J3/A6, README.md:114)") {
    val existing = Seq(("sha1", "f1", 10L), ("sha1", "f2", 20L)).toDF("commit", "path", "v")
    val incoming = Seq(("sha1", "f2", 99L), ("sha2", "f2", 30L), ("sha2", "f2", 31L))
      .toDF("commit", "path", "v")
    val once = Ingest.dedupAgainst(incoming, existing, Seq("commit", "path"))
    assert(once.count() === 1) // only (sha2, f2), in-batch dup dropped
    val twice = Ingest.dedupAgainst(once, existing, Seq("commit", "path"))
    assert(twice.collect().toSet === once.collect().toSet)
    // after merging, a re-delivery of the same batch adds nothing
    val merged = existing.select($"commit", $"path").union(once.select($"commit", $"path"))
    assert(Ingest.dedupAgainst(incoming, merged, Seq("commit", "path")).count() === 0)
  }

  test("full ingest run: validates, picks sort -V latest, joins league names (§3.1)") {
    // fixtures/versions/2011-12 holds en.{1,2,10}.json; sort -V latest = en.10
    val root = fixturePath("versions")
    val out = Ingest.run(spark, root, sourceCommit = "shaX")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // only the latest version's matches survive (en.10: Matchday 10, ft 10-0)
    assert(rows.forall(_.getAs[String]("round") === "Matchday 10"))
    assert(rows.forall(_.getAs[Long]("ft_home") === 10L))
    // league name resolved through the built map (season suffix stripped)
    assert(rows.forall(_.getAs[String]("league") === "English Premier League"))
    assert(rows.forall(_.getAs[String]("source_commit") === "shaX"))
  }

  test("readRaw resolves a >32-file glob on the driver: no job, same rows as per-directory reads") {
    val seasons = Seq("2011-12", "2012-13", "2013-14")
    val root = writeRepo(for (season <- seasons; i <- 1 to 12)
      yield s"$season/en.$i.json" -> matchFile(s"English Premier League $season", s"H$i", s"A$i"))
    val confBefore = spark.conf.getAll
    var globbed: DataFrame = null
    assert(jobsStarted { globbed = Normalize.readRaw(spark, root + "/*/*.json") } === 0)
    assert(spark.conf.getAll === confBefore)
    val perDir = seasons.map(s => Normalize.readRaw(spark, s"$root/$s/*.json")).reduce(_ union _)
    val rows = globbed.collect()
    assert(rows.length === 36)
    assert(rows.toSet === perDir.collect().toSet)
    assert(rows.map(_.getAs[String]("source_file")).toSet ===
      perDir.select("source_file").as[String].collect().toSet)
  }

  test("staging write and idempotent re-load read the run's rows, not the JSON") {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }) ++ p.children).flatMap(nodes)
    // file scans of the physical plan, and of the logical plan too: AQE
    // may fold a finished branch into an empty relation that hides them
    def formats(qe: QueryExecution): Seq[FileFormat] =
      nodes(qe.executedPlan).collect { case s: FileSourceScanExec => s.relation.fileFormat } ++
        qe.optimizedPlan.collectLeaves().collect {
          case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
            l.relation.asInstanceOf[HadoopFsRelation].fileFormat
        }
    def scansJson(qe: QueryExecution) = formats(qe).exists(_.isInstanceOf[JsonFileFormat])
    // the detector sees the JSON scan of an unmaterialized read
    val raw = Normalize.readRaw(spark, fixturePath("versions") + "/*/*.json")
    raw.count()
    assert(scansJson(raw.queryExecution))

    val staged = Ingest.run(spark, fixturePath("versions"), sourceCommit = "shaX")
    val out = java.nio.file.Files.createTempDirectory("graft_stage").toString
    val keys = Seq("league", "season", "round", "team_home", "team_away", "match_date")
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runs.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val added = try {
      Ingest.writePartitioned(staged, out)
      val n = Ingest.dedupAgainst(staged, spark.read.parquet(out), keys).count()
      // listeners hear of executions in order: the count comes last
      eventually(timeout(Span(30, Seconds))) {
        assert(runs.asScala.exists(_._1 == "count"))
      }
      n
    } finally spark.listenerManager.unregister(listener)
    assert(added === 0)
    val all = runs.asScala.toSeq
    assert(all.exists(r => nodes(r._2.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec])),
      all.map(_._1))
    all.foreach { case (name, qe) =>
      assert(!scansJson(qe), s"$name: ${qe.executedPlan}")
      // nor re-run the run's plan: its version window is gone
      assert(!qe.optimizedPlan.exists(_.isInstanceOf[WindowNode]), s"$name: ${qe.optimizedPlan}")
    }
    // the re-load does read the staged parquet back
    assert(all.exists { case (name, qe) =>
      name == "count" && formats(qe).exists(_.isInstanceOf[ParquetFileFormat]) })
  }

  test("league config emit escapes JSON natively (D10, main.yml:87)") {
    val lm = Seq(("xx", """Liga "Especial" \ 2020""")).toDF("code", "league")
    val line = Ingest.leagueConfigJson(lm).as[String].head()
    assert(line === """{"code":"xx","league":"Liga \"Especial\" \\ 2020"}""")
    // and it parses back to the same value
    val back = spark.read.json(Seq(line).toDS).select($"league").as[String].head()
    assert(back === """Liga "Especial" \ 2020""")
  }

  test("partitioned clustered write round-trips (S5/S7)") {
    val raw = Normalize.readRaw(spark, fixturePath("2011-12") + "/*.json")
    val n = Normalize.normalize(raw, "sha1")
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    Ingest.writePartitioned(n, out)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("league="))
    assert(dirs.toSet === Set("league=English Premier League", "league=Bundesliga"))
    val back = spark.read.parquet(out)
    assert(back.count() === n.count())
    // partition pruning: reading one league touches only its directory
    val pruned = back.filter($"league" === "Bundesliga")
    assert(pruned.count() === 2)
  }
}
