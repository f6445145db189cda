package graft.soccer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session
import graft.operators.TwoPass

import Schemas._

/** The ParseMatches port (reference README.md:200-220) as pure Column
  * algebra: dual-layout flatten (P1), nested projection/rename (P2),
  * null-safe score access (P3), lineage literals (P4), date parse (D5),
  * winner (D6) and points (D7) derivations.
  *
  * One narrow stage end-to-end — no shuffle, fuses into a single
  * WholeStageCodegen span exactly like Dataflow fuses the DoFn chain
  * (SURVEY §3.2).
  */
object Normalize {

  /** Read raw openfootball JSON (one object per file) with the explicit
    * schema, PERMISSIVE mode + corrupt-record capture (P5/P6).
    *
    * The glob is expanded on the driver, which already lists every
    * matched directory; past 32 leaf paths Spark would list those files
    * again as a one-task-per-file job (96 tasks, 0.6-0.9 s per read on
    * the benchmark corpus on a 4-vCPU VM, NOTES.md). Raising the discovery threshold
    * for the one call that resolves the files keeps that listing on the
    * driver; paths and `input_file_name` values are unchanged.
    *
    * The glob itself is expanded here with `FileSystem.globStatus`, as
    * Spark would, and the matched paths are passed on: given exactly one
    * path, Spark probes it for a streaming sink's metadata directory,
    * and a literal glob fails that probe with a logged stack trace. A
    * glob that matches nothing is passed as it is, so Spark raises its
    * own path-not-found error. */
  def readRaw(spark: SparkSession, glob: String): DataFrame = {
    val reader = spark.read
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(rawSchema)
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(pattern)).toSeq.flatten.map(_.getPath.toString)
    val paths = if (matched.isEmpty) Seq(glob) else matched
    Session.withConf(spark,
        "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString) {
      reader.json(paths: _*)
    }.withColumn("source_file", input_file_name())
  }

  /** Parse raw records from in-memory JSON strings (same schema/modes as
    * [[readRaw]]) — for embedded demos and tests. */
  def fromJsonStrings(spark: SparkSession, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(rawSchema)
      .json(rows.toDS())
      .withColumn("source_file", lit("inline"))
  }

  /** Rows whose JSON failed to parse — routed to the error side-output
    * the reference logs (README.md:112, A5).
    *
    * Spark refuses plans that reference ONLY the internal corrupt-record
    * column of a JSON scan ([UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    * RECORD_COLUMN]); the documented remedy is materializing the parsed
    * result first. localCheckpoint rather than .cache(): a pinned cache
    * entry per call would outlive the caller (the runToTable leak
    * shape), while checkpoint blocks free once the frame is
    * unreachable. Fine here (ingest inputs are small); a 100 TB
    * pipeline would persist the parsed frame and route errors from it.
    * A `raw` that is already a checkpoint (a caller that also derives
    * [[missingRequired]] from it passes one) has no JSON scan left to
    * refuse, so it is filtered as it is. */
  def corruptRecords(raw: DataFrame): DataFrame = {
    val parsed = if (TwoPass.materialized(raw)) raw else raw.localCheckpoint(true)
    parsed.filter(col("_corrupt_record").isNotNull)
  }

  /** The required-fields rule (main.yml:132-134, P7), shared between the
    * warn side-output and the ingest valid-row filter so the two can
    * never diverge. */
  private[soccer] def missingRequiredCond: Column =
    col("name").isNull || (col("matches").isNull && col("rounds").isNull)

  /** Rows missing the required fields the workflow warns on (P7):
    * parseable JSON but neither a matches array nor rounds. */
  def missingRequired(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNull && missingRequiredCond)

  /** Coalesce layout A (`rounds[].matches[]`) and layout B (`matches[]`)
    * into one exploded (record, round_label, match) row set (P1).
    * If a record carries BOTH arrays, the flat `matches` layout wins and
    * `rounds` is ignored — openfootball files have one or the other, and
    * reading both would double-count a file that duplicates its matches
    * in both shapes (pinned in NormalizeSpec). */
  private def explodeMatches(raw: DataFrame): DataFrame = {
    val fromB = raw
      .filter(col("matches").isNotNull)
      .select(col("name"), col("season"), col("source_file"),
        explode(col("matches")).as("m"))
      .withColumn("round_label", col("m.round"))
    val fromA = raw
      .filter(col("matches").isNull && col("rounds").isNotNull)
      .select(col("name"), col("season"), col("source_file"),
        explode(col("rounds")).as("r"))
      .select(col("name"), col("season"), col("source_file"),
        coalesce(col("r.name"), col("r.round")).as("rname"),
        explode(col("r.matches")).as("m"))
      .withColumn("round_label", coalesce(col("m.round"), col("rname")))
      .drop("rname")
    fromB.unionByName(fromA)
  }

  /** Winner derivation (D6, README.md:79): home/away/draw, NULL when the
    * match has no full-time score (unplayed, README.md:61-62). */
  def winnerCol(ftHome: Column, ftAway: Column): Column =
    when(ftHome > ftAway, "home")
      .when(ftHome < ftAway, "away")
      .when(ftHome === ftAway, "draw")

  /** League points (D7, README.md:80-81): 3 win / 1 draw / 0 loss,
    * null-propagating for unplayed matches. */
  def pointsCol(ftFor: Column, ftAgainst: Column): Column =
    when(ftFor > ftAgainst, 3L)
      .when(ftFor < ftAgainst, 0L)
      .when(ftFor === ftAgainst, 1L)

  /** Season string: explicit field if present, else the trailing
    * "2011/12" / "2011-12" / "2011" token of the record name. */
  private def seasonCol: Column =
    coalesce(col("season"),
      nullif(regexp_extract(col("name"), "([0-9]{4}([/-][0-9]{2,4})?)\\s*$", 1), lit("")))

  /** Season-suffix strip + trim (D2/D3, main.yml:71-75) — the ONE
    * definition shared by the normalized `league` column and the ingest
    * league-map build, so the two can never disagree on display names. */
  def stripSeasonSuffix(name: Column): Column =
    trim(regexp_replace(name, " [0-9]{4}([/-][0-9]{2,4})?.*$", ""))

  /** League display name: record name with the season suffix stripped. */
  private def leagueCol: Column = stripSeasonSuffix(col("name"))

  /** Full normalization: raw JSON rows -> the README.md:66-84 table.
    * `ingestionTs` is injected (not current_timestamp()) so runs are
    * reproducible and oracle-comparable (SURVEY §7 risk 5). */
  def normalize(raw: DataFrame, sourceCommit: String,
      ingestionTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")): DataFrame = {
    explodeMatches(raw)
      .select(
        leagueCol.as("league"),
        seasonCol.as("season"),
        col("round_label").as("round"),
        // try_* variants: Spark 4 runs ANSI mode by default, where a
        // malformed date or a short score array would fail the whole
        // job — the reference demands dirt tolerance instead
        // (README.md:61-63): unparseable/missing -> NULL.
        try_to_date(col("m.date"), "yyyy-MM-dd").as("match_date"),
        col("m.time").as("match_time"),
        col("m.team1").as("team_home"),
        col("m.team2").as("team_away"),
        try_element_at(col("m.score.ht"), lit(1)).as("ht_home"),
        try_element_at(col("m.score.ht"), lit(2)).as("ht_away"),
        try_element_at(col("m.score.ft"), lit(1)).as("ft_home"),
        try_element_at(col("m.score.ft"), lit(2)).as("ft_away"),
        col("source_file"))
      .withColumn("winner", winnerCol(col("ft_home"), col("ft_away")))
      .withColumn("points_home", pointsCol(col("ft_home"), col("ft_away")))
      .withColumn("points_away", pointsCol(col("ft_away"), col("ft_home")))
      .withColumn("schema_version", lit(SchemaVersion))
      .withColumn("source_commit", lit(sourceCommit))
      .withColumn("ingestion_ts", lit(ingestionTs))
  }

  /** Typed view of the normalized table (SURVEY §1.4): the schema is
    * fixed and closed, so a `Dataset[NormalizedMatch]` is the honest
    * API — the encoder enforces column names, types, and nullability at
    * conversion time (a schema test in itself). */
  def typed(normalized: DataFrame): Dataset[Schemas.NormalizedMatch] = {
    import normalized.sparkSession.implicits._
    normalized.drop("source_file").as[Schemas.NormalizedMatch]
  }

  /** Team-name standardization via broadcast alias lookup (J2,
    * README.md:109; dirt motivation README.md:63). Unmatched names pass
    * through (coalesce-to-raw). */
  def standardizeTeams(normalized: DataFrame, aliases: DataFrame): DataFrame = {
    val a = broadcast(aliases)
    normalized
      .join(a.withColumnRenamed("alias", "team_home")
        .withColumnRenamed("canonical", "home_canonical"), Seq("team_home"), "left")
      .join(a.withColumnRenamed("alias", "team_away")
        .withColumnRenamed("canonical", "away_canonical"), Seq("team_away"), "left")
      .withColumn("team_home", coalesce(col("home_canonical"), col("team_home")))
      .withColumn("team_away", coalesce(col("away_canonical"), col("team_away")))
      .drop("home_canonical", "away_canonical")
  }
}
