package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.soccer.{Normalize, Standings}

/** End-to-end soccer pipeline demo exposed through the harness: embedded
  * openfootball-shaped records (both layouts + dirt) -> normalize ->
  * alias-standardize -> season standings.
  *
  * Oracle strategy (the input is inline, not an sfDir table): the
  * normalized intermediate is materialized to [[normalizedExportPath]]
  * and the standings aggregation — which IS plain SQL — is re-run by
  * DuckDB over those exact parquet bytes. The normalization layer itself
  * stays spec-verified (golden values in SoccerSpec/NormalizeSpec); this
  * oracle covers the unpivot + conditional aggregation + ranking layer
  * end-to-end against an independent engine.
  */
object Soccer {

  /** Fixed cross-process export path (NOT the per-process scratch dir):
    * the driver's DuckDB compare runs in a separate process after the
    * Verify JVM has exited, so the file must outlive the JVM. Safe as a
    * fixed name because the content is a pure function of the inline
    * sample records — every writer writes the same rows. */
  val normalizedExportPath = "/tmp/graft_q36_normalized"

  // Both openfootball layouts (SURVEY §1.2) plus reference-documented
  // dirt: ft-only scores, missing time, an unplayed match, an alias
  // team name (README.md:61-63).
  private[graft] val sampleRecords: Seq[String] = Seq(
    """{"name":"English Premier League 2011/12","matches":[
      |{"round":"Matchday 1","date":"2011-08-13","time":"15:00","team1":"Arsenal FC","team2":"Liverpool FC","score":{"ht":[0,0],"ft":[1,2]}},
      |{"round":"Matchday 1","date":"2011-08-13","team1":"Chelsea FC","team2":"Liverpool FC","score":{"ft":[0,0]}},
      |{"round":"Matchday 2","date":"2011-08-20","team1":"Arsenal FC","team2":"Chelsea FC","score":{"ht":[2,0],"ft":[3,1]}},
      |{"round":"Matchday 2","date":"2011-08-21","time":"17:30","team1":"Liverpool FC","team2":"Arsenal","score":{"ft":[2,2]}},
      |{"round":"Matchday 3","date":"2011-08-27","team1":"Liverpool FC","team2":"Chelsea FC","score":{"ft":[1,0]}},
      |{"round":"Matchday 3","date":"2011-08-28","team1":"Chelsea FC","team2":"Arsenal FC"}]}""".stripMargin.replaceAll("\n", ""),
    """{"name":"Bundesliga 2015/16","rounds":[
      |{"name":"Spieltag 1","matches":[
      |{"date":"2015-08-14","team1":"Bayern Munich","team2":"Borussia Dortmund","score":{"ft":[2,0]}},
      |{"date":"2015-08-15","team1":"Schalke 04","team2":"Hamburger SV","score":{"ht":[0,1],"ft":[1,1]}}]}]}""".stripMargin.replaceAll("\n", ""),
  )

  private[graft] val sampleAliases: Seq[(String, String)] =
    Seq(("Arsenal", "Arsenal FC"), ("Man Utd", "Manchester United FC"))

  /** Q36: the full reference pipeline in one plan. The normalized
    * intermediate is written to [[normalizedExportPath]] and the
    * standings are computed from the READ-BACK bytes, so the Spark result
    * and the DuckDB oracle aggregate the identical materialized rows. */
  def pipeline(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val raw = Normalize.fromJsonStrings(spark, sampleRecords)
    val aliases = sampleAliases.toDF("alias", "canonical")
    val normalized = Normalize.standardizeTeams(
      Normalize.normalize(raw, sourceCommit = "fixedsha"), aliases)
    // staged publish: the fixed path is baked into the oracle SQL, so a
    // concurrent JVM's in-place overwrite would expose a torn dir for
    // the whole write; the swap window is two metadata ops instead
    graft.Scratch.publishStaged(normalizedExportPath)(stage =>
      normalized.write.mode("overwrite").parquet(stage))
    Standings.seasonResults(spark.read.parquet(normalizedExportPath))
      .orderBy(col("league"), col("season"), col("rank"))
  }

  /** DuckDB twin of Standings.perTeam + Standings.seasonResults over the
    * exported normalized table. Dtype discipline: wins/draws/losses and
    * the goal sums are CAST AS BIGINT (DuckDB SUM(int) widens to
    * HUGEINT), rank is CAST AS INTEGER (DuckDB ROW_NUMBER is BIGINT,
    * Spark row_number is int). */
  val pipelineSql: String =
    s"""WITH n AS (SELECT * FROM read_parquet('$normalizedExportPath/*.parquet')),
      |pt AS (
      |  SELECT league, season, team_home AS team, points_home AS points,
      |    ft_home AS goals_for, ft_away AS goals_against, winner, 'home' AS side FROM n
      |  UNION ALL
      |  SELECT league, season, team_away AS team, points_away AS points,
      |    ft_away AS goals_for, ft_home AS goals_against, winner, 'away' AS side FROM n),
      |agg AS (
      |  SELECT league, season, team,
      |    COUNT(winner) AS played,
      |    CAST(SUM(CASE WHEN (winner='home' AND side='home')
      |                     OR (winner='away' AND side='away') THEN 1 ELSE 0 END) AS BIGINT) AS wins,
      |    CAST(SUM(CASE WHEN winner='draw' THEN 1 ELSE 0 END) AS BIGINT) AS draws,
      |    CAST(SUM(CASE WHEN (winner='home' AND side='away')
      |                     OR (winner='away' AND side='home') THEN 1 ELSE 0 END) AS BIGINT) AS losses,
      |    CAST(COALESCE(SUM(goals_for), 0) AS BIGINT) AS goals_for,
      |    CAST(COALESCE(SUM(goals_against), 0) AS BIGINT) AS goals_against,
      |    CAST(COALESCE(SUM(points), 0) AS BIGINT) AS points
      |  FROM pt GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT *, goals_for - goals_against AS goal_diff,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY league, season
      |      ORDER BY points DESC, goals_for - goals_against DESC, goals_for DESC, team) AS INTEGER) AS rank
      |  FROM agg)
      |SELECT league, season, team, played, wins, draws, losses,
      |  goals_for, goals_against, points, goal_diff, rank,
      |  (rank = 1) AS is_champion
      |FROM ranked ORDER BY league, season, rank""".stripMargin

  def queries: Map[String, Relational.Q] = Map(
    "q36_soccer_pipeline" -> ((s: SparkSession, _: String) => pipeline(s)),
  )

  def oracles: Map[String, String] = Map(
    "q36_soccer_pipeline" -> pipelineSql,
  )
}
