package graft.soccer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions.naturalSortKey

/** The ingest workflow port (reference .github/workflows/main.yml):
  * league-map build (pass 1, main.yml:56-97), validate/reorganize with
  * latest-version pick (pass 2, main.yml:110-153), plus the dedup and
  * partitioned-write semantics the spec demands (README.md:86-87,114).
  */
object Ingest {

  /** League code from a file path: leading letters of the basename
    * (D1, main.yml:57,119). */
  def leagueCode(pathCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(element_at(split(pathCol, "/"), -1), "^[a-zA-Z]+", 0)

  /** Season year from a directory name: leading 4 digits, else the raw
    * name (D4, main.yml:111-115 — note the empty-string-vs-null trap). */
  def seasonYear(dirCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(nullif(regexp_extract(dirCol, "^([0-9]{4})", 1), lit("")), dirCol)

  /** Pass 1: build the league code -> display-name map from raw records
    * (first file wins per code, main.yml:60-63). `first()` is
    * non-deterministic under parallelism, so the engine pins file order
    * with min_by over the source path (SURVEY §7 risk 4); display name =
    * record name stripped of season suffix (D2) and trimmed (D3). */
  def buildLeagueMap(raw: DataFrame): DataFrame =
    raw.filter(col("name").isNotNull)
      .withColumn("code", leagueCode(col("source_file")))
      .withColumn("league", Normalize.stripSeasonSuffix(col("name")))
      .filter(col("code") =!= "")
      .groupBy(col("code"))
      .agg(min_by(col("league"), col("source_file")).as("league"))

  /** Pass 2 latest-version pick (A7/T1, main.yml:136-141): among files
    * sharing (season dir, league prefix), keep the `sort -V` max —
    * natural numeric-aware order, so en.10.json > en.2.json. */
  def latestVersionPerKey(files: DataFrame, keyCols: Seq[String], nameCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(naturalSortKey(col(nameCol)).desc)
    files.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Idempotent load dedup (J3/A6, README.md:114): drop rows whose
    * lineage key already exists in the target (left anti), then drop
    * in-batch duplicates. */
  def dedupAgainst(newRows: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    newRows
      .join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .dropDuplicates(keys)

  /** Partitioned + clustered write (S5/S7, README.md:86-87): partition by
    * league/season (the staging layout), cluster within files by the
    * reference's clustering keys so parquet row-group stats give the same
    * data skipping BigQuery clustering does. */
  def writePartitioned(normalized: DataFrame, root: String): Unit =
    normalized
      .repartition(col("league"), col("season"))
      .sortWithinPartitions(col("league"), col("team_home"), col("team_away"))
      .write.mode("overwrite")
      .partitionBy("league", "season")
      .parquet(root)

  /** Emit the league map as JSON config lines (D10, main.yml:80-97):
    * `to_json` handles quote/backslash escaping natively — the part the
    * workflow does by hand at main.yml:87. One `{"code":..,"league":..}`
    * object per row; collect-side assembly into a single config file is
    * a driver concern (48 rows). */
  def leagueConfigJson(leagueMap: DataFrame): DataFrame =
    leagueMap.select(to_json(struct(col("code"), col("league"))).as("json"))

  /** The full ingest job (SURVEY §3.1): both workflow passes composed
    * over `repoRoot/<seasonDir>/<file>.json`.
    *
    *   pass 1  league map: prefix regex -> first-wins display name
    *   pass 2  validate (corrupt / missing-required side-outputs),
    *           latest-version-per-(season,prefix) via sort -V window,
    *           known-league whitelist + display name, normalize, stage
    *
    * Control flow the workflow does per-file becomes set operations, and
    * each is paid once per run: one file listing on the driver
    * ([[Normalize.readRaw]]), one JSON parse into a checkpoint that feeds
    * both passes, one window shuffle, one broadcast of the league map —
    * an inner join that is the whitelist (P8: unknown codes yield no
    * rows) and the name lookup at once, since the map has one row per
    * code. The result comes back materialized (an eager checkpoint too),
    * so the staging write ([[writePartitioned]]) and the idempotent
    * re-load ([[dedupAgainst]]) read its rows instead of re-running the
    * plan. */
  def run(spark: SparkSession, repoRoot: String, sourceCommit: String): DataFrame = {
    // localCheckpoint, not .cache(): repeated run() calls in a long
    // session would each pin one cache entry forever, while checkpoint
    // blocks free via the ContextCleaner once the frame is unreachable
    // (the runToTable discipline). Both checkpoints are row-scale per
    // run, bounded by the upstream corpus (SCALE.md); the result's cuts
    // the lineage, so the raw blocks become unreachable once run returns.
    val raw = Normalize.readRaw(spark, repoRoot + "/*/*.json").localCheckpoint(true)
    val leagueMap = buildLeagueMap(raw)
    // valid = parseable rows passing the SAME required-fields rule the
    // warn side-output uses (shared predicate — the two can't diverge)
    val valid = raw
      .filter(col("_corrupt_record").isNull && !Normalize.missingRequiredCond)
      .withColumn("code", leagueCode(col("source_file")))
      .withColumn("season_dir",
        element_at(split(col("source_file"), "/"), -2))
    val latest = latestVersionPerKey(valid, Seq("season_dir", "code"), "source_file")
    Normalize.normalize(latest, sourceCommit)
      .withColumn("code", leagueCode(col("source_file")))
      // season fallback chain ends at the directory-derived year
      // (main.yml:111-115): record field > name suffix > season dir
      .withColumn("season",
        coalesce(col("season"),
          seasonYear(element_at(split(col("source_file"), "/"), -2))))
      .join(broadcast(leagueMap.withColumnRenamed("league", "league_name")),
        Seq("code"), "inner")
      .withColumn("league", col("league_name"))
      .drop("league_name", "code")
      .localCheckpoint(true)
  }

  /** Run-level observability (A5, README.md:112): row/error counters of
    * a raw read ([[Normalize.readRaw]]) attached via observe() — `obs.get`
    * returns them after the first action on the returned frame. The
    * missing-required counter uses the warn side-output's own rule
    * ([[Normalize.missingRequired]]), so the two cannot disagree. */
  def withMetrics(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs,
      count(lit(1)).as("n_rows"),
      count(col("_corrupt_record")).as("n_corrupt"),
      count(when(col("_corrupt_record").isNull && Normalize.missingRequiredCond, 1))
        .as("n_missing_required"))
}
