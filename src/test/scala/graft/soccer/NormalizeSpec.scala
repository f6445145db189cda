package graft.soccer

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSuite

class NormalizeSpec extends SparkSuite {
  import spark.implicits._

  lazy val raw = Normalize.readRaw(spark, fixturePath("2011-12") + "/*.json")

  test("corrupt JSON is captured, not dropped (P6)") {
    val corrupt = Normalize.corruptRecords(raw)
    assert(corrupt.count() === 1)
    assert(corrupt.head().getAs[String]("source_file").endsWith("bad.json"))
  }

  test("corruptRecords filters a checkpointed raw as it is: no checkpoint job, same rows") {
    val checkpointed = raw.localCheckpoint(true)
    var corrupt: DataFrame = null
    assert(jobsStarted { corrupt = Normalize.corruptRecords(checkpointed) } === 0)
    assert(corrupt.collect().toSet === Normalize.corruptRecords(raw).collect().toSet)
  }

  test("missing required fields are detected (P7)") {
    val missing = Normalize.missingRequired(raw)
    assert(missing.count() === 1)
    assert(missing.head().getAs[String]("source_file").endsWith("noreq.json"))
  }

  test("dual-layout flatten yields one row per match (P1)") {
    val n = Normalize.normalize(raw, "sha1")
    assert(n.count() === 8) // 6 layout-B + 2 layout-A
    assert(n.filter($"league" === "Bundesliga").count() === 2)
  }

  test("layout A round label comes from the round name") {
    val n = Normalize.normalize(raw, "sha1")
    val de = n.filter($"league" === "Bundesliga")
    assert(de.select("round").distinct().as[String].collect() === Array("Spieltag 1"))
    assert(de.select("season").distinct().as[String].collect() === Array("2015/16"))
  }

  test("dirt: short score arrays, bad date, null team propagate as nulls (P3)") {
    val dirty = Seq(
      """{"name":"Dirt League 2020","matches":[
        |{"round":"R1","team1":"A","team2":"B","score":{"ft":[1]}},
        |{"round":"R1","date":"13/08/2020","team1":"C","team2":null},
        |{"round":"R1","date":"2020-01-01","team1":"D","team2":"E","score":{"ht":[0,0]}}
        |]}""".stripMargin.replaceAll("\n", ""))
    val n = Normalize.normalize(Normalize.fromJsonStrings(spark, dirty), "sha")
    val a = n.filter($"team_home" === "A").head()
    assert(a.getAs[Long]("ft_home") === 1L)      // present element
    assert(a.isNullAt(a.fieldIndex("ft_away")))  // short array -> null, no ANSI error
    assert(a.isNullAt(a.fieldIndex("winner")))
    val c = n.filter($"team_home" === "C").head()
    assert(c.isNullAt(c.fieldIndex("match_date"))) // unparseable date -> null
    assert(c.isNullAt(c.fieldIndex("team_away")))
    val d = n.filter($"team_home" === "D").head()
    assert(d.getAs[Long]("ht_home") === 0L)
    assert(d.isNullAt(d.fieldIndex("ft_home")))    // ht-only match
  }

  test("dirt: 3-element scores, duplicate round names, both layouts in one file") {
    val dirty = Seq(
      // length-3 ft array: elements 1-2 used, the extra ignored
      """{"name":"X League 2020","matches":[
        |{"round":"R1","team1":"A","team2":"B","score":{"ft":[2,1,9]}}]}""",
      // duplicate round names in layout A: every match kept
      """{"name":"Y League 2020","rounds":[
        |{"name":"R1","matches":[{"team1":"C","team2":"D","score":{"ft":[0,0]}}]},
        |{"name":"R1","matches":[{"team1":"E","team2":"F","score":{"ft":[1,0]}}]}]}""",
      // both matches[] and rounds[] present: flat layout wins, no double count
      """{"name":"Z League 2020","matches":[
        |{"round":"R1","team1":"G","team2":"H","score":{"ft":[1,1]}}],
        |"rounds":[{"name":"R1","matches":[{"team1":"G","team2":"H","score":{"ft":[1,1]}}]}]}""",
    ).map(_.stripMargin.replaceAll("\n", ""))
    val n = Normalize.normalize(Normalize.fromJsonStrings(spark, dirty), "sha")
    val a = n.filter($"team_home" === "A").head()
    assert(a.getAs[Long]("ft_home") === 2L)
    assert(a.getAs[Long]("ft_away") === 1L)
    assert(a.getAs[String]("winner") === "home")
    assert(n.filter($"league" === "Y League").count() === 2)
    assert(n.filter($"league" === "Y League").select("round")
      .distinct().as[String].collect() === Array("R1"))
    assert(n.filter($"league" === "Z League").count() === 1)
  }

  test("normalized golden row (P2-P4, D5)") {
    val n = Normalize.normalize(raw, "shaX")
    val r = n.filter($"team_home" === "Arsenal FC" && $"round" === "Matchday 1").head()
    assert(r.getAs[String]("league") === "English Premier League")
    assert(r.getAs[String]("season") === "2011/12")
    assert(r.getAs[java.sql.Date]("match_date").toString === "2011-08-13")
    assert(r.getAs[String]("match_time") === "15:00")
    assert(r.getAs[Long]("ht_home") === 0L)
    assert(r.getAs[Long]("ft_away") === 2L)
    assert(r.getAs[String]("winner") === "away")
    assert(r.getAs[Long]("points_home") === 0L)
    assert(r.getAs[Long]("points_away") === 3L)
    assert(r.getAs[String]("schema_version") === "v1")
    assert(r.getAs[String]("source_commit") === "shaX")
  }

  test("unplayed match: null scores, winner, points (README.md:61-62)") {
    val n = Normalize.normalize(raw, "sha1")
    val unplayed = n.filter($"team_home" === "Chelsea FC" && $"team_away" === "Arsenal FC")
    val r = unplayed.head()
    assert(r.isNullAt(r.fieldIndex("ft_home")))
    assert(r.isNullAt(r.fieldIndex("winner")))
    assert(r.isNullAt(r.fieldIndex("points_home")))
  }

  test("ht-only-missing match keeps ft values (P3 null-safe access)") {
    val n = Normalize.normalize(raw, "sha1")
    val r = n.filter($"team_home" === "Chelsea FC" && $"team_away" === "Liverpool FC").head()
    assert(r.isNullAt(r.fieldIndex("ht_home")))
    assert(r.getAs[Long]("ft_home") === 0L)
    assert(r.getAs[String]("winner") === "draw")
  }

  test("alias standardization coalesces to raw for unknown names (J2)") {
    val n = Normalize.normalize(raw, "sha1")
    val aliases = Seq(("Arsenal", "Arsenal FC")).toDF("alias", "canonical")
    val std = Normalize.standardizeTeams(n, aliases)
    assert(std.filter($"team_away" === "Arsenal").count() === 0)
    assert(std.filter($"team_away" === "Arsenal FC").count() === 2)
    // unknown names untouched
    assert(std.filter($"team_home" === "Bayern Munich").count() === 1)
  }

  test("winner/points algebraic consistency (D6/D7 property)") {
    val scores = for (h <- 0L to 5L; a <- 0L to 5L) yield (h, a)
    val df = scores.toDF("ft_home", "ft_away")
      .withColumn("winner", Normalize.winnerCol($"ft_home", $"ft_away"))
      .withColumn("ph", Normalize.pointsCol($"ft_home", $"ft_away"))
      .withColumn("pa", Normalize.pointsCol($"ft_away", $"ft_home"))
    df.collect().foreach { case Row(h: Long, a: Long, w: String, ph: Long, pa: Long) =>
      assert((w == "home") == (ph == 3L && pa == 0L), s"$h-$a")
      assert((w == "away") == (ph == 0L && pa == 3L), s"$h-$a")
      assert((w == "draw") == (ph == 1L && pa == 1L), s"$h-$a")
      assert(ph + pa == (if (w == "draw") 2L else 3L))
    }
  }

  test("ingest metrics observe the error counts (A5)") {
    val obs = new org.apache.spark.sql.Observation("m")
    Ingest.withMetrics(raw, obs).collect()
    // 4 records: bad.json (corrupt), noreq.json (missing required),
    // de.1.json and en.1.json; empty.json holds none
    assert(obs.get === Map("n_rows" -> 4L, "n_corrupt" -> 1L, "n_missing_required" -> 1L))
  }
}
