package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.soccer.{Ingest, Normalize, Standings}

/** One benchmark JVM. It builds the session and warms up; then
  * `--mode run` runs one cold pass and `--passes` steady passes, and
  * writes a JSON record of every execution to `--out` for
  * perfbench/run.py to turn into metrics. A traced run alternates
  * untraced and traced steady passes. `--mode digest` writes the
  * digest of each parquet output under `--dirs` (perfbench/pin.py).
  *
  * Arguments: --mode --workload --ops --data --ingest --seed --passes
  * --trace --cpus --out --dirs (see run.py and pin.py). */
object Harness {
  /** One operation of a workload; `run` returns its timed check string. */
  final case class Op(name: String, run: Step => Timed)
  final case class Timed(constructNs: Long, actionNs: Long, check: String)

  /** The two timed parts of one execution: building the result (for a
    * registered query, everything `SparkEntry.queries(name)` does before
    * it returns the frame) and the action that materializes it and
    * returns the check string. Each part is a child span of the
    * execution. */
  final class Step(val pass: Int, tracer: Tracer, parent: Int, op: String) {
    def apply(construct: => Unit)(action: => String): Timed = {
      val t0 = System.nanoTime()
      tracer("construct", op, pass, parent)(_ => construct)
      val t1 = System.nanoTime()
      val check = tracer("action", op, pass, parent)(_ => action)
      Timed(t1 - t0, System.nanoTime() - t1, check)
    }
  }
  final case class Exec(op: String, pass: Int, ok: Boolean, error: String,
      wallNs: Long, timed: Timed, span: Int, artifacts: Int)
  final case class Pass(index: Int, cold: Boolean, traced: Boolean, wallNs: Long,
      execs: Seq[Exec], heapLiveBytes: Long, blockPeakBytes: Long, gcPauseMs: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = a("cpus").toInt
    val gc = new GcWatch
    gc.install()
    val spark = session(cpus)
    warmUp(spark, a("data"))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val out = Paths.get(a("out"))
    try Files.writeString(out, a("mode") match {
      case "digest" => outputDigests(spark, Paths.get(a("dirs")))
      case _ => run(spark, gc, a, setupS, cpus)
    })
    finally spark.stop()
  }

  /** Heap in use after a full collection, forced between passes (outside
    * any timed window) so every pass starts from the same clean heap and
    * the reading is the live set, not whatever garbage the last young
    * collection left in the old generation. The first collection hands
    * unreachable checkpoints and broadcasts to Spark's ContextCleaner,
    * which frees their blocks asynchronously; the second, after a pause,
    * collects what the cleaner released. */
  private def liveHeap(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** graft.Bench's session settings, plus the benchmark's own scratch dir. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** graft.Bench's first warm-up: one scan/aggregate/noop-write pass. */
  def warmUp(spark: SparkSession, data: String): Unit =
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

  private def run(spark: SparkSession, gc: GcWatch, a: Map[String, String],
      setupS: Double, cpus: Int): String = {
    val sc = spark.sparkContext
    val traceRun = a("trace") == "1"
    val tracer = new Tracer(sc)
    val collector = new Collector
    val qel = new QeListener(collector)
    if (traceRun) {
      sc.addSparkListener(collector)
      spark.listenerManager.register(qel)
    }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val ops = a("workload") match {
      case "ingest" => new IngestOps(spark, a("ingest"), tmp).ops
      case _ => a("ops").split(',').toSeq.map(queryOp(spark, a("data"), _))
    }
    val artifacts = new ArtifactWatch(tmp)
    val rng = new scala.util.Random(a("seed").toLong)
    val passes = mutable.ArrayBuffer.empty[Pass]

    def pass(index: Int, order: Seq[Op], traced: Boolean): Pass = {
      tracer.enabled = traced
      collector.takeBlockPeak()
      val pause0 = gc.pauseTotalMs
      val t0 = System.nanoTime()
      val execs = order.map { op =>
        tracer("exec", op.name, index, -1) { span =>
          qel.current = span
          val e0 = System.nanoTime()
          val (ok, err, timed) =
            try { val t = op.run(new Step(index, tracer, span, op.name)); (true, "", t) }
            catch { case NonFatal(e) => (false, e.toString.take(300), Timed(0L, 0L, "")) }
          val wall = System.nanoTime() - e0
          if (traced) org.apache.spark.perfbench.BusDrain(sc)
          qel.current = -1
          Exec(op.name, index, ok, err, wall, timed, span, artifacts.newBuilds())
        }
      }
      val wall = System.nanoTime() - t0
      Pass(index, index == 0, traced, wall, execs, liveHeap(), collector.takeBlockPeak(),
        gc.pauseTotalMs - pause0)
    }

    def traceFor(i: Int) = traceRun && i % 2 == 1
    // The workload's operations run in a seeded order: the ingest steps
    // depend on each other and keep theirs.
    def order(): Seq[Op] = if (a("workload") == "ingest") ops else rng.shuffle(ops)
    liveHeap()
    val measured0 = System.nanoTime()
    passes += pass(0, order(), traceFor(0))
    for (i <- 1 to a("passes").toInt) passes += pass(i, order(), traceFor(i))

    def execJson(e: Exec): String = Json.obj(
      "op" -> Json.str(e.op), "pass" -> e.pass.toString, "ok" -> e.ok.toString,
      "error" -> Json.str(e.error), "wall_s" -> Json.num(e.wallNs / 1e9),
      "construct_s" -> Json.num(e.timed.constructNs / 1e9),
      "action_s" -> Json.num(e.timed.actionNs / 1e9),
      "check" -> Json.str(e.timed.check), "span" -> e.span.toString,
      "artifact_builds" -> e.artifacts.toString)
    def passJson(p: Pass): String = Json.obj(
      "index" -> p.index.toString, "cold" -> p.cold.toString, "traced" -> p.traced.toString,
      "wall_s" -> Json.num(p.wallNs / 1e9),
      "heap_live_mb" -> Json.num(p.heapLiveBytes / 1048576.0),
      "block_peak_mb" -> Json.num(p.blockPeakBytes / 1048576.0),
      "gc_pause_s" -> Json.num(p.gcPauseMs / 1e3),
      "execs" -> Json.arr(p.execs.map(execJson)))
    val spans = tracer.spans.map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "op" -> Json.str(s.op), "pass" -> s.pass.toString,
        "start_s" -> Json.num((s.startNs - measured0) / 1e9),
        "end_s" -> Json.num((s.endNs - measured0) / 1e9),
        "counters" -> collector.forSpan(s.id).map(_.json).getOrElse("{}"))
    }
    Json.obj(
      "setup_s" -> Json.num(setupS), "cpus" -> cpus.toString,
      "passes" -> Json.arr(passes.map(passJson)),
      "spans" -> Json.arr(spans),
      "probes" -> (if (traceRun) probes(spark, a("data")) else "{}"))
  }

  private def outputDigests(spark: SparkSession, dirs: Path): String = {
    val stream = Files.list(dirs)
    val outputs = try stream.iterator().asScala.filter(Files.isDirectory(_)).toList
    finally stream.close()
    Json.obj(outputs.sortBy(_.getFileName.toString).map { d =>
      d.getFileName.toString -> Json.str(Digest.of(spark.read.parquet(d.toString)))
    }: _*)
  }

  /** A registered query: construct the frame, then materialize every
    * column with graft.Bench's `noop` write, which also yields the
    * output digest. */
  private def queryOp(spark: SparkSession, data: String, name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, step => {
      var df: DataFrame = null
      step { df = fn(spark, data) } {
        val (observed, obs) = Digest.observe(df)
        observed.write.format("noop").mode("overwrite").save()
        Digest.read(obs)
      }
    })
  }

  /** graft.Bench's scan and compute calibration shapes, timed three times
    * each at the end of a traced run to show how fast the host ran. */
  private def probes(spark: SparkSession, data: String): String = {
    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val scan = (1 to 3).map(_ => time(spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("q"), count("*").as("n")))).sorted
    val compute = (1 to 3).map(_ => time(spark.read.parquet(s"$data/documents.parquet")
      .select(sum(length(regexp_replace(col("text"), "[aeiou]", ""))).as("x")))).sorted
    Json.obj("scan_s" -> Json.num(scan(1)), "compute_s" -> Json.num(compute(1)))
  }

}

/** Counts per-process artifact builds: `graft_*_<pid>_*` directories in
  * the scratch dir whose `_SUCCESS` marker appeared since the last call. */
final class ArtifactWatch(tmp: Path) {
  private val pid = ProcessHandle.current().pid()
  private val seen = mutable.Set.empty[String]
  def newBuilds(): Int = {
    val stream = Files.list(tmp)
    val fresh = try stream.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("graft_") && n.contains(s"_${pid}_") && !seen(n) &&
        Files.exists(p.resolve("_SUCCESS"))
    }.map(_.getFileName.toString).toList
    finally stream.close()
    seen ++= fresh
    fresh.size
  }
}

/** The reference pipeline as five dependent steps per pass: validate
  * (the corrupt and missing-required side outputs), ingest, stage with a
  * partitioned write, read the staged table back through the standings,
  * and re-load it idempotently. Each step's check string is compared
  * with the generator's ground truth. */
final class IngestOps(spark: SparkSession, corpus: String, tmp: Path) {
  import spark.implicits._

  private val aliases = Files.readAllLines(Paths.get(s"$corpus/aliases.tsv")).asScala.toSeq
    .map(_.split('\t')).map(f => (f(0), f(1))).toDF("alias", "canonical")
  private val repo = s"$corpus/repo"
  private val keys = Seq("league", "season", "round", "team_home", "team_away", "match_date")
  private var staged: DataFrame = _
  private def stageDir(pass: Int) = tmp.resolve(s"stage_$pass").toString

  private def md5Lines(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  val ops: Seq[Harness.Op] = Seq(
    Harness.Op("soccer.validate", step => {
      var raw: DataFrame = null
      step {
        raw = Normalize.readRaw(spark, repo + "/*/*.json").localCheckpoint(true)
      } {
        s"corrupt=${Normalize.corruptRecords(raw).count()};" +
          s"missing=${Normalize.missingRequired(raw).count()}"
      }
    }),
    // Ingest.run scans and checkpoints the JSON eagerly; its result stays
    // lazy until the write, so this step checks the normalized schema.
    Harness.Op("soccer.run", step => {
      step {
        staged = Normalize.standardizeTeams(Ingest.run(spark, repo, "perfbench"), aliases)
      } {
        staged.schema.fieldNames.mkString("columns=", ",", "")
      }
    }),
    Harness.Op("soccer.write", step => {
      val pass = step.pass
      graft.Scratch.deleteNow(stageDir(pass - 1))
      step(()) {
        Ingest.writePartitioned(staged, stageDir(pass))
        val walk = Files.walk(Paths.get(stageDir(pass)))
        val files = try walk.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally walk.close()
        s"partitions=${files.map(_.getParent).toSet.size};files=${files.size}"
      }
    }),
    Harness.Op("soccer.standings", step => {
      var table: DataFrame = null
      var back: DataFrame = null
      step {
        back = spark.read.parquet(stageDir(step.pass))
        table = Standings.withPreviousSeason(Standings.seasonResults(back))
      } {
        val teams = table.select("league", "season", "team", "played", "points", "rank",
          "prev_points").collect().map(r => (0 until r.length).map(r.get).mkString("T|", "|", ""))
        val matches = back.groupBy("league", "season").count().collect()
          .map(r => s"M|${r.get(0)}|${r.get(1)}|${r.get(2)}")
        md5Lines(teams.toSeq ++ matches)
      }
    }),
    Harness.Op("soccer.dedup", step => {
      var fresh: DataFrame = null
      step {
        fresh = Ingest.dedupAgainst(staged, spark.read.parquet(stageDir(step.pass)), keys)
      } {
        s"new=${fresh.count()}"
      }
    }),
  )
}
