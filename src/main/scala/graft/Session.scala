package graft

import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: every main and the test
  * base class build their session through [[local]], and every code path
  * that needs a different conf for a while goes through [[withConf]].
  * Nothing else in the engine calls `conf.set`/`conf.unset` or builds a
  * session (ContractSpec scans the sources for it). */
object Session {

  /** Executor threads for a local session: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A local session with graft's settings:
    *  - `local[cpus]` and `shuffle.partitions = cpus`;
    *  - UTC session time zone, UI off;
    *  - periodic GC every 45 s. Several operators `localCheckpoint`
    *    their decision frames, and ContextCleaner frees those blocks
    *    only after a JVM GC; the default interval (30 min) outlasts a
    *    full suite run, which then slows its own tail (NOTES.md);
    *  - the engine's SQL functions ([[GraftExtensions]]);
    *  - `parquet.nanosAsLong`, so an events file written with INT64
    *    TIMESTAMP(NANOS) reads as the raw long [[Tables.normalizeEvents]]
    *    expects (current files store `timestamp[us]`, which the flag
    *    does not touch);
    *  - log level WARN.
    * `extra` adds session confs one caller needs (GenCorpus's writer
    * timestamp type). */
  def local(cpus: Int = envCpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Serializes every conf scope in the JVM, so two scopes that overlap
    * on one session cannot interleave their restores (A saves 4, sets 8;
    * B saves 8; A restores 4; B restores 8 would leave the session at 8). */
  private val lock = new ReentrantLock()

  /** Run `body` with the session confs `kv` set, then restore each key
    * exactly: its previous value if it was set, unset if it was not —
    * also when `body` throws. The scope holds a JVM-wide lock, so keep it
    * to the code that reads the conf, and never let `body` wait on
    * another thread that itself opens a scope. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    lock.lock()
    try {
      val explicit = spark.conf.getAll
      val prev = kv.map { case (k, _) => k -> explicit.get(k) }
      try {
        kv.foreach { case (k, v) => spark.conf.set(k, v) }
        body
      } finally prev.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    } finally lock.unlock()
  }
}
