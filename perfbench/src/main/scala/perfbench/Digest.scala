package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-order-insensitive digest of a query output.
  *
  * Canonical form as in tools/determinism.py: columns in name order, rows
  * as a multiset. Each row hashes to a 64-bit xxhash and a 32-bit murmur3
  * hash; the digest is the row count plus the sums of those hashes, so it
  * does not depend on row order or partitioning, and a repeated row
  * counts twice. Integral and float columns widen to long and double,
  * so an output and its parquet copy (which may narrow or widen them)
  * digest alike. The sums are split into 32-bit halves so they cannot
  * overflow under ANSI arithmetic.
  *
  * The digest rides on the query's own final action through `observe`,
  * so checking an execution does not run it twice. */
object Digest {
  private def canonical(c: Column, t: DataType): Column = t match {
    case ByteType | ShortType | IntegerType => c.cast(LongType)
    case FloatType => c.cast(DoubleType)
    case _ => c
  }

  private def rowHashes(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => canonical(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    (xxhash64(cols.toSeq: _*), hash(cols.toSeq: _*))
  }

  private def aggregates(df: DataFrame): Seq[Column] = {
    val (h64, h32) = rowHashes(df)
    Seq(
      count(lit(1)).as("n"),
      sum(shiftrightunsigned(h64, 32)).as("hi"),
      sum(h64.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(h32.cast(LongType).bitwiseAND(lit(0xffffffffL))).as("m32"))
  }

  private def format(n: Any, hi: Any, lo: Any, m32: Any): String = {
    def v(x: Any): Long = if (x == null) 0L else x.asInstanceOf[Number].longValue
    s"${v(n)}:${v(hi)}:${v(lo)}:${v(m32)}"
  }

  /** `df` with the digest attached; read it from the observation after an
    * action on the returned frame has succeeded. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation("perfbench_digest")
    val aggs = aggregates(df)
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  def read(obs: Observation): String = {
    val m = obs.get
    format(m("n"), m("hi"), m("lo"), m("m32"))
  }

  /** The same digest computed by a plain aggregation (no observation). */
  def of(df: DataFrame): String = {
    val r = df.agg(aggregates(df).head, aggregates(df).tail: _*).head()
    format(r.get(0), r.get(1), r.get(2), r.get(3))
  }
}
