package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Column helpers that keep Spark results bit-identical to the DuckDB
  * oracle (SURVEY.md §7 risk 1).
  *
  * Double-typed money columns are cast to DECIMAL(18,2) *before* any
  * arithmetic/aggregation so sums are exact and order-independent
  * (float summation order would otherwise differ between engines AND
  * between runs at different parallelism). Final aggregates are rounded
  * at a fixed decimal scale, then cast to DOUBLE for output: the
  * driver's hash compare stringifies DECIMAL columns differently on the
  * Spark-parquet and DuckDB-oracle read paths (round-1 lesson: every
  * decimal-typed output hash-mismatched at the driver while matching
  * cell-by-cell locally), whereas a DOUBLE written by Spark and a DOUBLE
  * returned by DuckDB are the same IEEE-754 bits. The decimal→double
  * conversion is correctly rounded in both engines while the unscaled
  * value stays below 2^53 (true for every aggregate here), so the two
  * sides produce identical doubles deterministically.
  */
object Parity {
  // Oracle-side discipline (verified against DuckDB 1.0.0):
  //  * any DuckDB cast that REDUCES decimal scale truncates, while Spark's
  //    cast rounds HALF_UP -> the oracle must ROUND(expr, s) before the
  //    CAST (DuckDB ROUND = half away from zero = HALF_UP for all signs).
  //  * DuckDB SUM(integer) returns HUGEINT and RANK()/EXTRACT return
  //    BIGINT -> derived integer columns are cast to BIGINT on both sides.
  //  * decimal multiplication chains must stay within precision 38 on the
  //    Spark side (cast intermediates down) or Spark rounds on overflow.
  //  * numeric outputs are DOUBLE, never DECIMAL (see class doc); the
  //    oracle mirrors dec2/dec6 with CAST(<decimal expr> AS DOUBLE).
  //  * ABOVE 2^53 (unscaled), DuckDB 1.0.0's direct HUGEINT→DOUBLE and
  //    DECIMAL→DOUBLE casts are NOT correctly rounded (round-10 q286
  //    depth-sweep finding: a Σy² witness converted 1 ulp low at
  //    sf0.1), while VARCHAR→DOUBLE (strtod) is and matches Spark's
  //    Decimal.toDouble bit-for-bit. Any oracle converting an exact
  //    integer witness that can exceed 2^53 must route it
  //    CAST(CAST(x AS VARCHAR) AS DOUBLE); the dec2/dec6 mirrors are
  //    exempt only while their unscaled values stay below 2^53 — the
  //    domain the class doc already pins.
  //  * The <2^53 domain claims are no longer prose-only (round-11
  //    linear-class ULP audit, VERDICT r10 task 4): `tools/ulp_audit.py`
  //    rewrites EVERY remaining direct CAST(... AS DOUBLE) site in every
  //    oracle to the VARCHAR route (value-identical below 2^53, correctly
  //    rounded above) and bit-compares the two query results in DuckDB.
  //    Any divergence isolates a conversion that crossed 2^53 at the
  //    audited SF — the exact failure mode, measured, no per-site domain
  //    argument needed. r11 result: 287 oracles / 602 unrouted sites,
  //    bit-identical at BOTH sf0.01 and sf0.1 (the SF where q286's
  //    product-class witness originally diverged). Ratio-class witnesses
  //    (means, confidences, correlations) are additionally SF-invariant,
  //    so the gate-SF result extends to any corpus; linear/product-class
  //    sites are re-proven by re-running the audit whenever the gate SF
  //    grows. Run it after any oracle change: it would have caught q286.

  /** Exact money value for INTERNAL arithmetic: double -> DECIMAL(18,2).
    * Oracle mirror: CAST(x AS DECIMAL(18,2)). Not for output columns —
    * wrap outputs in [[dec2]]. */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Final aggregate output: exact HALF_UP round to scale 2, emitted as
    * DOUBLE. Oracle mirror: CAST(<DECIMAL(38,2) expr> AS DOUBLE). */
  def dec2(c: Column): Column = c.cast(DecimalType(38, 2)).cast(DoubleType)

  /** Final ratio/average output: exact HALF_UP round to scale 6, emitted
    * as DOUBLE. Oracle mirror: CAST(<DECIMAL(38,6) expr> AS DOUBLE). */
  def dec6(c: Column): Column = c.cast(DecimalType(38, 6)).cast(DoubleType)
}
