package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-filter kernels for the q104 incremental-decontamination probe.
  *
  * Why not pure Column bit math over a `typedlit(Array[Long])`: a 512 KiB
  * array Literal gets embedded once PER PROBE (k=3 copies in the filter
  * condition), walked by every optimizer canonicalization/equality pass,
  * and re-serialized with every task binary — measured ~3.5s of pure
  * overhead per run at sf0.1 on a ~1s query. Here the bitset rides as a
  * codegen reference object (the [[BpeApply]] merge-table discipline):
  * serialized once, O(1) per probe, invisible to the optimizer.
  *
  * Both sides share ONE hash definition ([[BloomKernel]]) — the build
  * emits bit indices through [[BloomIndices]], the probe tests them
  * through [[BloomProbe]], so the two can never disagree on hashing.
  * Kirsch-Mitzenmacher double hashing: index_j = (h1 + j*h2) mod bits,
  * h1/h2 two fixed-seed xxhash64 runs over the value's UTF-8 bytes.
  */
object BloomKernel {
  private val Offset = Platform.BYTE_ARRAY_OFFSET
  /** Spark's xxhash64() default seed (house discipline) for h1; an
    * arbitrary odd constant distinguishes h2. */
  private val Seed1 = 42L
  private val Seed2 = 0x9E3779B97F4A7C15L

  def indices(t: UTF8String, bits: Long, k: Int): GenericArrayData =
    indices(t.getBytes, bits, k)

  /** BINARY-value overload (round-13): the gram-index family keys on
    * md5 RAW BYTES now, so the build/probe hash the 16-byte value
    * directly. Same double-hash definition; a string value hashes its
    * UTF-8 bytes through the overload above — the two entry points can
    * never disagree because both end here. */
  def indices(bytes: Array[Byte], bits: Long, k: Int): GenericArrayData = {
    val h1 = XXH64.hashUnsafeBytes(bytes, Offset, bytes.length, Seed1)
    val h2 = XXH64.hashUnsafeBytes(bytes, Offset, bytes.length, Seed2) | 1L
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      out(j) = java.lang.Math.floorMod(h1 + j.toLong * h2, bits)
      j += 1
    }
    new GenericArrayData(out)
  }

  def probe(t: UTF8String, words: Array[Long], bits: Long, k: Int): Boolean =
    probe(t.getBytes, words, bits, k)

  def probe(bytes: Array[Byte], words: Array[Long], bits: Long, k: Int): Boolean = {
    val h1 = XXH64.hashUnsafeBytes(bytes, Offset, bytes.length, Seed1)
    val h2 = XXH64.hashUnsafeBytes(bytes, Offset, bytes.length, Seed2) | 1L
    var j = 0
    while (j < k) {
      val idx = java.lang.Math.floorMod(h1 + j.toLong * h2, bits)
      if ((words((idx >>> 6).toInt) & (1L << (idx & 63L).toInt)) == 0L) return false
      j += 1
    }
    true
  }
}

/** The k bloom bit indices of a string or binary value — the BUILD
  * side. */
case class BloomIndices(child: Expression, bits: Long, k: Int)
    extends UnaryExpression {
  require(bits > 0 && (bits & 63L) == 0L, s"bits must be a positive multiple of 64, got $bits")
  require(k >= 1, s"k must be >= 1, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName requires string or binary input, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bloom_indices"

  override def nullSafeEval(s: Any): Any = s match {
    case u: UTF8String => BloomKernel.indices(u, bits, k)
    case b: Array[Byte] => BloomKernel.indices(b, bits, k)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.BloomKernel.indices($t, ${bits}L, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Membership test against a driver-built bitset — the PROBE side. The
  * bitset is a reference object (serialized once per task binary), not
  * a plan literal. */
case class BloomProbe(child: Expression, words: Array[Long], bits: Long, k: Int)
    extends UnaryExpression {
  require(words.length.toLong * 64L == bits,
    s"words.length ${words.length} inconsistent with bits $bits")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName requires string or binary input, got $other")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  override def nullSafeEval(s: Any): Any = s match {
    case u: UTF8String => BloomKernel.probe(u, words, bits, k)
    case b: Array[Byte] => BloomKernel.probe(b, words, bits, k)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.BloomKernel.probe($t, $ref, ${bits}L, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomFunctions {
  def bloomIndices(v: Column, bits: Long, k: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      BloomIndices(org.apache.spark.sql.GraftSqlShim.expression(v), bits, k))

  def bloomProbe(v: Column, words: Array[Long], bits: Long, k: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      BloomProbe(org.apache.spark.sql.GraftSqlShim.expression(v), words, bits, k))
}
