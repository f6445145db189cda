package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling-fingerprint kernel for q46: min over the xxhash64 of
  * every `k`-char gram of the text.
  *
  * Why not the HOF formulation (`transform(sequence(...), i ->
  * xxhash64(substr(text, i, k)))` + explode + min): higher-order
  * functions evaluate interpreted — one lambda dispatch per gram, ~1000
  * per document — and the explode shape then shuffles a row per gram
  * into the per-doc min aggregate. This expression computes the same
  * min in one compiled loop per row inside whole-stage codegen (same
  * rationale as [[DotProduct]]), and the explode/agg pass disappears
  * from the plan entirely.
  *
  * Semantics are bit-identical to the HOF form (pinned in
  * StorageSpec): 1-based char windows, `max(numChars - k + 1, 1)`
  * windows (so texts shorter than `k` hash their whole content once),
  * Spark's xxhash64 seed 42 over the gram's UTF-8 bytes.
  */
case class RollingMinHash(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"gram size must be >= 1, got $k")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_minhash"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.minGram(s.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.minGram($t, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native rolling MD5 fingerprint kernel for q200 (round-12): the
  * minimum md5 hex digest over every `k`-char gram of the text, in one
  * compiled loop per row. Bit-identical to the HOF formulation
  * `array_min(transform(sequence(1, length(text) - k + 1), i ->
  * md5(substr(text, i, k))))` for texts of >= k chars (pinned in
  * TextAnalysisSpec): grams are char-windows hashed over their UTF-8
  * byte spans in place, and digests compare as unsigned byte arrays —
  * the hex encoding is byte-monotone, so the minimum digest IS the
  * lexicographically-minimum hex string. Texts shorter than `k` hash
  * their whole content once ([[RollingMinHash]]'s convention; q200
  * filters them out before the kernel).
  *
  * Why: the HOF form dispatches an interpreted lambda per gram and
  * allocates a 32-char hex string per gram (~200 per document, ~1M per
  * pass at sf0.1) just to keep the minimum; here one reused
  * MessageDigest hashes each byte span and only the winning digest is
  * hex-encoded. */
case class RollingMd5Min(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"gram size must be >= 1, got $k")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_rolling_md5_min"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.minMd5Gram(s.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.minMd5Gram($t, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A text's winnowing postings (q265's index build) in one compiled
  * pass: array<struct<sh: string, n_pos: long>>, one entry per distinct
  * selected md5 hex digest with the number of selected positions that
  * carry it, sorted by `sh`. Selection is the Schleimer et al. rule over
  * the text's `k`-char grams (each hashed over its UTF-8 byte span in
  * place, as [[RollingMd5Min]] does): in every full window of `w`
  * consecutive grams, the minimum digest, the rightmost on ties; a
  * position selected by several windows counts once. Equal, per text, to
  * the windowed `min_by` formulation over the `transform(sequence(...),
  * p -> md5(substr(text, p, k)))` grams followed by a distinct and a
  * per-hash count (pinned in TextAnalysisSpec, incl. multi-byte UTF-8).
  *
  * Why: that formulation needs a doc-scale exchange, a sort, a window,
  * a distinct and an aggregate, and carries a struct with a 32-char hex
  * string per gram between them. Here a text holds 16 bytes per gram
  * (raw digests in one buffer) and only the distinct selected digests
  * are hex-encoded. Empty array when the text has no full window
  * (fewer than k + w - 1 chars); NULL for NULL input. */
case class WinnowPostings(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && w >= 1, s"k=$k and w=$w must both be >= 1")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sh", StringType, nullable = false),
    StructField("n_pos", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_winnow_postings"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.winnowPostings(s.asInstanceOf[UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.winnowPostings($t, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Vocabulary table for [[BigramUnkPairs]]: a hash set of the in-vocab
  * symbols plus the fold target — a plain serializable holder so
  * generated code can reference it via `addReferenceObj` (the
  * [[BpeMergeTable]] pattern). */
final class UnkVocab(words: Array[String], unkWord: String) extends Serializable {
  val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  val unk: UTF8String = UTF8String.fromString(unkWord)
  def fold(t: UTF8String): UTF8String =
    if (t != null && set.contains(t)) t else unk
}

/** Adjacent-token bigram emission with `<unk>` vocabulary folding in
  * ONE compiled pass (round-13, VERDICT r12 task 6 — q183's hot path):
  * for a token array t, the n-1 structs (w1 = fold(t[i]),
  * w2 = fold(t[i+1])), where fold keeps in-vocab tokens and maps
  * everything else (including NULL, matching `when(c.isInCollection(v),
  * c).otherwise('<unk>')` under a NULL condition) to the fold target.
  * Identical output (same pairs, same order — pinned in
  * TextAnalysisSpec) to the interpreted form
  * `explode(zip_with(slice(t, 1, n-1), slice(t, 2, n-1),
  * (a, b) -> struct(fold(a), fold(b))))`, which paid two slice array
  * copies per document plus an interpreted lambda and TWO 64-entry
  * set-membership expressions per pair; here each token is folded
  * exactly once through one hash set. Empty array below 2 elements;
  * NULL for NULL input. */
case class BigramUnkPairs(child: Expression, vocab: Seq[String], unkWord: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_bigram_unk_pairs"

  @transient private lazy val table = new UnkVocab(vocab.toArray, unkWord)

  override def nullSafeEval(a: Any): Any =
    RollingHashKernel.bigramUnkPairs(a.asInstanceOf[ArrayData], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unkVocab", table,
      classOf[UnkVocab].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.bigramUnkPairs($t, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash-LSH banding in ONE compiled pass per document (q31's hot
  * path): tokenize on single spaces, hash each `w`-token shingle's byte
  * span in place (a shingle joined by single spaces IS a contiguous
  * span of the original text, so nothing is materialized), derive the
  * `perms` min-signature with one cheap per-permutation mix of the
  * 64-bit base hash, and chain each band's signature slots into its
  * band hash. Returns `array<struct<band:int, band_hash:long>>`, or
  * NULL when the text has fewer than `w` tokens (such docs are
  * invisible to MinHash BY DESIGN — q29 covers them).
  *
  * vs the explode → 32-column hash-agg shape this replaces: that paid
  * an interpreted shingle-construction lambda per gram plus 32 full
  * string re-hashes per shingle inside the aggregate, and shuffled a
  * row per (doc, partition). Here the string is hashed once per shingle
  * (same xxhash64-seed-42 value the verification sets use) and each
  * permutation is an `XXH64.hashLong(base, p)` mix — the standard
  * universal-hashing minwise family, so collision statistics are
  * unchanged (DedupSpec re-proves precision 1.0, exact-dup recall 1.0,
  * near-dup recall >= 0.8 against brute force). */
case class LshBands(child: Expression, w: Int, perms: Int, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(w >= 1 && perms >= 1 && bands >= 1,
    s"w=$w, perms=$perms, bands=$bands must all be >= 1")
  require(perms % bands == 0, s"bands=$bands must divide perms=$perms")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = false))), containsNull = false)
  // returns null for NON-NULL inputs with < w tokens — must not inherit
  // child.nullable or downstream codegen would skip the null check
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lsh_bands"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.lshBands(s.asInstanceOf[UTF8String], w, perms, bands)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${childGen.isNull}) {
        ${ev.value} = graft.functions.RollingHashKernel.lshBands(
          ${childGen.value}, $w, $perms, $bands);
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The distinct xxhash64 values of a document's `w`-token shingles —
  * the verification-side payload for LSH candidates (Jaccard over
  * distinct 64-bit shingle hashes). Values are identical to
  * `array_distinct(transform(wordShingles(text, w), s => xxhash64(s)))`
  * (order is not: sorted here; set operations don't care), computed in
  * one compiled pass with zero per-shingle allocations. Empty array
  * when fewer than `w` tokens. */
case class ShingleHashSet(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.shingleHashSet(s.asInstanceOf[UTF8String], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.shingleHashSet($t, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash signature in one compiled pass per document (q32's hot
  * path): distinct single-space tokens, xxhash64 each token's byte span
  * in place, per-bit majority vote over the distinct-token hashes.
  * Signature semantics match the explode → 32-bit-count hash-agg
  * formulation exactly (distinct-by-string ≡ distinct-by-hash up to
  * 64-bit collision; pinned in DedupSpec). Returns NULL for null input
  * only — an empty text votes over the single empty token, as
  * `array_distinct(split(text, " "))` does. */
case class SimHashSig(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.simHash(s.asInstanceOf[UTF8String], bits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.simHash($t, $bits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All ordered index pairs (i < j) of a string array as
  * array<struct<a, b>> in one compiled pass — the combinatorial pair
  * expansion behind the co-occurrence family (q130/q226). Identical
  * output (same pairs, same order) to the interpreted nested-HOF form
  * `flatten(transform(ts, (x, i) -> transform(slice(ts, i + 2,
  * size(ts)), y -> struct(x, y))))` — pinned in TextAnalysisSpec —
  * which dispatches two lambda levels and allocates a slice array per
  * element (~C(|ts|, 2) interpreted ops per row, the round-12 q226
  * finding: 1.5M struct allocations per pass at sf0.1). NULL for NULL
  * input, empty for arrays below 2 elements, exactly like the HOF. */
case class ArrayOrderedPairs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType), StructField("b", StringType))),
    containsNull = false)
  override def prettyName: String = "graft_ordered_pairs"

  override def nullSafeEval(a: Any): Any =
    RollingHashKernel.orderedPairs(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.orderedPairs($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static kernel shared by interpreted eval and generated code.
  * Hashes each gram's byte slice IN PLACE (no per-gram UTF8String
  * allocation): one pass records the byte offset of every char, then
  * each window hashes `[charOff(i), charOff(i+k))` directly — the same
  * bytes `substr(text, i+1, k)` would copy, so the hash is identical
  * to `xxhash64(substr(...))` (pinned in StorageSpec, incl. the SQL
  * surface). */
/** The w-token shingle STRINGS of a document in one compiled pass —
  * the materialized-gram twin of [[ShingleHashSet]] for consumers that
  * need engine-portable gram identities (q71 joins md5(gram) against
  * an eval set, so the gram text itself must exist). Each shingle is a
  * byte-span slice of the source (tokens joined by the single spaces
  * that already separate them), so values are bit-identical to
  * `transform(sequence(...), i -> concat_ws(" ", slice(tokens, i, w)))`
  * — pinned in CurationSpec — without the interpreted per-gram lambda
  * and the two array allocations per shingle. Empty array when fewer
  * than `w` tokens (explode then drops the doc, matching the HOF
  * form); NULL only for NULL input. */
case class WordShingleStrings(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.shingleStrings(s.asInstanceOf[UTF8String], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RollingHashKernel.shingleStrings($t, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document top-shingle statistics in one compiled pass (q73's hot
  * path): struct(top_c = multiplicity of the most frequent w-token
  * shingle, total = shingle count), or NULL when the text has fewer
  * than `w` tokens (mirroring the explode formulation, which drops such
  * docs). Shingles are counted BY 64-BIT HASH of their byte span —
  * equal to counting by string up to xxhash64 collision, the same
  * contract as [[SimHashSig]]'s distinct-by-hash (pinned against the
  * explode/groupBy formulation in CurationSpec). Replaces an
  * interpreted per-gram lambda plus two shuffles (per-(doc,gram) and
  * per-doc aggregates) with a sort + run-length scan per row. */
case class TopShingleStats(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("top_c", LongType, nullable = false),
    StructField("total", LongType, nullable = false)))
  // returns null for NON-NULL inputs with < w tokens — must not inherit
  // child.nullable (same contract as LshBands)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_top_shingle_stats"

  override def nullSafeEval(s: Any): Any =
    RollingHashKernel.topShingleStats(s.asInstanceOf[UTF8String], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${childGen.isNull}) {
        ${ev.value} = graft.functions.RollingHashKernel.topShingleStats(
          ${childGen.value}, $w);
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashKernel {
  private val Offset = Platform.BYTE_ARRAY_OFFSET
  /** Spark's xxhash64() default seed — every hash here must use it so
    * kernel outputs equal their Column-function formulations. */
  private val Seed = 42L

  /** charOffs(i) = byte offset where char i of `bytes` starts;
    * charOffs(nChars) = the end. */
  private def charOffsets(bytes: Array[Byte], nChars: Int): Array[Int] = {
    val charOffs = new Array[Int](nChars + 1)
    var b = 0
    var c = 0
    while (b < bytes.length) {
      charOffs(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    charOffs(nChars) = bytes.length
    charOffs
  }

  def minGram(t: UTF8String, k: Int): Long = {
    val bytes = t.getBytes // may copy if unaligned; one copy per row max
    val nChars = t.numChars()
    val charOffs = charOffsets(bytes, nChars)
    val windows = math.max(nChars - (k - 1), 1)
    var min = Long.MaxValue
    var i = 0
    while (i < windows) {
      val start = charOffs(i)
      val end = charOffs(math.min(i + k, nChars))
      val h = XXH64.hashUnsafeBytes(bytes, Offset + start, end - start, Seed)
      if (h < min) min = h
      i += 1
    }
    min
  }

  def orderedPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val elems = new Array[UTF8String](n)
    var i = 0
    // null-element guard (ADVICE r12): UnsafeArrayData.getUTF8String on
    // a null slot returns an EMPTY string (GenericArrayData returns
    // null), which would diverge from the nested-transform HOF this
    // kernel claims parity with (the HOF preserves nulls in struct
    // fields). Current call sites (q130/q226 token arrays) cannot
    // contain nulls, but the function is exposed as general API.
    while (i < n) {
      elems(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](elems(i), elems(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One MessageDigest per thread, reset per gram — getInstance per row
    * (let alone per gram) measurably dominates 8-byte digests. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexBytes = "0123456789abcdef".getBytes

  /** Lower-case hex of the 16-byte digest at `digests(off)`: the text
    * Spark's md5() returns for the same bytes. */
  private def md5Hex(digests: Array[Byte], off: Int): UTF8String = {
    val hex = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      hex(2 * j) = HexBytes((digests(off + j) >> 4) & 0xf)
      hex(2 * j + 1) = HexBytes(digests(off + j) & 0xf)
      j += 1
    }
    UTF8String.fromBytes(hex)
  }

  def minMd5Gram(t: UTF8String, k: Int): UTF8String = {
    val bytes = t.getBytes
    val nChars = t.numChars()
    val charOffs = charOffsets(bytes, nChars)
    val windows = math.max(nChars - (k - 1), 1)
    val md = md5Local.get()
    // two 16-byte buffers: digest into `cur`, keep the minimum in `best`
    var best = new Array[Byte](16)
    var cur = new Array[Byte](16)
    var have = false
    var i = 0
    while (i < windows) {
      val start = charOffs(i)
      val end = charOffs(math.min(i + k, nChars))
      md.reset()
      md.update(bytes, start, end - start)
      md.digest(cur, 0, 16)
      if (!have || {
        var j = 0
        var cmp = 0
        while (cmp == 0 && j < 16) {
          cmp = (cur(j) & 0xff) - (best(j) & 0xff)
          j += 1
        }
        cmp < 0
      }) {
        val tmp = best; best = cur; cur = tmp
        have = true
      }
      i += 1
    }
    md5Hex(best, 0)
  }

  /** The [[WinnowPostings]] kernel. Digests of all n = numChars - k + 1
    * grams go into one `byte[n * 16]` buffer, compared as unsigned bytes
    * (the order of their hex text). The window scan keeps the current
    * pick while it stays inside the window, so each window costs one
    * compare; picks never move left, so a repeated pick is the previous
    * one and is dropped there. The picks are then sorted by digest and
    * counted in runs. */
  def winnowPostings(t: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = t.getBytes
    val nChars = t.numChars()
    val n = nChars - k + 1
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val charOffs = charOffsets(bytes, nChars)
    val md = md5Local.get()
    val digests = new Array[Byte](n * 16)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(bytes, charOffs(i), charOffs(i + k) - charOffs(i))
      md.digest(digests, i * 16, 16)
      i += 1
    }
    def cmp(a: Int, b: Int): Int = java.util.Arrays.compareUnsigned(
      digests, a * 16, a * 16 + 16, digests, b * 16, b * 16 + 16)
    val picks = new Array[Integer](n - w + 1)
    var nPicks = 0
    var pick = -1
    i = 0
    while (i <= n - w) {
      val last = i + w - 1
      if (pick < i) { // the last pick left the window: scan all of it
        pick = i
        var j = i + 1
        while (j <= last) { if (cmp(j, pick) <= 0) pick = j; j += 1 }
      } else if (cmp(last, pick) <= 0) pick = last
      if (nPicks == 0 || picks(nPicks - 1).intValue != pick) {
        picks(nPicks) = pick
        nPicks += 1
      }
      i += 1
    }
    java.util.Arrays.sort(picks, 0, nPicks,
      (a: Integer, b: Integer) => cmp(a, b))
    val out = new Array[Any](nPicks)
    var nOut = 0
    var run = 0
    i = 0
    while (i < nPicks) {
      run += 1
      if (i == nPicks - 1 || cmp(picks(i), picks(i + 1)) != 0) {
        out(nOut) = new GenericInternalRow(
          Array[Any](md5Hex(digests, picks(i) * 16), run.toLong))
        nOut += 1
        run = 0
      }
      i += 1
    }
    new GenericArrayData(out.take(nOut))
  }

  /** Adjacent bigram pairs with `<unk>` folding — the [[BigramUnkPairs]]
    * kernel. Each token is folded through the vocab set ONCE (the HOF
    * form folds each interior token twice, as w2 then w1). */
  def bigramUnkPairs(arr: ArrayData, vocab: UnkVocab): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val folded = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      folded(i) = vocab.fold(if (arr.isNullAt(i)) null else arr.getUTF8String(i))
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      out(i) = new GenericInternalRow(Array[Any](folded(i), folded(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Token boundaries of `bytes` split on single spaces (0x20), exactly
    * like `split(text, " ")`: returns starts array with a sentinel end.
    * n tokens => n+1 entries; token i spans [starts(i), starts(i+1)-1)
    * except the last which ends at nBytes. */
  private def tokenStarts(bytes: Array[Byte]): Array[Int] = {
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') n += 1; i += 1 }
    val starts = new Array[Int](n + 1)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(n) = bytes.length + 1 // sentinel: "separator" just past the end
    starts
  }

  /** Base hash of shingle i..i+w-1 = xxhash64 of the byte span from the
    * start of token i to the end of token i+w-1 (tokens joined by the
    * single spaces that already separate them in the source bytes). */
  private def shingleHash(bytes: Array[Byte], starts: Array[Int], i: Int, w: Int): Long = {
    val from = starts(i)
    val until = starts(i + w) - 1 // strip the trailing separator
    XXH64.hashUnsafeBytes(bytes, Offset + from, until - from, Seed)
  }

  def lshBands(t: UTF8String, w: Int, perms: Int, bands: Int): ArrayData = {
    val bytes = t.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    if (nTok < w) return null
    val sig = Array.fill(perms)(Long.MaxValue)
    var i = 0
    while (i <= nTok - w) {
      val h = shingleHash(bytes, starts, i, w)
      var p = 0
      while (p < perms) {
        val v = XXH64.hashLong(h, p)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    val rowsPerBand = perms / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var bh = XXH64.hashInt(b, Seed)
      var r = 0
      while (r < rowsPerBand) { bh = XXH64.hashLong(sig(b * rowsPerBand + r), bh); r += 1 }
      out(b) = new GenericInternalRow(Array[Any](b, bh))
      b += 1
    }
    new GenericArrayData(out)
  }

  def simHash(t: UTF8String, bits: Int): Long = {
    val bytes = t.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    // distinct token hashes (token i = shingle of width 1)
    val hashes = new Array[Long](nTok)
    var i = 0
    while (i < nTok) { hashes(i) = shingleHash(bytes, starts, i, 1); i += 1 }
    java.util.Arrays.sort(hashes)
    var n = 0
    var j = 0
    while (j < hashes.length) {
      if (j == 0 || hashes(j) != hashes(j - 1)) { hashes(n) = hashes(j); n += 1 }
      j += 1
    }
    // per-bit majority vote
    var sig = 0L
    var b = 0
    while (b < bits) {
      var c = 0
      var x = 0
      while (x < n) { c += ((hashes(x) >>> b) & 1L).toInt; x += 1 }
      if (2 * c > n) sig |= 1L << b
      b += 1
    }
    sig
  }

  def shingleStrings(t: UTF8String, w: Int): ArrayData = {
    val bytes = t.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    if (nTok < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nTok - w + 1)
    var i = 0
    while (i <= nTok - w) {
      val from = starts(i)
      val until = starts(i + w) - 1 // strip the trailing separator
      out(i) = UTF8String.fromBytes(bytes, from, until - from)
      i += 1
    }
    new GenericArrayData(out)
  }

  def topShingleStats(t: UTF8String, w: Int): GenericInternalRow = {
    val bytes = t.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    if (nTok < w) return null
    val n = nTok - w + 1
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) { hashes(i) = shingleHash(bytes, starts, i, w); i += 1 }
    java.util.Arrays.sort(hashes)
    // longest equal-run = multiplicity of the most frequent shingle
    var top = 1L
    var run = 1L
    var j = 1
    while (j < n) {
      if (hashes(j) == hashes(j - 1)) { run += 1; if (run > top) top = run }
      else run = 1
      j += 1
    }
    new GenericInternalRow(Array[Any](top, n.toLong))
  }

  def shingleHashSet(t: UTF8String, w: Int): ArrayData = {
    val bytes = t.getBytes
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    if (nTok < w) return new GenericArrayData(Array.emptyLongArray)
    val hashes = new Array[Long](nTok - w + 1)
    var i = 0
    while (i <= nTok - w) { hashes(i) = shingleHash(bytes, starts, i, w); i += 1 }
    java.util.Arrays.sort(hashes)
    var uniq = 0
    var j = 0
    while (j < hashes.length) {
      if (j == 0 || hashes(j) != hashes(j - 1)) { hashes(uniq) = hashes(j); uniq += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, uniq))
  }
}

/** Precomputed merge table for [[BpeApply]]: parallel arrays of
  * (left, right, fused) UTF8 symbols in rank order. A plain
  * serializable holder so generated code can reference it via
  * `addReferenceObj` (the [[BoundaryBucket]]-style pattern). */
final class BpeMergeTable(
    val left: Array[UTF8String],
    val right: Array[UTF8String],
    val fused: Array[UTF8String]) extends Serializable {
  require(left.length == right.length && right.length == fused.length)
  def size: Int = left.length
}

object BpeMergeTable {
  /** Build from (left, right) merge pairs in rank order; each fused
    * symbol is `left + joiner + right` (the trainer's symbol algebra —
    * see `TextAnalysis.MergeJoiner`). */
  def apply(merges: Seq[(String, String)], joiner: String): BpeMergeTable =
    new BpeMergeTable(
      merges.map(m => UTF8String.fromString(m._1)).toArray,
      merges.map(m => UTF8String.fromString(m._2)).toArray,
      merges.map(m => UTF8String.fromString(m._1 + joiner + m._2)).toArray)
}

/** Apply a LEARNED BPE merge table (q100's output) to a token array in
  * ONE compiled pass per document — the tokenizer-application half of
  * the trainer/applier pair (q102's hot path, and the per-round fuse
  * inside q100's training loop itself). For each merge in rank order,
  * fold left-to-right replacing adjacent (left, right) with the fused
  * symbol; a fused symbol participates in LATER merges (BPE merges
  * compose) but never re-matches its own `left` within the same pass
  * (greedy non-overlap — the U+001F symbol algebra, spec-pinned
  * identical to the interpreted `aggregate` HOF formulation).
  *
  * vs the HOF form: K nested interpreted `aggregate` lambdas allocate
  * a fresh array per element per merge; this kernel rewrites one
  * buffer in place per merge, O(K * n) with zero per-element
  * allocation, inside whole-stage codegen. */
case class BpeApply(child: Expression, merges: Seq[(String, String)], joiner: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_apply"

  @transient private lazy val table = BpeMergeTable(merges, joiner)

  override def nullSafeEval(a: Any): Any =
    BpeKernel.fuse(a.asInstanceOf[ArrayData], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", table,
      classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.BpeKernel.fuse($t, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeKernel {
  /** Iterated greedy fuse: for each merge m in rank order, one
    * left-to-right pass where `out[j-1] == left(m) && t == right(m)`
    * collapses into `fused(m)` (write-pointer rewrite, no allocation
    * per pass). Equivalent by construction to folding the q100 HOF
    * once per merge — pinned bit-equal in TextAnalysisSpec. */
  def fuse(arr: ArrayData, table: BpeMergeTable): ArrayData = {
    var n = arr.numElements()
    val cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) { cur(i) = arr.getUTF8String(i); i += 1 }
    var m = 0
    while (m < table.size) {
      val l = table.left(m); val r = table.right(m); val f = table.fused(m)
      var j = 0
      i = 0
      while (i < n) {
        val t = cur(i)
        if (j > 0 && cur(j - 1).equals(l) && t != null && t.equals(r)) cur(j - 1) = f
        else { cur(j) = t; j += 1 }
        i += 1
      }
      n = j
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(cur, n).asInstanceOf[Array[Any]])
  }
}
