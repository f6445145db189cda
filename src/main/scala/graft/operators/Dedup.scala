package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.Parity._
import graft.functions.TextFunctions._

/** [EXT] X1/X2 deduplication operators (SURVEY §2.11): exact hash-group
  * dedup, blocked token-Jaccard near-dup, native MinHash+LSH banding,
  * SimHash, embedding near-dup, and cluster resolution + canonical-doc
  * selection — each as a `queries()` entry over `documents`.
  *
  * Scale design: the exact/minhash/simhash paths are linear scans plus a
  * shuffle keyed on (hash | band | signature) — the classic 100 TB dedup
  * shape where candidate generation is O(n) and verification touches only
  * colliding groups. The Jaccard query blocks on (length band, first
  * token) instead of an O(n²) cross join; clustering is a bounded-round
  * star-contraction loop over distributed frames with a one-task finish.
  */
object Dedup {

  /** Q29: exact dedup (X1) — keep the lowest doc_id per distinct text.
    * Grouping on md5(text) rather than the full text keeps shuffle rows
    * small (16 bytes vs KBs of text) — the at-scale idiom. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(md5(col("text")).as("fp"))
      .agg(
        min(col("doc_id")).as("kept_doc"),
        count(lit(1)).as("n_copies"),
        min(col("n_chars")).as("n_chars"))
      .select(col("kept_doc"), col("n_copies"), col("n_chars"))
      .orderBy(col("kept_doc"))
  }

  val dedupExactSql: String =
    """SELECT MIN(doc_id) AS kept_doc, COUNT(*) AS n_copies, MIN(n_chars) AS n_chars
      |FROM documents GROUP BY md5(text) ORDER BY kept_doc""".stripMargin

  /** Q30: near-dup detection via token-set Jaccard with composite
    * blocking (X2 exact-verification path). The block key is
    * (length band of 32 chars, first token, rarest token): a doc pairs
    * with docs in its own and the NEXT length band — so any pair whose
    * lengths differ by <= 32 chars is guaranteed to meet (the old
    * exact-n_chars key missed every near-dup whose edit changed the
    * length at all) — the first-token anchor splits each length band
    * by content, and the rarest-token anchor (round-5: the token with
    * the minimum global document frequency, ties broken
    * lexicographically — the dfreq table is vocabulary-scale, so the
    * join is UNHINTED and AQE sizes it; Heaps' law makes "vocabulary
    * fits the driver" false at 100 TB — the q89 discipline) splits it
    * again by the most discriminative token the
    * doc carries, so block sizes scale with (docs per 32-char band per
    * leading token per rarest token), not (docs per exact length).
    * Recall contract: under the EDIT model of near-duplication (one
    * doc is a lightly edited copy of the other) a pair is missed only
    * if the edit touched the very first token, shifted length by
    * > 32-64 chars, or added/removed the doc's globally-rarest token —
    * light edits preserve all three anchors. Honesty note, measured at
    * sf0.01: the synthetic corpus has a ~30-token vocabulary, so 24%
    * of ALL doc pairs clear 0.8 DISTINCT-TOKEN Jaccard by vocabulary
    * saturation alone (avg length diff 99 chars among them) — those
    * are not edit-model near-dups, and no equality blocking catches
    * them (old exact-length key: 88 pairs; band+first-token key: 363;
    * this key: 273 of those 363 — measured candidate pairs drop 1.6x
    * at sf0.01 (487 vs 793) and 1.7x at sf0.1 (46k vs 77k); the
    * saturated ~30-token vocabulary caps the anchor's selectivity, a
    * real corpus's Zipfian tail would cut far deeper — the DedupSpec
    * honesty test logs both counts). Sequence-sensitive shingle
    * Jaccard (q31) is the discriminative metric on such corpora.
    *
    * Still the exact-verification path, not the 100 TB path: blocks
    * grow with corpus size (Zipfian first tokens), so at full scale the
    * sub-quadratic candidate generator is MinHash-LSH (q31); this query
    * exists as its DuckDB-oracled exact twin. Same
    * candidate-pairs-before-payload shape as q31: the banded self-join
    * carries only (block, first-token, rarest-token, id); token sets
    * are fetched after the distinct pair set is resolved. */
  /** Verified near-dup pairs with their intersection/union counts —
    * shared candidate-generation + verification core of q30 (formatted
    * jaccard output) and q63 (cluster resolution over the pair graph). */
  /** q30/q63 length-band width (chars) and Jaccard threshold; both are
    * interpolated into the dup_clusters artifact fingerprint. */
  private val NdBandChars = 32
  private val NdTau = 0.8

  private[graft] def neardupVerified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(s"n_chars div $NdBandChars").as("band"),
        element_at(split(col("text"), " "), 1).as("ftok"),
        array_distinct(tokens(col("text"))).as("toks"))
    val toks = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
    // global document frequency per distinct token. Vocabulary-scale, NOT
    // bounded: by Heaps' law a 100 TB corpus has billions of distinct
    // tokens (typos/URLs), so no broadcast hint — the join shuffles on
    // `tok` (already the grouping key, so the exchange is reused) and AQE
    // may still broadcast it when the measured size is small.
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // rarest token per doc — min by (df, tok); the lexicographic
    // tiebreak makes the anchor deterministic
    val rare = toks.join(dfreq, Seq("tok"))
      .groupBy("doc_id")
      .agg(min_by(col("tok"), struct(col("df"), col("tok"))).as("rtok"))
    // round-12: `d` feeds both sides of the banded self-join — without
    // materialization the whole tokenize→dfreq→rarest-anchor chain
    // evaluated twice; checkpoint the 4-narrow-column anchor frame
    // (one row per doc; the token payload stays un-materialized —
    // candidate-pairs-before-payload is unchanged). LAZY on purpose:
    // q257 composes this producer beside q216's and an eager
    // materialize job would serialize subtrees the scheduler otherwise
    // overlaps (measured +0.4 s on q257 with eager).
    val d = docs.join(rare, Seq("doc_id"))
      .select(col("doc_id"), col("band"), col("ftok"), col("rtok"))
      .localCheckpoint(false)
    // one side emits (band, band+1), the other its own band: bands
    // within 1 of each other meet regardless of which doc is longer;
    // least/greatest + distinct collapses the double match of
    // same-band pairs
    val a = d.select(explode(array(col("band"), col("band") + 1)).as("blk"),
      col("ftok"), col("rtok"), col("doc_id").as("id_l"))
    val b = d.select(col("band").as("blk"), col("ftok"), col("rtok"),
      col("doc_id").as("id_r"))
    val cand = a.join(b, Seq("blk", "ftok", "rtok"))
      .filter(col("id_l") =!= col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("doc_a"),
        greatest(col("id_l"), col("id_r")).as("doc_b"))
      .distinct()
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .withColumn("nt", size(col("toks")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        col("nt").as("nt_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("nt").as("nt_b")), Seq("doc_b"))
      // threshold on the UNROUNDED ratio, matching the oracle's WHERE:
      // filtering on the rounded output value would pass a true jaccard
      // in [0.7999995, 0.8) that the oracle rejects.
      // union size by inclusion-exclusion (|A|+|B|-|A∩B|, exact for the
      // distinct token sets) — materializing the union ARRAY per pair
      // was the single largest allocation in the verify stage
      .withColumn("n_inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("n_union", col("nt_a") + col("nt_b") - col("n_inter"))
      .filter(col("n_inter").cast("double") / col("n_union") >= NdTau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  def neardupJaccard(spark: SparkSession, dir: String): DataFrame =
    neardupVerified(spark, dir)
      .withColumn("jaccard",
        dec6(col("n_inter").cast("decimal(18,0)") / col("n_union")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Q257: BLOCKING-STRATEGY OVERLAP AUDIT — the capacity-planning
    * question a dedup pipeline owner actually asks before picking a
    * candidate generator: "which pairs does equality blocking (q30)
    * find that sorted-neighborhood (q216) misses, and vice versa?"
    * Both strategies verify the SAME predicate (distinct-token
    * Jaccard ≥ 0.8), so their verified-pair sets are directly
    * comparable; the audit full-outer-joins them and reports the
    * found-by-both / only-blocking / only-SNM partition plus each
    * side's total. A large only-SNM count means the equality anchors
    * (first/rarest token) are being edited away; a large
    * only-blocking count means the SNM window is too narrow — the
    * two failure modes steer opposite remediations (multi-pass keys
    * vs wider window), which is why the overlap, not either count
    * alone, is the signal.
    *
    * Oracle: composes the two EXISTING oracle replays verbatim as
    * CTEs — consistency by construction, no third formulation to
    * drift.
    *
    * Scale shape: both producers are bounded-pair pipelines (q30
    * blocks, q216's (w−1)·n budget); the audit joins two
    * pair-keyed frames that are tiny relative to the corpus and
    * reduces to one row. */
  def dedupStrategyOverlap(spark: SparkSession, dir: String): DataFrame = {
    val blk = neardupVerified(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_blk"))
    val snm = sortedNeighborhood(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_snm"))
    blk.join(snm, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("in_blk"), lit(0L))).cast("bigint").as("n_blocking"),
        sum(coalesce(col("in_snm"), lit(0L))).cast("bigint").as("n_snm"),
        sum(when(col("in_blk").isNotNull && col("in_snm").isNotNull, 1L)
          .otherwise(0L)).cast("bigint").as("n_both"),
        sum(when(col("in_blk").isNotNull && col("in_snm").isNull, 1L)
          .otherwise(0L)).cast("bigint").as("n_only_blocking"),
        sum(when(col("in_blk").isNull && col("in_snm").isNotNull, 1L)
          .otherwise(0L)).cast("bigint").as("n_only_snm"))
  }

  /** Shared DuckDB CTE chain ending in `pairs(doc_a, doc_b, n_inter,
    * n_union)` — the oracle twin of [[neardupVerified]]. */
  private val neardupPairsCte: String =
    """d0 AS (
      |  SELECT doc_id, n_chars // 32 AS band,
      |    string_split(text, ' ')[1] AS ftok,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM d0),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
      |rare AS (
      |  SELECT doc_id, tok AS rtok FROM (
      |    SELECT t.doc_id, t.tok,
      |      ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS rn
      |    FROM tok t JOIN dfreq f USING (tok)) WHERE rn = 1),
      |d AS (
      |  SELECT d0.doc_id, d0.band, d0.ftok, rare.rtok, d0.toks
      |  FROM d0 JOIN rare USING (doc_id)),
      |cand AS (
      |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
      |    GREATEST(a.doc_id, b.doc_id) AS doc_b
      |  FROM d a JOIN d b
      |    ON a.ftok = b.ftok
      |   AND a.rtok = b.rtok
      |   AND (b.band = a.band OR b.band = a.band + 1)
      |   AND a.doc_id <> b.doc_id),
      |pairs AS (
      |  SELECT c.doc_a, c.doc_b,
      |    len(list_intersect(ta.toks, tb.toks)) AS n_inter,
      |    len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS n_union
      |  FROM cand c
      |  JOIN d ta ON ta.doc_id = c.doc_a
      |  JOIN d tb ON tb.doc_id = c.doc_b
      |  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
      |      / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.8)""".stripMargin

  val neardupJaccardSql: String =
    s"""WITH $neardupPairsCte
      |SELECT doc_a, doc_b,
      |  CAST((2 * n_inter * 1000000 + n_union) // (2 * n_union) AS DOUBLE)
      |    / 1000000 AS jaccard
      |FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  /** Q31: MinHash + LSH banding (X2 scale path) — 32-permutation
    * signature, 8 bands x 4 rows; pairs colliding in any band are
    * candidates, verified with exact shingle-Jaccard >= 0.5.
    * No oracle (xxhash64 is Spark-specific); DedupSpec checks agreement
    * with the exact Jaccard query instead.
    * Scope: documents with fewer than 3 tokens produce no shingles and
    * are invisible to this operator BY DESIGN — exact dedup (q29)
    * covers them; near-dup semantics are meaningless at that length.
    *
    * Shape chosen for 100 TB, not just correctness:
    *  - banding = ONE native compiled pass per document
    *    ([[graft.functions.LshBands]]): shingle byte-spans hashed in
    *    place, per-permutation mins via a 64-bit mix, band hashes
    *    chained — no explode, no signature aggregate, no shuffle until
    *    the (band, hash, id) self-join. Replaced the explode → 32-min-
    *    column hash-agg shape (itself 100x over the naive HOF form):
    *    3.4 s → 1.0 s at sf0.1. Lineage of rejected formulations in
    *    NOTES.md.
    *  - candidate generation self-joins only (band, band_hash, doc_id)
    *    rows; the distinct pair set is resolved BEFORE any shingle array
    *    is fetched, so wide verification data never rides the LSH
    *    shuffle. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val perms = 32
    val bands = 8
    val docs = Tables.documents(spark, dir)
    val banded = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.lshBands(col("text"), 3, perms, bands)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
    val cand = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // verification: fetch shingle sets for surviving pairs only — as
    // 64-bit hashes, not strings: array_intersect/union compare longs
    // instead of variable-length text, and the join payload shrinks ~6x
    // (Jaccard over distinct 64-bit hashes equals Jaccard over the
    // shingles themselves up to negligible collision probability).
    val sets = docs.select(col("doc_id"),
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union", size(array_union(col("sh_a"), col("sh_b"))))
      // unrounded-ratio threshold (same discipline as q30)
      .filter(col("n_inter").cast("double") / col("n_union") >= 0.5)
      .withColumn("jaccard",
        dec6(col("n_inter").cast("decimal(18,0)") / col("n_union")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Q32: SimHash near-dup (X2) — 32-bit signature from per-bit majority
    * vote over distinct-token hashes; exact-signature collisions are dup
    * candidates. No oracle: the signature kernel hashes tokens with
    * Spark's xxhash64, which DuckDB does not implement, so the VALUES
    * cannot be mirrored in oracle SQL (spec-tested here; q201 is the
    * md5 twin that oracles the identical majority-vote logic).
    *
    * Shape: ONE native compiled pass per document
    * ([[graft.functions.SimHashSig]]) — token byte-spans hashed in
    * place, majority vote in a register loop; no explode, no 32-column
    * aggregate, no shuffle before the signature groupBy. (The prior
    * explode → bit-count hash-agg shape was itself ~32x over the HOF
    * form; equivalence with it is pinned in DedupSpec.) */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val bits = 32
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.simHashSig(col("text"), bits).as("sig"))
      // null text -> null sig; the replaced explode shape dropped such
      // docs, and a shared NULL group would be a fake dup cluster
      .filter(col("sig").isNotNull)
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .select(col("sig"), col("n_docs"), col("first_doc"))
      .orderBy(col("first_doc"))
  }

  /** Q201: MD5 SIMHASH TWIN — q32's majority-vote signature with a
    * cross-engine hash, the q200/q46 split applied to SimHash: each
    * distinct token's 32-bit value is the first 8 hex chars of its
    * md5 (both engines compute the identical digest), bit j of the
    * document signature is the majority vote of bit j across the
    * doc's tokens (ties round up: 2·ones ≥ n), and exact-signature
    * groups with n > 1 are the dup candidates — fully DuckDB-oracled.
    * q32's compiled kernel remains the fast path (one xxhash64 pass,
    * no digest allocation).
    *
    * Shape: explode distinct tokens → 32 conditional bit-sums in ONE
    * map-side-combined per-doc aggregation (codegen'd; no interpreted
    * HOF lambda per bit — the NOTES CollapseProject×HOF trap), then a
    * group on the reassembled 32-bit signature. */
  def simhashMd5(spark: SparkSession, dir: String): DataFrame = {
    val bits = 32
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("v"))
    val bitSums = (0 until bits).map(j =>
      sum(shiftright(col("v"), j).bitwiseAND(1L)).as(s"b$j"))
    val sig = (0 until bits).map(j =>
      when(col(s"b$j") * 2 >= col("n"), lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    val aggs = count(lit(1)).as("n") +: bitSums
    toks.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("first_doc"))
  }

  /** Oracle: hex-decode of md5's first 8 chars (the q119 position-in
    * alphabet trick, 8 terms), bit extraction via >>/&, the same
    * ties-up majority, reassembled with << — all integer. */
  val simhashMd5Sql: String = {
    val hexVal = (1 to 8).map { i =>
      val mult = math.pow(16, 8 - i).toLong
      s"(position(substring(m, $i, 1) IN '0123456789abcdef') - 1) * $mult"
    }.mkString("\n      |      + ")
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |h AS (SELECT doc_id, md5(tok) AS m FROM toks),
       |v AS (SELECT doc_id,
       |      $hexVal AS v
       |      FROM h),
       |b AS (SELECT doc_id, g.j, COUNT(*) AS n, SUM((v >> g.j) & 1) AS ones
       |      FROM v, generate_series(0, 31) g(j) GROUP BY 1, 2),
       |s AS (SELECT doc_id,
       |        SUM(CASE WHEN 2 * ones >= n THEN (1::BIGINT << j) ELSE 0 END) AS sig
       |      FROM b GROUP BY 1)
       |SELECT CAST(sig AS BIGINT) AS sig, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS first_doc
       |FROM s GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY first_doc""".stripMargin
  }

  /** q261 permutation constants: 32 multiply-shift hash families
    * (A_p·v1 + B_p·v2 + C_p) mod 2³², derived from a fixed splitmix
    * mix so both engines interpolate the IDENTICAL literals (the
    * constants appear verbatim in the oracle SQL). A_p, B_p are odd
    * 30-bit (products with 32-bit v stay < 2⁶², sums < 2⁶³ — safe in
    * signed BIGINT on BOTH engines, no HUGEINT needed); C_p is 30-bit. */
  private val LshTwinPerms: IndexedSeq[(Long, Long, Long)] = {
    def mix(x: Long): Long = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32)
      h & 0x3FFFFFFFL
    }
    (0 until 32).map(p => (mix(3L * p + 1) | 1L, mix(3L * p + 2) | 1L, mix(3L * p + 3)))
  }

  /** Q261: MD5 MINHASH-LSH TWIN — q31's full banded pipeline
    * (shingle → 32-permutation MinHash signature → 8 bands × 4 rows →
    * band-collision candidates → exact-Jaccard ≥ 0.5 verification)
    * with a CROSS-ENGINE hash family, closing the last ⊙ kernel
    * family without an oracled twin (the q200/q201 discipline; q119's
    * md5 permutation family proved DuckDB replays min-hash signatures
    * exactly). Each distinct word-3-shingle is digested ONCE (md5 —
    * identical on both engines); the digest's first 16 hex chars
    * split into two 32-bit integers (v1, v2) and the 32 permutation
    * values are (A_p·v1 + B_p·v2 + C_p) mod 2³² ([[LshTwinPerms]]) —
    * multiply-shift universal hashing in pure BIGINT arithmetic, ONE
    * digest per shingle instead of 32 (the q119 one-digest lesson:
    * the K-digest form benched 8.7 s at sf0.1). Band b's key is the
    * ':'-joined text of signature rows 4b..4b+3; pairs colliding in
    * ANY band are candidates, verified with exact distinct-shingle
    * Jaccard ≥ 0.5 (integer cross-multiplication). q31's compiled
    * xxhash64 kernel remains the fast path; this twin is the full
    * end-to-end DuckDB replay (shingle → signature → band →
    * candidate → verify), and Round9Spec pins twin/kernel candidate
    * agreement at the tested SF.
    *
    * Scale shape (mirrors q31): the signature is ONE map-side-combined
    * 32-min aggregation over the md5 pass (no explode-per-permutation);
    * banding explodes the |docs|-row signature frame 8×; candidate
    * generation self-joins only (band, key, doc_id) rows and resolves
    * the DISTINCT pair set BEFORE any shingle array is fetched
    * (candidate-pairs-before-payload); verification joins shingle
    * sets for surviving pairs only. */
  def minhashLshMd5(spark: SparkSession, dir: String): DataFrame = {
    // round-12 checkpointed `docs` too; round-13 REVERTS that half
    // (ADVICE r12 medium): the shingle ARRAY column is text-scale, so
    // materializing it into executor block storage contradicted the
    // family's payload invariant (payloads are fetched only after pair
    // resolution, never staged corpus-wide — SCALE.md). `docs` is now a
    // def re-derived per consumer: the signature pass reads it once and
    // the two verification joins re-run the scan+shingle kernel, but the
    // broadcast of the tiny candidate set means no shingle array ever
    // shuffles — the payload moves zero times, at the price of two extra
    // compiled scan passes (~0.2 s each locally; at 100 TB re-scanning
    // is the cheap side of guide §5's trade vs corpus-scale storage).
    // `sig` stays checkpointed: 32 longs per doc, the legitimate narrow
    // proxy, feeding both sides of the band self-join.
    def docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_distinct(wordShingles(col("text"), 3)).as("ts"))
      .filter(size(col("ts")) >= 1)
    val v = docs.select(col("doc_id"), explode(col("ts")).as("g"))
      .select(col("doc_id"), md5(col("g")).as("m"))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("v1"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("v2"))
    val mins = LshTwinPerms.zipWithIndex.map { case ((a, b, c), p) =>
      min((lit(a) * col("v1") + lit(b) * col("v2") + lit(c))
        .bitwiseAND(lit(4294967295L))).as(s"s$p")
    }
    val sig = v.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .localCheckpoint()
    val bandCols = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until 4).map(r => col(s"s${4 * b + r}")): _*).as("key"))
    }
    val banded = sig.select(col("doc_id"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("ts").as("ts_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("ts").as("ts_b")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("ts_a"), col("ts_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("ts_a")) + size(col("ts_b"))).cast("long") - col("n_inter"))
      // integer cross-multiplied threshold (J >= 1/2), never a float
      .filter(col("n_inter") * 2 >= col("n_union"))
      .withColumn("jaccard",
        dec6(col("n_inter").cast("decimal(18,0)") / col("n_union")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: end-to-end replay — md5 per distinct shingle, the q201
    * position-in-alphabet hex decode (two 8-char halves), the SAME
    * [[LshTwinPerms]] literals, 32 MIN aggregates, band keys by text
    * concatenation, the band self-join, and brute list_intersect
    * verification of the candidates. */
  val minhashLshMd5Sql: String = {
    def hexVal(lo: Int): String = (1 to 8).map { i =>
      val mult = math.pow(16, 8 - i).toLong
      s"(position(substring(m, ${lo + i - 1}, 1) IN '0123456789abcdef') - 1) * $mult"
    }.mkString("\n       |        + ")
    val sigCols = LshTwinPerms.zipWithIndex.map { case ((a, b, c), p) =>
      s"MIN(($a * v1 + $b * v2 + $c) & 4294967295) AS s$p"
    }.mkString(",\n       |    ")
    val bandKeys = (0 until 8).map { b =>
      val key = (0 until 4).map(r => s"CAST(s${4 * b + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"WHEN $b THEN $key"
    }.mkString("\n       |      ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
       |           FROM documents WHERE text IS NOT NULL),
       |shl AS (SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(t) - 2),
       |           g -> array_to_string(t[g:g+2], ' '))) AS ts
       |       FROM d WHERE len(t) >= 3),
       |g AS (SELECT doc_id, unnest(ts) AS gr FROM shl),
       |h AS (SELECT doc_id, md5(gr) AS m FROM g),
       |v AS (SELECT doc_id,
       |        ${hexVal(1)} AS v1,
       |        ${hexVal(9)} AS v2
       |      FROM h),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM v GROUP BY 1),
       |bands AS (SELECT doc_id, b.band,
       |    CASE b.band
       |      $bandKeys
       |    END AS key
       |  FROM sig, generate_series(0, 7) b(band)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(ta.ts, tb.ts)) AS ni,
       |    len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS nu
       |  FROM cand c
       |  JOIN shl ta ON ta.doc_id = c.doc_a
       |  JOIN shl tb ON tb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, CAST(ni AS BIGINT) AS n_inter,
       |  CAST(nu AS BIGINT) AS n_union,
       |  CAST((2 * ni * 1000000 + nu) // (2 * nu) AS DOUBLE) / 1000000 AS jaccard
       |FROM pairs WHERE 2 * ni >= nu
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Q44: embedding-cosine near-dup (X2 embedding path) — hyperplane-LSH
    * bucket join proposes candidates, exact cosine >= threshold verifies.
    * Same candidate-pairs-before-payload shape as minhashLsh; the
    * threshold is low because the synthetic embeddings are near-isotropic
    * (real near-dup corpora use ~0.9 with far fewer tables). No oracle
    * (the plane-signature chains are impractical to mirror in SQL);
    * DedupSpec checks precision and recall against brute force.
    *
    * Candidate generation reuses the q59 persisted-IVF machinery: the
    * (4 bits x 6 tables) bucket assignment is built once per process via
    * [[Similarity.buildIvfIndex]] and SELF-joined here — the signature
    * kernel runs once per corpus instead of twice per invocation (both
    * self-join sides read the persisted id-lists), and at 100 TB the
    * same one-index-many-consumers amortization applies across every
    * dedup/ANN query of the family. */
  def neardupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val dims = 64
    val bits = 4
    val tables = 6
    val threshold = 0.4
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
    val bucketed = spark.read.parquet(
      Similarity.buildIvfIndex(spark, dir, bits, tables, dims))
    // Candidates stay duplicated across tables here ON PURPOSE: cross-
    // table multiplicity is low (~1.2x), so verifying duplicates costs
    // ~20% extra codegen'd dot products, while dedup-BEFORE-verify would
    // shuffle the full multi-million-pair set. Dedup happens after the
    // threshold filter, on the few surviving rows.
    val cand = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
      .join(bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // verification math trimmed to one dot product: unit-normalize each
    // vector ONCE on the (small, broadcastable) corpus side instead of
    // evaluating two norms per candidate pair.
    // transform-over-singleton binds the norm once per row (a bare
    // `x / l2Norm(emb)` lambda would re-aggregate the norm per element,
    // and CollapseProject folds any precomputed column back in).
    val unit = e.select(col("vec_id"),
      transform(array(l2Norm(col("emb"))),
        n => transform(col("emb"), x => x / n)).getItem(0).as("u"))
    cand
      .join(unit.select(col("vec_id").as("id_a"), col("u").as("u_a")), Seq("id_a"))
      .join(unit.select(col("vec_id").as("id_b"), col("u").as("u_b")), Seq("id_b"))
      .withColumn("cosine", dec6(round(dotProduct(col("u_a"), col("u_b")), 6)))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine")).distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Q63: near-dup CLUSTER resolution — connected components over the
    * verified pair graph (q30's output), the step every production dedup
    * pipeline needs between pair generation and canonical-document
    * selection: near-dup is not transitive, so A~B and B~C must collapse
    * into one cluster {A,B,C} before exactly one representative is kept.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR edge contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014 — public literature). Each round rewrites the edge set:
    * large-star re-roots every neighbor LARGER than u onto the minimum
    * of u's closed neighborhood; small-star re-roots u and its smaller
    * neighbors the same way. The edge set contracts toward a forest of
    * stars centered at component minima in O(log n) rounds on ANY
    * graph — unlike plain min-label propagation, whose round count is
    * the component DIAMETER and degrades to O(n) on a chain (near-dup
    * graphs are usually near-cliques, but "usually" is not a bound;
    * DedupSpec pins a 1024-node chain to a logarithmic round count).
    *
    * Driver-side loop discipline: the while loop is CONTROL FLOW with
    * a logarithmic bound; per-round data stays distributed and the
    * loop reads back only observed metrics of the round's own
    * checkpoint (edge count, unsettled-node count) — no extra jobs.
    * localCheckpoint(eager) per round truncates the lineage (otherwise
    * round k replans k rewrites deep) and lets the ContextCleaner drop
    * round k-1's blocks once unreferenced. Each star step is ONE
    * window over the high-cardinality node key (balanced groups) plus
    * a distinct — no per-round global structure. Once the edge set
    * fits [[StarFinishEdges]], the loop hands off to a one-task
    * union-find ([[unionFindLabels]]). */
  /** Connected components over an undirected pair graph: (doc_a, doc_b)
    * rows -> (node, lbl) with lbl = component minimum. Extracted from
    * [[dupClusters]] so specs can pin it on synthetic graphs (chains,
    * forests) independent of the pair generator. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame =
    starContract(pairs)._1

  /** Edge budget of one task: an edge set at or below it is resolved by
    * [[unionFindLabels]] in a single partition; above it the contraction
    * rounds run distributed until it fits. At bench and oracle scale the
    * whole pair graph fits, so the loop runs 0 rounds. */
  private[graft] val StarFinishEdges = 100000L

  /** [[connectedComponents]] plus the round count, exposed so specs can
    * assert the logarithmic convergence bound. `finishEdges` is the
    * one-task budget; specs pass 0 to force every round through the
    * distributed loop. */
  private[graft] def starContract(pairs: DataFrame,
      finishEdges: Long = StarFinishEdges): (DataFrame, Int) = {
    // invariant: directed max -> min, deduped, no self-loops
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // the edge count rides on the checkpoint's own job as an observed
    // metric; unnamed Observations cannot collide across concurrent calls
    def checkpointed(e: DataFrame): (DataFrame, Long) = {
      val size = Observation()
      val frame = e.observe(size, count(lit(1)).as("n")).localCheckpoint(true)
      (frame, observed(size))
    }
    var (edges, size) =
      checkpointed(canon(pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))))
    var rounds = 0
    var settled = false
    // terminates in O(log n) rounds (Kiveris et al. thm. 3/4); the cap
    // is a regression guard far above that bound for any physical
    // graph, never a tuning knob. Above the budget the rounds run at
    // the session's shuffle width (AQE coalesces small partitions).
    while (size > finishEdges && !settled) {
      rounds += 1
      require(rounds <= 200, s"star contraction failed to converge after $rounds rounds")
      val unsettled = Observation()
      val (next, nextSize) = checkpointed(smallStar(largeStar(edges, unsettled)))
      settled = observed(unsettled) == 0
      edges = next
      size = nextSize
    }
    val labels =
      if (size <= finishEdges) unionFindLabels(edges)
      else {
        // a star forest above the budget: every non-centre node appears
        // exactly once as u with its centre as v; centres label themselves
        edges.select(col("u").as("node"), col("v").as("lbl"))
          .union(edges.select(col("v").as("node"), col("v").as("lbl")))
          .distinct()
      }
    (labels, rounds)
  }

  private val starWindow = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))

  /** Large-star round step over max -> min edges (u, v): for each edge
    * (u,v) with v > u, emit (v, min(N[u])); the minimum is over the
    * closed SYMMETRIC neighborhood, so both directions of every edge feed
    * the window. The same window also observes the input's UNSETTLED
    * nodes into `unsettled` ("n"): neither a centre (every neighbor
    * larger) nor a leaf (degree 1), counted once per node on its
    * min-neighbor row (the symmetric edge set has no duplicate rows).
    * Zero unsettled nodes means the input is a forest of stars centred at
    * component minima — the contraction's fixpoint. */
  private[graft] def largeStar(e: DataFrame, unsettled: Observation): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    sym.withColumn("nmin", min(col("v")).over(starWindow))
      .withColumn("deg", count(col("v")).over(starWindow))
      .observe(unsettled, count(when(col("v") === col("nmin") &&
        col("nmin") < col("u") && col("deg") > 1, lit(1))).as("n"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("nmin"), col("u")).as("v"))
      .distinct() // m < u < v: stays max->min, never a self-loop
  }

  /** Small-star round step: per node u over its SMALLER neighbors (the
    * max -> min orientation already gives exactly those), emit (v, m) and
    * (u, m). */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val withM = e.withColumn("m", min(col("v")).over(starWindow))
    withM.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(withM.select(col("u"), col("m").as("v")))
      .distinct() // m = min of strictly-smaller neighbors: no self-loops
  }

  private def observed(o: Observation): Long = o.get("n").asInstanceOf[Long]

  /** One-task finish of [[starContract]]: (u, v) edges (at most
    * [[StarFinishEdges]] of them) -> (node, lbl) by an iterative
    * union-find inside ONE lazy partition, so it runs within the
    * consumer's own action. Nodes are ranked by Spark's ordering first
    * (UTF8String byte order for strings, which differs from
    * `String.compareTo` above the BMP), so the root with the smaller rank
    * wins every union and each root is its component's minimum; rows come
    * out in rank order, independent of shuffle fetch order. */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val schema = StructType(Seq(edges.schema("u").copy(name = "node"),
      edges.schema("v").copy(name = "lbl")))
    val sorted: Array[Any] => Array[Any] = schema("node").dataType match {
      case LongType => _.sortBy(_.asInstanceOf[Long])
      case StringType => nodes => nodes
        .map(n => (UTF8String.fromString(n.asInstanceOf[String]), n))
        .sortWith((a, b) => a._1.compareTo(b._1) < 0).map(_._2)
      case other => throw new IllegalArgumentException(
        s"connected components over $other nodes")
    }
    edges.repartition(1).mapPartitions { rows =>
      val pairs = rows.map(r => (r.get(0), r.get(1))).toArray
      val nodes = sorted(pairs.flatMap(p => Array(p._1, p._2)).distinct)
      val rank = nodes.zipWithIndex.toMap
      val parent = Array.range(0, nodes.length)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(rank(a)), find(rank(b)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.indices.iterator.map(i => Row(nodes(i), nodes(find(i))))
    }(Encoders.row(schema))
  }

  /** Cluster assignment as a persisted artifact (same pattern as q56's
    * bucketed tables and q59's IVF index): the pair pipeline + label
    * propagation run ONCE per (process, corpus) and land (node, lbl)
    * as parquet; q63's stats, q64's canonical selection, and any
    * downstream keep/drop filter read the landed table. This is the
    * production shape — a 100 TB dedup job materializes cluster ids
    * next to the corpus exactly once, it doesn't re-cluster per
    * consumer. _SUCCESS-guarded like the IVF build. */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.artifactPath("dup_clusters", dir,
      s"_b${NdBandChars}t${math.round(NdTau * 100)}")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      connectedComponents(
        neardupVerified(spark, dir).select(col("doc_a"), col("doc_b")))
        .write.mode("overwrite").parquet(path)
    }
    // explicit schema: a corpus with ZERO near-dup pairs writes only
    // _SUCCESS (no part files), and schema inference on a file-less
    // directory throws — the empty-cluster case must read as an empty
    // frame, not crash
    spark.read.schema("node BIGINT, lbl BIGINT").parquet(path)
  }

  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("node").as("doc_id"), col("lbl").as("cluster"), col("cluster_size"))
      .orderBy(col("cluster"), col("doc_id"))
  }

  /** Oracle: same components via a recursive CTE — `cc` enumerates, for
    * every node, the labels of ALL nodes reachable from it (UNION dedup
    * terminates the recursion), and MIN over that set is the component
    * representative. Independent formulation from the Spark side (full
    * reachability closure vs iterated local minima), so agreement is a
    * real cross-check of the clustering, not an echo. */
  val dupClustersSql: String =
    s"""WITH RECURSIVE $neardupPairsCte,
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM pairs),
      |cc AS (
      |  SELECT DISTINCT src AS node, src AS lbl FROM edges
      |  UNION
      |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON e.dst = cc.node),
      |lab AS (SELECT node, MIN(lbl) AS cluster FROM cc GROUP BY node),
      |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM lab GROUP BY cluster)
      |SELECT lab.node AS doc_id, lab.cluster, sizes.cluster_size
      |FROM lab JOIN sizes USING (cluster)
      |ORDER BY cluster, doc_id""".stripMargin

  /** Q64: canonical-document selection — the final step of the dedup
    * pipeline: within each near-dup cluster (q63), KEEP exactly one
    * representative and mark the rest for dropping. Keep policy: the
    * longest document (most complete copy), doc_id as the tiebreak —
    * deliberately integer-valued so keeper choice can never hinge on
    * float comparison parity. One window pass over the labeled docs;
    * at scale this is a per-cluster top-1, the same
    * TakeOrdered-per-group shape as q20. */
  def canonicalDocs(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val labeled = labels
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        col("node") === col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lbl")).orderBy(col("n_chars").desc, col("doc_id"))
    labeled
      .withColumn("kept_doc", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("lbl").as("cluster"), col("n_chars"),
        col("kept_doc"), (col("doc_id") === col("kept_doc")).as("is_kept"))
      .orderBy(col("cluster"), col("doc_id"))
  }

  val canonicalDocsSql: String =
    s"""WITH RECURSIVE $neardupPairsCte,
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT doc_b, doc_a FROM pairs),
      |cc AS (
      |  SELECT DISTINCT src AS node, src AS lbl FROM edges
      |  UNION
      |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON e.dst = cc.node),
      |lab AS (SELECT node, MIN(lbl) AS cluster FROM cc GROUP BY node),
      |x AS (
      |  SELECT lab.node AS doc_id, lab.cluster, dd.n_chars
      |  FROM lab JOIN documents dd ON dd.doc_id = lab.node)
      |SELECT doc_id, cluster, n_chars,
      |  FIRST_VALUE(doc_id) OVER (PARTITION BY cluster
      |    ORDER BY n_chars DESC, doc_id) AS kept_doc,
      |  doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY cluster
      |    ORDER BY n_chars DESC, doc_id) AS is_kept
      |FROM x ORDER BY cluster, doc_id""".stripMargin

  /** Q196: DEDUP TOKEN-YIELD LEDGER — the capacity-planning readout a
    * dedup pass is run FOR: per source, how many documents and tokens
    * survive canonical-doc selection (q64's rule — keep the longest
    * per near-dup cluster, every singleton kept), and the effective
    * token yield. This is the number that decides whether a source is
    * worth ingesting at all (a mirror-heavy source can yield a small
    * fraction of its raw tokens).
    *
    * Singletons get lbl = their own doc_id BEFORE the keeper window
    * (the q114 coalesce convention) — a NULL-label partition would
    * funnel every unclustered document into ONE window task, the
    * classic skew hazard; with the coalesce each singleton is its own
    * 1-row partition and the window stays evenly keyed.
    *
    * Scale shape: the cluster labels are the persisted q63 artifact
    * (built once per corpus); one row-scale keeper window partitioned
    * by label; one map-side-combined per-source aggregation. */
  def tokenYield(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusterLabels(spark, dir)
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"),
        tokenCount(col("text")).as("n"))
    val labeled = d.join(labels, col("doc_id") === col("node"), "left")
      .withColumn("grp", coalesce(col("lbl"), col("doc_id")))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labeled
      .withColumn("kept", col("doc_id") === first(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("bigint").as("n_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).cast("bigint").as("kept_docs"),
        sum(when(col("kept"), col("n")).otherwise(0L)).cast("bigint")
          .as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("kept_docs"), col("kept_tokens"),
        (expr("(2 * kept_tokens * 1000000 + n_tokens) div (2 * n_tokens)")
          .cast("double") / 1000000).as("token_yield"))
      .orderBy(col("source"))
  }

  /** Oracle: the q63/q64 recursive-reachability chain plus the same
    * coalesce-keeper-window and per-source rollup. */
  val tokenYieldSql: String =
    s"""WITH RECURSIVE $neardupPairsCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |cc AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM edges
       |  UNION
       |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON e.dst = cc.node),
       |lab AS (SELECT node, MIN(lbl) AS cluster FROM cc GROUP BY node),
       |alldocs AS (SELECT doc_id, source, n_chars,
       |        len(string_split(text, ' ')) AS n
       |      FROM documents WHERE text IS NOT NULL),
       |x AS (SELECT alldocs.*, COALESCE(lab.cluster, alldocs.doc_id) AS grp
       |      FROM alldocs LEFT JOIN lab ON alldocs.doc_id = lab.node),
       |k AS (SELECT *, doc_id = FIRST_VALUE(doc_id) OVER (
       |        PARTITION BY grp ORDER BY n_chars DESC, doc_id) AS kept
       |      FROM x)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       |  CAST(SUM(CASE WHEN kept THEN n ELSE 0 END) AS BIGINT) AS kept_tokens,
       |  CAST((2 * SUM(CASE WHEN kept THEN n ELSE 0 END) * 1000000 + SUM(n))
       |    // (2 * SUM(n)) AS DOUBLE) / 1000000 AS token_yield
       |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** Q139: FUZZY RECORD LINKAGE — entity resolution at CHARACTER
    * granularity (edit distance), the classic master-data operator the
    * token-set family (q30-q32) can't express: "red widget" vs
    * "blue widget" share one token but are 4 edits apart. Part names
    * are linked when their Levenshtein distance is in [1, 3] —
    * distance 0 is exact-dup territory (q29's job).
    *
    * Scale shape — the standard blocked-linkage pipeline:
    *  1. DISTINCT (name, frequency) first: linkage runs on the bounded
    *     name vocabulary, never the row-scale table (the
    *     candidate-pairs-before-payload rule; a 1e11-row part table
    *     still has a bounded name vocabulary);
    *  2. blocking on the name's last token: only names sharing the
    *     head noun are compared, collapsing the quadratic all-pairs
    *     space to per-block pairs (the record-linkage analogue of
    *     q31's LSH bands);
    *  3. a < b ordering halves the pair space and fixes output
    *     determinism; `levenshtein` is a codegen'd Spark builtin.
    * `linked_rows` = freq_a · freq_b restores row-scale accounting
    * from the vocabulary-scale match. */
  def fuzzyLinkage(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    val a = names.select(col("block"), col("name").as("name_a"), col("freq").as("freq_a"))
    val b = names.select(col("block"), col("name").as("name_b"), col("freq").as("freq_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist").between(1, 3))
      .select(col("name_a"), col("name_b"),
        col("edit_dist").cast("bigint").as("edit_dist"),
        (col("freq_a") * col("freq_b")).cast("bigint").as("linked_rows"))
      .orderBy(col("name_a"), col("name_b"))
  }

  val fuzzyLinkageSql: String =
    """WITH names AS (
      |  SELECT p_name AS name, COUNT(*) AS freq,
      |    string_split(p_name, ' ')[-1] AS block
      |  FROM part GROUP BY 1),
      |pairs AS (
      |  SELECT a.name AS name_a, b.name AS name_b,
      |    levenshtein(a.name, b.name) AS edit_dist,
      |    a.freq * b.freq AS linked_rows
      |  FROM names a JOIN names b USING (block)
      |  WHERE a.name < b.name)
      |SELECT name_a, name_b, CAST(edit_dist AS BIGINT) AS edit_dist,
      |  CAST(linked_rows AS BIGINT) AS linked_rows
      |FROM pairs WHERE edit_dist BETWEEN 1 AND 3
      |ORDER BY name_a, name_b""".stripMargin

  /** Jaccard threshold for [[prefixJaccardJoin]], as the exact rational
    * num/den (4/5 = 0.8 — the near-dup band). Every comparison is
    * cross-multiplied; no float threshold exists anywhere. */
  private val PjNum = 4
  private val PjDen = 5
  /** q185 word-shingle size; part of the prefix_pairs fingerprint. */
  private val PjShingleK = 3

  /** Q185: PREFIX-FILTERED EXACT SIMILARITY JOIN (the PPJoin family) —
    * the third candidate-generation strategy for set-similarity joins
    * beside blocking (q30) and LSH banding (q31), and unlike both it is
    * EXACT with zero recall loss by theorem: order each document's
    * distinct word-3-shingles by ascending corpus frequency (rarest
    * first, ties by shingle text) and keep only the first
    * s − ⌈θ·s⌉ + 1 as its PREFIX; any pair with J ≥ θ must share at
    * least ⌈θ·max(s_a,s_b)⌉ shingles, so it cannot avoid colliding on a
    * prefix shingle — candidates are complete, and exact verification
    * of just the candidates returns precisely the threshold set.
    *
    * The DuckDB oracle is the BRUTE-FORCE all-pairs join (with only the
    * threshold-implied length prune), so the hash compare itself proves
    * the completeness theorem held on this corpus — the oracle shares
    * no candidate logic with the engine.
    *
    * Scale shape: the frequency join and prefix window are row-scale
    * passes keyed by shingle/doc (the (doc, shingle, df) frame is
    * localCheckpoint-materialized once and feeds ordering, candidates
    * AND verification — three consumers, one build); candidate pairs
    * collapse to keys BEFORE any payload join (25 pairs at sf0.01 from
    * 124k possible), verification joins only candidate documents'
    * shingle sets. The pair frame is NOT hinted broadcast — it grows
    * quadratically in duplicate-cluster sizes, so AQE decides from the
    * measured size (the q187 rationale). Rare-first
    * ordering is the candidate suppressor: a prefix shingle shared by
    * many documents is by construction a LOW-df shingle. Round-9 adds
    * the PPJoin POSITION filter on top (see [[prefixCandidates]]): a
    * collision whose remaining-suffix bound cannot reach the required
    * overlap α = ⌈θ/(1+θ)·(sa+sb)⌉ is discarded BEFORE the distinct,
    * shrinking the candidate set with zero recall loss (before/after
    * counts in NOTES; output identity + strict candidate drop pinned
    * in DedupSpec).
    *
    * The verified pair list is persisted `_SUCCESS`-guarded next to
    * the corpus (the q63/q109/q110 convention): the join runs ONCE per
    * (process, corpus) — durable-root deployments reuse it across
    * runs — and q185's result plus q187's rollup read the landed
    * table. Bench medians therefore measure the serving read; the
    * build is paid on first touch. */
  def prefixJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    prefixPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The persisted verified-pair artifact behind q185/q187. */
  private[graft] def prefixPairs(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.artifactPath("prefix_pairs", dir,
      s"_s${PjShingleK}j${PjNum}_$PjDen")
    if (!graft.Scratch.artifactComplete(path)) {
      graft.Scratch.prepareArtifact(path)
      computePrefixJaccard(spark, dir)
        .write.mode("overwrite").parquet(path)
    }
    spark.read
      .schema("doc_a BIGINT, doc_b BIGINT, n_inter BIGINT, n_union BIGINT, jaccard DOUBLE")
      .parquet(path)
  }

  /** The (doc_id, s, sh) exploded shingle frame behind q185 — one
    * build, three consumers (df agg, prefix window, verification). */
  private[graft] def prefixShingleFrame(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), array_distinct(wordShingles(col("text"), PjShingleK)).as("ts"))
      .filter(size(col("ts")) >= 1)
      .withColumn("s", size(col("ts")).cast("bigint"))
    d.select(col("doc_id"), col("s"), explode(col("ts")).as("sh"))
      .localCheckpoint()
  }

  /** q185's candidate generator: prefix filter + length filter, and
    * (round-9, the documented PPJoin squeeze) the POSITION filter —
    * a prefix collision at ranks (ra, rb) within documents of sizes
    * (sa, sb) bounds the achievable overlap by
    * 1 + min(sa − ra, sb − rb) (every further common shingle sits
    * strictly after the collision in BOTH rare-first orders), while
    * J ≥ θ requires overlap ≥ α = ⌈θ/(1+θ)·(sa+sb)⌉; collisions that
    * cannot reach α generate no candidate. COMPLETENESS is preserved
    * by theorem: for a true pair, its globally-FIRST common shingle
    * has the minimal (ra, rb) of all common shingles, lies within
    * both prefixes (the prefix-filter guarantee), and satisfies the
    * bound (the bound at the first common shingle over-counts the
    * true overlap), so at least one collision always survives —
    * pinned empirically in DedupSpec (identical verified output,
    * strictly fewer candidates). `positionFilter = false` exists ONLY
    * for that spec's before/after pin. */
  private[graft] def prefixCandidates(toks: DataFrame,
      positionFilter: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = toks.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, Seq("sh"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
    val prefix = ranked
      .filter(col("rnk") <= col("s") - expr(s"($PjNum * s + $PjNum) div $PjDen") + 1)
    val joined = prefix
      .select(col("doc_id").as("da"), col("s").as("sa"),
        col("rnk").as("ra"), col("sh"))
      .join(prefix.select(col("doc_id").as("db"), col("s").as("sb"),
        col("rnk").as("rb"), col("sh")), Seq("sh"))
      .filter(col("da") < col("db") &&
        lit(PjDen) * least(col("sa"), col("sb"))
          >= lit(PjNum) * greatest(col("sa"), col("sb")))
    val posFiltered =
      if (!positionFilter) joined
      else joined.filter(
        lit(1L) + least(col("sa") - col("ra"), col("sb") - col("rb")) >=
          expr(s"($PjNum * (sa + sb) + ${PjNum + PjDen - 1}) div ${PjNum + PjDen}"))
    posFiltered.select(col("da"), col("db"), col("sa"), col("sb")).distinct()
  }

  private def computePrefixJaccard(spark: SparkSession, dir: String): DataFrame = {
    val toks = prefixShingleFrame(spark, dir)
    val cand = prefixCandidates(toks).localCheckpoint()
    val candDocs = cand.select(col("da").as("doc_id"))
      .union(cand.select(col("db"))).distinct()
    // No broadcast hints on cand/candDocs: the verified-candidate-pair
    // frame grows quadratically in duplicate-cluster sizes (the q187
    // rationale), so a hot corpus can blow a forced broadcast. AQE
    // still broadcasts when the measured size is small.
    val candToks = toks.join(candDocs, Seq("doc_id"))
    cand
      .join(candToks.select(col("doc_id").as("da"), col("sh")), Seq("da"))
      .join(candToks.select(col("doc_id").as("db"), col("sh")), Seq("db", "sh"))
      .groupBy(col("da"), col("db"), col("sa"), col("sb"))
      .agg(count(lit(1)).cast("bigint").as("n_inter"))
      .withColumn("n_union", col("sa") + col("sb") - col("n_inter"))
      .filter(lit(PjDen) * col("n_inter") >= lit(PjNum) * col("n_union"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_inter"), col("n_union"),
        dec6(col("n_inter").cast("decimal(18,0)") / col("n_union")).as("jaccard"))
  }

  /** Brute-force oracle (NOT a prefix replay — see the completeness
    * argument in the operator scaladoc): intersections come from a
    * plain shingle co-occurrence self-join, which is complete because
    * J ≥ θ > 0 forces at least one shared shingle — no ordering, no
    * prefix, no length reasoning shared with the engine. (An all-pairs
    * list_intersect form was 75× slower at sf0.1 for the same rows.) */
  val prefixJaccardJoinSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
       |           FROM documents WHERE text IS NOT NULL),
       |shl AS (SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(t) - 2),
       |           g -> array_to_string(t[g:g+2], ' '))) AS ts
       |       FROM d WHERE len(t) >= 3),
       |sz AS (SELECT doc_id, len(ts) AS s FROM shl),
       |grams AS (SELECT doc_id, unnest(ts) AS sh FROM shl),
       |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |       FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, n_inter, sa.s + sb.s - n_inter AS n_union
       |      FROM co JOIN sz sa ON doc_a = sa.doc_id
       |      JOIN sz sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
       |  CAST(n_union AS BIGINT) AS n_union,
       |  CAST((2 * n_inter * 1000000 + n_union) // (2 * n_union) AS DOUBLE)
       |    / 1000000 AS jaccard
       |FROM j WHERE $PjDen * n_inter >= $PjNum * n_union
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Q162: GOLDEN-RECORD RESOLUTION — q139's consumer, completing the
    * entity-resolution pipeline the way q63→q64 completes near-dup:
    * fuzzy-linked name pairs collapse into entities via the SAME star
    * contraction (it is type-generic — greatest/least/min work
    * lexicographically, so components run directly on name strings,
    * no name→id mapping pass), and each multi-name entity elects one
    * golden record: the most frequent variant, smallest name as the
    * tiebreak (integer-exact keeper choice, the q64 argument).
    * Singleton names are implicitly golden and not listed (the q63
    * convention).
    *
    * Scale shape: pair generation is q139's vocabulary-scale blocked
    * join; contraction is O(log n) rounds on the name-pair graph;
    * election is one per-entity top-1 window. Nothing row-scale moves
    * after the initial name-frequency aggregation. */
  def goldenRecords(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    val a = names.select(col("block"), col("name").as("name_a"), col("freq").as("freq_a"))
    val b = names.select(col("block"), col("name").as("name_b"), col("freq").as("freq_b"))
    val pairs = a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .filter(levenshtein(col("name_a"), col("name_b")).between(1, 3))
      .select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
    val labels = connectedComponents(pairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lbl")).orderBy(col("freq").desc, col("node"))
    labels.join(names.withColumnRenamed("name", "node"), Seq("node"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("lbl"))
      .agg(max(when(col("rk") === 1, col("node"))).as("golden_name"),
        count(lit(1)).cast("bigint").as("n_variants"),
        sum(col("freq")).cast("bigint").as("n_rows"))
      .select(col("lbl").as("entity"), col("golden_name"),
        col("n_variants"), col("n_rows"))
      .orderBy(col("entity"))
  }

  /** Oracle: q139's pair SQL + WITH RECURSIVE reachability (the q63
    * independent-formulation cross-check) + the same election. */
  val goldenRecordsSql: String =
    """WITH RECURSIVE names AS (
      |  SELECT p_name AS name, COUNT(*) AS freq,
      |    string_split(p_name, ' ')[-1] AS block
      |  FROM part GROUP BY 1),
      |pairs AS (
      |  SELECT a.name AS name_a, b.name AS name_b
      |  FROM names a JOIN names b USING (block)
      |  WHERE a.name < b.name AND levenshtein(a.name, b.name) BETWEEN 1 AND 3),
      |edges AS (
      |  SELECT name_a AS src, name_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT name_b, name_a FROM pairs),
      |cc AS (
      |  SELECT DISTINCT src AS node, src AS lbl FROM edges
      |  UNION
      |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON e.dst = cc.node),
      |lab AS (SELECT node, MIN(lbl) AS entity FROM cc GROUP BY node),
      |ranked AS (
      |  SELECT lab.entity, lab.node, names.freq,
      |    ROW_NUMBER() OVER (PARTITION BY lab.entity
      |      ORDER BY names.freq DESC, lab.node) AS rk
      |  FROM lab JOIN names ON lab.node = names.name)
      |SELECT entity,
      |  MAX(CASE WHEN rk = 1 THEN node END) AS golden_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_variants,
      |  CAST(SUM(freq) AS BIGINT) AS n_rows
      |FROM ranked GROUP BY entity ORDER BY entity""".stripMargin

  /** Thresholds (percent) swept by [[dedupSensitivity]]. */
  private val SensitivityThresholds = Seq(80, 85, 90, 95, 100)

  /** Q208: DEDUP THRESHOLD SENSITIVITY — the capacity-planning sweep a
    * team runs BEFORE committing to a near-dup threshold: for each
    * candidate θ (80..100%, all ≥ the q185 artifact's 0.8 build
    * threshold, so the artifact is complete for every row), the
    * verified pair count, distinct documents involved, and their share
    * of the corpus. Read together the rows say how sharply dedup yield
    * falls as θ tightens — the number that decides θ, which then
    * decides q63/q64/q196's entire downstream.
    *
    * Exactness: a pair passes θ iff 100·n_inter ≥ θ·n_union — pure
    * integer cross-multiplication, never a float threshold. The corpus
    * doc count is a 1-value driver scalar (q167's bounded-control-flow
    * pattern — keeps the share arithmetic out of a single-row BNLJ).
    *
    * Scale shape: one read of the persisted pair artifact, a 5-way
    * generator explode ON THE BOUNDED PAIR FRAME (never the corpus),
    * distinct + two map-side-combined counts into the 5-row report. */
  def dedupSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull).count() // 1-value driver scalar
    val pairs = prefixPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
    val swept = pairs
      .withColumn("th_pct",
        explode(typedLit(SensitivityThresholds)))
      .filter(lit(100) * col("n_inter") >= col("th_pct") * col("n_union"))
    val pairCounts = swept.groupBy(col("th_pct"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"))
    val docCounts = swept
      .select(col("th_pct"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy(col("th_pct"))
      .agg(count(lit(1)).cast("bigint").as("n_docs_affected"))
    // report FROM the threshold dimension: a θ at which zero pairs
    // survive must still report (θ, 0, 0, 0) — a silently-missing row
    // reads as "not swept", the no-silent-caps rule
    val th = spark.range(1)
      .select(explode(typedLit(SensitivityThresholds)).as("th_pct"))
    th.join(pairCounts, Seq("th_pct"), "left")
      .join(docCounts, Seq("th_pct"), "left")
      .select(col("th_pct").cast("int").as("th_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        dec6(coalesce(col("n_docs_affected"), lit(0L)).cast("decimal(19,0)")
          / lit(nDocs).cast("decimal(19,0)")).as("affected_share"))
      .orderBy(col("th_pct"))
  }

  /** Oracle: the q185 brute-force co-occurrence chain (completeness
    * argument at [[prefixJaccardJoinSql]]) swept over the same integer
    * thresholds. */
  val dedupSensitivitySql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
       |           FROM documents WHERE text IS NOT NULL),
       |shl AS (SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(t) - 2),
       |           g -> array_to_string(t[g:g+2], ' '))) AS ts
       |       FROM d WHERE len(t) >= 3),
       |sz AS (SELECT doc_id, len(ts) AS s FROM shl),
       |grams AS (SELECT doc_id, unnest(ts) AS sh FROM shl),
       |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |       FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b, n_inter, sa.s + sb.s - n_inter AS n_union
       |      FROM co JOIN sz sa ON doc_a = sa.doc_id
       |      JOIN sz sb ON doc_b = sb.doc_id
       |      WHERE $PjDen * n_inter >= $PjNum * (sa.s + sb.s - n_inter)),
       |th(th_pct) AS (VALUES (80), (85), (90), (95), (100)),
       |sel AS (SELECT th.th_pct, doc_a, doc_b, n_inter, n_union
       |        FROM p, th WHERE 100 * n_inter >= th.th_pct * n_union),
       |pc AS (SELECT th_pct, COUNT(*) AS n_pairs FROM sel GROUP BY 1),
       |dc AS (SELECT th_pct, COUNT(*) AS n_docs_affected FROM (
       |         SELECT DISTINCT th_pct, doc_a AS dd FROM sel
       |         UNION SELECT DISTINCT th_pct, doc_b FROM sel)
       |       GROUP BY 1),
       |nd AS (SELECT COUNT(*) AS n FROM documents WHERE text IS NOT NULL)
       |SELECT CAST(th.th_pct AS INT) AS th_pct,
       |  CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(dc.n_docs_affected, 0) AS BIGINT) AS n_docs_affected,
       |  CAST((2 * COALESCE(dc.n_docs_affected, 0) * 1000000 + nd.n)
       |    // (2 * nd.n) AS DOUBLE) / 1000000 AS affected_share
       |FROM th LEFT JOIN pc ON th.th_pct = pc.th_pct
       |LEFT JOIN dc ON th.th_pct = dc.th_pct CROSS JOIN nd
       |ORDER BY th_pct""".stripMargin

  /** q216 neighborhood width: each record pairs with the next
    * [[SnmWindow]]−1 records in the sorted order. */
  private val SnmWindow = 8

  /** Q216: SORTED-NEIGHBORHOOD DEDUP (Hernández–Stolfo SNM) — the
    * third classical blocking family, completing the set: q30 blocks
    * by equality on derived keys, q31/q185 by hash/prefix collision;
    * SNM blocks by PROXIMITY IN A SORT ORDER — sort the corpus by a
    * discriminative key, slide a width-w window over the sorted
    * sequence, verify only window-mates. Catches near-dups equality
    * blocking structurally cannot (two docs whose block keys all
    * differ but that sort adjacently), at a HARD candidate budget:
    * exactly (w−1)·n pairs, the only blocking scheme whose worst case
    * is linear by construction (q30's blocks grow with skew, LSH's
    * with collision rates). Sort key (n_chars, first token, doc_id);
    * window w = 8; verified at distinct-token Jaccard ≥ 0.8 (q30's
    * threshold); output adds the rank gap at which the pair met — the
    * SNM capacity-planning signal (gaps hugging w−1 mean the window
    * is too narrow). Multi-pass SNM = union of this query under
    * rotated keys; one pass suffices here.
    *
    * Exactness: the sort rank is a pure function of data values
    * ((n_chars, ftok, doc_id) is a total order — no partition-id or
    * sample-dependent rank), so ranks, pairs and gaps replay
    * bit-for-bit on both engines and under any parallelism; jaccard
    * publishes at dec6 via the shared micro-unit form.
    *
    * Scale shape: NO global sort and NO unpartitioned window over the
    * row-scale frame. Rank = histogram two-pass (the q183 tercile
    * machinery): base offsets from a cumsum over the BOUNDED n_chars
    * value-histogram (broadcast back — ≤ max-doc-length rows, the
    * q211 boundedness argument), plus a row_number partitioned BY
    * LENGTH GROUP for the within-group order. Neighbor pairs are an
    * EQUI-join on integer rank (each row exploded to its w−1 successor
    * ranks — rank+id only, the candidate-pairs-before-payload rule);
    * token sets are fetched per side after the pair set is resolved.
    * Every stage is linear; the window never materializes globally. */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL text excluded on BOTH engines: Spark ranks NULLs FIRST while
    // DuckDB's ROW_NUMBER ranks them LAST, which would shift every
    // neighbor-window rank (latent — current fixtures have no NULLs).
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("n_chars").as("v"),
        element_at(split(col("text"), " "), 1).as("ftok"))
    val hist = docs.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val byV = Window.partitionBy().orderBy(col("v"))
    val base = hist.withColumn("base",
      coalesce(sum(col("c")).over(
        byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val inGroup = Window.partitionBy(col("v"))
      .orderBy(col("ftok"), col("doc_id"))
    val ranked = docs
      .join(broadcast(base.select(col("v"), col("base"))), Seq("v"))
      .withColumn("rn", col("base") + row_number().over(inGroup))
      .select(col("rn"), col("doc_id"))
    // (round-12 note: checkpointing `ranked` measured FLAT — the verify
    // stage's tokenize+intersect dominates and exchange reuse already
    // shares the scan below the rank window — so the double reference
    // stays un-materialized.)
    val lhs = ranked
      .withColumn("tgt", explode(array(
        (1 until SnmWindow).map(j => col("rn") + j): _*)))
      .select(col("tgt"), col("rn").as("rn_l"), col("doc_id").as("id_l"))
    val cand = lhs.join(
        ranked.select(col("rn").as("tgt"), col("doc_id").as("id_r")),
        Seq("tgt"))
      .select(least(col("id_l"), col("id_r")).as("doc_a"),
        greatest(col("id_l"), col("id_r")).as("doc_b"),
        (col("tgt") - col("rn_l")).as("rank_gap"))
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .withColumn("nt", size(col("toks")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        col("nt").as("nt_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("nt").as("nt_b")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("n_union", col("nt_a") + col("nt_b") - col("n_inter"))
      .filter(col("n_inter").cast("double") / col("n_union") >= NdTau)
      .select(col("doc_a"), col("doc_b"), col("rank_gap").cast("bigint").as("rank_gap"),
        dec6(col("n_inter").cast("decimal(18,0)") / col("n_union")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: the same total order spelled as one ROW_NUMBER (DuckDB
    * runs at oracle scale, where a global sort is fine), rank-band
    * self-join, identical verify arithmetic. */
  val sortedNeighborhoodSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, string_split(text, ' ')[1] AS ftok,
       |    list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, toks,
       |        ROW_NUMBER() OVER (ORDER BY n_chars, ftok, doc_id) AS rn
       |      FROM d),
       |cand AS (
       |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
       |    GREATEST(a.doc_id, b.doc_id) AS doc_b,
       |    b.rn - a.rn AS rank_gap, a.toks AS ta, b.toks AS tb
       |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn < a.rn + $SnmWindow),
       |p AS (
       |  SELECT doc_a, doc_b, rank_gap,
       |    len(list_intersect(ta, tb)) AS n_inter,
       |    len(ta) + len(tb) - len(list_intersect(ta, tb)) AS n_union
       |  FROM cand
       |  WHERE CAST(len(list_intersect(ta, tb)) AS DOUBLE)
       |      / (len(ta) + len(tb) - len(list_intersect(ta, tb))) >= $NdTau)
       |SELECT doc_a, doc_b, CAST(rank_gap AS BIGINT) AS rank_gap,
       |  CAST((2 * n_inter * 1000000 + n_union) // (2 * n_union) AS DOUBLE)
       |    / 1000000 AS jaccard
       |FROM p ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle of [[dedupStrategyOverlap]]: the two existing replays
    * embedded VERBATIM as subqueries — any fix to either propagates
    * here by construction. */
  val dedupStrategyOverlapSql: String =
    s"""WITH blk AS (SELECT doc_a, doc_b FROM ($neardupJaccardSql)),
       |snm AS (SELECT doc_a, doc_b FROM ($sortedNeighborhoodSql)),
       |j AS (
       |  SELECT COALESCE(blk.doc_a, snm.doc_a) AS doc_a,
       |    blk.doc_a IS NOT NULL AS in_blk, snm.doc_a IS NOT NULL AS in_snm
       |  FROM blk FULL OUTER JOIN snm
       |    ON blk.doc_a = snm.doc_a AND blk.doc_b = snm.doc_b)
       |SELECT CAST(SUM(CASE WHEN in_blk THEN 1 ELSE 0 END) AS BIGINT) AS n_blocking,
       |  CAST(SUM(CASE WHEN in_snm THEN 1 ELSE 0 END) AS BIGINT) AS n_snm,
       |  CAST(SUM(CASE WHEN in_blk AND in_snm THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |  CAST(SUM(CASE WHEN in_blk AND NOT in_snm THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_only_blocking,
       |  CAST(SUM(CASE WHEN NOT in_blk AND in_snm THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_only_snm
       |FROM j""".stripMargin

  def queries: Map[String, Relational.Q] = Map(
    "q257_dedup_overlap" -> (dedupStrategyOverlap _),
    "q216_sorted_neighborhood" -> (sortedNeighborhood _),
    "q208_dedup_sensitivity" -> (dedupSensitivity _),
    "q185_prefix_jaccard_join" -> (prefixJaccardJoin _),
    "q196_token_yield" -> (tokenYield _),
    "q162_golden_records" -> (goldenRecords _),
    "q139_fuzzy_linkage" -> (fuzzyLinkage _),
    "q29_dedup_exact" -> (dedupExact _),
    "q30_neardup_jaccard" -> (neardupJaccard _),
    "q31_minhash_lsh" -> (minhashLsh _),
    "q261_minhash_lsh_md5" -> (minhashLshMd5 _),
    "q32_simhash" -> (simhash _),
    "q201_simhash_md5" -> (simhashMd5 _),
    "q44_neardup_embedding" -> (neardupEmbedding _),
    "q63_dup_clusters" -> (dupClusters _),
    "q64_canonical_docs" -> (canonicalDocs _),
  )

  def oracles: Map[String, String] = Map(
    "q257_dedup_overlap" -> dedupStrategyOverlapSql,
    "q216_sorted_neighborhood" -> sortedNeighborhoodSql,
    "q208_dedup_sensitivity" -> dedupSensitivitySql,
    "q185_prefix_jaccard_join" -> prefixJaccardJoinSql,
    "q196_token_yield" -> tokenYieldSql,
    "q162_golden_records" -> goldenRecordsSql,
    "q139_fuzzy_linkage" -> fuzzyLinkageSql,
    "q29_dedup_exact" -> dedupExactSql,
    "q30_neardup_jaccard" -> neardupJaccardSql,
    "q63_dup_clusters" -> dupClustersSql,
    "q64_canonical_docs" -> canonicalDocsSql,
    // q31/q32 intentionally omitted: xxhash64-based, not expressible in
    // portable SQL; covered by DedupSpec against the exact-Jaccard oracle.
    // q201 is q32's md5 twin — same majority-vote logic, fully oracled.
    // q261 is q31's md5 twin — same banded pipeline, fully oracled.
    "q201_simhash_md5" -> simhashMd5Sql,
    "q261_minhash_lsh_md5" -> minhashLshMd5Sql,
  )
}
