package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan scale invariants, shared by the [[PlanAudit]] dev tool
  * and `PlanInvariantsSpec` (which promotes them into `sbt test` so a
  * plan regression fails CI instead of waiting for a judge's manual
  * audit). The invariants are the 100 TB review rules:
  *
  *  - NO `CartesianProductExec` anywhere (a cartesian that "works" at
  *    sf0.001 is a cluster-killer at scale);
  *  - `BroadcastNestedLoopJoin` only where a bounded broadcast side is
  *    the design (see [[bnlAllowlist]] — single-row scalar frames and
  *    the by-design brute-force baselines);
  *  - a per-query shuffle ceiling ([[shuffleCeiling]]) so an extra
  *    exchange sneaking into a plan is caught the day it lands.
  */
object PlanInvariants {

  /** Walk every node of an executed plan, unwrapping AQE wrappers:
    * `AdaptiveSparkPlanExec` hides the executed plan behind a field and
    * `QueryStageExec` hangs its stage plan off `plan`, not `children` —
    * without unwrapping, stage-local joins and codegen spans are
    * invisible. Subquery plans are walked too (a cartesian inside a
    * scalar subquery is still a cartesian). */
  def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case q: QueryStageExec => q +: collectAll(q.plan)
      case _ => Seq(p)
    }
    self ++ p.children.flatMap(collectAll) ++
      p.subqueries.flatMap(collectAll)
  }

  /** Structural audit of one query's EXECUTED plan. The caller must
    * execute the very DataFrame instance it passes (under AQE, join
    * picks happen per stage during execution; an unexecuted adaptive
    * plan still shows its initial state). */
  final case class Audit(
      shuffles: Int,
      cartesians: Int,
      broadcastNestedLoops: Int,
      nodeNames: Seq[String])

  def audit(df: DataFrame): Audit = {
    df.collect() // materialize THIS instance's adaptive plan (tiny SF only)
    val nodes = collectAll(df.queryExecution.executedPlan)
    val names = nodes.map(_.nodeName)
    Audit(
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      cartesians = names.count(_.contains("CartesianProduct")),
      broadcastNestedLoops = names.count(_.contains("BroadcastNestedLoopJoin")),
      nodeNames = names)
  }

  /** Queries whose BroadcastNestedLoopJoin is the DESIGN, each with a
    * bounded broadcast side:
    *  - q33: brute-force cosine top-k — the oracled full-scan baseline
    *    (q34/q59 are the scale paths); broadcasts the tiny query set;
    *  - q35: centroid theta-join over a label-bounded frame;
    *  - q66/q89/q93/q120/q130: a single-row scalar (corpus doc count /
    *    total weight / corpus+vocab token totals) crossJoin-broadcast
    *    into the scoring scan;
    *  - q121: the 1-row probe (projection + codes) crossJoin-broadcast
    *    into the projected-space prefilter scan;
    *  - q140: the 1-row edge/triangle counts crossJoin-broadcast into
    *    the 1-row wedge frame for the summary record. */
  val bnlAllowlist: Set[String] =
    Set("q33_cosine_topk", "q35_label_centroids", "q66_distinctive_terms",
      "q89_token_rarity", "q93_mixture_resample", "q120_distribution_anomaly",
      "q121_rp_ann", "q130_token_cooccurrence", "q134_skew_profile",
      "q140_dup_triangles",
      // q203/q205/q206/q207: q33's brute-force-baseline rationale — the
      // bounded query frame broadcasts into the corpus scan under a
      // non-equi (id/label inequality) condition
      "q203_hard_negatives", "q205_truncation_recall",
      "q206_label_precision", "q207_rrf_fusion",
      // q227/q236: the 1-row corpus-horizon aggregate broadcast into
      // the per-user frame on a constant key — Spark folds the
      // always-true equi-condition into a BNLJ; the broadcast side is
      // exactly one row at any corpus size (the q66 scalar-crossJoin
      // rationale)
      "q227_kaplan_meier", "q236_log_rank",
      // q254/q255: the 1-row day-origin aggregate crossJoin-broadcast
      // into the event scan (the q66 scalar rationale)
      "q254_haar_energy", "q255_cuped_adjustment",
      // q249: the 5-row probe frame (query codes + ADC tables)
      // crossJoin-broadcast into the coded-corpus scan — the q33
      // brute-force-baseline rationale (the audit IS the exact branch)
      "q249_pq_adc_recall",
      // q240: bounded × bounded dim cross (global value CDF ×
      // per-source totals — ≤ |values|·|sources| ≈ 1e4 rows at any SF;
      // the q35 label-bounded rationale). q241: the 1-row collected
      // pooled-CDF array broadcast on a constant key (q66 rationale)
      "q240_wasserstein_drift", "q241_quantile_normalize",
      // q267: the 1-row corpus (N, Σdl) scalar crossJoin-broadcast
      // into the per-(doc, term) scoring frame (q66 rationale)
      "q267_bm25_topk",
      // q269: the two 1-row marginal-witness aggregates (group and
      // value tie sums) crossJoin-broadcast into the 1-row pair-sweep
      // frame (q140's summary-record rationale)
      "q269_jonckheere_trend",
      // q275: the 1-row corpus-totals reduce crossJoin-broadcast into
      // the ≤1001-row exact-score bin frame, and the 1-row REL reduce
      // back into the totals row (q66 scalar rationale, twice)
      "q275_brier_decomposition",
      // q279: the 1-row margin-totals reduce crossJoin-broadcast into
      // the 10-cell contingency frame (q66 scalar rationale)
      "q279_pearson_residuals",
      // q281: the 1-row sample-quantile frame crossJoin-broadcast into
      // the rank-audit scan (q66 scalar rationale)
      "q281_sampled_quantiles",
      // q283: two 1-row collected-sample frames crossJoined for the
      // in-expression pair sweep (q140's summary-record rationale)
      "q283_energy_distance",
      // q285: the 1-row observed-gap frame crossJoin-broadcast into
      // the 32-row permutation frame (q66 scalar rationale)
      "q285_permutation_test",
      // q293: the exact-rational lift ranking is a 40×40 non-equi
      // self-join on the BOUNDED rule frame (both directions of the
      // persisted top-20 pairs — bounded by the mining parameter K,
      // never by the corpus; the q140 summary-record rationale)
      "q293_lift_top_rules")

  /** Per-query shuffle ceilings above the [[defaultShuffleCeiling]].
    * These are the audited round-5 counts — intentionally exact, so an
    * unexplained extra exchange fails the suite:
    *  - q79 runs a multi-table constraint suite (inherent: one agg per
    *    constraint family);
    *  - q66 chains doc-frequency, term-frequency and rank stages;
    *  - q103's partitioning-key chain is inherent to exact span scrub:
    *    gram-hash (dup grams) -> doc_id (island window) -> content-hash
    *    (global keeper window) -> doc_id (accounting) -> range (ordered
    *    output). Returning from content-hash space to doc space cannot
    *    reuse a prior partitioning;
    *  - q115's Jaccard denominators need per-source totals over ALL
    *    grams (shared or not), so the totals branch re-aggregates the
    *    shared distinct-posting frame: distinct -> totals agg ->
    *    gram-set agg -> pair agg -> output sort. Every exchange after
    *    the first carries bounded-cardinality rows (<= |sources| or
    *    <= C(|sources|, 2) per gram);
    *  - q126 fans the one row-scale token stream into four independent
    *    aggregations (per-(source, token) counts, per-source totals,
    *    per-source doc counts, old-side vocabulary) plus the drift agg
    *    and output sort — after the first, every exchange carries
    *    <= |sources| x |vocab| rows;
    *  - q129 is K=5 fixed PageRank rounds: each round is one
    *    edges-by-src join + one dst-keyed aggregation over
    *    postings-bounded/node-bounded frames (iteration is the
    *    algorithm, not a plan accident), on top of the gram-star edge
    *    build;
    *  - q134 unions three independent key profiles; each pays its own
    *    count aggregation (the very shuffle it audits), stats
    *    aggregation and top-key pick over bounded frames;
    *  - q140's census fans the deduped edge list into three
    *    independent bounded aggregates (degree/wedge, edge count, and
    *    the two-hop triangle join) — after the edge distinct, every
    *    exchange carries posting-capped pair rows or 1-row frames. */
  val shuffleCeiling: Map[String, Int] =
    Map("q79_constraint_suite" -> 7, "q66_distinctive_terms" -> 6,
      "q103_span_scrub" -> 5, "q115_source_overlap" -> 5,
      "q126_version_drift" -> 6, "q129_dup_pagerank" -> 10,
      "q134_skew_profile" -> 12, "q140_dup_triangles" -> 12,
      // q176 audits THREE independent cardinality profiles (exact,
      // 16-bucket, 256-bucket) — each pays its own per-side count
      // aggregation + 1-row reduce, the q134 "pays the shuffle it
      // audits" argument; after the first agg every exchange carries
      // key/bucket frames, never raw rows
      "q176_join_cardinality" -> 9,
      // q177's bucketized sweep line: session window, per-(type,hour)
      // net agg, bounded offset window, within-bucket running sums,
      // bounded peak window + output sort — the offset machinery is
      // the price of never running a global per-type ordered sum
      "q177_peak_concurrency" -> 6,
      // q183 fits a bigram LM then scores with it: pair-stream ->
      // bigram-count agg (row-scale), left-context window over the
      // bounded <= (V+1)^2 model frame, per-doc score agg (row-scale),
      // (source, bucket) report agg + output sort. After the two
      // row-scale aggregations every exchange carries the bounded
      // model frame or the (source, bucket) grid
      "q183_bigram_surprisal" -> 5,
      // q185 prefix-filtered similarity join: shingle-df agg, per-doc
      // prefix window, prefix self-join on shingle, candidate distinct,
      // output sort — after the window every exchange carries prefix
      // shingles or candidate pairs, never document payloads;
      // verification rides entirely on broadcasts
      "q185_prefix_jaccard_join" -> 5,
      // q187 embeds q185's five-exchange pipeline and adds the bounded
      // source-pair rollup; the doc->source joins are broadcasts
      "q187_mirror_matrix" -> 6,
      // q207 fuses two independently-ranked lists: after the two top-k
      // windows every frame is bounded by NQueries·K (≤ 50 rows), and
      // Spark cannot broadcast ANY side of a FULL OUTER join — so the
      // fuse join pays two bounded exchanges plus the fused-rank
      // window and output sort. Six exchanges, four of which carry
      // ≤ 2k rows per query at any corpus size.
      "q207_rrf_fusion" -> 6,
      // q226's grouped collocation chain: df agg (row-scale), top-V
      // window over the vocab-scale df frame, per-doc regroup of the
      // universe-filtered tokens, pair agg, the bounded rank window
      // and output sort — after the regroup every exchange carries
      // ≤ |sources|·C(50,2) pair rows; the universe filter and both
      // denominator joins ride broadcasts of the bounded top-V frame
      "q226_cooccurrence_lift" -> 7,
      // q240/q241 build three independent bounded-frame inputs (the
      // (source, v) rollup, the global value CDF, the per-source
      // totals) before the bounded-grid windows and output sort; only
      // the three initial rollups see row scale — every later exchange
      // carries ≤ |sources|·|values| rows (n_chars is domain-bounded)
      "q240_wasserstein_drift" -> 5,
      "q241_quantile_normalize" -> 7,
      // q257 COMPOSES two full audited producers (q30's block-verify
      // pipeline + q216's two-pass-rank SNM pipeline) plus the pair-
      // keyed full-outer join and the 1-row reduce — its exchanges are
      // the union of its producers', each individually ceiling-checked;
      // the audit itself adds only bounded pair-frame exchanges
      "q257_dedup_overlap" -> 8,
      // q263 audits THREE independent lattice levels (the q134 "pays
      // the shuffle it audits" argument): each level pays an
      // order-keyed extension join over the candidate-filtered item
      // scan plus its (itemset, extension)-keyed count and the
      // bounded per-itemset max — after each count every exchange
      // carries ≤ 40/20/10-itemset frames; the L1/L2/L3 candidate
      // frames themselves ride in as broadcasts from the persisted
      // basket artifacts
      "q263_closed_itemsets" -> 8,
      // q292 runs q263's three-level lattice plan verbatim (shared
      // itemsetLattice) — same exchange budget, plus nothing: the
      // maximality flags are map-side literals over the same frame
      "q292_maximal_itemsets" -> 8,
      // q277 pays one pushdown-pruned distinct per FIXED flag branch
      // (3 — each feeding a distributed TakeOrdered bottom-k) plus the
      // two-stage exact-count-distinct audit; every post-distinct
      // frame is ≤ 64 rows
      "q277_kmv_cardinality" -> 6)

  /** Every other plan holds at <= 4 exchanges today (audited r5). */
  val defaultShuffleCeiling: Int = 4

  def ceilingFor(name: String): Int =
    shuffleCeiling.getOrElse(name, defaultShuffleCeiling)
}
