package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan shape regressions: the plans that must survive a 100×
  * scale-up (SURVEY.md §4). These assert on the formatted plan text at
  * sf0.001 — shape, not timing.
  */
class PlanShapeSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(n: String): String =
    SparkEntry.queries(n)(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Shuffle-exchange count. Formatted mode puts the node name and its
    * arguments on SEPARATE lines — a `"Exchange hashpartitioning"`
    * substring never matches, which silently turned every upper-bound
    * pin vacuous (found building BucketedJoinSpec's lower-bound twin).
    * Count the argument lines instead; rangepartitioning (output sorts)
    * and BroadcastExchange are deliberately excluded.
    */
  private def shuffles(p: String): Int =
    "Arguments: hashpartitioning".r.findAllMatchIn(p).size

  test("q01: filter + projection reach the parquet scan; partial agg before shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_quantity") && !rs.contains("l_partkey"), rs)
    assert(p.contains("partial_count"))
  }

  test("q04: both dims broadcast, fact never shuffles before aggregation") {
    val p = plan("q04_star_broadcast_join")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("bucketed non-equi joins plan as hash joins, not nested loops") {
    val asOf = plan("q23_asof_join")
    assert(!asOf.contains("BroadcastNestedLoopJoin"))
    assert(!asOf.contains("CartesianProduct"))
    // q24's replication clamp adds ONE intentional BNL branch for
    // over-wide outlier intervals (normally empty); the bulk path must
    // still be a hash join and nothing may plan a cross product
    val iv = plan("q24_interval_join")
    assert(!iv.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(iv).size <= 1)
    assert(iv.contains("HashJoin"), "bucketed path must hash-join")
  }

  test("q25: distance join = broadcast equi join + refine, no cross product") {
    val p = plan("q25_distance_join")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
  }

  test("q42: LSH candidate join is an equi join, no cross product") {
    // materialize=false: the query-level plan is a checkpointed RDD scan
    // (pairs are computed eagerly once); the shape that must hold at scale
    // is the *lazy* sketch+join plan
    val p = operators.Dedup
      .minhashLshPairs(Tables.documents(spark, d), "doc_id", "text", materialize = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q43: SimHash candidate join is an equi join, no cross product") {
    val p = operators.Dedup
      .simhashPairs(Tables.documents(spark, d), "doc_id", "text", materialize = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q46: queries broadcast (BuildRight), corpus streams into a bounded top-k aggregate") {
    val p = plan("q46_ann_topk")
    // the q<>c condition is non-equi by design: tiny build side broadcast
    assert(p.contains("BroadcastNestedLoopJoin Inner BuildRight"))
    // ranking is the O(k)-state aggregate — candidates must NOT flow
    // through a window sort (|corpus|x|queries| rows materialized)
    assert(!p.contains("WindowGroupLimit") && !p.contains(" Window "), p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(p.contains("Aggregate"), "bounded top-k aggregate expected")
  }

  test("q62: packing cumsum windows on (lang, shard), never lang alone") {
    val p = plan("q62_seq_pack")
    // the doc-grain window must carry the shard in its partition spec — a
    // lang-only partition funnels each language's whole token stream into
    // one task at scale
    assert("windowspecdefinition\\(lang#\\d+, shard#\\d+L?, doc_id#\\d+L? ASC".r
      .findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
    assert("windowspecdefinition\\(lang#\\d+, doc_id#".r.findFirstIn(p).isEmpty,
      "lang-only doc-grain window is the single-task-per-language funnel")
    assert(!p.contains("SortMergeJoin"), "shard-offset frame must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q63: fingerprint decontamination is a hash equi-join, no nested loop") {
    // q60's BNL containment join is quadratic in the phrase count; the
    // fingerprint path must stay a hash probe per shingle
    val p = plan("q63_decontaminate_fingerprint")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q65: repetition metrics are map-side — no explode, no join, one rollup shuffle") {
    val p = plan("q65_repetition_filter")
    assert(!p.contains("Join"), "repetition metrics must not join")
    assert(!p.contains("Generate"), "per-doc stats must not explode grams")
    assert(shuffles(p) <= 1, "rollup only")
    assert(p.contains("partial_count"), "map-side combine into the rollup")
  }

  test("q66: mixture dims broadcast back, corpus never shuffle-joins") {
    val p = plan("q66_domain_mix_sample")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "20-row rate dim must broadcast")
  }

  test("q67: keyword top-k windows per document, joins stay equi") {
    val p = plan("q67_keyword_extract")
    assert(p.contains("windowspecdefinition(doc_id"),
      p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q69: chunk explode is map-side — no aggregate exchange, no join") {
    val p = plan("q69_chunk_windows")
    assert(!p.contains("Join"))
    assert(shuffles(p) == 0,
      "sequence-per-row explode must not shuffle")
  }

  test("q70: stratified sample windows per stratum, never globally") {
    val p = plan("q70_stratified_sample")
    assert(p.contains("windowspecdefinition(source"),
      p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
    assert(!p.contains("Join"))
  }

  test("q71: BPE pair top-k is TakeOrderedAndProject over one count shuffle") {
    val p = plan("q71_bpe_pair_counts")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count"), "map-side combine before the pair shuffle")
  }

  test("q72: multi-probe LSH joins hash on the probe bucket, queries broadcast") {
    val p = plan("q72_lsh_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q73: delivery DAG — dims broadcast, adjacency windows at sample grain") {
    val p = plan("q73_shark_delivery")
    // sample-grain joins are UNHINTED since round 15 (a forced hint
    // materialized a 2 GB broadcast at the sf10 decade): at dim-like
    // sizes the size-based planner must still pick broadcast — this pin
    // now guards the ESTIMATE path, while large sizes fall back to the
    // shuffle join by design
    assert(!p.contains("SortMergeJoin"),
      "sample dim / flags / adjacency should size-estimate to broadcast at sf0.001")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "rollup combines map-side")
    // the adjacency window orders by sample only AFTER the distinct —
    // at (sample, class) grain tie order would be nondeterministic
    assert(p.contains("windowspecdefinition"), "adjacency window present")
  }

  test("q101: hierarchical IVF — codebook joins broadcast at dim sizes, fine codebook read from cache") {
    val p = plan("q101_hierarchical_ivf")
    // the codebook is a persisted k-row frame: at any dim-like size the
    // planner must broadcast it against the corpus (no hint — the whole
    // point is that extreme k falls back to a coarse-keyed shuffle)
    assert(p.contains("BroadcastHashJoin"), "codebook join should broadcast here")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryTableScan"),
      "fine codebook must come from the persisted frame, not retrain")
  }

  test("q78: BPE encode is map-side — no join, merges inlined as literals") {
    val p = plan("q78_bpe_encode")
    assert(!p.contains("Join"), "merge list must inline, never join")
    assert(p.contains("partial_count"), "per-lang rollup combines map-side")
    assert(shuffles(p) <= 2) // agg + sort
  }

  test("q79: quantization is map-side HOFs — no join, one rollup shuffle") {
    val p = plan("q79_embedding_quantize")
    assert(!p.contains("Join"))
    assert(shuffles(p) <= 2) // agg + sort
    assert(p.contains("partial_count"))
  }

  test("q76/q77: skew pair shuffle-joins (dim must not broadcast); salted keys carry the salt") {
    val salted = plan("q76_skew_join_salted")
    val unsalted = plan("q77_skew_join_unsalted")
    // the scenario is a non-broadcastable dim: a BroadcastHashJoin would
    // dodge the shuffle whose skew the pair exists to measure
    assert(!salted.contains("BroadcastHashJoin") && salted.contains("SortMergeJoin"))
    assert(!unsalted.contains("BroadcastHashJoin") && unsalted.contains("SortMergeJoin"))
    assert(salted.contains("__salt"), "salted join must key on (uid, __salt)")
    assert(!unsalted.contains("__salt"))
  }

  test("q82: one user-keyed exchange carries both the session window and the rollup") {
    val p = plan("q82_sessionize")
    // hashpartitioning(user_id) satisfies the (user_id, session_id)
    // clustering of the rollup, so EnsureRequirements must not add a
    // second exchange — at scale the event table shuffles exactly once
    assert(shuffles(p) == 1,
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
    assert(p.contains("windowspecdefinition(user_id"),
      "session window must partition by user")
    assert(!p.contains("Join"))
  }

  test("q85: corpus never shuffles pre-rollup — rate dims broadcast back") {
    val p = plan("q85_mixture_resample")
    // both hash exchanges carry per-source partial aggregates, never doc
    // rows: source-budget dim agg + final rollup, map-side combine on
    // each; the global totals ride an empty-partition window over the
    // tiny dim instead of a duplicated corpus-agg branch
    assert(shuffles(p) <= 2,
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
    assert(p.contains("partial_sum"), "map-side combine into both aggs")
    assert(p.contains("BroadcastHashJoin"), "rates dim must broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q86: funnel is staged min-aggs — no event sort, no window") {
    val p = plan("q86_funnel")
    assert(!p.contains("windowspecdefinition"),
      "funnel stages must aggregate, not sort events through a window")
    assert(p.contains("partial_min"), "stage minima combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q88: PSD flags — metrics dim broadcast, histogram + sample aggs only") {
    val p = plan("q88_psd_flags_full")
    assert(p.contains("BroadcastHashJoin"), "instrument dim must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(shuffles(p) <= 2, // (sample, bucket) histogram + sample rollup
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
    assert(p.contains("partial_count"), "histogram combines map-side")
  }

  test("q89: trained IVF — queries broadcast, corpus maps cells in place, O(k) ranking") {
    val p = plan("q89_ivf_ann_trained")
    assert(p.contains("BroadcastHashJoin"), "probe-exploded queries must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    // ranking is the bounded aggregate, not a per-query window sort
    assert(!p.contains("WindowGroupLimit") && !p.contains("windowspecdefinition"))
  }

  test("q100: full-trained IVF search plan matches q89's shape") {
    // the trainer differs (distributed Lloyd vs driver sample); the
    // SEARCH plan must not — same broadcast/probe/ranking discipline
    val p = plan("q100_ivf_ann_full_trained")
    assert(p.contains("BroadcastHashJoin"), "probe-exploded queries must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    assert(!p.contains("WindowGroupLimit") && !p.contains("windowspecdefinition"))
  }

  test("q90: EcoTaxa rollup — class dim broadcast, projection map-side") {
    val p = plan("q90_ecotaxa_export")
    assert(p.contains("BroadcastHashJoin"), "part-class dim must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count"), "category rollup combines map-side")
    // round-20 (r19 verdict task 6): the two string mins ran as LONG
    // carriers so NO phase of the rollup is sort-based — min(string)'s
    // immutable buffer previously forced all four phases into
    // SortAggregate, a map-side sort of the full joined input and a
    // spill risk at deployment scale (guide §4/§5)
    assert(!p.contains("SortAggregate"),
      "string-min carriers must keep the whole rollup in HashAggregate")
  }

  test("q91: SemDeDup rollup reads the pinned assignment once — no kernel re-run") {
    val p = plan("q91_semdedup")
    // the intra-cell pair join runs eagerly inside semDedupAssigned
    // (against the persisted assignment) and the dropped-id dim and the
    // narrow (id, cell) assignment both localCheckpoint there, so the
    // RETURNED plan must join two checkpointed frames — never re-run
    // the assignment kernel at the caller's action (round-20 pin
    // renegotiation, r19 verdict task 2: the old pin accepted a live
    // plan that re-scanned the corpus and re-ran cellAssign per action)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join"), "dropped-id lookup stays an equi join")
    assert(p.contains("partial_count"), "cell ledger combines map-side")
    assert(p.contains("Scan ExistingRDD"),
      "assignment must come from the eager (id, cell) checkpoint")
    assert(!p.contains("nearest_centroid"),
      "the flat assignment kernel must not re-run at action time")
    assert(!p.contains("Scan parquet"),
      "no corpus re-scan at action time — one assignment computation")
  }

  test("q104: hierarchical semDedup rollup — no codebook re-join at action time") {
    val p = plan("q104_semdedup_hierarchical")
    // same renegotiated shape as q91 one tier up (round-20): the
    // Ivf.assign codebook join and the intra-cell pair join run eagerly
    // inside semDedupAssigned; the returned rollup plan joins the
    // checkpointed (id, cell) frame with the checkpointed dropped-id
    // dim — an all-pairs comparison, a literal-exploded codebook, or a
    // kernel re-run would each change this shape
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join"), "dropped-id lookup stays an equi join")
    assert(p.contains("partial_count"), "cell ledger combines map-side")
    assert(p.contains("Scan ExistingRDD"),
      "assignment must come from the eager (id, cell) checkpoint")
    assert(!p.contains("nearest_centroid") && !p.contains("nearest_candidate"),
      "the codebook assignment chain must not re-run at action time")
    assert(!p.contains("Scan parquet"),
      "no corpus or codebook re-scan at action time")
  }

  test("q105: capped LSH — the cap is an anti join on bucket keys, never a pair blowup") {
    // the registered query materializes its pairs (localCheckpoint), so
    // the LSH stage is gone from ITS plan — inspect the lazy pair plan
    // the same way the operator builds it
    val pairs = graft.operators.Dedup.minhashLshPairs(
      Tables.documents(spark, d), "doc_id", "text",
      maxBucket = Some(3), materialize = false)
    val p = pairs.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"), "capBuckets must plan as a left-anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q92: shuffle order is ONE shard exchange + per-shard sort, no global sort") {
    val p = plan("q92_corpus_shuffle")
    assert(shuffles(p) == 1, // hashpartitioning(shard) for the window;
      // the display orderBy is rangepartitioning, excluded by design
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
    assert(p.contains("windowspecdefinition(shard"),
      "position must be computed within shard only")
    assert(!p.contains("Join"))
  }

  test("q94: span merge is shuffle-bounded — semi join dim, doc-keyed window") {
    val p = plan("q94_dup_spans")
    // the dup-fingerprint dim joins 1:1 (semi) — never a pair space
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftSemi"), "window flagging must be a semi join")
    // island detection (lag + running sum) rides ONE doc-keyed sort
    assert(p.contains("windowspecdefinition(doc_id"),
      "islands must be computed per doc, not globally")
    assert(p.contains("partial_count"), "cross-doc dim combines map-side")
  }

  test("q96: two-level biomass rollup partial-aggregates; no cross product") {
    val p = plan("q96_plankton_group_biomass")
    // sample-grain decimal sum combines map-side before its one shuffle
    assert(p.contains("partial_sum(cast("), "first rollup must partial-agg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // unclassified filter reaches the scan
    assert(p.contains("PushedFilters") && p.contains("Not(EqualTo(l_returnflag"))
  }

  test("q98: within-doc dup dim joins 1:1 like q93 — no pair space") {
    val p = plan("q98_substring_dedup_within")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the occurrence-keyed dim is distinct fps: plain count partial-aggs
    assert(p.contains("partial_count"), "dim count must combine map-side")
  }

  test("q99: kmeans summary — assignment map-side, centroid dim broadcast") {
    val p = plan("q99_kmeans_distributed")
    // centroids are literals in the projection; the only join is the
    // tiny (cell, c0, c1) dim riding back over the rollup
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "cell rollup must combine map-side")
    // the hot path must be the native codegen kernel, not interpreted HOFs
    assert(p.contains("nearest_cell"), "assignment must use NearestCell")
  }

  /** Largest literal-centroid payload any single kernel in the plan
    * carries: NearestCentroid rows plus composed probe arrays (a
    * CreateArray of FloatArrayDot-scored structs — one branch per
    * probed centroid). The three-level path's contract is that ONLY
    * the k^⅓ top centroids ever ship as plan literals — a regression
    * to flat literals would pass every oracle at test k and only die
    * at production k (r18 verdict task 2), so this measures the plan
    * itself.
    */
  private def maxCentroidLiterals(
      df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.CreateArray
    df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect {
        case e: plans.NearestCentroid => e.centroids.length
        case ca: CreateArray if ca.children.exists(
            _.exists(_.isInstanceOf[plans.FloatArrayDot])) =>
          ca.children.size
      })
    }.flatten.maxOption.getOrElse(0)
  }

  test("q109: three-level assign — only k^3root top centroids as literals, deep levels joined from cache") {
    val df = SparkEntry.queries("q109_ivf3_deep_codebook")(spark, d)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("InMemoryTableScan"),
      "mid+fine codebook levels must come from the persisted frames, not retrain")
    // one codegen'd candidate argmin PER DEEP HOP — both levels resolve
    // through the joined codebook, never a literal scan
    assert("nearest_candidate".r.findAllMatchIn(p).size >= 2,
      "both deep hops must use the joined-candidate kernel")
    // the quantitative no-literal-array gate: q109's codebook is k=27,
    // so a flat regression ships 27 centroid literals; the three-level
    // contract is k^1/3 = 3 top centroids (ceil slack 4)
    val m = maxCentroidLiterals(df)
    assert(m >= 1 && m <= 4,
      s"largest literal centroid payload $m — fine/mid centroids must " +
        "never ship as plan literals (flat k=27 would read 27)")
  }

  test("q110: deep ANN search — two bounded probe hops, no flat literal scan, O(k) ranking") {
    val df = SparkEntry.queries("q110_ivf3_deep_ann")(spark, d)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // ranking is the bounded aggregate (q89/q100/q103 discipline). The
    // blanket no-window form q89 uses would trip on the TRAINER lineage
    // rendered inside the persisted codebook's InMemoryRelation
    // (the trainer's per-parent row_number sampling windows) — the search
    // path's own ranking is what must never become a per-QUERY window
    assert(!p.contains("WindowGroupLimit") &&
      !p.contains("windowspecdefinition(q_id"),
      p.linesIterator.filter(_.contains("windowspecdefinition"))
        .mkString("\n"))
    // corpus assignment + each probe hop resolve through joined
    // codebook rows (mid and fine hops both visible)
    assert("nearest_candidate".r.findAllMatchIn(p).size >= 2,
      "deep assignment must keep the joined-candidate kernel")
    assert(p.contains("InMemoryTableScan"),
      "probe hops must read the persisted codebook levels")
    // top probe scores k^1/3 literals; a flat probe would score all 27
    val m = maxCentroidLiterals(df)
    assert(m >= 1 && m <= 4,
      s"largest literal centroid payload $m — the probe must stay " +
        "k^1/3-bounded (a flat probe scores all 27 fine cells as literals)")
  }

  test("q11: global top-k plans as TakeOrderedAndProject, no global sort") {
    assert(plan("q11_global_topk").contains("TakeOrderedAndProject"))
  }

  test("q55: kernel stage spreads across cores, single rollup shuffle after") {
    val p = plan("q55_feature_extract")
    // the CPU-heavy kernel must not inherit the scan's few partitions
    assert(p.contains("RoundRobinPartitioning"),
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q56: encoding cleanup is scan -> project -> one hash aggregate") {
    val p = plan("q56_encoding_cleanup")
    assert(!p.contains("Join"))
    assert(shuffles(p) <= 2) // agg + sort
    assert(p.contains("partial_count"))
  }

  test("q37: one shuffle, decimal partial aggregation map-side") {
    val p = plan("q37_biovolume_rollup")
    assert(p.contains("partial_sum(cast(vol_um3"))
    assert(shuffles(p) <= 2) // agg + final sort
  }

  test("q57: taxonomy substitution joins broadcast, no cross product") {
    val p = plan("q57_taxonomy_parents")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"), "class dim must never shuffle-sort")
  }

  test("HabAlert: dims broadcast, per-taxon window partitioned by key") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val roi = Tables.lineitem(spark, d).select(
      $"l_orderkey".cast("string").as("sample"),
      $"l_returnflag".as("class_name"),
      $"l_extendedprice".as("vol_um3"), lit(false).as("is_diatom"))
    val dim = Tables.orders(spark, d).select(
      $"o_orderkey".cast("string").as("sample"), lit(5.0).as("ml_analyzed"))
    val classDim = Seq(("A", 1L, "a", "Cyanobacteria"))
      .toDF("class_name", "aphia_id", "class_clean", "worms_phylum")
    val habDim = Seq((1L, 100L)).toDF("aphia_id", "warning_level")
    val p = jobs.HabAlert
      .maxCounts(jobs.HabAlert.biovolumes(roi, dim), classDim, habDim)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "HAB dims must broadcast")
    // the top-1 window partitions by aphia_id — a global-sort window
    // would print an empty partition spec (a single-task funnel)
    assert(p.contains("windowspecdefinition(aphia_id"),
      p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
  }
}
