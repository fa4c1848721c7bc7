package graft

/** Whole-battery plan audit, promoted from a per-round manual check to a
  * durable regression guard: EVERY declared query's physical plan is
  * scanned for the scale-killers —
  *
  *  - `CartesianProduct` — an O(n²) join anywhere is a bug, full stop;
  *  - `BroadcastNestedLoopJoin` — legal ONLY as the 1-row scalar-
  *    aggregate attach (the W2 global-max pattern and the Bloom-filter
  *    scalar subquery); anything else is a missing equi-key;
  *  - `Exchange SinglePartition` — legal ONLY for a global (grand-total)
  *    aggregate's final stage; a keyed operator funneling through one
  *    partition is the classic 1000-executor-cluster serializer.
  *
  * The audit plans every query (it does not execute them; sink-writing
  * queries do perform their fixture writes at construction time, same as
  * PlanShapeSpec).
  */
class FullBatteryPlanAudit extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // queries whose plan legitimately carries a nested-loop join of a
  // 1-row / config-sized side (scalar aggregate attached to every row —
  // the W2 pattern — or a tiny-by-construction aggregate pair)
  private val scalarBroadcastOk = Set(
    "q_w2_global_max_share",  // max-share against the global max
    "q_x_incremental",        // Bloom filter scalar subquery
    "q_x_tfidf_pairs", "q_x_tfidf_clusters", // corpus-size idf scalar
    "q_x_bm25",               // corpus stats (n_docs, avgdl)
    "q_x_mixture", "q_x_quality_gate",
    "q_p4_selectexpr",        // max/min ratio over one row
    "q_x_vocab", "q_x_pipeline", "q_x_pipeline2",
    "q_x_vocab_sketch",       // same corpus-count scalar as q_x_vocab
    "q_x_pagerank",           // 1-row node count + 1-row dangling mass
    "q_x_perplexity",         // 1-row vocabulary-size scalar (V)
    "q_so2_union_intersect",  // 1-row union-count × 1-row intersect-count
    "q_x_multimodal",         // ≤5-kind panel ⟕ 1-row video-frame agg
    "q_x_pmi",                // 1-row token total × 1-row bigram total
    "q_a_chisq",              // 1-row grand-total over the contingency
    "q_f_target_enc",         // 1-row global-mean fallback scalar
    "q_x_mix",                // 1-row Σsqrt(n_s) weight scalar × source counts
    "q_x_hybrid_rrf",         // bm25's corpus stats scalar (n_docs, avgdl)
    "q_x_dsir",               // 1-row raw/target token-total scalars
    "q_a_psi",                // 1-row base/current total scalars
    "q_x_topterms",           // 1-row corpus-count idf scalar
    "q_x_hits",               // 1-row node count + per-round L1 totals
    "q_d_neyman",             // 1-row Σ(N_h·σ_h) weight scalar
    "q_a_mi",                 // 1-row grand-total over the cell table
    "q_a_benford",            // 1-row digit-count total scalar
    "q_a_cuped",              // 1-row pooled θ/mean scalar panel
    "q_x_assoc",              // 1-row basket-total scalar
    "q_x_silhouette",         // k-row broadcast centroid panel
    // (q_x_mnn_ivf / q_x_pipeline3 need no entry: ivfAssign is now the
    // fused map-side argmax — no broadcast panel in those plans at all)
    "q_x_lsh_topk",           // 1-row ANN contract panel (hits × ann_k)
    "q_x_ivf_topk",           // 1-row ANN contract panel (hits × ann_k)
    "q_x_ivf_recall_panel",   // 1-row n_queries scalar over the probe-order panel
    "q_x_ndcg",               // bounded broadcast query batch
    "q_a_joincard",           // 1-row estimate × 1-row actual
    "q_x_kappa",              // 1-row totals × 1-row pe scalar
    "q_j_haversine",          // 5-row broadcast city panel
    "q_x_vocab_coverage",     // 1-row token-total scalar (vocab idiom)
    "q_a_brier",              // 1-row (N, Σy, Σbrier) total panel
    "q_a_conformal",          // 1-row conformal-radius q̂ scalar
    "q_t_backtest",           // 1-row max-period scalar
    "q_x_hard_negatives",     // bounded broadcast anchor batch (ndcg shape)
    "q_a_kmv_overlap")        // 1-row sketch agg × 1-row sketch agg × 1-row exact

  test("no query in the battery plans a cartesian product") {
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(bad.isEmpty, s"cartesian products in: ${bad.mkString(", ")}")
  }

  test("nested-loop joins appear only as 1-row scalar broadcasts") {
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      if (p.contains("BroadcastNestedLoopJoin") &&
          !scalarBroadcastOk.contains(name)) Some(name)
      else None
    }
    assert(bad.isEmpty, s"unexpected nested-loop joins in: ${bad.mkString(", ")}")
  }

  // queries whose single-partition exchange is a window over an ALREADY
  // bounded relation (≤ tens/hundreds of rows by construction), not a
  // keyed operator over data: the RRF fusion's top-k-limited result
  // lists; the skyline's bucket-count-sized cross-bucket minimum table
  private val boundedTopKWindowOk = Set("q_x_hybrid_rrf", "q_a_skyline",
    "q_t_mom", // calendar-bounded month panel (≤ dozens of rows by domain)
    "q_t_backtest", // calendar-bounded day-period panel
    "q_a_msprt", // cumulative mSPRT envelope over the calendar-bounded day panel
    // probe-order rank over the 8-row literal centroid panel + global
    // top-k over the ≤ k·|centroids| checkpointed survivor panel
    "q_x_ivf_recall")

  test("the long-primary and dp-user cap windows plan the bounded heap") {
    // the exact injected-but-never-active class: both gates' results
    // match the oracle under EITHER plan, so only a plan pin catches a
    // silent fallback to the full-shuffle window (e.g. a Spark upgrade
    // changing coalesce nullability inference). Walk the plan TREE
    // (subqueries included, AdaptiveSparkPlanExec unwrapped) rather than
    // matching the rendered string — plan-string truncation
    // (spark.sql.maxPlanStringLength) could hide a Window node past the
    // cutoff, the same blind spot the HOF audit below closes
    import org.apache.spark.sql.execution.window.WindowExec
    val pins: Seq[(String, String)] = Seq(
      "q_w_topk_long" -> "TopKAgg", "q_a_dp_user" -> "TopKAgg",
      // the ties-aware rank idioms plan the threshold aggregate
      "q_w_topk_rank" -> "RankTopKAgg", "q_w_topk_dense" -> "RankTopKAgg")
    pins.foreach { case (name, agg) =>
      val nodes = PlanWalk.allNodes(
        SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"$name lost the heap rewrite: a WindowExec survives in the plan")
      assert(nodes.exists(_.expressions.exists(_.exists {
        case _: graft.functions.TopKAgg => agg == "TopKAgg"
        case _: graft.functions.RankTopKAgg => agg == "RankTopKAgg"
        case _ => false
      })), s"$name plans no $agg aggregate")
    }
  }

  test("every single-partition exchange feeds a grand-total aggregate") {
    // a SinglePartition exchange is the correct (and only) shape for a
    // grand-total aggregate's final stage — it moves partial buffers, a
    // handful of rows. The scale-killer is a single-partition exchange
    // under anything KEYED (a window, sort, or group-by collapsed onto
    // one task). The tree prints parents above children, so the direct
    // parent of each exchange sits within the few preceding lines: it
    // must be an empty-keys aggregate.
    val bad = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(boundedTopKWindowOk).flatMap { name =>
      val lines = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString.split("\n")
      lines.zipWithIndex
        .filter(_._1.contains("Exchange SinglePartition"))
        .filterNot { case (_, i) =>
          lines.slice(math.max(0, i - 3), i)
            .exists(_.contains("Aggregate(keys=[]"))
        }
        .map { case (_, i) => s"$name@$i" }
    }
    assert(bad.isEmpty,
      s"single-partition exchange under a keyed operator in: ${bad.mkString(", ")}")
  }

  // ──────────────── higher-order-function fallback audit ────────────────
  //
  // Spark's array higher-order functions (transform/aggregate/filter/
  // zip_with/exists/…) are CodegenFallback: ANY projection containing one
  // drops to interpreted per-element expression dispatch — measured 15×
  // (isotonic apply, 256-bin fit, 10M rows, SURVEY §8.12) to 30× (int8
  // quantizer, round-8 50M rung). The standing rule bans them from
  // data-sized per-row paths; this audit is the rule's enforcement: a new
  // query that plans a lambda must first try Catalyst's lambda-free
  // array forms (`arr.getField(f)` over array<struct>, array_join,
  // sort_array, a cast of the whole array), then fuse (native
  // expression — see QuantizeSymmetric, StepFloorLookup,
  // NearestCentroid*), or else be added here WITH a justification for
  // why its HOF row volume is acceptable.
  //
  // Whitelist taxonomy (audited round 9):
  //  [panel]   HOF over a config-sized relation (literal ladders, k-row
  //            panels, survivor panels) — row count bounded by
  //            construction, interpreted eval is O(panel), fine forever.
  //  [text]    HOF over per-document token arrays on the documents
  //            relation — data-sized by row count, but each gate's
  //            measured share is seconds at sf0.1 and the work is
  //            string-dominated (interpreted dispatch is NOT the
  //            bottleneck the way it is for tight numeric loops; the
  //            numeric cases are what got fused). Revisit any [text]
  //            entry that grows past ~3 s/10× SF in the round bench.
  //  [parity]  HOF kept deliberately as the oracle/spec twin of a fused
  //            expression, planned only at gate scale.
  private val hofOk: Map[String, String] = Map(
    // [text] token/segment pipelines over documents — string-dominated,
    // seconds each at sf0.1 in BENCH_LAST.json (fuse the numeric cases
    // first; revisit any of these that crosses ~3 s or a 10× SF)
    // q_x_repetition / q_x_rep_ratio: REMOVED round 10 — the gram loop
    // is the fused WordNGrams, the 8-token lines are ChunkSegments under
    // a plain array_join, after q_x_repetition crossed this whitelist's
    // own ~3 s revisit threshold (3.03 s in BENCH_r09); parity twins
    // live in WordNGramsFusedSpec
    // q_x_boilerplate: REMOVED round 10 — segments are the fused
    // ChunkSegments; reassembly is array_join over `.getField` on the
    // sorted struct array (GetArrayStructFields, no lambda)
    // q_x_minhash_bands: REMOVED round 11 — the band ladder unrolled
    // into literal xxhash64(slice) calls (bands is a build-time
    // constant); shingles/signature were already fused expressions
    // q_x_simhash_md5: REMOVED round 12 — the bit-vote zip_with ladder
    // is the fused SimHash60Md5 expression (one md5 + integer votes per
    // token inside WSCG); the HOF ladder survives as simhash60Md5Hof,
    // the oracle/parity twin (spec-pinned in WordNGramsFusedSpec)
    // q_x_bpe_encode: REMOVED round 12 — segment() symbolizes the WHOLE
    // normalized doc and folds the merge list into codegen'd replace
    // calls (merges can't cross the space symbol), so the per-word
    // transform/filter/flatten lambdas are gone
    // q_x_setjoin / q_x_leakage: REMOVED round 10 — their one remaining
    // lambda (the sorted-struct token extraction in SetSimJoin) is a
    // plain `.getField` (GetArrayStructFields) now
    "q_x_chunks" -> "[text] fixed-window chunk transform",
    "q_x_perplexity" -> "[text] token-ngram transform",
    "q_x_pmi" -> "[text] bigram zip_with",
    "q_x_pipeline2" -> "[text] corpus-pipeline shingle transforms",
    "q_f_hof" -> "[text] the HOF-surface gate itself (filter/exists/transform coverage)",
    // [panel] config-sized relations
    // q_a_kmv_overlap: REMOVED — unionSketch sorts with sort_array
    // (array_sort plans a comparator lambda even without an argument)
    "q_x_ivf_recall" -> "[panel] nprobe-ladder filter over the bounded survivor panel",
    "q_x_ivf_recall_panel" -> "[panel] nprobe-ladder filter over the bounded survivor panel",
    // q_x_silhouette: REMOVED — the centroid float cast is
    // `.getField("c").cast("array<float>")`, no per-element lambda
    // [postagg] HOF over per-entity COLLECTED arrays after the keyed
    // aggregate — row volume = entities, array lengths bounded by the
    // entity's own (filtered) events. Surfaced by the round-10 deep
    // expression walk: the old plan-STRING match truncated these plans
    // before the lambda (the exact blind spot the walk closes)
    "q_w_funnel" -> "[postagg] per-user funnel-slot fold over collected step events",
    // q_w_paths: REMOVED — the path is array_join over `.getField` of
    // the sort_array'd (rn, type) structs, no transform/array_sort
    // [parity] fused-expression twins at gate scale only
    "q_x_quantized" -> "[parity] gates the HOF quantize twin on a 200-row slice; data paths use quantizeFused")

  test("higher-order functions appear only at whitelisted, justified sites") {
    // walk the EXPRESSION TREES (plans + their subqueries), not the
    // rendered plan string: Spark truncates plan strings
    // (spark.sql.maxToStringFields / maxPlanStringLength), so a lambda
    // past the truncation point would slip a substring match
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.execution.SparkPlan
    def plansHof(plan: SparkPlan): Boolean =
      PlanWalk.allNodes(plan).exists(_.expressions.exists(
        _.exists {
          case _: HigherOrderFunction | _: LambdaFunction => true
          case _ => false
        }))
    val planned = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plansHof(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
    }
    info(s"queries planning HOFs: ${planned.mkString(", ")}")
    val offenders = planned.filterNot(hofOk.contains)
    assert(offenders.isEmpty,
      "unwhitelisted higher-order function (CodegenFallback — fuse it or " +
        s"justify it in hofOk): ${offenders.mkString(", ")}")
    // a stale whitelist line hides a future regression — prune entries
    // whose query no longer plans any lambda
    val stale = hofOk.keySet.filter(SparkEntry.queries.contains)
      .diff(planned.toSet)
    assert(stale.isEmpty, s"stale hofOk entries (no lambda planned): ${stale.mkString(", ")}")
  }
}

/** Shared physical-plan traversal for the audits: collect every node
  * including subquery plans, unwrapping AdaptiveSparkPlanExec and, once
  * a query has run, its query stages — LEAF nodes whose inner plans
  * `collect` cannot see. */
object PlanWalk {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case n => Seq(n)
    }
}
