package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that matter at 100 TB must be
  * visible in the plan, not assumed — column pruning reaching the scan,
  * broadcast on the small side, partial aggregation before the exchange. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q_tpch_q1: scan reads only the five needed lineitem columns") {
    val plan = planOf("q_tpch_q1")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_orderkey"))
  }

  test("q_skewness: partial aggregation (map-side combine) before the exchange") {
    val plan = planOf("q_skewness")
    assert(plan.contains("partial_graft_skewness"), plan)
  }

  test("q_cosine_topk: queries broadcast, corpus unshuffled, top-k cut before the only exchange") {
    val plan = planOf("q_cosine_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // exactly ONE hash exchange in the whole plan (the per-query top-k);
    // the corpus scan side only ever feeds the broadcast join directly
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    // partial WindowGroupLimit before the exchange → at most k rows per
    // query per partition are shuffled, not the full candidate set
    assert(plan.indexOf("WindowGroupLimit") < plan.indexOf("Exchange hashpartitioning") ||
      plan.contains("Partial"), plan)
  }

  test("q_embed_neardup / q_semantic_dedup: no all-pairs corpus join in the plan") {
    for (q <- Seq("q_embed_neardup", "q_semantic_dedup")) {
      val plan = planOf(q)
      // the old scale-killer was a theta self-join (id1 < id2) planned as
      // a nested-loop over corpus × corpus; the banded form needs only
      // equi-joins (band_key buckets + id-keyed candidate verify)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
  }

  test("q_oov_rate: corpus tokenized once — second consumer reads the reused exchange") {
    // AQE applies exchange reuse at stage materialization, not in the
    // initial plan — execute first, then audit the final adaptive plan
    val df = SparkEntry.queries("q_oov_rate")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val cut = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (cut < 0) plan else plan.substring(0, cut)
    assert(finalPlan.contains("ReusedExchange"), plan)
    // one scan + one explode: the vocab branch and the per-doc branch
    // share the staged (doc_id, token) stream instead of re-tokenizing
    assert("FileScan parquet".r.findAllIn(finalPlan).size == 1, plan)
    assert("Generate explode".r.findAllIn(finalPlan).size == 1, plan)
  }

  test("q_langid: documents scan prunes to doc_id + text") {
    val plan = planOf("q_langid")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"))
  }

  test("q_mode_grouped: graft_mode runs under ObjectHashAggregate with partial merge") {
    val plan = planOf("q_mode_grouped")
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_graft_mode"), plan)
  }

  test("q_tpch_q6: every predicate pushed to the parquet scan") {
    // default maxMetadataStringLength truncates PushedFilters at 100
    // chars — the IsNotNull entries alone would satisfy a bare
    // contains(column) check; widen so the RANGE filters are visible
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val plan = planOf("q_tpch_q6")
      val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(pushed.nonEmpty, plan)
      assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
        pushed.contains("LessThan(l_shipdate"), pushed)
      assert(pushed.contains("GreaterThanOrEqual(l_discount") &&
        pushed.contains("LessThanOrEqual(l_discount"), pushed)
      assert(pushed.contains("LessThan(l_quantity"), pushed)
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.nonEmpty, plan)
      assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"))
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("q_asof*: custom AsOfJoinExec planned with one exchange per side, no Window") {
    for (q <- Seq("q_asof", "q_asof_forward", "q_asof_nearest", "q_asof_tolerance")) {
      val plan = planOf(q)
      assert(plan.contains("AsOfJoin") && !plan.contains("Window"), s"$q: $plan")
      // EnsureRequirements inserts the two (user_id) co-partitioning
      // exchanges; the purchase pre-aggregation keys on (user_id, tsu) so
      // its exchange cannot double as the key-only clustering — 3 total,
      // where the union + window form paid 2
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 3, s"$q: $plan")
      // both sides sorted (key, ts) as the merge requires
      assert("Sort \\[user_id".r.findAllIn(plan).size == 2, s"$q: $plan")
    }
  }

  test("q_centroids: VectorMean aggregates with ONE exchange and partial combine") {
    val plan = planOf("q_centroids")
    assert(plan.contains("partial_graft_vector_mean"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q_tpch_q11: dims broadcast into the fact scan; no cartesian; 1-row total broadcast") {
    val plan = planOf("q_tpch_q11")
    assert(!plan.contains("CartesianProduct"), plan)
    // supplier⋈nation chain rides broadcast joins, never a fact shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the global-total crossJoin is a broadcast of ONE row, nothing else
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan)
  }

  test("q_tpch_q20 / q_tpch_q21: semi/anti chains stay equi-join, no nested loop") {
    for (q <- Seq("q_tpch_q20", "q_tpch_q21")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
      assert(plan.contains("LeftSemi"), s"$q: $plan")
    }
    assert(planOf("q_tpch_q21").contains("LeftAnti"))
  }

  test("q_mad_robust: single exchange — median, deviation ranks, and agg share one partitioning") {
    val plan = planOf("q_mad_robust")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    // two sorts (by value, by deviation), both inside the same partitioning
    assert("Sort \\[event_type".r.findAllIn(plan).size >= 2, plan)
  }

  test("q_dedup_spans: gram pipeline runs once (reused exchange), first-occurrence reduce is partial-agg") {
    val df = SparkEntry.queries("q_dedup_spans")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val cut = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (cut < 0) plan else plan.substring(0, cut)
    // the occurrence join's second consumer of the (doc_id,pos,h) gram
    // exchange must be a ReusedExchange — not a re-run of
    // tokenize+explode+md5 (the AQE-broadcast / one-sided-isnotnull trap)
    assert(finalPlan.contains("ReusedExchange"), plan)
    // first-occurrence-per-hash is a map-side-combinable aggregation,
    // not a row_number window (no global per-hash sort)
    assert(finalPlan.contains("partial_min(struct(doc_id"), plan)
    assert(!finalPlan.contains("row_number"), plan)
  }

  test("q_neardup_incremental: index pre-reduces to per-band min BEFORE the probe join") {
    val plan = planOf("q_neardup_incremental")
    // duplicate-flood guard: a band bucket with m historical copies must
    // contribute ONE probe row, so the join output stays linear
    assert("keys=\\[band_key[\\s\\S]{0,120}partial_min\\(doc_id".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("WHOLE GATE: no CartesianProduct anywhere; nested-loop joins only on bounded broadcasts") {
    // The scale-killer regression net: every gate query's physical plan
    // is checked. BroadcastNestedLoopJoin is legal ONLY where the build
    // side is provably bounded — 1-row global aggregates (sketch audits,
    // totals) or a bounded query/frame set (brute-force ANN scans).
    val bnljAllowed = Set(
      "q_ams_f2", "q_ann_int8", "q_ann_ivf", "q_ann_recall",
      // bounded k-row seed/centroid broadcasts (the IVF build + route)
      "q_ann_ivf_refit", "q_ann_ivf_probe2",
      // 1-row seed-matrix / codebook-row broadcasts (PQ build + encode)
      // plus the bounded query-set broadcast on the ADC scans
      "q_pq_codes", "q_ann_pq", "q_ann_ivf_pq",
      // q_ann_pq's shapes + the |Q|·c-bounded candidate-id broadcast of
      // the refine fetch (r20)
      "q_ann_pq_rerank",
      // 1-row centroid-matrix broadcast per Lloyd iteration
      "q_kmeans",
      "q_bloom_fp_audit", "q_bm25", "q_cms_join_size", "q_cosine_topk",
      // bounded query-set broadcast, same shape as q_cosine_topk
      "q_hard_negatives", "q_margin_mine",
      // two 1-row corpus-total broadcasts (nb, nu)
      "q_collocations",
      "q_decontaminate_bloom", "q_hll_distinct", "q_kmv_distinct",
      "q_kmv_overlap", "q_quantile_sketch", "q_skew_profile",
      "q_temperature_mix", "q_tpch_q11", "q_tpch_q22",
      // 1-row corpus-token-total broadcast (the share denominator)
      "q_token_budget_report",
      // r17: the former plan-construction-time counts now ride as
      // 1-row aggregate broadcasts (corpus token total / N docs)
      "q_unigram_logprob", "q_tfidf",
      // 1-row corpus-total broadcasts; q_length_ks also broadcasts the
      // ≤(maxBucket+1)-row length grid
      "q_source_kl", "q_length_ks", "q_dsir_weights",
      // cross-joins of 1-row count/fold frames (verdict assembly)
      "q_reconcile", "q_concentration_users", "q_concentration_sources",
      "q_triangles",
      // 1-row global-prior broadcast (the LOO smoothing target)
      "q_target_encode",
      // 1-row session-count broadcast (the lift denominator)
      "q_session_cooccur",
      // 1-row score-range broadcast (the equal-width bucket edges)
      "q_auc",
      // 1-row baseline-range broadcast (frozen bin edges) + the
      // bins-row densify frame derived from it
      "q_psi",
      // 1-row per-feature baseline-range broadcast (frozen bin edges)
      "q_psi_multi",
      // 1-row corpus-max-day broadcast (the censoring horizon of the
      // shared survivalFrame builder)
      "q_survival", "q_survival_by", "q_logrank",
      // calendar-bounded day-frame self-join (pairwise slopes) + 1-row
      // median broadcasts — bounded by design, see Stats.theilSen
      "q_trend_robust",
      // 1-row (total, k) broadcast — the load-ratio denominator of the
      // cell-drift retrain trigger (r18, Similarity.ivfCellDrift)
      "q_ivf_cell_drift",
      // class×sensitive-domain densify grid (the q_psi bins pattern) +
      // 1-row total broadcast — bounded by the sensitive domain by
      // contract (r18, Stats.tCloseness)
      "q_t_closeness",
      // three 1-row broadcasts (in-plan budget, water-level index k,
      // capped/uncapped sums) over the #sources-row frame (r18,
      // TextOps.epochMix)
      "q_epoch_mix",
      // 1-row vocab-size + 1-row doc-count broadcasts (the Laplace
      // denominators; r19, TextOps.trainNaiveBayes)
      "q_nb_train",
      // q_nb_train's 1-row broadcasts through the count-merge path (r20)
      "q_nb_incremental",
      // the same 1-row broadcasts via the inlined model, plus the
      // #labels-row prior frame crossed into the token stream —
      // bounded by the label domain by contract (r19,
      // TextOps.classifyNaiveBayes)
      "q_nb_classify")
    // plan-size budget: a pathological expression tree (the psiMulti
    // lesson — 14 s of Janino per plan before its explode/window fix)
    // shows up as a plan STRING far beyond anything the gate produces
    // today (typical max 37 kB, median 3 kB) — 150 kB = 4× headroom.
    val maxPlanChars = 150000
    // COMPOSED front doors get a measured wider budget: they inline
    // entire regex STEP LISTS (extract+normalize ≈ 50 regexp_replace
    // calls with long literal patterns) once per consumer, and the
    // funnel's four mark joins repeat the chain's subtree prints —
    // STRING size is structural there, not an expression explosion.
    // Measured r17 (first vs second run in one JVM, sf0.1): first−second = 0.3–6.8 s of
    // planning+Janino vs the psiMulti pathology's 14 s for ONE stage.
    // Budgets sit ~30% above the r17 sizes so real growth still trips.
    val widePlanAllowed = Map(
      "q_ann_ivf_pq" -> 250000, // residual IVFADC: centroid joins ×2
      "q_crawl_clean" -> 550000, // 8-stage chain, measured 413 kB
      "q_crawl_funnel" -> 750000) // chain + 4 mark joins, measured 562 kB
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      val badBnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
      val tooWide = plan.length > widePlanAllowed.getOrElse(name, maxPlanChars)
      if (cart || badBnlj || tooWide)
        Some(s"$name: cartesian=$cart unexpectedBnlj=$badBnlj " +
          s"planChars=${plan.length}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q_budget_select: no full-source sort partition — cumsum decomposed onto quality buckets") {
    val plan = planOf("q_budget_select")
    // the r11 scale-killer was ONE window `partitionBy(source)
    // orderBy(quality DESC, doc_id ASC)` over every doc of a source —
    // its signature sort order must be gone from the plan entirely
    assert("quality#\\d+ DESC NULLS LAST, doc_id".r.findFirstIn(plan).isEmpty, plan)
    // the only doc-level window partitions by (source, quality) — a tie
    // group — and orders by doc_id alone
    assert("\\], \\[doc_id#\\d+L ASC NULLS FIRST\\]".r.findFirstIn(plan).isDefined, plan)
    // the bucket frame is map-side combinable before its exchange
    assert(plan.contains("partial_sum"), plan)
  }

  test("q_shard_assign: no full-stratum sort partition — rank decomposed onto token-count buckets") {
    val plan = planOf("q_shard_assign")
    // old signature: row_number over orderBy(n_tokens DESC, doc_id ASC)
    // across the whole stratum
    assert("n_tokens#\\d+L DESC NULLS LAST, doc_id".r.findFirstIn(plan).isEmpty, plan)
    // doc-level window = (stratum, n_tokens) tie group ordered by doc_id
    assert("\\], \\[doc_id#\\d+L ASC NULLS FIRST\\]".r.findFirstIn(plan).isDefined, plan)
    // bucket counts combine map-side
    assert(plan.contains("partial_count"), plan)
  }

  test("q_dedup_incremental: index side ships only hashes through an anti join") {
    val plan = planOf("q_dedup_incremental")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the index branch reads ONLY (text, source) — no doc ids or payload
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(s => s.contains("text") && !s.contains("doc_id")), plan)
  }

  test("q_tpch_q3: the customer-orders side is broadcast, never the lineitem slice") {
    val plan = SparkEntry.queries("q_tpch_q3")(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shipped = plan.collect { case b: BroadcastExchangeExec =>
      b.collect { case f: FileSourceScanExec => f.relation.location.rootPaths.mkString(",") }
    }
    assert(shipped.nonEmpty, plan)
    assert(shipped.forall(_.forall(!_.contains("lineitem"))), plan)
    assert(shipped.flatten.exists(_.contains("orders")), plan)
  }
}
