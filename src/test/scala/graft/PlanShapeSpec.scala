package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties the 100 TB posture depends on —
  * the "is this the plan you'd want at 1000 executors" checks, as
  * tests instead of one-off .explain reads:
  *
  *  - dimension joins broadcast (no shuffle of the fact side);
  *  - aggregations are partial+final (map-side combine);
  *  - filters and column pruning reach the parquet scan;
  *  - no accidental CartesianProduct/BNL outside the queries that are
  *    deliberately brute-force (documented correctness baselines).
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfTiny).queryExecution.executedPlan.toString

  test("join_broadcast broadcasts the dimension side") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q1_agg has map-side partial aggregation and a pushed filter") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), "no partial aggregation")
    assert(p.contains("PushedFilters: [IsNotNull") || p.contains("PushedFilters: ["),
      "no pushdown info on scan")
  }

  test("filter_project pushes its predicate to the scan") {
    val p = plan("filter_project")
    assert(p.contains("PushedFilters") &&
      (p.contains("IsNotNull") || p.contains("GreaterThan") || p.contains("LessThan")),
      s"no pushed predicate in:\n$p")
  }

  test("word_count prunes to the text column only") {
    val p = plan("word_count")
    assert(p.contains("ReadSchema: struct<text:string>"), "scan reads more than text")
  }

  test("sort_limit plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q6_forecast pushes every predicate to the scan and partial-aggregates") {
    val p = plan("q6_forecast")
    // the plan string truncates long PushedFilters lists mid-token, so
    // match a prefix that survives truncation
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipda"),
      s"date range not pushed:\n${p.take(1500)}")
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("q7_nation_volume broadcasts both nation-role dimensions") {
    val p = plan("q7_nation_volume")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"expected supNation AND custNation broadcast, got $broadcasts")
  }

  test("q8_market_share broadcasts every dimension (fact side never reshuffles for dims)") {
    val p = plan("q8_market_share")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins (custNation, supplier, suppNation), got $broadcasts")
  }

  test("q17_small_quantity joins the decorrelated per-part aggregate without BNLJ") {
    val p = plan("q17_small_quantity")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "correlated-subquery decorrelation produced a nested-loop join")
    assert(p.contains("partial_"), "per-part aggregate lost its partial phase")
  }

  test("sample_per_group engages WindowGroupLimit (per-group heaps, not full sort)") {
    val p = plan("sample_per_group")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k filter did not trigger group-limit pushdown:\n${p.take(1500)}")
  }

  test("q11 derives the partsupp relation once (total aggregates the per-part cut)") {
    val df = SparkEntry.queries("q11_important_stock")(spark, sfTiny)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // r11: the per-part frame crosses a LogicalRDD lineage cut, so BOTH
    // the HAVING side and the broadcast total consume one RDD whose
    // shuffle map stages are shared by object identity — stronger than
    // the r10 pin (AQE ReusedExchange), which depended on runtime
    // re-planning finding identical subtrees and which filter pushdown
    // could silently break. The lineitem scan lives inside the cut:
    // no parquet scan may appear in the consuming plan.
    assert(p.contains("Scan ExistingRDD"),
      "per-part aggregate is no longer behind the lineage cut")
    assert(!p.contains("Scan parquet"),
      "a consumer re-derived the partsupp relation from the fact table:\n" + p.take(1500))
  }

  test("event_paths engages WindowGroupLimit for the per-user prefix") {
    val p = plan("event_paths")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=k filter did not trigger group-limit pushdown:\n${p.take(1500)}")
  }

  test("skyline_parts prunes in buckets before the global sweep") {
    val p = plan("skyline_parts")
    assert(p.contains("hashpartitioning(b#"),
      "no bucket-partitioned local-prune window before the global sweep")
    // the global sweep now carries the Bounded.global lit(0) marker:
    // same single-populated-partition execution, exchange keyed on
    // the constant instead of SinglePartition
    assert(p.contains("hashpartitioning(0,"),
      "global frontier sweep window (lit-partitioned) missing")
  }

  test("only the documented brute-force queries use nested-loop/cartesian joins") {
    val allowed = Set(
      "dedup_embedding", "cosine_topk", // brute-force correctness baselines
      "join_theta", // genuine non-equi residual on equi key — hash join with filter
      "tfidf", "cosine_topk_ivf", "collocation_pmi", "skew_report",
      "cosine_topk_ivf_incr", // same IVF centroid cross (16-row broadcast) as cosine_topk_ivf
      "perplexity_score", "fill_gaps",
      "perplexity_bigram", // 1-row LM-stats broadcast, as perplexity_score
      "customer_rfm", // scalar-N / centroid cross joins (broadcast, tiny side)
      "contrastive_triplets", // brute positive search (documented baseline; negatives are equi-mined)
      "ann_recall", // embeds cosine_topk, the exact baseline it measures recall against
      "ann_recall_mp", // same exact-baseline leg as ann_recall
      "dsir_weights", // 1-row totals broadcast onto the 64-row bucket model
      "bm25_score", // 1-row corpus stats broadcast onto the |query|-row idf frame
      "rrf_fusion", // 1-row dense query vector broadcast (plus bm25's stats row)
      "embedding_outliers", // 1-row outlier threshold broadcast
      "rag_index", // IVF centroid cross join (16-row broadcast, as cosine_topk_ivf)
      "pq_topk_ivf", // IVF centroid cross join (16-row broadcast, as cosine_topk_ivf)
      "q22_global_sales", // 1-row global-average aggregate broadcast onto customer
      "q11_important_stock", // 1-row total-value aggregate broadcast onto per-part values
      "sparse_cosine_pairs", // 1-row corpus-count broadcast onto the capped postings
      "kneser_ney", // 1-row bigram-type-total broadcast onto the bigram stream
      "hll_intersection", // 1-row sketch-estimate frame crossed onto the 1-row exact count
      "dedup_eval", // three 1-row count aggregates crossed into the metrics row
      "ivf_recall_curve") // IVF centroid cross (16-row broadcast, as cosine_topk_ivf) + exact-baseline leg
    SparkEntry.registry.foreach { q =>
      val p = q.fn(spark, sfTiny).queryExecution.executedPlan.toString
      val hasNl = p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      if (hasNl && !allowed(q.name))
        fail(s"${q.name} plans a nested-loop/cartesian join:\n${p.take(2000)}")
    }
  }

  test("phrase_match_indexed probes the postings table via bucket pruning, never the corpus") {
    val p = plan("phrase_match_indexed")
    // each branch's single-term filter prunes its scan to ONE bucket
    assert(p.split("SelectedBucketsCount: 1 out of 32", -1).length - 1 === 2,
      s"phrase probe did not prune each term to its bucket:\n${p.take(2000)}")
    assert(!p.contains("documents.parquet"),
      "indexed phrase search re-scanned the corpus")
  }

  test("fuzzy family pairs candidates with a hash equi join on rarest-token blocks") {
    Seq("join_fuzzy", "join_fuzzy_jaro").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$n: candidate generation is not an equi join on the block key")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$n: quadratic join shape:\n${p.take(1500)}")
      // the similarity predicate must sit ABOVE the block join as a
      // filter, never as the join condition of a nested loop
      assert(p.contains("min_by") || p.contains("MinBy"),
        s"$n: rarest-token selection (min_by aggregate) missing from the plan")
    }
  }

  test("contrastive triplets: one nested loop (positives search) and a hash negatives join") {
    // the allowlist above admits the whole query; this pins the parts:
    // exactly ONE nested-loop join (the documented brute positive
    // search) and a broadcast HASH join for the equi-mined negatives —
    // a revert to the corpus-broadcast `cluster <> ca` join would add
    // a second nested loop and fail here
    val p = SparkEntry.queries("contrastive_triplets")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    val nl = p.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(nl == 1, s"expected exactly 1 nested-loop join, found $nl")
    assert(p.contains("BroadcastHashJoin"), "negatives join is not a hash join")
  }

  test("q14 joins the part dimension as a broadcast with partial aggregation") {
    val p = plan("q14_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), "part dimension not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("embedding_outliers broadcasts the centroid model (corpus never reshuffles for it)") {
    val p = plan("embedding_outliers")
    assert(p.contains("BroadcastHashJoin"), "dim-model join is not a broadcast hash join")
    // the only nested loop is the 1-row threshold scalar riding in
    val nl = p.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(nl == 1, s"expected exactly the 1-row threshold cross join, found $nl")
  }

  test("rrf_fusion takes both candidate top-Ks as TakeOrdered, not a global-window sort") {
    val p = plan("rrf_fusion")
    val tops = p.linesIterator.count(_.contains("TakeOrderedAndProject"))
    assert(tops >= 2, s"expected 2 TakeOrderedAndProject heads, found $tops")
  }

  test("no query plans an unpartitioned window (audited bounded frames carry the lit-partition marker)") {
    // A global (unpartitioned) window funnels its whole input through
    // ONE task. The audited bounded frames (spectrum tables, post-
    // limit(K) heads, model-sized mixtures) now use graft.Bounded
    // .global — partitionBy(lit(0)): same single-task execution, but
    // WindowExec's "No Partition Defined" warning stays silent for
    // them, so (a) a NEW unbounded window is visible at a glance in
    // the bench log, and (b) an empty partitionSpec anywhere in the
    // registry is now unconditionally a defect:
    SparkEntry.registry.foreach { q =>
      val wins = q.fn(spark, sfTiny).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      if (wins.nonEmpty)
        fail(s"${q.name} plans ${wins.size} unpartitioned window(s) — " +
          "partition it, rank via Ranks.freqRanked, or (ONLY for a " +
          "provably bounded frame) mark it with graft.Bounded.global")
    }
    // ...which only holds while the marker SURVIVES optimization: a
    // Catalyst rule that folded literal partition keys away would
    // silently reopen both the warning and this gate. Pin one marked
    // query's optimized plan still carrying the literal spec.
    val marked = graft.SparkEntry.queries("freq_of_freqs")(spark, sfTiny)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]) => w
      }
    assert(marked.nonEmpty,
      "Bounded.global's lit(0) partition key was optimized away — " +
        "the single-partition warning suppression no longer works")
  }

  test("shuffling queries run under adaptive execution (runtime re-planning)") {
    // AQE is the runtime half of the 100 TB posture: skew-join splits,
    // shuffle-partition coalescing, and join-strategy switches all hang
    // off AdaptiveSparkPlan being present at the root.
    for (name <- Seq("q1_agg", "q5_region_revenue", "join_inner")) {
      assert(plan(name).contains("AdaptiveSparkPlan"), s"$name not adaptive")
    }
  }

  test("q5_region_revenue broadcasts every dimension (fact side never reshuffled for dims)") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("join_range_bucketed plans a hash join, not a nested loop") {
    val p = plan("join_range_bucketed")
    assert(p.contains("BroadcastHashJoin"), s"range join not hashed:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("inverted_index_bucketed aggregates postings under a bucketed key") {
    val p = plan("inverted_index_bucketed")
    // first-stage groups must be keyed by (word, pmod(doc_id, B)) —
    // the bounded-group property the 100 TB posture needs
    assert(p.contains("pmod"), s"no bucketed grouping key in:\n${p.take(2000)}")
    assert(p.contains("partial_collect_set"), "postings must partial-aggregate")
  }

  test("dedup_minhash verification joins stay equi (bucket keys)") {
    val p = plan("dedup_minhash")
    assert(!p.contains("CartesianProduct"))
    // band keys come from a typed signing pass over the memoized
    // hashed shingle sets (the frame the verification joins read too),
    // not a 96-column min aggregate — that retired form shuffled the
    // whole shingle bag and its serialized stage sat above the 1 MiB
    // task-binary WARN threshold
    assert(p.contains("SerializeFromObject"), "signatures must come from the typed pass")
    assert(!p.contains("partial_min"), "the 96-min agg form should be gone")
    // the sets are one typed pass per document: the rarity-ranked
    // subtree (df join + per-doc rank window) and a collect_set
    // aggregate are off this query's path
    assert(!p.contains("collect_set"), "the hashed sets must not be aggregated")
    assert(!p.contains("Window"), "the rarity-ranked subtree must be off the path")
  }

  test("kmeans_assign is map-only: centroids ride as literals, zero shuffles") {
    val p = plan("kmeans_assign")
    assert(!p.contains("Exchange"), s"assignment shuffles:\n${p.take(2000)}")
    assert(p.contains("vec_dot"), "assignment must use the codegen'd dot product")
  }

  test("pq_codes is map-only: the codebook rides as literals, zero shuffles") {
    val p = plan("pq_codes")
    assert(!p.contains("Exchange"), s"PQ encode shuffles:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"PQ encode joins:\n${p.take(2000)}")
  }

  test("pq_topk broadcasts the distance tables (codes never shuffle for the lookup)") {
    val p = plan("pq_topk")
    assert(p.contains("BroadcastHashJoin"), s"ADC lookup not broadcast:\n${p.take(2000)}")
  }

  test("sample_stratified broadcasts the rate table (corpus never shuffles)") {
    val p = plan("sample_stratified")
    assert(p.contains("BroadcastHashJoin"), s"rate join not broadcast:\n${p.take(2000)}")
    // shuffles print as "Exchange hashpartitioning(...)"; broadcast
    // exchanges print as "BroadcastExchange" and are expected here
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus-side shuffle in a map-only sample:\n${p.take(2000)}")
  }

  test("join_bloom filters the fact side natively below the join (no ScalaUDF)") {
    val p = plan("join_bloom")
    // the native might_contain probe must sit on the orders scan side,
    // below the join, and nothing in the plan may be a row-at-a-time
    // Scala UDF (the codegen-blocking form this query used to have)
    val joinAt = p.indexOf("Join")
    val filterAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && filterAt > joinAt,
      s"bloom pre-filter not below the join:\n${p.take(2000)}")
    assert(!p.contains("ScalaUDF") && !p.contains("UDF("),
      s"bloom probe still a Scala UDF:\n${p.take(2000)}")
  }

  test("vocab_top and token_ids rank the vocabulary without any window at all") {
    // the rank/coverage prefix sums ride Ranks.freqRanked (range
    // partition + per-partition offsets); a revert to
    // row_number().over(Window.orderBy(...)) would reintroduce the
    // single-task WindowExec this pin exists to forbid
    for (name <- Seq("vocab_top", "token_ids")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name funnels the vocabulary through a window:\n${p.take(2000)}")
    }
  }

  test("decontaminate broadcasts the eval shingle side") {
    assert(plan("decontaminate").contains("BroadcastHashJoin"))
  }

  test("project_embeddings is map-only: planes ride as literals, zero shuffles") {
    val p = plan("project_embeddings")
    assert(!p.contains("Exchange"), s"JL projection shuffles:\n${p.take(2000)}")
    assert(p.contains("vec_dot"), "projection must use the codegen'd dot product")
  }

  test("embedding_gram is one map-side-combined aggregate, no join") {
    val p = plan("embedding_gram")
    assert(!p.contains("Join"), s"Gram must not self-join the corpus:\n${p.take(2000)}")
    assert(p.contains("partial_sum"),
      s"Gram cells must partial-aggregate before the one shuffle:\n${p.take(2000)}")
  }

  test("sparse_cosine_pairs caps df below the posting join and takes top-K as TakeOrdered") {
    val p = plan("sparse_cosine_pairs")
    // the df <= cap gate must sit below the pair join — without it a
    // viral term turns the candidate set quadratic
    val joinAt = p.indexOf("Join")
    val capAt = p.indexOf("(df")
    assert(joinAt >= 0, s"no pair join found:\n${p.take(2000)}")
    assert(capAt > joinAt, s"df cap not below the join:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"pair top-K is not a TakeOrdered:\n${p.take(2000)}")
    // r10: df itself must come from a groupBy + broadcast join, never
    // a per-gram window — a window sorts a hot bigram's ("of the")
    // whole posting list in ONE task BEFORE the cap filter can drop it
    assert(!p.contains("Window"),
      s"sparse weights funnel a gram's postings through a window:\n${p.take(2000)}")
  }

  test("token_entropy totals come from a broadcast join, not a per-source window") {
    // sources are few and raw web-text vocabulary is 10⁸–10⁹ rows; a
    // window partitioned by source sorts a vocab-sized input in one
    // task. Totals must be a second groupBy broadcast-joined back.
    val p = plan("token_entropy")
    assert(!p.contains("Window"),
      s"token_entropy funnels the vocabulary through a window:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals not broadcast-joined:\n${p.take(2000)}")
  }

  test("dedup_minhash_incr_durable probes the settled index as a bucketed table scan") {
    // the durable-IVM contract: the settled band index is read from
    // its bucketed table (never a cached memo), and the corpus side
    // of the candidate join carries NO exchange — at fixture scale
    // AQE broadcasts the batch keys onto the table scan; at corpus
    // scale the bucket layout satisfies the join's distribution. The
    // scan string is the witness for both.
    val p = plan("dedup_minhash_incr_durable")
    assert(p.contains("graft_ivm_mh_buckets_"),
      s"settled index not read from the durable table:\n${p.take(2000)}")
    assert(p.contains("Bucketed: true"),
      s"durable index scan lost its bucket layout:\n${p.take(2000)}")
  }

  test("dedup_similarity_histogram verifies prefix-filtered candidates, not raw postings") {
    // the j ≥ 0.5 histogram must ride the t = 1/2 prefix filter
    // (complete by the theorem DedupFuzzSpec checks at this exact
    // threshold); the raw uncapped shingle self-join it replaced is
    // Θ(Σ df²) on real web text. The verification path's
    // array_intersect over collected sets is the shape witness.
    val p = plan("dedup_similarity_histogram")
    assert(p.contains("array_intersect"),
      s"histogram lost its candidate-verify shape:\n${p.take(2000)}")
  }

  test("kneser_ney broadcasts every model table onto the bigram stream") {
    val p = plan("kneser_ney")
    // bc/cc/rev/btot are vocab²-bounded model frames; the corpus-side
    // bigram stream must join them broadcast, never reshuffle
    assert(p.contains("BroadcastHashJoin"), s"model join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus reshuffled for a model-sized table:\n${p.take(2000)}")
  }

  test("q18 aggregates lineitem before joining orders (aggregate-then-enrich)") {
    val p = plan("q18_large_orders")
    // the HAVING aggregate must sit BELOW the join with orders: the
    // fact shrinks ~20× before any join touches it
    val joinAt = p.indexOf("Join")
    val aggAt = p.lastIndexOf("HashAggregate")
    assert(joinAt >= 0 && aggAt > joinAt,
      s"lineitem aggregate not below the join:\n${p.take(2000)}")
    assert(p.contains("partial_sum"), "quantity sum must partial-aggregate")
  }

  test("perplexity_score broadcasts the LM table onto the token stream") {
    val p = plan("perplexity_score")
    assert(p.contains("BroadcastHashJoin"),
      s"LM join not broadcast:\n${p.take(2000)}")
    // per-doc scoring is the only corpus-wide aggregate and it is
    // partial+final on doc_id
    assert(p.contains("partial_count") || p.contains("partial_avg"),
      "scoring aggregate not partial")
  }

  test("sample_temperature broadcasts the computed rate table (corpus scan stays map-only)") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join not broadcast:\n${p.take(2000)}")
  }
}
