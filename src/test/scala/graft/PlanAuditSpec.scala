package graft

/** Pins the SURVEY §6 plan-shape claims so they cannot silently regress:
  * pushdown, column pruning, top-k without global sort, rank pushdown,
  * broadcast dims, and no nested-loop fallback in the radius join.
  * (Plan strings are the pre-execution physical plan; AQE only narrows
  * these properties at runtime.)
  */
class PlanAuditSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q_pricing_summary prunes the lineitem scan to the 5 needed columns") {
    val p = plan("q_pricing_summary")
    assert(p.contains("l_returnflag") && p.contains("l_quantity"))
    assert(!p.contains("l_shipdate") && !p.contains("l_orderkey"),
      "scan reads columns the query never uses")
  }

  test("q_anti_join pushes the status filter into the orders scan") {
    val p = plan("q_anti_join")
    assert(p.contains("PushedFilters") &&
      p.replaceAll("\\s+", " ").contains("EqualTo(o_orderstatus,F)"))
  }

  test("q_cosine_topk plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("q_union_dedup / q_tfidf_terms get the WindowGroupLimit rank pushdown") {
    assert(plan("q_union_dedup").contains("WindowGroupLimit"))
    assert(plan("q_tfidf_terms").contains("WindowGroupLimit"))
  }

  test("q_enrich_multijoin broadcasts the dimension tables") {
    val p = plan("q_enrich_multijoin")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dim join fell back to a shuffle join")
  }

  test("radius joins never fall back to nested-loop / cartesian plans") {
    for (q <- Seq("q_range_join_points", "q_wellbeing_impact")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q lost the grid equi-join shape")
    }
  }

  test("q_asof_join is the union+window formulation: no join operator at all") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), "as-of join regressed to an actual join (BNL risk)")
    assert(p.contains("Window"))
  }

  test("single-shuffle aggregations stay single-shuffle") {
    for (q <- Seq("q_dedup_exact", "q_tumbling_window")) {
      val p = plan(q)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(shuffles === 1, s"$q now shuffles $shuffles times")
    }
  }

  test("rank queries carry no single-partition WindowExec (100x scale pin)") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_impact_scores", "q_ntile", "q_authority_rollup")) {
      val exec = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty,
        s"$q sorts its whole keyspace in one task: ${global.mkString("; ")}")
    }
  }

  test("cumLess rank queries take the broadcast histogram fast path (LocalRelation, no range-offset tail)") {
    // Stats.cumLess's bounded-histogram fast path returns a broadcast
    // LocalRelation of prefix sums; the fallback is the distributed
    // range machinery (repartitionByRange + per-partition offsets named
    // __p/__off/__within). These post-aggregation score domains fit the
    // probe at EVERY SF, so a range-offset tail here means the fast
    // path silently stopped firing — the regression that costs ~12 AQE
    // stages per rank at sf1.5 (r19 surgery). The model family is
    // covered by the negative pin only: q_model_impact_scores ranks via
    // the 1-row min-max bounds broadcast (no cumLess at all), and
    // q_model_authority_scores finishes eagerly on the driver, so its
    // returned plan is a LocalRelation either way.
    for (q <- Seq("q_impact_scores", "q_ntile", "q_authority_rollup")) {
      val p = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      assert(p.contains("LocalTableScan"),
        s"$q lost cumLess's broadcast histogram (no LocalTableScan)")
      assert(!p.contains("__within") && !p.contains("__off"),
        s"$q regressed to cumLess's distributed range-offset tail")
    }
    for (q <- Seq("q_model_impact_scores", "q_model_impact_scores_england")) {
      val p = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.sparkPlan.toString
      assert(!p.contains("__within") && !p.contains("__off"),
        s"$q grew a distributed range-offset rank tail")
    }
  }

  test("q_simhash / q_text_quality / q_sample_stratified / q_repetition / q_pii_scrub stay shuffle-free map plans") {
    for (q <- Seq("q_simhash", "q_text_quality", "q_sample_stratified",
        "q_repetition", "q_pii_scrub", "q_line_dedup", "q_winnow", "q_chunk")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q introduced a shuffle")
    }
  }

  test("model-layer queries: no single-partition window over unbounded keyspaces, no cartesian beyond the 1-row bounds broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("q_model_impact_scores", "q_model_authority_scores",
        "q_model_impact_scores_england", "q_model_authority_scores_england")) {
      val exec = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      // the dedup window partitions by permit ref; the per-USRN
      // normalisations are distributed (min-max = 1-row broadcast agg,
      // percent-rank = Stats.cumLess). The ONE allowed global window is
      // the authority-level percent-rank: its DIRECT input (descending
      // only through unary wrappers — a join or union below would mean
      // the window re-widened past the aggregate) must be the
      // per-authority aggregate, whose grouping keys are exactly the
      // bounded (highway_authority, swa) pair — an agg merely existing
      // somewhere below (e.g. the per-USRN rawImpactLevel) must NOT pass
      val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      global.foreach { w =>
        def boundingAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
          p match {
            case a: BaseAggregateExec =>
              a.groupingExpressions.size <= 2 &&
                a.groupingExpressions.exists(
                  _.toString.contains("highway_authority"))
            case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              boundingAgg(s.relation.cachedPlan)
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              boundingAgg(a.inputPlan)
            case u if u.children.size == 1 => boundingAgg(u.children.head)
            case _ => false
          }
        assert(boundingAgg(w.child),
          s"$q has a global window whose direct input is not the bounded " +
            s"per-authority aggregate (unbounded single-task sort):\n$w")
      }
      assert(!exec.toString.contains("CartesianProduct"),
        s"$q planned a real cartesian")
    }
    // dimension enrichments broadcast; the permit fact side never
    // sort-merges against a dim
    val p = plan("q_model_impact_scores")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("fused permit frame deduplicates by AGGREGATION, not window sorts (r17 DAG-depth pin)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the r17 rewrite replaced the collect_set/lag two-window dedup with
    // stacked max(struct) aggregations — the impact models must carry NO
    // WindowExec at all below the (whitelisted, bounded) authority-rank
    // window, and impact_scores none whatsoever
    for (q <- Seq("q_model_impact_scores", "q_model_impact_scores_england")) {
      val exec = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val ws = exec.collect { case w: WindowExec => w }
      assert(ws.isEmpty,
        s"$q regressed to a window-based permit dedup: ${ws.mkString("; ")}")
    }
    for (q <- Seq("q_model_authority_scores", "q_model_authority_scores_england")) {
      val exec = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val ws = exec.collect { case w: WindowExec => w }
      // the surviving windows are the bounded authority-rank global and
      // cumLess's range-partitioned offset window — NONE may partition
      // by the permit reference (the event-scale dedup grain)
      val permitWindows = ws.filter(_.partitionSpec.exists(
        _.toString.contains("permit_reference_number")))
      assert(permitWindows.isEmpty,
        s"$q regressed to a permit-partitioned window dedup: " +
          s"${permitWindows.mkString("; ")}")
    }
  }

  test("q_model_wellbeing: radius join stays grid equi-join; dedup window partitions by permit") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_model_wellbeing")(spark, sfDir)
      .queryExecution.sparkPlan
    val p = exec.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the ±500m postcode join lost the grid equi-join shape")
    val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty,
      s"wellbeing chain sorts its whole keyspace in one task: ${global.mkString("; ")}")
  }

  test("q_token_budget's prefix sum carries no single-partition WindowExec") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_token_budget")(spark, sfDir)
      .queryExecution.sparkPlan
    val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, s"global window: ${global.mkString("; ")}")
  }

  test("q_balanced_sample joins the rate table by broadcast; fact side never sort-merges") {
    val p = plan("q_balanced_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "rate join fell back to shuffling the fact table")
  }

  test("q_contamination / q_minhash_verify stay equi-join shaped (no BNLJ/cartesian)") {
    for (q <- Seq("q_contamination", "q_minhash_verify")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q lost the inverted-index equi-join shape")
    }
  }

  /** `p`'s nodes, descending into adaptive plans, their query stages,
    * and the plans of the cached relations `p` reads. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => Nil
  }) ++ p.children.flatMap(nodes))

  /** The nodes of every physical plan `q` runs: its builder's eager jobs
    * (probes, collects) and a noop write of its result. */
  private def executedNodes(q: String): Seq[SparkPlan] =
    org.apache.spark.sql.ExecutedPlans.during(spark) {
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }.flatMap(nodes)

  private def shuffles(ns: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    ns.collect { case e: ShuffleExchangeExec => e }

  test("q_minhash_pairs / q_dup_clusters: no exchange keyed on doc below the LSH banding") {
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.GenerateExec
    for (q <- Seq("q_minhash_pairs", "q_dup_clusters")) {
      val banding = executedNodes(q).collect {
        case g: GenerateExec if g.generator.isInstanceOf[PosExplode] => g
      }
      assert(banding.nonEmpty, s"$q: no banding posexplode found")
      // below the banding is the signature computation: a per-row
      // projection, never a groupBy(doc) over exploded token rows
      val docKeyed = shuffles(banding.flatMap(g => nodes(g.child)))
        .map(_.outputPartitioning).filter {
          case h: HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == "doc"))
          case _ => false
        }
      assert(docKeyed.isEmpty,
        s"$q shuffles by doc before banding: ${docKeyed.mkString("; ")}")
    }
  }

  test("q_curation_pipeline: no shuffle exchange carries the text or a string array") {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val wide = shuffles(executedNodes("q_curation_pipeline")).flatMap(e =>
      e.output.filter(a => a.name == "text" || (a.dataType match {
        case ArrayType(StringType, _) => true
        case _ => false
      })).map(a => s"${a.name} in ${e.outputPartitioning}"))
    assert(wide.isEmpty, s"shuffled wide columns: ${wide.distinct.mkString("; ")}")
  }

  test("q_curation_pipeline / q_token_budget: the global prefix sum keeps its executed operator counts") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // counted over every plan the query runs (eager jobs included),
    // descending into adaptive stages and cached relations
    def counts(q: String): Seq[(String, Int)] = {
      val ns = executedNodes(q)
      Seq("Exchange" -> ns.count(_.isInstanceOf[Exchange]),
        "WindowExec" -> ns.count(_.isInstanceOf[WindowExec]),
        "BroadcastHashJoin" -> ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
        "InMemoryTableScan" -> ns.count(_.isInstanceOf[InMemoryTableScanExec]))
    }
    assert(counts("q_curation_pipeline") === Seq("Exchange" -> 19,
      "WindowExec" -> 5, "BroadcastHashJoin" -> 5, "InMemoryTableScan" -> 10))
    assert(counts("q_token_budget") === Seq("Exchange" -> 5,
      "WindowExec" -> 1, "BroadcastHashJoin" -> 1, "InMemoryTableScan" -> 2))
  }

  test("q_model_*: the nine dbt marts keep their executed operator counts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // (Exchange, BroadcastHashJoin, WindowExec, InMemoryTableScan,
    // FileSourceScan) over every plan the query runs, eager jobs included;
    // each query in its own scope so no mart reads another's cache
    def counts(q: String): Seq[Int] = PersistScope.within {
      val ns = executedNodes(q)
      Seq(ns.count(_.isInstanceOf[Exchange]),
        ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
        ns.count(_.isInstanceOf[WindowExec]),
        ns.count(_.isInstanceOf[InMemoryTableScanExec]),
        ns.count(_.isInstanceOf[FileSourceScanExec]))
    }
    val expected = Map(
      "q_model_uprn_usrn_count" -> Seq(3, 1, 0, 0, 2),
      "q_model_impact_scores" -> Seq(21, 10, 8, 2, 12),
      "q_model_authority_scores" -> Seq(23, 11, 8, 2, 12),
      "q_model_wellbeing" -> Seq(13, 10, 1, 0, 10),
      "q_model_permit_details" -> Seq(14, 11, 4, 0, 9),
      "q_model_data_tests" -> Seq(15, 7, 6, 2, 9),
      "q_model_impact_scores_england" -> Seq(21, 10, 8, 2, 12),
      "q_model_authority_scores_england" -> Seq(23, 11, 8, 2, 12),
      "q_model_permit_details_england" -> Seq(13, 11, 4, 0, 9))
    // a JVM's first build of a mart reads each table's footer (the
    // Tables read cache) and plans the orders scan once for its
    // partition count (IvfIndex.adaptiveFloor): build the lazy marts
    // first so that one-off work lands in no mart's count
    expected.keys.filterNot(_.contains("authority"))
      .foreach(q => SparkEntry.queries(q)(spark, sfDir))
    assert(expected.map { case (q, _) => q -> counts(q) } === expected)
  }

  test("q_source_cap's grouped prefix sum: partitioned windows only, offsets broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_source_cap")(spark, sfDir)
      .queryExecution.sparkPlan
    val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty,
      s"per-group running total regressed to a global window: ${global.mkString("; ")}")
    val p = exec.toString
    // the offsets broadcast (the corpus total is a literal); the big
    // side never sort-merge-joins
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "offset join shuffles the fact side")
  }

  test("q_mixture: broadcast rate join, scan-level hash filter, no fact shuffle") {
    val p = plan("q_mixture")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "mixture rate join fell back to shuffling the corpus side")
  }

  test("q_epoch_plan: one corpus aggregation, totals joined broadcast-only") {
    val p = plan("q_epoch_plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the tiny per-source table must join its totals by broadcast")
  }

  test("assembly prefix sums (pack/segments/shard/interleave) carry no single-partition WindowExec") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_pack", "q_pack_segments", "q_shard", "q_interleave")) {
      val exec = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty,
        s"$q packing/layout regressed to a global window: ${global.mkString("; ")}")
    }
  }

  test("q_ann_pq: shuffle-free encode, TakeOrderedAndProject top-k") {
    val p = plan("q_ann_pq")
    assert(p.contains("TakeOrderedAndProject"), "PQ top-k became a global sort")
    assert(!p.contains("Exchange hashpartitioning"),
      "PQ encode/ADC introduced a shuffle — it must stay a scalar expression chain")
    assert(!p.contains("Join"), "PQ ADC must not join; lookups are literal arrays")
  }

  test("q_ann_pq_trained: trained-book search keeps the shuffle-free ADC shape") {
    // training happens BEFORE the returned plan (collected codebooks);
    // the search itself must stay the q_ann_pq shape: literal-array
    // lookups + TakeOrderedAndProject, no joins, no shuffles
    val p = plan("q_ann_pq_trained")
    assert(p.contains("TakeOrderedAndProject"), "PQ top-k became a global sort")
    assert(!p.contains("Exchange hashpartitioning"),
      "trained ADC introduced a shuffle — it must stay a scalar expression chain")
    assert(!p.contains("Join"), "trained ADC must not join; lookups are literal arrays")
  }

  test("q_dup_spans: inverted-index equi-join, island window partitioned by doc") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_dup_spans")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "gram-frequency join lost its equi-join shape")
    val global = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "span merge regressed to a global window")
  }

  test("q_canonicalize stays a shuffle-free map plan") {
    assert(!plan("q_canonicalize").contains("Exchange"),
      "canonicalization introduced a shuffle")
  }

  test("q_hist_quantiles: the corpus shuffles once (bin groupBy); windows see only bin rows") {
    val p = plan("q_hist_quantiles")
    // exactly two hash exchanges: the corpus bin groupBy, and the
    // quantile-probe groupBy over <= bins * |qs| rows. A third would be
    // the hist relation re-aggregating the corpus (the bug this pins).
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2,
      s"histogram quantiles re-aggregated the corpus: $shuffles hash exchanges")
    // the cumulative window and quantile probe run AFTER the bin
    // aggregation: their single-partition exchanges carry <= bins rows
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("n_chars") && !read.contains("text"),
      s"documents scan not pruned to n_chars: $read")
  }

  test("unpartitioned-window whitelist: every global WindowExec in the suite consumes a post-aggregation relation") {
    // The ONLY allowed unpartitioned windows are bounded by construction:
    // q_hist_quantiles' cum/total run over <= bins aggregated rows,
    // q_epoch_plan's water-filling rounds over one row per source. This
    // pins the boundedness structurally — the window's child subtree must
    // contain the aggregation that shrank the corpus — so a refactor that
    // slid a global window BELOW its aggregate (re-sorting the corpus in
    // one task) fails here, and the WindowExec "No Partition Defined"
    // warnings in a bench tail are explained once, by this whitelist.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("q_hist_quantiles", "q_epoch_plan")) {
      val exec = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val globals = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(globals.nonEmpty, s"$q lost its documented bounded window — update the whitelist")
      globals.foreach { w =>
        val aggBelow = w.child.collect { case a: BaseAggregateExec => a }
        assert(aggBelow.nonEmpty,
          s"$q has a global window over a NON-aggregated input (unbounded single-task sort):\n$w")
      }
    }
  }

  test("q_semantic_dedup_keep: within-cell pairs are an equi-join on the cell id, never cartesian") {
    // the SemDeDup scale contract: pair work is Σ cell², realized as a
    // HASH EQUI-JOIN keyed on the IVF cell. At bench SF the accurately-
    // sized cached assignment may broadcast (r20: the row-wise argmin
    // rewrite gave the cache honest stats, so Catalyst picks BHJ under
    // the threshold — still the cell equi-join); past the threshold the
    // same plan shuffles. What must NEVER appear: CartesianProduct or
    // BNLJ (the r20 literal-centroid argmin removed even the 8-row
    // centroid crosses). The full query truncates lineage in its star
    // rounds (localCheckpoint), so the audit pins the pair STAGE, the
    // plan that scales with n².
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val cents = operators.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val pairs = operators.Similarity.cellCosinePairs(
      emb, "vec_id", "embedding", cents, 0.25)
    val exec = pairs.queryExecution.sparkPlan
    val p = exec.toString
    assert(!p.contains("CartesianProduct"), "pair join regressed to cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair plan grew a nested-loop join:\n$p")
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val equiOnCell = exec.collect {
      case j: SortMergeJoinExec if j.leftKeys.mkString.contains("cell") => j
      case j: ShuffledHashJoinExec if j.leftKeys.mkString.contains("cell") => j
      case j: BroadcastHashJoinExec if j.leftKeys.mkString.contains("cell") => j
    }
    assert(equiOnCell.nonEmpty, s"within-cell pairs lost the cell equi-join:\n$p")
    // r21: the persist is GONE (the r20 argmin is deterministic, so the
    // join sides are sameResult without it — the r11 cache's reason no
    // longer exists and its materialization job was the r20 sf1.5 drift
    // suspect). Pin that no InMemoryTableScan crept back in, and that
    // under a SHUFFLE join the two identical cell exchanges dedupe to a
    // ReusedExchange (broadcast plans have no exchange to reuse — the
    // recomputed argmin map is the cheap side of that trade).
    assert(!p.contains("InMemoryTableScan"),
      s"unexpected cache in the pair plan (r21 removed it):\n$p")
    val shuffleJoins = exec.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    if (shuffleJoins.nonEmpty)
      assert(p.contains("ReusedExchange"),
        s"shuffle pair join without exchange reuse — assignment subplan " +
          s"would shuffle once per side:\n$p")
  }

  test("q_geo_geojson: map plan whose ONLY exchange is the parallelism floor, events scan pruned to the two id columns") {
    val p = plan("q_geo_geojson")
    // the r18 floor round-robins the two-long-column scan so the JSON
    // build+parse runs at cluster parallelism instead of the row-group
    // count (a no-op at real scale) — that ONE exchange, directly over
    // the pruned scan, is the only shuffle allowed; a hash/range
    // exchange would mean the parse itself regressed to a shuffle
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("RoundRobinPartitioning")),
      s"GeoJSON parse introduced a non-floor shuffle: $exchanges")
    assert(exchanges.size <= 1,
      s"more than the one floor exchange: $exchanges")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("event_id") && read.contains("user_id") &&
      !read.contains("event_type") && !read.contains("value"),
      s"events scan not pruned to event_id+user_id: $read")
  }

  // r21: the three tokenizer-encode plans gained the SAME floor shape
  // q_geo_geojson pins — ONE round-robin exchange of the pruned
  // (doc_id, text) scan so the encode map runs at cluster parallelism
  // instead of the row-group count (no-op at real scale); any OTHER
  // exchange (hash/range) would mean the encode itself regressed to a
  // shuffle
  private def assertFloorOnlyEncode(name: String, what: String): String = {
    val p = plan(name)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("RoundRobinPartitioning")),
      s"$what introduced a non-floor shuffle: $exchanges")
    assert(exchanges.size <= 1,
      s"$what: more than the one floor exchange: $exchanges")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("n_chars"), s"documents scan not pruned: $read")
    p
  }

  test("q_bpe_encode_bytes: floor-only scan->project (byte-level path)") {
    assertFloorOnlyEncode("q_bpe_encode_bytes", "byte-level BPE encode")
  }

  test("q_unigram_encode: floor-only scan->project (Viterbi expression path)") {
    assertFloorOnlyEncode("q_unigram_encode", "unigram encode")
  }

  test("q_bpe_encode: floor-only codegen'd scan->project, pruned to doc_id+text") {
    val p = assertFloorOnlyEncode("q_bpe_encode", "corpus BPE encode")
    // the HOF-lambda projects are interpreted (Spark never codegens
    // higher-order functions) but the scan + final hash/head project stay
    // inside whole-stage codegen spans. With the r21 floor exchange the
    // plan is AQE-wrapped and the INITIAL plan string hides codegen
    // stars — execute once and read the FINAL plan for the span pin.
    val qe = SparkEntry.queries("q_bpe_encode")(spark, sfDir).queryExecution
    qe.executedPlan.execute().count() // finalize the AQE stages
    val fin = qe.executedPlan.toString
    assert(fin.contains("*("), s"scan/project lost its codegen span:\n$fin")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("n_chars"),
      s"documents scan not pruned to doc_id+text: $read")
  }

  test("q_span_cut cuts with per-doc intervals: one Generate, no anti-join") {
    // the R19 shape: the only row explosion is the n-gram posexplode —
    // the position-explode + LEFT ANTI form handed AQE a corpus-sized
    // broadcast side (16M rows at sf6) and re-sorted every token
    // through a collect_list; a second Generate or a LeftAnti here is
    // that regression coming back
    for (q <- Seq("q_span_cut", "q_span_cut_keep")) {
      val p = plan(q)
      // the cached n-gram subtree prints once per InMemoryTableScan
      // reference, so count explosion KINDS, not occurrences: the only
      // one allowed is the n-gram posexplode
      assert(!p.contains("explode(sequence("),
        s"$q regressed to exploding covered positions")
      assert(!p.contains("LeftAnti"),
        s"$q regressed to the anti-join reassembly")
    }
  }

  test("q_lm_score / q_winnow_pairs / q_span_cut / q_quality_classifier / q_corpus_report stay equi-join shaped (no BNLJ/cartesian)") {
    for (q <- Seq("q_lm_score", "q_winnow_pairs", "q_span_cut",
        "q_quality_classifier", "q_corpus_report")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q lost its equi-join shape")
    }
  }

  test("q_state_intervals: both windows and the groupBy share one user-key shuffle") {
    val p = plan("q_state_intervals")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1, s"gaps-and-islands now shuffles $shuffles times")
  }

  test("q_concurrency's sweep carries no single-partition WindowExec") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_concurrency")(spark, sfDir)
      .queryExecution.sparkPlan
    val global = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty,
      s"interval sweep regressed to a global window: ${global.mkString("; ")}")
  }

  test("q_pagerank stays equi-join shaped (no BNLJ/cartesian) per round") {
    val p = plan("q_pagerank")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pagerank round lost its edge equi-join shape")
  }

  test("q_funnel: one user-key shuffle for the fold, no window at all") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("q_funnel")(spark, sfDir).queryExecution
    assert(qe.sparkPlan.collect { case w: WindowExec => w }.isEmpty,
      "the per-user fold should be an aggregate, not a window")
    val p = qe.executedPlan.toString
    // the event-side fold shuffles once on user; the k-row step rollup may
    // add small exchanges but never a sort-merge of the fact side
    assert(!p.contains("CartesianProduct"))
  }

  test("q_retention: co-partitioned user join, no single-partition window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = SparkEntry.queries("q_retention")(spark, sfDir)
      .queryExecution.sparkPlan
    assert(exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty)
  }

  test("q_pit_state: the validity lookup keeps the as-of union form — no join operator") {
    val p = plan("q_pit_state")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the SCD2 lookup regressed from the union+window form to a join")
  }

  test("q_cms_heavy: the sketch joins back by broadcast, estimates stay codegen") {
    val p = plan("q_cms_heavy")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row sketch must broadcast, not shuffle")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_ann_ivf_indexed reads ONLY the probed cells' partitions") {
    val df = SparkEntry.queries("q_ann_ivf_indexed")(spark, sfDir)
    val p = df.queryExecution.executedPlan
    assert(p.toString.contains("PartitionFilters"),
      "the centroid_id probe filter must hit the partition layout")
    df.collect()
    // the rerank's per-vid agg puts an AQE shuffle above the scan: walk
    // into the FINALIZED adaptive plan (and its materialized stages) to
    // reach the file-scan leaf — collectLeaves on the pre-execution
    // reference stops at the stage boundary
    def scans(n: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val nFiles = scans(p)
      .flatMap(_.metrics.get("numFiles").map(_.value)).headOption
    // 4 probed of 8 trained cells: the scan must open fewer files than
    // the total cell count (one file per cell directory at this scale)
    assert(nFiles.exists(n => n > 0 && n <= 4),
      s"probe-4 over 8 cells read $nFiles files — partition pruning lost")
  }

  test("q_ivf_pq_indexed prunes to probed cells AND scans only code columns") {
    val df = SparkEntry.queries("q_ivf_pq_indexed")(spark, sfDir)
    val p = df.queryExecution.executedPlan
    assert(p.toString.contains("PartitionFilters"),
      "the centroid_id probe filter must hit the partition layout")
    df.collect()
    val nFiles = p.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).headOption
    assert(nFiles.exists(n => n > 0 && n <= 4),
      s"probe-4 over 8 cells read $nFiles files — partition pruning lost")
    val codesScan = p.toString.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("code_0")).mkString
    assert(codesScan.nonEmpty, "no scan over the materialized codes table found")
    assert(!codesScan.contains("embedding") && !codesScan.contains("array<"),
      s"codes scan still reads a vector column: $codesScan")
  }

  test("q_ann_pq_indexed scans only the narrow code columns, never vectors") {
    val p = plan("q_ann_pq_indexed")
    assert(p.contains("TakeOrderedAndProject"), "ADC top-k must be a heap, not a sort")
    // the codes-table scan: ReadSchema carries vid + code_*, no embedding
    val codesScan = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("code_0")).mkString
    assert(codesScan.nonEmpty, "no scan over the materialized codes table found")
    assert(!codesScan.contains("embedding") && !codesScan.contains("array<"),
      s"codes scan still reads a vector column: $codesScan")
  }
}
