package graft.queries

import graft.SparkSpec

/** Physical-plan regressions: the scale-critical plan shapes asserted, so
  * a future edit that silently loses a pushdown, broadcast, or exchange
  * reuse fails here rather than at 100 TB. */
class PlanSpec extends SparkSpec {

  private def planOf(q: String): String =
    graft.SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan.toString

  /** Pin for the r12 scale-adaptive scan spread (r12 ADVICE, medium):
    * a blanket RoundRobinPartitioning exemption would also pass a
    * round-robin that moves SYNTHESIZED payload bytes. On `q`'s physical
    * plan, assert there is at most one round-robin exchange and that it
    * is the pre-payload spread: below it the parquet scan and no payload
    * synth (object mapPartitions / serialize) and no further exchange; no
    * binary column in the rows it moves; and the payload synth above it,
    * consuming the spread rows. */
  private def assertSpreadIsPrePayload(q: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec,
      SerializeFromObjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.types.BinaryType
    object H extends AdaptiveSparkPlanHelper
    val plan = graft.SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan
    def synth(n: SparkPlan) =
      n.isInstanceOf[MapPartitionsExec] || n.isInstanceOf[SerializeFromObjectExec]
    val spreads = H.collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(spreads.size <= 1, s"$q: ${spreads.size} round-robin exchanges:\n$plan")
    spreads.foreach { spread =>
      val below = H.collect(spread.child) { case n => n }
      assert(below.exists(_.isInstanceOf[FileSourceScanExec]),
        s"$q: round-robin spread has no parquet scan below it:\n$plan")
      assert(!below.exists(n => synth(n) || n.isInstanceOf[Exchange]),
        s"$q: round-robin spread above payload synth — payload bytes " +
          s"would cross the network:\n$plan")
      assert(!spread.output.exists(_.dataType == BinaryType),
        s"$q: round-robin spread moves a binary column:\n$plan")
      assert(H.collect(plan) { case n if synth(n) && H.find(n)(_ eq spread).isDefined => n }
          .nonEmpty,
        s"$q: no payload synth above the round-robin spread:\n$plan")
    }
  }

  test("proj_filter: predicates and projection reach the parquet scan") {
    val p = planOf("proj_filter")
    assert(p.contains("PushedFilters:"), "no pushdown section")
    assert(p.contains("l_returnflag"), p.linesIterator.filter(_.contains("Scan")).mkString("\n"))
    // only selected columns read (no full-width struct)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), s"over-wide scan: $readSchema")
  }

  test("join_broadcast_dims: all dim joins broadcast, fact side never shuffles to join") {
    val p = planOf("join_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast hash joins")
    assert(!p.contains("SortMergeJoin"), "fact-side SMJ crept in")
  }

  test("q1_agg: two-phase aggregation (map-side partial combine)") {
    val p = planOf("q1_agg")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs")
  }

  test("win_sessionize: the window chain reuses one exchange on the key") {
    val p = planOf("win_sessionize")
    // one shuffle for the per-user window work + one for the final rollup
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 3, s"window chain fragmented into $exchanges exchanges:\n$p")
  }

  test("jaccard pair mine: the shingle self-join reuses the build side") {
    // the REGISTERED dedup_ngram_jaccard now reads the staged pair
    // parquet (the mine runs once at staging — round-5 scratch-parquet
    // staging), so the reuse property is pinned on the mine plan itself:
    // identical subplans on both self-join sides must share one exchange
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .withColumn("toks", graft.ext.Text.tokens(col("text")))
      .select(col("doc_id").as("id"), col("toks"))
    val p = graft.ext.Dedup
      .jaccardPairs(docs, k = 3, minJaccard = 0.8, maxDocFreq = 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"),
      s"self-join recomputes both sides:\n$p")
  }

  test("dedup_ngram_hashed: the registered from-scratch mine reuses the build side") {
    // the hashed variant still mines from scratch inside the registered
    // query — the same reuse property must hold on its live plan
    val p = planOf("dedup_ngram_hashed")
    assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"),
      "self-join recomputes both sides")
  }

  test("sim_bruteforce_topk: query side broadcasts; corpus never shuffles pre-join") {
    val p = planOf("sim_bruteforce_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "queries not broadcast")
  }

  test("dedup_embedding: dot products run as the native seq_dot expression") {
    val p = planOf("dedup_embedding")
    assert(p.contains("seq_dot"),
      s"expected the codegen'd SeqDot, not the interpreted HOF fold:\n$p")
    // the HOF forms would print as aggregate(zip_with(...)) lambdas
    assert(!p.contains("zip_with"), "interpreted zip_with crept back in")
  }

  test("join_asof_native / join_interval_native: the custom execs plan in") {
    val asof = planOf("join_asof_native")
    assert(asof.contains("AsOfJoin"), s"AsOfJoinExec missing:\n$asof")
    val ivl = planOf("join_interval_native")
    assert(ivl.contains("IntervalJoin"), s"IntervalJoinExec missing:\n$ivl")
  }

  test("hot relational queries stay inside whole-stage codegen") {
    // the '*(n)' prefix marks operators fused into a codegen stage; a
    // query whose final plan shows none has fallen out of codegen
    // entirely (e.g. an interpreted expression crept into the hot path).
    // AQE assigns codegen stages during execution, so run the query and
    // read the finalized adaptive plan.
    Seq("q1_agg", "text_stats", "proj_filter", "win_running_sum",
        "dedup_embedding").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf001)
      df.collect() // count() would execute a different plan; the adaptive
      // plan only finalizes (and assigns codegen stages) on ITS execution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), s"$q lost whole-stage codegen:\n$p")
    }
  }

  test("text_contamination: the benchmark shingle set broadcasts") {
    val p = planOf("text_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side should broadcast, corpus side stream:\n$p")
  }

  test("shingleRows is scan-local: no exchange, no window below the explode") {
    // the round-3 native WordShingles expression deleted the windowed
    // build's shuffle + sort + distinct exchange; a regression to any
    // relational formulation would re-insert an Exchange or Window here
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select(col("doc_id").as("id"),
        graft.ext.Text.tokens(col("text")).as("toks"))
    val p = graft.ext.Dedup.shingleRows(docs, 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"shingle build shuffles:\n$p")
    assert(!p.contains("Window"), s"shingle build re-grew a window:\n$p")
    assert(p.contains("word_shingles"), s"native expression missing:\n$p")
  }

  test("sim_quantized_topk: integer ranking runs as the native seq_dot_long") {
    val p = planOf("sim_quantized_topk")
    assert(p.contains("seq_dot_long"),
      s"expected the codegen'd SeqDotLong, not the interpreted HOF:\n$p")
    assert(!p.contains("zip_with"), "interpreted zip_with crept back in")
  }

  test("dedup_apply_minhash: no broadcast hints on candidate-sized relations") {
    // candidates are O(duplicate pairs) at crawl scale — a broadcast HINT
    // is unbounded (the round-1 broadcast(losers) trap); AQE may still
    // promote at runtime, which the hintless optimized plan permits
    val q = graft.SparkEntry.queries("dedup_apply_minhash")(spark, sf001)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("strategy=broadcast"),
      s"broadcast hint crept into the sketch-verify flow:\n$optimized")
  }

  test("sim_ivf_topk: centroid scoring is the broadcast-model expression, not a literal tree") {
    // nlist=64 centroids must ride the broadcast store — the plan text is
    // O(1) in nlist; the regression is a folded per-centroid literal
    // chain (plan size O(nlist·dim), a planner/codegen blowup at
    // realistic centroid counts)
    for (name <- Seq("sim_ivf_topk", "sim_ivf_warm")) {
      val q = graft.SparkEntry.queries(name)(spark, sf001)
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("centroid_top_ids"),
        s"$name: broadcast centroid scoring missing:\n$p")
      assert(p.length < 100000,
        s"$name: plan text is ${p.length} chars — literal centroid folding is back")
    }
  }

  test("src_bucketed_join: co-located join, no exchange on either side") {
    // small SFs fit under the broadcast threshold — disable it so the
    // plan shows what a fact-fact join does at scale, where bucketing
    // is the lever (broadcast would mask the exchange-free property)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // staging runs eagerly when the query is built; the returned frame
      // is the bucketed-scan join whose point is exchange-free planning
      val q = graft.SparkEntry.queries("src_bucketed_join")(spark, sf0001)
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"),
        s"expected a merge join over bucketed scans:\n$p")
      assert(!p.split("\n").exists(l => l.contains("Exchange hashpartitioning")
          && (l.contains("l_orderkey") || l.contains("o_orderkey"))),
        s"bucketed join re-shuffled a side:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("agg_topk_typed: unnest stays relational after the typed aggregate") {
    // r5 blemish #3: a typed flatMap after the TopK aggregator forced a
    // Deserialize/MapPartitions/Serialize sandwich; the posexplode form
    // keeps the unnest a Generate node. The aggregate itself is typed
    // (its serialization is the U6 contract), so only the POST-aggregate
    // object hops are pinned away.
    val p = planOf("agg_topk_typed")
    assert(p.contains("Generate"), "posexplode lost — no Generate node")
    assert(!p.contains("MapPartitions"),
      s"typed flatMap sandwich back in the unnest:\n$p")
  }

  test("text_pack_sequences: global prefix sum never funnels through one partition") {
    // the whole point of the two-phase prefix sum: a naive global-order
    // window would plan Exchange SinglePartition and serialize the corpus
    val p = planOf("text_pack_sequences")
    val windows = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(windows.nonEmpty, "expected the per-partition cumsum window")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange crept into the packing plan:\n$p")
  }

  test("mix_quantile_normalize: global rank never funnels through one partition") {
    // r7 verdict #2: the global order statistic used to be one
    // row_number over Window.orderBy with NO partition key — Exchange
    // SinglePartition over every event row. Now the two-phase
    // range-partition + per-pid rank + broadcast offsets; the only
    // windows left are per-(pid)/per-type partitioned.
    val p = planOf("mix_quantile_normalize")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange back in the quantile-normalize plan:\n$p")
    // r8 verdict #1: BOTH passes rank per physical partition now — the
    // global order statistic (per-pid) AND the within-group rank (per
    // (pid, event_type) via groupedRank). A bare
    // Window.partitionBy(event_type) 5-key funnel would leave only one.
    val pidWindows = p.linesIterator.count(l => l.contains("Window") && l.contains("pid#"))
    assert(pidWindows >= 2,
      s"expected per-pid rank windows for BOTH passes (global + within-group), got $pidWindows:\n$p")
  }

  test("agg_percentile_disc: per-group selection ranks inside (pid, group), not one task per group") {
    // with 5 event types, Window.partitionBy(event_type) hands each task
    // 20% of the corpus at any scale — the groupedRank rewrite windows
    // over (pid, event_type) so a huge group spans many partitions
    val p = planOf("agg_percentile_disc")
    assert(p.linesIterator.exists(l => l.contains("Window") && l.contains("pid#")),
      s"expected the (pid, group) rank window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in the selection plan:\n$p")
  }

  test("agg_robust_outliers: both selection passes rank inside (pid, group)") {
    val p = planOf("agg_robust_outliers")
    val pidWindows = p.linesIterator.count(l => l.contains("Window") && l.contains("pid#"))
    assert(pidWindows >= 2,
      s"expected two (pid, group) rank windows (median + MAD), got $pidWindows:\n$p")
  }

  test("sim_ivf_exact_topk: centroid model broadcasts everywhere, candidates join on the cell") {
    val p = planOf("sim_ivf_exact_topk")
    assert(!p.contains("CartesianProduct"),
      s"a centroid cross join fell out of broadcast:\n$p")
    // train-assign, invert, probe, and the candidate join all carry the
    // k-row model (or the |Q|-row probe set) as a broadcast — the corpus
    // side never shuffles to meet the index
    assert(p.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("BroadcastHashJoin")) >= 3,
      s"expected >= 3 broadcast joins in the IVF lifecycle:\n$p")
  }

  test("sim_knn_graph: block join + partial top-k (no cartesian, no full-block shuffle)") {
    val p = planOf("sim_knn_graph")
    assert(!p.contains("CartesianProduct"), s"label block join fell to cartesian:\n$p")
    val n = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(n >= 2, s"expected partial+final WindowGroupLimit on the rank<=k cut, got $n:\n$p")
  }

  test("agg_weighted_median: weight cumsum ranks inside (pid, source), no single-partition funnel") {
    val p = planOf("agg_weighted_median")
    assert(p.linesIterator.exists(l => l.contains("Window") && l.contains("pid#")),
      s"expected the per-physical-partition weight cumsum window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in the weighted-median plan:\n$p")
  }

  test("sample_reservoir_group: partial top-k (WindowGroupLimit) prunes before the shuffle") {
    // the whole scale argument of the per-group reservoir: rn <= k must
    // plan a PARTIAL WindowGroupLimit below the exchange (each map task
    // keeps <= k rows per group) plus the final one above — the shuffle
    // then carries O(groups*k*tasks), never the corpus
    val p = planOf("sample_reservoir_group")
    val n = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(n >= 2, s"expected partial+final WindowGroupLimit, got $n:\n$p")
  }

  test("sample_balanced_classes: the per-label election prunes partial (WindowGroupLimit) before the shuffle") {
    val p = planOf("sample_balanced_classes")
    val n = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(n >= 2, s"expected partial+final WindowGroupLimit, got $n:\n$p")
  }

  test("sim_pq_topk: ADC scan reads codes (not raw floats); shortlist prunes before the shuffle") {
    val p = planOf("sim_pq_topk")
    // the scoring scan is the published code table — its ReadSchema must
    // carry codes and no embedding column (the whole point of PQ: the
    // ranking pass never reads the raw vectors)
    val codeScan = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("codes")).getOrElse("")
    assert(codeScan.nonEmpty, s"no codes scan in:\n$p")
    assert(!codeScan.contains("embedding"), s"ADC scan reads raw floats: $codeScan")
    // the native expressions, not interpreted HOFs, do the scoring
    assert(p.contains("pq_adc"), "ADC not running as the native expression")
    // Spark's rank-limit pushdown must trim each partition to the
    // shortlist BEFORE the qid shuffle — without it the shuffle carries
    // |Q|·|C| scored rows instead of |Q|·k·oversample per partition
    assert(p.contains("WindowGroupLimit"), s"no partial rank pushdown:\n$p")
    // the re-rank join broadcasts the candidate side; the raw table streams
    assert(p.contains("BroadcastHashJoin"), "re-rank join is not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-wide SMJ crept into re-rank")
  }

  test("sim_ivfpq_topk: cell-pruned ADC over the published code index, probes broadcast") {
    val p = planOf("sim_ivfpq_topk")
    // the scoring scan is the published IVF-PQ index — codes + cell +
    // stored reconstruction norm, never the raw embedding floats
    val idxScan = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("codes") &&
        l.contains("recon_norm")).getOrElse("")
    assert(idxScan.nonEmpty, s"no IVF-PQ index scan in:\n$p")
    assert(!idxScan.contains("embedding"), s"index scan reads raw floats: $idxScan")
    assert(p.contains("pq_adc"), "ADC not running as the native expression")
    // the (query × probed-cell) side broadcasts; the index side streams —
    // a sort-merge join here would shuffle the whole code table
    assert(p.contains("BroadcastHashJoin"), "probe join is not broadcast")
    assert(!p.contains("SortMergeJoin"), "index-wide SMJ crept in")
    // shortlist pruned before the qid shuffle, as in the flat-PQ plan
    assert(p.contains("WindowGroupLimit"), s"no partial rank pushdown:\n$p")
  }

  test("text_decontaminate_bloom: the probe is a scan-local filter, not a join") {
    val p = planOf("text_decontaminate_bloom")
    // the corpus side must meet the filter as a Filter condition right
    // above its shingle Generate — a shuffle (or join) before the probe
    // would move the full shingle relation to test membership
    assert(p.contains("bloom_might_contain_long"),
      s"bloom probe not in the plan:\n$p")
    val lines = p.linesIterator.toSeq
    val probeIdx = lines.indexWhere(_.contains("bloom_might_contain_long"))
    assert(probeIdx >= 0)
    // everything below the probe filter down to its scan is narrow:
    // no KEYED Exchange between the probe and the Generate feeding it.
    // (The r12 scale-adaptive scan spread — Tables.loadSpread — may
    // round-robin the PRE-shingle id+text rows when the input is fewer
    // splits than cores; the invariant here is that the SHINGLE relation
    // is never moved to test membership, i.e. no hash/range exchange.)
    val below = lines.drop(probeIdx).takeWhile(!_.contains("Scan parquet"))
    assert(!below.exists(l =>
        l.contains("Exchange ") && !l.contains("RoundRobinPartitioning")),
      s"shuffle below the bloom probe:\n${below.mkString("\n")}")
  }

  test("dedup_apply: the anti-join is not hint-forced to broadcast") {
    // AQE may still pick broadcast at runtime when the loser set fits —
    // the regression is a *hint* (unbounded at 100 TB). EliminateResolvedHint
    // folds hints into the Join's JoinHint, printed as strategy=broadcast,
    // so assert on that (a ResolvedHint node never survives optimization).
    val q = graft.SparkEntry.queries("dedup_apply")(spark, sf001)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("strategy=broadcast"),
      s"broadcast hint on the dedup anti-join is back:\n$optimized")
  }

  test("q5_multi_join: one fact shuffle; every dimension chain broadcasts") {
    val p = planOf("q5_multi_join")
    // the only sort-merge join allowed is lineitem x orders; customer/
    // nation/region/supplier must all ride broadcasts
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"dimension chain fell back to shuffle joins ($smj SMJs):\n$p")
    assert(p.contains("BroadcastHashJoin"), "dims lost their broadcast")
  }

  test("events_funnel: stage tables broadcast; the event scan never shuffles to join") {
    val p = planOf("events_funnel")
    assert(p.contains("BroadcastHashJoin"), "stage joins lost their broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"funnel stage join shuffles the event scan:\n$p")
  }

  test("ts_resample_grid: one window over the union — no per-cell join, no cartesian blowup") {
    val q = graft.SparkEntry.queries("ts_resample_grid")(spark, sf001)
    val p = q.queryExecution.executedPlan.toString
    // the only join is the 1-row bounds broadcast under the grid generator
    assert(!p.contains("SortMergeJoin"), s"grid fill became a join:\n$p")
    val windows = p.linesIterator.count(_.matches(""".*[+:]- Window .*"""))
    assert(windows == 1, s"expected exactly one window pass, got $windows:\n$p")
  }

  test("graph_pagerank: iterations read the staged edge relation, column-pruned") {
    val p = planOf("graph_pagerank")
    // staged parquet scans, one per iteration side — and none re-runs
    // the O(lineitem^2/order) pair self-join
    assert(!p.contains("l_orderkey"),
      "an iteration re-mines edges from lineitem instead of the staged relation")
  }

  test("graph_triangles: reads the staged support, no per-query wedge re-enumeration") {
    val p = planOf("graph_triangles")
    // r12: the wedge pipeline lives in the once-per-corpus tri_support
    // stage build; the query itself must be support-scale parquet reads
    assert(p.contains("stage_tri_support"),
      s"triangle counts no longer derive from the staged support:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"support/degree rollup shuffled into an SMJ:\n$p")
    assert(p.contains("BroadcastHashJoin"), "per-node counts lost their broadcast")
  }

  test("ts_interpolate: all four neighbor windows share one exchange+sort") {
    val p = planOf("ts_interpolate")
    // Spark splits the frames into up to 3 Window nodes, but they must
    // all stack over ONE hash exchange — the shuffle count is the scale
    // property, not the node count
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"window chain re-shuffles $exchanges times:\n$p")
  }

  test("join_bloom_semi: the bloom probe prunes at the scan, before any exchange") {
    val p = planOf("join_bloom_semi")
    assert(p.contains("bloom_might_contain_long"),
      s"bloom probe missing from the plan:\n$p")
    // the probe must sit in the scan-side filter, not after the join
    val probeLine = p.linesIterator.indexWhere(_.contains("bloom_might_contain_long"))
    val joinLine = p.linesIterator.indexWhere(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(probeLine > joinLine, // tree prints top-down: deeper = later line
      s"bloom filter applied above the join instead of at the scan:\n$p")
  }

  test("join_fuzzy_names: levenshtein runs only inside prefix blocks (equi-join, no cartesian)") {
    val p = planOf("join_fuzzy_names")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match degenerated to an unblocked cross join:\n$p")
  }

  test("mix_importance: the 4096-row ratio table broadcasts back onto the token stream") {
    val p = planOf("mix_importance")
    assert(p.contains("BroadcastHashJoin"),
      s"ratio rejoin lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream shuffles to meet a 4096-row table:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 planned as a global sort:\n$p")
  }

  test("sim_kmeans_step: the k-row seed table broadcasts; assignment needs no shuffle before the argmin") {
    val p = planOf("sim_kmeans_step")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"seed cross join lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"seed join degenerated to a partitioned cartesian:\n$p")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"argmin/centroid aggs lost partial combine:\n$p")
  }

  test("text_novelty / text_dedup_spans_apply: shingle attribution never builds a pair relation") {
    Seq("text_novelty", "text_dedup_spans_apply").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a cross join:\n$p")
    }
  }

  test("text_bpe_merge: top-20 is a TakeOrdered over a two-phase count, not a global sort") {
    val p = planOf("text_bpe_merge")
    assert(p.contains("TakeOrderedAndProject"), s"global sort crept in:\n$p")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"pair count lost map-side combine:\n$p")
  }

  test("text_cooccurrence: pair mining is scan-local generation + TakeOrdered, no cross join") {
    val p = planOf("text_cooccurrence")
    assert(!p.contains("CartesianProduct"), s"pair mine grew a cross join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 planned as a global sort:\n$p")
  }

  test("join_asof_nearest: equi-join on (user, bucket), never an inequality cross join") {
    val p = planOf("join_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest-asof degenerated to an unbounded join:\n$p")
  }

  test("sample_coreset: the centroid-array table broadcasts; the distance is the codegen seq_l2_long") {
    val p = planOf("sample_coreset")
    assert(p.contains("seq_l2_long"), s"fused L2 loop missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"centroid rejoin lost its broadcast:\n$p")
  }

  test("events_lifecycle / events_cohort_ltv: windows partition by bounded keys, no single-partition window") {
    Seq("events_lifecycle", "events_cohort_ltv").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
        s"$q grew a corpus-sized single-partition window:\n$p")
    }
  }

  test("events_concurrency_peak: the sweep's running sum never funnels through one partition") {
    // the final one-row min/max merges legitimately exchange to a single
    // partition; the pin is that the CUMSUM WINDOW itself partitions by
    // pid (the two-phase sweep), never running unpartitioned
    val p = planOf("events_concurrency_peak")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .mkString("\n")
    assert(windows.nonEmpty, s"expected the per-pid cumsum window:\n$p")
    assert(windows.contains("pid"),
      s"running-sum window lost its pid partitioning:\n$windows")
  }

  test("src_partition_pruned_read: the scan lists only the filtered partition") {
    val p = planOf("src_partition_pruned_read")
    val scanLine = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(scanLine.contains("event_type"),
      s"partition filter did not reach the scan:\n$p")
  }

  test("events_rfm: one user shuffle; the segment rollup adds no extra exchange over it") {
    val p = planOf("events_rfm")
    // the corpus-sized purchase stream shuffles exactly once (user_id);
    // the segment rollup's exchange moves <=125 grouped rows and the
    // ORDER BY is driver-facing — both fine at any scale
    val corpusEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning(user_id"))
    assert(corpusEx <= 1, s"RFM shuffles the purchase stream $corpusEx times:\n$p")
  }

  test("geo_geofence_count/dwell: count broadcasts the fence dim; dwell masks natively, one corpus shuffle") {
    val pc = planOf("geo_geofence_count")
    assert(pc.contains("BroadcastNestedLoopJoin") || pc.contains("BroadcastExchange"),
      s"fence dim not broadcast:\n$pc")
    // the hot path: native codegen mask (no join, no interpreted HOF),
    // then the per-user lag window is the ONLY corpus exchange
    val pd = planOf("geo_geofence_dwell")
    assert(pd.contains("geofence_mask"), s"native mask expression missing:\n$pd")
    assert(!pd.contains("Join"), s"dwell should not join at all:\n$pd")
    val corpusShuffles = pd.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(corpusShuffles <= 1,
      s"dwell shuffles the corpus $corpusShuffles times (mask window must be the only one):\n$pd")
  }

  // ---- round-10 additions ----

  test("text_quality_model: scan-local scoring — no shuffle except the driver-facing sort") {
    val p = planOf("text_quality_model")
    // rangepartitioning = the driver-facing ORDER BY;
    // RoundRobinPartitioning = the r12 scale-adaptive scan spread of the
    // pre-tokenize id+text rows (Tables.loadSpread; absent at production
    // split counts). Any KEYED hash exchange would mean the scoring
    // re-shuffled the corpus — the regression this pin guards.
    val exchanges = p.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(exchanges.forall(l => l.contains("rangepartitioning") ||
        l.contains("RoundRobinPartitioning")),
      s"the model apply must add no shuffle beyond the ORDER BY:\n$p")
    assert(!p.contains("Join"), s"a literal weight table must not join:\n$p")
  }

  test("geo_geofence_table: the fence catalog broadcasts; the parity fold stays scan-local") {
    val p = planOf("geo_geofence_table")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"fence table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle to meet the fence dim:\n$p")
  }

  /** The sf0.01 synthetic fleet's stage-1 patterns and 8-line params. */
  private lazy val fleetStage1 = (
    graft.ops.PatternExtraction.run(
      Pipeline.syntheticFleet(spark, sf001), busLine = None,
      cfg = graft.ops.PatternExtraction.Config(qualify = false)),
    (0 until 8).map(i => s"L$i" -> graft.ops.TrajectoryClustering.Params(5.0, 2)).toMap)

  test("blindzone pair scan: no encoder, typed-group or join node in the plan") {
    // past the assembly aggregate stage 2 is RDD code: a typed operator
    // here brings its encoders and generated classes back, and a join
    // would turn every pair back into a Spark row
    val p = graft.ops.TrajectoryClustering
      .cluster(fleetStage1._1, fleetStage1._2, maxLocalPairs = 0L)
      .queryExecution.executedPlan.toString
    for (op <- Seq("DeserializeToObject", "SerializeFromObject", "AppendColumns",
        "MapGroups", "Join"))
      assert(!p.contains(op), s"clustered plan has $op:\n$p")
  }

  test("blindzone pair scan: the cell shuffle is numShufflePartitions wide") {
    // the line rows are byte-tiny and their work quadratic: a shuffle AQE
    // may coalesce would fold the cell grid into one task (r9); an RDD
    // shuffle keeps the session's width
    import org.apache.spark.rdd.RDD
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val labels = try graft.ops.TrajectoryClustering
        .cluster(fleetStage1._1, fleetStage1._2, maxLocalPairs = 0L)
        .queryExecution.toRdd
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val cells = lineage(labels).distinct
      .filter(_.name == graft.ops.TrajectoryClustering.CellShuffleName)
    assert(cells.size == 1, s"${cells.size} cell shuffles")
    assert(cells.head.dependencies.head.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]])
    assert(cells.head.partitioner.contains(new org.apache.spark.HashPartitioner(7)),
      s"cell shuffle partitioner: ${cells.head.partitioner}")
  }

  test("stage 3: 6 shuffle + 2 broadcast exchanges on the sf0.01 clustered leaf") {
    // BlindZone.run's executed (final adaptive) plan, reused exchanges not
    // counted; the step-by-step grading ran 8 and 4
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    object H extends AdaptiveSparkPlanHelper
    val (clustered, store) = graft.core.Stage.materialize(
      graft.ops.TrajectoryClustering.run(fleetStage1._1, fleetStage1._2))
    try {
      val graded = graft.ops.BlindZone.run(clustered)
      graded.collect(): Unit // finalizes this frame's adaptive plan
      val plan = graded.queryExecution.executedPlan
      val shuffles = H.collect(plan) { case e: ShuffleExchangeExec => e }.size
      val broadcasts = H.collect(plan) { case e: BroadcastExchangeExec => e }.size
      assert((shuffles, broadcasts) == ((6, 2)), s"$shuffles shuffle, $broadcasts broadcast:\n$plan")
    } finally store.unpersist(false)
  }

  test("pipeline_blindzone: a warm sf0.01 run starts at most 25 jobs") {
    // counted by a listener over the second of two runs (the first warms
    // the session); 33 before stage 2 moved to RDD code, stage 3 to the
    // closed-form grade and the params and checksum into one aggregate
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val query = graft.SparkEntry.queries("pipeline_blindzone")
    query(spark, sf001).collect(): Unit
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.graft.Bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      query(spark, sf001).collect(): Unit
      org.apache.spark.sql.graft.Bridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= 25, s"${jobs.get} jobs")
  }

  test("stage 1: one parquet scan and one id exchange serve every window") {
    // the threshold and the qualify flags are window aggregates on the
    // windows' id partitioning; a groupBy joined back onto its own input
    // scanned and shuffled the fleet twice (no ReusedExchange: the join's
    // inferred isnotnull(id) filter made the two subtrees differ)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val pats = fleetStage1._1
    pats.collect(): Unit
    val plan = pats.queryExecution.executedPlan
    object H extends AdaptiveSparkPlanHelper
    val scans = H.collect(plan) { case s: FileSourceScanExec => s }
    val idExchanges = H.collect(plan) {
      case e @ ShuffleExchangeExec(HashPartitioning(Seq(a: AttributeReference), _), _, _, _)
          if a.name == "id" => e
    }
    assert(scans.size == 1 && idExchanges.size == 1,
      s"${scans.size} scans, ${idExchanges.size} id exchanges:\n$plan")
  }

  // ---- round-11 additions ----

  test("multimodal codec paths: encode+decode fuse scan-side, payloads never shuffle") {
    // all three real-codec legs synthesize and decode in one scan-side
    // partition pass; the only exchange anywhere is the driver-facing
    // ORDER BY (rangepartitioning). A hash exchange would mean payload
    // bytes crossed the network — wrong at any scale, fatal at 100 TB.
    // RoundRobinPartitioning is the r12 scale-adaptive scan spread: it
    // sits BELOW the synth mapPartitions and moves only the pre-payload
    // doc_id/text rows (Tables.loadSpread; absent at production split
    // counts). A keyed hash exchange would still mean payload bytes
    // crossed the network — that stays fatal.
    for (q <- Seq("mm_audio_meta", "mm_audio_energy", "mm_video_frames",
        "mm_decode_meta", "mm_resize")) {
      val p = planOf(q)
      val exchanges = p.linesIterator.filter(_.contains("Exchange ")).toSeq
      assert(exchanges.forall(l => l.contains("rangepartitioning") ||
          l.contains("RoundRobinPartitioning")),
        s"$q shuffles payloads (non-sort exchange):\n$p")
      assertSpreadIsPrePayload(q)
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
  }

  test("join_nearest_poi: station cells broadcast; argmin shuffle is ping-keyed only") {
    // the POI side is dim-sized by construction and must broadcast to
    // the corpus scan; a sort-merge join here would shuffle every ping
    // against a |stations|x9-row relation
    val p = planOf("join_nearest_poi")
    assert(p.contains("BroadcastHashJoin"), s"station cells not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to meet the dim:\n$p")
  }

  test("text_bpe_apply_trained: the encode is scan-local after the ladder broadcast") {
    // training collapses the corpus once (one hash exchange feeding the
    // capped type table is expected); the ENCODE side must add nothing
    // beyond the driver-facing sort — one more hash exchange would mean
    // the corpus re-shuffled to meet the ladder (it rides a broadcast)
    val p = planOf("text_bpe_apply_trained")
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 0,
      s"encode path re-shuffles the corpus ($hashEx hash exchanges):\n$p")
    assert(!p.contains("Join"), s"broadcast ladder must not plan a join:\n$p")
  }

  test("mm_phash_dedup: payloads never shuffle; only the fingerprint relation moves") {
    // encode + decode + aHash fuse into one scan-side pass; the ONLY
    // hash exchange allowed is the 3-column (doc, hi, lo) fingerprint
    // relation keyed on the hash halves for the cluster window — plus
    // the driver-facing ORDER BY. Any other exchange means image bytes
    // crossed the network.
    val p = planOf("mm_phash_dedup")
    val exchanges = p.linesIterator.filter(_.contains("Exchange ")).toSeq
    // RoundRobinPartitioning = the pre-payload scan spread (see the
    // multimodal codec pin above); the keyed-exchange census below is
    // what guards payload movement, and the placement pin keeps the
    // round-robin below the synth
    assertSpreadIsPrePayload("mm_phash_dedup")
    val hashEx = exchanges.filterNot(l => l.contains("rangepartitioning") ||
      l.contains("RoundRobinPartitioning"))
    assert(hashEx.size == 1, s"expected one cluster-window exchange:\n$p")
    assert(hashEx.head.contains("ahash"),
      s"cluster exchange not keyed on the fingerprint:\n${hashEx.head}")
    assert(!p.contains("Join"), s"phash dedup must not join:\n$p")
  }

  test("text_normalize_nfc: native codegen expression, scan-local, zero shuffle") {
    val p = planOf("text_normalize_nfc")
    val exchanges = p.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"normalization must stay scan-local:\n$p")
    assert(p.contains("normalize_unicode"),
      s"native expression missing from the plan:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"),
      s"normalization fell back to a UDF:\n$p")
  }

  test("mm_phash_neardup: banded self-join reuses the fingerprint build; payloads stay scan-side") {
    val p = planOf("mm_phash_neardup")
    // both join inputs are the same banded fingerprint subplan — it must
    // compute (and decode!) once and reuse, not re-run the codec path
    assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"),
      s"banded self-join recomputes the decode side twice:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"band blocking degenerated to an all-pairs join:\n$p")
  }

  test("geo_simplify_dp: exactly one corpus shuffle (the per-vehicle group)") {
    val p = planOf("geo_simplify_dp")
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected one group exchange, got $hashEx:\n$p")
    assert(p.contains("MapGroups"), s"per-trajectory scan missing:\n$p")
    assert(!p.contains("Join"), s"DP must not join:\n$p")
  }

  test("geo_staypoints: exactly one corpus shuffle (the per-vehicle group)") {
    val p = planOf("geo_staypoints")
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected one group exchange, got $hashEx:\n$p")
    assert(p.contains("MapGroups"), s"per-trajectory scan missing:\n$p")
    assert(!p.contains("Join"), s"stay-point walk must not join:\n$p")
  }

  // ---- round-11 third-session additions ----

  test("ts_mad_anomaly / win_cusum: one corpus shuffle (the daily rollup), stats never shuffle the corpus again") {
    for (q <- Seq("ts_mad_anomaly", "win_cusum")) {
      val p = planOf(q)
      // the groupBy(event_type, day) rollup is the only corpus-keyed
      // exchange; rolling/global stats run on the |types|x|days| relation
      val corpusEx = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("ts_us"))
      assert(corpusEx == 0,
        s"$q re-shuffles corpus-keyed rows (rollup must be the only corpus pass):\n$p")
      assert(p.contains("partial"), s"$q rollup not map-side combined:\n$p")
    }
  }

  test("mm_video_scene_cut: payloads never shuffle; only the SAD relation moves") {
    val p = planOf("mm_video_scene_cut")
    val badEx = p.linesIterator.filter(l =>
      l.contains("Exchange") && l.contains("payload")).toSeq
    assert(badEx.isEmpty, s"payload bytes crossed an exchange:\n$badEx")
  }

  test("ml_centroid_classify: the model folds into a broadcast; inference is scan-local") {
    val p = planOf("ml_centroid_classify")
    // the k-centroid model must arrive as a broadcast (one folded row),
    // not a shuffle join against the test scan
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"model not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "inference shuffles the corpus to join")
    // the confusion rollup is map-side combined
    assert(p.contains("partial"), s"confusion rollup not map-side combined:\n$p")
  }

  test("ml_target_encode: category stats and prior broadcast back onto the scan") {
    val p = planOf("ml_target_encode")
    assert(p.contains("BroadcastHashJoin"), s"category table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled to join a |categories|-row table")
  }

  test("ml_stump_split: the corpus collapses to the histogram in one combined groupBy") {
    val p = planOf("ml_stump_split")
    // one corpus-scale aggregation with map-side partials; every window
    // and the comparator join run on the <=61-row histogram
    assert(p.contains("partial"), s"histogram build not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"),
      "candidate comparator fell back to a cartesian product")
  }

  test("graph_edge_jaccard: staged support on materialized keys; top-2 rank prunes early") {
    val p = planOf("graph_edge_jaccard")
    // r12: the wedge enumeration is staged (tri_support), the support
    // join keys are materialized columns, and the expression keys are
    // gone from the join condition
    assert(p.contains("stage_tri_support"),
      s"support no longer read from the staged relation:\n$p")
    // rank <= 2 must reach WindowGroupLimit so the |E| relation is
    // pruned per partition before the final window sort
    assert(p.contains("WindowGroupLimit"), s"top-2 pushdown missing:\n$p")
  }
}
