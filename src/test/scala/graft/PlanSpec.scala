package graft

import graft.ops._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlanInfo

/** Physical-plan shape assertions (SURVEY.md §4): the plans we want at
  * 100 TB, pinned so a refactor can't silently regress them — filters and
  * projections must reach the parquet scan, bounded dims must broadcast,
  * top-k must not global-sort, and hot paths must stay in whole-stage
  * codegen. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every query's optimized plan and executed-plan string, built once
    * (with the query's caches live) for the two all-query lints. Building
    * can throw — streaming queries execute eagerly — so each lint decides
    * what a failure means. */
  private lazy val queryPlans: Seq[(String, Either[Throwable, LogicalPlan], Either[Throwable, String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def attempt[T](f: => T): Either[Throwable, T] =
        try Right(f) catch { case e: Throwable => Left(e) }
      try {
        val qe = attempt(fn(spark, sf()).queryExecution)
        (name, qe.flatMap(q => attempt(q.optimizedPlan)),
          qe.flatMap(q => attempt(q.executedPlan.toString)))
      } finally Caches.releaseAll()
    }

  /** AQE only materializes WholeStageCodegen spans in the final plan —
    * execute first, then render the formatted explain (the adaptive plan's
    * plain toString collapses once final). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q06: shipdate/discount/quantity predicates push into the parquet scan") {
    val p = plan(Relational.q06RevenueFilter(spark, sf()))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // column pruning: only the 4 referenced columns are read
    assert(p.contains("ReadSchema") &&
      !p.split("ReadSchema")(1).takeWhile(_ != '\n').contains("l_orderkey"), p)
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan(Relational.q03RevenueByNation(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q02: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.q02TopkOrders(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q12: EXISTS compiles to a left-semi join") {
    val p = plan(Relational.q12SemiJoinParts(spark, sf()))
    assert(p.toLowerCase.contains("leftsemi"), p)
  }

  test("q05: NOT EXISTS compiles to a left-anti join") {
    val p = plan(Relational.q05CustomersWithoutOrders(spark, sf()))
    assert(p.toLowerCase.contains("leftanti"), p)
  }

  test("q01: aggregation is partial+final HashAggregate inside codegen") {
    val p = finalPlan(Relational.q01PricingSummary(spark, sf()))
    assert(p.contains("partial_sum"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("[codegen id"), p)
  }

  test("q50: native dot product keeps the projection in codegen") {
    val p = finalPlan(Vector.q50CosineTopk(spark, sf()))
    assert(p.contains("graft_dot") || p.toLowerCase.contains("dotproduct"), p)
    assert(p.contains("[codegen id"), p)
  }

  test("q68: top-k Aggregator aggregates partial+final (map-side combine caps the shuffle)") {
    val p = finalPlan(Analytics.q68TopkAggregator(spark, sf()))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_topkaggregator") || p.toLowerCase.contains("partial_"), p)
  }

  test("q117: PageRank plan construction runs zero Graph-side Spark jobs (VERDICT r11 item 4)") {
    // The node count rides as a scalar subquery, so building the
    // unrolled 5-iteration plan must submit no jobs from Graph code —
    // the eager-scalar idiom (.count() at construction) is retired
    // repo-wide. Parquet footer/schema-inference jobs from the
    // table reads are tolerated (every query construction has those);
    // what's pinned is that no job's call site lands in Graph.scala.
    val sites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(Option(j.properties)
          .map(_.getProperty("callSite.short", "")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = ops.Graph.q117Pagerank(spark, sf())
      df.queryExecution.logical // force analysis, no action
      Thread.sleep(1000) // listener bus is async; construction-time jobs
      // run synchronously, so their onJobStart is already enqueued by now
      val offending = sites.toArray.map(_.toString)
        .filter(s => s.contains("Graph.scala") || s.startsWith("count at"))
      assert(offending.isEmpty, s"plan construction submitted Graph-side jobs: ${offending.mkString(", ")}")
      assert(df.count() > 0)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Caches.releaseAll()
    }
  }

  /** Queries whose final plan may hold a BroadcastNestedLoopJoin. It is
    * legitimate only where a query intentionally scans query-points ×
    * corpus (brute-force ANN), probes with a non-equi condition against a
    * broadcast-sized side, or densifies a bounded grid. A 1-row value
    * attaches as a scalar subquery and needs no entry. */
  private val nestedLoopOk = Set("q50_cosine_topk", "q51_ivf_topk",
    // embeds q50's declared brute-force baseline as the recall ground truth
    "q111_ann_recall",
    // int8-quantized brute-force scan + the embedded q50 float baseline —
    // both the same declared query-points × corpus shape as q50/q111
    "q191_int8_quant_recall",
    // 8-row broadcast boundary probe (v <= b_k) over the bounded value frame
    "q162_equidepth_histogram",
    // 7-row broadcast threshold frame over the bounded (p, y) reduced
    // domain (q162's boundary-probe argument)
    "q187_threshold_sweep",
    // ≤|domain|-row broadcast global-value frame densifying the bounded
    // (QI-cell × sensitive-value) grid (the q162 boundary-probe argument)
    "q230_t_closeness",
    // order-statistic range probe (lo ≤ k ≤ hi) into the broadcast
    // |distinct scores| pooled-quantile frame (the q162 bounded-frame
    // boundary-probe argument)
    "q278_quantile_normalize",
    // the ≤ K² fixed-probe all-pairs audit grid (non-equi self-join of
    // two ≤ K-row broadcast frames — an eval workload, corpus-independent)
    "q289_jl_projection_audit",
    // q278's range probe with the pooled frame GRID-bounded by
    // logBucketScore (≤ 8·63 rows regardless of corpus cardinality —
    // the bound is a law-tested result column)
    "q283_logbucket_normalize",
    // fixed 40-doc probe pair enumeration (da < db on the broadcast
    // ≤40-row size frame — the q200 fixed-benchmark argument) + the
    // |grid|×|bins| ≈ 69×10 planner cross onto broadcast 10-row bins
    "q279_lsh_band_planner",
    // q50's declared brute-force query-points × corpus scan (mining pass)
    "q239_hard_negatives",
    // q50's declared brute-force broadcast query sub-vectors × corpus
    // sub-vector scan (per-slot IVF probes at real scale)
    "q249_maxsim_topk",
    // q50's declared brute-force broadcast probe-queries × corpus scan
    // (the retrieval pass being graded; IVF probes at real scale)
    "q265_ndcg_retrieval",
    // the shared brute-force kernel (`Vector.bruteScored`) as in q265,
    // graded by different metrics
    "q268_retrieval_mrr_recall",
    // embeds the shared brute-force kernel as the REFERENCE the IVF probe
    // path is gated against (the q111 shape at k=10); the IVF side
    // itself is the equi-join on centroid id — no BNLJ of its own
    // beyond the 8-row broadcast centroid assignment
    "q274_ivf_retrieval_eval",
    // the shared brute-force kernel (`Vector.bruteScored`) as in
    // q265/q268, graded by MAP
    "q275_map_at_k",
    // embeds the shared brute-force kernel as q274 does, graded against
    // the trained-k-means IVF equi-join side (VERDICT r11 items 1+5)
    "q277_trained_ivf_eval",
    // q50's declared brute-force broadcast query × corpus scan as the
    // exact integer-L2 grading reference for the fully-trained IVF-PQ;
    // the index side attaches its codebooks as scalar subqueries and has
    // no nested-loop join (pinned by the IVF-PQ attach test below)
    "q282_trained_ivfpq_recall",
    // |sources|-row aggregate × broadcast 200-token vocab densification
    // (the q230 bounded-grid shape) before the JS log chains
    "q256_js_divergence")

  test("plan lint: no accidental cartesian or nested-loop joins across ALL queries") {
    val offenders = queryPlans.flatMap {
      case (name, _, Right(p)) =>
        val cartesian = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") && !nestedLoopOk(name)
        if (cartesian || bnlj) Some(s"$name: cartesian=$cartesian bnlj=$bnlj") else None
      case _ => None // streaming queries execute eagerly; skip
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("plan lint: every nested-loop allowlist entry names a query whose plan needs it") {
    val withBnlj = queryPlans.collect {
      case (name, _, Right(p)) if p.contains("BroadcastNestedLoopJoin") => name
    }.toSet
    val dead = nestedLoopOk.filterNot(q => SparkEntry.queries.contains(q) && withBnlj(q))
    assert(dead.isEmpty,
      s"allowlist entries without a nested-loop join: ${dead.toSeq.sorted.mkString(", ")}")
  }

  /** The plan of every SQL execution start and AQE update a query posts
    * (cache builds sit under their `InMemoryTableScan` nodes). The
    * final-plan lint never sees the plans of checkpointed loop stages,
    * scalar subqueries or writes, so this walks the `sparkPlanInfo` of
    * every event, as perfbench's probe does. */
  private def executedPlans(build: => org.apache.spark.sql.DataFrame): Seq[SparkPlanInfo] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val found = java.util.Collections.synchronizedList(new java.util.ArrayList[SparkPlanInfo]())
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => found.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => found.add(u.sparkPlanInfo)
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.fence") != null)) fence.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      build.collect()
      // the bus delivers in order: once the fence job's start arrives,
      // every plan event the query posted has been walked
      sc.setLocalProperty("graft.fence", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.fence", null)
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      found.toArray(Array.empty[SparkPlanInfo]).toSeq
    } finally {
      sc.removeSparkListener(listener)
      Caches.releaseAll()
    }
  }

  /** The plan strings of every node named in `nodes` (physical node
    * names) a query's SQL executions run. */
  private def executedNodes(nodes: String*)(build: => org.apache.spark.sql.DataFrame): Seq[String] = {
    def walk(p: SparkPlanInfo): Seq[String] =
      (if (nodes.contains(p.nodeName)) Seq(p.simpleString) else Nil) ++ p.children.flatMap(walk)
    executedPlans(build).flatMap(walk)
  }

  private def nestedLoops(build: => org.apache.spark.sql.DataFrame): Seq[String] =
    executedNodes("BroadcastNestedLoopJoin")(build)

  test("plan lint: IVF-PQ codebooks attach without nested-loop joins, loop stages included") {
    // A constant-key codebook join plans as a condition-less
    // BroadcastNestedLoopJoin; the only one allowed is q282's brute
    // grading scan on its query_id <> vec_id inequality.
    for ((q, bnlj) <- Seq("q102" -> nestedLoops(Vector.q102IvfPqTopk(spark, sf())),
        "q281" -> nestedLoops(Vector.q281TrainedPqDistortion(spark, sf()))))
      assert(bnlj.isEmpty, s"$q nested-loop joins:\n${bnlj.mkString("\n")}")
    val bnlj = nestedLoops(Vector.q282TrainedIvfPqRecall(spark, sf()))
    assert(bnlj.nonEmpty, "q282's brute grading scan should plan as a nested-loop join")
    val brute = "NOT \\(query_id#\\d+L = vec_id#\\d+L\\)".r
    val stray = bnlj.filter(brute.findFirstIn(_).isEmpty)
    assert(stray.isEmpty, s"q282 nested-loop joins besides the brute scan:\n${stray.mkString("\n")}")
  }

  test("plan lint: 1-row scalars attach without condition-less nested-loop joins") {
    // Node counts, totals, bounds, trained weights and per-round argmaxes
    // attach as scalar subqueries; a 1-row crossJoin or join on true
    // would plan as a BroadcastNestedLoopJoin with no condition. Memos are
    // dropped first so BPE training runs inside the walked executions.
    Caches.releaseMemos()
    val bare = "^BroadcastNestedLoopJoin Build(Left|Right), \\w+$".r
    val queries = Seq("q117_pagerank", "q154_pagerank_dangling", "q214_modularity",
      "q234_personalized_pagerank", "q49_tfidf_top_terms", "q118_basket_pairs",
      "q142_rolling_bitmap", "q152_layout_pruning", "q169_lm_quality", "q170_dsir_select",
      "q180_quality_tiers", "q181_bpe_train", "q184_lr_train", "q185_lr_confusion",
      "q197_pmi_collocations", "q198_vocab_growth", "q199_source_divergence",
      "q200_bm25_retrieval", "q206_cms_join_size", "q211_calibration_curve",
      "q228_split_conformal", "q237_sketch_set_algebra", "q245_assoc_rules",
      "q248_wordpiece_train", "q260_markov_attribution", "q285_mg_heavy_hitters",
      "q287_nndescent_graph", "q288_graph_beam_search")
    for (q <- queries) {
      val stray = nestedLoops(SparkEntry.queries(q)(spark, sf()))
        .filter(bare.findFirstIn(_).isDefined)
      assert(stray.isEmpty, s"$q condition-less nested-loop joins:\n${stray.mkString("\n")}")
    }
  }

  test("plan lint: unigram training folds each word in place: no nested-loop join, few jobs") {
    // The Viterbi DP is one row-local fold per EM round and the C+|V|
    // cost term attaches as a scalar subquery. Memos are dropped first so
    // training really runs inside the walked executions.
    Caches.releaseMemos()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!Option(j.properties).exists(_.getProperty("graft.fence") != null)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val q231 = try nestedLoops(Text.q231UnigramLmTrain(spark, sf()))
      finally spark.sparkContext.removeSparkListener(counter)
    assert(q231.isEmpty, s"q231 nested-loop joins:\n${q231.mkString("\n")}")
    // 30 at sf0.001; per-position DP and backtrack rounds would add ~145
    assert(jobs.get <= 40, s"q231 started ${jobs.get} jobs")
    val q247 = nestedLoops(Text.q247SubwordNllFilter(spark, sf()))
    assert(q247.isEmpty, s"q247 nested-loop joins:\n${q247.mkString("\n")}")
  }

  test("plan lint: 5-gram shingles are row-local, with no window over doc_id") {
    // Shingling is row-local: one doc_id repartition, then the kernel per
    // document. A window over doc_id means a per-token stream is back.
    val byDoc = "^Window \\[.*\\], \\[doc_id#\\d+L?\\], \\[".r
    for ((q, windows) <- Seq("q46" -> executedNodes("Window")(Dedup.q46MinhashLshPairs(spark, sf())),
        "q48" -> executedNodes("Window")(Dedup.q48DedupClusters(spark, sf())),
        "q101" -> executedNodes("Window")(Pipelines.q101CorpusPipeline(spark, sf())),
        "q205" -> executedNodes("Window")(Text.q205DumpNovelty(spark, sf())))) {
      val docWindows = windows.filter(byDoc.findFirstIn(_).isDefined)
      assert(docWindows.isEmpty, s"$q windows partitioned by doc_id:\n${docWindows.mkString("\n")}")
    }
    // q46's distinct shuffles, the cached hx build's included: hx's doc_id
    // shuffle and the final sort.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Set[Int] = (p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case m: InMemoryTableScanExec => shuffles(m.relation.cachedPlan)
      case _ => (p.children ++ p.subqueries).flatMap(shuffles).toSet
    }) ++ (if (p.isInstanceOf[ShuffleExchangeExec]) Set(p.id) else Set.empty)
    val q46 = Dedup.q46MinhashLshPairs(spark, sf())
    try {
      q46.collect()
      assert(shuffles(q46.queryExecution.executedPlan).size <= 2,
        q46.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    } finally Caches.releaseAll()
  }

  test("plan lint: near-dup pairs join no shingle-hash keys, cache builds included") {
    // q46 verifies candidates by intersecting two per-document hash arrays;
    // a join keyed by the shingle hash hg means the exploded shingle table
    // is back on the q46 → q48 → q101 path.
    val joins = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    val hgKey = "^\\w+ \\[[^\\]]*\\bhg#\\d+".r
    for ((q, found) <- Seq("q46" -> executedNodes(joins: _*)(Dedup.q46MinhashLshPairs(spark, sf())),
        "q48" -> executedNodes(joins: _*)(Dedup.q48DedupClusters(spark, sf())),
        "q101" -> executedNodes(joins: _*)(Pipelines.q101CorpusPipeline(spark, sf())))) {
      assert(found.nonEmpty, s"$q ran no join")
      val byHash = found.filter(hgKey.findFirstIn(_).isDefined)
      assert(byHash.isEmpty, s"$q joins keyed by hg:\n${byHash.mkString("\n")}")
    }
  }

  test("plan lint: the Jaccard verify broadcasts no sketch-wide hash arrays, cache builds included") {
    // The verify streams the cached sketch and broadcasts only candidates
    // (with one document's array). A broadcast that reaches a scan of the
    // sketch's hs through no join, and keeps hs on the way up, ships every
    // document's hash array to the driver.
    val sketchScan = "^InMemoryTableScan \\[[^\\]]*\\bhs#(\\d+)".r
    def keepsHs(p: SparkPlanInfo, above: List[SparkPlanInfo]): Boolean =
      if (p.nodeName.contains("Join")) false
      else sketchScan.findFirstMatchIn(p.simpleString) match {
        case Some(m) => above.forall(n => n.nodeName != "Project" || n.simpleString.contains(s"hs#${m.group(1)}"))
        case None => p.children.exists(keepsHs(_, p :: above))
      }
    def broadcasts(p: SparkPlanInfo): Seq[SparkPlanInfo] =
      (if (p.nodeName == "BroadcastExchange") Seq(p) else Nil) ++ p.children.flatMap(broadcasts)
    def render(p: SparkPlanInfo, pad: String): String = {
      val below = if (p.nodeName.contains("Join") || p.nodeName == "InMemoryTableScan") Nil
        else p.children.map(render(_, pad + "  "))
      ((pad + p.simpleString) +: below).mkString("\n")
    }
    for ((q, plans) <- Seq("q46" -> executedPlans(Dedup.q46MinhashLshPairs(spark, sf())),
        "q176" -> executedPlans(Dedup.q176IncrementalLshUpdate(spark, sf())),
        "q101" -> executedPlans(Pipelines.q101CorpusPipeline(spark, sf())))) {
      val found = plans.flatMap(broadcasts)
      assert(found.nonEmpty, s"$q broadcast nothing")
      val wide = found.filter(b => b.children.exists(keepsHs(_, Nil))).map(render(_, "")).distinct
      assert(wide.isEmpty, s"$q broadcasts of the sketch's hs:\n${wide.mkString("\n")}")
    }
  }

  test("plan lint: no window over an unreduced input without a high-cardinality partition key") {
    // VERDICT r2 item 1: a window partitioned only by a low-cardinality key
    // (order_year ~7, c_mktsegment 5, event_type ~handful) over the raw fact
    // table funnels everything through |keys| sort tasks — correct today, a
    // scale-killer at 100×. Every window must either (a) run over a frame an
    // Aggregate has already reduced (monthly/daily/bucket/top-k frames), or
    // (b) partition by a key whose cardinality grows with the data (ids).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val highCardKeys = Set("user_id", "doc_id", "event_id", "launch_id",
      "o_orderkey", "l_orderkey", "o_custkey", "c_custkey", "vec_id", "query_id", "k",
      "hg", // md5 shingle hash (q106 df ranking) — cardinality scales with the corpus
      "g5", // shared 5-gram partition key (q183 suffix-order LCP) — scales with the corpus
      "seg", // 10-token segment text (q189 first-writer-wins dedup) — scales with the corpus
      "pack_shard", // q115 sharded packing stream — count is the parallelism knob, sized to the cluster
      "rank_bucket", // q240 two-pass global-ordinal ranking — per-bucket rank; bucket width is the parallelism knob (q136 range boundaries at scale)
      "ahash64", "phash64") // q104/q165 bucket-size count windows — 64-bit content hashes, cardinality scales with the corpus (near-dup buckets are tiny by design)
    // "reduced" = an Aggregate on the window's UNARY input chain. Stopping
    // at the first multi-child node matters: an Aggregate on a JOINED side
    // branch doesn't shrink the window's input — the window still sorts
    // the join output, which must then carry a scaling partition key.
    // A constant-k Limit bounds the window's frame just as hard as an
    // Aggregate does (q159 windows over a top-(k+1) TakeOrderedAndProject).
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
    def reducedBelow(w: LWindow): Boolean = {
      var n = w.child
      var found = false
      while (!found && n.children.size == 1) {
        found = n.isInstanceOf[Aggregate] ||
          n.isInstanceOf[GlobalLimit] || n.isInstanceOf[LocalLimit]
        n = n.children.head
      }
      found
    }
    val offenders = queryPlans.flatMap {
      case (name, Right(optimized), _) =>
        optimized.collect {
          case w: LWindow =>
            val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
            if (reducedBelow(w) || keys.exists(highCardKeys)) None
            else Some(s"$name: window partitioned by [${keys.mkString(",")}] over unreduced input")
        }.flatten
      // loud, not silent: a query that fails to BUILD would otherwise
      // pass the lint forever
      case (name, Left(e), _) =>
        Seq(s"$name: LINT-ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("join hints steer the physical strategy (broadcast / shuffle_hash / merge)") {
    val li = Tables.lineitem(spark, sf()).select(org.apache.spark.sql.functions.col("l_orderkey"))
    val o = Tables.orders(spark, sf()).select(org.apache.spark.sql.functions.col("o_orderkey"))
    def planWith(hint: String): String =
      finalPlan(li.join(o.hint(hint),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey")))
    assert(planWith("broadcast").contains("BroadcastHashJoin"))
    assert(planWith("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planWith("merge").contains("SortMergeJoin"))
  }

  test("repartitionByRange produces range partitioning (sorted-layout writes)") {
    val df = Tables.orders(spark, sf())
      .repartitionByRange(4, org.apache.spark.sql.functions.col("o_orderdate"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p)
  }

  test("q65: as-of join shuffles the union exactly once (window key)") {
    val full = finalPlan(Analytics.q65AsofJoinOrders(spark, sf()))
    // the AQE formatted explain repeats the tree under "Initial Plan" —
    // count exchanges in the executed (final) section only
    val p = full.split("== Initial Plan ==").head
    assert("hashpartitioning\\(k".r.findAllIn(full).size >= 1, full)
    // one window-key shuffle + one agg shuffle + the final sort — no more
    assert("\\+- Exchange".r.findAllIn(p).size <= 3, p)
  }
}
