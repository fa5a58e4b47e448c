package graft

import graft.ops._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

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

  test("plan lint: no accidental cartesian or nested-loop joins across ALL queries") {
    // BroadcastNestedLoop is legitimate only where a query intentionally
    // scans query-points × corpus (brute-force ANN), probes with a
    // non-equi condition against a broadcast-sized side, or cross-joins a
    // single broadcast scalar row (q49's corpus doc count).
    val nestedLoopOk = Set("q50_cosine_topk", "q51_ivf_topk", "q49_tfidf_top_terms",
      // embeds q50's declared brute-force baseline as the recall ground truth
      "q111_ann_recall",
      // int8-quantized brute-force scan + the embedded q50 float baseline —
      // both the same declared query-points × corpus shape as q50/q111
      "q191_int8_quant_recall",
      // 1-row broadcast max(dday) cap replacing a global window (ADVICE r4)
      "q142_rolling_bitmap",
      // Layout.normalized attaches a 1-row broadcast min/max bounds frame
      "q152_layout_pruning",
      // 1-row broadcast (mn,mx,tot) stats frame + 8-row broadcast boundary
      // probe (v <= b_k) — both bounded-constant sides by construction
      "q162_equidepth_histogram",
      // 1-row broadcast (n, total-score) corpus frame for the is_tail flag
      "q169_lm_quality",
      // 1-row broadcast (Cr, Ct) model totals onto the 256-row bucket table
      "q170_dsir_select",
      // 1-row broadcast (b1, b2) tertile-boundary frame (selected cells)
      "q180_quality_tiers",
      // 1-row broadcast weight vector (train: per-step; score: final) —
      // the q110 Lloyd-iteration scalar-broadcast shape
      "q184_lr_train",
      "q185_lr_confusion",
      // 1-row weights + 7-row broadcast threshold frame over the bounded
      // (p, y) reduced domain (q162's boundary-probe argument)
      "q187_threshold_sweep",
      // 1-row weights + 1-row broadcast (mn, mx) score-bounds frame over
      // the bounded (p, y) reduced domain (q162/q187's argument)
      "q211_calibration_curve",
      // 1-row broadcast total-bigram count onto the vocab-sized pair frame
      "q197_pmi_collocations",
      // 1-row broadcast (lo, hi) id-span bounds — the q152 normalized-bounds shape
      "q198_vocab_growth",
      // 1-row broadcast corpus token total onto the (source, token) reduced frame
      "q199_source_divergence",
      // 1-row broadcast (N docs, T tokens) corpus stats onto the postings join
      "q200_bm25_retrieval",
      // 1-row broadcast exact-join-size frame onto the 4-row dot-product frame
      "q206_cms_join_size",
      // 1-row broadcast final weights (the q184 shape) + 1-row broadcast
      // conformal-threshold frame onto the test slice
      "q228_split_conformal",
      // ≤|domain|-row broadcast global-value frame densifying the bounded
      // (QI-cell × sensitive-value) grid (the q162 boundary-probe argument)
      "q230_t_closeness",
      // order-statistic range probe (lo ≤ k ≤ hi) into the broadcast
      // |distinct scores| pooled-quantile frame (the q162 bounded-frame
      // boundary-probe argument)
      "q278_quantile_normalize",
      // two 1-row broadcast bounds frames (n_total, w_hat) onto the ≤ K-row
      // surviving-counter frame (the q133/q142 global-scalar shape)
      "q285_mg_heavy_hitters",
      // 1-row broadcast corpus-size frame (ring init) + the declared
      // fixed-probe × corpus brute grading scan (the q274/q277/q282 shape)
      "q287_nndescent_graph",
      // 1-row broadcast entry-point frame onto the fixed probe frame +
      // q287's declared brute grading scan
      "q288_graph_beam_search",
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
      // 1-row broadcast log2fp(C+|V|) normalization scalar onto the vocab
      // frame, once per EM round (the q184/q197 shape)
      "q231_unigram_lm_train",
      "q232_tokenizer_fertility",
      // 1-row × 1-row sketch-pair join (two 64-element bottom-k arrays)
      "q237_sketch_set_algebra",
      // q50's declared brute-force query-points × corpus scan (mining pass)
      "q239_hard_negatives",
      // 1-row broadcast log2fp(C+|V|) normalization scalar (the shared
      // uniCostFrame shape q231/q232 carry) on the final scoring pass
      "q247_subword_nll_filter",
      // same shared uniCostFrame 1-row broadcast scalar, per-source grain
      "q273_domain_reweight",
      // q50's declared brute-force broadcast query sub-vectors × corpus
      // sub-vector scan (per-slot IVF probes at real scale)
      "q249_maxsim_topk",
      // q50's declared brute-force broadcast probe-queries × corpus scan
      // (the retrieval pass being graded; IVF probes at real scale)
      "q265_ndcg_retrieval",
      // q265's identical scored pass (shared shape, different metrics)
      "q268_retrieval_mrr_recall",
      // embeds q268's brute-force pass as the REFERENCE the IVF probe
      // path is gated against (the q111 shape at k=10); the IVF side
      // itself is the equi-join on centroid id — no BNLJ of its own
      // beyond the 8-row broadcast centroid assignment
      "q274_ivf_retrieval_eval",
      // q265/q268's identical scored pass (shared shape, MAP metric)
      "q275_map_at_k",
      // embeds the same brute-force reference pass as q274, graded against
      // the trained-k-means IVF equi-join side (VERDICT r11 items 1+5)
      "q277_trained_ivf_eval",
      // q50's declared brute-force broadcast query × corpus scan as the
      // exact integer-L2 grading reference for the fully-trained IVF-PQ;
      // the index side attaches its codebooks as scalar subqueries and has
      // no nested-loop join (pinned by the IVF-PQ attach test below)
      "q282_trained_ivfpq_recall",
      // 1-row broadcast base-chain conversion probability onto the 4-row
      // removal frame (the q133/q142 global-scalar shape)
      "q260_markov_attribution",
      // 1-row broadcast order-count frame onto the frequent-rule frame
      // (ADVICE r9: replaces the eager .count())
      "q245_assoc_rules",
      // same 1-row broadcast order-count frame onto the frequent-pair
      // frame (VERDICT r10 item 3: q118 ports the q245 fix)
      "q118_basket_pairs",
      // |sources|-row aggregate × broadcast 200-token vocab densification
      // (the q230 bounded-grid shape) before the JS log chains
      "q256_js_divergence")
    val offenders = queryPlans.flatMap {
      case (name, _, Right(p)) =>
        val cartesian = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") && !nestedLoopOk(name)
        if (cartesian || bnlj) Some(s"$name: cartesian=$cartesian bnlj=$bnlj") else None
      case _ => None // streaming queries execute eagerly; skip
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The plan strings of every BroadcastNestedLoopJoin a query's SQL
    * executions run. The final-plan lint never sees the plans of
    * checkpointed loop stages or scalar subqueries, so this walks the
    * `sparkPlanInfo` of every SQL execution start and AQE update, as
    * perfbench's probe does. */
  private def nestedLoops(build: => org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val found = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val fence = new java.util.concurrent.CountDownLatch(1)
    def walk(p: SparkPlanInfo): Unit = {
      if (p.nodeName == "BroadcastNestedLoopJoin") found.add(p.simpleString)
      p.children.foreach(walk)
    }
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => walk(u.sparkPlanInfo)
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
      found.toArray.map(_.toString).toSeq
    } finally {
      sc.removeSparkListener(listener)
      Caches.releaseAll()
    }
  }

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

  test("plan lint: graph loop scalars attach without condition-less nested-loop joins") {
    // Node counts, q234's seed count, q214's total weight and q154's
    // per-round dangling share attach as scalar subqueries; a 1-row
    // crossJoin would plan as a BroadcastNestedLoopJoin with no condition.
    val bare = "^BroadcastNestedLoopJoin Build(Left|Right), \\w+$".r
    for ((q, bnlj) <- Seq("q117" -> nestedLoops(Graph.q117Pagerank(spark, sf())),
        "q154" -> nestedLoops(Graph.q154PagerankDangling(spark, sf())),
        "q214" -> nestedLoops(Graph.q214Modularity(spark, sf())),
        "q234" -> nestedLoops(Graph.q234PersonalizedPagerank(spark, sf())))) {
      val stray = bnlj.filter(bare.findFirstIn(_).isDefined)
      assert(stray.isEmpty, s"$q condition-less nested-loop joins:\n${stray.mkString("\n")}")
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
