package graft

import graft.ops.{Relational, Skew}
import org.apache.spark.sql.functions._

/** Scale-pattern specs: salting correctness, partition pruning, and the
  * stateful sessionizer's equivalence to the window formulation. */
class ScaleSpec extends SparkSpec {

  test("salted join returns exactly the unsalted join's rows") {
    val li = Tables.lineitem(spark, sf()).select(col("l_suppkey"), col("l_orderkey"), col("l_quantity"))
    val su = Tables.supplier(spark, sf()).withColumnRenamed("s_suppkey", "l_suppkey")
    val plain = li.join(su, Seq("l_suppkey")).agg(
      count(lit(1)), sum("l_quantity"), sum("s_acctbal")).head()
    val salted = Skew.saltedEquiJoin(li, su, "l_suppkey", col("l_orderkey"), buckets = 8).agg(
      count(lit(1)), sum("l_quantity"), sum("s_acctbal")).head()
    assert(plain == salted)
  }

  test("salted join also matches for left and left_anti; rejects preserved-small-side types") {
    val li = Tables.lineitem(spark, sf()).select(col("l_suppkey"), col("l_orderkey"))
    val su = Tables.supplier(spark, sf()).filter(col("s_suppkey") % 2 === 0)
      .withColumnRenamed("s_suppkey", "l_suppkey")
    for (jt <- Seq("left", "left_anti")) {
      val plain = li.join(su, Seq("l_suppkey"), jt).count()
      val salted = Skew.saltedEquiJoin(li, su, "l_suppkey", col("l_orderkey"), 8, jt).count()
      assert(plain == salted, jt)
    }
    // right/full would emit unmatched small-side rows once per bucket (ADVICE.md r1)
    for (jt <- Seq("right", "full_outer", "right_outer", "full"))
      assertThrows[IllegalArgumentException] {
        Skew.saltedEquiJoin(li, su, "l_suppkey", col("l_orderkey"), 8, jt)
      }
  }

  test("planted skew: salting beats the unsalted shuffle join's wall-time") {
    // 99% of the large side shares ONE key — the celebrity-key shape
    // saltedEquiJoin exists for. Unsalted, the hot key's 7.9M rows land on
    // a single reducer; salted over 32 buckets they spread evenly. AQE's
    // skew-split is disabled (it would mask the effect this test isolates)
    // and broadcast is off (the small side standing in for a
    // too-big-to-broadcast dimension). r2 only pinned result-equivalence;
    // this pins that the salted LAYOUT actually wins under skew.
    val buckets = 32
    val n = 8000000L
    val large = spark.range(n).select(
      when(col("id") % 100 =!= 0, 0L).otherwise(col("id") % 1000).as("k"),
      col("id").as("rid"))
    val small = spark.range(1000).select(col("id").as("k"), (col("id") * 7).as("v"))
    def run(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n"), sum("v").as("sv")).head
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val unsalted = large.join(small, Seq("k"))
      val salted = Skew.saltedEquiJoin(large, small, "k", col("rid"), buckets)
      assert(run(unsalted) == run(salted)) // correctness + JIT/codegen warmup
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // deterministic layout check first: salting must actually spread the
      // hot key — the largest (key, salt) group shrinks ~buckets× vs the
      // largest (key) group (this holds regardless of host timing noise)
      val hotPlain = large.groupBy(col("k")).count()
        .agg(max(col("count"))).head.getLong(0)
      val hotSalted = large
        .withColumn("__salt", pmod(hash(col("rid")), lit(buckets)))
        .groupBy(col("k"), col("__salt")).count()
        .agg(max(col("count"))).head.getLong(0)
      assert(hotSalted * (buckets / 2) < hotPlain,
        s"salt spread too weak: hot plain=$hotPlain, hot salted=$hotSalted")
      // min-of-3 absorbs this VM's multi-second neighbor stalls; the skew
      // effect itself is several-x, far above the noise floor. The layout
      // check above is the HARD assertion (deterministic); the wall-clock
      // comparison allows salted up to 1.5x unsalted so a host stall can't
      // flake the suite (ADVICE r3) while a true regression — salting slower
      // than the single-reducer plan — still fails.
      val tU = (1 to 3).map(_ => time(run(unsalted))).min
      val tS = (1 to 3).map(_ => time(run(salted))).min
      assert(tS < 1.5 * tU,
        f"salted $tS%.2fs vs unsalted $tU%.2fs under 99%% single-key skew (allowed <1.5x)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("AQE skew-join: the runtime split engages on the planted hot key, same answer") {
    // The OTHER half of the skew story (Skew.scala scaladoc line 1): before
    // reaching for salting, a 100 TB deployment leans on AQE's runtime skew
    // split. Same 99%-single-key shape as the salting test, UNSALTED join,
    // AQE ON with thresholds scaled to the fixture — the final adaptive plan
    // must carry the skew=true marker (proof the split actually fired, not
    // just that AQE was enabled) and the answer must match the AQE-off run.
    val n = 4000000L
    // md5 payload keeps the hot partition INCOMPRESSIBLE — with only the
    // near-constant key, lz4 shrinks 4M rows under the skew threshold and
    // the split never fires (observed), which at real scale corresponds to
    // a hot partition that genuinely is small after compression
    val large = spark.range(n).select(
      when(col("id") % 100 =!= 0, 0L).otherwise(col("id") % 1000).as("k"),
      md5(col("id").cast("string")).as("payload"))
    val small = spark.range(1000).select(col("id").as("k"), (col("id") * 7).as("v"))
    val prev = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("payload").as("mp"))
      val expected = agg(large.join(small, Seq("k"))).collect().toSeq
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // fixture-scale thresholds: the hot partition (~30 MB of shuffle) must
      // exceed factor×median AND the absolute threshold; advisory size sets
      // the split granularity
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      val agged = agg(large.join(small, Seq("k")))
      val got = agged.collect().toSeq
      assert(got == expected, "AQE skew split changed the join result")
      val finalPlan = agged.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"planted hot key did not trigger OptimizeSkewedJoin — final plan:\n$finalPlan")
    } finally restore()
  }

  test("partitioned materialization prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mart").toString
    val mart = Tables.orders(spark, sf())
      .withColumn("order_year", year(col("o_orderdate")))
    Materialize.asPartitionedTable(mart, dir, "order_year")
    val back = Materialize.readTable(spark, dir).filter(col("order_year") === 1997)
    assert(back.count() == mart.filter(col("order_year") === 1997).count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("order_year"), plan)
    // pruned scan reads only the matching partition directory
    assert(plan.split("PartitionFilters")(1).takeWhile(_ != ']').contains("1997"), plan)
  }

  test("append sink accumulates snapshots; overwrite replaces (S6/S7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val snap = Tables.region(spark, sf())
    snap.write.mode("append").parquet(dir)
    snap.write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 2 * snap.count())
    snap.write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).count() == snap.count())
  }

  test("load_ts audit column is one batch-constant value (P4)") {
    val at = java.time.Instant.parse("2024-05-01T00:00:00Z")
    val stamped = ops.Launches.withLoadTs(Tables.region(spark, sf()), at)
    val distinct = stamped.select("load_ts").distinct().collect()
    assert(distinct.length == 1)
    assert(distinct.head.getTimestamp(0).toInstant == at)
  }

  test("bucketed tables join with no shuffle exchange (co-located join)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graftbuckets")
    Tables.orders(spark, sf()).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graftbuckets.orders_b")
    Tables.lineitem(spark, sf()).select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graftbuckets.lineitem_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graftbuckets.lineitem_b")
        .join(spark.table("graftbuckets.orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")))
      j.collect()
      val plan = j.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("SortMergeJoin"), plan)
      // co-located: neither join input reshuffles — the only Exchange is the
      // final aggregation's
      val joinSection = plan.split("SortMergeJoin")(0)
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"), plan)
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"), plan)
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dynamic partition pruning: a dimension filter prunes fact partitions at runtime") {
    // The 100 TB star-join story: the fact table is partitioned on a key
    // the QUERY never filters directly — the selective predicate lives on
    // a dimension attribute. Static pruning can't help; Catalyst's DPP
    // turns the filtered dim side into a runtime IN-subquery on the fact
    // scan's partition column, so only matching partition directories are
    // read. Without it, every dim-filtered fact join is a full scan.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    Tables.orders(spark, sf())
      .withColumn("order_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("order_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    val years = fact.select(col("order_year")).distinct()
      .as[Int].collect().sorted
    assert(years.length >= 3, s"need several partitions, got ${years.toSeq}")
    val target = years.head
    // dim: (year, tag) — the filter is on tag, NOT on the partition column.
    // The dim must be a real datasource: a local Seq relation gets folded
    // by ConvertToLocalRelation, the Filter node disappears, and DPP's
    // "has selective predicate" precondition never sees it.
    years.map(y => (y, if (y == target) "target" else "other"))
      .toSeq.toDF("y", "tag")
      .write.mode("overwrite").parquet(s"$dir-dim")
    val dim = spark.read.parquet(s"$dir-dim")
    val j = fact.join(dim.filter(col("tag") === "target"),
      col("order_year") === col("y"))
    val expected = fact.filter(col("order_year") === target).count()
    assert(j.count() == expected)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    // and the pruned scan must NOT enumerate a non-matching partition
    val scanSection = plan.split("PartitionFilters")(1).takeWhile(_ != '\n')
    assert(scanSection.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("identical aggregate subplans shuffle once (exchange reuse on a self-join)") {
    // Self-joining a shuffled aggregate (week-over-week, cohort-vs-cohort,
    // share-of-total patterns) must not pay the shuffle twice: Spark plans
    // one Exchange and wires a ReusedExchange into the second branch. At
    // 100 TB the reused exchange halves the dominant cost of every
    // same-frame comparison query.
    val agg = Tables.orders(spark, sf())
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("spend"))
    val j = agg.as("a").join(agg.as("b"),
        col("a.o_custkey") === col("b.o_custkey"))
      .select(count(org.apache.spark.sql.functions.lit(1)).as("n"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("CBO + ANALYZE statistics reorder a join chain (selective dim joins first)") {
    // The 100 TB lever the other plan proofs don't cover: with table and
    // column statistics, the cost-based optimizer rewrites a WRITTEN
    // fact ⋈ fact ⋈ filtered-dim chain so the selective dim reduction
    // happens FIRST. Without stats the written (worst) order survives —
    // asserting both directions proves it is the statistics doing it.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val sql =
      """SELECT n_name, count(*) FROM cbodb.orders
        |JOIN cbodb.customer ON o_custkey = c_custkey
        |JOIN cbodb.nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 0
        |GROUP BY n_name""".stripMargin
    spark.sql("CREATE DATABASE IF NOT EXISTS cbodb")
    for (t <- Seq("nation", "customer", "orders")) {
      Tables.load(spark, sf(), t).write.mode("overwrite").saveAsTable(s"cbodb.$t")
      spark.sql(s"ANALYZE TABLE cbodb.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    def innermostJoin(s: org.apache.spark.sql.SparkSession): String =
      s.sql(sql).queryExecution.optimizedPlan
        .collect { case j: Join => j }.last.toString
    val cbo = spark.newSession()
    cbo.conf.set("spark.sql.cbo.enabled", "true")
    cbo.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val reordered = innermostJoin(cbo)
    assert(reordered.contains("nation") && !reordered.contains("orders"),
      s"CBO should join the filtered dim first:\n$reordered")
    val noCbo = spark.newSession() // stats present but CBO off → written order
    val writtenOrder = innermostJoin(noCbo)
    assert(writtenOrder.contains("orders"),
      s"without CBO the written order should survive:\n$writtenOrder")
    // reordering must not change the answer
    assert(cbo.sql(sql).collect().toSet == noCbo.sql(sql).collect().toSet)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // The 100 TB story for selective fact-dim joins that are too big to
    // broadcast: Catalyst's runtime row-level filtering builds a bloom
    // filter from the filtered build side and injects it as a probe-side
    // scan predicate, cutting the shuffled bytes to ~the join's selectivity
    // before the exchange. The engine leans on this (it's planner-injected,
    // nothing to hand-roll); this test pins that the injection actually
    // fires on our session for the canonical shape — a selective dim filter
    // joined to a fact — with the size thresholds scaled down to fixture
    // data (production defaults: 10 MB creation side / 10 GB probe side).
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "0")
      spark.conf.set(keys(2), "100MB")
      spark.conf.set(keys(3), "-1") // force the shuffle join bloom targets
      val urgent = Tables.orders(spark, sf())
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val j = Tables.lineitem(spark, sf())
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate")).agg(sum(col("l_quantity")).as("qty"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // and it still computes the right thing with the filter in place
      val viaBloom = j.orderBy(col("o_orderdate")).collect()
      spark.conf.set(keys(0), "false")
      val plain = Tables.lineitem(spark, sf())
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate")).agg(sum(col("l_quantity")).as("qty"))
        .orderBy(col("o_orderdate")).collect()
      assert(viaBloom.sameElements(plain))
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("streaming dropDuplicates collapses a replayed source to exactly-once counts") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft-replay")
    val src = Paths.get(sf(), "events.parquet")
    // simulate an at-least-once source: the same snapshot lands twice
    Files.copy(src, dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = Tables.canonicalTs(spark.readStream.schema(schema).parquet(dir.toString))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("graft_dedup_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val deduped = spark.table("graft_dedup_stream").agg(sum(col("n"))).head.getLong(0)
    val original = Tables.events(spark, sf()).count()
    assert(deduped == original, s"expected $original exactly-once events, got $deduped")
  }

  test("stateful sessionizer equals the window-based q21 exactly") {
    val w = ops.Events.q21Sessions(spark, sf())
    val st = streaming.StatefulSessions.q25StatefulSessions(spark, sf())
    assert(w.exceptAll(st).isEmpty && st.exceptAll(w).isEmpty)
  }

  test("concurrent multi-query execution matches serial results exactly") {
    // A 1000-executor deployment never runs one query at a time: a shared
    // session serves many submitters concurrently (thread-per-query is
    // Spark's documented multi-tenancy model; FAIR vs FIFO changes only
    // latency, not semantics). Untested dimension until now: concurrent
    // plans racing through the same SparkSession, catalog (q207/q27-style
    // temp views — unique-name discipline), and the thread-local Caches
    // registry. Mixed shapes on purpose: scan-agg, join, shingling,
    // pair-join, recursive CTE (temp view + localCheckpoint), sketch.
    val names = Seq("q01_pricing_summary", "q03_revenue_by_nation",
      "q46_minhash_lsh_pairs", "q118_basket_pairs", "q207_recursive_ema",
      "q127_hll_distinct")
    def run(n: String): Seq[String] = Caches.scoped {
      SparkEntry.queries(n)(spark, sf()).collect().map(_.toString).toSeq.sorted
    }
    val serial = names.map(n => n -> run(n)).toMap
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(java.util.concurrent.Executors.newFixedThreadPool(6))
    val concurrent = Await.result(
      Future.sequence(names.map(n => Future(n -> run(n)))), 5.minutes).toMap
    names.foreach(n => assert(concurrent(n) == serial(n), n))
    // the thread-local Caches registries were all drained by their owners
    assert(Caches.liveCountHere == 0)
  }
}
