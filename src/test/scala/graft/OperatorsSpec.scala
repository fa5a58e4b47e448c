package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** Cross-operator invariants and edge cases over the sf0.001 testdata —
  * complements the DuckDB oracle (which pins values) with property-style
  * checks that must hold at any scale. */
class OperatorsSpec extends SparkSpec {

  test("q13 three-valued logic: completed + other == n_orders in every year") {
    Relational.q13StatusRateByYear(spark, sf()).collect().foreach { r =>
      assert(r.getAs[Long]("completed") + r.getAs[Long]("other") == r.getAs[Long]("n_orders"))
    }
  }

  test("q01 pricing summary: count_order sums to filtered lineitem count") {
    val total = Relational.q01PricingSummary(spark, sf()).agg(sum("count_order")).head.getLong(0)
    val expected = Tables.lineitem(spark, sf())
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp")).count()
    assert(total == expected)
  }

  test("q11 set ops: inclusion-exclusion (both + only_a + only_b == either)") {
    val m = Relational.q11SetOps(spark, sf()).collect()
      .map(r => r.getAs[String]("cohort") -> r.getAs[Long]("n_customers")).toMap
    assert(m("both_years") + m("only_1996") + m("only_1997") == m("either_year"))
  }

  test("sessionization: session counts bounded and durations within gap bound") {
    val sess = Events.q21Sessions(spark, sf()).collect()
    val events = Tables.events(spark, sf()).count()
    assert(sess.map(_.getAs[Long]("n_events")).sum == events)
    sess.foreach { r =>
      val d = r.getAs[Long]("duration_ms")
      assert(d >= 0 && d <= (r.getAs[Long]("n_events") - 1) * 1800000L)
    }
  }

  test("q176 incremental LSH update equals the full q46 rebuild restricted to delta pairs") {
    // the maintenance law IN Spark (the oracle proves it against DuckDB;
    // this pins it engine-internally too): probing delta bands against the
    // full band table finds exactly the delta-involved pairs of a full
    // rebuild — nothing lost at a band boundary, nothing invented
    import org.apache.spark.sql.functions._
    try {
      val full = ops.Dedup.q46MinhashLshPairs(spark, sf())
        .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b")
        .collect().map(_.toSeq).toSet
      val incr = ops.Dedup.q176IncrementalLshUpdate(spark, sf())
        .select("doc_a", "doc_b", "inter", "size_a", "size_b")
        .collect().map(_.toSeq).toSet
      assert(incr === full)
      assert(incr.nonEmpty, "fixture should produce at least one delta-involved pair")
    } finally Caches.releaseAll()
  }

  test("q177 packing lower bound is a true lower bound and utilizations order correctly") {
    import org.apache.spark.sql.functions._
    try {
      val rows = ops.Mixture.q177ContextFitAudit(spark, sf()).collect()
      assert(rows.length === 3)
      rows.foreach { r =>
        val (l, kept, lb) = (r.getAs[Long]("ctx_len"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("seqs_packed_lb"))
        assert(lb === (kept + l - 1) / l)
        // packing can only help: packed utilization >= unpacked, both <= 1e6
        assert(r.getAs[Long]("util_packed_ppm") >= r.getAs[Long]("util_unpacked_ppm"))
        assert(r.getAs[Long]("util_packed_ppm") <= 1000000L)
        // conservation: every token is kept or lost to truncation
        assert(kept + r.getAs[Long]("trunc_lost_tokens") === r.getAs[Long]("total_tokens"))
      }
    } finally Caches.releaseAll()
  }

  test("q178 funnel is monotone and drops reconcile stage-to-stage") {
    try {
      val rows = ops.Text.q178CorpusFunnel(spark, sf()).collect()
      assert(rows.map(_.getAs[String]("stage")).toSeq ===
        Seq("raw", "length>=10", "lang=en", "quality", "exact_dedup"))
      rows.sliding(2).foreach { case Array(prev, cur) =>
        assert(cur.getAs[Long]("n_surviving") <= prev.getAs[Long]("n_surviving"))
        assert(cur.getAs[Long]("n_dropped") ===
          prev.getAs[Long]("n_surviving") - cur.getAs[Long]("n_surviving"))
      }
    } finally Caches.releaseAll()
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = Dedup.q44LatestPerKey(spark, sf())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source")).orderBy(col("latest_doc_id").desc)
    val twice = once.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    assert(once.count() == twice.count())
  }

  test("q63 percentiles: quartiles monotone, median == q2") {
    Analytics.q63Percentiles(spark, sf()).collect().foreach { r =>
      val (q1, q2, q3) = (r.getAs[Double]("q1_cents"),
        r.getAs[Double]("q2_cents"), r.getAs[Double]("q3_cents"))
      assert(q1 <= q2 && q2 <= q3)
      assert(q2 == r.getAs[Double]("median_cents"))
    }
  }

  test("q62 arg extremes: priciest/cheapest keys carry the group max/min price") {
    val orders = Tables.orders(spark, sf())
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Analytics.q62ArgExtremes(spark, sf()).collect().foreach { r =>
      assert(orders(r.getAs[Long]("priciest_orderkey")) == r.getAs[Double]("max_price"))
      assert(orders(r.getAs[Long]("cheapest_orderkey")) == r.getAs[Double]("min_price"))
    }
  }

  test("q65 as-of join: gaps non-negative, matched <= total, totals cover all events") {
    val rows = Analytics.q65AsofJoinOrders(spark, sf()).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, sf()).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_matched") <= r.getAs[Long]("n_events"))
      if (!r.isNullAt(r.fieldIndex("min_gap_ms"))) assert(r.getAs[Long]("min_gap_ms") >= 0)
    }
  }

  test("q58 grouping sets: each year's per-status counts sum to its year total") {
    val rows = Analytics.q58GroupingSets(spark, sf()).collect()
    val perYear = rows.filter(r => r.getAs[Long]("g_status") == 0 && r.getAs[Long]("g_year") == 0)
      .groupBy(_.getAs[Long]("order_year")).view.mapValues(_.map(_.getAs[Long]("n_orders")).sum)
    val yearTotals = rows.filter(r => r.getAs[Long]("g_status") == 1 && r.getAs[Long]("g_year") == 0)
      .map(r => r.getAs[Long]("order_year") -> r.getAs[Long]("n_orders")).toMap
    perYear.foreach { case (y, n) => assert(yearTotals(y) == n) }
  }

  test("typed mapPartitions frame extract == declarative q60 frames") {
    val docs = Tables.documents(spark, sf())
    val typed = Multimodal.frameExtract(spark, docs).collect()
      .map(f => (f.doc_id, f.frame_idx, f.frame_md5)).toSet
    val declarative = Multimodal.q60MultimodalDecode(spark, sf())
      .select(col("doc_id"), col("n_sampled_frames"), col("frame0_md5")).collect()
    // q60 only exposes frame 0 + the count; check both against the typed set
    val byDoc = typed.groupBy(_._1)
    declarative.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(byDoc(id).size.toLong == r.getAs[Long]("n_sampled_frames"), s"doc $id")
      assert(byDoc(id).exists(f => f._2 == 0 && f._3 == r.getAs[String]("frame0_md5")), s"doc $id")
    }
  }

  test("q66 native session windows agree with q21 gaps-and-islands on interior gaps") {
    // Boundary rule differs only at exactly-30min gaps (>= vs >); verify
    // totals that are boundary-insensitive on this data match.
    val islands = Events.q21Sessions(spark, sf()).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("n_events")).as("ev")).collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n"), r.getAs[Long]("ev"))).toMap
    Events.q66SessionWindows(spark, sf()).collect().foreach { r =>
      val (n, ev) = islands(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_events_total") == ev)
      assert(r.getAs[Long]("n_sessions") == n) // no exact-30min gaps in testdata
    }
  }

  /** A shared-context test can't build a second session with withExtensions
    * (builder reuses the existing one), so apply the injected functions to
    * the live registry via the same public registerFunctions hook a real
    * session build uses. */
  private def injectGraftExtensions(): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext)
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    // registerFunctions is private[sql] in Scala but public in bytecode
    ext.getClass.getMethods.find(_.getName == "registerFunctions").get
      .invoke(ext, registry)
  }

  test("GraftExtensions injection makes graft_dot resolvable from SQL text") {
    injectGraftExtensions()
    val v = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head.getDouble(0)
    assert(v == 11.0)
  }

  test("GraftExtensions injection makes graft_shingles5 resolvable from SQL text") {
    injectGraftExtensions()
    val v = spark.sql(
      "SELECT graft_shingles5(array('a', 'b', 'c', 'd', 'e', 'a', 'b', 'c', 'd', 'e', 'f')) AS g")
      .head.getSeq[String](0)
    assert(v == Seq("a b c d e", "b c d e a", "c d e a b", "d e a b c", "e a b c d", "b c d e f"))
  }

  test("q83 KMV sketch estimates distinct counts within 4 standard errors") {
    Analytics.q83KmvSketch(spark, sf("sf0.01")).collect().foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Double]("kmv_estimate")
      assert(math.abs(est - exact) / exact <= 4.0 / math.sqrt(62.0),
        s"${r.getAs[String]("o_orderstatus")}: est=$est exact=$exact")
    }
  }

  test("concurrent invocations on a shared session do not interfere") {
    // view-backed SQL queries + cache-registering queries from multiple
    // threads — a library embedder's multi-tenant shape
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val names = Seq("q27_correlated_subquery", "q81_in_subquery",
      "q90_lateral_join", "q11_set_ops", "q27_correlated_subquery", "q90_lateral_join")
    val expected = names.distinct.map { n =>
      n -> SparkEntry.queries(n)(spark, sf()).collect().toSeq
    }.toMap
    val results = Await.result(
      Future.sequence(names.map { n =>
        Future {
          // the registry is thread-local (ADVICE r2): each tenant releases
          // its own registrations after its action, on its own thread —
          // which cannot unpersist a concurrent tenant's in-flight caches
          try n -> SparkEntry.queries(n)(spark, sf()).collect().toSeq
          finally Caches.releaseAll()
        }
      }), 5.minutes)
    results.foreach { case (n, rows) => assert(rows == expected(n), n) }
    Caches.releaseAll()
  }

  test("Caches.memoize: builds once per (session, tag, dir), survives releaseAll, releases on releaseMemos") {
    // the trainer-artifact contract (VERDICT r9 item 2): q231/q232/q247
    // share one unigram training, q181/q182/q195/q232 one BPE training
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    var builds = 0
    def build() = Caches.memoize(spark, "memo-test", dir) {
      builds += 1
      // register a checkpoint inside the build — ownership must TRANSFER
      // to the memo (releaseAll after the first consumer must not
      // unpersist what the second consumer reuses)
      Caches.trackCheckpoint(spark.range(100).toDF("id").localCheckpoint())
    }
    val before = Caches.liveCountHere
    val df1 = build()
    assert(builds == 1)
    // the build's registration moved off the per-query registry
    assert(Caches.liveCountHere == before)
    Caches.releaseAll() // a consumer finishing must not kill the artifact
    val df2 = build()
    assert(builds == 1, "memo rebuilt after releaseAll")
    assert(df2.eq(df1), "memo returned a different instance")
    assert(df2.count() == 100, "memoized frame unusable after releaseAll")
    // a different dir is a different artifact
    val dir2 = java.nio.file.Files.createTempDirectory("graft-memo2").toString
    Caches.memoize(spark, "memo-test", dir2) { builds += 1; "built" }
    assert(builds == 2)
    Caches.releaseMemos()
    val df3 = build()
    assert(builds == 3, "memo not cleared by releaseMemos")
    assert(df3.count() == 100)
    Caches.releaseMemos()
  }

  test("no persisted RDDs or catalog entries leak across query + releaseAll cycles") {
    // regression net for the r3 leak class: persisted subplans, checkpoint
    // RDDs, per-invocation temp views, and streaming memory-sink tables
    // must all be gone after each query's releaseAll — delta-based so
    // other suites' shared-session state doesn't pollute the assertion
    val names = Seq("q46_minhash_lsh_pairs", "q48_dedup_clusters",
      "q79_distribution_ranks", "q49_tfidf_top_terms", "q27_correlated_subquery",
      "q24_streaming_hourly", "q103_stream_stream_join",
      "q104_ahash_neardup", "q105_repetition_signals",
      // round-4 persisting queries
      "q106_ngram_jaccard_join", "q107_cohort_retention", "q109_decontaminate",
      "q110_kmeans_train", "q111_ann_recall")
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sf()).count()
      Caches.releaseAll()
    }
    val rddsLeaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    val viewsLeaked = spark.catalog.listTables().collect().map(_.name).toSet -- viewsBefore
    assert(rddsLeaked.isEmpty, s"persisted RDDs leaked: $rddsLeaked")
    assert(viewsLeaked.isEmpty, s"catalog entries leaked: $viewsLeaked")
  }

  test("near-dup pipeline on documents under 5 tokens: pinned rows, no overflow") {
    // Documents with no 5-gram carry no sketch: their minima would be
    // Long.MaxValue, and packing two into a band overflows under ANSI
    // mode. The rows are pinned from the exploded-shingle pipeline; first
    // some documents are short, then all of them.
    import spark.implicits._
    val l1 = "the quick brown fox jumps over the lazy dog while seven wizards quietly hex every jovial zebra at dawn"
    val l2 = "apache spark plans a query as a tree of operators and codegen fuses the hot loops into one method"
    val l3 = "numbers like one hundred and twenty three appear rarely in this synthetic corpus of planted documents"
    val long = Seq[(Long, String)](1L -> l1, 2L -> s"$l1 again", 3L -> l1, 4L -> l2,
      5L -> s"$l2 today", 6L -> l3)
    val short = Seq[(Long, String)](7L -> "alpha beta", 8L -> "one two three four",
      9L -> "alpha beta", 10L -> "", 11L -> null)
    def corpus(docs: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-short").toString
      docs.map { case (id, t) => (id, t, "en", if (id % 2 == 0) "web" else "wiki",
          Option(t).map(_.length.toLong).getOrElse(0L)) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      try df.collect().map(_.toSeq.mkString(",")).toSeq finally Caches.releaseAll()
    val pinned = Seq(
      (long ++ short,
        Seq("1,2,15,15,16,0.9375", "1,3,15,15,15,1.0", "2,3,15,16,15,0.9375", "4,5,15,15,16,0.9375"),
        Seq("1,1,3,1", "2,1,3,0", "3,1,3,0", "4,4,2,1", "5,4,2,0"),
        Seq("1", "4", "6", "7", "8", "10", "11"),
        Seq("train,3,3")),
      (short, Seq.empty, Seq.empty, Seq("7", "8", "10", "11"), Seq.empty))
    for ((docs, q46, q48, cleaned, prepared) <- pinned) {
      val dir = corpus(docs)
      val out = java.nio.file.Files.createTempDirectory("graft-short-out").toString
      assert(rows(Dedup.q46MinhashLshPairs(spark, dir)) == q46)
      assert(rows(Dedup.q48DedupClusters(spark, dir)) == q48)
      assert(rows(Dedup.cleanedCorpus(spark, dir, s"$out/clean").select("doc_id").orderBy("doc_id")) ==
        cleaned)
      assert(rows(Pipelines.prepareCorpus(spark, dir, s"$out/prep")) == prepared)
    }
  }

  test("q48 on a clean corpus (no near-dup pairs) returns empty, no NPE") {
    // ADVICE.md r1: empty labels made agg(sum(lbl)).head.getLong(0) NPE.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-clean").toString
    (1L to 6L).map(i =>
        (i, s"totally distinct document number $i with unique content " +
          s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.q48DedupClusters(spark, dir)
    assert(out.columns.toSeq ==
      Seq("doc_id", "cluster_rep", "cluster_size", "is_kept"))
    assert(out.count() == 0)
    Caches.releaseAll()
  }

  test("prepareCorpus: dedup -> quality -> chunk -> split end-to-end") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val summary = Pipelines.prepareCorpus(spark, sf(), out).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chunks"))).toMap
    assert(summary.contains("train") && summary.contains("eval"))
    val chunks = spark.read.parquet(s"$out/chunks")
    // chunk rows partition-prune by split and reconstruct counts
    assert(chunks.filter(col("split") === "train").count() == summary("train")._2)
    // every chunk has text; no doc appears in both splits
    assert(chunks.filter(length(col("chunk_text")) === 0).count() == 0)
    val both = chunks.select("doc_id", "split").distinct()
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(both == 0)
    Caches.releaseAll()
  }

  test("cleanedCorpus drops exact dups + near-dup members, keeps reps, round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft-clean-corpus").toString + "/docs"
    val cleaned = Dedup.cleanedCorpus(spark, sf(), out)
    val docs = Tables.documents(spark, sf())
    val nDistinctTexts = docs.select(md5(col("text").cast("binary"))).distinct().count()
    val clusters = Dedup.q48DedupClusters(spark, sf()).collect()
    val dropped = clusters.count(_.getAs[Long]("is_kept") == 0)
    // every near-dup member with distinct text is dropped; reps retained
    assert(cleaned.count() >= nDistinctTexts - dropped)
    assert(cleaned.count() < docs.count())
    val keptIds = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    clusters.foreach { r =>
      if (r.getAs[Long]("is_kept") == 0) assert(!keptIds.contains(r.getAs[Long]("doc_id")))
    }
    Caches.releaseAll()
  }

  test("minhash LSH finds high-Jaccard planted near-dups and no false ≥0.99 misses") {
    val pairs = Dedup.q46MinhashLshPairs(spark, sf()).collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
    // with 4 bands × 2 rows and J ≥ 0.9, candidate-miss probability < 1e-4
    assert(pairs.count(_.getAs[Double]("jaccard") >= 0.9) > 0)
  }

  test("shingles of <5-token docs are empty (guard, not sequence explosion)") {
    import spark.implicits._
    val tiny = Seq("one two three four", "a b c d e f").toDF("text")
      .select(Text.shingles5(Text.tokens(col("text"))).as("sh"))
      .collect()
    assert(tiny(0).getSeq[String](0).isEmpty)
    assert(tiny(1).getSeq[String](0).size == 2)
  }

  /** `shingles5` over each token array, through a shuffle so the projection
    * runs in generated code rather than being folded on the driver. */
  private def shingled(arrays: Seq[Seq[String]]): Seq[Seq[String]] = {
    import spark.implicits._
    arrays.map(Option(_)).zipWithIndex.toDF("t", "i").repartition(2)
      .select(col("i"), Text.shingles5(col("t")).as("g")).collect()
      .sortBy(_.getInt(0)).map(r => if (r.isNullAt(1)) null else r.getSeq[String](1)).toSeq
  }

  /** Driver-side reference: distinct word 5-grams in first-occurrence order. */
  private def gramsRef(toks: Seq[String]): Seq[String] =
    if (toks.size < 5) Seq.empty else toks.sliding(5).map(_.mkString(" ")).toSeq.distinct

  test("shingles5 kernel: hand-computed grams, first-occurrence distinct, NULL stays NULL") {
    val got = shingled(Seq(
      Seq("a", "b", "c", "d"),
      Seq("a", "b", "c", "d", "e"),
      Seq("x", "y", "z", "x", "y", "z", "x", "y", "z", "x"),
      Seq.empty,
      null))
    assert(got(0) == Seq.empty)
    assert(got(1) == Seq("a b c d e"))
    // grams 4-6 repeat grams 1-3 and are dropped
    assert(got(2) == Seq("x y z x y", "y z x y z", "z x y z x"))
    assert(got(3) == Seq.empty)
    assert(got(4) == null)
    import spark.implicits._
    val toks = Seq((0, Some(",Hello  World!-2x")), (1, None)).toDF("i", "text").repartition(2)
      .select(col("i"), Text.tokens(col("text"))).collect().sortBy(_.getInt(0))
    assert(toks(0).getSeq[String](1) == Seq("hello", "world", "2x"))
    assert(toks(1).isNullAt(1))
  }

  test("shingles5 kernel equals a driver-side reference on seeded random token arrays") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // a 3-word vocabulary, so grams repeat within most arrays
    val rnd = new scala.util.Random(20)
    val vocab = Seq("a", "b", "c")
    val arrays = Seq.fill(300)(Seq.fill(rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size))))
    // generated code (through a shuffle) and the interpreted eval
    shingled(arrays).zip(arrays).foreach { case (g, t) => assert(g == gramsRef(t), t) }
    arrays.foreach { t =>
      val a = graft.functions.Shingles5(Literal.create(t, ArrayType(StringType))).eval()
        .asInstanceOf[ArrayData]
      assert(a.toSeq[Any](StringType).map(_.toString) == gramsRef(t), t)
    }
  }

  /** A one-argument kernel over each array (NULL for a `null` entry), run
    * twice: in a generated-code projection (compiled, no interpreted
    * fallback) and by the interpreted `eval`. */
  private def kernelRuns(kernel: org.apache.spark.sql.catalyst.expressions.Expression =>
      org.apache.spark.sql.catalyst.expressions.Expression,
      arrays: Seq[Seq[String]]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val in = ArrayType(StringType)
    val out = kernel(BoundReference(0, in, nullable = true)).dataType.asInstanceOf[ArrayType].elementType
    def seq(a: ArrayData): Seq[Any] =
      if (a == null) null
      else a.toSeq[Any](out).map { case u: UTF8String => u.toString; case v => v }
    val proj = GenerateUnsafeProjection.generate(Seq(kernel(BoundReference(0, in, nullable = true))))
    val generated = arrays.map { t =>
      val arg = if (t == null) null else new GenericArrayData(t.map(UTF8String.fromString))
      val r = proj(InternalRow(arg))
      seq(if (r.isNullAt(0)) null else r.getArray(0))
    }
    val interpreted = arrays.map(t => seq(kernel(Literal.create(t, in)).eval().asInstanceOf[ArrayData]))
    (generated, interpreted)
  }

  test("shingle-hash and minhash kernels: hand-computed cases in generated code and eval") {
    import graft.functions.{MinHash, ShingleHashes}
    val (hg, hi) = kernelRuns(ShingleHashes(_), Seq(
      Seq("a", "b", "c", "d"),
      Seq("a", "b", "c", "d", "e"),
      Seq("x", "y", "z", "x", "y", "z", "x", "y", "z", "x"),
      Seq.empty,
      null))
    for (h <- Seq(hg, hi)) {
      assert(h(0) == Seq.empty)
      assert(h(1) == Seq("2438b89b82c22b3d063b2ee165c033c0")) // md5("a b c d e")
      // grams 4-6 repeat grams 1-3 and give no second hash
      assert(h(2) == Seq("d0dde8f1d458cf4de6a330448cf3fe73", "a6bcb6e1e5412f5671e8d54757dd4905",
        "19a227c23f73251e865250db642aa9cb"))
      assert(h(3) == Seq.empty)
      assert(h(4) == null)
    }
    // (h1, h2) = (1, 2): A(i) + 2·B(i) + 7919·i; (3, 0): 3·A(i) + 7919·i
    val x = Seq(123089L, 142026L, 160939L, 176940L, 193811L, 212738L, 213647L, 231536L)
    val z = Seq(135021L, 157982L, 174847L, 194868L, 211715L, 228682L, 197511L, 217436L)
    val (mg, mi) = kernelRuns(MinHash(_), Seq(
      Seq("00000001000000020000000000000000"),
      Seq("00000003000000000123456789abcdef"),
      Seq("00000001000000020000000000000000", null, "00000003000000000123456789abcdef"),
      Seq("ffffffffffffffff0000000000000000"),
      Seq.empty,
      null))
    for (m <- Seq(mg, mi)) {
      assert(m(0) == x)
      assert(m(1) == z)
      // element-wise minima; the NULL element is skipped
      assert(m(2) == x.zip(z).map { case (a, b) => math.min(a, b) })
      // (2³²−1)·(A(i) + B(i)) + 7919·i mod 2³¹−1: no overflow at the top of the range
      assert(m(3) == Seq(84048L, 99983L, 114890L, 128867L, 142750L, 157681L, 155580L, 170485L))
      assert(m(4) == Seq.fill(8)(Long.MaxValue))
      assert(m(5) == null)
    }
    for (bad <- Seq("0123456789abcde", "0123456789abcdeg"))
      intercept[IllegalArgumentException](kernelRuns(MinHash(_), Seq(Seq(bad))))
  }

  test("shingle-hash and minhash kernels equal driver-side references on seeded inputs") {
    import graft.functions.{MinHash, ShingleHashes}
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val vocab = Seq("a", "b", "c", "dd", "é")
    val arrays = Seq.fill(300)(Seq.fill(rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size))))
    def md5Hex(g: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    val (hg, hi) = kernelRuns(ShingleHashes(_), arrays)
    arrays.zip(hg.zip(hi)).foreach { case (t, (g, i)) =>
      assert(g == gramsRef(t).map(md5Hex), t)
      assert(i == g, t)
    }
    // the minima by the Column formula: one row per hash, min per array
    val hashes = Seq.fill(200)(Seq.fill(1 + rnd.nextInt(40))(md5Hex(rnd.nextString(8))))
    val h1 = conv(substring(col("hg"), 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(col("hg"), 9, 8), 16, 10).cast("long")
    val mins = (0 until 8).map(i => min((h1 * MinHash.A(i) + h2 * MinHash.B(i) + MinHash.c(i)) % MinHash.P))
    val byColumns = hashes.zipWithIndex.toDF("hs", "i")
      .select(col("i"), explode(col("hs")).as("hg"))
      .groupBy(col("i")).agg(array(mins: _*).as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val (mg, mi) = kernelRuns(MinHash(_), hashes)
    hashes.indices.foreach { k =>
      assert(mg(k) == byColumns(k), hashes(k))
      assert(mi(k) == byColumns(k), hashes(k))
    }
  }

  /** `graft_punct_count` over each text (NULL for a `null` entry), run in a
    * generated-code projection (compiled, no interpreted fallback) and by
    * the interpreted `eval`. */
  private def punctRuns(texts: Seq[String]): (Seq[Any], Seq[Any]) = {
    import graft.functions.PunctCount
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val proj = GenerateUnsafeProjection.generate(Seq(PunctCount(BoundReference(0, StringType, nullable = true))))
    val generated = texts.map { t =>
      val r = proj(InternalRow(if (t == null) null else UTF8String.fromString(t)))
      if (r.isNullAt(0)) null else r.getInt(0)
    }
    (generated, texts.map(t => PunctCount(Literal.create(t, StringType)).eval()))
  }

  test("punctuation-count kernel: hand-computed cases in generated code and eval") {
    val cases = Seq(
      "abc xyz 09" -> 0,
      "ABC def" -> 3, // uppercase is outside [a-z]
      "a\tb\nc d" -> 2,
      "café naïve" -> 2, // é and ï are one code point each
      "数据 ok" -> 2,
      "a😀b" -> 1, // a surrogate pair in UTF-16, one code point
      "hi, there!" -> 2,
      "" -> 0)
    val (g, i) = punctRuns(cases.map(_._1) :+ null)
    for (r <- Seq(g, i)) assert(r == cases.map(_._2) :+ null)
  }

  test("punctuation-count kernel equals the regex formula on sf0.01 and non-ASCII documents") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet").select(col("text"))
      .unionByName(RobustnessSpec.nonAsciiTexts.toDF("text"))
    val regex = length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
    val rows = docs.select(col("text"), Text.punctCount(col("text")).as("k"), regex.as("r")).collect()
    assert(rows.length > RobustnessSpec.nonAsciiTexts.size)
    assert(rows.exists(r => !r.isNullAt(2) && r.getInt(2) > 0))
    val (g, i) = punctRuns(rows.map(_.getString(0)).toSeq)
    rows.zip(g.zip(i)).foreach { case (r, (gen, ev)) =>
      val want = if (r.isNullAt(2)) null else r.getInt(2)
      assert(r.get(1) == want, r.getString(0))
      assert(gen == want, r.getString(0))
      assert(ev == want, r.getString(0))
    }
  }

  // The testdata embeddings are isotropic random (no cluster structure), so
  // IVF recall ≈ the probed fraction (nprobe/k = 25%); beating that shows the
  // probe targets the right buckets. Real clustered corpora recall far higher.
  test("IVF top-k recall vs brute force ≥ 0.25 at nprobe=2/8") {
    val brute = Vector.q50CosineTopk(spark, sf()).filter(col("rk") <= 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = Vector.q51IvfTopk(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.25, s"recall=$recall")
    assert(ivf.forall { case (q, v) => q != v }, "a query is its own IVF neighbor")
  }

  test("PQ top-k overlaps brute-force top-k (sanity recall on random data)") {
    val brute = Vector.q50CosineTopk(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val pq = Vector.q53PqTopk(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(pq.nonEmpty)
    // 16-centroid PQ on isotropic 64-d data is coarse; require nonzero overlap
    assert((brute & pq).nonEmpty, s"no overlap between PQ and brute-force top-k")
  }

  test("cosine is symmetric and self-similarity is 1.0") {
    val emb = Tables.embeddings(spark, sf()).limit(1)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    val self = emb.select(
      (aggregate(zip_with(col("v"), col("v"), (a, b) => a * b), lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (acc, x) => acc + x)) *
          sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (acc, x) => acc + x)))).as("c"))
      .head.getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("multimodal frame sampling: ≤4 frames, n_bytes matches text length") {
    Multimodal.q60MultimodalDecode(spark, sf()).collect().foreach { r =>
      assert(r.getAs[Long]("n_sampled_frames") >= 1 && r.getAs[Long]("n_sampled_frames") <= 4)
    }
  }

  test("payload ingest (S1/S2): Dataset[String] JSON body matches file ingest") {
    val lines = scala.io.Source.fromFile(graft.ops.Launches.fixturePath).getLines().toSeq
    val fromPayload = graft.ops.Launches.ingestPayload(spark, lines)
    val fromFile = graft.ops.Launches.ingest(spark, graft.ops.Launches.fixturePath)
    assert(fromPayload.count() == fromFile.count())
    assert(fromPayload.schema == fromFile.schema)
    assert(fromPayload.exceptAll(fromFile).isEmpty && fromFile.exceptAll(fromPayload).isEmpty)
  }

  test("approx aggregates bounded vs exact (HLL-256 ±15% in large range, bucket median sane)") {
    // Raw HLL (m=256, σ = 1.04/√m ≈ 6.5%) is the LARGE-range regime: only
    // bound the error when exact > 2.5m = 640 (below that Flajolet
    // prescribes linear counting, which q18 reports the signal for via
    // q127's n_zero_registers rather than switching estimators).
    Relational.q18ApproxStats(spark, sf()).collect().foreach { r =>
      val exact = r.getAs[Long]("exact_customers").toDouble
      val approx = r.getAs[Long]("hll_customers").toDouble
      if (exact > 640)
        assert(math.abs(approx - exact) / exact <= 0.15, s"HLL off: $exact vs $approx")
      else assert(approx > 0.0)
      assert(r.getAs[Long]("approx_median_price") > 0L)
    }
  }

  test("all declared oracle keys have matching query entries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
  }

  test("q106 prefix-filtered Jaccard join equals brute-force pairwise (lossless pruning)") {
    // Independent brute force: raw 5-gram string sets per doc (array HOFs —
    // test-only, perf irrelevant), ALL pairs via cross join, exact-integer
    // threshold. q106 must return identical pairs and intersection counts.
    val toks = split(regexp_replace(lower(col("text")), "(^[^a-z0-9]+)|([^a-z0-9]+$)", ""), "[^a-z0-9]+")
    val grams = expr(
      "array_distinct(CASE WHEN size(t) >= 5 THEN transform(sequence(1, size(t) - 4), " +
        "i -> concat_ws(' ', slice(t, i, 5))) ELSE array() END)")
    val sets = Tables.documents(spark, sf())
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), grams.as("g"))
      .filter(size(col("g")) > 0)
    val brute = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(array_intersect(col("a.g"), col("b.g"))).cast("long").as("inter"),
        size(col("a.g")).cast("long").as("size_a"), size(col("b.g")).cast("long").as("size_b"))
      .filter(col("inter") * 5 >= (col("size_a") + col("size_b") - col("inter")) * 3)
    val got = Dedup.q106NgramJaccardJoin(spark, sf())
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"), col("size_b"))
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      "prefix-filtered result differs from brute force")
    Caches.releaseAll()
  }

  test("q159 priority sample: audit totals exact, estimator dominated below by weights") {
    val rows = Mixture.q159PrioritySample(spark, sf()).collect()
    val (audit, sample) = rows.partition(_.getAs[Long]("rank") == 0L)
    assert(audit.length == 1 && sample.length == 20)
    assert(sample.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 20L))
    // exact-total audit column matches an independent aggregation
    val exactTotal = Tables.documents(spark, sf())
      .agg(sum(greatest(col("n_chars"), lit(1L)))).head.getLong(0)
    assert(audit.head.getAs[Long]("weight") == exactTotal)
    // ŵ = max(w, τ) ≥ w, so every sampled estimate ≥ its own weight
    sample.foreach { r =>
      assert(r.getAs[Long]("w_hat_micros") >= r.getAs[Long]("weight") * 1000000L)
    }
    // estimate column of the audit row is the sample's own sum
    assert(audit.head.getAs[Long]("w_hat_micros") ==
      sample.map(_.getAs[Long]("w_hat_micros")).sum)
  }

  test("q162 equi-depth: boundaries hit exact ceil(tot*k/8) ranks; total preserved") {
    val out = Analytics.q162EquidepthHistogram(spark, sf()).collect()
      .sortBy(_.getAs[Long]("bucket"))
    val tot = Tables.lineitem(spark, sf()).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum == tot)
    // ranges strictly increase and never overlap
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("max_price") < b.getAs[Double]("min_price") ||
          a.getAs[Double]("max_price") <= b.getAs[Double]("min_price"))
      case _ =>
    }
    // cumulative population reaches each target rank exactly at its bucket
    // (boundary = first value whose running count >= ceil(tot*k/8)), and
    // without the k-th bucket's own rows it falls short of the target
    var cum = 0L
    out.foreach { r =>
      val k = r.getAs[Long]("bucket")
      val target = (tot * k + 7) / 8
      assert(cum < target, s"bucket $k starts at/after its target")
      cum += r.getAs[Long]("n_rows")
      assert(cum >= target, s"bucket $k ends before its target rank")
    }
    Caches.releaseAll()
  }

  test("q163 span coverage: planted boilerplate scores high, unique doc scores zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-spans").toString
    val boiler = "this website uses cookies to improve your experience please accept our terms"
    Seq(
      (1L, s"$boiler unique article about volcanoes erupting basalt plumes overnight"),
      (2L, s"$boiler another story entirely concerning deep sea anglerfish lanterns glowing"),
      (3L, s"$boiler third page discussing ancient pottery kilns excavated yesterday afternoon"),
      (4L, "completely singular text with no shared spans whatsoever covering quantum dot manufacturing processes"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q163SpanCoverage(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams"), r.getAs[Double]("dup_frac")))
      .toMap
    // the 12-token boilerplate contributes 12-4=8 shared 5-gram positions per doc
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id)._2 == 8, s"doc $id dup grams = ${out(id)._2}")
      assert(out(id)._3 > 0.0)
    }
    assert(out(4L)._2 == 0L && out(4L)._3 == 0.0)
    // ordering: boilerplate docs rank above the clean doc
    Caches.releaseAll()
  }

  test("q181 BPE training: hand-computed merge sequence on a planted corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    // banana×4, bandana×3. Hand-derived canonical greedy merges:
    //  1 (a,n)14  2 (an,a)7 [tie vs (b,an): 'an'<'b']  3 (b,an)7
    //  4 (ban,ana)4  5 (ban,d)3 [tie vs (d,ana)]  6 (band,ana)3
    //  rounds 7..8: no pairs left — 0-row argmax, dictionary must SURVIVE
    Seq((1L, "banana banana banana bandana", "s1"),
        (2L, "banana bandana bandana", "s2"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = Text.q181BpeTrain(spark, dir).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged"), r.getAs[Long]("pair_count")))
    assert(merges.toSeq === Seq(
      (1, "a", "n", "an", 14L), (2, "an", "a", "ana", 7L), (3, "b", "an", "ban", 7L),
      (4, "ban", "ana", "banana", 4L), (5, "ban", "d", "band", 3L),
      (6, "band", "ana", "bandana", 3L)))
    // argmax count is non-increasing across rounds (new pairs can't exceed
    // the count of the merge that created their symbol)
    assert(merges.map(_._5).toSeq === merges.map(_._5).sorted.reverse.toSeq)
    // fertility over the exhausted-merge dictionary: both words collapse to
    // ONE symbol ⇒ fertility exactly 1.0 (2^20 fixed-point) per source
    val fert = Text.q182BpeFertility(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_subtokens"), r.getAs[Long]("fertility_fp")))
      .toMap
    assert(fert("s1") === ((4L, 4L, 1048576L)))
    assert(fert("s2") === ((3L, 3L, 1048576L)))
    Caches.releaseAll()
  }

  test("q183 longest dup span: hand-computed spans + cap saturation on a planted corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lds").toString
    val cap50 = (1 to 55).map(i => f"w$i%02d").mkString(" ") // 55 identical tokens
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta one two three", "en", "s1"),
      (2L, "zero alpha beta gamma delta epsilon zeta nine", "en", "s1"),
      (3L, "unrelated words completely different here today", "en", "s2"),
      (4L, cap50, "en", "s2"),
      (5L, cap50, "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q183LongestDupSpan(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("span_len"), r.getAs[String]("span"))).toMap
    // docs 4/5 share 55 tokens — reported length saturates at the 50 cap
    assert(out(4L)._1 == 50L && out(5L)._1 == 50L)
    assert(out(4L)._2 == (1 to 50).map(i => f"w$i%02d").mkString(" "))
    // docs 1/2 share exactly the 6-token run, with the witness text
    assert(out(1L) == ((6L, "alpha beta gamma delta epsilon zeta")))
    assert(out(2L) == ((6L, "alpha beta gamma delta epsilon zeta")))
    // doc 3 shares no 5-gram with anyone — absent
    assert(!out.contains(3L))
    Caches.releaseAll()
  }

  test("q184/q185 classifier: symmetric corpus pins zero weights; confusion partitions docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lr").toString
    // identical features, opposite labels — every gradient cancels exactly,
    // so all 6 steps must leave w = 0 (any drift is an arithmetic-parity bug)
    Seq((1L, "aa bb cc dd", "en", "s1"), (2L, "aa bb cc dd", "fr", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val steps = Text.q184LrTrain(spark, dir).collect()
    assert(steps.length == 6)
    steps.foreach { r =>
      (1 to 4).foreach(i => assert(r.getLong(i) == 0L, s"step ${r.getInt(0)} w${i - 1}"))
    }
    // w=0 ⇒ p = S/2, threshold p·2 ≥ S fires ⇒ everything predicted 1
    val conf = Text.q185LrConfusion(spark, dir).collect()
    assert(conf.length == 1)
    val r = conf(0)
    assert(r.getAs[Long]("tp") == 1L && r.getAs[Long]("fp") == 1L &&
      r.getAs[Long]("fn") == 0L && r.getAs[Long]("tn") == 0L)
    Caches.releaseAll()
    // real corpus: the confusion cells partition every source's docs
    Text.q185LrConfusion(spark, sf()).collect().foreach { c =>
      assert(c.getAs[Long]("tp") + c.getAs[Long]("fp") +
        c.getAs[Long]("fn") + c.getAs[Long]("tn") == c.getAs[Long]("n_docs"))
    }
    Caches.releaseAll()
  }

  test("q187 threshold sweep: 7 rows, kept partitions into tp+fp, all counts antitone in t") {
    val rows = Text.q187ThresholdSweep(spark, sf()).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") == r.getAs[Long]("kept"))
    }
    // raising the gate can only shrink what passes it
    Seq("kept", "tp", "fp", "recall_ppm").foreach { c =>
      val v = rows.map(_.getAs[Long](c)).toSeq
      assert(v == v.sorted.reverse, s"$c not non-increasing: $v")
    }
    Caches.releaseAll()
  }

  test("q164 bottom-k quantile: k_used = min(64, n), exact median matches brute force") {
    val out = Sketches.q164BottomkQuantile(spark, sf()).collect()
    val brute = Tables.orders(spark, sf())
      .join(Tables.customer(spark, sf()), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").cast("long").as("nk"),
        Exact.cents(col("o_totalprice")).as("cents"))
      .collect().groupBy(_.getAs[Long]("nk"))
      .view.mapValues { rs =>
        val v = rs.map(_.getAs[Long]("cents")).sorted
        v((v.length - 1) / 2) + v(v.length / 2)
      }.toMap
    out.foreach { r =>
      val nk = r.getAs[Long]("nationkey")
      assert(r.getAs[Long]("k_used") == math.min(64L, r.getAs[Long]("n_rows")))
      assert(r.getAs[Long]("exact_med_x2_cents") == brute(nk), s"nation $nk exact median")
      assert(r.getAs[Long]("err_x2_cents") ==
        math.abs(r.getAs[Long]("est_med_x2_cents") - r.getAs[Long]("exact_med_x2_cents")))
    }
    Caches.releaseAll()
  }

  test("q188 dup-bigram signals: hand-computed mass and coverage on a planted corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dupng").toString
    // doc 1: tokens [a,b,a,b,c] → bigrams "a b","b a","a b","b c";
    //   "a b" ×2 dup → mass 2·3=6 of 12 → 500000 ppm;
    //   covered positions {1,2}∪{3,4} = 4 of 5 tokens → 800000 ppm
    // doc 2: all bigrams unique → exact zeros
    Seq((1L, "a b a b c", "en", "s1"), (2L, "x y z w", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q188DupNgramSignals(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_bigrams"),
          r.getAs[Long]("dup_bigram_mass_ppm"), r.getAs[Long]("covered_tokens"),
          r.getAs[Long]("dup_cover_ppm")))).toMap
    assert(out(1L) == ((5L, 4L, 500000L, 4L, 800000L)))
    assert(out(2L) == ((4L, 3L, 0L, 0L, 0L)))
    Caches.releaseAll()
    // real corpus: coverage can only count positions that exist
    Text.q188DupNgramSignals(spark, sf()).collect().foreach { r =>
      assert(r.getAs[Long]("covered_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("dup_cover_ppm") <= 1000000L)
    }
    Caches.releaseAll()
  }

  test("q189 corpus segment dedup: first writer wins in (doc_id, seg_idx) order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-segdd").toString
    val seg1 = (1 to 10).map(i => s"t$i").mkString(" ")   // exactly one segment
    val segX = (1 to 10).map(i => s"u$i").mkString(" ")
    // doc 1 = seg1 ∥ segX; doc 2 = seg1 ∥ 5-token tail; doc 3 repeats seg1 twice
    Seq((1L, s"$seg1 $segX", "en", "s1"),
        (2L, s"$seg1 v1 v2 v3 v4 v5", "en", "s1"),
        (3L, s"$seg1 $seg1", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q189CorpusSegmentDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("tokens_kept"), r.getAs[Long]("tokens_removed")))).toMap
    // doc 1 owns the first copy of seg1; its segX also survives
    assert(out(1L) == ((2L, 0L, 20L, 0L)))
    // doc 2's seg1 copy is removed; the 5-token partial tail survives
    assert(out(2L) == ((2L, 1L, 5L, 10L)))
    // doc 3 loses both copies (doc 1 owns the segment)
    assert(out(3L) == ((2L, 2L, 0L, 20L)))
    Caches.releaseAll()
    // real corpus: exactly one surviving copy per distinct segment
    val agg = Text.q189CorpusSegmentDedup(spark, sf())
      .agg(sum("n_segments").as("n"), sum("n_removed").as("r")).head
    val distinctSegs = Tables.documents(spark, sf())
      .select(explode(Text.segments(Text.tokens(col("text")))).as("seg"))
      .select("seg").distinct().count()
    assert(agg.getAs[Long]("n") - agg.getAs[Long]("r") == distinctSegs)
    Caches.releaseAll()
  }

  test("q190 lang-id confusion: cells partition the corpus; shares floor-sum to ≤ 1e6") {
    val rows = Text.q190LangIdConfusion(spark, sf()).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.documents(spark, sf()).count())
    rows.groupBy(_.getAs[String]("labeled_lang")).foreach { case (_, cells) =>
      val ppm = cells.map(_.getAs[Long]("label_share_ppm")).sum
      assert(ppm <= 1000000L && ppm > 1000000L - cells.length,
        s"floor-rounded shares must sum to (1e6 - #cells, 1e6]")
    }
    Caches.releaseAll()
  }

  test("q191 int8 quantization: k=10 everywhere, hits bounded, near-lossless on this corpus") {
    val rows = Vector.q191Int8QuantRecall(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("k") == 10L)
      assert(r.getAs[Long]("n_hits") <= 10L)
      assert(r.getAs[Long]("recall_ppm") == r.getAs[Long]("n_hits") * 100000L)
    }
    // int8 keeps ~7.6 bits of mantissa — on random embeddings the top-10 by
    // quantized cosine should rarely diverge; a mean recall collapse means
    // the scale/round parity broke, not that the corpus got unlucky
    val mean = rows.map(_.getAs[Long]("n_hits")).sum.toDouble / (10.0 * rows.length)
    assert(mean >= 0.6, s"mean int8 recall $mean collapsed")
    Caches.releaseAll()
  }

  test("q196 LSH recall gate: precision 1 by construction, recall bounded, deciles in-range") {
    val rows = Dedup.q196LshDedupRecall(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Long]("j_decile")
      assert(d >= 5L && d <= 10L, s"decile $d outside the ≥0.5 truth domain")
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
    }
    // every q46 pair IS a truth pair (q46 verifies the same exact Jaccard
    // before keeping) — so caught must total exactly the LSH pair count
    val lshPairs = Dedup.q46MinhashLshPairs(spark, sf()).count()
    assert(rows.map(_.getAs[Long]("n_caught")).sum == lshPairs,
      "an LSH pair fell outside ground truth — precision broke")
    Caches.releaseAll()
  }

  test("q195 BPE context fit: subtoken demand dominates whitespace demand; q177 laws carry") {
    val bpe = Text.q195BpeContextFit(spark, sf()).collect()
      .map(r => r.getAs[Long]("ctx_len") -> r).toMap
    val ws = Mixture.q177ContextFitAudit(spark, sf()).collect()
      .map(r => r.getAs[Long]("ctx_len") -> r).toMap
    assert(bpe.keySet == Set(128L, 512L, 2048L))
    bpe.foreach { case (l, r) =>
      // fertility ≥ 1: every word maps to ≥1 subtoken, so total demand and
      // doc counts dominate the whitespace audit at every L
      assert(r.getAs[Long]("n_docs") == ws(l).getAs[Long]("n_docs"))
      assert(r.getAs[Long]("total_subtokens") >= ws(l).getAs[Long]("total_tokens"))
      assert(r.getAs[Long]("seqs_packed_lb") >= ws(l).getAs[Long]("seqs_packed_lb"))
      // q177's own laws on the re-based frame
      assert(r.getAs[Long]("kept_subtokens") + r.getAs[Long]("trunc_lost_subtokens") ==
        r.getAs[Long]("total_subtokens"))
      assert(r.getAs[Long]("seqs_packed_lb") * l >= r.getAs[Long]("kept_subtokens"))
      assert(r.getAs[Long]("util_packed_ppm") >= r.getAs[Long]("util_unpacked_ppm"))
      assert(r.getAs[Long]("util_packed_ppm") <= 1000000L)
    }
    Caches.releaseAll()
  }

  test("q194 centroid similarity matrix: strict upper triangle, cosine bounded, sizes exhaustive") {
    val rows = Vector.q194CentroidSimMatrix(spark, sf()).collect()
    val labels = Tables.embeddings(spark, sf()).select("label").distinct().count()
    assert(rows.length == labels * (labels - 1) / 2, "one cell per unordered label pair")
    rows.foreach { r =>
      assert(r.getAs[Long]("label_a") < r.getAs[Long]("label_b"))
      // 2^20 fixed point since round 10 (the raw-double emit diverged by
      // 1 ULP across engines once the decimal sums passed 2^53 at sf0.1)
      val c = r.getAs[Long]("cos_centroids_fp")
      assert(c >= -1048577L && c <= 1048577L, s"cosine_fp $c out of range")
    }
    // pair sizes are consistent: every label's n is the same in every cell
    val ns = rows.flatMap(r => Seq(
      r.getAs[Long]("label_a") -> r.getAs[Long]("n_a"),
      r.getAs[Long]("label_b") -> r.getAs[Long]("n_b"))).toMap
    assert(ns.values.sum == Tables.embeddings(spark, sf()).count())
    Caches.releaseAll()
  }

  test("q193 shard assignment: deterministic, exhaustive, and hash-balanced") {
    val rows = Mixture.q193ShardAssign(spark, sf()).collect()
    val nDocs = Tables.documents(spark, sf()).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_pos") >= 0L && r.getAs[Long]("max_pos") < 4294967296L)
      // every position in a shard is ≡ shard (mod 64)
      assert(r.getAs[Long]("min_pos") % 64L == r.getAs[Long]("shard"))
      assert(r.getAs[Long]("max_pos") % 64L == r.getAs[Long]("shard"))
    }
    // deterministic: a second run is bit-identical (no rand() anywhere)
    val again = Mixture.q193ShardAssign(spark, sf()).collect()
    assert(rows.toSeq == again.toSeq)
    Caches.releaseAll()
  }

  test("q202 HLL merge law: merged == direct on every row, sf and planted") {
    import spark.implicits._
    // planted: users deliberately OVERLAP dumps-wise irrelevantly (dump =
    // user_id % 4 partitions them), duplicates across event rows collapse
    val dir = java.nio.file.Files.createTempDirectory("graft-hllm").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    (1L to 40L).flatMap(u => Seq((u, ts, u, "click", 1.0, "{}"), (u + 100L, ts, u, "view", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = Sketches.q202HllMerge(spark, dir).collect()
    assert(planted.length == 2)
    planted.foreach { r =>
      assert(r.getAs[Long]("merge_exact") == 1L)
      assert(r.getAs[Long]("n_dumps") == 4L)
      assert(r.getAs[Long]("merged_estimate") == r.getAs[Long]("direct_estimate"))
    }
    Caches.releaseAll()
    // real data: the law holds for every event type
    val rows = Sketches.q202HllMerge(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("merge_exact") == 1L)
      assert(r.getAs[Long]("n_dumps") <= 4L)
    }
    Caches.releaseAll()
  }

  test("q197 PMI collocations: hand-computed ratio on a planted corpus, support filter holds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pmi").toString
    // "aa bb" ×5 → tokens [aa,bb,aa,bb,aa,bb,aa,bb,aa,bb]: bigrams
    // "aa bb"×5, "bb aa"×4, N=9; c(aa,·)=5, c(·,bb)=5 →
    // ppm = (5·9·10⁶) div (5·5) = 1,800,000; "bb aa" has c=4 < 5 → filtered
    Seq((1L, "aa bb aa bb aa bb aa bb aa bb", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q197PmiCollocations(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("w1") == "aa" && out.head.getAs[String]("w2") == "bb")
    assert(out.head.getAs[Long]("c_pair") == 5L)
    assert(out.head.getAs[Long]("pmi_ratio_ppm") == 1800000L)
    Caches.releaseAll()
    // real corpus: support filter + descending order + positive scores
    val rows = Text.q197PmiCollocations(spark, sf()).collect()
    assert(rows.length <= 50)
    assert(rows.forall(_.getAs[Long]("c_pair") >= 5L))
    assert(rows.forall(_.getAs[Long]("pmi_ratio_ppm") > 0L))
    val ppm = rows.map(_.getAs[Long]("pmi_ratio_ppm")).toSeq
    assert(ppm == ppm.sorted.reverse)
    Caches.releaseAll()
  }

  test("q198 vocab growth: per-decile births on a planted corpus; totals close on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-heaps").toString
    // ids 0..9 span 10 ids → one doc per decile; doc i = "w<i> common":
    // decile 0 births {w0, common} = 2, every later decile births 1
    (0 to 9).map(i => (i.toLong, s"w$i common", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q198VocabGrowth(spark, dir).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val d = r.getAs[Long]("decile")
      assert(r.getAs[Long]("n_docs") == 1L && r.getAs[Long]("n_tokens") == 2L)
      assert(r.getAs[Long]("new_types") == (if (d == 0L) 2L else 1L))
      assert(r.getAs[Long]("cum_vocab") == d + 2L)
      assert(r.getAs[Long]("cum_tokens") == 2L * (d + 1L))
      assert(r.getAs[Long]("new_type_ppm") == (if (d == 0L) 1000000L else 500000L))
    }
    Caches.releaseAll()
    // real corpus: the cumulative curve closes on the corpus totals
    val rows = Text.q198VocabGrowth(spark, sf()).collect().sortBy(_.getAs[Long]("decile"))
    val toks = Tables.documents(spark, sf())
      .select(explode(Text.tokens(col("text"))).as("tok"))
    assert(rows.last.getAs[Long]("cum_tokens") == toks.count())
    assert(rows.last.getAs[Long]("cum_vocab") == toks.distinct().count())
    assert(rows.map(_.getAs[Long]("new_types")).sum == rows.last.getAs[Long]("cum_vocab"))
    assert(rows.forall(r => r.getAs[Long]("decile") >= 0L && r.getAs[Long]("decile") <= 9L))
    Caches.releaseAll()
  }

  test("q199 TV divergence: 0 for identical sources, ½ for disjoint; bounded on sf") {
    import spark.implicits._
    // disjoint unigram supports: TV(p_src, p_corpus) = ½ exactly
    val d1 = java.nio.file.Files.createTempDirectory("graft-tv1").toString
    Seq((1L, "a b", "en", "srcA"), (2L, "c d", "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d1/documents.parquet")
    val disjoint = Text.q199SourceDivergence(spark, d1).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tv_ppm")).toMap
    assert(disjoint == Map("srcA" -> 500000L, "srcB" -> 500000L))
    Caches.releaseAll()
    // identical distributions: TV = 0
    val d2 = java.nio.file.Files.createTempDirectory("graft-tv2").toString
    Seq((1L, "a b", "en", "srcA"), (2L, "a b", "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val same = Text.q199SourceDivergence(spark, d2).collect()
    assert(same.forall(_.getAs[Long]("tv_ppm") == 0L))
    Caches.releaseAll()
    // real corpus: TV ∈ [0, 1] in ppm, one row per source
    val rows = Text.q199SourceDivergence(spark, sf()).collect()
    val nSrc = Tables.documents(spark, sf()).select(col("source")).distinct().count()
    assert(rows.length == nSrc)
    assert(rows.forall(r =>
      r.getAs[Long]("tv_ppm") >= 0L && r.getAs[Long]("tv_ppm") <= 1000000L))
    Caches.releaseAll()
  }

  test("q201 memorization spans: planted verbatim span measured exactly; laws on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-memspan").toString
    // probe doc 0 embeds train doc 1's 8 tokens verbatim: probe 5-gram
    // positions 3..6 match (4 consecutive) → span = 4+4 = 8 tokens;
    // probe doc 8 shares nothing → all-zero row
    Seq(
      (0L, "x1 x2 s1 s2 s3 s4 s5 s6 s7 s8 y1 y2", "en", "s1"),
      (1L, "s1 s2 s3 s4 s5 s6 s7 s8", "en", "s1"),
      (8L, "n1 n2 n3 n4 n5 n6", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q201MemorizationSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_positions"), r.getAs[Long]("matched_positions"),
          r.getAs[Long]("max_memorized_tokens"), r.getAs[Long]("matched_ppm")))).toMap
    assert(out(0L) == ((8L, 4L, 8L, 500000L)))
    assert(out(8L) == ((2L, 0L, 0L, 0L)))
    Caches.releaseAll()
    // real corpus: zero-iff-zero, bounded coverage, exactly the probe slice
    val rows = Text.q201MemorizationSpans(spark, sf()).collect()
    val probes = Tables.documents(spark, sf())
      .filter(col("doc_id") % 8 === 0)
      .filter(size(Text.tokens(col("text"))) >= 5).count()
    assert(rows.length == probes)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 8 == 0L)
      assert((r.getAs[Long]("max_memorized_tokens") == 0L)
        == (r.getAs[Long]("matched_positions") == 0L))
      assert(r.getAs[Long]("matched_ppm") <= 1000000L)
      assert(r.getAs[Long]("matched_positions") <= r.getAs[Long]("n_positions"))
    }
    Caches.releaseAll()
  }

  test("q200 BM25 retrieval: hand-computed score on a planted corpus; window laws on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    // probe = doc 0 (< 20; 21/22 stay corpus-side); doc 21 shares both
    // terms, doc 22 none.
    Seq((0L, "alpha beta", "en", "s1"), (21L, "alpha beta gamma", "en", "s1"),
        (22L, "delta epsilon", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q200Bm25Retrieval(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("probe_id") == 0L && r.getAs[Long]("doc_id") == 21L
      && r.getAs[Long]("rank") == 1L && r.getAs[Long]("n_hit_terms") == 2L)
    // N=3, T=7; alpha in doc1: tf=1, dl=3, df=2 (same for beta) →
    // tfsat = (44·1·7·2²⁰) div (20·7 + 6·7 + 18·3·3);
    // idf = ((3−2+1)·2²⁰) div 3; score = 2·((idf·tfsat) div 2²⁰)
    val tfsat = (BigInt(44) * 7 * 1048576) / (20 * 7 + 6 * 7 + 18 * 3 * 3)
    val idf = (BigInt(2) * 1048576) / 3
    assert(r.getAs[Long]("score_fp") == 2L * ((idf * tfsat) / 1048576).toLong)
    Caches.releaseAll()
    // real corpus: probes are the fixed benchmark set; ranks contiguous
    // from 1, scores non-increasing within a probe, never self-retrieving
    val rows = Text.q200Bm25Retrieval(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { x =>
      assert(x.getAs[Long]("probe_id") < 20L)
      assert(x.getAs[Long]("doc_id") != x.getAs[Long]("probe_id"))
      assert(x.getAs[Long]("rank") >= 1L && x.getAs[Long]("rank") <= 5L)
    }
    rows.groupBy(_.getAs[Long]("probe_id")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length).toSeq)
      val scores = byRank.map(_.getAs[Long]("score_fp")).toSeq
      assert(scores == scores.sorted.reverse)
    }
    Caches.releaseAll()
  }

  test("q204 k-anonymity: planted cells split exactly at k; release laws on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kanon").toString
    def ts(day: String) = java.sql.Timestamp.valueOf(s"$day 12:00:00")
    // A/day1: 6 distinct users over 8 rows (released); A/day2: 2 users
    // (suppressed); B/day1: 3 users (suppressed; B has NO released cell)
    val rows =
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 1L, 2L).map(u => (u, ts("2024-01-01"), u, "A", 1.0, "{}")) ++
        Seq(1L, 2L, 1L).map(u => (u + 10L, ts("2024-01-02"), u, "A", 1.0, "{}")) ++
        Seq(1L, 2L, 3L).map(u => (u + 20L, ts("2024-01-01"), u, "B", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.q204KAnonymity(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_cells"), r.getAs[Long]("n_suppressed_cells"),
          r.getAs[Long]("rows_released"), r.getAs[Long]("rows_suppressed"),
          r.getAs[Long]("min_released_cell_users"), r.getAs[Long]("suppressed_ppm")))).toMap
    assert(out("A") == ((2L, 1L, 8L, 3L, 6L, 3L * 1000000L / 11L)))
    assert(out("B") == ((1L, 1L, 0L, 3L, 0L, 1000000L)))
    Caches.releaseAll()
    // real corpus: the release partitions every row; every released cell
    // actually meets k; ppm bounded
    val sfRows = Events.q204KAnonymity(spark, sf()).collect()
    val byType = Tables.events(spark, sf()).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sfRows.map(_.getAs[String]("event_type")).toSet == byType.keySet)
    sfRows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("rows_released") + r.getAs[Long]("rows_suppressed") == byType(t))
      assert(r.getAs[Long]("n_suppressed_cells") <= r.getAs[Long]("n_cells"))
      val minRel = r.getAs[Long]("min_released_cell_users")
      assert(minRel >= 5L || (minRel == 0L && r.getAs[Long]("rows_released") == 0L))
      val ppm = r.getAs[Long]("suppressed_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
    Caches.releaseAll()
  }

  test("q205 dump novelty: planted first-dump attribution; closure laws on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    // dump = doc_id % 4. Gram g1 = "a b c d e" born in dump 0, repeated in
    // dumps 1 and 3; g2 born in dump 2; g3 ("b c d e f") born in dump 3.
    Seq(
      (0L, "a b c d e", "en", "s1"),
      (1L, "a b c d e", "en", "s1"),
      (2L, "f g h i j", "en", "s1"),
      (3L, "a b c d e f", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q205DumpNovelty(spark, dir).collect()
      .map(r => r.getAs[Long]("dump") ->
        ((r.getAs[Long]("distinct_grams"), r.getAs[Long]("novel_grams"),
          r.getAs[Long]("novelty_ppm"), r.getAs[Long]("cumulative_vocab")))).toMap
    assert(out(0L) == ((1L, 1L, 1000000L, 1L)))
    assert(out(1L) == ((1L, 0L, 0L, 1L)))
    assert(out(2L) == ((1L, 1L, 1000000L, 2L)))
    assert(out(3L) == ((2L, 1L, 500000L, 3L)))
    Caches.releaseAll()
    // real corpus: novel counts close on the corpus-wide distinct-shingle
    // total, and novelty is a bounded share of each dump's vocabulary
    val rows = Text.q205DumpNovelty(spark, sf()).collect().sortBy(_.getAs[Long]("dump"))
    // reference built on the driver, independent of the shingle kernel
    val corpusGrams = Tables.documents(spark, sf()).select(col("text")).collect()
      .flatMap { r =>
        val toks = r.getString(0).toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
        gramsRef(toks)
      }.toSet.size.toLong
    assert(rows.map(_.getAs[Long]("novel_grams")).sum == corpusGrams)
    assert(rows.last.getAs[Long]("cumulative_vocab") == corpusGrams)
    rows.foreach { r =>
      assert(r.getAs[Long]("novel_grams") <= r.getAs[Long]("distinct_grams"))
      assert(r.getAs[Long]("novelty_ppm") <= 1000000L)
    }
    Caches.releaseAll()
  }

  test("q206 CM join size: estimate bounds the exact size below; planted dot products") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cmsjoin").toString
    // key 1: na=3, nb=1; key 2: na=2, nb=0 → exact = 3·1 = 3. Per grid
    // row the dot is 3 (keys land in distinct cells) or 5 (md5 slices of
    // "1" and "2" collide mod 1024 — then ca = 3+2 shares the cell)
    Seq((1L, "N"), (1L, "N"), (1L, "R"), (2L, "N"), (2L, "N"))
      .toDF("l_partkey", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Sketches.q206CmsJoinSize(spark, dir).collect().sortBy(_.getAs[Long]("r"))
    assert(out.map(_.getAs[Long]("r")).toSeq == Seq(0L, 1L, 2L, 3L))
    val dots = out.map(_.getAs[Long]("dot_product"))
    dots.foreach(d => assert(d == 3L || d == 5L, d))
    out.foreach { r =>
      assert(r.getAs[Long]("exact_join_size") == 3L)
      assert(r.getAs[Long]("cms_estimate") == dots.min)
      assert(r.getAs[Long]("overestimate_ppm")
        == (r.getAs[Long]("dot_product") - 3L) * 1000000L / 3L)
    }
    Caches.releaseAll()
    // real corpus: the estimate never undershoots, and the exact side
    // matches a brute-force join count
    val li = Tables.lineitem(spark, sf()).select(col("l_partkey"), col("l_returnflag"))
    val trueSize = li.join(
      li.filter(col("l_returnflag") === "R").select(col("l_partkey")), "l_partkey").count()
    val rows = Sketches.q206CmsJoinSize(spark, sf()).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_join_size") == trueSize)
      assert(r.getAs[Long]("dot_product") >= trueSize)
      assert(r.getAs[Long]("cms_estimate") >= trueSize)
      assert(r.getAs[Long]("cms_estimate") <= r.getAs[Long]("dot_product"))
      assert(r.getAs[Long]("overestimate_ppm") >= 0L)
    }
    Caches.releaseAll()
  }

  test("q230 t-closeness: planted skew caught past k-anon and l-diversity; exact EMD") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tclose").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-05 12:00:00")
    // click: 40 rows (38,1,1 over values 0/1/2) — 10 users? no: distinct
    // users per row so k-anonymity passes; 95% zeros → EMD 222115 ppm > t.
    // view: (12,4,4) and signup: (120,40,40) both match the global mix →
    // EMD 40384 ppm, released. All three pass k=5 and l=3.
    def cell(tpe: String, counts: Seq[Int], base: Long) =
      counts.zipWithIndex.flatMap { case (c, v) =>
        (0 until c).map { i =>
          val id = base + v * 1000 + i
          (id, ts, id, tpe, 1.0, s"""{"k":$v}""")
        }
      }
    val rows = cell("click", Seq(38, 1, 1), 10000L) ++
      cell("view", Seq(12, 4, 4), 20000L) ++
      cell("signup", Seq(120, 40, 40), 30000L)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ops.Events.q230TCloseness(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.keySet == Set("click", "view", "signup"))
    val c = out("click")
    assert(c.getAs[Long]("n_pass_kl") == 1L)
    assert(c.getAs[Long]("n_skewed") == 1L, "95%-zeros cell must fail t-closeness")
    assert(c.getAs[Long]("rows_released") == 0L)
    assert(c.getAs[Long]("rows_blocked_skew") == 40L)
    assert(c.getAs[Long]("skew_blocked_ppm") == 1000000L)
    val v = out("view")
    assert(v.getAs[Long]("n_skewed") == 0L)
    assert(v.getAs[Long]("rows_released") == 20L)
    assert(v.getAs[Long]("max_released_emd_ppm") == 40384L) // hand-computed
    assert(out("signup").getAs[Long]("max_released_emd_ppm") == 40384L)
    Caches.releaseAll()
    // sf corpus: structural invariants
    ops.Events.q230TCloseness(spark, sf()).collect().foreach { r =>
      assert(r.getAs[Long]("n_skewed") <= r.getAs[Long]("n_pass_kl"))
      assert(r.getAs[Long]("max_released_emd_ppm") <= 200000L)
    }
    Caches.releaseAll()
  }

  test("q228 split conformal: rank formula, coverage identity, guarantee band") {
    val r = ops.Text.q228SplitConformal(spark, sf()).collect().head
    val n = r.getAs[Long]("n_calib")
    assert(n > 0)
    assert(r.getAs[Long]("k") ==
      math.min((9 * (n + 1) + 9) / 10, n), "conformal rank formula")
    assert(r.getAs[Long]("coverage_ppm") ==
      r.getAs[Long]("n_covered") * 1000000L / r.getAs[Long]("n_test"))
    // finite-sample guarantee: E[coverage] >= 90%; one draw at this n can
    // undershoot by O(1/sqrt(n)) — 70% is ~5 sigma below at n >= 12
    assert(r.getAs[Long]("coverage_ppm") >= 700000L,
      s"coverage ${r.getAs[Long]("coverage_ppm")} ppm implausibly low")
    assert(r.getAs[Long]("qhat") >= 0L && r.getAs[Long]("qhat") <= 1048576L)
    Caches.releaseAll()
  }

  test("q227 incremental clusters: planted dump merge exact; law holds on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-icc").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "one two three four five six seven eight"
    val c = "red orange yellow green blue indigo violet purple"
    // old docs: {1,2}=A (a cluster), {3,4}=B; new dump: 10=A (joins the A
    // cluster via two delta edges), 20=C (no pair — never clustered)
    Seq((1L, a), (2L, a), (3L, b), (4L, b), (10L, a), (20L, c))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = ops.Dedup.q227IncrementalClusters(spark, dir).collect().head
    assert(r.getAs[Long]("n_old_edges") == 2L)
    assert(r.getAs[Long]("n_delta_edges") == 2L)
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Long]("n_clusters_old") == 2L)
    assert(r.getAs[Long]("n_clusters") == 2L)
    assert(r.getAs[Long]("n_label_changes") == 1L) // doc 10 entered cluster 1
    assert(r.getAs[Long]("incr_matches_full") == 1L)
    Caches.releaseAll()
    // sf corpus: the law must hold, and the audit count must agree with q48
    val sfr = ops.Dedup.q227IncrementalClusters(spark, sf()).collect().head
    assert(sfr.getAs[Long]("incr_matches_full") == 1L)
    Caches.releaseAll()
    val q48Clusters = ops.Dedup.q48DedupClusters(spark, sf())
      .select(col("cluster_rep")).distinct().count()
    assert(sfr.getAs[Long]("n_clusters") == q48Clusters)
    Caches.releaseAll()
  }

  test("q226 embedding drift: planted centroid move exact; one-dump labels excluded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val fp = 1L << 24
    // label 0: old mean (1, 0) → new mean (2, 0): dm = (2^24, 0),
    // drift2 = 2^48; label 1 exists only in the old dump → excluded
    Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (10L, Array(2.0f, 0.0f), 0),
      (3L, Array(5.0f, 5.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = ops.Vector.q226EmbeddingDrift(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("label") == 0L)
    assert(r.getAs[Long]("n_old") == 2L && r.getAs[Long]("n_new") == 1L)
    assert(r.getAs[Long]("drift2") == fp * fp)
    assert(r.getAs[Long]("top_dim") == 1L)
    assert(r.getAs[Long]("top_dm") == fp)
    Caches.releaseAll()
    // sf corpus: drift2 must dominate its own top dimension's square and
    // be bounded by 64 of them
    ops.Vector.q226EmbeddingDrift(spark, sf()).collect().foreach { c =>
      val t = c.getAs[Long]("top_dm")
      assert(c.getAs[Long]("drift2") >= t * t)
      assert(c.getAs[Long]("drift2") <= 64L * t * t)
    }
    Caches.releaseAll()
  }

  test("q225 SQL UDF: analyzer inlines the body; equals the inline formulation") {
    val udf = ops.Relational.q225SqlUdf(spark, sf())
    // inlined: the executed plan is plain aggregation over codegen'd
    // expressions — no residual function-invocation node
    val plan = udf.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(400))
    val out = udf.collect()
    assert(out.nonEmpty)
    val inline = Tables.lineitem(spark, sf())
      .groupBy(col("l_returnflag"),
        when(col("l_quantity") < 10, "small")
          .when(col("l_quantity") < 30, "mid").otherwise("bulk").as("band"))
      .agg(sum(Exact.cents(col("l_extendedprice"))
        * (lit(100L) - Exact.cents(col("l_discount")))).as("revenue_c100"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"), col("band"))
      .collect()
    assert(out.map(_.toSeq).toSeq == inline.map(_.toSeq).toSeq)
    Caches.releaseAll()
  }

  test("q287 NN-descent: planted clusters exactly recovered, descent beats init") {
    import spark.implicits._
    // 3 tight clusters of 5, interleaved ids: the md5-scatter init crosses
    // clusters, and with 15 nodes the (2K)² candidate pool covers every
    // node within a round — the refined graph must BE the exact top-6
    val dir = java.nio.file.Files.createTempDirectory("graft-nnd").toString
    val modes = Seq(
      Array(0f, 0f, 0f, 0f), Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f))
    (0 until 15).map { i =>
      val m = modes(i % 3)
      (i.toLong, m.map(_ + (i / 3) * 0.01f), i % 3)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p = ops.Vector.q287NnDescentGraph(spark, dir).collect()
    assert(p.length == 1) // only vec_id 0 is a probe in a 15-node corpus
    val r0 = p.head
    assert(r0.getAs[Long]("query_id") == 0L)
    assert(r0.getAs[Long]("graph_overlap") == 6L,
      s"3 rounds over 15 nodes must recover the exact 6-NN: $r0")
    assert(r0.getAs[Long]("graph_recall_ppm") == 1000000L)
    assert(r0.getAs[Long]("graph_overlap") >= r0.getAs[Long]("init_overlap"))
    Caches.releaseAll()
    // sf corpus: the descent law — refined graph beats the scatter init in
    // the mean, recalls stay in [0, 1e6], one row per probe
    val c = ops.Vector.q287NnDescentGraph(spark, sf()).collect()
    assert(c.nonEmpty)
    c.foreach { r =>
      Seq("init_recall_ppm", "graph_recall_ppm").foreach { f =>
        val x = r.getAs[Long](f); assert(x >= 0L && x <= 1000000L, s"$f: $r")
      }
    }
    val mInit = c.map(_.getAs[Long]("init_recall_ppm")).sum / c.length
    val mGraph = c.map(_.getAs[Long]("graph_recall_ppm")).sum / c.length
    assert(mGraph >= mInit, s"descent must not lose to scatter init: $mGraph < $mInit")
    assert(mGraph > 0L, "three rounds must find at least some true neighbors")
    Caches.releaseAll()
  }

  test("q290 anisotropy: collapsed corpus hits the algebraic fixed point, isotropic stays low") {
    import spark.implicits._
    // full representation collapse: every vector on e₃ — the Gram matrix
    // has ONE nonzero cell, power iteration lands the fixed point in one
    // round, and the ratios are exact algebra: λ̂ = c₃₃ = trace, so the
    // D=64-normalized ratio reads its collapse ceiling 64·10⁶ exactly
    // (the 64 is the corpus-contract dimensionality, a formula constant)
    val dir = java.nio.file.Files.createTempDirectory("graft-aniso").toString
    (0 until 50).map(i => (i.toLong, Array(0f, 0f, (i % 7 + 1).toFloat, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p = ops.Vector.q290EmbeddingAnisotropy(spark, dir).collect()
    assert(p.length == 1)
    val r = p.head
    assert(r.getAs[Long]("anisotropy_ppm") == 64L * 1000000L,
      s"fully-collapsed corpus must hit the 64·10⁶ ceiling exactly: $r")
    assert(r.getAs[Long]("top_dim") == 3L, s"$r")
    assert(r.getAs[Long]("top_share_ppm") == 1000000L, s"$r")
    Caches.releaseAll()
    // sf corpus: isotropic noise — the healthy band: ratio well below the
    // collapse ceiling, dominant coordinate carries a minority share
    val c = ops.Vector.q290EmbeddingAnisotropy(spark, sf()).collect().head
    val a = c.getAs[Long]("anisotropy_ppm")
    assert(a >= 1000000L && a <= 4000000L,
      s"isotropic corpus must read near 10⁶, far from 64·10⁶: $c")
    assert(c.getAs[Long]("top_share_ppm") <= 500000L,
      s"no single coordinate may dominate an isotropic corpus: $c")
    assert(c.getAs[Long]("top_dim") >= 1L && c.getAs[Long]("top_dim") <= 64L)
    Caches.releaseAll()
  }

  test("q289 JL projection: single-coordinate pairs distort exactly zero, sf laws") {
    import spark.implicits._
    // vectors differing in ONE coordinate j: Δy_b = c(b,j)·Δx_j for every
    // projected coordinate, so ‖RΔ‖² = m·Δx² EXACTLY — ±1 projections are
    // distortion-free on axis-aligned differences, a sharp identity the
    // ppm columns must hit at 0
    val dir = java.nio.file.Files.createTempDirectory("graft-jl").toString
    (0 until 201).map(i => (i.toLong, Array(i.toFloat, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p = ops.Vector.q289JlProjectionAudit(spark, dir).collect()
    assert(p.length == 3) // probes 0, 100, 200
    p.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == 2L, s"$r")
      assert(r.getAs[Long]("mean_distortion_ppm") == 0L, s"axis-aligned pairs must be exact: $r")
      assert(r.getAs[Long]("max_distortion_ppm") == 0L, s"$r")
    }
    Caches.releaseAll()
    // sf corpus: structural laws — a full pair grid per probe, mean ≤ max
    val c = ops.Vector.q289JlProjectionAudit(spark, sf()).collect()
    assert(c.nonEmpty)
    c.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == c.length - 1L, s"$r")
      val m = r.getAs[Long]("mean_distortion_ppm")
      val x = r.getAs[Long]("max_distortion_ppm")
      assert(m >= 0L && m <= x, s"$r")
    }
    Caches.releaseAll()
  }

  test("q288 graph beam search: planted structure fully navigable, sf laws") {
    import spark.implicits._
    // same 3-cluster corpus as q287: the refined graph is the exact 6-NN
    // graph and 15 nodes sit within the beam's candidate horizon, so the
    // walk must land the full true top-6 and the true nearest neighbor
    val dir = java.nio.file.Files.createTempDirectory("graft-beam").toString
    val modes = Seq(
      Array(0f, 0f, 0f, 0f), Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f))
    (0 until 15).map { i =>
      val m = modes(i % 3)
      (i.toLong, m.map(_ + (i / 3) * 0.01f), i % 3)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p = ops.Vector.q288GraphBeamSearch(spark, dir).collect()
    assert(p.length == 1)
    val r0 = p.head
    assert(r0.getAs[Long]("beam_overlap") == 6L, s"planted walk must find the 6-NN: $r0")
    assert(r0.getAs[Long]("beam_recall_ppm") == 1000000L)
    assert(r0.getAs[Long]("found_top1") == 1L, s"planted walk must reach rank 1: $r0")
    Caches.releaseAll()
    // sf corpus (isotropic noise — the navigability worst case, see the
    // scaladoc): structural laws only
    val c = ops.Vector.q288GraphBeamSearch(spark, sf()).collect()
    assert(c.nonEmpty)
    c.foreach { r =>
      val ov = r.getAs[Long]("beam_overlap")
      val t1 = r.getAs[Long]("found_top1")
      assert(ov >= 0L && ov <= 6L, s"$r")
      assert(t1 == 0L || t1 == 1L, s"found_top1 must be 0/1: $r")
      assert(t1 <= ov, s"finding rank 1 implies nonzero overlap: $r")
      val rp = r.getAs[Long]("beam_recall_ppm")
      assert(rp == ov * 1000000L / 6L, s"recall must be overlap/K in floored ppm: $r")
    }
    Caches.releaseAll()
  }

  test("q286 k-center greedy: farthest-point covers planted modes, radius curve laws") {
    import spark.implicits._
    // 4 tight clusters at mutual distance ≫ intra-diameter: farthest-point
    // traversal MUST visit all 4 modes within its first 4 picks
    val dir = java.nio.file.Files.createTempDirectory("graft-kcenter").toString
    val modes = Seq(
      Array(0f, 0f, 0f, 0f), Array(10f, 0f, 0f, 0f),
      Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    (0 until 12).map { i =>
      val m = modes(i % 4)
      val jit = (i / 4) * 0.01f
      (i.toLong, m.map(_ + jit), i % 4)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p = ops.Vector.q286KCenterCoreset(spark, dir).collect()
    assert(p.length == 8)
    assert(p.head.getAs[Long]("center_id") == 0L, "traversal starts at min vec_id")
    val first4 = p.take(4).map(_.getAs[Long]("center_id") % 4).toSet
    assert(first4.size == 4, s"first 4 picks must cover all 4 planted modes: ${p.mkString(";")}")
    Caches.releaseAll()
    // sf corpus: structural laws — radius curve nonincreasing, distinct
    // exemplars in selection order, basins partition the corpus
    val c = ops.Vector.q286KCenterCoreset(spark, sf()).collect()
    assert(c.map(_.getAs[Long]("sel_rank")).toSeq == (1L to 8L))
    assert(c.map(_.getAs[Long]("center_id")).distinct.length == 8)
    c.sliding(2).foreach { w =>
      assert(w(1).getAs[Long]("radius_d2") <= w(0).getAs[Long]("radius_d2"),
        "covering radius must be nonincreasing in k")
    }
    val n = Tables.embeddings(spark, sf()).count()
    assert(c.map(_.getAs[Long]("n_assigned")).sum == n, "basins must partition the corpus")
    Caches.releaseAll()
  }

  test("q285 MG heavy hitters: PODS'12 merge laws, planted dominator and sf") {
    import spark.implicits._
    // planted corpus: "x" dominates (10 of 25 tokens ≫ n/(K+1) = 25/9),
    // so Misra–Gries MUST retain it whatever the merge tree does
    val dir = java.nio.file.Files.createTempDirectory("graft-mg").toString
    Seq(
      (1L, "x x x x x x x x x x", "en", "s1", 19L),
      (2L, "y y y", "en", "s1", 5L),
      (3L, "a b c d e f g h i j k l", "en", "s2", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = ops.Sketches.q285MgHeavyHitters(spark, dir).collect()
    assert(p.nonEmpty && p.length <= 8, "summary must hold at most K counters")
    val px = p.find(_.getAs[String]("tok") == "x")
    assert(px.isDefined, "a > n/(K+1) dominator may never be evicted")
    p.foreach { r =>
      assert(r.getAs[Long]("n_total") == 25L)
      assert(r.getAs[Long]("err") >= 0L, s"MG never overestimates: $r")
      assert(r.getAs[Long]("err") <= r.getAs[Long]("err_bound"),
        s"mergeable-summary error bound violated: $r")
      assert(r.getAs[Long]("mg_cnt") >= 1L)
    }
    Caches.releaseAll()
    // sf corpus: the same invariants at corpus vocabulary scale, plus the
    // guaranteed-retention law against the exact top token
    val c = ops.Sketches.q285MgHeavyHitters(spark, sf()).collect()
    assert(c.nonEmpty && c.length <= 8)
    c.foreach { r =>
      assert(r.getAs[Long]("err") >= 0L, s"$r")
      assert(r.getAs[Long]("err") <= r.getAs[Long]("err_bound"), s"$r")
    }
    val nTotal = c.head.getAs[Long]("n_total")
    val top = Tables.documents(spark, sf())
      .select(explode(ops.Text.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).count()
      .orderBy(col("count").desc, col("tok").asc).limit(1).collect().head
    if (top.getAs[Long]("count") > nTotal / 9L)
      assert(c.exists(_.getAs[String]("tok") == top.getAs[String]("tok")),
        s"true dominator ${top.getAs[String]("tok")} missing from summary")
    Caches.releaseAll()
  }

  test("q221 bloom audit: no false negatives, fp identity, planted and sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    Seq(1L, 2L, 3L, 4L, 5L).map(k => (k * 100L, k))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1L to 10L).map(k => (k, s"c$k")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val r = ops.Sketches.q221BloomFprAudit(spark, dir).collect().head
    assert(r.getAs[Long]("n_probe") == 10L)
    assert(r.getAs[Long]("n_present") == 5L)
    assert(r.getAs[Long]("fn_zero") == 1L, "bloom must never reject a member")
    assert(r.getAs[Long]("n_fp") ==
      r.getAs[Long]("n_admitted") - r.getAs[Long]("n_present"))
    // 5 keys in 2^20 bits: a false positive needs 4 independent 1-in-1e5
    // bit hits — deterministic here, and structurally (essentially) zero
    assert(r.getAs[Long]("n_fp") == 0L)
    Caches.releaseAll()
    // sf corpus: structural laws hold whatever the load factor
    val c = ops.Sketches.q221BloomFprAudit(spark, sf()).collect().head
    assert(c.getAs[Long]("fn_zero") == 1L)
    assert(c.getAs[Long]("n_admitted") >= c.getAs[Long]("n_present"))
    assert(c.getAs[Long]("n_fp") ==
      c.getAs[Long]("n_admitted") - c.getAs[Long]("n_present"))
    val negatives = c.getAs[Long]("n_probe") - c.getAs[Long]("n_present")
    if (negatives > 0)
      assert(c.getAs[Long]("fpr_ppm") ==
        c.getAs[Long]("n_fp") * 1000000L / negatives)
    Caches.releaseAll()
  }

  test("q222 lagged cross-covariance: planted shift peaks at its lag; formula replay on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-xcov").toString
    def ts(d: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:${i % 60}%02d")
    // x (clicks) alternates 5,1,...; y (purchases) is x delayed one day
    val x = Seq(5, 1, 5, 1, 5, 1)
    val y = 0 +: x.dropRight(1)
    var id = 0L
    val rows =
      x.zipWithIndex.flatMap { case (n, d) => (1 to n).map { i =>
        id += 1; (id, ts(d, i), id, "click", 1.0, "{}") } } ++
      y.zipWithIndex.flatMap { case (n, d) => (1 to n).map { i =>
        id += 1; (id, ts(d, i), id, "purchase", 1.0, "{}") } }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def replay(xs: Seq[Long], ys: Seq[Long]): Map[Long, Long] =
      (0 to 7).map { l =>
        val pairs = xs.indices.flatMap(t =>
          if (t + l < ys.length) Some((xs(t), ys(t + l))) else None)
        val n = pairs.length.toLong
        l.toLong -> (n * pairs.map(p => p._1 * p._2).sum
          - pairs.map(_._1).sum * pairs.map(_._2).sum)
      }.toMap
    val exp = replay(x.map(_.toLong), y.map(_.toLong))
    val out = ops.Events.q222LaggedCrosscov(spark, dir).collect()
    // lags 6..7 have no aligned pair on a 6-day series: absent, not zero
    // (the inner join semantics, identical in the oracle)
    assert(out.length == 6)
    out.foreach { r =>
      assert(r.getAs[Long]("cov_num") == exp(r.getAs[Long]("lag")),
        s"lag ${r.getAs[Long]("lag")}")
    }
    val peak = exp.maxBy { case (_, v) => math.abs(v) }
    out.filter(_.getAs[Long]("is_peak") == 1L).foreach { r =>
      assert(math.abs(exp(r.getAs[Long]("lag"))) == math.abs(peak._2))
    }
    Caches.releaseAll()
    // sf corpus: replay the formula from the collected day frame
    val d = Tables.events(spark, sf())
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val byDay = d.map(t => t._1 -> (t._2, t._3)).toMap
    val expSf = (0 to 7).map { l =>
      val pairs = d.flatMap { case (day, xv, _) =>
        byDay.get(day + l).map(p => (xv, p._2)) }
      val n = pairs.length.toLong
      l.toLong -> (n * pairs.map(p => p._1 * p._2).sum
        - pairs.map(_._1).sum * pairs.map(_._2).sum)
    }.toMap
    ops.Events.q222LaggedCrosscov(spark, sf()).collect().foreach { r =>
      assert(r.getAs[Long]("cov_num") == expSf(r.getAs[Long]("lag")))
    }
    Caches.releaseAll()
  }

  test("q223 two-pass quantile: planted ladder exact; equals sorted rank-k on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q2p").toString
    // 100 prices $1..$100: median = rank 50 = $50, p90 = rank 90 = $90;
    // $100 lands in bucket 1, so pass 2 genuinely selects per bucket
    (1 to 100).map(i => (i.toLong, i.toDouble))
      .toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = ops.Analytics.q223TwopassQuantile(spark, dir).collect()
      .map(r => r.getAs[String]("stat") -> r).toMap
    assert(out("median").getAs[Long]("n") == 100L)
    assert(out("median").getAs[Long]("k") == 50L)
    assert(out("median").getAs[Long]("value_cents") == 5000L)
    assert(out("p90").getAs[Long]("k") == 90L)
    assert(out("p90").getAs[Long]("value_cents") == 9000L)
    Caches.releaseAll()
    // sf corpus: must equal the rank-k value off the fully sorted column
    val cents = Tables.lineitem(spark, sf())
      .select(Exact.cents(col("l_extendedprice")).as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length
    val sfOut = ops.Analytics.q223TwopassQuantile(spark, sf()).collect()
      .map(r => r.getAs[String]("stat") -> r).toMap
    assert(sfOut("median").getAs[Long]("value_cents") == cents((n + 1) / 2 - 1))
    assert(sfOut("p90").getAs[Long]("value_cents") == cents((9 * n + 9) / 10 - 1))
    assert(sfOut("median").getAs[Long]("n") == n.toLong)
    Caches.releaseAll()
  }

  test("q220 pipe syntax: stages compose to the DataFrame formulation exactly") {
    val pipe = ops.Relational.q220PipeSyntax(spark, sf()).collect()
    assert(pipe.nonEmpty)
    // independent DataFrame formulation of the same semantics
    val df = Tables.lineitem(spark, sf())
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date"))
      .join(Tables.orders(spark, sf()), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .withColumn("rev_c100", Exact.cents(col("l_extendedprice"))
        * (lit(100L) - Exact.cents(col("l_discount"))))
      .groupBy(col("o_orderpriority"), year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(sum(col("rev_c100")).as("revenue_c100"), count(lit(1)).as("n_items"))
      .filter(col("n_items") >= 5)
      .orderBy(col("o_orderpriority"), col("ship_year"))
      .collect()
    assert(pipe.map(_.toSeq).toSeq == df.map(_.toSeq).toSeq)
    Caches.releaseAll()
  }

  test("q219 CUSUM: closed form equals the max-reset recursion; planted shift alarms") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cusum").toString
    def d(i: Int) = java.sql.Timestamp.valueOf(f"2020-01-${i}%02d 00:00:00")
    // 5 days at 100.00 then 5 at 300.00: k = 20000 cents; upper arm climbs
    // 10000/day after the shift (alarm when > 2k on day 10), lower arm
    // mirrors it during the low regime (alarm on day 5)
    (1 to 10).map(i => (i.toLong, if (i <= 5) 100.0 else 300.0, d(i)))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = ops.Analytics.q219CusumDrift(spark, dir).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(out.length == 10)
    assert(out.map(_.getAs[Long]("cusum_up")).toSeq ==
      Seq(0L, 0L, 0L, 0L, 0L, 10000L, 20000L, 30000L, 40000L, 50000L))
    assert(out.map(_.getAs[Long]("cusum_down")).toSeq ==
      Seq(10000L, 20000L, 30000L, 40000L, 50000L, 40000L, 30000L, 20000L, 10000L, 0L))
    assert(out.map(_.getAs[Long]("alarm_up")).toSeq ==
      Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 1L))
    assert(out.map(_.getAs[Long]("alarm_down")).toSeq ==
      Seq(0L, 0L, 0L, 0L, 1L, 0L, 0L, 0L, 0L, 0L))
    Caches.releaseAll()
    // real corpus: the closed form must equal the literal recursion replayed
    // driver-side over the collected day frame
    val rows = ops.Analytics.q219CusumDrift(spark, sf()).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(rows.nonEmpty)
    val xs = rows.map(_.getAs[Long]("revenue_cents"))
    val k = xs.sum / xs.length // floorDiv on positives
    var (su, sd) = (0L, 0L)
    rows.zipWithIndex.foreach { case (r, i) =>
      su = math.max(0L, su + (xs(i) - k))
      sd = math.max(0L, sd + (k - xs(i)))
      assert(r.getAs[Long]("cusum_up") == su, s"day ${r.getAs[Long]("day")}")
      assert(r.getAs[Long]("cusum_down") == sd, s"day ${r.getAs[Long]("day")}")
    }
    Caches.releaseAll()
  }

  test("q217 SQL-scripting fold: final state equals the recursive-CTE trajectory's last row") {
    val traj = ops.Analytics.q207RecursiveEma(spark, sf()).collect()
    val fin = ops.Analytics.q217SqlScriptFold(spark, sf()).collect()
    assert(fin.length == 1)
    val r = fin.head
    assert(r.getAs[Long]("n_quarters") == traj.length.toLong)
    val last = traj.maxBy(_.getAs[Long]("quarter_index"))
    assert(r.getAs[Long]("last_quarter_index") == last.getAs[Long]("quarter_index"))
    assert(r.getAs[Long]("final_ema_cents") == last.getAs[Long]("ema_cents"))
    Caches.releaseAll()
  }

  test("q216 KMV merge law: planted dumps merge bit-identically; law holds on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // type A: 200 users (each mod-4 dump holds ~50 < k=64, so the merge
    // genuinely reassembles the bottom-64 from partial sketches);
    // type B: 30 users (< k -> both sides fall back to exact size)
    val rows = (1L to 200L).map(u => (u, ts, u, "A", 1.0, "{}")) ++
      (1L to 30L).map(u => (u + 1000L, ts, u * 7L, "B", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ops.Sketches.q216KmvMerge(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.keySet == Set("A", "B"))
    assert(out("A").getAs[Long]("merge_exact") == 1L)
    assert(out("A").getAs[Long]("merged_kth_min")
      == out("A").getAs[Long]("direct_kth_min"))
    assert(out("B").getAs[Long]("merge_exact") == 1L)
    assert(out("B").getAs[Double]("merged_estimate") == 30.0)
    assert(out("B").isNullAt(out("B").fieldIndex("merged_kth_min")))
    Caches.releaseAll()
    // real corpus: the law is exact on every row, with all 4 dumps present
    val sfRows = ops.Sketches.q216KmvMerge(spark, sf()).collect()
    assert(sfRows.nonEmpty)
    sfRows.foreach { r =>
      assert(r.getAs[Long]("merge_exact") == 1L, r.getAs[String]("event_type"))
      assert(r.getAs[Double]("merged_estimate") == r.getAs[Double]("direct_estimate"))
      assert(r.getAs[Long]("n_dumps") <= 4L)
    }
    Caches.releaseAll()
  }

  test("q215 source AUC: planted tie-aware Mann-Whitney exact; bounds on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-auc").toString
    // A = {hi, hi, zero}, B = {zero, zero}: hi beats zero 4 pair-wins,
    // the zero-score docs tie 2 pairs at 1/2 -> U_A = 5 of 6, U_B = 1 of 6
    val hi = "the cat sat on the mat and the dog ran to the park"
    val zero = "!!!"
    Seq((1L, hi, "en", "A", 10L), (2L, hi, "en", "A", 10L), (3L, zero, "en", "A", 3L),
        (4L, zero, "en", "B", 3L), (5L, zero, "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q215SourceAuc(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_rest"),
          r.getAs[Long]("auc_vs_rest_ppm"), r.getAs[Long]("edge_ppm")))).toMap
    assert(out == Map("A" -> ((3L, 2L, 833333L, 333333L)),
                      "B" -> ((2L, 3L, 166666L, -333334L))))
    Caches.releaseAll()
    // real corpus: AUC is a probability (bounded), complements partition
    // the doc count, and a 2-source corpus would mirror around 1/2
    val rows = Text.q215SourceAuc(spark, sf()).collect()
    val nTot = Tables.documents(spark, sf()).count()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") + r.getAs[Long]("n_rest") == nTot)
      val auc = r.getAs[Long]("auc_vs_rest_ppm")
      assert(auc >= 0L && auc <= 1000000L)
      assert(r.getAs[Long]("edge_ppm") == auc - 500000L)
    }
    Caches.releaseAll()
  }

  test("q212 l-diversity: planted homogeneous cell blocked exactly; laws vs q204 on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ldiv").toString
    def ts(day: String) = java.sql.Timestamp.valueOf(s"$day 12:00:00")
    def p(k: Long) = s"""{"k": $k}"""
    // A/day1: 6 users, 3 distinct sensitive values -> released;
    // A/day2: 5 users ALL k=7 -> k-anonymous but homogeneous (blocked);
    // B/day1: 2 users -> fails k-anonymity outright
    val rows =
      Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L), (5L, 3L), (6L, 3L))
        .map { case (u, k) => (u, ts("2024-01-01"), u, "A", 1.0, p(k)) } ++
        (1L to 5L).map(u => (u + 10L, ts("2024-01-02"), u, "A", 1.0, p(7L))) ++
        (1L to 2L).map(u => (u + 20L, ts("2024-01-01"), u, "B", 1.0, p(u)))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.q212LDiversity(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_cells"), r.getAs[Long]("n_k_anonymous"),
          r.getAs[Long]("n_homogeneous"), r.getAs[Long]("rows_released"),
          r.getAs[Long]("rows_blocked_diversity"),
          r.getAs[Long]("min_released_diversity"),
          r.getAs[Long]("diversity_blocked_ppm")))).toMap
    assert(out("A") == ((2L, 2L, 1L, 6L, 5L, 3L, 5L * 1000000L / 11L)))
    assert(out("B") == ((1L, 0L, 0L, 0L, 0L, 0L, 0L)))
    Caches.releaseAll()
    // real corpus: l-diversity sees the same cell grid as q204 and can
    // only release a subset of what k-anonymity alone releases
    val ldiv = Events.q212LDiversity(spark, sf()).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val kanon = Events.q204KAnonymity(spark, sf()).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(ldiv.keySet == kanon.keySet)
    ldiv.foreach { case (t, r) =>
      assert(r.getAs[Long]("n_cells") == kanon(t).getAs[Long]("n_cells"), t)
      assert(r.getAs[Long]("rows_released") <= kanon(t).getAs[Long]("rows_released"), t)
      assert(r.getAs[Long]("n_homogeneous") <= r.getAs[Long]("n_k_anonymous"))
      val minDiv = r.getAs[Long]("min_released_diversity")
      assert(minDiv == 0L || minDiv >= 3L)
    }
    Caches.releaseAll()
  }

  test("q213 data-wall sweep: planted two-source allocation exact; curve laws on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wall").toString
    // source X: 9 tokens (weight 3), source Y: 7+9=16 tokens (weight 4);
    // total=25, W=7. Hand-derived Hamilton allocations per budget quarter.
    Seq((1L, "a b c d e f g h i", "en", "X", 17L),
        (2L, "a b c d e f g", "en", "Y", 13L),
        (3L, "a b c d e f g h i", "en", "Y", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ops.Mixture.q213DataWallSweep(spark, dir).collect()
      .map(r => r.getAs[Long]("budget_quarters") ->
        ((r.getAs[Long]("budget_tokens"), r.getAs[Long]("n_repeated"),
          r.getAs[Long]("n_past_wall"), r.getAs[Long]("max_epochs_ppm"),
          r.getAs[Long]("repeated_tokens"), r.getAs[Long]("repeated_ppm")))).toMap
    assert(out(1L) == ((6L, 0L, 0L, 333333L, 0L, 0L)))
    assert(out(2L) == ((12L, 0L, 0L, 555555L, 0L, 0L)))
    assert(out(4L) == ((25L, 1L, 0L, 1222222L, 2L, 80000L)))
    assert(out(8L) == ((50L, 2L, 0L, 2333333L, 25L, 500000L)))
    assert(out(16L) == ((100L, 2L, 1L, 4777777L, 75L, 750000L)))
    Caches.releaseAll()
    // real corpus: 5 budget rows; repetition pressure is monotone in the
    // budget, and at 4x total SOME source must repeat (pigeonhole:
    // Σalloc = 4·Σavail forces alloc > avail somewhere)
    val sfRows = ops.Mixture.q213DataWallSweep(spark, sf()).collect()
      .sortBy(_.getAs[Long]("budget_quarters"))
    assert(sfRows.length == 5)
    val reps = sfRows.map(_.getAs[Long]("repeated_tokens")).toSeq
    assert(reps == reps.sorted)
    val maxEp = sfRows.map(_.getAs[Long]("max_epochs_ppm")).toSeq
    assert(maxEp == maxEp.sorted)
    assert(sfRows.last.getAs[Long]("n_repeated") >= 1L)
    sfRows.foreach { r =>
      assert(r.getAs[Long]("repeated_ppm") <= 1000000L)
      assert(r.getAs[Long]("n_past_wall") <= r.getAs[Long]("n_repeated"))
    }
    Caches.releaseAll()
  }

  test("q210 erasure propagation: planted subjects deleted exactly; zero residuals on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gdpr").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // user 97 (97 % 97 = 0) files erasure; users 1 and 2 remain
    Seq((1L, ts, 97L, "A", 1.0, "{}"), (2L, ts, 97L, "A", 1.0, "{}"),
        (3L, ts, 1L, "A", 1.0, "{}"), (4L, ts, 2L, "B", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.q210ErasurePropagation(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("rows_before"), r.getAs[Long]("rows_deleted"),
          r.getAs[Long]("rows_after"), r.getAs[Long]("users_erased"),
          r.getAs[Long]("residual_refs")))).toMap
    assert(out == Map("A" -> ((3L, 2L, 1L, 1L, 0L)), "B" -> ((1L, 0L, 1L, 0L, 0L))))
    Caches.releaseAll()
    // real corpus: deletion is exhaustive (zero residual references), the
    // partition is exact, and the deleted mass equals an independent count
    val rows = Events.q210ErasurePropagation(spark, sf()).collect()
    val delByType = Tables.events(spark, sf()).filter(col("user_id") % 97 === 0)
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("residual_refs") == 0L, t)
      assert(r.getAs[Long]("rows_before")
        == r.getAs[Long]("rows_deleted") + r.getAs[Long]("rows_after"))
      assert(r.getAs[Long]("rows_deleted") == delByType.getOrElse(t, 0L))
    }
    Caches.releaseAll()
  }

  test("q211 calibration curve: bands partition the corpus in score order") {
    val rows = Text.q211CalibrationCurve(spark, sf()).collect()
      .sortBy(_.getAs[Long]("bucket"))
    assert(rows.nonEmpty && rows.length <= 8)
    val scoredDocs = Tables.documents(spark, sf())
      .filter(size(Text.tokens(col("text"))) >= 1).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == scoredDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket") >= 0L && r.getAs[Long]("bucket") <= 7L)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("p_lo") <= r.getAs[Long]("p_hi"))
      assert(r.getAs[Long]("obs_pos_ppm") <= 1000000L)
      assert(r.getAs[Long]("mean_pred_ppm") <= 1000000L)
      assert(r.getAs[Long]("gap_ppm")
        == r.getAs[Long]("mean_pred_ppm") - r.getAs[Long]("obs_pos_ppm"))
    }
    // operating bands are disjoint and ordered: the curve is a partition
    // of the score axis, not overlapping bins
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("p_hi") < b.getAs[Long]("p_lo"))
      case _ =>
    }
    Caches.releaseAll()
  }

  test("q209 join-view IVM: all four delta terms carry planted mass; law holds on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm").toString
    // customers: 1 → base (1 % 7 ≠ 0), 7 → delta; orders hit all four
    // (base/delta × base/delta) quadrants incl. base order → delta customer
    Seq((1L, 1L), (7L, 2L)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((1L, 1L, 10.0), (10L, 1L, 20.0), (3L, 7L, 40.0), (20L, 7L, 80.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = Changes.q209JoinViewIvm(spark, dir).collect()
      .map(r => r.getAs[Long]("nationkey") ->
        ((r.getAs[Long]("inc_n_orders"), r.getAs[Long]("inc_sum_cents"),
          r.getAs[Long]("full_n_orders"), r.getAs[Long]("ivm_match")))).toMap
    assert(out == Map(1L -> ((2L, 3000L, 2L, 1L)), 2L -> ((2L, 12000L, 2L, 1L))))
    Caches.releaseAll()
    // real corpus: the law holds on every nation, and the full side equals
    // an independent DataFrame recompute
    val rows = Changes.q209JoinViewIvm(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("ivm_match") == 1L,
      s"nation ${r.getAs[Number]("nationkey")}"))
    val expect = Tables.orders(spark, sf())
      .join(Tables.customer(spark, sf()),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey")).count()
      .collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getAs[Number](1).longValue()).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("full_n_orders")
        == expect.getOrElse(r.getAs[Number]("nationkey").longValue(), 0L))
    }
    Caches.releaseAll()
  }

  test("q207 recursive EMA: hand-computed fold on planted quarters; exact refold on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rema").toString
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // Q1 100.00, Q2 200.00, Q3 60.00 → ema 10000, (30000+20000)/4=12500,
    // (37500+6000)/4=10875 cents
    Seq((1L, 100.0, d("2020-01-05")), (2L, 200.0, d("2020-04-05")),
        (3L, 60.0, d("2020-07-05")))
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = Analytics.q207RecursiveEma(spark, dir).collect()
      .map(r => r.getAs[Long]("quarter_index") ->
        ((r.getAs[Long]("revenue_cents"), r.getAs[Long]("ema_cents")))).toMap
    assert(out == Map(
      (2020L * 4 + 1) -> ((10000L, 10000L)),
      (2020L * 4 + 2) -> ((20000L, 12500L)),
      (2020L * 4 + 3) -> ((6000L, 10875L))))
    Caches.releaseAll()
    // real corpus: the engine's recursion equals a literal left fold over
    // the ordered quarter series (the strongest possible law for a
    // non-associative operator), and every quarter appears exactly once
    val rows = Analytics.q207RecursiveEma(spark, sf()).collect()
      .sortBy(_.getAs[Long]("quarter_index"))
    assert(rows.nonEmpty && rows.map(_.getAs[Long]("quarter_index")).distinct.length == rows.length)
    var ema = rows.head.getAs[Long]("revenue_cents")
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) ema = (ema * 3 + r.getAs[Long]("revenue_cents")) / 4
      assert(r.getAs[Long]("ema_cents") == ema, s"quarter ${r.getAs[Long]("quarter_index")}")
    }
    Caches.releaseAll()
  }

  /** One order per consecutive quarter from 2020-Q1, priced `cents[k]`;
    * returns the data dir holding the planted orders table. */
  private def plantQuarters(cents: Seq[Long]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-quarters").toString
    cents.zipWithIndex.map { case (c, k) =>
      (k + 1L, c / 100.0, java.sql.Timestamp.valueOf(
        f"${2020 + k / 4}-${1 + 3 * (k % 4)}%02d-05 00:00:00"))
    }.toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  /** The sf tier's quarterly revenue series (qi, cents), ordered by qi. */
  private def sfQuarterRevenue(): Array[(Long, Long)] =
    Tables.orders(spark, sf())
      .groupBy(expr("CAST(year(o_orderdate) * 4 + quarter(o_orderdate) AS BIGINT)"))
      .agg(sum(Exact.cents(col("o_totalprice"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)

  test("q236 Holt trend: hand-computed fold on planted quarters; exact refold on sf") {
    // l₁ = x₁, b₁ = x₂ − x₁; then l = (x + 3(l+b)) div 4,
    // b = ((l' − l) + 3b) div 4 — e.g. quarter 4: (1000 + 3·32500) div 4
    // = 24625, ((24625 − 24000) + 3·8500) div 4 = 6531 (truncated)
    val out = Analytics.q236HoltTrend(spark, plantQuarters(Seq(10000L, 20000L, 6000L, 1000L)))
      .collect().map(r => (r.getAs[Long]("quarter_index"), r.getAs[Long]("revenue_cents"),
        r.getAs[Long]("level_cents"), r.getAs[Long]("trend_cents"),
        r.getAs[Long]("forecast_next_cents")))
    val q0 = 2020L * 4 + 1
    assert(out.toSeq == Seq(
      (q0, 10000L, 10000L, 10000L, 20000L),
      (q0 + 1, 20000L, 20000L, 10000L, 30000L),
      (q0 + 2, 6000L, 24000L, 8500L, 32500L),
      (q0 + 3, 1000L, 24625L, 6531L, 31156L)))
    // real corpus: a literal Scala left fold over the independently
    // aggregated series (Long `/` truncates toward zero, like `div`)
    val xs = sfQuarterRevenue()
    val rows = Analytics.q236HoltTrend(spark, sf()).collect()
    assert(xs.length >= 2 && rows.length == xs.length)
    var l = xs(0)._2
    var b = xs(1)._2 - xs(0)._2
    rows.zip(xs).zipWithIndex.foreach { case ((r, (qi, x)), i) =>
      if (i > 0) {
        val ln = (x + 3 * (l + b)) / 4
        b = ((ln - l) + 3 * b) / 4
        l = ln
      }
      assert(r.getAs[Long]("quarter_index") == qi && r.getAs[Long]("revenue_cents") == x)
      assert(r.getAs[Long]("level_cents") == l && r.getAs[Long]("trend_cents") == b &&
        r.getAs[Long]("forecast_next_cents") == l + b, s"quarter $qi")
    }
  }

  test("q252 Holt-Winters: hand-computed fold on 10 planted quarters; exact refold on sf") {
    // l₀ = (x₁+x₂+x₃+x₄) div 4 = 75000 div 4 = 18750,
    // b₀ = (84000 − 75000) div 16 = 562, sᵢ = xᵢ − l₀; 10 quarters rotate the
    // 4-slot seasonal register twice (quarter 9 reads quarter 5's season)
    // and negative seasonals pin truncation toward zero (−33921 div 4 =
    // −8480, not −8481)
    val planted = Seq(10000L, 20000L, 15000L, 30000L, 12000L,
      22000L, 17000L, 33000L, 9000L, 26000L)
    val cols = Seq("quarter_index", "revenue_cents", "level_cents", "trend_cents",
      "seasonal_cents", "forecast_cents", "error_cents")
    val out = Analytics.q252HoltWinters(spark, plantQuarters(planted))
      .collect().map(r => cols.map(r.getAs[Long]))
    val q0 = 2020L * 4 + 1
    assert(out.toSeq == Seq(
      Seq(q0 + 4, 12000L, 19671L, 651L, -8480L, 10562L, 1438L),
      Seq(q0 + 5, 22000L, 20429L, 677L, 1330L, 21572L, 428L),
      Seq(q0 + 6, 17000L, 21017L, 654L, -3816L, 17356L, -356L),
      Seq(q0 + 7, 33000L, 21690L, 658L, 11265L, 32921L, 79L),
      Seq(q0 + 8, 9000L, 21131L, 353L, -9392L, 13868L, -4868L),
      Seq(q0 + 9, 26000L, 22280L, 552L, 1927L, 22814L, 3186L)))
    // real corpus: literal Scala left refold from the same textbook init
    val xs = sfQuarterRevenue()
    val x = xs.map(_._2)
    val rows = Analytics.q252HoltWinters(spark, sf()).collect()
    assert(xs.length >= 9 && rows.length == xs.length - 4)
    var l = x.take(4).sum / 4
    var b = (x.slice(4, 8).sum - x.take(4).sum) / 16
    var season = x.take(4).map(_ - l).toVector
    rows.zip(xs.drop(4)).foreach { case (r, (qi, xi)) =>
      val ln = ((xi - season(0)) + 3 * (l + b)) / 4
      val bn = ((ln - l) + 3 * b) / 4
      val sn = ((xi - ln) + 3 * season(0)) / 4
      val fc = l + b + season(0)
      assert(cols.map(r.getAs[Long]) == Seq(qi, xi, ln, bn, sn, fc, xi - fc), s"quarter $qi")
      l = ln; b = bn; season = season.tail :+ sn
    }
  }

  test("q252 Holt-Winters on 5 quarters: NULL b0 propagates like the recursive CTE") {
    // b₀ needs quarters 5–8; the oracle's missing-row scalar subqueries
    // make it NULL, and NULL arithmetic nulls every derived state column
    // of the one emitted quarter while revenue stays
    val out = Analytics.q252HoltWinters(spark,
      plantQuarters(Seq(10000L, 20000L, 15000L, 30000L, 12000L))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("quarter_index") == 2021L * 4 + 1 && r.getAs[Long]("revenue_cents") == 12000L)
    Seq("level_cents", "trend_cents", "seasonal_cents", "forecast_cents", "error_cents")
      .foreach(c => assert(r.isNullAt(r.fieldIndex(c)), c))
  }

  test("q235 Kaplan-Meier: hand-computed survival fold on planted user spans") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-km").toString
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 12, 0)
    // (user, first day, last day); the corpus ends on day 100, so users last
    // seen on day ≥ 87 are censored: u1 w0 churned, u2 w1 churned, u3 w2
    // churned, u4 w6 censored, u5 w1 censored
    val spans = Seq((1L, 0, 0), (2L, 0, 10), (3L, 0, 20), (4L, 50, 95), (5L, 90, 100))
    spans.flatMap { case (u, a, b) => Seq(u -> a, u -> b) }.zipWithIndex.map {
      case ((u, day), i) => (i.toLong, java.sql.Timestamp.valueOf(t0.plusDays(day)), u,
        "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // at risk n = suffix sum of churned + censored; s = (s·(n − d)) div n
    // from s₀ = 10⁶: 10⁶·4/5, then ·3/4, ·1/2, ·1/1
    val out = Analytics.q235KaplanMeier(spark, dir).collect()
      .map(r => Seq("week", "n_risk", "n_churned", "n_censored", "surv_ppm").map(r.getAs[Long]))
    assert(out.toSeq == Seq(Seq(0L, 5L, 1L, 0L, 800000L), Seq(1L, 4L, 1L, 1L, 600000L),
      Seq(2L, 2L, 1L, 0L, 300000L), Seq(6L, 1L, 0L, 1L, 300000L)))
  }

  test("q208 variant extract: typed get, null-safe miss, schema-drift flag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-variant").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // type A: two DIFFERENT json shapes (schema drift → schema_drift = 1);
    // type B: one shape (drift = 0)
    Seq((1L, ts, 1L, "A", 1.0, """{"k": 3}"""),
        (2L, ts, 2L, "A", 1.0, """{"k": 4, "x": "y"}"""),
        (3L, ts, 3L, "B", 1.0, """{"k": 10}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.q208VariantExtract(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("sum_k"),
          r.getAs[Long]("n_missing_null"), r.getAs[Long]("schema_drift")))).toMap
    assert(out == Map("A" -> ((2L, 7L, 2L, 1L)), "B" -> ((1L, 10L, 1L, 0L))))
    Caches.releaseAll()
    // real corpus: the variant path agrees with the string-extraction path
    // (q22's idiom) and the absent path is null on EVERY row
    val rows = Events.q208VariantExtract(spark, sf()).collect()
    val expected = Tables.events(spark, sf())
      .groupBy(col("event_type"))
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("s"), r.getAs[Long]("n")))).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("sum_k") == expected(t)._1)
      assert(r.getAs[Long]("n_events") == expected(t)._2)
      assert(r.getAs[Long]("n_missing_null") == expected(t)._2)
      assert(Set(0L, 1L).contains(r.getAs[Long]("schema_drift")))
    }
    Caches.releaseAll()
  }

  test("unigram-LM: fixed-point log2 laws (exact powers of two, doubling shift)") {
    import spark.implicits._
    val xs = Seq(1L, 2L, 3L, 7L, 8L, 1000L, 1048576L, 123456789L).toDF("x")
    val lg = Text.withLog2fp(xs, "x", "lg").collect()
      .map(r => r.getAs[Long]("x") -> r.getAs[Long]("lg")).toMap
    // exact on powers of two: log2fp(2^k) = k·65536
    assert(lg(1L) == 0L && lg(2L) == 65536L && lg(8L) == 3 * 65536L
      && lg(1048576L) == 20 * 65536L)
    // doubling law: log2fp(2x) = 65536 + log2fp(x) EXACTLY (the exponent
    // increments, the mantissa chain is identical)
    val dbl = Text.withLog2fp(xs.select((col("x") * 2).as("x")), "x", "lg")
      .collect().map(r => r.getAs[Long]("x") -> r.getAs[Long]("lg")).toMap
    lg.foreach { case (x, v) => assert(dbl(2 * x) == v + 65536L, s"x=$x") }
    // 16-bit fraction sanity: log2(3) = 1.58496…; truncation-based chain
    // must land within 2 ulps of floor(1.58496·65536) = 103872
    assert(math.abs(lg(3L) - 103872L) <= 2, lg(3L).toString)
  }

  test("q231/q232 unigram-LM training invariants on the real corpus") {
    val rows = Text.q231UnigramLmTrain(spark, sf()).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val len = r.getAs[Long]("piece_len")
      assert(len >= 2 && len <= 4)
      assert(r.getAs[String]("piece").length == len)
      // an EM count tallies each Viterbi occurrence at most once per seed
      // occurrence, so em ≤ seed on every piece
      assert(r.getAs[Long]("em2_count") <= r.getAs[Long]("seed_count"), s"row $r")
      assert(r.getAs[Long]("em2_count") >= 1L)
    }
    val fert = Text.q232TokenizerFertility(spark, sf()).collect()
    Caches.releaseAll()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      // every word segments into ≥ 1 piece under BOTH tokenizers, so each
      // fixed-point fertility is ≥ 1.0 (2^20); subtoken sums dominate words
      assert(r.getAs[Long]("uni_subtokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("bpe_subtokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("uni_fertility_fp") >= 1048576L)
      assert(r.getAs[Long]("bpe_fertility_fp") >= 1048576L)
    }
  }

  private def viterbiPieces(edges: Seq[(String, Int, Int, Long)]): Set[(String, Int, Int, String)] = {
    import spark.implicits._
    Text.uniViterbi(edges.toDF("w", "i", "j", "cost")).collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Int]("i"), r.getAs[Int]("j"),
        r.getAs[String]("piece"))).toSet
  }

  test("unigram Viterbi fold: hand-computed segmentations, ties to the longer last piece") {
    val abcd = Seq((0, 1, 2L), (1, 2, 2L), (2, 3, 2L), (3, 4, 2L), (0, 2, 3L), (2, 4, 3L),
      (1, 4, 4L), (0, 3, 6L)).map { case (i, j, c) => ("abcd", i, j, c) }
    val got = viterbiPieces(abcd ++ Seq(
      ("xy", 0, 1, 1L), ("xy", 1, 2, 1L), ("xy", 0, 2, 3L),
      ("zz", 0, 1, 1L), ("zz", 1, 2, 1L), ("zz", 0, 2, 2L),
      ("pq", 1, 2, 1L), ("pq", 0, 2, 5L)))
    assert(got == Set(
      // best into 2 is ab (3 < a|b = 4), into 3 is ab|c (5 < abc = 6); into
      // 4, ab|cd and a|bcd tie at 6, and predecessor 1 < 2 wins
      ("abcd", 0, 1, "a"), ("abcd", 1, 4, "bcd"),
      ("xy", 0, 1, "x"), ("xy", 1, 2, "y"),
      // zz and z|z tie at 2: predecessor 0 wins
      ("zz", 0, 2, "zz"),
      // no edge reaches 1, so q (cost 1) is unreachable and pq (5) is taken
      ("pq", 0, 2, "pq")))
  }

  test("unigram Viterbi fold equals a driver-side Long Viterbi on seeded tie-heavy words") {
    val rnd = new scala.util.Random(231)
    val words = Seq.fill(400)(Seq.fill(1 + rnd.nextInt(12))("abc"(rnd.nextInt(3))).mkString).distinct
    val spans = words.flatMap(w => for (i <- w.indices; l <- 1 to 4 if i + l <= w.length)
      yield (w, i, i + l))
    // costs 0..3 per piece: equal path totals are common
    val cost = spans.map { case (w, i, j) => w.substring(i, j) }.distinct
      .map(_ -> rnd.nextInt(4).toLong).toMap
    val edges = spans.map { case (w, i, j) => (w, i, j, cost(w.substring(i, j))) }
    // per position: least total, then least predecessor
    val expected = words.flatMap { w =>
      val best = Array.fill[Option[(Long, Int)]](w.length + 1)(None)
      best(0) = Some((0L, 0))
      for (j <- 1 to w.length; i <- math.max(0, j - 4) until j; (t, _) <- best(i)) {
        val cand = (t + cost(w.substring(i, j)), i)
        if (best(j).forall(b => cand._1 < b._1 || (cand._1 == b._1 && cand._2 < b._2)))
          best(j) = Some(cand)
      }
      Iterator.iterate(w.length)(j => best(j).get._2).takeWhile(_ > 0)
        .map { j => val i = best(j).get._2; (w, i, j, w.substring(i, j)) }.toSeq
    }.toSet
    val got = viterbiPieces(edges)
    assert(got == expected, s"kernel-only ${(got -- expected).take(5)}, reference-only ${(expected -- got).take(5)}")
  }

  test("q272 degenerate all-zero Neyman weights: fallback keeps both allocations summing to B") {
    // ADVICE r10: one doc per source → every N·Σx²−(Σx)² = 0 → every Neyman
    // weight 0; without the proportional fallback the Hamilton pass hands
    // +1 to EVERY source and Σalloc = |sources| ≠ B.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-neyman0").toString
    (1 to 7).map(i => (i.toLong, s"text $i", "en", s"src$i", 10L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ops.Mixture.q272NeymanAllocation(spark, dir).collect()
    Caches.releaseAll()
    assert(out.length == 7)
    assert(out.forall(_.getAs[Long]("neyman_weight") == 0L))
    assert(out.map(_.getAs[Long]("alloc_neyman")).sum == 1000L)
    assert(out.map(_.getAs[Long]("alloc_proportional")).sum == 1000L)
  }

  test("q276 Moore–Lewis selection: ranks consecutive and ordered; score identity within rounding") {
    val rows = ops.Text.q276ExcessLossSelect(spark, sf()).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      // ranks are 1..n with n ≤ 3
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length).toSeq, src)
      // the displayed score is non-increasing in rank (the rank key is the
      // score minus a per-source constant, so order transfers exactly)
      val ex = sorted.map(_.getAs[Long]("excess_fp"))
      assert(ex.zip(ex.tail).forall { case (a, b) => a >= b }, s"$src: $ex")
    }
    rows.foreach { r =>
      // excess = (slg_cs − slg_cg) div n + (lgNg − lgNs) and gen/dom costs
      // are separately-floored divs of the same sums: the three roundings
      // can disagree by at most 2 fixed-point ulps
      val d = r.getAs[Long]("excess_fp") -
        (r.getAs[Long]("gen_cost_fp") - r.getAs[Long]("dom_cost_fp"))
      assert(math.abs(d) <= 2L, s"score identity broke: $r")
      assert(r.getAs[Long]("n_tokens") >= 1L)
      // in-domain model can never find a doc MORE expensive than having
      // count ≥ 1 on every token allows vs the global model at these sizes:
      // dom cost is bounded by gen cost plus the corpus/source size gap
      assert(r.getAs[Long]("dom_cost_fp") >= 0L)
      assert(r.getAs[Long]("gen_cost_fp") >= r.getAs[Long]("dom_cost_fp") - 2L ||
        r.getAs[Long]("excess_fp") <= 2L)
    }
  }

  test("q278 quantile normalization: doc conservation, pooled-range bounds, spread shrinks") {
    val rows = ops.Text.q278QuantileNormalize(spark, sf()).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty)
    val stats = Tables.documents(spark, sf())
      .agg(count(lit(1)).as("n"), min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx")).head()
    // every document lands in exactly one (source, score) group → one row
    assert(rows.map(_.getAs[Long]("n_docs")).sum == stats.getAs[Long]("n"))
    rows.foreach { r =>
      // normalized scores are pooled order statistics, so per-source means
      // live inside the pooled score range
      val m = r.getAs[Long]("mean_norm_fp")
      assert(m >= stats.getAs[Long]("mn") * 1000000L &&
        m <= stats.getAs[Long]("mx") * 1000000L, s"mean out of pooled range: $r")
      assert(r.getAs[Long]("sum_norm") >= 0L && r.getAs[Long]("n_docs") >= 1L)
    }
    // calibration smoke, CORPUS-DEPENDENT (ADVICE r12): strict
    // spread-contraction is a property of this generator's corpus, not an
    // invariant of quantile normalization (sources with near-equal raw
    // means but different rank structures can widen after mapping), so the
    // check carries a tolerance tied to the pooled distribution — spread
    // may not GROW by more than a tenth of the pooled score range.
    val rawMeans = rows.map(_.getAs[Long]("mean_raw_fp"))
    val normMeans = rows.map(_.getAs[Long]("mean_norm_fp"))
    val pooledRangeFp =
      (stats.getAs[Long]("mx") - stats.getAs[Long]("mn")) * 1000000L
    assert(normMeans.max - normMeans.min <=
        rawMeans.max - rawMeans.min + pooledRangeFp / 10L,
      s"normalization widened the cross-source spread beyond tolerance: " +
        s"raw=${rawMeans.max - rawMeans.min} norm=${normMeans.max - normMeans.min}")
  }

  test("logBucketScore: continuous scores enter q278 through a bounded monotone grid") {
    // a ~|corpus|-cardinality positive score (distinct per document —
    // the float-perplexity shape q278's precondition warns about)
    val d = Tables.documents(spark, sf())
      .select(expr("n_chars * 1000003 + pmod(doc_id, 997) + 1").as("score"))
    val q = d.select(col("score"), ops.Text.logBucketScore("score").as("qs"))
    val pairs = q.distinct().collect()
      .map(r => (r.getAs[Long]("score"), r.getAs[Long]("qs"))).sortBy(_._1)
    val nRaw = pairs.map(_._1).distinct.length
    val nQ = pairs.map(_._2).distinct.length
    // the pooled frame stays GRID-bounded: ≤ 8 cells per octave of the
    // score range, never corpus-scale (here raw cardinality ≈ |docs|)
    assert(nRaw > 50, s"fixture too small to exercise cardinality: $nRaw")
    assert(nQ <= 8 * 63, s"grid exceeded the global bound: $nQ")
    assert(nQ * 5 < nRaw, s"grid did not compress: $nQ vs $nRaw")
    pairs.foreach { case (x, b) =>
      // lower-bound representative with the 12.5% relative-error law:
      // b ≤ x and x − b < x/8 (exact integers)
      assert(b <= x && 8L * (x - b) < x, s"error law broke at ($x, $b)")
    }
    // monotone non-decreasing in the raw score
    pairs.map(_._2).sliding(2).foreach {
      case Array(a, b) => assert(a <= b, "grid not monotone")
      case _ => ()
    }
    // full-BIGINT domain (ADVICE r13: the x*8 form overflowed past 2^60;
    // the divide-before-multiply leg must hold the same laws to Long.Max)
    import spark.implicits._
    val extremes = Seq(1L, 7L, 8L, 9L, (1L << 60) - 1, 1L << 60,
      (1L << 62) + 12345L, Long.MaxValue - 1, Long.MaxValue)
    val ext = extremes.toDF("score")
      .select(col("score"), ops.Text.logBucketScore("score").as("qs"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    ext.foreach { case (x, b) =>
      // integer-exact form of 8(x−b) < x that cannot itself overflow
      assert(b <= x && (x - b) <= (x - 1) / 8L,
        s"error law broke at extreme ($x, $b)")
    }
    assert(ext.sortBy(_._1).map(_._2).sliding(2).forall {
      case Array(a, b) => a <= b; case _ => true
    }, "grid not monotone at extremes")
  }

  test("q283: grid-bounded frames, calibration collapse, bucket error law on the driver surface") {
    val rows = ops.Text.q283LogBucketNormalize(spark, sf()).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty)
    val nGrid = rows.map(_.getAs[Long]("n_grid")).distinct
    assert(nGrid.length == 1, "n_grid must be the one global pooled size")
    // the precondition made a measurement: the pooled frame is grid-sized
    // (≤ 8 buckets/octave over ≤ 63 octaves), NOT corpus-sized, even though
    // the raw synthetic score is distinct per document
    assert(nGrid.head <= 8L * 63, s"pooled frame exceeded the grid: $nGrid")
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs > 5L * nGrid.head,
      s"fixture too small to separate corpus from grid: $nDocs vs $nGrid")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_src_buckets") <= nGrid.head,
        s"per-source buckets exceeded the global grid: $r")
      // bucketing moves a value ≤ 12.5% down, so the bucketed mean sits in
      // (7/8 · raw_mean, raw_mean]; with raw = n_chars·1000003 + O(997) the
      // bucket mean must stay positive and below ~raw scale
      assert(r.getAs[Long]("mean_bucket_fp") > 0L, s"degenerate mean: $r")
    }
    // q278's calibration law survives the grid: normalized means collapse
    // toward the pooled mean — cross-source spread does not widen
    val mB = rows.map(_.getAs[Long]("mean_bucket_fp"))
    val mN = rows.map(_.getAs[Long]("mean_norm_fp"))
    assert(mN.max - mN.min <= (mB.max - mB.min) + (mB.max - mB.min) / 10L,
      s"normalization widened the spread: bucket=${mB.max - mB.min} " +
        s"norm=${mN.max - mN.min}")
  }

  test("q279 LSH planner: S-curve monotone in b and r, ppm bounds, q46 plan flagged once") {
    val rows = ops.Dedup.q279LshBandPlanner(spark, sf()).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty)
    val byPlan = rows.map(r => (r.getAs[Long]("b"), r.getAs[Long]("r")) -> r).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sigs") == r.getAs[Long]("b") * r.getAs[Long]("r"))
      Seq("miss_hi_ppm", "fire_lo_ppm", "loss_ppm").foreach { c =>
        val v = r.getAs[Long](c)
        assert(v >= 0L && v <= 1000000L, s"$c out of ppm range: $r")
      }
    }
    // exactly one plan is q46's 4 bands × 2 rows
    assert(rows.count(_.getAs[Long]("is_q46_plan") == 1L) == 1)
    assert(byPlan((4L, 2L)).getAs[Long]("is_q46_plan") == 1L)
    // VERDICT r12 item 2 — q46's parameters tied to the planner's output.
    // The analytic columns are corpus-independent, so these pins hold at
    // every sf. Within q46's own signature budget (n_sigs ≤ 8), (4,2) is
    // the UNIQUE plan passing both analytic design gates (miss@0.75 ≤ 5%,
    // fire@0.25 ≤ 25%); every within-budget plan with lower miss is r=1
    // with fire ≥ 50% (the candidate-explosion regime a 100 TB dedup
    // cannot afford); and any plan that analytically dominates (4,2) on
    // both gates costs ≥ 21 signatures (≥ 2.6× the budget). The
    // data-weighted loss argmin is NOT binding on this corpus — the fixed
    // 40-doc probe carries no should-detect mass, so zero-loss plans with
    // 76–90% miss "win" the data term (README "LSH band plan" row).
    val q46row = byPlan((4L, 2L))
    val within = rows.filter(_.getAs[Long]("n_sigs") <= 8L)
    val gatePass = within.filter(r => r.getAs[Long]("miss_hi_ppm") <= 50000L &&
      r.getAs[Long]("fire_lo_ppm") <= 250000L)
    assert(gatePass.map(r => (r.getAs[Long]("b"), r.getAs[Long]("r"))).toSeq
      == Seq((4L, 2L)), "the budgeted gate-passing plan is no longer unique")
    within.filter(_.getAs[Long]("miss_hi_ppm") < q46row.getAs[Long]("miss_hi_ppm"))
      .foreach { r =>
        assert(r.getAs[Long]("r") == 1L &&
          r.getAs[Long]("fire_lo_ppm") > 500000L,
          s"a budgeted lower-miss plan without the r=1 fire blow-up: $r")
      }
    rows.filter(r =>
        r.getAs[Long]("miss_hi_ppm") <= q46row.getAs[Long]("miss_hi_ppm") &&
        r.getAs[Long]("fire_lo_ppm") <= q46row.getAs[Long]("fire_lo_ppm") &&
        r.getAs[Long]("is_q46_plan") == 0L)
      .foreach(r => assert(r.getAs[Long]("n_sigs") >= 21L,
        s"a cheap analytic dominator of (4,2) appeared: $r"))
    // S-curve laws under floored fixed point (non-strict): more bands can
    // only raise detection (miss falls, fire rises); more rows per band can
    // only lower it (miss rises, fire falls)
    byPlan.foreach { case ((b, r), row) =>
      byPlan.get((b + 1, r)).foreach { nb =>
        assert(nb.getAs[Long]("miss_hi_ppm") <= row.getAs[Long]("miss_hi_ppm"), s"b-mono miss ($b,$r)")
        assert(nb.getAs[Long]("fire_lo_ppm") >= row.getAs[Long]("fire_lo_ppm"), s"b-mono fire ($b,$r)")
      }
      byPlan.get((b, r + 1)).foreach { nr =>
        assert(nr.getAs[Long]("miss_hi_ppm") >= row.getAs[Long]("miss_hi_ppm"), s"r-mono miss ($b,$r)")
        assert(nr.getAs[Long]("fire_lo_ppm") <= row.getAs[Long]("fire_lo_ppm"), s"r-mono fire ($b,$r)")
      }
    }
  }

  test("q102 IVF-PQ top-k: exact driver-side recomputation on sf") {
    val got = ops.Vector.q102IvfPqTopk(spark, sf()).collect().toSeq.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rk"), r.getAs[Long]("vec_id"), r.getAs[Long]("approx_d2")))
    Caches.releaseAll()
    // quantize like Spark's round: HALF_UP on the double's decimal form, 2²⁴ scale
    val xv: Map[Long, Array[Long]] = Tables.embeddings(spark, sf()).collect().map { r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Any](r.fieldIndex("embedding")).map(x =>
        BigDecimal(x.asInstanceOf[Number].doubleValue * (1L << 24))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact).toArray
    }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def minus(a: Array[Long], b: Array[Long]): Array[Long] = a.zip(b).map { case (x, y) => x - y }
    def block(v: Array[Long], b: Int): Array[Long] = v.slice(b * 8, b * 8 + 8)
    // 8 seed cells (vec_id < 8), ranked per vector by (d2, cid)
    val cells = xv.toSeq.filter(_._1 < 8)
    def cellRank(v: Array[Long]): Seq[Long] = cells.map { case (c, cq) => (l2(v, cq), c) }.sorted.map(_._2)
    val cell = xv.map { case (id, v) => id -> cellRank(v).head }
    val rq = xv.map { case (id, v) => id -> minus(v, xv(cell(id))) }
    // untrained PQ codebook: the residual blocks of vec_id < 16; codes by (d2, pcid)
    val book = for (b <- 0 until 8; p <- xv.keys.filter(_ < 16)) yield (b, p, block(rq(p), b))
    val code = rq.map { case (id, r) => id -> (0 until 8).map(b =>
      book.filter(_._1 == b).map(e => (l2(block(r, b), e._3), e._2)).min._2) }
    val want = xv.keys.filter(_ % 100 == 0).toSeq.sorted.flatMap { q =>
      val scored = cellRank(xv(q)).take(2).flatMap { c => // nprobe = 2
        val qrq = minus(xv(q), xv(c))
        val lut = book.map(e => (e._1, e._2) -> l2(block(qrq, e._1), e._3)).toMap
        cell.collect { case (id, `c`) if id != q =>
          ((0 until 8).map(b => lut((b, code(id)(b)))).sum, id) }
      }
      scored.sorted.take(10).zipWithIndex.map { case ((d2, id), i) => (q, i + 1L, id, d2) }
    }
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("q281 trained PQ: Lloyd descent within truncation slack, exact ppm identity") {
    val rows = ops.Vector.q281TrainedPqDistortion(spark, sf()).collect()
    Caches.releaseAll()
    // one row per subspace block (8 blocks × 8 dims over the 64-dim corpus)
    assert(rows.length == 8, s"expected 8 PQ blocks, got ${rows.length}")
    val ns = rows.map(_.getAs[Long]("n_vecs")).distinct
    assert(ns.length == 1, s"blocks disagree on corpus size: ${ns.toSeq}")
    rows.foreach { r =>
      val (n, seed, trained) = (r.getAs[Long]("n_vecs"),
        r.getAs[Long]("sse_seed"), r.getAs[Long]("sse_trained"))
      assert(seed >= 0L && trained >= 0L)
      // Lloyd monotone descent from the seed codebook, up to the integer-
      // truncation slack: each of the KmIters=2 update steps can lift SSE
      // by < n·PqDims (truncated mean off the exact mean by < 1/coord)
      assert(trained <= seed + 2L * n * 8L, s"descent law broke: $r")
      // ppm column is exactly the floored identity (BigInt — sse·10⁶ can
      // pass 2⁶³, which is why the query rides DECIMAL(38,0))
      if (seed > 0L) {
        val want = (BigInt(seed - trained) * 1000000 / BigInt(seed)).toLong
        assert(r.getAs[Long]("improvement_ppm") == want, s"ppm identity: $r")
      }
    }
  }

  test("q282 trained IVF-PQ: recall identity, overlap bounds, candidate-set sanity") {
    val rows = ops.Vector.q282TrainedIvfPqRecall(spark, sf()).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nc, bfk, ov, rec) = (r.getAs[Long]("n_cand"), r.getAs[Long]("bf_k"),
        r.getAs[Long]("topk_overlap"), r.getAs[Long]("recall_ppm"))
      assert(bfk >= 1L && bfk <= 10L, s"brute k out of range: $r")
      assert(ov >= 0L && ov <= bfk, s"overlap exceeds brute k: $r")
      // the index can only return candidates it probed
      assert(ov <= nc, s"overlap exceeds candidate set: $r")
      // nprobe=2 of 8 cells: candidates are a strict subset of the corpus
      assert(nc >= 0L, s"negative candidate set: $r")
      assert(rec == ov * 1000000L / bfk, s"recall identity broke: $r")
    }
  }

  test("q280 robust means: trim count identity, boundary ordering, means inside boundaries") {
    val rows = ops.Text.q280RobustMeans(spark, sf()).collect()
    Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      // tie-exact trimming: kept docs ≡ n − 2⌊n/10⌋ by construction
      assert(r.getAs[Long]("n_kept") == n - 2 * (n / 10), s"trim identity: $r")
      val (p10, p90) = (r.getAs[Long]("p10_score"), r.getAs[Long]("p90_score"))
      assert(p10 <= p90, s"boundaries inverted: $r")
      // every kept (and winsorized) value lies in [p10, p90], so both
      // floored means do too (±1 fixed-point ulp from the div)
      Seq("mean_trim_fp", "mean_winsor_fp").foreach { c =>
        val m = r.getAs[Long](c)
        assert(m >= p10 * 1000000L - 1 && m <= p90 * 1000000L + 1, s"$c outside boundaries: $r")
      }
    }
  }

  test("q274 IVF eval: brute columns reproduce q268 exactly; gate and metric bounds hold") {
    val ivf = ops.Vector.q274IvfRetrievalEval(spark, sf()).collect()
    Caches.releaseAll()
    val ref = ops.Vector.q268RetrievalMrrRecall(spark, sf()).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("hits"), r.getAs[Long]("rr_ppm"), r.getAs[Long]("recall_ppm"))).toMap
    Caches.releaseAll()
    assert(ivf.nonEmpty && ivf.length == ref.size)
    ivf.foreach { r =>
      // shared-pass law: the brute-force reference columns ARE q268's metrics
      val (hits, rr, rec) = ref(r.getAs[Long]("query_id"))
      assert(r.getAs[Long]("bf_hits") == hits && r.getAs[Long]("bf_rr_ppm") == rr &&
        r.getAs[Long]("bf_recall_ppm") == rec, s"brute/q268 divergence: $r")
      // gate bounds: overlap within both top-10 lists; ppm metrics in range
      val ov = r.getAs[Long]("topk_overlap")
      assert(ov >= 0L && ov <= 10L)
      assert(r.getAs[Long]("index_recall_ppm") >= 0L &&
        r.getAs[Long]("index_recall_ppm") <= 1000000L)
      assert(r.getAs[Long]("ivf_hits") >= 0L && r.getAs[Long]("ivf_hits") <= 10L)
      // an IVF hit list is a subset of a 10-list: recall can't exceed brute's
      // 10-bounded ceiling semantics, and rr_ppm is a reciprocal-rank ppm
      assert(r.getAs[Long]("ivf_rr_ppm") <= 1000000L)
    }
  }

  /** sf0.001's embeddings with exact ties planted: vector 1 becomes a copy
    * of vector 0, so the first two Lloyd seeds are equidistant from every
    * point, and every vector with vec_id ≡ 0 (mod 3) gets a copy scaled by
    * 2 under vec_id + 1000 with the next label, so a hit and its copy tie
    * exactly on cosine (scaling by 2 is exact) but differ in relevance and
    * norm (the fixture vectors all have norm 1). */
  private lazy val tiedEmbeddings: String = {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sf()).select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    val e0 = rows.find(_._1 == 0L).get._2
    val dir = java.nio.file.Files.createTempDirectory("graft-ties").toString
    (rows.map { case (id, e, l) => (id, if (id == 1L) e0 else e, l) } ++
      rows.filter(_._1 % 3 == 0).map { case (id, e, l) => (id + 1000L, e.map(_ * 2), l + 1) })
      .toSeq.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q268 hits and first relevant rank equal a driver-side brute cosine top-10") {
    // An independent reference for the shared brute-force kernel (the
    // shared-pass tests above compare it with itself): the same
    // left-to-right double dot as graft_dot, cosine dot / (|q|·|v|), the
    // query excluded, ties to the smaller vec_id.
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    Seq(sf(), tiedEmbeddings).foreach { dir =>
      val emb = Tables.embeddings(spark, dir).select("vec_id", "label", "embedding").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Float](2).map(_.toDouble).toArray))
      val nrm = emb.map { case (id, _, v) => id -> math.sqrt(dot(v, v)) }.toMap
      val expected = emb.filter(_._1 % 100 == 0).sortBy(_._1).take(ops.Vector.EvalProbeK)
        .map { case (qid, ql, qv) =>
          val rel = emb.filter(_._1 != qid)
            .map { case (id, l, v) => (dot(qv, v) / (nrm(qid) * nrm(id)), id, l == ql) }
            .sortBy { case (c, id, _) => (-c, id) }.take(10).map(_._3)
          qid -> (rel.count(identity).toLong, (rel.indexOf(true) + 1).toLong)
        }.toMap
      val got = ops.Vector.q268RetrievalMrrRecall(spark, dir).collect()
        .map(r => r.getAs[Long]("query_id") -> (r.getAs[Long]("hits"), r.getAs[Long]("first_rel_rank"))).toMap
      Caches.releaseAll()
      assert(expected.nonEmpty && got == expected, dir)
    }
  }

  test("q110 n_vecs and sse equal a driver-side exact Long Lloyd recurrence") {
    // An independent reference for the shared exploded Lloyd kernel:
    // HALF_UP quantization at KmFP, KmK seeds = the vec_ids below KmK,
    // KmIters rounds of nearest-cell assignment (ties to the smaller cid)
    // and truncating integer means.
    import ops.Vector.{KmFP, KmIters, KmK}
    Seq(sf(), tiedEmbeddings).foreach { dir =>
      val pts = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
          BigDecimal(x.toDouble * KmFP).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact).toArray)
      def d2(a: Array[Long], b: Array[Long]): Long = a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
      // each point with its nearest (d2, cid)
      def assign(cent: Seq[(Long, Array[Long])]): Seq[(Array[Long], (Long, Long))] =
        pts.toSeq.map { case (_, x) => x -> cent.map { case (c, cq) => (d2(x, cq), c) }.min }
      val trained = (1 to KmIters).foldLeft(pts.toSeq.filter(_._1 < KmK)) { (cent, _) =>
        assign(cent).groupBy(_._2._2).toSeq.map { case (c, ms) =>
          c -> ms.head._1.indices.map(j => ms.map(_._1(j)).sum / ms.size).toArray
        }
      }
      val expected = assign(trained).groupBy(_._2._2).toSeq
        .map { case (c, ms) => (c, ms.size.toLong, ms.map(_._2._1).sum) }.sorted
      val got = ops.Vector.q110KmeansFixedPoint(spark, dir).collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_vecs"), r.getAs[Long]("sse"))).toSeq
      Caches.releaseAll()
      assert(expected.nonEmpty && got == expected, dir)
    }
  }

  test("q275 MAP: AP bounds and consistency with q268 hits") {
    val map = ops.Vector.q275MapAtK(spark, sf()).collect()
    Caches.releaseAll()
    val ref = ops.Vector.q268RetrievalMrrRecall(spark, sf()).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("hits")).toMap
    Caches.releaseAll()
    assert(map.nonEmpty && map.length == ref.size)
    map.foreach { r =>
      val hits = r.getAs[Long]("hits")
      // same scored pass, same hit count as q268
      assert(hits == ref(r.getAs[Long]("query_id")), s"hits/q268 divergence: $r")
      val sp = r.getAs[Long]("sum_prec_ppm")
      val ap = r.getAs[Long]("ap_ppm")
      // each precision@r term is ≤ 1e6 and > 0, so 0 ≤ sum ≤ hits·1e6;
      // AP normalizes by min(n_rel, 10) ≥ hits, so AP ≤ 1e6
      assert(sp >= 0L && sp <= hits * 1000000L)
      assert(ap >= 0L && ap <= 1000000L)
      if (hits == 0L) assert(sp == 0L && ap == 0L)
      // a query whose rank-1 result is relevant has precision@1 = 1, so
      // sum_prec ≥ 1e6 exactly when MRR's first_rel_rank == 1; weaker
      // direction checked via monotonicity: sum_prec ≥ hits ppm-floor terms
      assert(sp >= hits * 100000L) // worst case: all hits at rank 10
    }
  }

  test("q277 trained-IVF eval: brute NDCG/AP reproduce q265/q275 exactly; gate bounds hold") {
    val t = ops.Vector.q277TrainedIvfEval(spark, sf()).collect()
    Caches.releaseAll()
    val ndcg = ops.Vector.q265NdcgRetrieval(spark, sf()).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("ndcg_ppm")).toMap
    Caches.releaseAll()
    val ap = ops.Vector.q275MapAtK(spark, sf()).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("ap_ppm")).toMap
    Caches.releaseAll()
    assert(t.nonEmpty && t.length == ndcg.size)
    t.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      // shared-pass law: the brute reference columns ARE q265's NDCG and
      // q275's AP — the trained-IVF query grades against the same numbers
      assert(r.getAs[Long]("bf_ndcg_ppm") == ndcg(qid), s"brute/q265 divergence: $r")
      assert(r.getAs[Long]("bf_ap_ppm") == ap(qid), s"brute/q275 divergence: $r")
      val ov = r.getAs[Long]("topk_overlap")
      assert(ov >= 0L && ov <= 10L)
      Seq("bf_ndcg_ppm", "ivf_ndcg_ppm", "bf_ap_ppm", "ivf_ap_ppm",
        "index_recall_ppm").foreach { c =>
        assert(r.getAs[Long](c) >= 0L && r.getAs[Long](c) <= 1000000L, s"$c out of range: $r")
      }
    }
  }
}
