package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Second-corpus robustness for the THRESHOLD-TUNED operators (VERDICT r5
  * item 5): constants tuned on the driver's synthetic corpus (q46's band
  * width + 0.5 Jaccard cut, q129's ≤4 edit-distance in (brand,size)
  * blocks, q156's ε=0.30 cosine, q161's ±3·MAD seasonal gate) must not
  * silently become no-ops on data they weren't tuned on. The spec builds a
  * VARIANT corpus — every row unioned with a deterministically PERTURBED
  * replica under shifted keys (one word appended to each document, one
  * character appended to each part name, +0.02 on one embedding
  * component, events replayed 30 min later) — and asserts each operator
  * still finds the planted near-but-NOT-exact structure. A pass means the
  * thresholds have real margin: they fire on ~0.95-similar pairs, not
  * just on the exact duplicates of the tuning corpus.
  */
class RobustnessSpec extends SparkSpec {

  private lazy val variant: (String, Long, Long, Long) = {
    val src = sf("sf0.01")
    val dir = java.nio.file.Files.createTempDirectory("graft-variant").toString

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    docs.unionByName(docs
        .withColumn("doc_id", col("doc_id") + lit(docSpan))
        .withColumn("text", concat(col("text"), lit(" robustness probe"))))
      .write.parquet(s"$dir/documents.parquet")

    val part = spark.read.parquet(s"$src/part.parquet")
    val partSpan = part.agg(max(col("p_partkey"))).head.getLong(0) + 1L
    part.unionByName(part
        .withColumn("p_partkey", col("p_partkey") + lit(partSpan))
        .withColumn("p_name", concat(col("p_name"), lit("x"))))
      .write.parquet(s"$dir/part.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    emb.unionByName(emb
        .withColumn("vec_id", col("vec_id") + lit(vecSpan))
        .withColumn("embedding",
          expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(x + 0.02 AS FLOAT) ELSE x END)")))
      .write.parquet(s"$dir/embeddings.parquet")

    // shape-agnostic: canonicalize ts first (ns-long / NTZ / TZ all become
    // µs TimestampType — the same boundary rule the engine applies), then
    // shift by interval; the perturbed file reads back as TimestampType
    val ev = Tables.canonicalTs(spark.read.parquet(s"$src/events.parquet"))
    val evSpan = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
    ev.unionByName(ev
        .withColumn("event_id", col("event_id") + lit(evSpan))
        .withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTES")))
      .write.parquet(s"$dir/events.parquet")

    (dir, docSpan, partSpan, vecSpan)
  }

  private def run(q: (org.apache.spark.sql.SparkSession, String) => DataFrame): DataFrame =
    q(spark, variant._1)

  test("q46 MinHash/LSH bands catch one-word-appended near-dups (not only exact copies)") {
    try {
      val pairs = run(ops.Dedup.q46MinhashLshPairs _)
      val planted = pairs.filter(col("doc_b") - col("doc_a") === lit(variant._2))
        .select(col("jaccard")).collect()
      assert(planted.nonEmpty, "no (original, perturbed-replica) pair surfaced")
      assert(planted.forall(r => r.getDouble(0) > 0.5 && r.getDouble(0) < 1.0),
        "planted pairs must be near (0.5, 1.0) exclusive — perturbed, not exact")
    } finally Caches.releaseAll()
  }

  test("q129 banded edit-distance catches one-character-appended names") {
    try {
      val planted = run(ops.Dedup.q129EditDistPairs _)
        .filter(col("k2") - col("k1") === lit(variant._3))
      assert(planted.count() > 0, "no (original, appended-x replica) pair in the top-50")
    } finally Caches.releaseAll()
  }

  test("q156 SemDeDup ε has margin: jittered replicas still dedup") {
    try {
      val stats = run(ops.Vector.q156SemanticDedup _)
        .agg(sum(col("n_dup_pairs")).as("p"), sum(col("n_dropped")).as("d")).head()
      assert(stats.getLong(0) > 0L, "ε=0.30 found no dup pairs on the jittered corpus")
      assert(stats.getLong(1) > 0L, "no vectors dropped")
    } finally Caches.releaseAll()
  }

  test("schema evolution: an evolved part file neither breaks nor silently changes base-column queries") {
    import spark.implicits._
    // Month-2 dumps add columns. Two part files under one documents dir:
    // gen-1 with the base schema, gen-2 with an extra quality_v2 column.
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    val docDir = s"$dir/documents.parquet"
    Seq((1L, "alpha beta gamma", "en", "s1", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(docDir)
    Seq((2L, "delta epsilon zeta", "en", "s2", 18L, 42L))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "quality_v2")
      .write.mode("append").parquet(docDir)
    // (a) base-column reads see ALL rows of BOTH generations — evolution
    // never drops data from queries that select pre-evolution columns
    val base = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
    assert(base.count() == 2)
    assert(base.collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    // an engine query over the evolved dir runs and covers both rows
    assert(ops.Text.q41DocQuality(spark, dir).count() == 2)
    // (b) the new column is reachable by OPTING IN via mergeSchema, with
    // NULL for pre-evolution rows — the documented upgrade path
    val merged = spark.read.option("mergeSchema", "true").parquet(docDir)
    assert(merged.columns.contains("quality_v2"))
    val byId = merged.collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[Any]("quality_v2"))).toMap
    assert(byId(1L).isEmpty && byId(2L).contains(42L))
    Caches.releaseAll()
  }

  test("non-ASCII text: tokenizer, minhash, and quality score survive emoji/CJK/accents/controls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-unicode").toString
    RobustnessSpec.nonAsciiTexts.zipWithIndex
      .map { case (t, i) => (i + 1L, t, "en", "s1") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // tokens(): [^a-z0-9]+ splitting makes every non-alnum codepoint a
    // separator; accented letters are NOT in [a-z], so they split too —
    // the documented ASCII-stemming behavior, pinned here
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), ops.Text.tokens(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toList).toMap
    assert(toks(1L) == List("caf", "data", "test42"))
    assert(toks(2L) == List("na", "ve", "r", "sum", "ok"))
    assert(toks(3L) == List("rtl", "mixed", "ascii"))
    assert(toks(4L) == List("only", "cjk"))
    // downstream operators neither crash nor mis-count on such docs
    assert(ops.Text.q41DocQuality(spark, dir).count() == 4)
    Caches.releaseAll()
    val dedup = ops.Dedup.q45ExactDupStats(spark, dir).collect()
    assert(dedup.nonEmpty)
    Caches.releaseAll()
  }

  test("quality gates on NULL, empty and all-punctuation texts: pinned rows") {
    // The rows are pinned from a run of the regex punctuation count
    // (`length(text) - length(regexp_replace(text, '[^a-z0-9 ]', ''))`).
    // q41 divides by the character and token counts without a guard, so
    // under ANSI mode the empty and the token-free documents make it
    // throw DIVIDE_BY_ZERO; it runs on the other documents.
    import spark.implicits._
    val body = "apache spark plans a query as a tree of operators and codegen fuses the hot loops"
    val docs = Seq[(Long, String)](1L -> body, 2L -> s"$body into one method",
      3L -> null, 4L -> "", 5L -> "!!! ??? ... ,,, ;;; --- ### @@@ %%% &&& ***",
      6L -> "A!! B!! C!! D!! E!! F!! G!! H!! I!! J!! K!!", 7L -> s"Café ☕ 数据 😀 $body",
      8L -> "?! ok ?!")
    def corpus(docs: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-gate").toString
      docs.map { case (id, t) => (id, t, "en", "web", Option(t).map(_.length.toLong).getOrElse(0L)) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def rows(df: DataFrame): Seq[String] =
      try df.collect().map(_.toSeq.mkString(",")).toSeq finally Caches.releaseAll()
    val out = java.nio.file.Files.createTempDirectory("graft-gate-out").toString
    val prepared = rows(Pipelines.prepareCorpus(spark, corpus(docs), out))
    val q41 = rows(ops.Text.q41DocQuality(spark, corpus(docs.filter { case (id, _) => id != 4L && id != 5L })))
    // 2 and 7 are near-dups of 1; 5 has no token; 6's uppercase letters
    // count as punctuation (33 of 43 characters)
    assert(prepared == Seq("train,1,1"))
    assert(q41 == Seq(
      "1,en,web,16,81,0,5,16,16,0.0,0.3125,0.48824999999999996",
      "2,en,web,19,97,0,5,19,19,0.0,0.2631578947368421,0.4695789473684211",
      "3,en,web,null,null,null,null,null,null,null,null,null",
      "6,en,web,11,43,33,1,11,33,0.7674418604651163,0.09090909090909091,0.13722198731501056",
      "7,en,web,17,93,6,5,20,22,0.06451612903225806,0.29411764705882354,0.4617039848197344",
      "8,en,web,1,8,4,0,3,5,0.5,0.0,0.152"))
  }

  test("q161 seasonal anomaly gate still fires on the time-shifted union") {
    try {
      assert(run(ops.Events.q161SeasonalAnomaly _).count() > 0L,
        "±3·MAD gate flagged nothing on the variant corpus")
    } finally Caches.releaseAll()
  }
}

object RobustnessSpec {
  /** Emoji, CJK, accented, RTL and mixed-case texts. */
  val nonAsciiTexts: Seq[String] = Seq(
    "Café ☕ DATA 数据 test42",
    "naïve 😀😀 résumé ok",
    "العربية rtl mixed ASCII",
    "数据集 only cjk データ")
}
