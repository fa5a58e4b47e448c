package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition a user of this
  * library actually runs, built entirely from the engine's own operators
  * (BASELINE.json north_star: the LLM-data-pipeline surface):
  *
  *  1. dedup   — exact (content hash) + near-dup (MinHash/LSH clusters),
  *               via [[ops.Dedup.cleanedCorpus]];
  *  2. quality — minimum token count + punctuation-ratio gate
  *               (ops.Text.q41's criteria);
  *  3. chunk   — overlapping token windows (50 tokens, stride 25 — the
  *               q97 packing shape), exploded to one row per chunk;
  *  4. split   — deterministic md5-slot train/eval partition (the q92
  *               content-stable sampling), written hive-partitioned so
  *               downstream readers prune by split.
  *
  * Every stage is a declarative plan: the only shuffles are the dedup
  * pipeline's own and the final partitioned write; chunking and splitting
  * are embarrassingly parallel. Returns the per-split summary.
  */
object Pipelines {

  private val ChunkLen = 50
  private val ChunkStride = 25

  def prepareCorpus(s: SparkSession, dir: String, outDir: String,
      minTokens: Int = 10, maxPunctRatio: Double = 0.5): DataFrame = {
    // Self-cleaning (ADVICE r2): the dedup pipeline registers persists and
    // localCheckpoint RDDs; everything is consumed by the final partitioned
    // write inside this scope, and the returned summary reads back from the
    // written parquet — so the scope releases exactly this call's caches
    // without touching any the embedding application holds.
    Caches.scoped {
    val deduped = ops.Dedup.cleanedCorpus(s, dir, s"$outDir/deduped")

    val toks = ops.Text.tokens(col("text"))
    val quality = deduped
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("punct_ratio",
        ops.Text.punctCount(col("text")).cast("double") / greatest(length(col("text")), lit(1)))
    // The gate rides in the explode (a failing document gets no chunk), not
    // in a Filter: Catalyst pushes a Filter below the toks projection and
    // then tokenizes every document twice.
    val keep = col("n_tokens") >= minTokens && col("punct_ratio") <= maxPunctRatio

    val nChunks = when(col("n_tokens") <= ChunkLen, lit(1))
      .otherwise(ceil((col("n_tokens") - ChunkLen).cast("double") / ChunkStride).cast("int") + 1)
    val chunks = quality
      .withColumn("chunk_idx", explode(when(keep, sequence(lit(0), nChunks - 1))))
      .select(
        col("doc_id"), col("lang"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_idx") * ChunkStride + 1).cast("int"), lit(ChunkLen)))
          .as("chunk_text"))

    val split = when(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 16 === 0, "eval").otherwise("train")
    val corpus = chunks.withColumn("split", split)
    // r15, guide §6: rebalance by the partition column before the
    // partitioned write — files per split are sized by AQE's advisory
    // bytes instead of one shard per task × split (same rationale as
    // cleanedCorpus's write).
    corpus.hint("rebalance", col("split"))
      .write.mode("overwrite").partitionBy("split").parquet(s"$outDir/chunks")

    // explicit schema: an all-filtered (empty) corpus writes no data files,
    // and a schema-less read of the empty partitioned dir cannot infer one
    val summary = s.read.schema(corpus.schema).parquet(s"$outDir/chunks")
      .groupBy(col("split"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"))
      .orderBy(col("split"))
    // materialize the |splits|-row summary locally: the returned frame must
    // stay valid after a later invocation overwrites outDir (q101 reuses
    // one dir per thread), so it cannot keep a lazy scan over those files
    val rows = summary.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), summary.schema)
    }
  }

  /** Driver-checked flagship (VERDICT r2 item 3): the full prepareCorpus
    * run — exact dedup → near-dup cluster drop → quality gate → chunk →
    * deterministic split — surfaced as a query whose per-split summary IS
    * DuckDB-expressible, so the one end-to-end artifact carries a real
    * hash-match row instead of only spec coverage.
    *
    * Output goes to ONE temp dir per thread, reused (every write inside
    * prepareCorpus is mode=overwrite): repeated harness invocations
    * (Bench runs this 4×) rewrite in place instead of leaving a corpus
    * copy per call on /tmp. Thread-scoped so concurrent tenants never
    * share a directory. */
  private val pipelineDir = new ThreadLocal[String] {
    override def initialValue(): String =
      java.nio.file.Files.createTempDirectory("graft-corpus").toString
  }

  def q101CorpusPipeline(s: SparkSession, dir: String): DataFrame =
    prepareCorpus(s, dir, pipelineDir.get)

  /** q48's recursive-CTE dedup pipeline + the quality/chunk/split stages as
    * SQL — the same constants as [[prepareCorpus]] (minTokens=10,
    * maxPunctRatio=0.5, chunk 50/stride 25, md5-slot %16). */
  val q101Oracle: String = {
    val clusterCtes = ops.Dedup.clusterLabelCtes
    s"""WITH RECURSIVE $clusterCtes,
      |dropped AS (SELECT id AS doc_id FROM labels WHERE id <> cluster_rep),
      |exact_kept AS (
      |  SELECT doc_id, text, lang FROM (
      |    SELECT doc_id, text, lang,
      |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM documents) t
      |  WHERE rn = 1),
      |cleaned AS (
      |  SELECT doc_id, text, lang FROM exact_kept
      |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
      |quality AS (
      |  SELECT doc_id, lang, len(toks) AS n_tokens
      |  FROM (SELECT *, ${ops.Text.tokensSql} AS toks FROM cleaned) q
      |  WHERE len(toks) >= 10
      |    AND CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |        / greatest(length(text), 1) <= 0.5),
      |chunked AS (
      |  SELECT doc_id,
      |    unnest(range(0, CASE WHEN n_tokens <= 50 THEN 1
      |      ELSE CAST(ceil(CAST(n_tokens - 50 AS DOUBLE) / 25) AS INT) + 1 END)) AS chunk_idx
      |  FROM quality),
      |labeled AS (
      |  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 16 = 0
      |    THEN 'eval' ELSE 'train' END AS split, doc_id
      |  FROM chunked)
      |SELECT split, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks
      |FROM labeled GROUP BY split ORDER BY split""".stripMargin
  }
}
