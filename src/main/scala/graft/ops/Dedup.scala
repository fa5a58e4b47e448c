package graft.ops

import graft.Tables
import graft.functions.MinHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.11 — mandated LLM-pipeline
  * extensions): exact (hash groupBy + latest-per-key window), MinHash+LSH
  * near-dup (shingle → minhash → band → bucket join → Jaccard verify), and
  * SimHash.
  *
  * Scale design (100 TB): nothing here is O(n²). Exact dedup is one
  * hash-partitioned groupBy. MinHash LSH reduces the near-dup search to a
  * self-equi-join on (band_idx, band_hash) — candidates shuffle only by
  * bucket, and the expensive Jaccard verification runs on candidate pairs
  * only (planted near-dups at Jaccard ≈0.99 ⇒ band-collision probability
  * ≈1 with 4 bands × 2 rows). SimHash maps each doc to a 16-bit signature
  * whose buckets cluster near-dups with no pairwise work at all.
  *
  * All hashing is md5 (identical hex output in Spark and DuckDB) so every
  * step — including the LSH pipeline — is oracle-checkable.
  */
object Dedup {

  /** Latest-row-per-key dedup — the canonical dedup the reference's
    * append-mode ingest implicitly needs (SURVEY.md §2.5:
    * `airflow/dags/spacex_api_dag.py:49` appends daily snapshots and nothing
    * ever dedups them; `README.md:80` sidesteps with replace). Key =
    * (lang, source), recency = doc_id.
    *
    * Expressed as `max(struct(recency, payload…))` per key — exactly the
    * row_number()=1 window semantics (doc_id is unique, so the lexicographic
    * struct max IS the latest row), but with partial+final hash aggregation:
    * map-side combine keeps one row per key per partition, where the window
    * form sorts everything inside |keys| tasks — the scale-correct
    * latest-per-key. (The window formulation itself stays exercised by
    * [[graft.Materialize.upsert]] and `ops.Launches`, whose keys are
    * high-cardinality.) */
  def q44LatestPerKey(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      // max + max_by (not max(struct)): struct aggregation falls back to
      // per-partition SortAggregate; these stay in ObjectHashAggregate
      .agg(max(col("doc_id")).as("latest_doc_id"),
        max_by(col("n_chars"), col("doc_id")).as("n_chars"))
      .select(col("lang"), col("source"), col("latest_doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("source"))

  val q44Oracle: String =
    """SELECT lang, source, max(doc_id) AS latest_doc_id,
      |  arg_max(n_chars, doc_id) AS n_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** Exact duplicate detection: group by content hash. Emits corpus-level
    * stats (total docs, distinct texts, duplicate groups/docs) — one row. */
  def q45ExactDupStats(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"))
    groups.agg(
      sum(col("n")).as("n_docs"),
      count(lit(1)).as("n_distinct_texts"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup_docs"))
  }

  val q45Oracle: String =
    """SELECT CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_distinct_texts,
      |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
      |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs
      |FROM (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1) g""".stripMargin

  // 4 bands × 2 rows over the 8 minima of [[graft.functions.MinHash]],
  // whose hash family minsSql replays in the oracles
  private val NumHashes = MinHash.NumHashes
  private val BandRows = 2

  /** One row per (doc_id, distinct 5-gram shingle hash): the exploded base
    * of the queries that join or count per shingle (q106, q109, q196's
    * exact truth, q279). Only the 32-hex md5 exists past the kernel
    * ([[Text.docShingleHashes]]: documents shuffle by doc_id, then each is
    * tokenized and hashed in place), so every downstream shuffle carries a
    * fixed-width key instead of arbitrary-length text. Jaccard on hashes ≡
    * Jaccard on shingles modulo md5 collisions, and the oracle applies the
    * identical transformation. */
  private def hashedShingles(s: SparkSession, dir: String): DataFrame =
    Text.docShingleHashes(Tables.documents(s, dir))

  private def hashedShinglesSql: String =
    s"""hx AS (
       |  SELECT doc_id, md5(g) AS hg
       |  FROM (SELECT doc_id, unnest(${Text.shingles5Sql(Text.tokensSql)}) AS g FROM documents) ex)""".stripMargin

  /** The MinHash sketch: one persisted row per document, `(doc_id, hs, sz,
    * m)` — its distinct shingle hashes `hs` ([[Text.shingleHashes]]), their
    * count `sz` and the 8 minima `m` ([[graft.functions.MinHash]]), all
    * computed in place after one doc_id shuffle of the documents. Nothing
    * per shingle is exploded, aggregated or joined: bands read `m`, and the
    * Jaccard verify intersects two `hs` arrays. Spark's CacheManager
    * matches by canonical plan, so q48 (which embeds q46) and repeated
    * invocations share one cached table until the harness's post-query
    * `Caches.releaseAll`.
    *
    * Documents with no 5-gram (under 5 tokens) are dropped AFTER the
    * persist: their minima are `Long.MaxValue`, which would overflow the
    * band packing, and a filter placed before the persist is pushed under
    * the doc_id shuffle, where the kernels run a second time in the scan
    * task. */
  private def sketches(s: SparkSession, dir: String): DataFrame =
    graft.Caches.persist(Tables.documents(s, dir).repartition(col("doc_id"))
      .select(col("doc_id"), Text.shingleHashes(Text.tokens(col("text"))).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("sz"),
        call_function("graft_minhash", col("hs")).as("m")))
      .filter(col("sz") > 0)

  /** The LSH band rows of a sketch: 4 bands of 2 minima, each packed into
    * one BIGINT `band_val`. `sz` rides along so candidate pairs carry both
    * Jaccard denominators without joining back. */
  private def bands(sk: DataFrame): DataFrame = {
    val packed = (0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("band_idx"),
        (col("m").getItem(BandRows * b) * lit(2147483648L) + col("m").getItem(BandRows * b + 1))
          .as("band_val"))
    }
    sk.select(col("doc_id"), col("sz"), explode(array(packed: _*)).as("band"))
      .select(col("doc_id"), col("sz"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
  }

  /** Candidate pairs `(doc_a, doc_b, size_a, size_b)` with their exact
    * shingle intersection `inter` and `jaccard`, kept at Jaccard ≥ 0.5.
    * Each candidate picks up both documents' hash arrays by two doc-id
    * joins and intersects them in place (`hs` holds distinct hashes, so
    * the intersection's size is |A ∩ B|). */
  private def verified(cands: DataFrame, sk: DataFrame): DataFrame =
    cands
      .join(sk.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(sk.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)

  /** MinHash + LSH near-duplicate pairs, Jaccard-verified.
    *
    * One sketch row per document ([[sketches]]: shingle hashes and 8
    * integer minhashes from two native kernels) → 4 bands of 2 minima
    * packed into BIGINT keys → self-join on (band_idx, band_val) → exact
    * Jaccard of each candidate by intersecting the two documents' hash
    * arrays → keep ≥ 0.5. The band join is the only pairwise step and
    * touches only colliding buckets; the per-shingle work stays inside
    * one row per document, so no shingle-sized table reaches a shuffle,
    * an aggregate or a join. */
  def q46MinhashLshPairs(s: SparkSession, dir: String): DataFrame = {
    val sk = sketches(s, dir)
    val bs = bands(sk)
    val cands = bs.as("a")
      .join(bs.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("size_a"), col("b.sz").as("size_b"))
      .distinct()
    verified(cands, sk)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"), col("size_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def minsSql: String = (0 until NumHashes)
    .map(i => s"  min((CAST('0x' || substr(hg, 1, 8) AS BIGINT) * ${MinHash.A(i)} + " +
      s"CAST('0x' || substr(hg, 9, 8) AS BIGINT) * ${MinHash.B(i)} + ${MinHash.c(i)}) % ${MinHash.P}) AS m$i")
    .mkString(",\n")

  private def bandSelectsSql: String = (0 until NumHashes / BandRows).map { b =>
    s"SELECT doc_id, $b AS band_idx, m${BandRows * b} * 2147483648 + m${BandRows * b + 1} AS band_val FROM sigs"
  }.mkString("\n  UNION ALL ")

  val q46Oracle: String = {
    val mins = minsSql
    val bandSelects = bandSelectsSql
    s"""WITH $hashedShinglesSql,
      |sigs AS (
      |  SELECT doc_id,
      |$mins,
      |  count(*) AS sz
      |  FROM hx GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS inter
      |  FROM cands
      |  JOIN hx x ON doc_a = x.doc_id
      |  JOIN hx y ON doc_b = y.doc_id AND x.hg = y.hg
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      |FROM inter JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val SimBits = 16
  private val hiHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** SimHash (16-bit): per token, md5 hex digit b contributes ±1 to bit b by
    * its high nibble bit; signature bit b set iff the weighted sum is
    * positive. Near-dup docs land in the same (or Hamming-close) bucket —
    * no pairwise work. */
  def q47Simhash(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .withColumn("h", md5(col("token").cast("binary")))
    val bitSums = (0 until SimBits).map { b =>
      sum(when(substring(col("h"), b + 1, 1).isin(hiHex: _*), 1L).otherwise(-1L)).as(s"s$b")
    }
    val sim = (0 until SimBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    ex.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("simhash16"))
      .orderBy(col("doc_id"))
  }

  val q47Oracle: String = {
    val inList = hiHex.map(h => s"'$h'").mkString(", ")
    val bitSums = (0 until SimBits)
      .map(b => s"  sum(CASE WHEN substr(h, ${b + 1}, 1) IN ($inList) THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n")
    val sim = (0 until SimBits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH ex AS (
      |  SELECT doc_id, md5(token) AS h
      |  FROM (SELECT doc_id, unnest(${Text.tokensSql}) AS token FROM documents) t),
      |bits AS (
      |  SELECT doc_id,
      |$bitSums
      |  FROM ex GROUP BY doc_id)
      |SELECT doc_id, $sim AS simhash16
      |FROM bits ORDER BY doc_id""".stripMargin
  }

  /** Connected components by min-label propagation + pointer jumping over
    * undirected `pairs(doc_a, doc_b)` — the q48 loop, shared since q227
    * needs it on three edge sets. Returns `(id, lbl)` for every node that
    * touches an edge (components have ≥ 2 nodes by construction); the
    * final labels and the symmetrized edge table stay checkpoint-tracked
    * for the harness's post-query release. */
  private def ccLabels(pairs0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // localCheckpoint truncates lineage: without it every iteration's
    // LOGICAL plan doubles (persist caches data but keeps the plan), and
    // Catalyst re-analysis grows exponentially — measured 56 s of pure
    // driver planning by iteration 2. On a cluster this would be a
    // reliable checkpoint() to storage instead.
    val pairs = pairs0.localCheckpoint()
    val edges = pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("u", "v").localCheckpoint()
    // edges is materialized (localCheckpoint is eager) — pairs can go now.
    graft.Caches.releaseCheckpoint(pairs)
    // Seed with min(self, min neighbor) — exactly what iteration 1's hop
    // would compute from identity labels, but as ONE groupBy instead of a
    // join + groupBy + two more joins: near-dup graphs are mostly pairs and
    // small cliques, so this seed is already the fixpoint and the loop
    // usually runs a single confirming iteration. Convergence is unchanged:
    // the seed is ≤ identity labels and ≥ the transitive min everywhere,
    // and each iteration stays monotone non-increasing.
    var labels = edges.groupBy(col("u").as("id"))
      .agg(least(col("u"), min(col("v"))).as("lbl")).localCheckpoint()
    // coalesce: on a corpus with no Jaccard-verified pairs labels is empty
    // and sum() returns NULL (ADVICE.md r1 — .getLong NPE'd on clean data);
    // checksum 0 then converges on the first iteration with an empty result.
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
    var checksum = labelSum(labels)
    var converged = false
    while (!converged) {
      // (1) hop: take the min label over neighbors
      val nbrMin = edges.join(labels, edges("v") === labels("id"))
        .groupBy(col("u").as("nid")).agg(min(col("lbl")).as("nlbl"))
      val hopped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // (2) pointer-jump: follow my label's label (path compression) —
      // together with (1) this converges in O(log diameter) iterations
      // instead of O(diameter), which matters on chain-shaped clusters.
      val par = hopped.select(col("id").as("pid"), col("lbl").as("plbl"))
      val next = hopped.join(par, hopped("lbl") === par("pid"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      // next is materialized — the superseded iteration's checkpoint RDD
      // can be released immediately (ADVICE.md r1: they accumulated).
      graft.Caches.releaseCheckpoint(labels)
      labels = next
      converged = nextSum == checksum
      checksum = nextSum
    }
    // edges + final labels feed the returned (lazy) plan — released by the
    // harness's Caches.releaseAll after the query's action completes.
    graft.Caches.trackCheckpoint(edges)
    graft.Caches.trackCheckpoint(labels)
    labels
  }

  /** Near-dup clusters: connected components over the LSH pair graph
    * (q46's Jaccard-verified edges, from its one-row-per-document sketch),
    * labeled by the component's minimum doc_id; the representative
    * ("kept") doc is that minimum — the final step of a dedup pipeline
    * (drop every member but the representative).
    *
    * Distributed min-label propagation: each iteration is one join +
    * aggregate; the driver loop only checks a monotone convergence
    * checksum (sum of labels strictly decreases until fixpoint), which is
    * how Pregel-style algorithms run on Spark — iterations ≈ cluster
    * diameter (tiny for near-dup graphs), data never leaves executors.
    * Oracle: DuckDB recursive CTE computing the same transitive min. */
  def q48DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(
      q46MinhashLshPairs(s, dir).select(col("doc_a"), col("doc_b")))
    val sizes = labels.groupBy(col("lbl").as("cluster_rep")).agg(count(lit(1)).as("cluster_size"))
    labels
      .join(sizes, labels("lbl") === sizes("cluster_rep"))
      .select(col("id").as("doc_id"), col("cluster_rep"), col("cluster_size"),
        when(col("id") === col("cluster_rep"), 1L).otherwise(0L).as("is_kept"))
      .orderBy(col("cluster_rep"), col("doc_id"))
  }

  /** q46's pipeline as CTEs ending in `pairs(doc_a, doc_b)` — the shared
    * prefix of [[clusterLabelCtes]], also used standalone by q227's oracle
    * (which runs the closure over two different edge restrictions). */
  val pairsCtes: String = {
    val mins = minsSql
    val bandSelects = bandSelectsSql
    s"""$hashedShinglesSql,
      |sigs AS (
      |  SELECT doc_id,
      |$mins,
      |  count(*) AS sz
      |  FROM hx GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS inter
      |  FROM cands
      |  JOIN hx x ON doc_a = x.doc_id
      |  JOIN hx y ON doc_b = y.doc_id AND x.hg = y.hg
      |  GROUP BY doc_a, doc_b),
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)""".stripMargin
  }

  /** q46's pipeline + the recursive transitive-min closure as CTEs ending
    * in `labels(id, cluster_rep)` — shared by q48's oracle and the
    * end-to-end corpus-pipeline oracle (graft.Pipelines.q101Oracle). Must
    * follow a `WITH RECURSIVE` keyword at the call site. */
  val clusterLabelCtes: String =
    s"""$pairsCtes,
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
      |labels AS (SELECT id, min(lbl) AS cluster_rep FROM reach GROUP BY id)""".stripMargin

  val q48Oracle: String =
    s"""WITH RECURSIVE $clusterLabelCtes,
      |sizes AS (SELECT cluster_rep, count(*) AS cluster_size FROM labels GROUP BY 1)
      |SELECT id AS doc_id, l.cluster_rep, cluster_size,
      |  CASE WHEN id = l.cluster_rep THEN 1 ELSE 0 END AS is_kept
      |FROM labels l JOIN sizes s ON l.cluster_rep = s.cluster_rep
      |ORDER BY l.cluster_rep, doc_id""".stripMargin

  /** End-to-end dedup materialization — what a training pipeline actually
    * runs: drop exact duplicates (keep the smallest doc_id per content
    * hash), then drop near-duplicate cluster members (keep each q48
    * cluster's representative), and write the cleaned corpus as parquet.
    * Returns the cleaned frame; `outPath` gets the physical copy. At scale
    * this is the classic two-stage corpus clean (exact pass first — cheap,
    * shrinks the LSH input; LSH pass second). */
  def cleanedCorpus(s: SparkSession, dir: String, outPath: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // smallest-doc_id row per content hash as min/min_by AGGREGATION (the
    // q44 shape: partial+final hash agg with map-side combine) rather than
    // a row_number window, which would sort full-width rows inside each
    // hash partition for no benefit
    val exactKept = docs
      .groupBy(md5(col("text").cast("binary")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("source"), col("doc_id")).as("source"),
        min_by(col("n_chars"), col("doc_id")).as("n_chars"))
      .drop("__h")
    val nearDupDropped = q48DedupClusters(s, dir)
      .filter(col("is_kept") === 0).select(col("doc_id"))
    val cleaned = exactKept.join(nearDupDropped, Seq("doc_id"), "left_anti")
    // r15, guide §6: REBALANCE before the write — AQE sizes the output
    // files by its advisory partition size (one file at bench scale, the
    // 128MB–1GB band at cluster scale) instead of one shard per shuffle
    // partition, and the read-back lists proportionally fewer files.
    cleaned.hint("rebalance").write.mode("overwrite").parquet(outPath)
    // the written frame's schema: inferring it would start a footer-reading
    // job over files this call just wrote
    s.read.schema(cleaned.schema).parquet(outPath)
  }

  // Jaccard threshold for the exact n-gram similarity join, as an exact
  // rational (3/5): every prefix-length and threshold comparison below is
  // integer arithmetic — `ceil(0.6 * sz)` in doubles rounds UP across the
  // representation error (0.6*5 = 3.0000000000000004 → ceil 4), which would
  // silently shorten prefixes and drop true pairs.
  private val JacNum = 3L
  private val JacDen = 5L

  /** Exact n-gram Jaccard similarity join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al., WWW'08):
    * the EXACT counterpart to q46's approximate MinHash LSH. q46 can miss a
    * true near-dup pair (no band collides); this join provably returns
    * every pair with Jaccard ≥ 3/5 over the same 5-gram shingle sets, while
    * still never materializing all pairs.
    *
    * Pruning, all lossless:
    *  1. global canonical order: shingles sorted by (document frequency,
    *     hash) — rarest first, so prefixes carry the most selective grams;
    *  2. prefix filter: a doc of set size `sz` keeps its first
    *     `sz - ceil(t·sz) + 1` grams; any pair with J ≥ t must share a
    *     PREFIX gram (with the length filter, the required overlap
    *     ceil(t·max(sa,sb)) exceeds what disjoint prefixes allow);
    *  3. length filter: J ≥ t forces t·max(sa,sb) ≤ min(sa,sb), applied
    *     inside the candidate join condition;
    *  4. exact verify: intersection counted only for surviving candidates
    *     via a hash-equality join back to the shingle rows.
    *
    * Scale shape: df-ranking is one groupBy + one doc-partitioned window;
    * the candidate join keys on single gram hashes restricted to prefixes
    * (rare grams ⇒ small buckets — the inverted-index-on-prefixes of the
    * literature); verification touches candidates only. No stage is
    * all-pairs. The oracle is brute-force pairwise Jaccard in DuckDB —
    * algorithm-independent ground truth, so the compare also proves the
    * pruning loses nothing at sf0.01. */
  def q106NgramJaccardJoin(s: SparkSession, dir: String): DataFrame = {
    // hx feeds the df ranking AND both verify sides; persisted so the
    // tokenize/shingle/hash pipeline runs once.
    val hx = graft.Caches.persist(hashedShingles(s, dir))
    // df as a window over hg (a content hash — cardinality scales with the
    // corpus) instead of groupBy+join-back: one shuffle of hx, not two
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = hx
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("hg"))))
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("hg"))))
      .withColumn("sz", count(lit(1)).over(wDoc))
    // prefix length = sz - ceil(t·sz) + 1, ceil in exact integers (`div` is
    // integral division; Column./ would be a DOUBLE Divide)
    val prefLen = expr(s"sz - ((sz * $JacNum + ${JacDen - 1}) div $JacDen) + 1")
    // persist: both sides of the candidate self-join consume the prefix
    // frame — without this the two-window ranking chain runs twice
    val prefix = graft.Caches.persist(ranked.filter(col("rn") <= prefLen)
      .select(col("doc_id"), col("hg"), col("sz")))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.hg") === col("b.hg") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")) * JacDen >=
            greatest(col("a.sz"), col("b.sz")) * JacNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("size_a"), col("b.sz").as("size_b"))
      .distinct()
    cands
      .join(hx.select(col("doc_id").as("doc_a"), col("hg")), Seq("doc_a"))
      .join(hx.select(col("doc_id").as("doc_b"), col("hg")), Seq("doc_b", "hg"))
      .groupBy(col("doc_a"), col("doc_b"), col("size_a"), col("size_b"))
      .agg(count(lit(1)).as("inter"))
      // threshold compare in exact integers; jaccard emitted for the reader
      .filter(col("inter") * JacDen >= (col("size_a") + col("size_b") - col("inter")) * JacNum)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"), col("size_b"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Brute-force pairwise Jaccard — deliberately NOT the prefix-filtered
    * algorithm, so a hash-match proves the pruning is lossless. */
  val q106Oracle: String =
    s"""WITH $hashedShinglesSql,
      |sz AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
      |  FROM hx x JOIN hx y ON x.hg = y.hg AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      |WHERE inter * $JacDen >= (sa.sz + sb.sz - inter) * $JacNum
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Benchmark decontamination — the training-corpus hygiene pass every
    * LLM pipeline runs (n-gram collision against held-out eval sets, the
    * GPT-3/PaLM recipe): for each corpus document, how many of its distinct
    * 5-gram shingles also appear in the "benchmark" set (deterministic
    * stand-in: docs with doc_id % 8 == 0), and a contamination flag when
    * ≥ 20% of the doc's grams are shared (exact integer compare, n·5 ≥ sz).
    *
    * Scale shape: the benchmark gram set is tiny relative to the corpus —
    * the collision join is an equi-join on the gram hash against it
    * (broadcast at real scale), then one groupBy per doc; the corpus is
    * never self-joined. Zero-overlap docs are kept via a left join and
    * zero-fill so the output is a complete audit, not just offenders. */
  def q109Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val hx = graft.Caches.persist(hashedShingles(s, dir))
    val bench = hx.filter(col("doc_id") % 8 === 0).select(col("hg")).distinct()
    val corpus = hx.filter(col("doc_id") % 8 =!= 0)
    val sizes = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val shared = corpus.join(bench, Seq("hg"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    sizes.join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated",
        when(col("n_shared") * 5 >= col("n_grams"), 1L).otherwise(0L))
      .select(col("doc_id"), col("n_grams"), col("n_shared"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  val q109Oracle: String =
    s"""WITH $hashedShinglesSql,
      |bench AS (SELECT DISTINCT hg FROM hx WHERE doc_id % 8 = 0),
      |corpus AS (SELECT doc_id, hg FROM hx WHERE doc_id % 8 <> 0),
      |sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
      |shared AS (
      |  SELECT doc_id, count(*) AS n_shared
      |  FROM corpus JOIN bench USING (hg) GROUP BY doc_id)
      |SELECT s.doc_id, n_grams,
      |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
      |  CAST(CASE WHEN coalesce(n_shared, 0) * 5 >= n_grams THEN 1 ELSE 0 END AS BIGINT)
      |    AS contaminated
      |FROM sizes s LEFT JOIN shared sh ON s.doc_id = sh.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** q129: edit-distance (Levenshtein) similarity self-join over part names —
    * the record-linkage / fuzzy-dedup primitive the MinHash (q46) and n-gram
    * Jaccard (q106) joins approximate. Exact-but-pruned topology:
    *
    *   1. BLOCK on (p_brand, p_size) — candidate pairs only ever form
    *      inside a block. The blocking key is DELIBERATELY sized: record
    *      linkage at scale picks keys that bound block cardinality (here
    *      ~|parts|/1250 per block), because candidate count grows
    *      quadratically in block size — brand-only blocks were measured 75×
    *      slower at sf0.1 (11.4 s vs 0.15 s) for the same operator shape.
    *      Same role as q46's LSH bands;
    *   2. LENGTH-BAND prune: |len(a) − len(b)| > k implies dist > k, so the
    *      filter is lossless for a distance-k threshold;
    *   3. banded Levenshtein with early exit (`levenshtein(a, b, k)` —
    *      O(k·n) per pair instead of O(n²), returns −1 past the threshold).
    *
    * The oracle brute-forces the unpruned pairwise distance inside each
    * block, proving both prunes lossless. Top-50 by (dist, key pair) is a
    * total order (keys unique). */
  def q129EditDistPairs(s: SparkSession, dir: String): DataFrame = {
    val k = 4
    val p = Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_brand").as("b"),
        col("p_size").as("sz"), col("p_name").as("nm"))
    val a = p.select(col("pk").as("k1"), col("b"), col("sz"), col("nm").as("n1"))
    val bb = p.select(col("pk").as("k2"), col("b").as("b2"), col("sz").as("sz2"),
      col("nm").as("n2"))
    a.join(bb, col("b") === col("b2") && col("sz") === col("sz2") && col("k1") < col("k2"))
      .filter(abs(length(col("n1")) - length(col("n2"))) <= k)
      .select(col("b").as("brand"), col("k1"), col("k2"),
        expr(s"levenshtein(n1, n2, $k)").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .orderBy(col("dist"), col("k1"), col("k2"))
      .limit(50)
  }

  val q129Oracle: String =
    """SELECT a.p_brand AS brand, a.p_partkey AS k1, b.p_partkey AS k2,
      |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 4
      |ORDER BY dist, k1, k2 LIMIT 50""".stripMargin

  /** q147: cluster representative selection — the KEEP-BEST step that turns
    * q48's near-dup clusters into a dedup decision (keep the highest-quality
    * member, here longest text with doc_id tie-break, instead of q48's
    * arbitrary min-id representative — what a production corpus dedup
    * actually ships). Composition: cluster labels (iterative CC) ⋈ document
    * quality, then one small-frame arg-max per cluster; the argmax runs on
    * the reduced cluster frame, never the corpus. */
  def q147ClusterKeepBest(s: SparkSession, dir: String): DataFrame = {
    val clusters = q48DedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
    val quality = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster_rep"), col("cluster_size"))
      .agg(max(struct(col("n_chars"), negate(col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_rep"), col("cluster_size"),
        negate(col("m.nid")).as("best_doc"), col("m.n_chars").as("best_n_chars"))
      .orderBy(col("cluster_rep"))
  }

  val q147Oracle: String =
    s"""WITH RECURSIVE $clusterLabelCtes,
      |sizes AS (SELECT cluster_rep, count(*) AS cluster_size FROM labels GROUP BY 1),
      |j AS (
      |  SELECT l.id, l.cluster_rep, s.cluster_size, d.n_chars
      |  FROM labels l
      |  JOIN sizes s ON l.cluster_rep = s.cluster_rep
      |  JOIN documents d ON l.id = d.doc_id),
      |best AS (
      |  SELECT cluster_rep, CAST(cluster_size AS BIGINT) cluster_size,
      |         max({'nc': n_chars, 'nid': -id}) m
      |  FROM j GROUP BY 1, 2)
      |SELECT cluster_rep, cluster_size,
      |       CAST(-(m.nid) AS BIGINT) AS best_doc,
      |       CAST(m.nc AS BIGINT) AS best_n_chars
      |FROM best ORDER BY cluster_rep""".stripMargin

  /** q158: leakage-safe train/val/test split — eval-set hygiene as an
    * operator. A content-stable hash split on doc_id (q101's shape) leaks:
    * two near-duplicate documents can land in train and test, and the
    * model is then evaluated on (a paraphrase of) its training data. The
    * fix is to split by near-dup GROUP: every document takes its q48
    * cluster representative as its split key (singletons key on
    * themselves), so a whole near-dup cluster moves to one split
    * atomically. 80/10/10 by the md5 of the group key — content-stable
    * (adding documents never reshuffles existing groups' assignment).
    * Output: per-split doc/group counts plus a `_leaky_groups` audit row —
    * the count of groups spanning >1 split, which the construction forces
    * to 0 and the oracle RE-DERIVES independently (the check is the
    * contract, not a tautology: any future change that splits by doc
    * again fails this row). Scale: the split is one map over the
    * cluster-labeled frame; the audit is one distinct + count on (group,
    * split) — both tiny next to the q48 clustering they consume. */
  def q158LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val clusters = q48DedupClusters(s, dir).select(col("doc_id"), col("cluster_rep"))
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val bucket =
      conv(substring(md5(col("grp").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 100
    val tagged = graft.Caches.persist(docs
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")))
    val perSplit = tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("grp")).as("n_groups"))
    val leaky = tagged.select(col("grp"), col("split")).distinct()
      .groupBy(col("grp")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("v"))
      .select(lit("_leaky_groups").as("split"), col("v").as("n_docs"),
        col("v").as("n_groups"))
    perSplit.unionByName(leaky).orderBy(col("split"))
  }

  val q158Oracle: String =
    s"""WITH RECURSIVE $clusterLabelCtes,
      |keyed AS (
      |  SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS grp
      |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
      |tagged AS (
      |  SELECT doc_id, grp,
      |    CASE WHEN CAST('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 4) AS BIGINT) % 100 < 80
      |           THEN 'train'
      |         WHEN CAST('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 4) AS BIGINT) % 100 < 90
      |           THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM keyed),
      |per AS (
      |  SELECT split, count(*) AS n_docs, count(DISTINCT grp) AS n_groups
      |  FROM tagged GROUP BY 1),
      |leaky AS (
      |  SELECT count(*) AS v FROM (
      |    SELECT grp FROM (SELECT DISTINCT grp, split FROM tagged) t
      |    GROUP BY grp HAVING count(*) > 1) x)
      |SELECT split, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_groups AS BIGINT) AS n_groups
      |FROM per
      |UNION ALL
      |SELECT '_leaky_groups', CAST(v AS BIGINT), CAST(v AS BIGINT) FROM leaky
      |ORDER BY split""".stripMargin

  /** q176: INCREMENTAL near-dup index maintenance — the daily-ingest shape
    * of q46. A crawl appends a delta (here `doc_id % 5 == 0`, ~20%) to a
    * corpus whose MinHash/LSH band index already exists; the only pairwise
    * work the update needs is `delta-bands ⋈ all-bands` — the base×base
    * quadrant, which dominates a full rebuild (at 100 TB the base is
    * 50–500× the daily delta), is NEVER touched. Candidates verify with
    * the exact Jaccard and keep ≥ 0.5, exactly as q46.
    *
    * The oracle is the INCREMENTAL-EQUALS-RECOMPUTE law (q131's law
    * applied to an index): it computes the FULL q46 pair set and filters
    * to pairs touching the delta — a hash match proves the probe-side
    * update finds exactly the pairs a full rebuild would have, missing
    * nothing at the band boundary. `new_side` tags delta-delta vs
    * delta-base pairs (the latter are the reason the probe must hit the
    * base index, not just the delta).
    *
    * Here the base signatures/bands are re-derived in-plan because the
    * testdata carries no persisted index; in production they are a read
    * of the materialized signature table (Materialize.scala's store) and
    * the delta side alone runs the shingle→minhash pipeline. The claim
    * this query pins is the JOIN TOPOLOGY (delta-probe, never
    * base×base) and its exactness. Base and delta share q46's sketch,
    * bands and array-intersection verify. */
  def q176IncrementalLshUpdate(s: SparkSession, dir: String): DataFrame = {
    val sk = sketches(s, dir)
    val bs = bands(sk)
    val deltaBands = bs.filter(col("doc_id") % 5 === 0)
    // probe: delta × (base ∪ delta); canonical (least, greatest) ordering
    // dedups the delta-delta pairs that collide from both probe directions
    val cands = deltaBands.as("a")
      .join(bs.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.sz")).otherwise(col("b.sz")).as("size_a"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.sz")).otherwise(col("a.sz")).as("size_b"))
      .distinct()
    verified(cands, sk)
      .withColumn("new_side",
        when(col("doc_a") % 5 === 0 && col("doc_b") % 5 === 0, "delta-delta")
          .otherwise("delta-base"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"), col("size_b"),
        col("jaccard"), col("new_side"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Full q46 recompute, filtered to delta-involved pairs: equality with
    * the probe-side update IS the maintenance-correctness proof. */
  val q176Oracle: String = {
    val mins = minsSql
    val bandSelects = bandSelectsSql
    s"""WITH $hashedShinglesSql,
      |sigs AS (
      |  SELECT doc_id,
      |$mins,
      |  count(*) AS sz
      |  FROM hx GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS inter
      |  FROM cands
      |  JOIN hx x ON doc_a = x.doc_id
      |  JOIN hx y ON doc_b = y.doc_id AND x.hg = y.hg
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard,
      |  CASE WHEN doc_a % 5 = 0 AND doc_b % 5 = 0 THEN 'delta-delta'
      |       ELSE 'delta-base' END AS new_side
      |FROM inter JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
      |  AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q179: inter-source duplication matrix — WHO copies WHOM. q46's
    * verified near-dup pairs, attributed to the (source, source) pair of
    * their documents (unordered, canonicalized least/greatest so the
    * matrix is upper-triangular) with pair counts and exact mean Jaccard
    * in ppm. This is the provenance signal a corpus curator reads before
    * mixing dumps: a hot off-diagonal cell means two "independent" sources
    * share content and their mixture weights double-count it; a hot
    * diagonal means a source self-duplicates. Composes q46 as-is: the
    * only additions are two broadcast-size dimension lookups (doc→source)
    * and one |sources|²-bounded aggregate — nothing new touches the
    * corpus. Mean Jaccard is summed in exact integer ppm (each pair's
    * jaccard is a ratio of ≤2³¹ integers, ppm-scaled by `div` before the
    * sum) so the aggregate is order-independent. */
  def q179SourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val srcOf = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    q46MinhashLshPairs(s, dir)
      .withColumn("jac_ppm",
        expr("inter * 1000000 div (size_a + size_b - inter)"))
      .join(srcOf.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(srcOf.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jac_ppm"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jac_ppm) div count(1)").as("mean_jac_ppm"))
      .orderBy(col("n_pairs").desc, col("source_a").asc, col("source_b").asc)
  }

  val q179Oracle: String = {
    val mins = minsSql
    val bandSelects = bandSelectsSql
    s"""WITH $hashedShinglesSql,
      |sigs AS (
      |  SELECT doc_id,
      |$mins,
      |  count(*) AS sz
      |  FROM hx GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS inter
      |  FROM cands
      |  JOIN hx x ON doc_a = x.doc_id
      |  JOIN hx y ON doc_b = y.doc_id AND x.hg = y.hg
      |  GROUP BY doc_a, doc_b),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |    inter * 1000000 // (sa.sz + sb.sz - inter) AS jac_ppm
      |  FROM inter JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
      |attr AS (
      |  SELECT least(da.source, db.source) AS source_a,
      |    greatest(da.source, db.source) AS source_b, jac_ppm
      |  FROM pairs
      |  JOIN documents da ON doc_a = da.doc_id
      |  JOIN documents db ON doc_b = db.doc_id)
      |SELECT source_a, source_b, count(*) AS n_pairs,
      |  CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_jac_ppm
      |FROM attr GROUP BY 1, 2
      |ORDER BY n_pairs DESC, source_a ASC, source_b ASC""".stripMargin
  }

  /** q196: LSH dedup recall gate — the q111 recall-audit pattern applied to
    * near-dup detection. Ground truth = EXACT Jaccard ≥ 0.5 pairs from the
    * inverted shingle index (every pair sharing ≥1 shingle, no banding);
    * candidate = q46's MinHash+LSH pairs. Because q46 verifies exact
    * Jaccard on its candidates, precision is 1 by construction — what
    * banding can lose is RECALL, and it loses it exactly along the S-curve
    * (P[collision] = 1-(1-j^r)^b), so the report buckets recall by Jaccard
    * decile: the empirical S-curve the b/r parameters were chosen for.
    *
    * Scale stance: the truth join is the inverted-index Σ df² cost — the
    * price of EXACT ground truth, which a 100 TB deployment pays on a
    * sampled slice to validate its banding parameters, never corpus-wide
    * (the audit's whole point is to certify the cheap path so the exact
    * path stays sample-only). Pair work never leaves shingle buckets;
    * everything else is map-side-combined aggregation. */
  def q196LshDedupRecall(s: SparkSession, dir: String): DataFrame = {
    val hx = graft.Caches.persist(hashedShingles(s, dir))
    val sz = hx.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val truth = hx.as("x")
      .join(hx.as("y"),
        col("x.hg") === col("y.hg") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("size_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("size_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)
    val lsh = q46MinhashLshPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("caught"))
    truth.join(lsh, Seq("doc_a", "doc_b"), "left")
      .withColumn("j_decile", floor(col("jaccard") * 10).cast("long"))
      .groupBy(col("j_decile"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("recall_ppm", expr("(n_caught * 1000000) div n_true"))
      .orderBy(col("j_decile"))
  }

  val q196Oracle: String =
    s"""WITH $hashedShinglesSql,
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM hx GROUP BY 1),
      |truth AS (
      |  SELECT doc_a, doc_b,
      |    CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      |  FROM (
      |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
      |    FROM hx x JOIN hx y ON x.hg = y.hg AND x.doc_id < y.doc_id
      |    GROUP BY 1, 2) i
      |  JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
      |lsh AS (SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS caught FROM ($q46Oracle)),
      |j AS (
      |  SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS j_decile,
      |    coalesce(l.caught, 0) AS caught
      |  FROM truth t LEFT JOIN lsh l USING (doc_a, doc_b))
      |SELECT j_decile, CAST(count(*) AS BIGINT) AS n_true,
      |  CAST(sum(caught) AS BIGINT) AS n_caught,
      |  CAST((sum(caught) * 1000000) // count(*) AS BIGINT) AS recall_ppm
      |FROM j GROUP BY 1 ORDER BY j_decile""".stripMargin

  /** q227: incremental near-dup CLUSTER maintenance — the law that closes
    * the IVM family across the dedup stack: q176 maintains the LSH pair
    * INDEX from a delta, this maintains the cluster ASSIGNMENT. When a new
    * dump lands (doc_id % 10 == 0), production re-clusters over
    *   repEdges(C_old) ∪ Δ        (each old cluster compressed to
    *                               member→root star edges, plus the new
    *                               pairs only)
    * instead of the full pair graph — rep edges preserve old connectivity
    * exactly and Δ is delta-sized, so the propagation input shrinks from
    * |E| to |V_clustered| + |Δ|, and the min-label canonical form makes
    * the claim CHECKABLE: component sets equal ⇒ labels bit-equal. The
    * full-graph re-clustering runs here only as the audit
    * (`incr_matches_full` ≡ 1 — computed by the engine, pinned constant by
    * the oracle, so a law violation breaks hash AND flag); pair candidacy
    * is per-pair content-determined, hence E_old is exactly the full pair
    * set restricted to old endpoints — one LSH pipeline feeds all three
    * edge sets. Label changes count docs whose effective assignment moved
    * (previously-unclustered docs count — their singleton became a
    * membership). */
  def q227IncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val p = q46MinhashLshPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    graft.Caches.trackCheckpoint(p)
    val oldP = p.filter(col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0)
    val deltaP = p.filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
    val lOld = ccLabels(oldP)
    val repEdges = lOld.filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_a"), col("lbl").as("doc_b"))
    val lIncr = ccLabels(repEdges.unionByName(deltaP))
    val lFull = ccLabels(p)
    val cmp = lFull.select(col("id"), col("lbl").as("lf"))
      .join(lOld.select(col("id"), col("lbl").as("lo")), Seq("id"), "left")
      .join(lIncr.select(col("id"), col("lbl").as("li")), Seq("id"), "full")
    def nulls = lit(null).cast("long")
    // tagged union → ONE aggregate (the q133 lint discipline)
    oldP.select(lit("eo").as("tag"), nulls.as("lf"), nulls.as("lo"),
        nulls.as("li"), nulls.as("id"))
      .unionAll(deltaP.select(lit("dn").as("tag"), nulls.as("lf"), nulls.as("lo"),
        nulls.as("li"), nulls.as("id")))
      .unionAll(cmp.select(lit("c").as("tag"), col("lf"), col("lo"),
        col("li"), col("id")))
      .agg(
        coalesce(sum(when(col("tag") === "eo", 1L).otherwise(0L)), lit(0L))
          .as("n_old_edges"),
        coalesce(sum(when(col("tag") === "dn", 1L).otherwise(0L)), lit(0L))
          .as("n_delta_edges"),
        coalesce(sum(when(col("tag") === "c", 1L).otherwise(0L)), lit(0L))
          .as("n_docs"),
        countDistinct(col("lo")).as("n_clusters_old"),
        countDistinct(col("lf")).as("n_clusters"),
        coalesce(sum(when(col("tag") === "c" &&
          coalesce(col("lo"), col("id")) =!= col("lf"), 1L).otherwise(0L)), lit(0L))
          .as("n_label_changes"),
        (coalesce(sum(when(col("tag") === "c" &&
          !col("lf").eqNullSafe(col("li")), 1L).otherwise(0L)), lit(0L)) === 0L)
          .cast("long").as("incr_matches_full"))
  }

  // def: interpolates pairsCtes (round-5 init-order discipline)
  def q227Oracle: String =
    s"""WITH RECURSIVE $pairsCtes,
      |pm AS MATERIALIZED (SELECT * FROM pairs),
      |pairs_old AS (SELECT * FROM pm WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0),
      |pairs_new AS (SELECT * FROM pm WHERE doc_a % 10 = 0 OR doc_b % 10 = 0),
      |edges_f AS MATERIALIZED (
      |  SELECT doc_a AS u, doc_b AS v FROM pm
      |  UNION ALL SELECT doc_b, doc_a FROM pm),
      |edges_o AS MATERIALIZED (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs_old
      |  UNION ALL SELECT doc_b, doc_a FROM pairs_old),
      |reach_f(id, lbl) AS (
      |  SELECT DISTINCT u, u FROM edges_f
      |  UNION
      |  SELECT e.u, r.lbl FROM edges_f e JOIN reach_f r ON e.v = r.id),
      |labels_f AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM reach_f GROUP BY 1),
      |reach_o(id, lbl) AS (
      |  SELECT DISTINCT u, u FROM edges_o
      |  UNION
      |  SELECT e.u, r.lbl FROM edges_o e JOIN reach_o r ON e.v = r.id),
      |labels_o AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM reach_o GROUP BY 1),
      |cmp AS (
      |  SELECT f.id, f.lbl AS lf, o.lbl AS lo
      |  FROM labels_f f LEFT JOIN labels_o o ON f.id = o.id)
      |SELECT
      |  CAST((SELECT count(*) FROM pairs_old) AS BIGINT) AS n_old_edges,
      |  CAST((SELECT count(*) FROM pairs_new) AS BIGINT) AS n_delta_edges,
      |  CAST((SELECT count(*) FROM labels_f) AS BIGINT) AS n_docs,
      |  CAST((SELECT count(DISTINCT lbl) FROM labels_o) AS BIGINT) AS n_clusters_old,
      |  CAST((SELECT count(DISTINCT lbl) FROM labels_f) AS BIGINT) AS n_clusters,
      |  CAST((SELECT count(*) FROM cmp WHERE coalesce(lo, id) <> lf) AS BIGINT)
      |    AS n_label_changes,
      |  CAST(1 AS BIGINT) AS incr_matches_full""".stripMargin

  /** q241: Fellegi–Sunter record linkage (1969) — multi-field weighted
    * entity resolution, the structured-record sibling of the text dedup
    * stack: q129 scores ONE field by edit distance; real linkage weighs
    * EVIDENCE ACROSS FIELDS, each comparison contributing a log-odds-style
    * agreement weight (+) or disagreement penalty (−), with the summed
    * score classified against a threshold. Candidate part pairs within a
    * p_brand BLOCK are compared on three fields — type (exact: +24/−8),
    * size (|Δ| ≤ 1: +16/−12), name token-set Jaccard (≥ ½: +30/−10, the
    * q106 overlap measure in exact ppm) — and pairs scoring ≥ 40 emit as
    * links. Weights are fixed integers (the production system estimates
    * them by EM over match/unmatch frequencies; the DECISION arithmetic
    * pinned here is what runs at scale either way).
    *
    * Scale: blocking IS the operator — the self-join is an equi-join on
    * the block key (never all-pairs), per-block fan-out bounded by block
    * size², the same discipline as the LSH band joins; the field
    * comparators are codegen'd array/scalar builtins. At 100 TB blocks
    * come from multiple passes (brand, sorted-neighborhood on name) and
    * union — one block key suffices to pin the semantics.
    *
    * DERIVED BLOCKING (round-9 re-plan, 11 s → sub-second at sf0.1): the
    * weight table implies a structural prune — the best score WITHOUT
    * type agreement is −8+16+30 = 38 < 40, so every link has tp1 = tp2,
    * and type can join the BLOCK KEY: (brand, type) blocks are ~150×
    * smaller than brand blocks, and the expensive Jaccard comparator
    * runs only on pairs that could possibly link. This is the standard
    * Fellegi–Sunter blocking refinement (derive blocks from the decision
    * rule's necessary conditions); the emitted rows are provably
    * identical — agr_type ≡ 1 on every row the ≥ 40 filter keeps either
    * way, which the unchanged brand-blocked oracle pins on data. If the
    * weights change, re-derive: the prune is valid iff
    * max_score(¬type) < threshold. */
  def q241RecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_brand").as("blk"),
        col("p_type").as("tp"), col("p_size").cast("long").as("sz"),
        array_distinct(filter(split(lower(col("p_name")), "[^a-z0-9]+"),
          t => t =!= lit(""))).as("nt"))
    val a = p.select(col("pk").as("p1"), col("blk"), col("tp"),
      col("sz").as("sz1"), col("nt").as("nt1"))
    val b = p.select(col("pk").as("p2"), col("blk"), col("tp"),
      col("sz").as("sz2"), col("nt").as("nt2"))
    // (brand, type) derived block key — see scaladoc; tp1/tp2 are equal on
    // every emittable row, so the columns collapse into the join key.
    // r15, guide §2.5: explicit key repartition at the session parallelism
    // — the block join's shuffle is ~150 KB (AQE coalesces it to ONE task
    // by bytes) while the per-pair array comparators are CPU-dense
    // (QueryProbe baseline: 4 single-task stages, 2.2 s serial CPU);
    // a user-specified partition count is exempt from AQE coalescing and
    // the join reuses the partitioning, so no extra exchange.
    val np = s.sparkContext.defaultParallelism
    a.repartition(np, col("blk"), col("tp"))
      .join(b.repartition(np, col("blk"), col("tp")), Seq("blk", "tp"))
      .filter(col("p1") < col("p2"))
      .withColumn("tp1", col("tp")).withColumn("tp2", col("tp"))
      .withColumn("jac_ppm",
        expr("""(CAST(size(array_intersect(nt1, nt2)) AS BIGINT) * 1000000L)
               | div size(array_union(nt1, nt2))""".stripMargin))
      .withColumn("agr_type", (col("tp1") === col("tp2")).cast("long"))
      .withColumn("agr_size", (abs(col("sz1") - col("sz2")) <= 1).cast("long"))
      .withColumn("agr_name", (col("jac_ppm") >= 500000L).cast("long"))
      .withColumn("score",
        when(col("agr_type") === 1L, 24L).otherwise(-8L) +
        when(col("agr_size") === 1L, 16L).otherwise(-12L) +
        when(col("agr_name") === 1L, 30L).otherwise(-10L))
      .filter(col("score") >= 40L)
      .select(col("p1"), col("p2"), col("blk").as("brand"),
        col("agr_type"), col("agr_size"), col("agr_name"),
        col("jac_ppm"), col("score"))
      .orderBy(col("p1"), col("p2"))
  }

  def q241Oracle: String =
    """WITH p AS (
      |  SELECT p_partkey AS pk, p_brand AS blk, p_type AS tp,
      |    CAST(p_size AS BIGINT) AS sz,
      |    list_distinct(list_filter(
      |      string_split_regex(lower(p_name), '[^a-z0-9]+'), x -> x <> '')) AS nt
      |  FROM part),
      |pairs AS (
      |  SELECT a.pk p1, b.pk p2, a.blk, a.tp tp1, b.tp tp2, a.sz sz1, b.sz sz2,
      |    (CAST(len(list_intersect(a.nt, b.nt)) AS BIGINT) * 1000000)
      |      // len(list_distinct(list_concat(a.nt, b.nt))) AS jac_ppm
      |  FROM p a JOIN p b ON a.blk = b.blk AND a.pk < b.pk),
      |scored AS (
      |  SELECT p1, p2, blk,
      |    CAST(CASE WHEN tp1 = tp2 THEN 1 ELSE 0 END AS BIGINT) AS agr_type,
      |    CAST(CASE WHEN abs(sz1 - sz2) <= 1 THEN 1 ELSE 0 END AS BIGINT) AS agr_size,
      |    CAST(CASE WHEN jac_ppm >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS agr_name,
      |    CAST(jac_ppm AS BIGINT) AS jac_ppm,
      |    CAST((CASE WHEN tp1 = tp2 THEN 24 ELSE -8 END)
      |       + (CASE WHEN abs(sz1 - sz2) <= 1 THEN 16 ELSE -12 END)
      |       + (CASE WHEN jac_ppm >= 500000 THEN 30 ELSE -10 END) AS BIGINT) AS score
      |  FROM pairs)
      |SELECT p1, p2, blk AS brand, agr_type, agr_size, agr_name, jac_ppm, score
      |FROM scored WHERE score >= 40
      |ORDER BY p1, p2""".stripMargin

  /** q279: LSH band planner — the design audit that JUSTIFIES q46's
    * (4 bands × 2 rows) the way q221 justifies the Bloom sizing: for every
    * (b, r) plan under the signature budget b·r ≤ 32, the S-curve detection
    * probability p(s) = 1 − (1 − s^r)^b (Leskovec–Rajaraman–Ullman, MMDS
    * ch. 3) evaluated in exact 2²⁰ fixed point — both powers are literal
    * floored-multiply folds (`aggregate` over `array_repeat`, codegen'd;
    * the oracle replays the identical folds as recursive CTEs) so the two
    * engines agree bit-for-bit and the planner's ranking is deterministic.
    *
    * Two gradings per plan: the ANALYTIC design points every MMDS table
    * quotes — miss rate at s = 0.75 (above q46's 0.5 keep threshold) and
    * fire rate at s = 0.25 (below it) — and a DATA-WEIGHTED expected loss
    * under the corpus's own similarity mix: exact pairwise Jaccard over a
    * FIXED 40-doc probe set (the q200 fixed-benchmark argument — the probe
    * does not grow with the corpus; 780 pairs at every sf), histogrammed
    * into ten similarity bins, each plan charged w·(1−p) on should-detect
    * bins (mid ≥ 0.5) and w·p below. The planner itself is O(|grid|·|bins|·
    * (b+r)) ≈ constant — it DESIGNS the index the 100 TB dedup run uses. */
  def q279LshBandPlanner(s: SparkSession, dir: String): DataFrame = {
    val Scale = 1048576L // 2^20: products stay < 2^41, BIGINT-safe
    // exact Jaccard over the fixed probe set; zero-shingle docs (< 5
    // tokens) carry no rows in hashedShingles and drop out of the probe
    val hx = graft.Caches.persist(
      hashedShingles(s, dir).filter(col("doc_id") < 40))
    val sz = hx.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = sz.select(col("doc_id").as("da"), col("sz").as("sza"))
      .join(broadcast(sz.select(col("doc_id").as("db"), col("sz").as("szb"))),
        col("da") < col("db"))
    val inter = hx.select(col("doc_id").as("da"), col("hg"))
      .join(hx.select(col("doc_id").as("db"), col("hg")), Seq("hg"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
    val jp = pairs.join(inter, Seq("da", "db"), "left")
      .withColumn("i0", coalesce(col("i"), lit(0L)))
      .select(expr("(i0 * 1000000) div (sza + szb - i0)").as("j_ppm"))
    val wb = jp.groupBy(expr("least(j_ppm div 100000, 9)").as("bin"))
      .agg(count(lit(1)).as("w"))
    // densified bins 0..9 with exact mid-similarity (2·bin+1)/20 — the
    // analytic points 0.25/0.75 are bins 2/7 exactly
    val bins = s.range(10).select(col("id").as("bin"))
      .join(broadcast(wb), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("w"), lit(0L)).as("w"),
        expr(s"((bin * 2 + 1) * $Scale) div 20").as("s_fp"))
    val grid = s.range(1).select(explode(sequence(lit(1L), lit(16L))).as("b"))
      .select(col("b"), explode(sequence(lit(1L), lit(8L))).as("r"))
      .filter(col("b") * col("r") <= 32)
    grid.join(broadcast(bins), lit(true))
      .withColumn("sr", expr(
        s"aggregate(array_repeat(s_fp, CAST(r - 1 AS INT)), s_fp, (acc, x) -> (acc * x) div $Scale)"))
      .withColumn("q", lit(Scale) - col("sr"))
      .withColumn("qb", expr(
        s"aggregate(array_repeat(q, CAST(b - 1 AS INT)), q, (acc, x) -> (acc * x) div $Scale)"))
      .withColumn("p", lit(Scale) - col("qb"))
      .groupBy(col("b"), col("r"))
      .agg(
        sum(expr(s"CASE WHEN bin = 7 THEN (($Scale - p) * 1000000) div $Scale END"))
          .as("miss_hi_ppm"),
        sum(expr(s"CASE WHEN bin = 2 THEN (p * 1000000) div $Scale END"))
          .as("fire_lo_ppm"),
        // greatest(…, 1) tolerates the empty-corpus probe (all bin masses
        // zero — EmptyDataSpec); on any real corpus Σw = |pairs| > 0
        expr(s"(sum(CASE WHEN bin >= 5 THEN w * ($Scale - p) ELSE w * p END)" +
          s" * 1000000) div greatest(sum(w) * $Scale, 1)").as("loss_ppm"))
      .select(col("b"), col("r"), (col("b") * col("r")).as("n_sigs"),
        col("miss_hi_ppm"), col("fire_lo_ppm"), col("loss_ppm"),
        when(col("b") === 4 && col("r") === 2, 1L).otherwise(0L).as("is_q46_plan"))
      .orderBy(col("loss_ppm"), col("b"), col("r"))
  }

  val q279Oracle: String =
    s"""WITH RECURSIVE hx AS (
      |  SELECT doc_id, md5(g) AS hg
      |  FROM (SELECT doc_id, unnest(${graft.ops.Text.shingles5Sql(graft.ops.Text.tokensSql)}) AS g
      |        FROM documents WHERE doc_id < 40) ex),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM hx GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, a.sz AS sza, b.sz AS szb
      |  FROM sz a JOIN sz b ON a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT x.doc_id AS da, y.doc_id AS db, CAST(count(*) AS BIGINT) AS i
      |  FROM hx x JOIN hx y ON x.hg = y.hg AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT CAST(coalesce(i.i, 0) * 1000000
      |    // (p.sza + p.szb - coalesce(i.i, 0)) AS BIGINT) AS j_ppm
      |  FROM pairs p LEFT JOIN inter i ON p.da = i.da AND p.db = i.db),
      |wb AS (SELECT least(j_ppm // 100000, 9) AS bin, CAST(count(*) AS BIGINT) AS w
      |       FROM jp GROUP BY 1),
      |bins AS (
      |  SELECT CAST(t.bin AS BIGINT) AS bin, CAST(coalesce(wb.w, 0) AS BIGINT) AS w,
      |    CAST((2 * t.bin + 1) * 1048576 // 20 AS BIGINT) AS s_fp
      |  FROM range(0, 10) t(bin) LEFT JOIN wb ON wb.bin = t.bin),
      |grid AS (
      |  SELECT CAST(tb.b AS BIGINT) AS b, CAST(tr.r AS BIGINT) AS r
      |  FROM range(1, 17) tb(b), range(1, 9) tr(r) WHERE tb.b * tr.r <= 32),
      |pb AS (SELECT g.b, g.r, bins.bin, bins.s_fp, bins.w FROM grid g, bins),
      |powr AS (
      |  SELECT b, r, bin, s_fp, w, CAST(1 AS BIGINT) AS step, s_fp AS acc FROM pb
      |  UNION ALL
      |  SELECT b, r, bin, s_fp, w, step + 1, (acc * s_fp) // 1048576
      |  FROM powr WHERE step < r),
      |sq AS (SELECT b, r, bin, w, 1048576 - acc AS q FROM powr WHERE step = r),
      |powb AS (
      |  SELECT b, r, bin, w, q, CAST(1 AS BIGINT) AS step, q AS acc FROM sq
      |  UNION ALL
      |  SELECT b, r, bin, w, q, step + 1, (acc * q) // 1048576
      |  FROM powb WHERE step < b),
      |pf AS (SELECT b, r, bin, w, 1048576 - acc AS p FROM powb WHERE step = b)
      |SELECT b, r, CAST(b * r AS BIGINT) AS n_sigs,
      |  CAST(sum(CASE WHEN bin = 7 THEN (1048576 - p) * 1000000 // 1048576 END) AS BIGINT)
      |    AS miss_hi_ppm,
      |  CAST(sum(CASE WHEN bin = 2 THEN p * 1000000 // 1048576 END) AS BIGINT)
      |    AS fire_lo_ppm,
      |  CAST(sum(CASE WHEN bin >= 5 THEN w * (1048576 - p) ELSE w * p END) * 1000000
      |    // greatest(sum(w) * 1048576, 1) AS BIGINT) AS loss_ppm,
      |  CAST(CASE WHEN b = 4 AND r = 2 THEN 1 ELSE 0 END AS BIGINT) AS is_q46_plan
      |FROM pf GROUP BY b, r
      |ORDER BY loss_ppm, b, r""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q279_lsh_band_planner" -> (q279LshBandPlanner _),
    "q241_record_linkage" -> (q241RecordLinkage _),
    "q227_incremental_clusters" -> (q227IncrementalClusters _),
    "q196_lsh_dedup_recall" -> (q196LshDedupRecall _),
    "q179_source_dup_matrix" -> (q179SourceDupMatrix _),
    "q176_incremental_lsh" -> (q176IncrementalLshUpdate _),
    "q158_leakage_safe_split" -> (q158LeakageSafeSplit _),
    "q147_cluster_keepbest" -> (q147ClusterKeepBest _),
    "q129_editdist_pairs" -> (q129EditDistPairs _),
    "q44_dedup_latest_per_key" -> (q44LatestPerKey _),
    "q45_exact_dup_stats"      -> (q45ExactDupStats _),
    "q46_minhash_lsh_pairs"    -> (q46MinhashLshPairs _),
    "q47_simhash"              -> (q47Simhash _),
    "q48_dedup_clusters"       -> (q48DedupClusters _),
    "q106_ngram_jaccard_join"  -> (q106NgramJaccardJoin _),
    "q109_decontaminate"       -> (q109Decontaminate _),
  )

  val oracles: Map[String, String] = Map(
    "q279_lsh_band_planner" -> q279Oracle,
    "q241_record_linkage" -> q241Oracle,
    "q227_incremental_clusters" -> q227Oracle,
    "q196_lsh_dedup_recall" -> q196Oracle,
    "q179_source_dup_matrix" -> q179Oracle,
    "q176_incremental_lsh" -> q176Oracle,
    "q158_leakage_safe_split" -> q158Oracle,
    "q147_cluster_keepbest" -> q147Oracle,
    "q129_editdist_pairs" -> q129Oracle,
    "q44_dedup_latest_per_key" -> q44Oracle,
    "q45_exact_dup_stats"      -> q45Oracle,
    "q46_minhash_lsh_pairs"    -> q46Oracle,
    "q47_simhash"              -> q47Oracle,
    "q48_dedup_clusters"       -> q48Oracle,
    "q106_ngram_jaccard_join"  -> q106Oracle,
    "q109_decontaminate"       -> q109Oracle,
  )
}
