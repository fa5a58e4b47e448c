package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Similarity search over the `embeddings` table (SURVEY.md §2.11 —
  * mandated LLM-pipeline extension): brute-force cosine top-k as the
  * correctness baseline, IVF (inverted-file) top-k as the scale path, and
  * hyperplane-LSH bucketed near-duplicate pairs.
  *
  * Bit-exact float parity with the DuckDB oracle: every dot product is a
  * sequential left fold — Spark `aggregate(zip_with(a,b,_*_), 0.0, _+_)`
  * mirrors DuckDB `list_reduce(list_transform(...), (acc,x) -> acc+x)`
  * (the 0.0 seed is exact, so both engines add terms in identical order and
  * produce identical doubles; division/sqrt are correctly-rounded IEEE).
  * Everything is codegen'd higher-order functions — no UDFs.
  *
  * Scale stance (100 TB): brute force is O(Q·N) with the query set
  * broadcast — correct but linear; IVF prunes to nprobe/k of the corpus via
  * an equi-join on centroid id (shuffle by cluster, classic IVF layout);
  * hyperplane LSH reduces all-pairs near-dup to band-bucket equi-joins,
  * exactly like the MinHash pipeline in [[Dedup]].
  */
object Vector {

  /** float[] → double[] (per-element cast is correctly rounded, identical in
    * both engines). */
  private def v(c: Column): Column = transform(c, x => x.cast("double"))
  private def vSql(c: String): String = s"list_transform($c, x -> CAST(x AS DOUBLE))"

  /** Sequential left-fold dot product — the codegen'd native expression
    * ([[graft.functions.DotProduct]]); emits the identical `acc += a[i]*b[i]`
    * fold as the HOF formulation and DuckDB's list_reduce, just compiled.
    * Sessions must call [[graft.functions.GraftExtensions.register]] first
    * (each query entry does). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  private def norm(a: Column): Column = sqrt(dot(a, a))
  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Fixed retrieval-eval probe set (VERDICT r13 item 1): the [[EvalProbeK]]
    * smallest vec_ids ≡ 0 (mod 100). An eval benchmark does not grow with
    * the training corpus (the q200 fixed-20-doc argument, `ops/Text.scala`):
    * the previous corpus-share slice (`vec_id % 100 = 0` with no cap) made
    * the brute grading reference O(corpus²/100) — q277 measured 676.5 s at
    * the 1 M-vector tier — while this fixed K-query frame keeps it
    * O(K·corpus). TakeOrderedAndProject (no global sort), ≤ K rows, always
    * broadcast. On the test tiers (≤ 10⁴ vectors) every mod-100 id fits
    * under the cap, so results are unchanged vs the old slice; at the 100×
    * replica tier it pins 100 queries instead of 10⁴. Applies to the eval
    * METRIC family (q265/q268/q274/q275/q277/q282) — q50/q51/q102 keep
    * corpus-share semantics because the brute/IVF top-k OPERATOR itself is
    * their declared surface. */
  private[graft] val EvalProbeK = 100
  private def evalProbeIds(emb: DataFrame): DataFrame = evalProbeRows(emb.select(col("vec_id")))
  /** The rows of `df` (one per vec_id) whose vec_id is an eval probe id. */
  private def evalProbeRows(df: DataFrame): DataFrame =
    df.filter(col("vec_id") % 100 === 0).orderBy(col("vec_id")).limit(EvalProbeK)
  /** DuckDB twin of [[evalProbeIds]] — splice as a CTE named `pids`. */
  private val pidsSql: String =
    s"pids AS (SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT $EvalProbeK)"

  /** Brute-force cosine top-k: the ~1% of vectors with `vec_id % 100 = 0`
    * are the query set (broadcast); each scans the full corpus once
    * (BroadcastNestedLoopJoin) and keeps its 10 nearest by cosine. */
  def q50CosineTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = cosCorpus(s, dir)
    topK(bruteScored(cosProbes(emb.filter(col("vec_id") % 100 === 0)), emb), 10)
      .select(col("query_id"), col("rk"), col("vec_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q50Oracle: String =
    s"""WITH e AS (SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings),
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT query_id, vec_id, ${dotSql("qv", "v")} / (qn * nrm) AS cos_sim
      |  FROM q JOIN n ON query_id <> vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
      |  FROM scored)
      |SELECT query_id, rk, vec_id, cos_sim FROM ranked
      |WHERE rk <= 10
      |ORDER BY query_id, rk""".stripMargin

  /** IVF top-k: k=8 "centroids" are the vectors with vec_id < 8
    * (deterministic training stand-in); every vector is assigned to its
    * nearest centroid (one broadcast join + rank); a query probes its
    * nprobe=2 nearest centroids and ranks only vectors assigned there —
    * the candidate set shrinks to ~nprobe/k of the corpus and the probe is
    * an equi-join on centroid id, which is what makes IVF the 100 TB path.
    * Self-matches are excluded. */
  def q51IvfTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = cosCorpus(s, dir)
    val sims = cellSims(emb, emb.filter(col("vec_id") < IvfCells))
    val probe = col("vec_id") % 100 === 0
    ivfTopK(cosProbes(emb.filter(probe)), emb, nearest(sims, col("csim").desc, 1),
        nearest(sims.filter(probe), col("csim").desc, IvfProbes), 5)
      .select(col("query_id"), col("rk"), col("vec_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q51Oracle: String =
    s"""WITH e AS (SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings),
      |n AS (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e),
      |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
      |sim AS (
      |  SELECT n.vec_id, cid, ${dotSql("cv", "v")} / (cn * nrm) AS csim
      |  FROM cent CROSS JOIN n),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS arn
      |    FROM sim) t WHERE arn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS prn
      |    FROM sim WHERE vec_id % 100 = 0) t WHERE prn <= 2),
      |vc AS (SELECT cid, n.vec_id, v, nrm FROM assign JOIN n ON assign.vec_id = n.vec_id),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT q.query_id, vc.vec_id, ${dotSql("qv", "v")} / (qn * nrm) AS cos_sim
      |  FROM probes JOIN vc ON probes.cid = vc.cid AND probes.query_id <> vc.vec_id
      |  JOIN q ON probes.query_id = q.query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
      |  FROM scored)
      |SELECT query_id, rk, vec_id, cos_sim FROM ranked
      |WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  private[graft] val SimBits = 64
  private[graft] val BandBits = 8
  private val Dim = 64 // corpus embedding dimensionality (FIXTURES.md)
  private[graft] val FixedPoint = 1L << 24 // float mantissa width: x*2^24 is exact

  /** Hyperplane-LSH near-duplicate pairs: 64 sign bits → 8 bands of 8 bits →
    * self-join on (band_idx, band_val) → exact cosine on candidates → keep
    * cos ≥ 0.45 (tuned to this corpus's top similarity ≈0.48; real near-dups
    * at cos ≥ 0.95 collide with probability ≈0.99). 8-bit bands give 256
    * buckets, so isotropic data does NOT all-collide (4-bit bands would put
    * ~1/16 of the corpus in every bucket and degenerate to all-pairs).
    * Projections and cosine run on the exact 2²⁴ fixed-point plane
    * ([[lshBands]], [[lshVerify]]), so they are order-independent,
    * engine-identical, and correct under any partial-aggregation order at
    * cluster scale. */
  def q52EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val xq = graft.Caches.persist(coords(s, dir)
      .select(col("vec_id"), col("j"), fixedPoint(FixedPoint).as("xq")))
    lshVerify(lshBands(xq), xq, Nil, 0.45)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val q52Oracle: String =
    s"""WITH coefs AS (
      |  SELECT tb.range AS b, tj.range AS j,
      |    (tb.range * 73856093 + tj.range * 19349663 + tb.range * tj.range * 83492791) % 97 - 48 AS c
      |  FROM range(0, $SimBits) tb, range(1, ${Dim + 1}) tj),
      |xq AS (
      |  SELECT vec_id, j, CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $FixedPoint) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |proj AS (
      |  SELECT vec_id, b, sum(xq * c) AS pq
      |  FROM xq JOIN coefs USING (j)
      |  GROUP BY vec_id, b),
      |bands AS (
      |  SELECT vec_id, CAST(b // $BandBits AS INT) AS band_idx,
      |    sum(CASE WHEN pq > 0 THEN (1::BIGINT << CAST(b % $BandBits AS INT)) ELSE 0 END) AS band_val
      |  FROM proj GROUP BY 1, 2),
      |cands AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
      |nq AS (SELECT vec_id, sum(xq * xq) AS nq2 FROM xq GROUP BY vec_id),
      |pairdot AS (
      |  SELECT vec_a, vec_b, sum(xa.xq * xb.xq) AS dq
      |  FROM cands
      |  JOIN xq xa ON vec_a = xa.vec_id
      |  JOIN xq xb ON vec_b = xb.vec_id AND xa.j = xb.j
      |  GROUP BY vec_a, vec_b),
      |scored AS (
      |  SELECT vec_a, vec_b,
      |    CAST(dq AS DOUBLE) / (sqrt(CAST(na.nq2 AS DOUBLE)) * sqrt(CAST(nb.nq2 AS DOUBLE))) AS cos_sim
      |  FROM pairdot
      |  JOIN nq na ON vec_a = na.vec_id
      |  JOIN nq nb ON vec_b = nb.vec_id)
      |SELECT vec_a, vec_b, cos_sim FROM scored
      |WHERE cos_sim >= 0.45
      |ORDER BY vec_a, vec_b""".stripMargin

  private[graft] val PqBlocks = 8  // 8 subspaces × 8 dims
  private val PqDims = Dim / PqBlocks
  private[graft] val PqK = 16      // centroids per subspace

  /** Product-quantization ANN top-k (the third ANN family beside IVF and
    * hyperplane LSH): vectors compress to 8 one-byte codes (argmin-L2
    * centroid per 8-dim block); queries score candidates with an asymmetric
    * distance — per-block lookup tables of query→centroid distances, summed
    * over the stored codes. Everything runs in exact fixed-point integers
    * (`round(x·2²⁴)`), so every argmin and every distance sum is an exact
    * int64 decision: order-independent, engine-identical, oracle-checkable.
    *
    * "Training" is deterministic (centroid c of block b = vec c's block-b
    * subvector, c < 16). At scale: codes are 8 bytes/vector (64× smaller
    * than raw), encode is one broadcast join + argmin, and query cost is
    * |queries|·|corpus|·8 integer adds on precomputed tables — the classic
    * IVF-PQ building block. */
  def q53PqTopk(s: SparkSession, dir: String): DataFrame = {
    val xq = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j0", "x")))
      .select(col("vec_id"), (col("j0") + 1).as("j"),
        expr("j0 div " + PqDims).as("block"),
        round(col("x").cast("double") * FixedPoint, 0).cast("long").as("xq"))
    val cent = xq.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), col("j"), col("block").as("cblock"), col("xq").as("cq"))
    // per (vector, block, centroid): exact squared L2 over the 8 block dims
    val blockDists = xq.join(broadcast(cent), xq("j") === cent("j") && xq("block") === cent("cblock"))
      .groupBy(col("vec_id"), col("block"), col("cid"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    val wEnc = Window.partitionBy(col("vec_id"), col("block"))
      .orderBy(col("d2").asc, col("cid").asc)
    val codes = blockDists
      .withColumn("rn", row_number().over(wEnc)).filter(col("rn") === 1)
      .select(col("vec_id"), col("block"), col("cid").as("code"))
    val qdt = blockDists.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("block"), col("cid"), col("d2"))
    val approx = codes
      .join(qdt, codes("block") === qdt("block") && codes("code") === qdt("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("approx_d2"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("vec_id").asc)
    approx
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("rk"), col("vec_id"), col("approx_d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q53Oracle: String =
    s"""WITH xq AS (
      |  SELECT vec_id, j,
      |    CAST((j - 1) // $PqDims AS BIGINT) AS block,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $FixedPoint) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |cent AS (
      |  SELECT vec_id AS cid, j, block AS cblock, xq AS cq FROM xq WHERE vec_id < $PqK),
      |bd AS (
      |  SELECT x.vec_id, x.block, c.cid, sum((x.xq - c.cq) * (x.xq - c.cq)) AS d2
      |  FROM xq x JOIN cent c ON x.j = c.j AND x.block = c.cblock
      |  GROUP BY x.vec_id, x.block, c.cid),
      |codes AS (
      |  SELECT vec_id, block, cid AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, block ORDER BY d2 ASC, cid ASC) AS rn
      |    FROM bd) t WHERE rn = 1),
      |qdt AS (
      |  SELECT vec_id AS query_id, block, cid, d2 FROM bd WHERE vec_id % 100 = 0),
      |approx AS (
      |  SELECT query_id, codes.vec_id, CAST(sum(qdt.d2) AS BIGINT) AS approx_d2
      |  FROM codes JOIN qdt ON codes.block = qdt.block AND codes.code = qdt.cid
      |  WHERE query_id <> codes.vec_id
      |  GROUP BY query_id, codes.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, vec_id ASC) AS rk
      |  FROM approx)
      |SELECT query_id, rk, vec_id, approx_d2 FROM ranked
      |WHERE rk <= 10
      |ORDER BY query_id, rk""".stripMargin

  private[graft] val IvfCells = 8
  private[graft] val IvfProbes = 2

  // Exploded-form retrieval kernels, shared by q50/q51/q52/q110/q156/q239/
  // q265/q268/q274/q275/q277. A vector is either a row of doubles scored by
  // the native cosine fold, or one (vec_id, j) row per coordinate at a
  // fixed-point scale, where every distance and projection is an exact
  // int64 sum. Every rank breaks ties to the smaller id (vec_id for hits,
  // cid for cells), so each result is a total order; and every double is a
  // correctly rounded op on the same left-fold sums in both engines, so the
  // DuckDB oracles hash-match. Nothing here persists except the LSH band
  // table and the gain table; callers persist what they reuse.

  /** The cosine corpus (vec_id, label, vv, nrm): vv is the embedding
    * widened to doubles and nrm its L2 norm. */
  private def cosCorpus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"), v(col("embedding")).as("vv"))
      .withColumn("nrm", norm(col("vv")))
  }

  /** Rows of [[cosCorpus]] as probe queries (query_id, qlabel, qv, qn). */
  private def cosProbes(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("query_id"), col("label").as("qlabel"),
      col("vv").as("qv"), col("nrm").as("qn"))

  /** The fixed retrieval-eval probes of `emb` ([[evalProbeIds]]). */
  private def evalProbes(emb: DataFrame): DataFrame =
    cosProbes(emb.join(broadcast(evalProbeIds(emb)), Seq("vec_id")))

  /** `pairs` of probe and corpus rows with cos_sim = dot(qv, vv) / (qn·nrm). */
  private def cosScore(pairs: DataFrame): DataFrame =
    pairs.withColumn("cos_sim", dot(col("qv"), col("vv")) / (col("qn") * col("nrm")))

  /** Brute force: every probe of the broadcast `q` against every OTHER
    * corpus row, scored. */
  private def bruteScored(q: DataFrame, emb: DataFrame): DataFrame =
    cosScore(broadcast(q).join(emb, col("query_id") =!= col("vec_id")))

  /** The `k` best scored rows per query_id, ranked rk = 1..k by
    * (cos_sim desc, vec_id asc). */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rk") <= k)

  /** A top-k list as (query_id, qlabel, rk, vec_id, rel): rel = 1 when the
    * hit shares the query's label (the eval family's relevance). */
  private def graded(top: DataFrame): DataFrame =
    top.select(col("query_id"), col("qlabel"), col("rk"), col("vec_id"),
      (col("label") === col("qlabel")).cast("long").as("rel"))

  /** The `n` nearest cells per vec_id of a (vec_id, cid, score) frame,
    * nearest first under `order` (cosine `csim` desc or L2 `d2` asc), ties
    * to the smaller cid. */
  private def nearest(d: DataFrame, order: Column, n: Int): DataFrame =
    d.withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
      .orderBy(order, col("cid").asc))).filter(col("rn") <= n)

  /** Every corpus row paired with every cell (cid, cv, cn) — the `cells`
    * rows of the corpus, broadcast — and the cosine csim between them. */
  private def cellSims(emb: DataFrame, cells: DataFrame): DataFrame =
    broadcast(cells.select(col("vec_id").as("cid"), col("vv").as("cv"), col("nrm").as("cn")))
      .join(emb, lit(true))
      .withColumn("csim", dot(col("cv"), col("vv")) / (col("cn") * col("nrm")))

  /** IVF candidate top-k: each query's candidates are the other corpus
    * rows `assign`ed (vec_id, cid) to one of its `probes` (vec_id, cid)
    * cells — an equi-join on cell id, never query × corpus. */
  private def ivfTopK(q: DataFrame, emb: DataFrame, assign: DataFrame, probes: DataFrame,
      k: Int): DataFrame =
    topK(cosScore(probes.select(col("vec_id").as("query_id"), col("cid"))
      .join(assign.select(col("vec_id"), col("cid")).join(emb, Seq("vec_id")), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(q), Seq("query_id"))), k)

  /** The corpus exploded to one (vec_id, j, x) row per coordinate: j is
    * 1-based and x the float widened to double. */
  private def coords(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j0", "x")))
      .select(col("vec_id"), (col("j0") + 1).as("j"), col("x").cast("double").as("x"))

  /** [[coords]]' x at the power-of-two fixed-point `scale`, rounded
    * HALF_UP to a long. x·scale is an exact double, so both engines round
    * the same value, and every later sum of the longs is an exact int64. */
  private def fixedPoint(scale: Long): Column = round(col("x") * scale, 0).cast("long")

  /** (vec_id, cid, d2): exact squared L2 from each (vec_id, j, xk) row set
    * of `xk` to each centroid (cid, j, cq) of the broadcast `cent`. */
  private def l2Dists(xk: DataFrame, cent: DataFrame): DataFrame =
    xk.join(broadcast(cent), Seq("j"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("xk") - col("cq")) * (col("xk") - col("cq"))).as("d2"))

  /** KmIters exploded Lloyd rounds over the 2¹² plane `xk` from the `seeds`
    * rows of it (one cell per seed vec_id, at most `k`); returns the trained
    * centroids (cid, j, cq). Assignment is the nearest cell by (d2, cid); the
    * update is the truncating integer mean `sum div count`, exact in both
    * engines. A cell left without members drops out, as in the unrolled
    * oracle. Each round's k·Dim-row table is driver-held
    * ([[graft.Caches.bounded]], jobs labelled `<tag>/lloyd r<n>`): the corpus
    * is scanned once per round and the next round broadcasts a local
    * relation instead of re-planning the previous rounds. */
  private def lloyd(xk: DataFrame, seeds: DataFrame, k: Int, tag: String): DataFrame = {
    def held(cent: DataFrame, label: String): DataFrame = graft.Caches.bounded(cent, k * Dim, s"$tag/$label")
    (1 to KmIters).foldLeft(held(seeds.select(col("vec_id").as("cid"), col("j"), col("xk").as("cq")),
        "lloyd seed")) { (cent, r) =>
      held(xk.join(nearest(l2Dists(xk, cent), col("d2").asc, 1).select(col("vec_id"), col("cid")),
          Seq("vec_id"))
        .groupBy(col("cid"), col("j"))
        .agg(expr("sum(xk) div count(1)").as("cq")), s"lloyd r$r")
    }
  }

  /** Hyperplane-LSH bands (vec_id, band_idx, band_val) of the 2²⁴ plane
    * `xq` (vec_id, j, xq): SimBits sign bits cut into SimBits/BandBits
    * bands. Plane b's coefficient at dimension j is the integer
    * `(b·73856093 + j·19349663 + b·j·83492791) mod 97 − 48`, so each
    * projection Σ xq·c is an exact int64 and each sign bit an exact
    * decision. The bilinear b·j term decorrelates the planes: an affine mix
    * makes every plane a cyclic shift of one mod-97 sawtooth and the bands
    * degenerate to near all-pairs (817k vs 72k candidate pairs on 2,000
    * isotropic vectors, 62k ideal). The 64 projections are closed-form
    * column sums of one narrow codegen'd aggregate, not a 64× coefficient
    * join (measured ~2.5× slower at sf0.1) nor 64 interpreted array folds
    * (~10× slower). */
  private def lshBands(xq: DataFrame): DataFrame = {
    def coef(b: Int): Column =
      (lit(b * 73856093L) + col("j") * 19349663L + col("j") * lit(b.toLong * 83492791L)) % 97 - 48
    val projCols = (0 until SimBits).map(b => sum(col("xq") * coef(b)).as(s"p$b"))
    val bandStructs = (0 until SimBits / BandBits).map { bi =>
      val bits = (0 until BandBits)
        .map(r => when(col(s"p${bi * BandBits + r}") > 0, lit(1L << r)).otherwise(lit(0L)))
        .reduce(_ + _)
      struct(lit(bi).as("band_idx"), bits.as("band_val"))
    }
    xq.groupBy(col("vec_id")).agg(projCols.head, projCols.tail: _*)
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("vec_id"), col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
  }

  /** Verified LSH near-duplicates (keys.., vec_a, vec_b, cos_sim), vec_a <
    * vec_b: pairs sharing the `keys` and at least one band of `bands`
    * (persisted — it feeds both sides of the self-join), kept when their
    * cosine on the 2²⁴ plane `xq` reaches `minCos`. The cosine is one
    * double division of exact int64 dot and norms, so the verdict is
    * order-independent. */
  private def lshVerify(bands: DataFrame, xq: DataFrame, keys: Seq[String],
      minCos: Double): DataFrame = {
    val b = graft.Caches.persist(bands)
    val same = (keys :+ "band_idx" :+ "band_val").map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    val nq = xq.groupBy(col("vec_id")).agg(sum(col("xq") * col("xq")).as("nq2"))
    b.as("a").join(b.as("b"), same && col("a.vec_id") < col("b.vec_id"))
      .select(keys.map(c => col(s"a.$c").as(c)) ++
        Seq(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b")): _*)
      .distinct()
      .join(xq.select(col("vec_id").as("vec_a"), col("j"), col("xq").as("xa")), Seq("vec_a"))
      .join(xq.select(col("vec_id").as("vec_b"), col("j"), col("xq").as("xb")), Seq("vec_b", "j"))
      .groupBy((keys ++ Seq("vec_a", "vec_b")).map(col): _*)
      .agg(sum(col("xa") * col("xb")).as("dq"))
      .join(nq.select(col("vec_id").as("vec_a"), col("nq2").as("na2")), Seq("vec_a"))
      .join(nq.select(col("vec_id").as("vec_b"), col("nq2").as("nb2")), Seq("vec_b"))
      .withColumn("cos_sim",
        col("dq").cast("double") / (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
      .filter(col("cos_sim") >= minCos)
  }

  /** The eval family's exact-integer DCG discounts, persisted: (rk, g,
    * cum_g) for rk 1..10, g(r) = 2³⁶ div log2fp(r + 1) (the fixed-point
    * log2 of the LM costs, so g(1) = 2²⁰ exactly) and cum_g the ideal DCG
    * of r relevant hits. */
  private def gainTable(s: SparkSession): DataFrame =
    graft.Caches.persist(
      Text.withLog2fp(s.range(1, 11).toDF("rk").limit(10), "rk + 1", "lg")
        .select(col("rk"), expr("68719476736L div lg").as("g"))
        .withColumn("cum_g", sum(col("g")).over(Window.orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))

  /** A graded top-k with each hit's gain g joined on its rank. */
  private def withGain(top: DataFrame, gains: DataFrame): DataFrame =
    top.join(broadcast(gains.select(col("rk"), col("g"))), Seq("rk"))

  /** A graded top-k with cum_rel, the relevant hits at ranks ≤ rk. */
  private def withCumRel(top: DataFrame): DataFrame =
    top.withColumn("cum_rel", sum(col("rel")).over(Window.partitionBy(col("query_id"))
      .orderBy(col("rk")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Per-query metric rows with n_rel, the corpus rows sharing the query's
    * label other than the query itself. */
  private def withNRel(agg: DataFrame, emb: DataFrame): DataFrame =
    agg.join(emb.groupBy(col("label")).agg(count(lit(1)).as("c")), col("qlabel") === col("label"))
      .withColumn("n_rel", col("c") - 1)

  /** Rows with n_rel and the ideal DCG cum_g at rank min(n_rel, 10). */
  private def withIdcg(df: DataFrame, gains: DataFrame): DataFrame =
    df.withColumn("cap", least(col("n_rel"), lit(10L)))
      .join(broadcast(gains.select(col("rk").as("cap"), col("cum_g"))), Seq("cap"))

  // Per-query aggregates of a graded top-k, and the ppm metrics over them.
  // Every metric is a floored integer quotient: exact, engine-identical.
  private def hits: Column = sum(col("rel"))
  private def firstRel: Column = min(when(col("rel") === 1L, col("rk")))
  private def dcg: Column = sum(expr("rel * g"))
  private def precSum: Column = sum(when(col("rel") === 1L, expr("(cum_rel * 1000000L) div rk")))
  private def rrPpm(fr: String): Column = expr(s"CASE WHEN $fr IS NULL THEN 0L ELSE 1000000L div $fr END")
  private def recallPpm(h: String): Column = expr(s"($h * 1000000L) div nullif(n_rel, 0L)")
  private def apPpm(sp: String): Column = expr(s"$sp div nullif(least(n_rel, 10L), 0L)")
  private def ndcgPpm(d: String): Column = expr(s"($d * 1000000L) div cum_g")

  /** (query_id, ov_raw): the hits two graded top-k lists share per query. */
  private def overlap(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("query_id"), col("vec_id"))
      .join(b.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_raw"))

  // Array-form IVF-PQ kernels, shared by q102, q281 and q282. A vector is
  // one `xv` array<bigint>; a codebook is ONE driver-held row holding its
  // whole sorted entry list, attached to corpus rows with `.scalar()` (a
  // constant-key join plans as a BroadcastNestedLoopJoin), which over a
  // local relation runs no job. Every distance, argmin, residual and LUT
  // entry is then a row-local integer array fold, so the n·cells and
  // n·blocks·codes distance fan-outs never cross an exchange. A Lloyd round
  // is ONE mean aggregate over the corpus; its rows (at most entries × dims)
  // are collected through `Caches.bounded` and the next codebook is
  // assembled on the driver, so nothing in the chain is checkpointed and no
  // round re-plans the rounds before it. The corpus-scale shuffles left are
  // those aggregates (dictionary-sized after map-side combine) and the
  // top-k windows. All values are exact int64, so every argmin and sum is
  // order-independent and engine-identical.

  /** The loaded `emb` as one `xv` array per vector at fixed-point `scale`,
    * persisted and fanned out to session parallelism: file splits are sized
    * for raw bytes while every downstream pass is a CPU-dense fold (A/B on
    * q282 at sf0.1: 1.9 s vs 2.8 s serial). */
  private def quantPlane(emb: DataFrame, scale: Long): DataFrame =
    graft.Caches.persist(emb
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), expr("transform(embedding, " +
        s"x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))").as("xv")))

  /** Exact integer squared L2 between two BIGINT array expressions. */
  private def l2(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (xx, yy) -> (xx - yy) * (xx - yy)), 0L, (acc2, vv) -> acc2 + vv)"

  /** Driver-held codebook entries (integer key columns, then one array
    * column, keys unique) as a 1-row codebook: one array of struct(<the
    * columns>) sorted by the keys, the order `sort_array` gives them. */
  private def bookOf(s: SparkSession, entry: StructType, rows: Seq[Row]): DataFrame = {
    val nKeys = entry.length - 1
    val sorted = rows.sortBy(r => (0 until nKeys).map(r.getAs[Number](_).longValue))(
      Ordering.Implicits.seqOrdering[IndexedSeq, Long])
    s.createDataFrame(java.util.Arrays.asList(Row(sorted)),
      StructType(Seq(StructField("book", ArrayType(entry, containsNull = false), nullable = false))))
  }

  /** The (at most `entries`) codebook rows of `rows`, collected under job
    * label `label`, as a driver-held 1-row codebook ([[bookOf]]). */
  private def codebook(rows: DataFrame, entries: Int, label: String): DataFrame =
    bookOf(rows.sparkSession, rows.schema, graft.Caches.boundedRows(rows, entries, label).toSeq)

  /** The rows of `df` (one per vec_id) with the `k` smallest vec_ids:
    * data-derived seeds, never empty on a filtered or re-keyed corpus. */
  private def seedRows(df: DataFrame, k: Int): DataFrame =
    df.orderBy(col("vec_id")).limit(k)

  /** (d2, cid) from array `v` to every cell of the attached `cents`. */
  private def cellDists(v: String): String =
    s"transform(cents, ce -> struct(${l2(v, "ce.cq")} AS d2, ce.cid AS cid))"

  /** `v` minus the centroid of cell `cid` in the attached `cents`. */
  private def minusCell(v: String, cid: String): Column =
    expr(s"zip_with($v, element_at(filter(cents, ce -> ce.cid = $cid), 1).cq, (a, b) -> a - b)")

  /** Each `plane` row with its nearest cell `best` = (d2, cid) under the
    * (cid, cq) codebook `cells` — the (d2 asc, cid asc) tie rule as a
    * lexicographic struct min. */
  private def nearestCell(plane: DataFrame, cells: DataFrame): DataFrame =
    plane.select(col("vec_id"), col("xv"), cells.scalar().as("cents"))
      .withColumn("best", expr(s"array_min(${cellDists("xv")})"))

  /** Persisted (vec_id, ccid, rq): each vector's nearest cell and its
    * residual against that centroid (`best` is referenced twice, so its
    * fold is never re-inlined). */
  private def assignResid(plane: DataFrame, cells: DataFrame): DataFrame =
    graft.Caches.persist(nearestCell(plane, cells)
      .select(col("vec_id"), col("best.cid").as("ccid"), minusCell("xv", "best.cid").as("rq")))

  /** (query_id, ccid, qrq): the IvfProbes nearest cells of each `queries`
    * row (vec_id, xv) with the query's residual against each. */
  private def probeResid(queries: DataFrame, cells: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("xv"), cells.scalar().as("cents"))
      .select(col("query_id"), col("xv"), col("cents"),
        explode(expr(s"slice(array_sort(${cellDists("xv")}), 1, $IvfProbes).cid")).as("ccid"))
      .select(col("query_id"), col("ccid"), minusCell("xv", "ccid").as("qrq"))

  /** (vec_id, block, rq8): each residual `rq` split into its PqBlocks
    * subspaces. */
  private def residBlocks(casg: DataFrame): DataFrame =
    casg.select(col("vec_id"), posexplode(expr(s"transform(sequence(0, ${PqBlocks - 1}), " +
      s"b -> slice(rq, b * $PqDims + 1, $PqDims))")).as(Seq("block", "rq8")))

  /** The untrained PQ codebook of the (at most PqK) `casg` rows `seeds`:
    * one entry (block, pcid = vec_id, pq8) per residual block. */
  private def pqSeed(seeds: DataFrame, label: String): DataFrame =
    codebook(residBlocks(seeds).select(col("block"), col("vec_id").as("pcid"), col("rq8").as("pq8")),
      PqBlocks * PqK, label)

  /** `blocks` with each residual block's nearest code `best` = (d2, pcid)
    * under the (block, pcid, pq8) codebook `book` ((d2 asc, pcid asc) tie
    * rule). */
  private def pqAssign(blocks: DataFrame, book: DataFrame): DataFrame =
    blocks.withColumn("pents", book.scalar())
      .withColumn("best", expr("array_min(transform(filter(pents, pe -> pe.block = block), " +
        s"pe -> struct(${l2("rq8", "pe.pq8")} AS d2, pe.pcid AS pcid)))"))
      .drop("pents")

  /** One Lloyd update as a driver-held codebook: the exact truncating
    * per-(keys, coordinate) mean of the `v` arrays of `asg` is ONE
    * aggregate over the corpus, whose (at most `maxRows`) rows are
    * collected under job label `label` and reassembled on the driver, each
    * key's means in coordinate order as one array `out`. */
  private def meanBook(asg: DataFrame, keys: Seq[String], v: String, out: String, maxRows: Int,
      label: String): DataFrame = {
    val means = asg.select(keys.map(col) :+ posexplode(col(v)).as(Seq("j0", "x")): _*)
      .groupBy((keys :+ "j0").map(col): _*)
      .agg(expr("sum(x) div count(1)").as("m"))
    val n = keys.length
    val entries = graft.Caches.boundedRows(means, maxRows, label).toSeq
      .groupBy(_.toSeq.take(n)).toSeq
      .map { case (k, ms) => Row.fromSeq(k :+ ms.sortBy(_.getInt(n)).map(_.getLong(n + 1))) }
    bookOf(asg.sparkSession, StructType(means.schema.take(n) :+ StructField(out, ArrayType(LongType))),
      entries)
  }

  /** KmIters per-subspace Lloyd rounds over `blocks` from the seed codebook
    * `seed`; returns the trained codebook (jobs labelled `<tag>/pq r<n>`). */
  private def pqLloyd(blocks: DataFrame, seed: DataFrame, tag: String): DataFrame =
    (1 to KmIters).foldLeft(seed) { (book, r) =>
      meanBook(pqAssign(blocks, book).withColumn("pcid", col("best.pcid")),
        Seq("block", "pcid"), "rq8", "pq8", PqBlocks * PqK * PqDims, s"$tag/pq r$r")
    }

  /** (vec_id, ccid, cidx): each vector's PQ codes, stored as the POSITION
    * of the nearest entry per block in the sorted codebook `book`, so the
    * ADC sum reads a LUT built in the same order by index. */
  private def pqCodes(casg: DataFrame, book: DataFrame): DataFrame =
    casg.select(col("vec_id"), col("ccid"), col("rq"), book.scalar().as("pents"))
      .select(col("vec_id"), col("ccid"),
        expr(s"transform(sequence(0, ${PqBlocks - 1}), b -> array_min(transform(pents, (pe, i) -> IF(pe.block = b, struct(${l2(s"slice(rq, b * $PqDims + 1, $PqDims)", "pe.pq8")} AS d2, pe.pcid AS pcid, i AS i), struct(9223372036854775807L AS d2, 9223372036854775807L AS pcid, -1 AS i)))).i)")
          .as("cidx"))

  /** (query_id, ccid, lutArr): per probe row, the distance from the query
    * residual's block to every entry of `book`, in codebook order. */
  private def pqLut(probes: DataFrame, book: DataFrame): DataFrame =
    probes.select(col("query_id"), col("ccid"), col("qrq"), book.scalar().as("pents"))
      .select(col("query_id"), col("ccid"),
        expr(s"transform(pents, pe -> ${l2(s"slice(qrq, pe.block * $PqDims + 1, $PqDims)", "pe.pq8")})")
          .as("lutArr"))

  /** (query_id, vec_id, approx_d2, rk, n_cand) for rk ≤ 10: candidates are
    * the members of each query's probed cells other than itself (n_cand of
    * them), scored by summing LUT entries at their code positions (ADC) and
    * ranked by (approx_d2, vec_id). */
  private def adcTop10(codes: DataFrame, lut: DataFrame): DataFrame = {
    val byQuery = Window.partitionBy(col("query_id"))
    codes.join(broadcast(lut), Seq("ccid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        expr(s"aggregate(sequence(0, ${PqBlocks - 1}), 0L, (acc, b) -> acc + element_at(lutArr, element_at(cidx, b + 1) + 1))")
          .as("approx_d2"))
      .withColumn("rk", row_number().over(byQuery.orderBy(col("approx_d2").asc, col("vec_id").asc)))
      .withColumn("n_cand", count(lit(1)).over(byQuery))
      .filter(col("rk") <= 10)
  }

  /** IVF-PQ top-k — the production ANN shape (IVF coarse cells + PQ
    * residual codes + asymmetric-distance lookup), composing q51's inverted
    * file with q53's product quantizer the way FAISS-style indexes do:
    *
    *  1. coarse quantize: every vector keeps its argmin-L2 cell among the 8
    *     cell centroids (deterministic stand-in: vec_id < 8);
    *  2. encode residuals: `vector − cell centroid` splits into 8×8-dim
    *     blocks, each argmin-matched to 16 residual centroids (vec_id < 16)
    *     → 8 one-byte codes per vector;
    *  3. query: probe the 2 nearest cells; per probed cell build the
    *     query-residual→centroid distance table (8 blocks × 16 entries);
    *     candidates are ONLY the vectors assigned to probed cells, scored
    *     by summing table entries at their codes (ADC) — no raw-vector
    *     reads at query time.
    *
    * All arithmetic is exact fixed-point int64 (`round(x·2²⁴)`), so every
    * argmin and distance sum is order-independent and engine-identical.
    * Both stand-in codebooks are driver-held 1-row frames
    * (`Caches.bounded`), attached with `.scalar()`. At scale: codes+cell
    * ids are ~9 bytes/vector and the probe is an equi-join on cell id
    * touching ~nprobe/cells of the corpus. */
  def q102IvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val plane = quantPlane(Tables.embeddings(s, dir), FixedPoint)
    val cells = codebook(plane.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cid"), col("xv").as("cq")), IvfCells, "q102/cells")
    val casg = assignResid(plane, cells)
    // untrained PQ codebook: the residual blocks of vec_ids below PqK
    val book = pqSeed(casg.filter(col("vec_id") < PqK), "q102/pq book")
    adcTop10(pqCodes(casg, book),
        pqLut(probeResid(plane.filter(col("vec_id") % 100 === 0), cells), book))
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("vec_id"), col("approx_d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q102Oracle: String =
    s"""WITH xq AS (
      |  SELECT vec_id, j,
      |    CAST((j - 1) // $PqDims AS BIGINT) AS block,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $FixedPoint) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |coarse AS (
      |  SELECT vec_id AS ccid, j, xq AS cq FROM xq WHERE vec_id < $IvfCells),
      |cdist AS (
      |  SELECT x.vec_id, c.ccid, sum((x.xq - c.cq) * (x.xq - c.cq)) AS cd2
      |  FROM xq x JOIN coarse c ON x.j = c.j
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, ccid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd2 ASC, ccid ASC) AS rn
      |    FROM cdist) t WHERE rn = 1),
      |resid AS (
      |  SELECT x.vec_id, a.ccid, x.j, x.block, x.xq - c.cq AS rq
      |  FROM xq x JOIN assign a ON x.vec_id = a.vec_id
      |  JOIN coarse c ON a.ccid = c.ccid AND x.j = c.j),
      |pcent AS (
      |  SELECT vec_id AS pcid, j, block AS pblock, rq AS pq FROM resid WHERE vec_id < $PqK),
      |bd AS (
      |  SELECT r.vec_id, r.block, p.pcid, sum((r.rq - p.pq) * (r.rq - p.pq)) AS d2
      |  FROM resid r JOIN pcent p ON r.j = p.j AND r.block = p.pblock
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, block, pcid AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, block ORDER BY d2 ASC, pcid ASC) AS rn
      |    FROM bd) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, ccid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd2 ASC, ccid ASC) AS rn
      |    FROM cdist WHERE vec_id % 100 = 0) t WHERE rn <= $IvfProbes),
      |qresid AS (
      |  SELECT x.vec_id AS query_id, p.ccid, x.j, x.block, x.xq - c.cq AS rq
      |  FROM xq x JOIN probes p ON x.vec_id = p.query_id
      |  JOIN coarse c ON p.ccid = c.ccid AND x.j = c.j
      |  WHERE x.vec_id % 100 = 0),
      |lut AS (
      |  SELECT query_id, q.ccid, q.block, p.pcid, sum((q.rq - p.pq) * (q.rq - p.pq)) AS qd2
      |  FROM qresid q JOIN pcent p ON q.j = p.j AND q.block = p.pblock
      |  GROUP BY 1, 2, 3, 4),
      |approx AS (
      |  SELECT l.query_id, a.vec_id, CAST(sum(l.qd2) AS BIGINT) AS approx_d2
      |  FROM assign a
      |  JOIN codes k ON a.vec_id = k.vec_id
      |  JOIN lut l ON a.ccid = l.ccid AND k.block = l.block AND k.code = l.pcid
      |  WHERE l.query_id <> a.vec_id
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, vec_id ASC) AS rk
      |  FROM approx)
      |SELECT query_id, rk, vec_id, approx_d2 FROM ranked
      |WHERE rk <= 10
      |ORDER BY query_id, rk""".stripMargin

  /** Per-cluster centroid similarity / outlier scoring joined across
    * modalities (SURVEY §2.11 multimodal + similarity rows): the label
    * centroid is an exact fixed-point integer mean-direction (per-dimension
    * int sums — order-independent, so the centroid is identical under any
    * partial aggregation), each vector's cosine to its centroid is exact
    * integer dot/norm with one double conversion, and the text side joins
    * in on the shared id. Low cosine = cluster outlier — the curation
    * signal a training pipeline uses to audit clusters. */
  def q100CentroidOutliers(s: SparkSession, dir: String): DataFrame = {
    val xq = graft.Caches.persist(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("j0", "x")))
      .select(col("vec_id"), col("label"), (col("j0") + 1).as("j"),
        round(col("x").cast("double") * FixedPoint, 0).cast("long").as("xq")))
    val cent = xq.groupBy(col("label"), col("j")).agg(sum(col("xq")).as("cj"))
    val scored = xq.join(cent, Seq("label", "j"))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sum((col("xq") * col("cj")).cast("decimal(38,0)")).as("dot"),
        sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("n2v"))
    val cnorm = cent.groupBy(col("label"))
      .agg(sum((col("cj") * col("cj")).cast("decimal(38,0)")).as("n2c"))
    scored.join(cnorm, Seq("label"))
      .withColumn("cos_to_centroid",
        col("dot").cast("double") /
          (sqrt(col("n2v").cast("double")) * sqrt(col("n2c").cast("double"))))
      .join(Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
      .filter(col("vec_id") % 17 === 0)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("lang"),
        col("cos_to_centroid"))
      .orderBy(col("vec_id"))
  }

  val q100Oracle: String =
    s"""WITH xq AS (
      |  SELECT vec_id, label, j,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $FixedPoint) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |cent AS (
      |  SELECT label, j, CAST(sum(xq) AS BIGINT) AS cj FROM xq GROUP BY 1, 2),
      |scored AS (
      |  SELECT vec_id, xq.label,
      |    sum(xq.xq * cj) AS dot,
      |    sum(xq.xq * xq.xq) AS n2v
      |  FROM xq JOIN cent ON xq.label = cent.label AND xq.j = cent.j
      |  GROUP BY 1, 2),
      |cnorm AS (SELECT label, sum(cj * cj) AS n2c FROM cent GROUP BY 1)
      |SELECT vec_id, CAST(s.label AS BIGINT) AS label, lang,
      |  CAST(dot AS DOUBLE) / (sqrt(CAST(n2v AS DOUBLE)) * sqrt(CAST(n2c AS DOUBLE)))
      |    AS cos_to_centroid
      |FROM scored s
      |JOIN cnorm ON s.label = cnorm.label
      |JOIN documents d ON s.vec_id = d.doc_id
      |WHERE vec_id % 17 = 0
      |ORDER BY vec_id""".stripMargin

  private[graft] val KmK = 4      // clusters
  private[graft] val KmIters = 2  // unrolled Lloyd iterations (oracle mirrors them)
  // 12-bit fixed point for the TRAINING loop: means stay exact under
  // integer division and every SSE partial fits int64 with headroom
  // (diff² ≤ 2²⁶ · 64 dims · corpus ≪ 2⁶³); the 2²⁴ FixedPoint used by the
  // SEARCH queries would overflow the exact SSE sums at larger corpora.
  private[graft] val KmFP = 1L << 12

  /** Distributed k-means training (Lloyd's algorithm) — the step that
    * produces real IVF/PQ codebooks (q51/q102 use deterministic seed
    * vectors as stand-in centroids; this is how the stand-ins graduate).
    *
    * Each iteration is the canonical two-shuffle Spark shape ([[lloyd]]):
    * (1) assign — every vector joins the BROADCAST centroid table (K·Dim
    * rows) and takes its nearest cluster; (2) update — per-(cluster,
    * dimension) mean via partial+final hash aggregation, collected to the
    * driver as the next round's table. Reports per-cluster membership and
    * exact SSE under the final centroids. */
  def q110KmeansFixedPoint(s: SparkSession, dir: String): DataFrame = {
    // feeds every iteration's assign join and update aggregation
    val xk = graft.Caches.persist(coords(s, dir)
      .select(col("vec_id"), col("j"), fixedPoint(KmFP).as("xk")))
    nearest(l2Dists(xk, lloyd(xk, xk.filter(col("vec_id") < KmK), KmK, "q110")), col("d2").asc, 1)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sse"))
      .orderBy(col("cid"))
  }

  val q110Oracle: String = {
    def distCte(t: Int, centCte: String): String =
      s"""dist$t AS (
         |  SELECT x.vec_id, c.cid, sum((x.xq - c.cq) * (x.xq - c.cq)) AS d2
         |  FROM xq x JOIN $centCte c ON x.j = c.j
         |  GROUP BY 1, 2),
         |asg$t AS (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM dist$t) t WHERE rn = 1)""".stripMargin
    def centCte(t: Int): String =
      s"""cent$t AS (
         |  SELECT a.cid, x.j, CAST(sum(x.xq) AS BIGINT) // count(*) AS cq
         |  FROM xq x JOIN asg$t a USING (vec_id)
         |  GROUP BY 1, 2)""".stripMargin
    val iters = (1 to KmIters).map { t =>
      distCte(t, if (t == 1) "cent0" else s"cent${t - 1}") + ",\n" + centCte(t)
    }.mkString(",\n")
    s"""WITH xq AS (
      |  SELECT vec_id, j,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $KmFP) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |cent0 AS (SELECT vec_id AS cid, j, xq AS cq FROM xq WHERE vec_id < $KmK),
      |$iters,
      |${distCte(KmIters + 1, s"cent$KmIters")}
      |SELECT cid, count(*) AS n_vecs, CAST(sum(d2) AS BIGINT) AS sse
      |FROM asg${KmIters + 1}
      |GROUP BY cid ORDER BY cid""".stripMargin
  }

  /** q156: semantic deduplication (SemDeDup, Abbas et al. 2023 shape) —
    * the embedding-space dedup a training-corpus pipeline runs after
    * exact/MinHash text dedup: cluster the corpus (k-means, the exact
    * fixed-point recurrence of q110), find near-duplicate pairs INSIDE
    * each cluster only, and keep one representative (lowest vec_id) per
    * duplicate relation, dropping the rest. Two pruning stages bound the
    * pairwise work: the cluster (SemDeDup's own trick — cross-cluster
    * pairs are never considered) and hyperplane-LSH banding within the
    * cluster (q52's trick — same-cluster pairs must also share a band), so
    * the exact-cosine stage ([[lshVerify]] keyed by cid) touches
    * (cid, band)-bucket collisions, never cluster² pairs. ε = 0.30: SemDeDup
    * tunes ε per corpus; this isotropic synthetic corpus has cosines
    * concentrated near 0 (σ ≈ 1/√64), so 0.30 ≈ 2.4σ marks the
    * "semantically same" tail (q52's 0.45 finds nothing here — a dedup
    * threshold above the corpus's own similarity ceiling is a no-op).
    * Output: per k-means cluster, corpus size, verified dup pairs, dropped
    * and kept counts — the dedup-rate report a corpus curator reads. */
  def q156SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    // One explode, both fixed-point scales: xk (2^12) drives the k-means
    // recurrence exactly as q110; xq (2^24, float-exact) drives
    // projections and cosine exactly as q52.
    val base = graft.Caches.persist(coords(s, dir).select(col("vec_id"), col("j"),
      fixedPoint(KmFP).as("xk"), fixedPoint(FixedPoint).as("xq")))
    val asg = graft.Caches.persist(
      nearest(l2Dists(base, lloyd(base, base.filter(col("vec_id") < KmK), KmK, "q156")), col("d2").asc, 1)
        .select(col("vec_id"), col("cid")))
    // q52's banding and verify, keyed by the cluster id
    val dupsP = graft.Caches.persist(
      lshVerify(lshBands(base).join(asg, Seq("vec_id")), base, Seq("cid"), 0.30)
        .select(col("cid"), col("vec_a"), col("vec_b")))
    val stats = asg.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
    val pairStats = dupsP.groupBy(col("cid")).agg(count(lit(1)).as("n_dup_pairs"))
    // Greedy keep-lowest: every pair is (low, high); the high side drops.
    val dropStats = dupsP.select(col("cid"), col("vec_b")).distinct()
      .groupBy(col("cid")).agg(count(lit(1)).as("n_dropped"))
    stats
      .join(pairStats, Seq("cid"), "left")
      .join(dropStats, Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("cid"))
  }

  val q156Oracle: String = {
    def distCte(t: Int, centCte: String): String =
      s"""dist$t AS (
         |  SELECT x.vec_id, c.cid, sum((x.xk - c.cq) * (x.xk - c.cq)) AS d2
         |  FROM xq x JOIN $centCte c ON x.j = c.j
         |  GROUP BY 1, 2),
         |asg$t AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM dist$t) t WHERE rn = 1)""".stripMargin
    def centCte(t: Int): String =
      s"""cent$t AS (
         |  SELECT a.cid, x.j, CAST(sum(x.xk) AS BIGINT) // count(*) AS cq
         |  FROM xq x JOIN asg$t a USING (vec_id)
         |  GROUP BY 1, 2)""".stripMargin
    val iters = (1 to KmIters).map { t =>
      distCte(t, if (t == 1) "cent0" else s"cent${t - 1}") + ",\n" + centCte(t)
    }.mkString(",\n")
    s"""WITH xq AS (
      |  SELECT vec_id, j,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $KmFP) AS BIGINT) AS xk,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $FixedPoint) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |cent0 AS (SELECT vec_id AS cid, j, xk AS cq FROM xq WHERE vec_id < $KmK),
      |$iters,
      |${distCte(KmIters + 1, s"cent$KmIters")},
      |asg AS (SELECT vec_id, cid FROM asg${KmIters + 1}),
      |coefs AS (
      |  SELECT tb.range AS b, tj.range AS j,
      |    (tb.range * 73856093 + tj.range * 19349663 + tb.range * tj.range * 83492791) % 97 - 48 AS c
      |  FROM range(0, $SimBits) tb, range(1, ${Dim + 1}) tj),
      |proj AS (
      |  SELECT vec_id, b, sum(xq * c) AS pq
      |  FROM xq JOIN coefs USING (j)
      |  GROUP BY vec_id, b),
      |bands AS (
      |  SELECT p.vec_id, a.cid, CAST(b // $BandBits AS INT) AS band_idx,
      |    sum(CASE WHEN pq > 0 THEN (1::BIGINT << CAST(b % $BandBits AS INT)) ELSE 0 END) AS band_val
      |  FROM proj p JOIN asg a ON p.vec_id = a.vec_id
      |  GROUP BY 1, 2, 3),
      |cands AS (
      |  SELECT DISTINCT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b
      |    ON a.cid = b.cid AND a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.vec_id < b.vec_id),
      |nq AS (SELECT vec_id, sum(xq * xq) AS nq2 FROM xq GROUP BY vec_id),
      |dups AS (
      |  SELECT cid, vec_a, vec_b
      |  FROM (
      |    SELECT c.cid, c.vec_a, c.vec_b, sum(xa.xq * xb.xq) AS dq
      |    FROM cands c
      |    JOIN xq xa ON c.vec_a = xa.vec_id
      |    JOIN xq xb ON c.vec_b = xb.vec_id AND xa.j = xb.j
      |    GROUP BY 1, 2, 3) d
      |  JOIN nq na ON d.vec_a = na.vec_id
      |  JOIN nq nb ON d.vec_b = nb.vec_id
      |  WHERE CAST(dq AS DOUBLE) / (sqrt(CAST(na.nq2 AS DOUBLE)) * sqrt(CAST(nb.nq2 AS DOUBLE))) >= 0.30),
      |stats AS (SELECT cid, count(*) AS n_vecs FROM asg GROUP BY 1),
      |ps AS (SELECT cid, count(*) AS n_dup_pairs FROM dups GROUP BY 1),
      |ds AS (SELECT cid, count(*) AS n_dropped
      |       FROM (SELECT DISTINCT cid, vec_b FROM dups) GROUP BY 1)
      |SELECT s.cid, s.n_vecs,
      |  CAST(coalesce(ps.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
      |  CAST(coalesce(ds.n_dropped, 0) AS BIGINT) AS n_dropped,
      |  CAST(s.n_vecs - coalesce(ds.n_dropped, 0) AS BIGINT) AS n_kept
      |FROM stats s
      |LEFT JOIN ps ON s.cid = ps.cid
      |LEFT JOIN ds ON s.cid = ds.cid
      |ORDER BY s.cid""".stripMargin
  }

  /** ANN index-quality gate: recall@5 of the IVF index (q51) against the
    * brute-force ground truth (q50) — the evaluation every approximate
    * index needs before it replaces an exact scan in production. Composed
    * entirely from the two existing operators: equality join on
    * (query, neighbor), per-query hit count, recall as an int/int double
    * division; queries whose probes missed everything are kept via a left
    * join (recall 0), so the gate can't silently overreport. */
  def q111AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = q50CosineTopk(s, dir).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"))
    val approx = q51IvfTopk(s, dir).select(col("query_id"), col("vec_id"))
    val hits = exact.join(approx, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall", col("n_hits").cast("double") / col("k"))
      .select(col("query_id"), col("k"), col("n_hits"), col("recall"))
      .orderBy(col("query_id"))
  }

  val q111Oracle: String =
    s"""WITH exact_full AS ($q50Oracle),
      |approx AS ($q51Oracle),
      |exact AS (SELECT query_id, vec_id FROM exact_full WHERE rk <= 5),
      |hits AS (
      |  SELECT query_id, count(*) AS n_hits
      |  FROM exact JOIN approx USING (query_id, vec_id) GROUP BY 1),
      |ks AS (SELECT query_id, count(*) AS k FROM exact GROUP BY 1)
      |SELECT query_id, k, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(coalesce(n_hits, 0) AS DOUBLE) / k AS recall
      |FROM ks LEFT JOIN hits USING (query_id)
      |ORDER BY query_id""".stripMargin

  /** q191: int8 quantization audit — symmetric per-vector max-abs scaling
    * (the standard int8 embedding compression: q_i = round(x_i·127/max|x|),
    * clamped to [-127,127]), then top-10 retrieval by QUANTIZED cosine and
    * exact recall against the float top-10 (q50). Rounding is the explicit
    * `floor(x·127/max|x| + 0.5)` form so both engines execute the identical
    * IEEE op sequence; the quantized dot product is EXACT integer
    * arithmetic, so ranking disagreements between engines are impossible
    * and the only doubles are correctly-rounded sqrt/divide at the end.
    *
    * Scale stance (100 TB): int8 cuts vector memory 4× and turns the scan
    * kernel into integer MACs — the standard first compression step before
    * PQ (q53). The plan is q50's shape: broadcast query set, one corpus
    * scan, per-query top-k window; the recall join is per-query-bounded. */
  def q191Int8QuantRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    val qz = transform(col("v"), x =>
      greatest(lit(-127L), least(lit(127L),
        floor(x * lit(127.0) / col("ma") + lit(0.5)).cast("long"))))
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), v(col("embedding")).as("v"))
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .filter(col("ma") > 0)
      .select(col("vec_id"), qz.as("qv"))
      .withColumn("qn", dot(col("qv").cast("array<double>"), col("qv").cast("array<double>")))
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("qn").as("qqn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("vec_id").asc)
    val approx = broadcast(q).join(emb, col("query_id") =!= col("vec_id"))
      .withColumn("qdot", dot(col("qqv").cast("array<double>"), col("qv").cast("array<double>")))
      .withColumn("qcos", col("qdot") / (sqrt(col("qqn")) * sqrt(col("qn"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id"))
    val exact = q50CosineTopk(s, dir).select(col("query_id"), col("vec_id"))
    val hits = exact.join(approx, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("query_id"), col("k"), col("n_hits"),
        expr("(n_hits * 1000000) div k").as("recall_ppm"))
      .orderBy(col("query_id"))
  }

  /** DuckDB int8-quantized embedding frame shared by [[q191Oracle]]. */
  private val quantSql: String = {
    val ma = "list_max(list_transform(v, x -> abs(x)))"
    s"""SELECT vec_id,
      |    list_transform(v, x -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
      |      CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)))) AS qv
      |  FROM (SELECT vec_id, v, $ma AS ma
      |        FROM (SELECT vec_id, ${vSql("embedding")} AS v FROM embeddings))
      |  WHERE ma > 0""".stripMargin
  }

  val q191Oracle: String = {
    val qdot = dotSql("CAST(qqv AS DOUBLE[])", "CAST(qv AS DOUBLE[])")
    val qn = dotSql("CAST(qv AS DOUBLE[])", "CAST(qv AS DOUBLE[])")
    s"""WITH qz AS ($quantSql),
      |qn AS (SELECT vec_id, qv, $qn AS qn FROM qz),
      |qs AS (SELECT vec_id AS query_id, qv AS qqv, qn AS qqn FROM qn WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT query_id, vec_id,
      |    $qdot / (sqrt(qqn) * sqrt(qn)) AS qcos
      |  FROM qs JOIN qn ON query_id <> vec_id),
      |approx AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id ASC) AS rk
      |    FROM scored) WHERE rk <= 10),
      |exact_full AS ($q50Oracle),
      |exact AS (SELECT query_id, vec_id FROM exact_full),
      |hits AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
      |         FROM exact JOIN approx USING (query_id, vec_id) GROUP BY 1),
      |ks AS (SELECT query_id, CAST(count(*) AS BIGINT) AS k FROM exact GROUP BY 1)
      |SELECT query_id, k, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST((coalesce(n_hits, 0) * 1000000) // k AS BIGINT) AS recall_ppm
      |FROM ks LEFT JOIN hits USING (query_id)
      |ORDER BY query_id""".stripMargin
  }

  /** q194: label-centroid similarity matrix — the domain-similarity map a
    * mixture planner reads before setting sampling weights (domains whose
    * centroids are near-parallel are interchangeable mass; near-orthogonal
    * domains each deserve their own allocation — the similarity input to
    * data-selection methods in the DoReMi / domain-reweighting family).
    * Upper-triangle cosine between every pair of label centroids, with
    * cluster sizes attached.
    *
    * Exactness: q100's fixed-point discipline — coordinates scaled by 2²⁴
    * to exact longs, centroid = exact integer sum, pair dot and norms as
    * DECIMAL(38,0) integer sums — and, since round 10, the FINAL step is
    * exact too: cos_fp = (dot·2²⁰) div (⌊√n2a⌋·⌊√n2b⌋) with the isqrt as
    * float seed → one exact Newton step → DECIMAL-widened ±1 clamp
    * (q272's recipe). The previous raw-double emit diverged by 1 ULP at
    * the sf0.1 tier, where the decimal sums pass 2^53 and the two
    * engines' decimal→double casts round differently — caught by the
    * round-10 full sf0.1 oracle sweep; no floats remain anywhere.
    *
    * Scale stance (100 TB): the centroid frame is |labels|·dim rows — a
    * REDUCED aggregate (one groupBy of the corpus, map-side combined); the
    * pair join runs on that reduced frame keyed by j with the right side
    * broadcast, output bounded by |labels|²·dim long before the final
    * |labels|² matrix. The corpus is scanned exactly once. */
  def q194CentroidSimMatrix(s: SparkSession, dir: String): DataFrame = {
    val xq = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("j0", "x")))
      .select(col("label"), (col("j0") + 1).as("j"),
        round(col("x").cast("double") * FixedPoint, 0).cast("long").as("xq"))
    val cent = graft.Caches.persist(
      xq.groupBy(col("label"), col("j")).agg(sum(col("xq")).as("cj")))
    val sizes = Tables.embeddings(s, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val norms = cent.groupBy(col("label"))
      .agg(sum((col("cj") * col("cj")).cast("decimal(38,0)")).as("n2"))
    val a = cent.select(col("label").as("label_a"), col("j"), col("cj").as("ca"))
    val b = cent.select(col("label").as("label_b"), col("j"), col("cj").as("cb"))
    a.join(broadcast(b), Seq("j"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum((col("ca") * col("cb")).cast("decimal(38,0)")).as("dot"))
      .join(broadcast(norms.select(col("label").as("label_a"), col("n2").as("n2a"))), Seq("label_a"))
      .join(broadcast(norms.select(col("label").as("label_b"), col("n2").as("n2b"))), Seq("label_b"))
      .join(broadcast(sizes.select(col("label").as("label_a"), col("n_vecs").as("n_a"))), Seq("label_a"))
      .join(broadcast(sizes.select(col("label").as("label_b"), col("n_vecs").as("n_b"))), Seq("label_b"))
      .withColumn("f0a", greatest(
        floor(sqrt(col("n2a").cast("double")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)),
        lit(1L).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .withColumn("f1a", expr("(f0a + n2a div f0a) div 2"))
      .withColumn("sa", expr(
        """f1a - (CASE WHEN CAST(f1a AS DECIMAL(38,0)) * f1a > n2a THEN 1 ELSE 0 END)
          | + (CASE WHEN (CAST(f1a AS DECIMAL(38,0)) + 1) * (f1a + 1) <= n2a
          |     THEN 1 ELSE 0 END)""".stripMargin))
      .withColumn("f0b", greatest(
        floor(sqrt(col("n2b").cast("double")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)),
        lit(1L).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .withColumn("f1b", expr("(f0b + n2b div f0b) div 2"))
      .withColumn("sb", expr(
        """f1b - (CASE WHEN CAST(f1b AS DECIMAL(38,0)) * f1b > n2b THEN 1 ELSE 0 END)
          | + (CASE WHEN (CAST(f1b AS DECIMAL(38,0)) + 1) * (f1b + 1) <= n2b
          |     THEN 1 ELSE 0 END)""".stripMargin))
      .select(col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"), col("n_a"), col("n_b"),
        expr("""CAST((dot * 1048576) div (CAST(sa AS DECIMAL(38,0)) * sb)
               | AS BIGINT)""".stripMargin).as("cos_centroids_fp"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val q194Oracle: String =
    s"""WITH xq AS (
      |  SELECT label, j,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $FixedPoint) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |cent AS (SELECT label, j, CAST(sum(xq) AS BIGINT) AS cj FROM xq GROUP BY 1, 2),
      |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1),
      |norms AS (SELECT label, sum(cj * cj) AS n2 FROM cent GROUP BY 1),
      |dots AS (
      |  SELECT a.label AS label_a, b.label AS label_b, sum(a.cj * b.cj) AS dot
      |  FROM cent a JOIN cent b ON a.j = b.j AND a.label < b.label
      |  GROUP BY 1, 2),
      |j1 AS (
      |  SELECT label_a, label_b, dot,
      |    CAST(na.n2 AS HUGEINT) AS n2a, CAST(nb.n2 AS HUGEINT) AS n2b,
      |    sa.n_vecs AS n_a, sb.n_vecs AS n_b
      |  FROM dots
      |  JOIN norms na ON na.label = label_a JOIN norms nb ON nb.label = label_b
      |  JOIN sizes sa ON sa.label = label_a JOIN sizes sb ON sb.label = label_b),
      |sd AS (
      |  SELECT *,
      |    greatest(CAST(floor(sqrt(CAST(n2a AS DOUBLE))) AS HUGEINT), 1) AS f0a,
      |    greatest(CAST(floor(sqrt(CAST(n2b AS DOUBLE))) AS HUGEINT), 1) AS f0b
      |  FROM j1),
      |nt AS (
      |  SELECT *, (f0a + n2a // f0a) // 2 AS f1a, (f0b + n2b // f0b) // 2 AS f1b
      |  FROM sd),
      |sq AS (
      |  SELECT *,
      |    f1a - (CASE WHEN f1a * f1a > n2a THEN 1 ELSE 0 END)
      |      + (CASE WHEN (f1a + 1) * (f1a + 1) <= n2a THEN 1 ELSE 0 END) AS sra,
      |    f1b - (CASE WHEN f1b * f1b > n2b THEN 1 ELSE 0 END)
      |      + (CASE WHEN (f1b + 1) * (f1b + 1) <= n2b THEN 1 ELSE 0 END) AS srb
      |  FROM nt)
      |SELECT CAST(label_a AS BIGINT) AS label_a, CAST(label_b AS BIGINT) AS label_b,
      |  n_a, n_b,
      |  CAST((CAST(dot AS HUGEINT) * 1048576) // (sra * srb) AS BIGINT)
      |    AS cos_centroids_fp
      |FROM sq
      |ORDER BY label_a, label_b""".stripMargin

  /** q226: embedding-space drift monitor — per label, how far did the
    * centroid MOVE between the old dumps (vec_id % 10 ≠ 0) and the new one?
    * The corpus-drift check an embedding-indexed 100 TB store runs on every
    * ingest: a drifted centroid invalidates IVF cell assignments (q51/q102)
    * and SemDeDup cells (q156) long before recall visibly degrades.
    *
    * Exactness at ANY corpus size: coordinates quantize by the shared
    * round(x·2^24) rule (exact for f32), but the drift is computed at the
    * MEAN grain — dm_d = s_new_d div n_new − s_old_d div n_old — NOT as
    * cross-multiplied sum deltas: means are bounded by the coordinate range
    * (|dm| ≤ 2^25), so drift² = Σ_d dm² ≤ 64·2^50 stays BIGINT-safe when
    * n reaches 1e12, where the (S_new·n_old − S_old·n_new)² form would
    * blow past DECIMAL(38). The floor-mean truncation (≤ 1 ulp of the
    * fixed-point grid per dim, truncating toward zero in BOTH engines) is
    * part of the pinned statistic, not error. Labels present in only one
    * dump are excluded (no drift is defined), stated here and mirrored by
    * the oracle's HAVING.
    *
    * Scale: one posexplode pass → ONE partial+final hash aggregate to the
    * bounded (label × 64 dim) frame with both dump sums as conditional
    * aggregates; the per-label count frame broadcasts in. The top-moving
    * dimension comes off the reduced frame via min_by (fixed-width
    * primitives — stays in HashAggregate, the round-4 rule). */
  def q226EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        (col("vec_id") % 10 === 0).as("newd"), col("embedding"))
    val counts = base.groupBy(col("label"))
      .agg(sum(when(col("newd"), 0L).otherwise(1L)).as("n_old"),
        sum(when(col("newd"), 1L).otherwise(0L)).as("n_new"))
      .filter(col("n_old") > 0 && col("n_new") > 0)
    val sums = base
      .select(col("label"), col("newd"), posexplode(col("embedding")).as(Seq("j0", "x")))
      .select(col("label"), col("newd"), (col("j0") + 1).as("j"),
        round(col("x").cast("double") * FixedPoint, 0).cast("long").as("xq"))
      .groupBy(col("label"), col("j"))
      .agg(sum(when(!col("newd"), col("xq"))).as("s_old"),
        sum(when(col("newd"), col("xq"))).as("s_new"))
    val deltas = graft.Caches.persist(
      sums.join(broadcast(counts), Seq("label"))
        .select(col("label"), col("j"), col("n_old"), col("n_new"),
          (expr("s_new div n_new") - expr("s_old div n_old")).as("dm")))
    val perLabel = deltas.groupBy(col("label"), col("n_old"), col("n_new"))
      .agg(sum(col("dm") * col("dm")).as("drift2"),
        max(abs(col("dm"))).as("ma"))
    perLabel.join(deltas.select(col("label"), col("j"), col("dm")), Seq("label"))
      .filter(abs(col("dm")) === col("ma"))
      .groupBy(col("label"), col("n_old"), col("n_new"), col("drift2"))
      .agg(min(col("j")).cast("long").as("top_dim"),
        min_by(col("dm"), col("j")).as("top_dm"))
      .orderBy(col("label"))
  }

  val q226Oracle: String =
    s"""WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    vec_id % 10 = 0 AS newd, embedding
      |  FROM embeddings),
      |cnt AS (
      |  SELECT label,
      |    CAST(sum(CASE WHEN newd THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
      |    CAST(sum(CASE WHEN newd THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM e GROUP BY 1
      |  HAVING sum(CASE WHEN newd THEN 0 ELSE 1 END) > 0
      |     AND sum(CASE WHEN newd THEN 1 ELSE 0 END) > 0),
      |q AS (
      |  SELECT label, newd, i + 1 AS j,
      |    CAST(round(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * $FixedPoint)
      |      AS BIGINT) AS xq
      |  FROM e, unnest(range(0, len(embedding))) AS u(i)),
      |s AS (
      |  SELECT label, j,
      |    CAST(sum(CASE WHEN NOT newd THEN xq END) AS BIGINT) AS s_old,
      |    CAST(sum(CASE WHEN newd THEN xq END) AS BIGINT) AS s_new
      |  FROM q GROUP BY 1, 2),
      |d AS (
      |  SELECT s.label, j, n_old, n_new,
      |    (s_new // n_new) - (s_old // n_old) AS dm
      |  FROM s JOIN cnt ON s.label = cnt.label),
      |p AS (
      |  SELECT label, n_old, n_new,
      |    CAST(sum(dm * dm) AS BIGINT) AS drift2, max(abs(dm)) AS ma
      |  FROM d GROUP BY 1, 2, 3)
      |SELECT p.label, p.n_old, p.n_new, p.drift2,
      |  CAST(min(d.j) AS BIGINT) AS top_dim,
      |  CAST(min_by(d.dm, d.j) AS BIGINT) AS top_dm
      |FROM p JOIN d ON d.label = p.label AND abs(d.dm) = p.ma
      |GROUP BY 1, 2, 3, 4
      |ORDER BY p.label""".stripMargin

  /** q239: hard-negative mining for contrastive embedding training
    * (triplet/InfoNCE loss wants negatives the model CURRENTLY confuses —
    * Xiong et al. 2021's ANCE recipe): per query (the q50 probe set,
    * vec_id % 100 = 0), the top-5 most-similar vectors with a DIFFERENT
    * label, each next to the query's best SAME-label similarity and a
    * margin-violation flag (negative scored above the best positive = the
    * triplet the trainer most needs). One scored pass feeds both the
    * negative ranking and the positive max — the corpus is scanned once
    * per query, not twice.
    *
    * Scale: queries broadcast (the q50 stance); at real scale the scored
    * pass swaps to the q51/q102 IVF probe join with the same downstream
    * ranking unchanged — mining quality degrades gracefully with nprobe,
    * which is exactly how production ANCE refreshes negatives. */
  def q239HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = cosCorpus(s, dir)
    val scored = bruteScored(cosProbes(emb.filter(col("vec_id") % 100 === 0)), emb)
    val posTop = scored.filter(col("label") === col("qlabel"))
      .groupBy(col("query_id")).agg(max(col("cos_sim")).as("top_pos_sim"))
    topK(scored.filter(col("label") =!= col("qlabel")), 5)
      .join(broadcast(posTop), Seq("query_id"))
      .select(col("query_id"), col("qlabel").as("q_label"),
        col("rk"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("cos_sim"),
        col("top_pos_sim"),
        (col("cos_sim") > col("top_pos_sim")).cast("long").as("margin_violation"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q239Oracle: String =
    s"""WITH e AS (SELECT vec_id, label, ${vSql("embedding")} AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM e),
      |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn
      |      FROM n WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT query_id, q_label, n.vec_id, n.label,
      |         ${dotSql("qv", "v")} / (qn * nrm) AS cos_sim
      |  FROM q JOIN n ON query_id <> n.vec_id),
      |pos AS (
      |  SELECT query_id, max(cos_sim) AS top_pos_sim
      |  FROM scored WHERE label = q_label GROUP BY 1),
      |negs AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, vec_id ASC) AS rk
      |  FROM scored WHERE label <> q_label)
      |SELECT negs.query_id, CAST(q_label AS BIGINT) AS q_label,
      |  CAST(rk AS BIGINT) AS rk, vec_id AS neg_id,
      |  CAST(label AS BIGINT) AS neg_label, cos_sim, top_pos_sim,
      |  CAST(CASE WHEN cos_sim > top_pos_sim THEN 1 ELSE 0 END AS BIGINT)
      |    AS margin_violation
      |FROM negs JOIN pos ON negs.query_id = pos.query_id
      |WHERE rk <= 5
      |ORDER BY negs.query_id, rk""".stripMargin

  /** q249: MaxSim late-interaction retrieval (Khattab & Zaharia 2020,
    * ColBERT) — the multi-vector scoring model between single-vector ANN
    * (q50–q53) and full cross-attention: a document is represented by M
    * token-level vectors, and score(q, d) = Σ over query vectors of the
    * MAX similarity to any document vector, so a match on ANY facet of
    * the query counts. Here M = 4 sub-vectors of 16 dims sliced from the
    * 64-dim embedding — a deterministic stand-in for per-token vectors
    * (this container has no embedding model; the PLUMBING — slicing,
    * per-sub-vector max, fixed-order sum, ranking — is the operator).
    *
    * Float discipline: the four per-query-slot maxima are pivoted into
    * COLUMNS (conditional max — order-insensitive) and summed as the
    * fixed expression m0+m1+m2+m3, never a float SUM aggregate whose
    * reduction order could differ between engines or shuffle widths.
    *
    * Scale: query sub-vectors broadcast (the q50 stance); the scored pass
    * is one scan of the corpus sub-vector stream; per (query, doc, slot)
    * max and the 4-column pivot are map-side-combinable hash aggregates.
    * At real scale each slot's max swaps to an IVF probe join (q51) per
    * sub-vector — MaxSim over approximate per-slot candidates is exactly
    * ColBERT's production retrieval mode; the pivot+rank is unchanged. */
  def q249MaxsimTopk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    val sub = Tables.embeddings(s, dir)
      .select(col("vec_id"), v(col("embedding")).as("vv"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 3), k -> named_struct('k', k, 'sv', slice(vv, 1 + 16 * k, 16)))")).as("t"))
      .select(col("vec_id"), col("t.k").as("k"), col("t.sv").as("sv"))
      .withColumn("sn", norm(col("sv")))
    val qs = sub.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("k").as("qk"),
        col("sv").as("qv"), col("sn").as("qn"))
    val slotMax = broadcast(qs).join(sub, col("query_id") =!= col("vec_id"))
      .withColumn("sim", dot(col("qv"), col("sv")) / (col("qn") * col("sn")))
      .groupBy(col("query_id"), col("vec_id"), col("qk"))
      .agg(max(col("sim")).as("m"))
    val pair = slotMax.groupBy(col("query_id"), col("vec_id"))
      .agg(max(when(col("qk") === 0, col("m"))).as("m0"),
        max(when(col("qk") === 1, col("m"))).as("m1"),
        max(when(col("qk") === 2, col("m"))).as("m2"),
        max(when(col("qk") === 3, col("m"))).as("m3"))
      .withColumn("maxsim", col("m0") + col("m1") + col("m2") + col("m3"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("maxsim").desc, col("vec_id").asc)
    pair.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id"), col("maxsim"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q249Oracle: String =
    s"""WITH e AS (SELECT vec_id, ${vSql("embedding")} AS vv FROM embeddings),
       |ks AS (SELECT vec_id, unnest([0, 1, 2, 3]) AS k, vv FROM e),
       |sub AS (SELECT vec_id, k, list_slice(vv, 1 + 16 * k, 16 * (k + 1)) AS sv FROM ks),
       |sn AS (SELECT vec_id, k, sv, ${normSql("sv")} AS snr FROM sub),
       |q AS (SELECT vec_id AS query_id, k AS qk, sv AS qv, snr AS qn
       |      FROM sn WHERE vec_id % 100 = 0),
       |slot_max AS (
       |  SELECT query_id, s.vec_id, qk, max(${dotSql("qv", "sv")} / (qn * snr)) AS m
       |  FROM q JOIN sn s ON query_id <> s.vec_id GROUP BY 1, 2, 3),
       |pair AS (
       |  SELECT query_id, vec_id,
       |    max(CASE WHEN qk = 0 THEN m END) AS m0,
       |    max(CASE WHEN qk = 1 THEN m END) AS m1,
       |    max(CASE WHEN qk = 2 THEN m END) AS m2,
       |    max(CASE WHEN qk = 3 THEN m END) AS m3
       |  FROM slot_max GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, m0 + m1 + m2 + m3 AS maxsim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY m0 + m1 + m2 + m3 DESC, vec_id ASC) AS rk
       |  FROM pair)
       |SELECT query_id, rk, vec_id, maxsim FROM ranked
       |WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin

  /** q265: NDCG@10 retrieval evaluation (Järvelin & Kekäläinen 2002) — the
    * metric that grades the ANN stack (q50–q53, q102, q249) as a RETRIEVAL
    * system, not just a nearest-neighbor oracle: per probe query, the
    * discounted cumulative gain of label-relevant results in the cosine
    * top-10, normalized by the ideal ordering. The discounts are
    * [[gainTable]]'s exact integers, the ideal DCG is a cumulative-gain
    * lookup at min(n_relevant, 10) — an equi-join on the 10-row discount
    * frame, not a θ-join — and NDCG ships in ppm.
    *
    * Scale: the scored pass is q50's declared broadcast-queries × corpus
    * scan (swap in the IVF probe join at real scale, metric unchanged);
    * per-label corpus counts are one aggregate; everything after runs on
    * |queries| rows. */
  def q265NdcgRetrieval(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Caches.persist(cosCorpus(s, dir))
    val gains = gainTable(s)
    val top = graded(topK(bruteScored(evalProbes(emb), emb), 10))
    val agg = withGain(top, gains).groupBy(col("query_id"), col("qlabel"))
      .agg(hits.as("hits"), dcg.as("dcg_fp"))
    withIdcg(withNRel(agg, emb), gains)
      .select(col("query_id"), col("qlabel").as("label"), col("n_rel"),
        col("hits"), col("dcg_fp"), col("cum_g").as("idcg_fp"), ndcgPpm("dcg_fp").as("ndcg_ppm"))
      .orderBy(col("query_id"))
  }

  val q265Oracle: String =
    s"""WITH $pidsSql,
       |rks AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS rk),
       |${graft.ops.Text.uniLog2Ctes("ng_", "(SELECT rk, rk + 1 AS x FROM rks)", "x", Seq("rk"))},
       |gains AS MATERIALIZED (
       |  SELECT rk, 68719476736 // lg AS g,
       |    CAST(sum(68719476736 // lg) OVER (ORDER BY rk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_g
       |  FROM ng_lg),
       |e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |        ${vSql("embedding")} AS vv FROM embeddings),
       |n AS (SELECT vec_id, label, vv, ${normSql("vv")} AS nrm FROM e),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, vv AS qv, nrm AS qn
       |      FROM n WHERE vec_id IN (SELECT vec_id FROM pids)),
       |ranked AS (
       |  SELECT query_id, qlabel, vec_id,
       |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${dotSql("qv", "vv")} / (qn * nrm) DESC, vec_id ASC) AS rk
       |  FROM q JOIN n ON query_id <> vec_id),
       |dcg AS (
       |  SELECT query_id, qlabel, CAST(sum(rel) AS BIGINT) AS hits,
       |    CAST(sum(rel * g) AS BIGINT) AS dcg_fp
       |  FROM ranked JOIN gains USING (rk)
       |  WHERE rk <= 10 GROUP BY 1, 2),
       |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM n GROUP BY label)
       |SELECT d.query_id, d.qlabel AS label, lc.c - 1 AS n_rel, d.hits, d.dcg_fp,
       |  gains.cum_g AS idcg_fp,
       |  CAST((d.dcg_fp * 1000000) // gains.cum_g AS BIGINT) AS ndcg_ppm
       |FROM dcg d
       |JOIN lc ON lc.label = d.qlabel
       |JOIN gains ON gains.rk = least(lc.c - 1, 10)
       |ORDER BY d.query_id""".stripMargin

  /** q268: MRR@10 and recall@10 retrieval evaluation (VERDICT r9 item 5) —
    * the other two numbers every retrieval paper reports next to q265's
    * NDCG, completing the eval family: per probe query, the reciprocal of
    * the FIRST relevant rank in the cosine top-10 (0 when none — the
    * convention that makes MRR averageable), recall@10 = hits / total
    * relevant corpus members, and precision@10 = hits / 10. Shares q265's
    * scored pass (the brute kernels — IVF probes at real scale, metric
    * unchanged) and needs NO log2 machinery.
    *
    * Scale: one scored pass, one per-label corpus count aggregate,
    * everything after runs on |queries| rows. */
  def q268RetrievalMrrRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Caches.persist(cosCorpus(s, dir))
    val agg = graded(topK(bruteScored(evalProbes(emb), emb), 10))
      .groupBy(col("query_id"), col("qlabel")).agg(hits.as("hits"), firstRel.as("fr"))
    withNRel(agg, emb)
      .select(col("query_id"), col("qlabel").as("label"), col("n_rel"),
        col("hits"),
        coalesce(col("fr"), lit(0L)).as("first_rel_rank"),
        rrPpm("fr").as("rr_ppm"),
        recallPpm("hits").as("recall_ppm"),
        (col("hits") * lit(100000L)).as("precision_at10_ppm"))
      .orderBy(col("query_id"))
  }

  val q268Oracle: String =
    s"""WITH $pidsSql,
       |e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |        ${vSql("embedding")} AS vv FROM embeddings),
       |n AS (SELECT vec_id, label, vv, ${normSql("vv")} AS nrm FROM e),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, vv AS qv, nrm AS qn
       |      FROM n WHERE vec_id IN (SELECT vec_id FROM pids)),
       |ranked AS (
       |  SELECT query_id, qlabel,
       |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${dotSql("qv", "vv")} / (qn * nrm) DESC, vec_id ASC) AS rk
       |  FROM q JOIN n ON query_id <> vec_id),
       |a AS (
       |  SELECT query_id, qlabel, CAST(sum(rel) AS BIGINT) AS hits,
       |    min(CASE WHEN rel = 1 THEN rk END) AS fr
       |  FROM ranked WHERE rk <= 10 GROUP BY 1, 2),
       |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM n GROUP BY label)
       |SELECT a.query_id, a.qlabel AS label, lc.c - 1 AS n_rel, hits,
       |  CAST(coalesce(fr, 0) AS BIGINT) AS first_rel_rank,
       |  CAST(CASE WHEN fr IS NULL THEN 0 ELSE 1000000 // fr END AS BIGINT)
       |    AS rr_ppm,
       |  CAST((hits * 1000000) // nullif(lc.c - 1, 0) AS BIGINT) AS recall_ppm,
       |  CAST(hits * 100000 AS BIGINT) AS precision_at10_ppm
       |FROM a JOIN lc ON lc.label = a.qlabel
       |ORDER BY a.query_id""".stripMargin

  /** q274: retrieval eval THROUGH the IVF probe join (VERDICT r10 item 1) —
    * the same MRR@10/recall@10/precision@10 as q268, but computed over the
    * q51 IVF candidate set (nprobe=2 of 8 centroid cells) instead of the
    * brute-force corpus scan, reported SIDE-BY-SIDE with the brute-force
    * numbers plus the q111-style index-recall gate (|IVF top-10 ∩ brute
    * top-10| per query). This is the swap-in the eval family's 100 TB story
    * rests on, executed and gated rather than asserted: the scored pass is
    * an EQUI-join on centroid id (shuffle by cluster — the IVF layout), so
    * its cost is ~nprobe/k of the brute scan and it never degenerates to
    * query-points × corpus.
    *
    * Queries whose probes surface no relevant candidate keep a row with
    * ivf_hits = 0 (left join + coalesce), so the gate can't overreport —
    * the q111 discipline applied to q268's metrics. */
  def q274IvfRetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Caches.persist(cosCorpus(s, dir))
    val q = evalProbes(emb)
    // brute-force reference pass (q268's scan, persisted: feeds both the
    // reference metrics and the overlap gate)
    val bfTop = graft.Caches.persist(graded(topK(bruteScored(q, emb), 10)))
    // IVF probe pass (q51's index shape at k=10). ADVICE r11: centroid
    // seeds are the 8 SMALLEST vec_ids (data-derived, TakeOrderedAndProject),
    // not a hardcoded `vec_id < 8` — a filtered or re-keyed corpus can't
    // silently yield an empty centroid set and a plausible-looking 0% index
    // recall. Identical ids (0–7) on this data.
    val sims = cellSims(emb, emb.orderBy(col("vec_id")).limit(IvfCells))
    val ivfTop = graft.Caches.persist(graded(ivfTopK(q, emb, nearest(sims, col("csim").desc, 1),
      nearest(sims.join(broadcast(evalProbeIds(emb)), Seq("vec_id")), col("csim").desc, IvfProbes),
      10)))
    // metrics on both passes + the overlap gate, all on |queries| rows
    val bfAgg = bfTop.groupBy(col("query_id"), col("qlabel"))
      .agg(hits.as("bf_hits"), firstRel.as("bf_fr"), count(lit(1)).as("bf_k"))
    val ivfAgg = ivfTop.groupBy(col("query_id"))
      .agg(hits.as("ivf_hits_raw"), firstRel.as("ivf_fr"))
    withNRel(bfAgg.join(ivfAgg, Seq("query_id"), "left")
        .join(overlap(bfTop, ivfTop), Seq("query_id"), "left"), emb)
      .withColumn("ivf_hits", coalesce(col("ivf_hits_raw"), lit(0L)))
      .withColumn("topk_overlap", coalesce(col("ov_raw"), lit(0L)))
      .select(col("query_id"), col("qlabel").as("label"), col("n_rel"),
        col("bf_hits"), rrPpm("bf_fr").as("bf_rr_ppm"), recallPpm("bf_hits").as("bf_recall_ppm"),
        col("ivf_hits"), rrPpm("ivf_fr").as("ivf_rr_ppm"), recallPpm("ivf_hits").as("ivf_recall_ppm"),
        col("topk_overlap"),
        expr("(topk_overlap * 1000000L) div bf_k").as("index_recall_ppm"))
      .orderBy(col("query_id"))
  }

  val q274Oracle: String =
    s"""WITH $pidsSql,
       |e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |        ${vSql("embedding")} AS vv FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, label, vv, ${normSql("vv")} AS nrm FROM e),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, vv AS qv, nrm AS qn
       |      FROM n WHERE vec_id IN (SELECT vec_id FROM pids)),
       |bf AS MATERIALIZED (
       |  SELECT query_id, qlabel, vec_id,
       |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${dotSql("qv", "vv")} / (qn * nrm) DESC, vec_id ASC) AS rk
       |  FROM q JOIN n ON query_id <> vec_id
       |  QUALIFY rk <= 10),
       |cent AS (SELECT vec_id AS cid, vv AS cv, nrm AS cn FROM n ORDER BY vec_id LIMIT 8),
       |sim AS MATERIALIZED (
       |  SELECT n.vec_id, cid, ${dotSql("cv", "vv")} / (cn * nrm) AS csim
       |  FROM cent CROSS JOIN n),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS arn
       |    FROM sim) t WHERE arn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS prn
       |    FROM sim WHERE vec_id IN (SELECT vec_id FROM pids)) t WHERE prn <= 2),
       |vc AS (SELECT cid, n.vec_id, n.label, vv, nrm FROM assign JOIN n ON assign.vec_id = n.vec_id),
       |ivf AS MATERIALIZED (
       |  SELECT q.query_id, vc.vec_id,
       |    CASE WHEN vc.label = q.qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dotSql("qv", "vv")} / (qn * nrm) DESC, vc.vec_id ASC) AS rk
       |  FROM probes JOIN vc ON probes.cid = vc.cid AND probes.query_id <> vc.vec_id
       |  JOIN q ON probes.query_id = q.query_id
       |  QUALIFY rk <= 10),
       |bfa AS (
       |  SELECT query_id, qlabel, CAST(sum(rel) AS BIGINT) AS bf_hits,
       |    min(CASE WHEN rel = 1 THEN rk END) AS bf_fr,
       |    CAST(count(*) AS BIGINT) AS bf_k
       |  FROM bf GROUP BY 1, 2),
       |iva AS (
       |  SELECT query_id, CAST(sum(rel) AS BIGINT) AS ivf_hits_raw,
       |    min(CASE WHEN rel = 1 THEN rk END) AS ivf_fr
       |  FROM ivf GROUP BY 1),
       |ov AS (
       |  SELECT bf.query_id, CAST(count(*) AS BIGINT) AS ov_raw
       |  FROM bf JOIN ivf ON bf.query_id = ivf.query_id AND bf.vec_id = ivf.vec_id
       |  GROUP BY 1),
       |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM n GROUP BY label)
       |SELECT b.query_id, b.qlabel AS label, lc.c - 1 AS n_rel,
       |  b.bf_hits,
       |  CAST(CASE WHEN b.bf_fr IS NULL THEN 0 ELSE 1000000 // b.bf_fr END AS BIGINT) AS bf_rr_ppm,
       |  CAST((b.bf_hits * 1000000) // nullif(lc.c - 1, 0) AS BIGINT) AS bf_recall_ppm,
       |  CAST(coalesce(iva.ivf_hits_raw, 0) AS BIGINT) AS ivf_hits,
       |  CAST(CASE WHEN iva.ivf_fr IS NULL THEN 0 ELSE 1000000 // iva.ivf_fr END AS BIGINT) AS ivf_rr_ppm,
       |  CAST((coalesce(iva.ivf_hits_raw, 0) * 1000000) // nullif(lc.c - 1, 0) AS BIGINT) AS ivf_recall_ppm,
       |  CAST(coalesce(ov.ov_raw, 0) AS BIGINT) AS topk_overlap,
       |  CAST((coalesce(ov.ov_raw, 0) * 1000000) // b.bf_k AS BIGINT) AS index_recall_ppm
       |FROM bfa b
       |LEFT JOIN iva ON iva.query_id = b.query_id
       |LEFT JOIN ov ON ov.query_id = b.query_id
       |JOIN lc ON lc.label = b.qlabel
       |ORDER BY b.query_id""".stripMargin

  /** q275: MAP@10 — mean-average-precision, the last standard retrieval
    * number next to q265's NDCG and q268's MRR/recall (VERDICT r10 item 6).
    * AP@10 = (Σ over relevant ranks r≤10 of precision@r) / min(n_rel, 10),
    * each precision@r the floored ppm cum_rel(r)·1e6 div r. Shares
    * q265/q268's scored pass (IVF probes at real scale, gated by q274);
    * everything after the top-10 filter runs on ≤10·|queries| rows. */
  def q275MapAtK(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Caches.persist(cosCorpus(s, dir))
    val agg = withCumRel(graded(topK(bruteScored(evalProbes(emb), emb), 10)))
      .groupBy(col("query_id"), col("qlabel")).agg(hits.as("hits"), precSum.as("sum_prec_raw"))
    withNRel(agg, emb)
      .withColumn("sum_prec_ppm", coalesce(col("sum_prec_raw"), lit(0L)))
      .select(col("query_id"), col("qlabel").as("label"), col("n_rel"),
        col("hits"), col("sum_prec_ppm"), apPpm("sum_prec_ppm").as("ap_ppm"))
      .orderBy(col("query_id"))
  }

  val q275Oracle: String =
    s"""WITH $pidsSql,
       |e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |        ${vSql("embedding")} AS vv FROM embeddings),
       |n AS (SELECT vec_id, label, vv, ${normSql("vv")} AS nrm FROM e),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, vv AS qv, nrm AS qn
       |      FROM n WHERE vec_id IN (SELECT vec_id FROM pids)),
       |ranked AS (
       |  SELECT query_id, qlabel,
       |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${dotSql("qv", "vv")} / (qn * nrm) DESC, vec_id ASC) AS rk
       |  FROM q JOIN n ON query_id <> vec_id),
       |cum AS (
       |  SELECT *, CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rel
       |  FROM ranked WHERE rk <= 10),
       |a AS (
       |  SELECT query_id, qlabel, CAST(sum(rel) AS BIGINT) AS hits,
       |    CAST(coalesce(sum(CASE WHEN rel = 1
       |      THEN (cum_rel * 1000000) // rk END), 0) AS BIGINT) AS sum_prec_ppm
       |  FROM cum GROUP BY 1, 2),
       |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM n GROUP BY label)
       |SELECT a.query_id, a.qlabel AS label, lc.c - 1 AS n_rel, hits, sum_prec_ppm,
       |  CAST(sum_prec_ppm // nullif(least(lc.c - 1, 10), 0) AS BIGINT) AS ap_ppm
       |FROM a JOIN lc ON lc.label = a.qlabel
       |ORDER BY a.query_id""".stripMargin

  private val TIvfK = 8 // trained-IVF cells (q277); probes 2 of 8

  /** q277: retrieval eval through a TRAINED IVF index (VERDICT r11 items
    * 1+5) — q274 executes the IVF eval path but its centroids are arbitrary
    * seed vectors (the 8 smallest vec_ids, untrained); this query trains
    * the 8-cell codebook with q110's exploded Lloyd recurrence
    * ([[lloyd]]), assigns and probes by the SAME exact integer L2
    * distance, and reports NDCG@10 and MAP@10 — the two metrics q274
    * doesn't carry — on the brute and IVF passes SIDE-BY-SIDE, plus the
    * q111 index-recall gate. This is the number a real IVF deployment
    * quotes: recall at a fixed probe fraction under a trained codebook.
    *
    * Scale: training is q110's two-shuffle-per-iteration loop over a
    * K·Dim broadcast codebook; the IVF scoring pass is an equi-join on
    * trained cell id (~nprobe/k of the corpus); the brute pass is the
    * declared q50 reference being graded against. */
  def q277TrainedIvfEval(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Caches.persist(cosCorpus(s, dir))
    // k-means training plane: one explode at the 2^12 training scale
    // (q110's representation; q156 carries both scales the same way).
    // r15 second-pass note: the q282 array-fold rewrite was TRIED here and
    // REVERTED — this query's exploded two-shuffle training is already
    // lean (probe: 20 jobs / 0.87 s task time / 0 MB shuffled at sf0.1),
    // and the higher-order-function folds run interpreted (no whole-stage
    // codegen), measuring 1.4 → 2.2 s quiet. The fold rewrite pays only
    // where the before shape's exchanges dominate (q281/q282/q102).
    val xk = graft.Caches.persist(coords(s, dir)
      .select(col("vec_id"), col("j"), fixedPoint(KmFP).as("xk")))
    // seeds: the TIvfK smallest vec_ids — data-derived (ADVICE r11: never
    // empty on a filtered/re-keyed corpus), TakeOrderedAndProject not a
    // global sort
    val seeds = Tables.embeddings(s, dir).select(col("vec_id"))
      .orderBy(col("vec_id")).limit(TIvfK)
    // trained-cell distances feed BOTH the corpus assignment and the
    // query probes — persisted so the two consumers share one pass
    val dist = graft.Caches.persist(l2Dists(xk, lloyd(xk, xk.join(broadcast(seeds), Seq("vec_id")), TIvfK, "q277")))
    val q = evalProbes(emb)
    val bfTop = graft.Caches.persist(graded(topK(bruteScored(q, emb), 10)))
    val ivfTop = graft.Caches.persist(graded(ivfTopK(q, emb, nearest(dist, col("d2").asc, 1),
      nearest(dist.join(broadcast(evalProbeIds(emb)), Seq("vec_id")), col("d2").asc, IvfProbes),
      10)))
    val gains = gainTable(s)
    val bfM = withGain(withCumRel(bfTop), gains).groupBy(col("query_id"), col("qlabel"))
      .agg(coalesce(dcg, lit(0L)).as("bf_dcg_fp"), coalesce(precSum, lit(0L)).as("bf_sp_ppm"),
        count(lit(1)).as("bf_k"))
    val ivfM = withGain(withCumRel(ivfTop), gains).groupBy(col("query_id"))
      .agg(coalesce(dcg, lit(0L)).as("ivf_dcg_raw"), coalesce(precSum, lit(0L)).as("ivf_sp_raw"))
    withIdcg(withNRel(bfM.join(ivfM, Seq("query_id"), "left")
        .join(overlap(bfTop, ivfTop), Seq("query_id"), "left"), emb), gains)
      .select(col("query_id"), col("qlabel").as("label"), col("n_rel"),
        ndcgPpm("bf_dcg_fp").as("bf_ndcg_ppm"),
        ndcgPpm("coalesce(ivf_dcg_raw, 0L)").as("ivf_ndcg_ppm"),
        apPpm("bf_sp_ppm").as("bf_ap_ppm"),
        apPpm("coalesce(ivf_sp_raw, 0L)").as("ivf_ap_ppm"),
        coalesce(col("ov_raw"), lit(0L)).as("topk_overlap"),
        expr("(coalesce(ov_raw, 0L) * 1000000L) div bf_k").as("index_recall_ppm"))
      .orderBy(col("query_id"))
  }

  val q277Oracle: String = {
    def distCte(t: Int, centCte: String): String =
      s"""tdist$t AS MATERIALIZED (
         |  SELECT x.vec_id, c.cid, CAST(sum((x.xk - c.cq) * (x.xk - c.cq)) AS BIGINT) AS d2
         |  FROM xk x JOIN $centCte c ON x.j = c.j
         |  GROUP BY 1, 2),
         |tasg$t AS MATERIALIZED (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM tdist$t) t WHERE rn = 1)""".stripMargin
    def centCte(t: Int): String =
      s"""tcent$t AS MATERIALIZED (
         |  SELECT a.cid, x.j, CAST(sum(x.xk) AS BIGINT) // count(*) AS cq
         |  FROM xk x JOIN tasg$t a USING (vec_id)
         |  GROUP BY 1, 2)""".stripMargin
    val iters = (1 to KmIters).map { t =>
      distCte(t, if (t == 1) "tcent0" else s"tcent${t - 1}") + ",\n" + centCte(t)
    }.mkString(",\n")
    s"""WITH $pidsSql,
       |xk AS MATERIALIZED (
       |  SELECT vec_id, j,
       |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $KmFP) AS BIGINT) AS xk
       |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
       |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $TIvfK),
       |tcent0 AS (SELECT vec_id AS cid, j, xk AS cq FROM xk
       |           WHERE vec_id IN (SELECT vec_id FROM seeds)),
       |$iters,
       |${distCte(KmIters + 1, s"tcent$KmIters")},
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS prn
       |    FROM tdist${KmIters + 1}
       |    WHERE vec_id IN (SELECT vec_id FROM pids)) t WHERE prn <= 2),
       |e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |        ${vSql("embedding")} AS vv FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, label, vv, ${normSql("vv")} AS nrm FROM e),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, vv AS qv, nrm AS qn
       |      FROM n WHERE vec_id IN (SELECT vec_id FROM pids)),
       |bf AS MATERIALIZED (
       |  SELECT query_id, qlabel, vec_id,
       |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${dotSql("qv", "vv")} / (qn * nrm) DESC, vec_id ASC) AS rk
       |  FROM q JOIN n ON query_id <> vec_id
       |  QUALIFY rk <= 10),
       |vc AS (SELECT a.cid, n.vec_id, n.label, vv, nrm
       |       FROM tasg${KmIters + 1} a JOIN n ON a.vec_id = n.vec_id),
       |ivf AS MATERIALIZED (
       |  SELECT q.query_id, vc.vec_id,
       |    CASE WHEN vc.label = q.qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${dotSql("qv", "vv")} / (qn * nrm) DESC, vc.vec_id ASC) AS rk
       |  FROM probes JOIN vc ON probes.cid = vc.cid AND probes.query_id <> vc.vec_id
       |  JOIN q ON probes.query_id = q.query_id
       |  QUALIFY rk <= 10),
       |rks AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS rk),
       |${graft.ops.Text.uniLog2Ctes("tg_", "(SELECT rk, rk + 1 AS x FROM rks)", "x", Seq("rk"))},
       |gains AS MATERIALIZED (
       |  SELECT rk, 68719476736 // lg AS g,
       |    CAST(sum(68719476736 // lg) OVER (ORDER BY rk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_g
       |  FROM tg_lg),
       |bfc AS (
       |  SELECT *, CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rel
       |  FROM bf),
       |ivfc AS (
       |  SELECT *, CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rel
       |  FROM ivf),
       |bfa AS (
       |  SELECT query_id, qlabel,
       |    CAST(coalesce(sum(rel * g), 0) AS BIGINT) AS bf_dcg_fp,
       |    CAST(coalesce(sum(CASE WHEN rel = 1
       |      THEN (cum_rel * 1000000) // rk END), 0) AS BIGINT) AS bf_sp_ppm,
       |    CAST(count(*) AS BIGINT) AS bf_k
       |  FROM bfc JOIN gains USING (rk) GROUP BY 1, 2),
       |iva AS (
       |  SELECT query_id,
       |    CAST(coalesce(sum(rel * g), 0) AS BIGINT) AS ivf_dcg_raw,
       |    CAST(coalesce(sum(CASE WHEN rel = 1
       |      THEN (cum_rel * 1000000) // rk END), 0) AS BIGINT) AS ivf_sp_raw
       |  FROM ivfc JOIN gains USING (rk) GROUP BY 1),
       |ov AS (
       |  SELECT bf.query_id, CAST(count(*) AS BIGINT) AS ov_raw
       |  FROM bf JOIN ivf ON bf.query_id = ivf.query_id AND bf.vec_id = ivf.vec_id
       |  GROUP BY 1),
       |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c FROM n GROUP BY label)
       |SELECT b.query_id, b.qlabel AS label, lc.c - 1 AS n_rel,
       |  CAST((b.bf_dcg_fp * 1000000) // gains.cum_g AS BIGINT) AS bf_ndcg_ppm,
       |  CAST((coalesce(iva.ivf_dcg_raw, 0) * 1000000) // gains.cum_g AS BIGINT) AS ivf_ndcg_ppm,
       |  CAST(b.bf_sp_ppm // nullif(least(lc.c - 1, 10), 0) AS BIGINT) AS bf_ap_ppm,
       |  CAST(coalesce(iva.ivf_sp_raw, 0) // nullif(least(lc.c - 1, 10), 0) AS BIGINT) AS ivf_ap_ppm,
       |  CAST(coalesce(ov.ov_raw, 0) AS BIGINT) AS topk_overlap,
       |  CAST((coalesce(ov.ov_raw, 0) * 1000000) // b.bf_k AS BIGINT) AS index_recall_ppm
       |FROM bfa b
       |LEFT JOIN iva ON iva.query_id = b.query_id
       |LEFT JOIN ov ON ov.query_id = b.query_id
       |JOIN lc ON lc.label = b.qlabel
       |JOIN gains ON gains.rk = least(lc.c - 1, 10)
       |ORDER BY b.query_id""".stripMargin
  }

  /** q281: TRAINED product-quantization codebooks (VERDICT r12 item 3) —
    * q102's IVF-PQ encodes residuals against an UNTRAINED stand-in codebook
    * (the PqK smallest vec_ids' residuals); this query feeds those same
    * residuals through q110's exact fixed-point Lloyd recurrence PER
    * SUBSPACE (8 blocks × 8 dims, 16 codes each, 2 iterations, 2¹²
    * quantization, truncating integer means — identical in both engines)
    * and reports the quantization distortion training buys, per block:
    * SSE under the seed codebook (exactly what q102's untrained codes pay)
    * vs SSE under the trained codebook, improvement in ppm. Training
    * starts FROM the seed codebook, so Lloyd's monotone descent bounds
    * sse_trained ≤ sse_seed + KmIters·n·PqDims (the integer-truncation
    * slack: a truncated mean is off the exact mean by < 1 per coordinate) —
    * a law OperatorsSpec pins; the win on planted structure is recorded in
    * `evidence/probe_ivf_trained_pq.json` (the α grid at sf0.1) and
    * `evidence/probe_ivf_trained_x100_r14.json` (200k vectors).
    *
    * Scale stance: the shared array-form IVF-PQ kernels — assignment is a
    * row-local fold per (vec, block) against a driver-held 1-row codebook
    * attached with `.scalar()`; each Lloyd update is ONE partial-aggregated
    * mean per (block, code, coordinate), collected and reassembled on the
    * driver; one final pass scores every block against both codebooks.
    * The corpus is touched once per round, never pairwise, and nothing is
    * checkpointed. All arithmetic exact int64 at the 2¹² training scale;
    * the ppm improvement rides DECIMAL(38,0)/HUGEINT (sse·10⁶ passes 2⁶³
    * on large corpora). */
  def q281TrainedPqDistortion(s: SparkSession, dir: String): DataFrame = {
    val plane = quantPlane(Tables.embeddings(s, dir), KmFP)
    // residuals against the UNTRAINED seed cells (q102's shape, data-derived)
    val casg = assignResid(plane, codebook(seedRows(plane, IvfCells)
      .select(col("vec_id").as("cid"), col("xv").as("cq")), IvfCells, "q281/coarse seed"))
    val blocks = residBlocks(casg)
    // seed codebook: the PqK smallest vec_ids' residual blocks
    val seed = pqSeed(seedRows(casg, PqK), "q281/pq seed")
    // one pass scores every block against both codebooks
    pqAssign(pqAssign(blocks, seed).withColumnRenamed("best", "seed_best"), pqLloyd(blocks, seed, "q281"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("seed_best.d2")).as("sse_seed"),
        sum(col("best.d2")).as("sse_trained"))
      .select(col("block").cast("long").as("block"), col("n_vecs"),
        col("sse_seed"), col("sse_trained"),
        expr("CAST((CAST(sse_seed - sse_trained AS DECIMAL(38,0)) * 1000000)" +
          " div nullif(sse_seed, 0) AS BIGINT)").as("improvement_ppm"))
      .orderBy(col("block"))
  }

  val q281Oracle: String = {
    def pdistCte(t: Int, centCte: String): String =
      s"""pdist$t AS MATERIALIZED (
         |  SELECT r.vec_id, r.block, p.pcid,
         |    CAST(sum((r.rq - p.pq) * (r.rq - p.pq)) AS BIGINT) AS d2
         |  FROM resid r JOIN $centCte p ON r.block = p.block AND r.j = p.j
         |  GROUP BY 1, 2, 3),
         |pasg$t AS MATERIALIZED (
         |  SELECT vec_id, block, pcid, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, block
         |      ORDER BY d2 ASC, pcid ASC) AS rn
         |    FROM pdist$t) t WHERE rn = 1)""".stripMargin
    def pcentCte(t: Int): String =
      s"""pcent$t AS MATERIALIZED (
         |  SELECT a.block, a.pcid, r.j, CAST(sum(r.rq) AS BIGINT) // count(*) AS pq
         |  FROM resid r JOIN pasg$t a ON r.vec_id = a.vec_id AND r.block = a.block
         |  GROUP BY 1, 2, 3)""".stripMargin
    val iters = (1 to KmIters).map { t =>
      pdistCte(t, if (t == 1) "pcent0" else s"pcent${t - 1}") + ",\n" + pcentCte(t)
    }.mkString(",\n")
    s"""WITH xk AS MATERIALIZED (
       |  SELECT vec_id, j, CAST((j - 1) // $PqDims AS BIGINT) AS block,
       |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $KmFP) AS BIGINT) AS xk
       |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
       |cseeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $IvfCells),
       |ccent AS (SELECT vec_id AS ccid, j, xk AS cq FROM xk
       |          WHERE vec_id IN (SELECT vec_id FROM cseeds)),
       |cdist AS (
       |  SELECT x.vec_id, c.ccid, sum((x.xk - c.cq) * (x.xk - c.cq)) AS cd2
       |  FROM xk x JOIN ccent c ON x.j = c.j GROUP BY 1, 2),
       |casg AS (
       |  SELECT vec_id, ccid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cd2 ASC, ccid ASC) AS rn FROM cdist) t WHERE rn = 1),
       |resid AS MATERIALIZED (
       |  SELECT x.vec_id, x.j, x.block, x.xk - c.cq AS rq
       |  FROM xk x JOIN casg a ON x.vec_id = a.vec_id
       |  JOIN ccent c ON a.ccid = c.ccid AND x.j = c.j),
       |pseeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |pcent0 AS MATERIALIZED (
       |  SELECT block, vec_id AS pcid, j, rq AS pq FROM resid
       |  WHERE vec_id IN (SELECT vec_id FROM pseeds)),
       |$iters,
       |${pdistCte(KmIters + 1, s"pcent$KmIters")},
       |seed AS (
       |  SELECT block, CAST(count(*) AS BIGINT) AS n_vecs,
       |    CAST(sum(d2) AS BIGINT) AS sse_seed
       |  FROM pasg1 GROUP BY 1),
       |tr AS (
       |  SELECT block, CAST(sum(d2) AS BIGINT) AS sse_trained
       |  FROM pasg${KmIters + 1} GROUP BY 1)
       |SELECT s.block, s.n_vecs, s.sse_seed, t.sse_trained,
       |  CAST((CAST(s.sse_seed - t.sse_trained AS HUGEINT) * 1000000)
       |    // nullif(s.sse_seed, 0) AS BIGINT) AS improvement_ppm
       |FROM seed s JOIN tr t USING (block) ORDER BY block""".stripMargin
  }

  /** q282: the FULLY-TRAINED IVF-PQ index, evaluated end-to-end — the
    * production ANN shape with both halves trained: q277's Lloyd-trained
    * coarse codebook (8 cells, 2 iterations, 2¹² fixed point) chooses the
    * cells, residuals against the TRAINED centroids feed q281's Lloyd-
    * trained per-subspace PQ codebooks (8 blocks × 16 codes), candidates
    * from the nprobe=2 probed cells are scored by asymmetric distance
    * (sum of LUT entries at their codes — no raw-vector reads at query
    * time), and the index's top-10 is graded against the EXACT integer-L2
    * brute top-10 on the same 2¹² plane: per query, candidate-set size,
    * top-k overlap, and recall@10 in exact floored ppm. This is the
    * number an IVF-PQ deployment actually ships (FAISS-style: train
    * coarse, train PQ on residuals, probe, ADC) — q102 executes the same
    * topology untrained, q277/q281 train each half in isolation.
    *
    * Scale stance: ONE embeddings load and ONE quantization pass in array
    * form feed every side, and the index side is built from the shared
    * array-form IVF-PQ kernels: every distance, argmin, and LUT entry is a
    * row-local integer fold against a 1-row codebook attached with
    * `.scalar()` (no join). Everything whose size a dictionary bounds is
    * driver-held (`Caches.bounded`, jobs labelled `q282/<phase>`): the seed
    * and trained codebooks (each Lloyd round is ONE mean aggregate,
    * collected), the EvalProbeK probe vectors and their probed cells. So
    * nothing is checkpointed, and the corpus-scale shuffles are the
    * per-round mean aggregates and the two top-k windows; each side's
    * top-10 gathers into one list per query, and the overlap is their
    * intersection (the ADC window also counts each query's candidates,
    * n_cand). The one nested-loop join is the brute grading scan's
    * declared query × corpus inequality. Every distance, argmin, mean, and
    * rank is exact int64 at the 2¹² training scale, so the DuckDB oracle
    * hash-matches bit-for-bit. */
  def q282TrainedIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val plane = quantPlane(Tables.embeddings(s, dir), KmFP) // also the brute side's input
    // coarse codebook: q277's trained recurrence (data-derived seeds)
    val cells = (1 to KmIters).foldLeft(codebook(seedRows(plane, IvfCells)
        .select(col("vec_id").as("cid"), col("xv").as("cq")), IvfCells, "q282/coarse seed")) { (c, r) =>
      meanBook(nearestCell(plane, c).withColumn("cid", col("best.cid")), Seq("cid"), "xv", "cq",
        IvfCells * Dim, s"q282/coarse r$r")
    }
    val casg = assignResid(plane, cells)
    // the fixed probe vectors and their probed cells, driver-held
    val qv = graft.Caches.bounded(evalProbeRows(plane), EvalProbeK, "q282/probe vectors")
    val probes = graft.Caches.bounded(probeResid(qv, cells), EvalProbeK * IvfProbes, "q282/probe cells")
    // PQ codebooks: q281's trained recurrence on the residual subspaces
    val book = pqLloyd(residBlocks(casg), pqSeed(seedRows(casg, PqK), "q282/pq seed"), "q282")
    val ivf = adcTop10(pqCodes(casg, book), pqLut(probes, book))
      .groupBy(col("query_id"))
      .agg(collect_list(col("vec_id")).as("ivf_top"), max(col("n_cand")).as("n_cand"))
    // brute exact-L2 reference on the same 2^12 plane — the q50 broadcast
    // query × corpus scan with a codegen'd integer array fold (the exploded
    // j-join formulation computes identical values but pays a 64× shuffle
    // fan-out and dominated the bench wall at 9.3 s; this shape reads the
    // corpus once per query batch, no shuffle before the top-k window).
    val bf = broadcast(qv.select(col("vec_id").as("query_id"), col("xv").as("qxv")))
      .join(plane, col("query_id") =!= col("vec_id"))
      .withColumn("bd2", expr(l2("qxv", "xv")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("bd2").asc, col("vec_id").asc)))
      .filter(col("rk") <= 10)
      .groupBy(col("query_id"))
      .agg(collect_list(col("vec_id")).as("bf_top"), count(lit(1)).as("bf_k"))
    // both top-10 lists are duplicate-free, so the overlap is the size of
    // their intersection; a query whose probed cells hold only itself has
    // no ADC candidates (n_cand 0)
    bf.join(ivf, Seq("query_id"), "left")
      .withColumn("ov", when(col("ivf_top").isNull, lit(0L))
        .otherwise(size(array_intersect(col("bf_top"), col("ivf_top"))).cast("long")))
      .select(col("query_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"), col("bf_k"),
        col("ov").as("topk_overlap"),
        expr("(ov * 1000000) div bf_k").as("recall_ppm"))
      .orderBy(col("query_id"))
  }

  val q282Oracle: String = {
    def cIter(t: Int, centCte: String): String =
      s"""c2dist$t AS MATERIALIZED (
         |  SELECT x.vec_id, c.cid, CAST(sum((x.xk - c.cq) * (x.xk - c.cq)) AS BIGINT) AS d2
         |  FROM xk x JOIN $centCte c ON x.j = c.j
         |  GROUP BY 1, 2),
         |c2asg$t AS MATERIALIZED (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2 ASC, cid ASC) AS rn FROM c2dist$t) t WHERE rn = 1)""".stripMargin
    def cCent(t: Int): String =
      s"""c2cent$t AS MATERIALIZED (
         |  SELECT a.cid, x.j, CAST(sum(x.xk) AS BIGINT) // count(*) AS cq
         |  FROM xk x JOIN c2asg$t a USING (vec_id)
         |  GROUP BY 1, 2)""".stripMargin
    val cIters = (1 to KmIters).map { t =>
      cIter(t, if (t == 1) "c2cent0" else s"c2cent${t - 1}") + ",\n" + cCent(t)
    }.mkString(",\n")
    def pIter(t: Int, centCte: String): String =
      s"""p2dist$t AS MATERIALIZED (
         |  SELECT r.vec_id, r.block, p.pcid,
         |    CAST(sum((r.rq - p.pq) * (r.rq - p.pq)) AS BIGINT) AS d2
         |  FROM resid r JOIN $centCte p ON r.block = p.block AND r.j = p.j
         |  GROUP BY 1, 2, 3),
         |p2asg$t AS MATERIALIZED (
         |  SELECT vec_id, block, pcid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, block
         |      ORDER BY d2 ASC, pcid ASC) AS rn FROM p2dist$t) t WHERE rn = 1)""".stripMargin
    def pCent(t: Int): String =
      s"""p2cent$t AS MATERIALIZED (
         |  SELECT a.block, a.pcid, r.j, CAST(sum(r.rq) AS BIGINT) // count(*) AS pq
         |  FROM resid r JOIN p2asg$t a ON r.vec_id = a.vec_id AND r.block = a.block
         |  GROUP BY 1, 2, 3)""".stripMargin
    val pIters = (1 to KmIters).map { t =>
      pIter(t, if (t == 1) "p2cent0" else s"p2cent${t - 1}") + ",\n" + pCent(t)
    }.mkString(",\n")
    val T = KmIters + 1
    s"""WITH $pidsSql,
       |xk AS MATERIALIZED (
       |  SELECT vec_id, j, CAST((j - 1) // $PqDims AS BIGINT) AS block,
       |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $KmFP) AS BIGINT) AS xk
       |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
       |cseeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $IvfCells),
       |c2cent0 AS (SELECT vec_id AS cid, j, xk AS cq FROM xk
       |            WHERE vec_id IN (SELECT vec_id FROM cseeds)),
       |$cIters,
       |${cIter(T, s"c2cent$KmIters")},
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cid AS ccid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2 ASC, cid ASC) AS prn
       |    FROM c2dist$T
       |    WHERE vec_id IN (SELECT vec_id FROM pids)) t WHERE prn <= $IvfProbes),
       |resid AS MATERIALIZED (
       |  SELECT x.vec_id, x.j, x.block, x.xk - c.cq AS rq
       |  FROM xk x JOIN c2asg$T a ON x.vec_id = a.vec_id
       |  JOIN c2cent$KmIters c ON a.cid = c.cid AND x.j = c.j),
       |pseeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |p2cent0 AS MATERIALIZED (
       |  SELECT block, vec_id AS pcid, j, rq AS pq FROM resid
       |  WHERE vec_id IN (SELECT vec_id FROM pseeds)),
       |$pIters,
       |${pIter(T, s"p2cent$KmIters")},
       |qresid AS MATERIALIZED (
       |  SELECT x.vec_id AS query_id, pr.ccid, x.j, x.block, x.xk - c.cq AS qrq
       |  FROM xk x JOIN probes pr ON x.vec_id = pr.query_id
       |  JOIN c2cent$KmIters c ON pr.ccid = c.cid AND x.j = c.j),
       |lut AS MATERIALIZED (
       |  SELECT query_id, q.ccid, q.block, p.pcid,
       |    CAST(sum((q.qrq - p.pq) * (q.qrq - p.pq)) AS BIGINT) AS qd2
       |  FROM qresid q JOIN p2cent$KmIters p ON q.block = p.block AND q.j = p.j
       |  GROUP BY 1, 2, 3, 4),
       |adc AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT l.query_id, a.vec_id,
       |      row_number() OVER (PARTITION BY l.query_id
       |        ORDER BY sum(l.qd2) ASC, a.vec_id ASC) AS rk
       |    FROM c2asg$T a
       |    JOIN p2asg$T k ON a.vec_id = k.vec_id
       |    JOIN lut l ON a.cid = l.ccid AND k.block = l.block AND k.pcid = l.pcid
       |    WHERE l.query_id <> a.vec_id
       |    GROUP BY l.query_id, a.vec_id) t(query_id, vec_id, rk)
       |  WHERE rk <= 10),
       |bf AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY sum((q.xk - x.xk) * (q.xk - x.xk)) ASC, x.vec_id ASC) AS rk
       |    FROM xk x JOIN xk q ON x.j = q.j
       |    WHERE q.vec_id IN (SELECT vec_id FROM pids) AND q.vec_id <> x.vec_id
       |    GROUP BY q.vec_id, x.vec_id) t(query_id, vec_id, rk)
       |  WHERE rk <= 10),
       |ov AS (SELECT bf.query_id, CAST(count(*) AS BIGINT) AS ov
       |       FROM bf JOIN adc ON bf.query_id = adc.query_id AND bf.vec_id = adc.vec_id
       |       GROUP BY 1),
       |bfk AS (SELECT query_id, CAST(count(*) AS BIGINT) AS bf_k FROM bf GROUP BY 1),
       |csz AS (SELECT cid, CAST(count(*) AS BIGINT) AS csz FROM c2asg$T GROUP BY 1),
       |nc AS (SELECT query_id, CAST(sum(csz) - 1 AS BIGINT) AS n_cand
       |       FROM probes JOIN csz ON probes.ccid = csz.cid GROUP BY 1)
       |SELECT b.query_id, nc.n_cand, b.bf_k,
       |  CAST(coalesce(ov.ov, 0) AS BIGINT) AS topk_overlap,
       |  CAST((coalesce(ov.ov, 0) * 1000000) // b.bf_k AS BIGINT) AS recall_ppm
       |FROM bfk b
       |LEFT JOIN ov ON ov.query_id = b.query_id
       |JOIN nc ON nc.query_id = b.query_id
       |ORDER BY b.query_id""".stripMargin
  }

  // ---- q286: Gonzalez k-center greedy coreset ------------------------------

  private val KcK = 8 // exemplars selected (farthest-point traversal rounds)

  /** q286: greedy k-center coreset selection (Gonzalez '85 farthest-point
    * traversal — the classic 2-approximation of the optimal k-center
    * radius) — the DIVERSITY primitive next to the family's similarity
    * ops: where SemDeDup (q156) drops points for being too close, this
    * PICKS the k points that maximize spread, the exemplar/coreset
    * selection step a curation pipeline runs to cover a corpus's modes
    * with a bounded labeling or eval budget.
    *
    * Recurrence: start from the lowest vec_id; each round selects the
    * point FARTHEST from every center chosen so far (argmax of the
    * running min-distance frame, ties to the smallest id) and lowers the
    * covering radius. Selection is inherently sequential in k, but each
    * round is ONE corpus pass — a 64-row broadcast join (the new center's
    * coordinates) + hash agg for distances, `least()` against the running
    * mind2 frame, and a TakeOrderedAndProject argmax (no global sort) —
    * O(k·n·Dim) total, never pairwise. The mind2 frame localCheckpoints
    * per round (bounded lineage, the q154/q171 iterative-loop rule).
    *
    * All arithmetic exact int64 at the q110 2¹² fixed point (d² ≤
    * 2²⁶·64·n ≪ 2⁶³), so selections, radii, and assignments hash-match
    * the unrolled-CTE oracle bit-for-bit. Output: selection order, the
    * covering radius after each pick (nonincreasing — the k-center
    * objective curve, law-tested), and each exemplar's final basin size. */
  def q286KCenterCoreset(s: SparkSession, dir: String): DataFrame = {
    val xq = graft.Caches.persist(Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j0", "x")))
      .select(col("vec_id"), (col("j0") + 1).as("j"),
        round(col("x").cast("double") * KmFP, 0).cast("long").as("xq")))
    // exact d2 from every vector to the single center named by sel1 (1-row)
    def d2To(sel1: DataFrame): DataFrame = {
      val cvec = xq.join(broadcast(sel1), col("vec_id") === col("cid"))
        .select(col("j"), col("xq").as("cq"))
      xq.join(broadcast(cvec), Seq("j"))
        .groupBy(col("vec_id"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    }
    var sel = xq.select(min(col("vec_id")).as("cid"))
    var mind2: DataFrame = null
    val picks = Seq.newBuilder[DataFrame]
    for (t <- 1 to KcK) {
      val d2 = d2To(sel)
      mind2 = graft.Caches.trackCheckpoint(
        (if (t == 1) d2.select(col("vec_id"), col("d2").as("mind2"))
         else mind2.join(d2, Seq("vec_id"))
           .select(col("vec_id"), least(col("mind2"), col("d2")).as("mind2")))
          .localCheckpoint())
      picks += sel.select(col("cid"), lit(t.toLong).as("sel_rank"),
        mind2.agg(max(col("mind2"))).scalar().as("radius_d2"))
      if (t < KcK)
        sel = mind2.orderBy(col("mind2").desc, col("vec_id").asc).limit(1)
          .select(col("vec_id").as("cid"))
    }
    val cents = picks.result().reduce(_ unionAll _) // (cid, sel_rank, radius_d2)
    val cx = xq.join(broadcast(cents.select(col("cid"))), col("vec_id") === col("cid"))
      .select(col("cid"), col("j"), col("xq").as("cq"))
    val wNear = Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)
    val counts = xq.join(broadcast(cx), Seq("j"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      .withColumn("rn", row_number().over(wNear)).filter(col("rn") === 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_assigned"))
    cents.join(counts, Seq("cid"))
      .select(col("sel_rank"), col("cid").as("center_id"),
        col("radius_d2"), col("n_assigned"))
      .orderBy(col("sel_rank"))
  }

  val q286Oracle: String = {
    def nd(t: Int, selCte: String, prev: String): String =
      s"""nd$t AS (
         |  SELECT x.vec_id, CAST(sum((x.xq - c.xq) * (x.xq - c.xq)) AS BIGINT) AS d2
         |  FROM xq x JOIN xq c ON x.j = c.j AND c.vec_id = (SELECT cid FROM $selCte)
         |  GROUP BY 1),
         |d$t AS MATERIALIZED (
         |  SELECT p.vec_id, least(p.mind2, n.d2) AS mind2
         |  FROM $prev p JOIN nd$t n USING (vec_id))""".stripMargin
    val steps = (2 to KcK).map { t =>
      s"""sel$t AS (
         |  SELECT vec_id AS cid FROM d${t - 1}
         |  ORDER BY mind2 DESC, vec_id ASC LIMIT 1),
         |${nd(t, s"sel$t", s"d${t - 1}")}""".stripMargin
    }.mkString(",\n")
    val selUnion = (1 to KcK)
      .map(t => s"SELECT CAST($t AS BIGINT) AS sel_rank, cid FROM sel$t")
      .mkString("\n  UNION ALL ")
    val radiiUnion = (1 to KcK)
      .map(t => s"SELECT CAST($t AS BIGINT) AS sel_rank, CAST(max(mind2) AS BIGINT) AS radius_d2 FROM d$t")
      .mkString("\n  UNION ALL ")
    s"""WITH xq AS MATERIALIZED (
      |  SELECT vec_id, j,
      |    CAST(round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * $KmFP) AS BIGINT) AS xq
      |  FROM embeddings, range(1, ${Dim + 1}) t(j)),
      |sel1 AS (SELECT min(vec_id) AS cid FROM xq),
      |d1 AS MATERIALIZED (
      |  SELECT x.vec_id, CAST(sum((x.xq - c.xq) * (x.xq - c.xq)) AS BIGINT) AS mind2
      |  FROM xq x JOIN xq c ON x.j = c.j AND c.vec_id = (SELECT cid FROM sel1)
      |  GROUP BY 1),
      |$steps,
      |sel AS ($selUnion),
      |radii AS ($radiiUnion),
      |cx AS (SELECT s.cid, x.j, x.xq AS cq FROM sel s JOIN xq x ON x.vec_id = s.cid),
      |ad AS (
      |  SELECT x.vec_id, c.cid, CAST(sum((x.xq - c.cq) * (x.xq - c.cq)) AS BIGINT) AS d2
      |  FROM xq x JOIN cx c ON x.j = c.j GROUP BY 1, 2),
      |nr AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
      |    FROM ad) t WHERE rn = 1),
      |cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned FROM nr GROUP BY 1)
      |SELECT s.sel_rank, s.cid AS center_id, r.radius_d2, cnt.n_assigned
      |FROM sel s JOIN radii r USING (sel_rank) JOIN cnt ON cnt.cid = s.cid
      |ORDER BY sel_rank""".stripMargin
  }

  // ---- q287: NN-Descent k-NN graph construction ----------------------------

  private val NnK = 6      // kNN degree
  private val NnIters = 3  // neighbor-of-neighbor refinement rounds (oracle unrolls)

  /** q287: NN-Descent k-NN graph construction (Dong, Charikar, Li, WWW '11)
    * — the GRAPH-based member of the ANN family next to IVF (q51), PQ
    * (q53/q281), IVF-PQ (q102/q282) and LSH (q52): the k-NN graph that
    * HNSW/NSG-style indexes and graph-clustering curation steps are built
    * from. The principle is "the neighbor of a neighbor is likely a
    * neighbor": start from an arbitrary degree-K graph and repeatedly
    * rescore each node against its neighbors' neighborhoods, keeping the
    * K closest — convergence is empirically a handful of rounds and NEVER
    * touches all pairs.
    *
    * Distributed shape (the paper's own MapReduce formulation): each round
    * is pure joins — undirect the edge list (union + reverse, distinct),
    * candidate pairs by the one self-equi-join on the shared middle node
    * (≤ (2K)²·n rows), union the incumbent edges, score, keep top-K per
    * node by a hash-partitioned window. Distances ride the codegen'd
    * [[graft.functions.DotProduct]] fold over 2¹²-fixed-point INTEGRAL
    * double arrays (d² = ‖u‖² + ‖v‖² − 2⟨u,v⟩ ≤ 2⁴⁰ ≪ 2⁵³ — every value
    * exact, engine-identical), never an explode×Dim blowup. Edges
    * localCheckpoint per round (bounded lineage).
    *
    * Init is a deterministic md5 SCATTER of (id, j) — the paper uses
    * random init, and the nonlinearity is load-bearing: any affine init
    * (a ring (id+j) mod n, or (id·A + j·B) mod n) composes to an affine
    * neighbor-of-neighbor map, candidate pools never mix beyond a ring
    * segment, and descent stalls (measured at sf0.01: ring init left 1/20
    * probe-edge overlap after 2 rounds vs 15/30 for the scatter — the
    * same mechanism as q52's affine-plane degeneracy). Graded on the
    * fixed K=100 probe frame against the exact brute top-K:
    * `init_recall_ppm` vs `graph_recall_ppm` per query — the descent law
    * (graph ≥ init in the mean) is spec-tested, and the brute side stays
    * O(K·n) by the same fixed-probe argument as q274/q277/q282. On this
    * corpus's isotropic 64-dim noise (near-neighbors barely closer than
    * random — the weakest possible descent signal) 3 rounds at degree 6
    * reach ~50% recall from ~5% init; a planted 3-cluster corpus is
    * recovered exactly. */
  /** Shared NN-descent construction (q287's recurrence; q288 searches the
    * same graph): returns (qv = quantized integral-double arrays + ‖·‖²,
    * initEdges = ring graph, edges = refined kNN graph). */
  private def nnDescentBuild(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftExtensions.register(s)
    val qv = graft.Caches.persist(Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * KmFP, 0)).as("vec"))
      .withColumn("nrm2", dot(col("vec"), col("vec"))))
    val n = qv.agg(count(lit(1))).scalar()
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(qv.select(col("vec_id").as("u"), col("vec").as("uvec"), col("nrm2").as("un")), Seq("u"))
        .join(qv.select(col("vec_id").as("v"), col("vec").as("vvec"), col("nrm2").as("vn")), Seq("v"))
        .select(col("u"), col("v"),
          (col("un") + col("vn") - lit(2.0) * dot(col("uvec"), col("vvec")))
            .cast("long").as("d2"))
    def topK(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("u")).orderBy(col("d2").asc, col("v").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= NnK)
        .select(col("u"), col("v"))
    }
    // init MUST be a nonlinear scatter (md5 of (u, j)): any affine init
    // (ring (u+j) mod n, or (u·A+j·B) mod n) composes to an affine
    // neighbor-of-neighbor map, so candidate pools never mix beyond a
    // ring segment and descent stalls at ~0 recall (measured: ring init
    // left the sf0.01 graph at 1/20 probe overlap after 2 rounds; the
    // q52 affine-degeneracy finding, same mechanism)
    val init = qv.select(col("vec_id").as("u"), explode(sequence(lit(1), lit(NnK))).as("j"))
      .select(col("u"),
        (conv(substring(md5(concat(col("u").cast("string"), lit("#"),
          col("j").cast("string")).cast("binary")), 1, 8), 16, 10).cast("long")
          % n).as("v"))
      .filter(col("v") =!= col("u"))
      .distinct()
    val initEdges = graft.Caches.trackCheckpoint(init.localCheckpoint())
    var edges = initEdges
    for (_ <- 1 to NnIters) {
      val und = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
        .distinct()
      val cand = und.select(col("u").as("a"), col("v").as("m"))
        .join(und.select(col("u").as("m"), col("v").as("b")), Seq("m"))
        .filter(col("a") =!= col("b"))
        .select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("u"), col("v")))
        .distinct()
      edges = graft.Caches.trackCheckpoint(topK(score(cand)).localCheckpoint())
    }
    (qv, initEdges, edges)
  }

  /** Exact brute top-[[NnK]] for the fixed probe frame over the quantized
    * plane — (query_id, v, rk); the grading reference for q287/q288. */
  private def bruteTopNn(s: SparkSession, dir: String, qv: DataFrame): DataFrame = {
    val probes = qv.join(broadcast(evalProbeIds(Tables.embeddings(s, dir))), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm2").as("qn"))
    val wB = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("v").asc)
    broadcast(probes).join(qv, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("v"),
        (col("qn") + col("nrm2") - lit(2.0) * dot(col("qvec"), col("vec")))
          .cast("long").as("d2"))
      .withColumn("rk", row_number().over(wB)).filter(col("rk") <= NnK)
      .select(col("query_id"), col("v"), col("rk"))
  }

  def q287NnDescentGraph(s: SparkSession, dir: String): DataFrame = {
    val (qv, initEdges, edges) = nnDescentBuild(s, dir)
    // bounded K·NnK-row grading frame, consumed by TWO broadcast joins
    // (init + refined overlap): checkpointed so the brute corpus pass runs
    // once, not once per consumer (r15)
    val brute = graft.Caches.trackCheckpoint(
      bruteTopNn(s, dir, qv).select(col("query_id"), col("v")).localCheckpoint())
    val pids = evalProbeIds(Tables.embeddings(s, dir)).select(col("vec_id").as("query_id"))
    def overlap(e: DataFrame, name: String): DataFrame =
      e.select(col("u").as("query_id"), col("v"))
        .join(broadcast(pids), Seq("query_id"))
        .join(broadcast(brute), Seq("query_id", "v"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    pids
      .join(overlap(initEdges, "o0"), Seq("query_id"), "left")
      .join(overlap(edges, "o2"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("o0"), lit(0L)).as("init_overlap"),
        coalesce(col("o2"), lit(0L)).as("graph_overlap"),
        expr(s"coalesce(o0, 0L) * 1000000 div $NnK").as("init_recall_ppm"),
        expr(s"coalesce(o2, 0L) * 1000000 div $NnK").as("graph_recall_ppm"))
      .orderBy(col("query_id"))
  }

  /** DuckDB twin of the int-L2 between two qn-row aliases. */
  private def nnD2Sql(x: String, y: String): String =
    s"CAST($x.nrm2 + $y.nrm2 - 2 * ${dotSql(s"$x.vec", s"$y.vec")} AS BIGINT)"

  /** Shared oracle prefix for q287/q288: quantized plane `qn`, ring init
    * `e0`, unrolled NN-descent rounds ending at `e{NnIters}`, the fixed
    * probe frame `pids`, and the exact `brute` top-[[NnK]] with rank. */
  private def nnGraphCtesSql: String = {
    val iters = (1 to NnIters).map { t =>
      s"""u$t AS MATERIALIZED (
         |  SELECT u, v FROM e${t - 1} UNION SELECT v AS u, u AS v FROM e${t - 1}),
         |c$t AS MATERIALIZED (
         |  SELECT a.u, b.v FROM u$t a JOIN u$t b ON a.v = b.u WHERE a.u <> b.v
         |  UNION SELECT u, v FROM e${t - 1}),
         |s$t AS MATERIALIZED (
         |  SELECT c.u, c.v, ${nnD2Sql("x", "y")} AS d2
         |  FROM c$t c JOIN qn x ON c.u = x.vec_id JOIN qn y ON c.v = y.vec_id),
         |e$t AS MATERIALIZED (
         |  SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY d2 ASC, v ASC) AS rn
         |    FROM s$t) r WHERE rn <= $NnK)""".stripMargin
    }.mkString(",\n")
    s"""qn AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * $KmFP)) AS vec,
      |    ${dotSql(s"list_transform(embedding, x -> round(CAST(x AS DOUBLE) * $KmFP))",
             s"list_transform(embedding, x -> round(CAST(x AS DOUBLE) * $KmFP))")} AS nrm2
      |  FROM embeddings),
      |nf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qn),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT vec_id AS u,
      |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT) % n AS v
      |  FROM qn, range(1, ${NnK + 1}) t(j), nf
      |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT) % n <> vec_id),
      |$iters,
      |$pidsSql,
      |brute AS MATERIALIZED (
      |  SELECT q, v, rn AS rk FROM (
      |    SELECT p.vec_id AS q, x.vec_id AS v,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY ${nnD2Sql("pq", "x")} ASC, x.vec_id ASC) AS rn
      |    FROM pids p JOIN qn pq ON p.vec_id = pq.vec_id
      |    JOIN qn x ON x.vec_id <> p.vec_id) r
      |  WHERE rn <= $NnK)""".stripMargin
  }

  val q287Oracle: String =
    s"""WITH $nnGraphCtesSql,
      |g0 AS (
      |  SELECT e.u AS q, CAST(count(*) AS BIGINT) AS o0
      |  FROM e0 e JOIN brute b ON e.u = b.q AND e.v = b.v GROUP BY 1),
      |g2 AS (
      |  SELECT e.u AS q, CAST(count(*) AS BIGINT) AS o2
      |  FROM e$NnIters e JOIN brute b ON e.u = b.q AND e.v = b.v GROUP BY 1)
      |SELECT p.vec_id AS query_id,
      |  coalesce(o0, CAST(0 AS BIGINT)) AS init_overlap,
      |  coalesce(o2, CAST(0 AS BIGINT)) AS graph_overlap,
      |  coalesce(o0, CAST(0 AS BIGINT)) * 1000000 // $NnK AS init_recall_ppm,
      |  coalesce(o2, CAST(0 AS BIGINT)) * 1000000 // $NnK AS graph_recall_ppm
      |FROM pids p LEFT JOIN g0 ON p.vec_id = g0.q LEFT JOIN g2 ON p.vec_id = g2.q
      |ORDER BY query_id""".stripMargin

  // ---- q288: greedy beam search over the NN-descent graph ------------------

  private val BeamRounds = 8 // bounded greedy hops (oracle unrolls them)

  /** q288: greedy beam search over the q287 k-NN graph — the QUERY-TIME
    * path of graph-based ANN (the layer-0 `SEARCH-LAYER` routine of
    * HNSW, Malkov & Yashunin '16, with beam width ef = K and a bounded
    * hop budget), completing the index-traversal trio: IVF probe join
    * (q274), IVF-PQ ADC (q282), and now graph walk. From one global
    * entry point (min vec_id), each round expands the current beam
    * through the graph's out-edges (one equi-join on the neighbor id —
    * at scale the graph is hash-sharded by source node, so expansion is
    * a co-located lookup, never a scan), rescores candidates against the
    * query with the codegen'd DotProduct fold, and keeps the K closest —
    * monotone by construction since incumbents stay in the candidate
    * set. All K=100 probe queries advance TOGETHER as one DataFrame
    * keyed by query_id (per-query beams are rows, not loops); beams
    * localCheckpoint per hop (bounded lineage, ≤ K·(K_nn+1)·B rows).
    *
    * Graded against the same exact brute top-K as q287: `beam_overlap` /
    * `beam_recall_ppm` plus `found_top1` (did the walk reach the true
    * nearest neighbor) — the navigability measurement next to q287's
    * graph-quality one. Exact int64 d², bit-identical everywhere.
    *
    * Honest navigability numbers on this corpus's isotropic noise — the
    * flat-graph worst case (no hubs, no modes to descend; single-entry
    * walks measurably converge to a local minimum by hop 4): multi-entry
    * lifts mean beam recall to ~0.4 with found_top1 ~1/5 at sf0.01. The
    * planted 3-cluster corpus is fully navigable (recall 1, top-1 found)
    * — structure, not the walk, is what isotropic data withholds, which
    * is exactly the long-range-link gap HNSW's hierarchy fills. */
  def q288GraphBeamSearch(s: SparkSession, dir: String): DataFrame = {
    val (qv, _, edges) = nnDescentBuild(s, dir)
    val pids = evalProbeIds(Tables.embeddings(s, dir)).select(col("vec_id").as("query_id"))
    // bounded ≤K-row query frame, referenced once per hop inside the loop:
    // checkpointed ONCE so each hop's action broadcasts the materialized
    // rows instead of re-running the qv scan+join (was one extra job per
    // hop — 8 of the 84 probe jobs)
    val qvec = graft.Caches.trackCheckpoint(
      qv.join(broadcast(evalProbeIds(Tables.embeddings(s, dir))), Seq("vec_id"))
        .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("nrm2").as("qn"))
        .localCheckpoint())
    // 4 scattered global entry points (i·⌊n/4⌋): a single entry stalls in a
    // greedy local minimum on isotropic data (measured: the beam converged
    // by hop 4 and missed every rank-1) — multi-entry is the flat-graph
    // stand-in for the long-range links HNSW's hierarchy provides
    val n = qv.agg(count(lit(1))).scalar()
    // r15, guide §3.1/§2.4: the beam and candidate frames are BOUNDED by
    // construction (≤ K·(K_nn+1)·B rows), so they ride BROADCAST hints into
    // the graph-expansion joins — the corpus-scale side streams in place
    // (QueryProbe baseline: 107 jobs / 990 tasks for 8 hops). Second pass
    // (this session): the target vectors ride ON the edge list (one
    // pre-join, checkpointed) and the beam CARRIES its d2 between hops
    // (d2 per (query, v) is deterministic — rescoring incumbents every hop
    // computed byte-identical values), so each hop is ONE broadcast join +
    // a single-partition dedup/top-K: the per-hop qv corpus scan, the
    // candidate broadcast, and the window exchange are gone (82 → ~40
    // jobs). The beam-side frames stay ≤ K·(K_nn+1)·B rows, so the
    // single-partition hop tail is the compact-loop discipline, not a
    // corpus-scale serialization (the edge expansion itself keeps the
    // edge list's parallelism).
    val edgesV = graft.Caches.trackCheckpoint(
      edges.join(qv.select(col("vec_id").as("v"), col("vec").as("vvec"),
          col("nrm2").as("vn")), Seq("v"))
        .select(col("u"), col("v"), col("vvec"), col("vn"))
        .localCheckpoint())
    def scoreNbrs(nbrs: DataFrame): DataFrame =
      nbrs.join(broadcast(qvec), Seq("query_id"))
        .select(col("query_id"), col("v"),
          (col("qn") + col("vn") - lit(2.0) * dot(col("qvec"), col("vvec")))
            .cast("long").as("d2"))
    val wBeam = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("v").asc)
    // entry beam scored once (hop 1 previously scored it inside cand)
    var beam = graft.Caches.trackCheckpoint(
      scoreNbrs(pids
          .select(col("query_id"), explode(sequence(lit(0), lit(3))).as("i"), n.as("n"))
          .select(col("query_id"), (col("i") * expr("n div 4")).as("v"))
          .join(qv.select(col("vec_id").as("v"), col("vec").as("vvec"),
            col("nrm2").as("vn")), Seq("v")))
        .localCheckpoint()) // (query_id, v, d2)
    for (_ <- 1 to BeamRounds) {
      val nbrs = scoreNbrs(edgesV
        .join(broadcast(beam.select(col("query_id"), col("v").as("u"))), Seq("u"))
        .select(col("query_id"), col("v"), col("vvec"), col("vn")))
      // the query is itself a corpus point: drop it from candidates (its
      // out-edges are already expanded) so it never wastes a beam slot;
      // distinct over (query_id, v, d2) ≡ distinct over (query_id, v)
      // because d2 is functionally determined by them
      beam = graft.Caches.trackCheckpoint(
        beam.unionAll(nbrs).coalesce(1).distinct()
          .filter(col("v") =!= col("query_id"))
          .withColumn("rn", row_number().over(wBeam)).filter(col("rn") <= NnK)
          .select(col("query_id"), col("v"), col("d2"))
          .localCheckpoint())
    }
    // bounded K·NnK-row grading frame, consumed by TWO broadcasts (ov, t1):
    // checkpointed so the brute corpus pass runs once, not twice
    val brute = graft.Caches.trackCheckpoint(
      bruteTopNn(s, dir, qv).localCheckpoint())
    val ov = beam.join(broadcast(brute.select(col("query_id"), col("v"))), Seq("query_id", "v"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("bo"))
    val t1 = beam.join(broadcast(brute.filter(col("rk") === 1).select(col("query_id"), col("v"))),
        Seq("query_id", "v"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("t1"))
    pids
      .join(ov, Seq("query_id"), "left").join(t1, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("bo"), lit(0L)).as("beam_overlap"),
        expr(s"coalesce(bo, 0L) * 1000000 div $NnK").as("beam_recall_ppm"),
        coalesce(col("t1"), lit(0L)).as("found_top1"))
      .orderBy(col("query_id"))
  }

  val q288Oracle: String = {
    val hops = (1 to BeamRounds).map { t =>
      s"""nb$t AS (
         |  SELECT b.query_id, e.v FROM b${t - 1} b JOIN e$NnIters e ON b.v = e.u),
         |cd$t AS (
         |  SELECT query_id, v FROM (
         |    SELECT query_id, v FROM b${t - 1} UNION SELECT query_id, v FROM nb$t) z
         |  WHERE v <> query_id),
         |b$t AS MATERIALIZED (
         |  SELECT query_id, v FROM (
         |    SELECT c.query_id, c.v,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY ${nnD2Sql("q", "x")} ASC, c.v ASC) AS rn
         |    FROM cd$t c JOIN qn x ON c.v = x.vec_id
         |    JOIN qn q ON c.query_id = q.vec_id) r
         |  WHERE rn <= $NnK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $nnGraphCtesSql,
      |entry AS (SELECT i * (n // 4) AS v FROM range(0, 4) t(i), nf),
      |b0 AS (SELECT p.vec_id AS query_id, e.v FROM pids p, entry e),
      |$hops,
      |ov AS (
      |  SELECT bm.query_id, CAST(count(*) AS BIGINT) AS bo
      |  FROM b$BeamRounds bm JOIN brute b ON bm.query_id = b.q AND bm.v = b.v
      |  GROUP BY 1),
      |t1 AS (
      |  SELECT bm.query_id, CAST(count(*) AS BIGINT) AS t1
      |  FROM b$BeamRounds bm JOIN brute b ON bm.query_id = b.q AND bm.v = b.v AND b.rk = 1
      |  GROUP BY 1)
      |SELECT p.vec_id AS query_id,
      |  coalesce(bo, CAST(0 AS BIGINT)) AS beam_overlap,
      |  coalesce(bo, CAST(0 AS BIGINT)) * 1000000 // $NnK AS beam_recall_ppm,
      |  coalesce(t1.t1, CAST(0 AS BIGINT)) AS found_top1
      |FROM pids p LEFT JOIN ov ON p.vec_id = ov.query_id
      |LEFT JOIN t1 ON p.vec_id = t1.query_id
      |ORDER BY query_id""".stripMargin
  }

  // ---- q289: JL random-projection distortion audit --------------------------

  private val JlM = 16 // projected dimensionality (64 → 16, 4× cheaper distances)

  /** q289: Johnson–Lindenstrauss random projection with a measured
    * distance-distortion audit — the DIMENSIONALITY-REDUCTION primitive
    * the ANN family sits on (Achlioptas '03 "database-friendly" ±1
    * projections: E[‖Px−Py‖²·(d/m)] = ‖x−y‖², no Gaussians needed). A
    * 100 TB pipeline projects 64-dim embeddings to 16 before the
    * quadratic stages (brute re-rank, pair verification) and pays 4×
    * less per distance; this operator measures what that costs in
    * distance fidelity, per probe, in exact ppm. For an unnormalized ±1
    * matrix R the identity is E[‖RΔ‖²] = m·‖Δ‖², so distortion compares
    * the projected squared distance against m·d² directly — both exact
    * int64, no normalizing division anywhere.
    *
    * The ±1 matrix is the q52 bilinear mod-97 grid collapsed to its sign
    * (the bilinear b·j term decorrelates rows — q52's affine-degeneracy
    * finding), so the 16 projected coordinates are 16 conditional SUM
    * aggregates over the exploded fixed-point coordinates: one hash agg,
    * fully codegen'd, exact int64 (|y_b| ≤ 64·2¹⁵). Distortion is graded
    * on the fixed probe frame's all-pairs grid (≤ K² pairs — an eval
    * workload, corpus-independent): ‖Ry−Rx‖² vs m·‖x−y‖² on the same 2¹²
    * plane, `|est−m·d2|·10⁶ div (m·d2)` floored ppm, aggregated per
    * probe (mean/max over its K−1 pairs). */
  def q289JlProjectionAudit(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    val pid = evalProbeIds(Tables.embeddings(s, dir))
    // probe vectors only: the audit grid is fixed-size by construction
    val px = Tables.embeddings(s, dir).join(broadcast(pid), Seq("vec_id"))
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * KmFP, 0)).as("vec"))
      .withColumn("nrm2", dot(col("vec"), col("vec")))
    def sign(b: Int): Column =
      when((lit(b * 73856093L) + col("j") * 19349663L + col("j") * lit(b.toLong * 83492791L))
        % 97 >= 49, lit(1L)).otherwise(lit(-1L))
    val projCols = (0 until JlM).map(b => sum(col("xq") * sign(b)).as(s"y$b"))
    val proj = px
      .select(col("vec_id"), posexplode(col("vec")).as(Seq("j0", "x")))
      .select(col("vec_id"), (col("j0") + 1).as("j"), col("x").cast("long").as("xq"))
      .groupBy(col("vec_id"))
      .agg(projCols.head, projCols.tail: _*)
      .join(px, Seq("vec_id"))
    val a = proj.select(
      Seq(col("vec_id").as("qa"), col("vec").as("va"), col("nrm2").as("na")) ++
        (0 until JlM).map(i => col(s"y$i").as(s"a$i")): _*)
    val b = proj.select(
      Seq(col("vec_id").as("qb"), col("vec").as("vb"), col("nrm2").as("nb")) ++
        (0 until JlM).map(i => col(s"y$i").as(s"b$i")): _*)
    val pd2 = (0 until JlM)
      .map(i => (col(s"a$i") - col(s"b$i")) * (col(s"a$i") - col(s"b$i")))
      .reduce(_ + _)
    val pairs = a.join(broadcast(b), col("qa") =!= col("qb"))
      .select(col("qa"), col("qb"),
        (col("na") + col("nb") - lit(2.0) * dot(col("va"), col("vb")))
          .cast("long").as("d2"),
        pd2.as("est"))
      .filter(col("d2") > 0)
      // |est − m·d2|·10⁶ brushes 2⁶³ at this fixed point — widen to DECIMAL(38,0)
      .withColumn("dist_ppm",
        expr(s"CAST(CAST(abs(est - $JlM * d2) AS DECIMAL(38,0)) * 1000000 div ($JlM * d2) AS BIGINT)"))
    pairs.groupBy(col("qa").as("vec_id"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(dist_ppm) div count(1)").as("mean_distortion_ppm"),
        max(col("dist_ppm")).as("max_distortion_ppm"))
      .orderBy(col("vec_id"))
  }

  val q289Oracle: String = {
    def signSql(b: Int): String =
      s"CASE WHEN (${b}*73856093 + j*19349663 + j*${b}*83492791) % 97 >= 49 THEN 1 ELSE -1 END"
    val ys = (0 until JlM)
      .map(b => s"    CAST(sum(xq * (${signSql(b)})) AS BIGINT) AS y$b")
      .mkString(",\n")
    val pd2 = (0 until JlM).map(i => s"(a.y$i - b.y$i) * (a.y$i - b.y$i)").mkString(" + ")
    s"""WITH $pidsSql,
      |px AS (
      |  SELECT e.vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * $KmFP)) AS vec
      |  FROM embeddings e JOIN pids p ON e.vec_id = p.vec_id),
      |pn AS (SELECT vec_id, vec, ${dotSql("vec", "vec")} AS nrm2 FROM px),
      |xq AS (
      |  SELECT vec_id, j, CAST(vec[CAST(j AS INT)] AS BIGINT) AS xq
      |  FROM px, range(1, ${Dim + 1}) t(j)),
      |proj AS (
      |  SELECT vec_id,
      |$ys
      |  FROM xq GROUP BY vec_id),
      |pairs AS (
      |  SELECT pa.vec_id AS qa,
      |    CAST(na.nrm2 + nb.nrm2 - 2 * ${dotSql("na.vec", "nb.vec")} AS BIGINT) AS d2,
      |    $pd2 AS est
      |  FROM proj a JOIN proj b ON a.vec_id <> b.vec_id
      |  JOIN pn na ON a.vec_id = na.vec_id JOIN pn nb ON b.vec_id = nb.vec_id
      |  JOIN pids pa ON a.vec_id = pa.vec_id),
      |scored AS (
      |  SELECT qa,
      |    CAST(CAST(abs(est - $JlM * d2) AS HUGEINT) * 1000000 // ($JlM * d2) AS BIGINT) AS dist_ppm
      |  FROM pairs WHERE d2 > 0)
      |SELECT qa AS vec_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(dist_ppm) AS BIGINT) // count(*) AS mean_distortion_ppm,
      |  CAST(max(dist_ppm) AS BIGINT) AS max_distortion_ppm
      |FROM scored GROUP BY qa ORDER BY vec_id""".stripMargin
  }

  // ---- q290: embedding anisotropy / collapse audit --------------------------

  private val PowIters = 3 // unrolled power-iteration rounds (oracle mirrors)

  /** q290: embedding anisotropy audit — the dominant-direction share of
    * the corpus second-moment (Gram) matrix, estimated by fixed-point
    * POWER ITERATION (von Mises–Pollaczek '29; the Ethayarajh '19
    * anisotropy diagnostic): the embedding-health check a curation
    * pipeline runs to catch REPRESENTATION COLLAPSE, where a model's
    * vectors degenerate onto one direction and every cosine goes to 1
    * (dedup thresholds, ANN recall, and mixture balance all silently
    * break). `anisotropy_ppm = λ̂·D·10⁶/trace` reads ≈ 10⁶ when energy is
    * spread evenly (isotropic — healthy) and → D·10⁶ when one direction
    * carries everything (collapapsed); `top_dim`/`top_share_ppm` name the
    * dominant coordinate.
    *
    * Distributed shape: ONE pass builds the D×D second-moment matrix
    * (explode + self-equi-join on vec_id + hash agg — n·D² rows, the
    * classic Gram shuffle; D=64 so the matrix is 4,096 rows, driver-free
    * and broadcastable), then each power round is a broadcast 64-row
    * join + hash agg — corpus-independent after the first pass.
    * Uncentered on purpose: a collapsed MEAN direction is exactly what
    * the audit must flag. All exact integers: coordinates at 2¹², the
    * iterate renormalized to max-norm 2¹² by truncating division each
    * round, Rayleigh quotient and shares in DECIMAL(38,0)/HUGEINT —
    * bit-identical to the unrolled oracle. A pure-e₃ planted corpus hits
    * the algebraic fixed point exactly (anisotropy ≡ 64·10⁶, top_share ≡
    * 10⁶, one round — law-tested). */
  def q290EmbeddingAnisotropy(s: SparkSession, dir: String): DataFrame = {
    // r15, guide §2.4 (remove shuffles outright): the D×D second-moment
    // matrix needs every (xi·xj) pair WITHIN a row — a row-local product,
    // so the Gram build is a chained double-posexplode + one partial+final
    // hash aggregate (map-side partial reduces each task to ≤D² rows
    // before the exchange). The previous shape exploded once and
    // self-equi-joined on vec_id, shuffling 2·n·D rows to recombine
    // coordinates that were born co-located (QueryProbe baseline: 57 s
    // task time, 476 tasks; the join was the whole cost). Same integer
    // products, same sums — bit-identical.
    // upper triangle only (the Gram matrix is symmetric: c(i,j) = c(j,i)),
    // mirrored after the aggregate — halves the generated-row count again
    val tri = Tables.embeddings(s, dir)
      // scale-adaptive fan-out BEFORE the D²-way row multiplication: the
      // scan's natural split count is file-bound (one task on the
      // single-file test corpus), while the explode multiplies work
      // ~2048×; one tiny shuffle of the raw rows buys full parallelism
      // for the heavy stage (guide §2.5 input skew / §1.2 step 1)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"),
        posexplode(col("embedding")).as(Seq("i0", "x")))
      .select((col("i0") + 1).as("i"),
        round(col("x").cast("double") * KmFP, 0).cast("long").as("xi"),
        posexplode(expr(s"slice(embedding, i0 + 1, $Dim)")).as(Seq("j0", "y")))
      .select(col("i"), (col("i") + col("j0")).as("j"), col("xi"),
        round(col("y").cast("double") * KmFP, 0).cast("long").as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj")).as("c"))
    // persist the triangle itself (the mirror branch would otherwise
    // re-execute the aggregate — measured, ReuseExchange does not dedup
    // across the union's two branches here); cov derives narrowly from the
    // cached triangle. ≤D²/2 rows, bounded at ANY corpus size:
    // SinglePartition makes the whole power iteration exchange-free
    // (guide §2.4; the compact-graph-loop discipline).
    val triP = graft.Caches.persist(tri.coalesce(1))
    val cov = triP.unionAll(triP.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c")))
      .coalesce(1)
    val tr = cov.filter(col("i") === col("j")).agg(sum(col("c")).as("trace"))
    val nv = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_vecs"))
    // r15: the max-|w| normalization bound rides an unbounded window over
    // the one-partition 64-row iterate instead of a 1-row broadcast
    // crossJoin — each round stays LAZY (no per-round localCheckpoint, no
    // eager broadcast subjob) and the chain references each round once, so
    // the unrolled tree is linear; one localCheckpoint AFTER the loop
    // flattens it for the four final consumers.
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var v = cov.select(col("i")).distinct().withColumn("vi", lit(1L))
    for (_ <- 1 to PowIters) {
      v = cov
        .join(broadcast(v.select(col("i").as("j"), col("vi").as("vj"))), Seq("j"))
        .groupBy(col("i"))
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * vj")).as("w"))
        .withColumn("m", max(abs(col("w"))).over(wAll))
        .select(col("i"), expr("CAST((w * 4096) div nullif(m, 0) AS BIGINT)").as("vi"))
    }
    v = graft.Caches.trackCheckpoint(v.localCheckpoint()).coalesce(1)
    val num = cov
      .join(broadcast(v.select(col("i"), col("vi").as("va"))), Seq("i"))
      .join(broadcast(v.select(col("i").as("j"), col("vi").as("vb"))), Seq("j"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * va * vb")).as("num"))
    val den = v.agg(sum(col("vi") * col("vi")).as("den"))
    val top = v.orderBy(abs(col("vi")).desc, col("i").asc).limit(1)
      .select(col("i").as("top_dim0"), col("vi").as("top_vi"))
    top
      .select(col("top_dim0"), col("top_vi"), nv.scalar().as("n_vecs"), tr.scalar().as("trace"),
        num.scalar().as("num"), den.scalar().as("den"))
      .select(col("n_vecs"), col("trace"),
        expr("CAST((num * 64 * 1000000) div (CAST(den AS DECIMAL(38,0)) * trace) AS BIGINT)")
          .as("anisotropy_ppm"),
        col("top_dim0").cast("long").as("top_dim"),
        expr("CAST((CAST(top_vi AS DECIMAL(38,0)) * top_vi * 1000000) div den AS BIGINT)")
          .as("top_share_ppm"))
      .orderBy(col("n_vecs"))
  }

  val q290Oracle: String = {
    val iters = (1 to PowIters).map { t =>
      s"""w$t AS (
         |  SELECT cov.i, sum(CAST(c AS HUGEINT) * vj.vi) AS w
         |  FROM cov JOIN v${t - 1} vj ON cov.j = vj.i GROUP BY 1),
         |m$t AS (SELECT max(abs(w)) AS m FROM w$t),
         |v$t AS MATERIALIZED (
         |  SELECT i, CAST((w * 4096) // nullif(m, 0) AS BIGINT) AS vi
         |  FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH xq AS MATERIALIZED (
      |  SELECT vec_id, i,
      |    CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * $KmFP) AS BIGINT) AS xi
      |  FROM embeddings, range(1, ${Dim + 1}) t(i)),
      |cov AS MATERIALIZED (
      |  SELECT a.i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS c
      |  FROM xq a JOIN xq b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2),
      |tr AS (SELECT CAST(sum(c) AS BIGINT) AS trace FROM cov WHERE i = j),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings),
      |v0 AS (SELECT DISTINCT i, CAST(1 AS BIGINT) AS vi FROM cov),
      |$iters,
      |num AS (
      |  SELECT sum(CAST(c AS HUGEINT) * a.vi * b.vi) AS num
      |  FROM cov JOIN v$PowIters a ON cov.i = a.i JOIN v$PowIters b ON cov.j = b.i),
      |den AS (SELECT CAST(sum(vi * vi) AS BIGINT) AS den FROM v$PowIters),
      |top AS (
      |  SELECT i AS top_dim0, vi AS top_vi FROM v$PowIters
      |  ORDER BY abs(vi) DESC, i ASC LIMIT 1)
      |SELECT n_vecs, trace,
      |  CAST((num * 64 * 1000000) // (CAST(den AS HUGEINT) * trace) AS BIGINT) AS anisotropy_ppm,
      |  CAST(top_dim0 AS BIGINT) AS top_dim,
      |  CAST((CAST(top_vi AS HUGEINT) * top_vi * 1000000) // den AS BIGINT) AS top_share_ppm
      |FROM top, nv, tr, num, den
      |ORDER BY n_vecs""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q290_embedding_anisotropy" -> (q290EmbeddingAnisotropy _),
    "q289_jl_projection_audit" -> (q289JlProjectionAudit _),
    "q288_graph_beam_search" -> (q288GraphBeamSearch _),
    "q287_nndescent_graph" -> (q287NnDescentGraph _),
    "q286_kcenter_coreset" -> (q286KCenterCoreset _),
    "q282_trained_ivfpq_recall" -> (q282TrainedIvfPqRecall _),
    "q281_trained_pq_distortion" -> (q281TrainedPqDistortion _),
    "q277_trained_ivf_eval" -> (q277TrainedIvfEval _),
    "q274_ivf_retrieval_eval" -> (q274IvfRetrievalEval _),
    "q275_map_at_k" -> (q275MapAtK _),
    "q268_retrieval_mrr_recall" -> (q268RetrievalMrrRecall _),
    "q265_ndcg_retrieval" -> (q265NdcgRetrieval _),
    "q249_maxsim_topk" -> (q249MaxsimTopk _),
    "q239_hard_negatives" -> (q239HardNegatives _),
    "q226_embedding_drift" -> (q226EmbeddingDrift _),
    "q194_centroid_sim_matrix" -> (q194CentroidSimMatrix _),
    "q191_int8_quant_recall" -> (q191Int8QuantRecall _),
    "q50_cosine_topk"        -> (q50CosineTopk _),
    "q51_ivf_topk"           -> (q51IvfTopk _),
    "q52_embedding_near_dup" -> (q52EmbeddingNearDup _),
    "q53_pq_topk"            -> (q53PqTopk _),
    "q100_centroid_outliers" -> (q100CentroidOutliers _),
    "q102_ivfpq_topk"        -> (q102IvfPqTopk _),
    "q110_kmeans_train"      -> (q110KmeansFixedPoint _),
    "q111_ann_recall"        -> (q111AnnRecall _),
    "q156_semantic_dedup"    -> (q156SemanticDedup _),
  )

  val oracles: Map[String, String] = Map(
    "q290_embedding_anisotropy" -> q290Oracle,
    "q289_jl_projection_audit" -> q289Oracle,
    "q288_graph_beam_search" -> q288Oracle,
    "q287_nndescent_graph" -> q287Oracle,
    "q286_kcenter_coreset" -> q286Oracle,
    "q282_trained_ivfpq_recall" -> q282Oracle,
    "q281_trained_pq_distortion" -> q281Oracle,
    "q277_trained_ivf_eval" -> q277Oracle,
    "q274_ivf_retrieval_eval" -> q274Oracle,
    "q275_map_at_k" -> q275Oracle,
    "q268_retrieval_mrr_recall" -> q268Oracle,
    "q265_ndcg_retrieval" -> q265Oracle,
    "q249_maxsim_topk" -> q249Oracle,
    "q239_hard_negatives" -> q239Oracle,
    "q226_embedding_drift" -> q226Oracle,
    "q194_centroid_sim_matrix" -> q194Oracle,
    "q191_int8_quant_recall" -> q191Oracle,
    "q50_cosine_topk"        -> q50Oracle,
    "q51_ivf_topk"           -> q51Oracle,
    "q52_embedding_near_dup" -> q52Oracle,
    "q53_pq_topk"            -> q53Oracle,
    "q100_centroid_outliers" -> q100Oracle,
    "q102_ivfpq_topk"        -> q102Oracle,
    "q110_kmeans_train"      -> q110Oracle,
    "q111_ann_recall"        -> q111Oracle,
    "q156_semantic_dedup"    -> q156Oracle,
  )
}
