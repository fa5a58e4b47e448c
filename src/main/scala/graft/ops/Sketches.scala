package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch, built from first principles on
  * codegen'd builtins (md5 / conv / length / shiftleft) — complementing the
  * KMV sketch (q83, `ops/Analytics.scala`) and the count-min sketch (q116,
  * `ops/Text.scala`). Flajolet et al. 2007 ("HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm") via the register
  * formulation every engine (including Spark's own approx_count_distinct)
  * uses.
  *
  * Exactness discipline: the whole sketch is integer arithmetic —
  *   - bucket = first 8 md5 bits, rho = leading-zero rank of the next 40
  *     bits (via base-2 string length: `conv(hex, 16, 2)` / DuckDB
  *     `bin()` — both render minimal-width, so length is the bit width;
  *     the all-zero slice is special-cased to rho = ValueBits + 1 per
  *     Flajolet's definition — bin(0) renders "0" with length 1, which
  *     would otherwise yield 40);
  *   - the harmonic sum Σ 2^-M_j is scaled by 2^41 so every term
  *     `2^(41-M_j)` is an exact BIGINT (M_j ∈ [1, 41]);
  *   - alpha_m·m² is the precomputed integer constant 47073
  *     (⌊0.7213/(1+1.079/256)·256²⌋), so the estimate is one integer
  *     division.
  * Bit-identical under any partial-agg order, any cluster size — the same
  * stance as the KMV/count-min/LSH sketches.
  *
  * Scale: registers are ONE partial+final hash aggregation on (group,
  * bucket) — max() is mergeable, so map-side combine reduces each partition
  * to ≤ m rows per group before the shuffle; the register→estimate step
  * aggregates m=256 rows per group. The exact countDistinct alongside is
  * for the accuracy report only (the thing the sketch replaces at 100 TB).
  */
object Sketches {

  val Buckets = 256          // m = 2^8 registers
  val ValueBits = 40         // rho domain: md5 bits 9..48
  val AlphaM2 = 47073L       // ⌊alpha_256 · 256²⌋, alpha_256 = 0.7213/(1 + 1.079/256)

  /** Per-group HLL registers: (group, bucket, M) for non-empty buckets.
    * The all-zero 40-bit slice (probability 2^-40 per key) takes
    * rho = ValueBits + 1 = 41, Flajolet's rank of a value with no 1-bit. */
  def hllRegisters(df: DataFrame, group: Column, key: Column): DataFrame = {
    val h = md5(key.cast("string").cast("binary"))
    val slice = conv(substring(h, 3, 10), 16, 10).cast("long")
    df.select(group.as("g"),
        conv(substring(h, 1, 2), 16, 10).cast("long").as("bucket"),
        when(slice === 0, lit(ValueBits + 1))
          .otherwise(lit(ValueBits + 1) - length(conv(substring(h, 3, 10), 16, 2)))
          .as("rho"))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("m"))
  }

  /** Collapse registers to the HLL raw estimate (exact integer form).
    * The harmonic sum is scaled by 2^(ValueBits+1) so the maximal register
    * M = 41 still contributes an integral term 2^0; empty buckets
    * contribute 2^41 (rho 0) via the (m − present) term. */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val scaleBits = ValueBits + 1
    regs.groupBy(col("g"))
      .agg(sum(expr(s"shiftleft(1L, $scaleBits - m)")).as("s"),
        count(lit(1)).as("nb"))
      .select(col("g"),
        expr(s"${AlphaM2 * (1L << scaleBits)}L div (s + ($Buckets - nb) * ${1L << scaleBits}L)")
          .as("hll_estimate"),
        (lit(Buckets) - col("nb")).cast("long").as("n_zero_registers"))
  }

  /** q127: distinct users per event type — HLL estimate vs exact, with the
    * zero-register count (the small-range-correction signal) and the signed
    * error. No floats anywhere, so the driver hash is stable.
    *
    * One fact pass: both the registers and the exact count derive from a
    * single distinct (event_type, user_id) shuffle (max() is insensitive to
    * duplicates, countDistinct needs the dedup anyway); the two downstream
    * aggregations then run over the reduced distinct frame, not the fact
    * table. The distinct frame is persisted so the branches share it. */
  def q127HllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Caches.persist(
      Tables.events(s, dir).select(col("event_type"), col("user_id")).distinct())
    val est = hllEstimate(hllRegisters(ev, col("event_type"), col("user_id")))
    val exact = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, est("g") === exact("event_type"))
      .select(col("event_type"), col("hll_estimate"), col("exact_distinct"),
        (col("hll_estimate") - col("exact_distinct")).as("err"),
        col("n_zero_registers"))
      .orderBy(col("event_type"))
  }

  val q127Oracle: String = {
    val scale = 1L << (ValueBits + 1)
    s"""WITH h AS (
       |  SELECT event_type,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) bucket,
       |    CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 10) AS BIGINT) = 0
       |         THEN ${ValueBits + 1}
       |         ELSE ${ValueBits + 1} - length(bin(
       |           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 10) AS BIGINT)))
       |    END rho
       |  FROM events),
       |regs AS (SELECT event_type, bucket, max(rho) m FROM h GROUP BY 1, 2),
       |terms AS (
       |  SELECT event_type,
       |    CAST(sum(1::BIGINT << (${ValueBits + 1} - m)) AS BIGINT) s,
       |    count(*) nb
       |  FROM regs GROUP BY 1),
       |est AS (
       |  SELECT event_type,
       |    CAST(${AlphaM2 * scale} // (s + ($Buckets - nb) * $scale) AS BIGINT) hll_estimate,
       |    CAST($Buckets - nb AS BIGINT) n_zero_registers
       |  FROM terms),
       |ex AS (SELECT event_type, count(DISTINCT user_id) exact_distinct FROM events GROUP BY 1)
       |SELECT e.event_type, e.hll_estimate,
       |       CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
       |       CAST(e.hll_estimate - x.exact_distinct AS BIGINT) AS err,
       |       e.n_zero_registers
       |FROM est e JOIN ex x USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  /** q132: bitmap-index distinct rollup — the EXACT mergeable-distinct
    * structure (Druid/ClickHouse/roaring style), complementing the
    * approximate HLL above. Per (day, word) the users whose id falls in
    * that 32-id word are a BIGINT bitmap (`bit_or` of single-bit masks);
    * weekly distinct counts are then computed FROM the daily bitmaps
    * (bit_or re-merge + bit_count sum) without ever touching the fact
    * table again — the same merge-not-recompute law as q131, applied to
    * COUNT(DISTINCT), which is NOT otherwise mergeable from per-day counts.
    *
    * Oracle = plain COUNT(DISTINCT) per week, proving the bitmap path
    * exact. 32-bit words in BIGINT storage keep every shift in positive
    * range for both engines. Shuffle profile: one fact-table partial+final
    * agg to (day, word) — word count is |id-space|/32, so partial
    * aggregation collapses each map partition before the shuffle; the
    * weekly re-merge aggregates the tiny bitmap table only. */
  def q132BitmapRollup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("dday"),
      col("user_id"))
    val daily = e
      .select(col("dday"), expr("user_id div 32").as("word"),
        expr("shiftleft(1L, cast(user_id % 32 as int))").as("mask"))
      .groupBy(col("dday"), col("word"))
      .agg(bit_or(col("mask")).as("bm"))
    daily
      .groupBy(expr("dday div 7").as("wk"), col("word"))
      .agg(bit_or(col("bm")).as("bm"))
      .groupBy(col("wk"))
      .agg(sum(bit_count(col("bm")).cast("long")).as("distinct_users"),
        count(lit(1)).as("n_words"))
      .orderBy(col("wk"))
  }

  /** Deliberately NOT the bitmap algorithm: the oracle counts distincts
    * directly, so a hash-match proves the bitmap rollup exact rather than
    * merely self-consistent. */
  val q132Oracle: String =
    """SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT) AS wk,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
      |       CAST(count(DISTINCT user_id // 32) AS BIGINT) AS n_words
      |FROM events GROUP BY 1 ORDER BY wk""".stripMargin

  /** q142: rolling 7-day distinct users FROM the daily bitmaps — the
    * compressed-index variant of q123 (which expands one row per
    * user-day-offset). Here the ×7 window expansion happens on the DAILY
    * WORD BITMAPS — |words| ≈ |id-space|/32 rows per day, already the
    * compressed representation — so the expansion volume is ~32× smaller
    * than q123's at the same accuracy (both exact). OR-merge per (target
    * day, word), popcount-sum per day; the trailing-day cap is a 1-row
    * max(dday) aggregate attached as a scalar subquery — a global
    * window would funnel the whole daily-bitmap frame (days ×
    * |id-space|/32 words) through ONE task's sort, exactly the
    * low-cardinality-window shape PlanSpec bans elsewhere. No driver
    * round-trip, no single-task sort, no join. Oracle is the INDEPENDENT
    * user-level formulation. */
  def q142RollingBitmap(s: SparkSession, dir: String): DataFrame = {
    // Persisted: both the 1-row max and the window expansion read the
    // reduced daily frame, so the fact table is scanned once.
    val daily = graft.Caches.persist(Tables.events(s, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("dday"),
        expr("user_id div 32").as("word"),
        expr("shiftleft(1L, cast(user_id % 32 as int))").as("mask"))
      .groupBy(col("dday"), col("word"))
      .agg(bit_or(col("mask")).as("bm")))
    val maxd = daily.agg(max(col("dday"))).scalar()
    daily
      .select(explode(sequence(col("dday"), least(col("dday") + 6, maxd))).as("d"),
        col("word"), col("bm"))
      .groupBy(col("d"), col("word")).agg(bit_or(col("bm")).as("bm"))
      .groupBy(col("d"))
      .agg(sum(bit_count(col("bm")).cast("long")).as("distinct_users_7d"))
      .orderBy(col("d"))
  }

  val q142Oracle: String =
    """WITH e AS (
      |  SELECT DISTINCT (CAST(ts AS DATE) - DATE '1970-01-01') AS dday, user_id
      |  FROM events),
      |mx AS (SELECT max(dday) m FROM e),
      |c AS (
      |  SELECT unnest(generate_series(dday, least(dday + 6, (SELECT m FROM mx)))) AS d,
      |         user_id
      |  FROM e)
      |SELECT CAST(d AS BIGINT) AS d,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users_7d
      |FROM c GROUP BY 1 ORDER BY d""".stripMargin

  val BloomBits = 256        // m: 8 32-bit words — deliberately small so
                             // the fp rate is VISIBLE at test SFs (~12% per
                             // key at sf0.01, saturated ~95% at sf0.1 — the
                             // undersized-filter cautionary tale, exactly
                             // priced), not a production setting; 32-bit
                             // words keep every shift ≤ 31 (DuckDB raises
                             // on 1<<63 where Spark wraps — the q132 lesson)
  val BloomHashes = 2        // k

  /** Bit position i of `key` in the m-bit Bloom filter: an md5 slice per
    * hash index, mod m — integer-exact in both engines. */
  private def bloomPos(key: Column, i: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit(s"#$i")).cast("binary")), 1, 8), 16, 10)
      .cast("long") % BloomBits

  /** q157: Bloom-filter semi-join reduction with EXACT false-positive
    * accounting — the manual form of the runtime filter ScaleSpec pins
    * Catalyst injecting, exposed as an operator because at 100 TB you
    * often build the filter yourself (ship a kilobyte bitmap to prune a
    * petabyte probe). Build: k md5-derived bit positions per build-side
    * key (suppliers of nations 0–11), OR-folded into 64-bit words — ≤32
    * rows, broadcast. Probe: each lineitem row tests its k bits via k
    * BROADCAST joins on the word index — entirely map-side, no shuffle
    * until the final per-flag rollup. Report per l_returnflag: rows,
    * bloom passes, true matches, false positives, and missed matches —
    * the last pinned to 0 by the oracle (a Bloom filter can never drop a
    * true match; the fp columns price what it lets through). All bit
    * arithmetic is exact int64, so even the "approximate" filter is
    * hash-reproducible. */
  def q157BloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.supplier(s, dir).filter(col("s_nationkey") < 12)
      .select(col("s_suppkey")).distinct()
    val words = dim
      .select(explode(array((0 until BloomHashes).map(i =>
        bloomPos(col("s_suppkey"), i)): _*)).as("pos"))
      .select(expr("pos div 32").as("w"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
      .groupBy(col("w")).agg(bit_or(col("mask")).as("bm"))
    val marked = dim.withColumn("is_match", lit(1L))
    var f = Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_returnflag"))
    for (i <- 0 until BloomHashes) {
      f = f.withColumn(s"p$i", bloomPos(col("l_suppkey"), i))
        .withColumn(s"w$i", expr(s"p$i div 32"))
        .withColumn(s"m$i", expr(s"shiftleft(1L, cast(p$i % 32 as int))"))
        .join(broadcast(words.select(col("w").as(s"w$i"), col("bm").as(s"bm$i"))),
          Seq(s"w$i"), "left")
    }
    val pass = (0 until BloomHashes)
      .map(i => (coalesce(col(s"bm$i"), lit(0L)).bitwiseAND(col(s"m$i"))) =!= 0L)
      .reduce(_ && _)
    f.join(broadcast(marked), col("l_suppkey") === col("s_suppkey"), "left")
      .withColumn("is_match", coalesce(col("is_match"), lit(0L)))
      .withColumn("pass", when(pass, 1L).otherwise(0L))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("pass")).as("n_pass_bloom"),
        sum(col("pass") * col("is_match")).as("n_true_match"),
        sum(col("pass") * (lit(1L) - col("is_match"))).as("n_false_pos"),
        sum((lit(1L) - col("pass")) * col("is_match")).as("n_missed"))
      .orderBy(col("l_returnflag"))
  }

  val q157Oracle: String = {
    def pos(key: String, i: Int) =
      s"CAST('0x' || substr(md5($key || '#$i'), 1, 8) AS BIGINT) % $BloomBits"
    val dimPoss = (0 until BloomHashes)
      .map(i => s"SELECT ${pos("CAST(s_suppkey AS VARCHAR)", i)} AS pos FROM dim")
      .mkString(" UNION ALL ")
    val probeCols = (0 until BloomHashes)
      .map(i => s"${pos("CAST(l_suppkey AS VARCHAR)", i)} AS p$i").mkString(",\n    ")
    val joins = (0 until BloomHashes)
      .map(i => s"LEFT JOIN words w$i ON p$i // 32 = w$i.w").mkString("\n  ")
    val passCond = (0 until BloomHashes)
      .map(i => s"(coalesce(w$i.bm, 0) & (1::BIGINT << CAST(p$i % 32 AS INT))) <> 0")
      .mkString(" AND ")
    s"""WITH dim AS (
      |  SELECT DISTINCT s_suppkey FROM supplier WHERE s_nationkey < 12),
      |poss AS ($dimPoss),
      |words AS (
      |  SELECT pos // 32 AS w, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bm
      |  FROM poss GROUP BY 1),
      |probe AS (
      |  SELECT l_suppkey, l_returnflag,
      |    $probeCols
      |  FROM lineitem),
      |flagged AS (
      |  SELECT l_returnflag,
      |    CASE WHEN $passCond THEN 1 ELSE 0 END AS pass,
      |    CASE WHEN l_suppkey IN (SELECT s_suppkey FROM dim) THEN 1 ELSE 0 END AS is_match
      |  FROM probe
      |  $joins)
      |SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(pass) AS BIGINT) AS n_pass_bloom,
      |  CAST(sum(pass * is_match) AS BIGINT) AS n_true_match,
      |  CAST(sum(pass * (1 - is_match)) AS BIGINT) AS n_false_pos,
      |  CAST(sum((1 - pass) * is_match) AS BIGINT) AS n_missed
      |FROM flagged GROUP BY 1 ORDER BY l_returnflag""".stripMargin
  }

  /** q164: per-group quantile estimation from a BOTTOM-K hash sample,
    * with exact error accounting. The mergeable-summary story for
    * quantiles: per group, keep the k=64 rows with the smallest
    * md5(row-key) — a uniform without-replacement sample that any two
    * partial sketches merge into by re-truncating to k (the KMV property,
    * pointed at order statistics instead of distinct counts). The group
    * median estimated from the sample sits next to the EXACT median and
    * the absolute error, so the operator reports its own accuracy (the
    * q157/q159 discipline).
    *
    * Shuffle shape: the sample is a [[graft.functions.TopKPairsAggregator]]
    * groupBy (score = negated hash → bottom-k; map-side combine caps every
    * partial buffer at k rows per group — never a per-group ranking window
    * over the fact table). Both medians are then SELECTED cells from
    * per-(group, value) aggregated frames: cumulative-count windows run
    * on Aggregate-reduced inputs, and `med2 = lower + upper` (the two
    * middle order statistics) keeps everything in exact integer cents —
    * no interpolation, no floats. */
  def q164BottomkQuantile(s: SparkSession, dir: String): DataFrame = {
    val SampleK = 64
    val bottomK = udaf(new graft.functions.TopKPairsAggregator(SampleK),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredKey])
    val base = graft.Caches.persist(
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nationkey"),
          col("o_orderkey"),
          graft.Exact.cents(col("o_totalprice")).as("cents"),
          conv(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 8), 16, 10)
            .cast("long").as("h")))
    val sampledKeys = base.groupBy(col("nationkey"))
      .agg(bottomK(col("o_orderkey"), -col("h")).as("picks"))
      .select(col("nationkey"), explode(col("picks")).as("sk"))
      .select(col("nationkey"), col("sk.key").as("o_orderkey"))
    val sampleVals = base.join(broadcast(sampledKeys), Seq("nationkey", "o_orderkey"), "left_semi")
    // med2 = lower + upper middle order statistics of `cents` per nation
    // (equal when the count is odd) — selected, never interpolated.
    def med2(df: DataFrame, medName: String, totName: String): DataFrame = {
      val byG = Window.partitionBy(col("nationkey"))
      val cumW = byG.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.groupBy(col("nationkey"), col("cents")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(cumW))
        .withColumn("tot", sum(col("cnt")).over(byG))
        .groupBy(col("nationkey"))
        .agg(
          (min(when(col("cum") >= expr("(tot + 1) div 2"), col("cents"))) +
            min(when(col("cum") >= expr("(tot + 2) div 2"), col("cents"))))
            .as(medName),
          max(col("tot")).as(totName))
    }
    med2(base, "exact_med_x2_cents", "n_rows")
      .join(med2(sampleVals, "est_med_x2_cents", "k_used"), Seq("nationkey"))
      .select(col("nationkey"), col("n_rows"), col("k_used"),
        col("exact_med_x2_cents"), col("est_med_x2_cents"),
        abs(col("est_med_x2_cents") - col("exact_med_x2_cents")).as("err_x2_cents"))
      .orderBy(col("nationkey"))
  }

  val q164Oracle: String =
    """WITH base AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |samp AS (
      |  SELECT nationkey, cents FROM (
      |    SELECT nationkey, cents,
      |      row_number() OVER (PARTITION BY nationkey ORDER BY h ASC, o_orderkey ASC) AS rn
      |    FROM base) r WHERE rn <= 64),
      |me AS (
      |  SELECT nationkey,
      |    min(CASE WHEN cum >= (tot + 1) // 2 THEN cents END) +
      |      min(CASE WHEN cum >= (tot + 2) // 2 THEN cents END) AS exact_med_x2_cents,
      |    CAST(max(tot) AS BIGINT) AS n_rows
      |  FROM (
      |    SELECT nationkey, cents,
      |      sum(cnt) OVER (PARTITION BY nationkey ORDER BY cents
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      sum(cnt) OVER (PARTITION BY nationkey) AS tot
      |    FROM (SELECT nationkey, cents, count(*) AS cnt FROM base GROUP BY 1, 2) pv) c
      |  GROUP BY 1),
      |ms AS (
      |  SELECT nationkey,
      |    min(CASE WHEN cum >= (tot + 1) // 2 THEN cents END) +
      |      min(CASE WHEN cum >= (tot + 2) // 2 THEN cents END) AS est_med_x2_cents,
      |    CAST(max(tot) AS BIGINT) AS k_used
      |  FROM (
      |    SELECT nationkey, cents,
      |      sum(cnt) OVER (PARTITION BY nationkey ORDER BY cents
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      sum(cnt) OVER (PARTITION BY nationkey) AS tot
      |    FROM (SELECT nationkey, cents, count(*) AS cnt FROM samp GROUP BY 1, 2) pv) c
      |  GROUP BY 1)
      |SELECT me.nationkey, n_rows, k_used, exact_med_x2_cents, est_med_x2_cents,
      |  abs(est_med_x2_cents - exact_med_x2_cents) AS err_x2_cents
      |FROM me JOIN ms ON me.nationkey = ms.nationkey
      |ORDER BY me.nationkey""".stripMargin

  private val CmWidth = 1024L

  /** q206: sketch-driven join-size estimation — the Cormode–Muthukrishnan
    * inner-product law (the second half of the count-min paper, '05 §4.2):
    * for relations R and S keyed by k, |R ⋈ S| = Σₖ c_R(k)·c_S(k), and the
    * row-wise dot product of their count-min grids, minimized over the d
    * rows, upper-bounds it. This is how a 100 TB optimizer prices a join
    * WITHOUT scanning either input twice: the 4×1024 grids are mergeable
    * partial aggregates kept as table statistics, and the estimate is a
    * 4096-cell dot product — the CBO cardinality probe (ScaleSpec's
    * ANALYZE pin) rebuilt from sketches that survive appends. R = lineitem
    * on l_partkey, S = the returned-items slice (l_returnflag = 'R') —
    * genuinely many-to-many on both sides. Emits, per grid row r: the dot
    * product, the min-over-rows estimate, the exact join size, and the
    * overestimate in exact ppm (collision inflation; ≥ 0 always).
    *
    * Exactness: same deterministic md5-slice hashing as q116/q127; grid
    * cells and dot products are integer sums widened to DECIMAL(38,0)/
    * HUGEINT — at 1e12-row inputs the dot product passes 2^63, so the
    * widening is the operating requirement.
    *
    * Scale stance: ONE scan of lineitem builds both per-key count frames
    * in a single hash aggregate; each grid is a ≤4096-row reduce; the dot
    * product joins two 4096-row frames; exact is one more reduce of the
    * per-key frame (here for the audit — a production deployment keeps
    * only the grids). The exact size attaches as a scalar subquery. */
  def q206CmsJoinSize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def wide(c: Column): Column = c.cast(DecimalType(38, 0))
    val pk = graft.Caches.persist(
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("k"))
        .agg(
          count(lit(1)).as("na"),
          sum(when(col("l_returnflag") === "R", lit(1L)).otherwise(lit(0L))).as("nb")))
    def grid(nc: String, out: String): DataFrame = pk
      .filter(col(nc) > 0)
      .select(col(nc).as("n"), md5(col("k").cast("string").cast("binary")).as("m"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .select(col("r"),
        (conv(expr("substring(m, 1 + r * 4, 4)"), 16, 10).cast("long") % CmWidth).as("cell"),
        col("n"))
      .groupBy(col("r"), col("cell")).agg(sum(col("n")).as(out))
    val exact = pk.agg(sum(wide(col("na")) * wide(col("nb")))).scalar()
    val dots = grid("na", "ca").join(grid("nb", "cb"), Seq("r", "cell"))
      .groupBy(col("r")).agg(sum(wide(col("ca")) * wide(col("cb"))).as("dot_wide"))
    dots
      .withColumn("est_wide", min(col("dot_wide")).over(Window.partitionBy()))
      .withColumn("exact_wide", exact)
      .select(col("r").cast("long").as("r"),
        col("dot_wide").cast("long").as("dot_product"),
        col("est_wide").cast("long").as("cms_estimate"),
        col("exact_wide").cast("long").as("exact_join_size"),
        expr("((dot_wide - exact_wide) * 1000000) div exact_wide").cast("long")
          .as("overestimate_ppm"))
      .orderBy(col("r"))
  }

  val q206Oracle: String =
    s"""WITH pk AS (
      |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM lineitem GROUP BY 1),
      |ex AS (SELECT sum(CAST(na AS HUGEINT) * nb) AS exact_join_size FROM pk),
      |ga AS (
      |  SELECT r.r,
      |    CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1 + r.r * 4, 4) AS BIGINT)
      |      % $CmWidth AS cell,
      |    CAST(sum(na) AS BIGINT) AS ca
      |  FROM pk CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
      |  WHERE na > 0 GROUP BY 1, 2),
      |gb AS (
      |  SELECT r.r,
      |    CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1 + r.r * 4, 4) AS BIGINT)
      |      % $CmWidth AS cell,
      |    CAST(sum(nb) AS BIGINT) AS cb
      |  FROM pk CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
      |  WHERE nb > 0 GROUP BY 1, 2),
      |dots AS (
      |  SELECT ga.r, sum(CAST(ca AS HUGEINT) * cb) AS dot
      |  FROM ga JOIN gb ON ga.r = gb.r AND ga.cell = gb.cell GROUP BY 1)
      |SELECT CAST(r AS BIGINT) AS r,
      |  CAST(dot AS BIGINT) AS dot_product,
      |  CAST(min(dot) OVER () AS BIGINT) AS cms_estimate,
      |  CAST(exact_join_size AS BIGINT) AS exact_join_size,
      |  CAST((dot - exact_join_size) * 1000000 // exact_join_size AS BIGINT)
      |    AS overestimate_ppm
      |FROM dots CROSS JOIN ex ORDER BY r""".stripMargin

  /** q237: KMV set ALGEBRA — the reason a pipeline keeps bottom-k sketches
    * per segment instead of exact user sets: union, intersection, Jaccard
    * and difference sizes between any two segments come from the two
    * k-row sketches alone (Beyer et al. 2007's distinct-value synopses;
    * the q216 merge law supplies the union sketch). Here: purchase users
    * vs click users. bottom-k(A ∪ B) = bottom-k(skA ∪ skB); within that
    * union sample every value that belongs to A is necessarily inside
    * skA (union kth-min ≤ A's kth-min), so membership is an
    * array-contains against the sketches — matches/k estimates Jaccard,
    * and ρ·est_union estimates each region's size. Estimates are EXACT
    * integers: (k−1)·2⁶⁰ runs in DECIMAL(38,0) before the floor division
    * (the widening that q216's double estimator sidesteps), so the row
    * hashes bit-for-bit cross-engine.
    *
    * Scale: two corpus-side hash aggregates (distinct → bottom-k, map-side
    * combined to ≤ k rows per group by the TopKAggregator); everything
    * after is one row holding two 64-element arrays.
    * At 100 TB the segment pair matrix (|segments|² comparisons) touches
    * only sketches, never the fact table. */
  def q237SketchSetAlgebra(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val minK = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredKey])
    val hashed = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 15),
          16, 10).cast("long").as("h"))
      .distinct()
    // Degenerate-input guard (ADVICE r9): an empty segment has no sketch
    // row, while the oracle's ungrouped array_agg subqueries still emit one
    // row — so both sketches ride one struct scalar subquery (a field is
    // NULL when its segment is absent) and an absent sketch coalesces to
    // the EMPTY array (the oracle coalesces identically), keeping the row
    // shape engine-identical on empty segments.
    val sk = hashed.groupBy(col("event_type")).agg(minK(col("h"), -col("h")).as("mins"))
      .agg(struct(
        max(when(col("event_type") === "purchase", col("mins"))).as("ma"),
        max(when(col("event_type") === "click", col("mins"))).as("mb"))).scalar()
    def seg(name: String): Column =
      coalesce(sk.getField(name), expr("CAST(array() AS ARRAY<BIGINT>)")).as(name)
    val est = (arr: String) =>
      s"""CASE WHEN size($arr) < $k THEN CAST(size($arr) AS BIGINT)
         |ELSE CAST((${k - 1} * CAST(1152921504606846976 AS DECIMAL(38,0)))
         |  div element_at($arr, $k) AS BIGINT) END""".stripMargin
    s.range(1).select(seg("ma"), seg("mb"))
      .select(col("ma"), col("mb"),
        expr(s"slice(array_sort(array_distinct(concat(ma, mb))), 1, $k)").as("mu"))
      .select(
        lit(k.toLong).as("k"),
        expr("CAST(size(mu) AS BIGINT)").as("n_union_sample"),
        expr("CAST(size(filter(mu, x -> array_contains(ma, x) AND array_contains(mb, x))) AS BIGINT)")
          .as("n_common_sample"),
        expr(est("ma")).as("est_purchase"),
        expr(est("mb")).as("est_click"),
        expr(est("mu")).as("est_union"),
        expr(s"""(CAST(size(filter(mu, x -> array_contains(ma, x) AND array_contains(mb, x))) AS BIGINT)
                 | * 1000000L) div nullif(size(mu), 0)""".stripMargin).as("jaccard_ppm"),
        expr(s"""(CAST(size(filter(mu, x -> array_contains(ma, x) AND array_contains(mb, x))) AS BIGINT)
                 | * (${est("mu")})) div nullif(size(mu), 0)""".stripMargin).as("est_intersection"),
        expr(s"""(CAST(size(filter(mu, x -> array_contains(ma, x) AND NOT array_contains(mb, x))) AS BIGINT)
                 | * (${est("mu")})) div nullif(size(mu), 0)""".stripMargin).as("est_purchase_only"),
        expr(s"""(CAST(size(filter(mu, x -> array_contains(mb, x) AND NOT array_contains(ma, x))) AS BIGINT)
                 | * (${est("mu")})) div nullif(size(mu), 0)""".stripMargin).as("est_click_only"))
  }

  /** q250: log-bucket quantile sketch — the DDSketch idea (Masson, Rim &
    * Lee, VLDB 2019: "DDSketch: a fast and fully-mergeable quantile sketch
    * with relative-error guarantees") in the house exact-integer form,
    * completing the mergeable-summary family (HLL q202, KMV q216, CMS
    * q206, Bloom q221, bitmap q132) with the QUANTILE member. Values map
    * to logarithmic buckets keyed by (exponent, 3 mantissa bits):
    * e = ⌊log₂ x⌋ via binary-string length, m = (8x) div 2^e ∈ [8,16),
    * bucket = 8e + m − 8 — so within a bucket values span a ratio of at
    * most (m+1)/m ≤ 9/8, a ≤ 12.5% relative-error guarantee, and the
    * sketch is a plain per-bucket count frame: mergeable by addition, ~8
    * buckets per octave (≤ ~500 for all of BIGINT).
    *
    * The audit runs the production two-phase pattern: the sketch
    * LOCALIZES each target quantile (p50/p90/p99) to one bucket from
    * cumulative counts, then a second pass over ONLY that bucket's values
    * resolves the exact order statistic (q223's shape) — and the query
    * pins the structural guarantee on data: the exact value must lie in
    * [lo, hi] of the localized bucket (`in_bucket` ≡ 1), with the bucket's
    * a-priori error bound shipped in ppm.
    *
    * Scale: one hash aggregate builds the sketch; the targets frame is
    * bounded (|buckets| ≤ ~500); the resolve pass touches ~n/|buckets|
    * rows via a broadcast semi-join on the bucket key. At 100 TB the
    * sketch itself is what ships between dumps — counts add, no rescan. */
  def q250LogQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val bx = graft.Caches.persist(
      Tables.lineitem(s, dir)
        .select(graft.Exact.cents(col("l_extendedprice")).as("x"))
        .withColumn("e", expr("CAST(length(bin(x)) - 1 AS BIGINT)"))
        .withColumn("m", expr("(x * 8) div shiftleft(CAST(1 AS BIGINT), CAST(e AS INT))"))
        .select(col("x"), (col("e") * 8 + col("m") - 8).as("bucket")))
    val sketch = bx.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val wOrd = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val targets = sketch
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(col("bucket"), col("cum"), col("cnt"), col("n"),
        explode(array(
          struct(lit("p50").as("stat"), expr("(n + 1) div 2").as("k")),
          struct(lit("p90").as("stat"), expr("(9 * n + 9) div 10").as("k")),
          struct(lit("p99").as("stat"), expr("(99 * n + 99) div 100").as("k")))).as("sk"))
      .filter(col("cum") - col("cnt") < col("sk.k") && col("sk.k") <= col("cum"))
      .select(col("sk.stat").as("stat"), col("bucket"), col("n"),
        col("sk.k").as("k"), (col("sk.k") - (col("cum") - col("cnt"))).as("r"))
    val wIn = Window.partitionBy(col("stat")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bx.join(broadcast(targets), Seq("bucket"))
      .groupBy(col("stat"), col("bucket"), col("n"), col("k"), col("r"), col("x"))
      .agg(count(lit(1)).as("cc"))
      .withColumn("cumc", sum(col("cc")).over(wIn))
      .filter(col("cumc") >= col("r"))
      .groupBy(col("stat"), col("bucket"), col("n"), col("k"))
      .agg(min(col("x")).as("exact_cents"))
      .withColumn("em", expr("bucket % 8 + 8"))
      .withColumn("ee", expr("bucket div 8"))
      .withColumn("lo_cents", expr(
        "(em * shiftleft(CAST(1 AS BIGINT), CAST(ee AS INT)) + 7) div 8"))
      .withColumn("hi_cents", expr(
        "((em + 1) * shiftleft(CAST(1 AS BIGINT), CAST(ee AS INT)) + 7) div 8 - 1"))
      .select(col("stat"), col("n"), col("k"), col("bucket"),
        col("lo_cents"), col("hi_cents"), col("exact_cents"),
        (col("exact_cents") >= col("lo_cents") &&
          col("exact_cents") <= col("hi_cents")).cast("long").as("in_bucket"),
        expr("((hi_cents - lo_cents) * 1000000) div lo_cents").as("err_bound_ppm"))
      .orderBy(col("stat"))
  }

  val q250Oracle: String =
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x FROM lineitem),
      |b AS (
      |  SELECT x,
      |    (length(printf('%b', x)) - 1) * 8
      |      + (x * 8) // (CAST(1 AS BIGINT) << (length(printf('%b', x)) - 1))
      |      - 8 AS bucket
      |  FROM v),
      |sk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bucket),
      |cum AS (
      |  SELECT bucket, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM sk),
      |stats AS (
      |  SELECT c.bucket, c.cum, c.cnt, c.n, s.stat,
      |    CASE s.stat WHEN 'p50' THEN (c.n + 1) // 2
      |                WHEN 'p90' THEN (9 * c.n + 9) // 10
      |                ELSE (99 * c.n + 99) // 100 END AS k
      |  FROM cum c, (SELECT unnest(['p50', 'p90', 'p99']) AS stat) s),
      |targets AS (
      |  SELECT stat, bucket, n, k, k - (cum - cnt) AS r
      |  FROM stats WHERE cum - cnt < k AND k <= cum),
      |ranked AS (
      |  SELECT t.stat, t.bucket, t.n, t.k, t.r, b.x,
      |    row_number() OVER (PARTITION BY t.stat ORDER BY b.x) AS rn
      |  FROM b JOIN targets t USING (bucket)),
      |exact AS (
      |  SELECT stat, bucket, n, k, x AS exact_cents
      |  FROM ranked WHERE rn = r),
      |bounds AS (
      |  SELECT *, bucket % 8 + 8 AS em, bucket // 8 AS ee FROM exact),
      |fin AS (
      |  SELECT stat, n, k, bucket,
      |    (em * (CAST(1 AS BIGINT) << ee) + 7) // 8 AS lo_cents,
      |    ((em + 1) * (CAST(1 AS BIGINT) << ee) + 7) // 8 - 1 AS hi_cents,
      |    exact_cents
      |  FROM bounds)
      |SELECT stat, n, k, bucket, lo_cents, hi_cents, exact_cents,
      |  CAST(CASE WHEN exact_cents BETWEEN lo_cents AND hi_cents
      |       THEN 1 ELSE 0 END AS BIGINT) AS in_bucket,
      |  ((hi_cents - lo_cents) * 1000000) // lo_cents AS err_bound_ppm
      |FROM fin
      |ORDER BY stat""".stripMargin

  // ---- q285: Misra–Gries mergeable heavy hitters ---------------------------

  private val MgK = 8        // counters per summary → ε = 1/(K+1) of stream weight
  private val MgShards = 16  // leaf summaries; binary merge tree, log₂(16) = 4 levels
  private val MgLevels = 4

  /** q285: Misra–Gries heavy hitters as a MERGEABLE summary (Misra & Gries
    * '82; the merge and its error preservation are Agarwal, Cormode,
    * Huang, Phillips, Wei, Yi, "Mergeable Summaries", PODS '12 §3) — the
    * frequent-items member the sketch family (HLL q127 / KMV q83 / CMS
    * q116 / Bloom q157 / DDSketch q250) was missing. A 100 TB pipeline
    * keeps a K-counter summary per shard/day/source and answers "which
    * tokens dominate the corpus" by merging summaries — never by a second
    * vocab-scale scan.
    *
    * Shape: tokens shard by the first md5 hex byte (mod 16); each shard's
    * exact (token, count) frame — itself a zero-error MG summary — is
    * COMPRESSED to ≤ K counters (subtract the (K+1)-th largest counter
    * value t from every counter, keep the strictly-positive ones; at most
    * K survive because ties with t die at 0), then the 16 summaries merge
    * pairwise up a fixed 4-level binary tree: sum counters by token,
    * compress again. Every step is exact int64 order-statistics —
    * order-independent, engine-identical, bit-exact on any cluster.
    *
    * The PODS '12 invariant rides the result: each compress that subtracts
    * t reduces the summary's total weight by ≥ (K+1)·t while lowering any
    * single token's estimate by ≤ t, so for every token
    * `true − est ≤ (n_total − ŵ)/(K+1)` where ŵ is the surviving weight —
    * emitted as `err` vs `err_bound` columns (underestimates only:
    * `0 ≤ err` always). The exact `true_cnt` alongside is the accuracy
    * report the summary replaces at scale, computed by a broadcast
    * semi-filter of the ≤ K survivors — never a vocab-wide count.
    *
    * Scale stance: phase 1 is one map-side-combined (shard, token) count
    * (the same shuffle shape as any word count); everything after operates
    * on ≤ K·16 rows. The merge tree IS the summary algebra — at 100 TB the
    * leaves are per-partition/per-day summaries and only K-row frames ever
    * move. */
  def q285MgHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // persist the token frame, NOT the (g, tok) aggregate: the level-0
    // compress windows must sit directly on the visible Aggregate (an
    // InMemoryRelation leaf would hide the reduction from the plan lint
    // and from anyone reading the plan)
    val toks = graft.Caches.persist(Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("tok")))
    val base = toks
      .withColumn("g",
        conv(substring(md5(col("tok").cast("binary")), 1, 2), 16, 10).cast("long") % MgShards)
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("est"))
    // compress: subtract the (K+1)-th largest counter value, keep > 0
    def compress(df: DataFrame): DataFrame = {
      val wRank = Window.partitionBy(col("g")).orderBy(col("est").desc, col("tok").asc)
      val wG = Window.partitionBy(col("g"))
      df.withColumn("rn", row_number().over(wRank))
        .withColumn("thr",
          coalesce(max(when(col("rn") === MgK + 1, col("est"))).over(wG), lit(0L)))
        .filter(col("est") > col("thr"))
        .select(col("g"), col("tok"), (col("est") - col("thr")).as("est"))
    }
    // r15 (guide §2.4, the compact-loop discipline): after the level-0
    // compress the frame is ≤ MgShards·K rows forever — coalesce(1) makes
    // every merge/compress level exchange-free (one partition satisfies the
    // windows' and aggregates' clustered distributions), so the 4-level
    // tree is a single narrow chain instead of ~10 dictionary-size shuffles
    // each riding its own AQE stage job.
    var cur = compress(base).coalesce(1)
    for (_ <- 1 to MgLevels)
      cur = compress(cur.select(expr("g div 2").as("g"), col("tok"), col("est"))
        .groupBy(col("g"), col("tok")).agg(sum(col("est")).as("est")))
    // hh is ≤ K rows and feeds THREE consumers (the result join, w_hat, the
    // truth semi-filter): checkpoint so the tree and the vocab-scale base
    // aggregate run once, not three times.
    val hh = graft.Caches.trackCheckpoint(
      cur.select(col("tok"), col("est")).localCheckpoint())
    val totals = toks.agg(count(lit(1))).scalar()
    val wHat = hh.agg(sum(col("est"))).scalar()
    val truth = toks.join(broadcast(hh.select(col("tok"))), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
    hh.join(truth, Seq("tok"))
      .withColumn("n_total", totals).withColumn("w_hat", wHat)
      .select(col("tok"), col("est").as("mg_cnt"), col("true_cnt"),
        (col("true_cnt") - col("est")).as("err"),
        expr(s"(n_total - w_hat) div ${MgK + 1}").as("err_bound"),
        col("n_total"))
      .orderBy(col("mg_cnt").desc, col("tok").asc)
  }

  val q285Oracle: String = {
    def compressCte(out: String, in: String): String =
      s"""$out AS (
         |  SELECT g, tok, est - thr AS est
         |  FROM (SELECT g, tok, est,
         |          coalesce(max(CASE WHEN rn = ${MgK + 1} THEN est END)
         |            OVER (PARTITION BY g), CAST(0 AS BIGINT)) AS thr
         |        FROM (SELECT g, tok, est,
         |                row_number() OVER (PARTITION BY g ORDER BY est DESC, tok ASC) AS rn
         |              FROM $in) r) c
         |  WHERE est > thr)""".stripMargin
    def mergeCte(out: String, in: String): String =
      s"""$out AS (
         |  SELECT g // 2 AS g, tok, CAST(sum(est) AS BIGINT) AS est
         |  FROM $in GROUP BY 1, 2)""".stripMargin
    val tree = (1 to MgLevels).map { l =>
      mergeCte(s"m$l", s"l${l - 1}") + ",\n" + compressCte(s"l$l", s"m$l")
    }.mkString(",\n")
    s"""WITH toks AS (SELECT unnest(${Text.tokensSql}) AS tok FROM documents),
      |base AS (
      |  SELECT CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) % $MgShards AS g,
      |    tok, CAST(count(*) AS BIGINT) AS est
      |  FROM toks GROUP BY 1, 2),
      |${compressCte("l0", "base")},
      |$tree,
      |tot AS (SELECT CAST(sum(est) AS BIGINT) AS n_total FROM base),
      |what AS (SELECT CAST(sum(est) AS BIGINT) AS w_hat FROM l$MgLevels),
      |truth AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
      |  FROM toks WHERE tok IN (SELECT tok FROM l$MgLevels) GROUP BY 1)
      |SELECT h.tok, h.est AS mg_cnt, true_cnt, true_cnt - h.est AS err,
      |  (n_total - w_hat) // ${MgK + 1} AS err_bound, n_total
      |FROM l$MgLevels h JOIN truth USING (tok) CROSS JOIN tot CROSS JOIN what
      |ORDER BY mg_cnt DESC, tok ASC""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q285_mg_heavy_hitters" -> (q285MgHeavyHitters _),
    "q250_log_quantile_sketch" -> (q250LogQuantileSketch _),
    "q237_sketch_set_algebra" -> (q237SketchSetAlgebra _),
    "q206_cms_join_size" -> (q206CmsJoinSize _),
    "q127_hll_distinct" -> (q127HllDistinct _),
    "q132_bitmap_rollup" -> (q132BitmapRollup _),
    "q142_rolling_bitmap" -> (q142RollingBitmap _),
    "q157_bloom_semijoin" -> (q157BloomSemijoin _),
    "q164_bottomk_quantile" -> (q164BottomkQuantile _),
    "q202_hll_merge" -> (q202HllMerge _),
    "q216_kmv_merge" -> (q216KmvMerge _),
    "q221_bloom_fpr_audit" -> (q221BloomFprAudit _))

  val oracles: Map[String, String] = Map(
    "q285_mg_heavy_hitters" -> q285Oracle,
    "q250_log_quantile_sketch" -> q250Oracle,
    "q237_sketch_set_algebra" -> q237Oracle,
    "q206_cms_join_size" -> q206Oracle,
    "q127_hll_distinct" -> q127Oracle,
    "q132_bitmap_rollup" -> q132Oracle,
    "q142_rolling_bitmap" -> q142Oracle,
    "q157_bloom_semijoin" -> q157Oracle,
    "q164_bottomk_quantile" -> q164Oracle,
    "q202_hll_merge" -> q202Oracle,
    "q216_kmv_merge" -> q216Oracle,
    "q221_bloom_fpr_audit" -> q221Oracle)

  /** q202: HLL dump-merge law — the reason a 100 TB pipeline can keep
    * per-source/per-month distinct-user sketches and NEVER rescan old
    * dumps: registers are max-mergeable, so estimate(merge(sketch(dump₁),
    * …, sketch(dumpₖ))) ≡ estimate(sketch(∪ dumps)) exactly, not
    * approximately. This query PROVES the law on data: the user space is
    * split into 4 disjoint "dumps" (user_id mod 4), a register table is
    * built independently per (event_type, dump), the four sketches merge
    * by per-bucket max, and the merged estimate is emitted next to the
    * direct whole-set estimate with an equality flag — 1 for every row,
    * by the associativity of max, in any engine.
    *
    * Complements q132 (EXACT bitmap merge) with the approximate half of
    * the mergeable-summary story, and q127 (accuracy vs exact) with the
    * maintenance law. Same deterministic md5 integer registers as q127 —
    * no floats, driver-hash stable.
    *
    * Scale stance: one distinct (event_type, user_id) shuffle; the
    * per-dump register agg and the merge agg both run over register-table
    * frames bounded by |groups|·m — at any corpus size the merge input is
    * sketches, not data. */
  def q202HllMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Caches.persist(
      Tables.events(s, dir).select(col("event_type"), col("user_id")).distinct())
    val h = md5(col("user_id").cast("string").cast("binary"))
    val slice = conv(substring(h, 3, 10), 16, 10).cast("long")
    val perDump = ev
      .select(col("event_type"), (col("user_id") % 4).as("dump"),
        conv(substring(h, 1, 2), 16, 10).cast("long").as("bucket"),
        when(slice === 0, lit(ValueBits + 1))
          .otherwise(lit(ValueBits + 1) - length(conv(substring(h, 3, 10), 16, 2)))
          .as("rho"))
      .groupBy(col("event_type"), col("dump"), col("bucket"))
      .agg(max(col("rho")).as("m"))
    val merged = hllEstimate(perDump
        .groupBy(col("event_type"), col("bucket"))
        .agg(max(col("m")).as("m"))
        .select(col("event_type").as("g"), col("bucket"), col("m")))
      .select(col("g"), col("hll_estimate").as("merged_estimate"))
    val direct = hllEstimate(hllRegisters(ev, col("event_type"), col("user_id")))
      .select(col("g"), col("hll_estimate").as("direct_estimate"))
    val nDumps = perDump.groupBy(col("event_type"))
      .agg(countDistinct(col("dump")).as("n_dumps"))
    merged.join(direct, Seq("g"))
      .join(nDumps, merged("g") === nDumps("event_type"))
      .select(col("g").as("event_type"), col("n_dumps"),
        col("merged_estimate"), col("direct_estimate"),
        (col("merged_estimate") === col("direct_estimate")).cast("long")
          .as("merge_exact"))
      .orderBy(col("event_type"))
  }

  // def, not val: this is referenced by the `oracles` map declared ABOVE
  // it — a val would still be null at map construction (the round-5
  // object-initialization-order trap q154 hit).
  def q202Oracle: String = {
    val scale = 1L << (ValueBits + 1)
    s"""WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type, user_id % 4 AS dump,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS BIGINT) bucket,
       |    CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 10) AS BIGINT) = 0
       |         THEN ${ValueBits + 1}
       |         ELSE ${ValueBits + 1} - length(bin(
       |           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 10) AS BIGINT)))
       |    END rho
       |  FROM ev),
       |per_dump AS (SELECT event_type, dump, bucket, max(rho) m FROM h GROUP BY 1, 2, 3),
       |merged_regs AS (SELECT event_type, bucket, max(m) m FROM per_dump GROUP BY 1, 2),
       |direct_regs AS (SELECT event_type, bucket, max(rho) m FROM h GROUP BY 1, 2),
       |mt AS (SELECT event_type,
       |         CAST(sum(1::BIGINT << (${ValueBits + 1} - m)) AS BIGINT) s, count(*) nb
       |       FROM merged_regs GROUP BY 1),
       |dt AS (SELECT event_type,
       |         CAST(sum(1::BIGINT << (${ValueBits + 1} - m)) AS BIGINT) s, count(*) nb
       |       FROM direct_regs GROUP BY 1),
       |me AS (SELECT event_type,
       |         CAST(${AlphaM2 * scale} // (s + ($Buckets - nb) * $scale) AS BIGINT)
       |           AS merged_estimate
       |       FROM mt),
       |de AS (SELECT event_type,
       |         CAST(${AlphaM2 * scale} // (s + ($Buckets - nb) * $scale) AS BIGINT)
       |           AS direct_estimate
       |       FROM dt),
       |nd AS (SELECT event_type, CAST(count(DISTINCT dump) AS BIGINT) AS n_dumps
       |       FROM per_dump GROUP BY 1)
       |SELECT me.event_type, n_dumps, merged_estimate, direct_estimate,
       |  CAST(CASE WHEN merged_estimate = direct_estimate THEN 1 ELSE 0 END AS BIGINT)
       |    AS merge_exact
       |FROM me JOIN de USING (event_type) JOIN nd USING (event_type)
       |ORDER BY me.event_type""".stripMargin
  }
  /** q216: KMV (bottom-k) dump-merge law — the second mergeable-summary
    * family, completing q202's HLL half with the ORDER-STATISTIC one
    * (Agarwal et al. 2012, "Mergeable Summaries"; Bar-Yossef et al. 2002's
    * KMV): the k smallest distinct hash values of a union are recoverable
    * from the per-part bottom-k sketches alone — bottom-k(∪ S_i) ≡
    * bottom-k(∪ bottom-k(S_i)) EXACTLY, so per-dump sketches merge
    * without ever rescanning old dumps, and the kth-min (hence the
    * estimate) is bit-identical, not approximately equal. The user space
    * splits into 4 disjoint dumps (user_id mod 4); per event_type the
    * 4 sketches merge and the merged kth-min rides next to the direct
    * whole-set kth-min with an equality flag ≡ 1.
    *
    * Same deterministic 60-bit md5-prefix hash as q83; the sketch agg is
    * the bounded-buffer TopKAggregator (map-side combine to ≤ k rows per
    * group — at 100 TB the merge input is sketches, never data). The
    * merge stage explodes only the |types|·4·k sketch rows.
    *
    * Guarded kth access (`when(size ≥ k)`): a small dump can hold fewer
    * than k users and ANSI element_at would throw; both engines then
    * yield NULL and compare on the estimate instead. */
  def q216KmvMerge(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val pow60 = 1152921504606846976L // 2^60, exactly representable in double
    val minK = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredKey])
    def kth(mins: Column): Column =
      when(size(mins) >= k, element_at(mins, k))
    def est(mins: Column): Column =
      when(size(mins) < k, size(mins).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(pow60).cast("double")
          / element_at(mins, k))
    // ADVICE r8: dedupe the 60-bit hash WITHIN (event_type, dump) before
    // sketching — an md5-prefix collision between two users in one dump
    // would otherwise feed a duplicate value into the engine's bottom-k
    // that the oracle's DISTINCT-over-h CTE removes, shifting the kth-min.
    val hashed = graft.Caches.persist(
      Tables.events(s, dir).select(col("event_type"), col("user_id")).distinct()
        .select(col("event_type"), (col("user_id") % 4).as("dump"),
          conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 15),
            16, 10).cast("long").as("h"))
        .distinct())
    val perDump = hashed.groupBy(col("event_type"), col("dump"))
      .agg(minK(col("h"), -col("h")).as("mins"))
    val merged = perDump
      .select(col("event_type"), explode(col("mins")).as("h")).distinct()
      .groupBy(col("event_type")).agg(minK(col("h"), -col("h")).as("mins"))
      .select(col("event_type"), kth(col("mins")).as("merged_kth_min"),
        est(col("mins")).as("merged_estimate"))
    val direct = hashed.select(col("event_type"), col("h")).distinct()
      .groupBy(col("event_type")).agg(minK(col("h"), -col("h")).as("mins"))
      .select(col("event_type"), kth(col("mins")).as("direct_kth_min"),
        est(col("mins")).as("direct_estimate"))
    val nDumps = perDump.groupBy(col("event_type"))
      .agg(countDistinct(col("dump")).as("n_dumps"))
    merged.join(direct, Seq("event_type")).join(nDumps, Seq("event_type"))
      .select(col("event_type"), col("n_dumps"),
        col("merged_kth_min"), col("direct_kth_min"),
        col("merged_estimate"), col("direct_estimate"),
        (col("merged_estimate") === col("direct_estimate")).cast("long")
          .as("merge_exact"))
      .orderBy(col("event_type"))
  }

  /** q221: Bloom-filter membership audit — a Bloom built FROM FIRST
    * PRINCIPLES on cross-engine-deterministic hashes (Bloom 1970; the same
    * md5-slice discipline as the KMV/HLL/count-min family), then graded
    * against ground truth. q157 uses Spark's built-in bloom as an opaque
    * semi-join pre-filter (correct because it only prunes); this one makes
    * the FILTER ITSELF reproducible — m = 2^20 bits as 32768 × 32-bit
    * words (the round-4 gotcha: shifted masks stay ≤ 2^31 so DuckDB BIGINT
    * never overflows), k = 4 independent 20-bit positions = disjoint
    * 5-hex-char md5 slices — so both engines materialize the IDENTICAL
    * bitmap and the audit row hashes bit-for-bit.
    *
    * Build set: customers that placed orders. Probe set: ALL customers
    * (TPC-H leaves ~⅓ orderless — real negatives). The audit pins the two
    * numbers that matter when a 100 TB join uses a Bloom pre-filter:
    * n_false_negative ≡ 0 (the structural guarantee — a violated fn_zero
    * means the filter is WRONG, not just loose) and the observed FPR in
    * exact ppm (the wasted probe-side work the filter failed to prune).
    *
    * Scale: the bitmap is a ≤ 32768-row frame built by one partial+final
    * bit_or aggregate (OR is mergeable — map-side combine caps the shuffle
    * at m words per partition) and BROADCAST into the probe join; probes
    * explode to k rows each, join the bitmap on the word key, and reduce
    * back per key — no shuffle of the probe side beyond its own
    * aggregation. The exact ground-truth join is the audit only (the thing
    * the filter exists to avoid). m is a build parameter: production sizes
    * m to the expected n (n ≫ m/k saturates the filter — the audit is
    * exactly the query that would catch that misconfiguration). */
  def q221BloomFprAudit(s: SparkSession, dir: String): DataFrame = {
    val K = 4
    def pos(key: Column, i: Int): Column =
      conv(substring(md5(key.cast("string").cast("binary")), 1 + 5 * i, 5),
        16, 10).cast("long")
    def posed(df: DataFrame, key: String): DataFrame =
      df.select(col(key).as("key"),
          explode(array((0 until K).map(i => pos(col(key), i)): _*)).as("p"))
        .select(col("key"), expr("p div 32").as("w"),
          expr("shiftleft(1L, cast(p % 32 as int))").as("mask"))
    val build = Tables.orders(s, dir).select(col("o_custkey")).distinct()
    val bitmap = posed(build, "o_custkey")
      .groupBy(col("w")).agg(expr("bit_or(mask)").as("bits"))
    val probe = Tables.customer(s, dir).select(col("c_custkey"))
    val admitted = posed(probe, "c_custkey")
      .join(broadcast(bitmap), Seq("w"), "left")
      .select(col("key"),
        when((coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask"))) =!= 0L, 1L)
          .otherwise(0L).as("hit"))
      .groupBy(col("key"))
      .agg((sum(col("hit")) === K).cast("long").as("admitted"))
    val graded = admitted.join(
      build.select(col("o_custkey").as("key"), lit(1L).as("present")),
      Seq("key"), "left")
      .select(col("admitted"), coalesce(col("present"), lit(0L)).as("present"))
    graded.agg(
        count(lit(1)).as("n_probe"),
        coalesce(sum(col("present")), lit(0L)).as("n_present"),
        coalesce(sum(col("admitted")), lit(0L)).as("n_admitted"),
        coalesce(sum(when(col("admitted") === 1L && col("present") === 0L, 1L)
          .otherwise(0L)), lit(0L)).as("n_fp"),
        coalesce(sum(when(col("admitted") === 0L && col("present") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("n_fn"))
      .select(col("n_probe"), col("n_present"), col("n_admitted"),
        col("n_fp"), col("n_fn"),
        (col("n_fn") === 0L).cast("long").as("fn_zero"),
        when(col("n_probe") === col("n_present"), lit(0L))
          .otherwise(expr("n_fp * 1000000L div (n_probe - n_present)"))
          .as("fpr_ppm"))
  }

  // def (round-5 init-order discipline: the maps above capture this)
  def q221Oracle: String =
    """WITH bs AS (SELECT DISTINCT o_custkey AS key FROM orders),
      |bpos AS (
      |  SELECT key,
      |    CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1 + 5*i, 5) AS BIGINT) AS p
      |  FROM bs, unnest([0, 1, 2, 3]) AS t(i)),
      |bm AS (
      |  SELECT p // 32 AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
      |  FROM bpos GROUP BY 1),
      |ppos AS (
      |  SELECT c_custkey AS key,
      |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1 + 5*i, 5) AS BIGINT) AS p
      |  FROM customer, unnest([0, 1, 2, 3]) AS t(i)),
      |adm AS (
      |  SELECT ppos.key,
      |    CASE WHEN sum(CASE WHEN (coalesce(bm.bits, 0)
      |           & (CAST(1 AS BIGINT) << CAST(ppos.p % 32 AS INT))) <> 0
      |         THEN 1 ELSE 0 END) = 4 THEN 1 ELSE 0 END AS admitted
      |  FROM ppos LEFT JOIN bm ON ppos.p // 32 = bm.w
      |  GROUP BY 1),
      |graded AS (
      |  SELECT adm.admitted,
      |    CASE WHEN bs.key IS NULL THEN 0 ELSE 1 END AS present
      |  FROM adm LEFT JOIN bs ON adm.key = bs.key)
      |SELECT CAST(count(*) AS BIGINT) AS n_probe,
      |  CAST(sum(present) AS BIGINT) AS n_present,
      |  CAST(sum(admitted) AS BIGINT) AS n_admitted,
      |  CAST(sum(CASE WHEN admitted = 1 AND present = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_fp,
      |  CAST(sum(CASE WHEN admitted = 0 AND present = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_fn,
      |  CAST(CASE WHEN sum(CASE WHEN admitted = 0 AND present = 1 THEN 1 ELSE 0 END) = 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS fn_zero,
      |  CAST(CASE WHEN count(*) = sum(present) THEN 0
      |    ELSE sum(CASE WHEN admitted = 1 AND present = 0 THEN 1 ELSE 0 END)
      |         * 1000000 // (count(*) - sum(present)) END AS BIGINT) AS fpr_ppm
      |FROM graded""".stripMargin

  // def (round-5 init-order discipline, same as q202Oracle)
  def q216Oracle: String = {
    val k = 64
    val pow60 = 1152921504606846976L
    s"""WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT DISTINCT event_type, user_id % 4 AS dump,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM ev),
       |pd AS (
       |  SELECT event_type, dump, list_sort(array_agg(h))[1:$k] AS mins
       |  FROM h GROUP BY 1, 2),
       |mu AS (
       |  SELECT DISTINCT event_type, u.h
       |  FROM pd, unnest(mins) AS u(h)),
       |mg AS (SELECT event_type, list_sort(array_agg(h)) AS hs FROM mu GROUP BY 1),
       |dr AS (
       |  SELECT event_type, list_sort(array_agg(DISTINCT h)) AS hs
       |  FROM h GROUP BY 1),
       |nd AS (SELECT event_type, CAST(count(DISTINCT dump) AS BIGINT) AS n_dumps
       |       FROM h GROUP BY 1)
       |SELECT mg.event_type, n_dumps,
       |  mg.hs[$k] AS merged_kth_min, dr.hs[$k] AS direct_kth_min,
       |  CASE WHEN len(mg.hs) < $k THEN CAST(len(mg.hs) AS DOUBLE)
       |       ELSE ${k - 1}.0 * CAST($pow60 AS DOUBLE) / mg.hs[$k] END
       |    AS merged_estimate,
       |  CASE WHEN len(dr.hs) < $k THEN CAST(len(dr.hs) AS DOUBLE)
       |       ELSE ${k - 1}.0 * CAST($pow60 AS DOUBLE) / dr.hs[$k] END
       |    AS direct_estimate,
       |  CAST(CASE WHEN (CASE WHEN len(mg.hs) < $k THEN CAST(len(mg.hs) AS DOUBLE)
       |       ELSE ${k - 1}.0 * CAST($pow60 AS DOUBLE) / mg.hs[$k] END)
       |     = (CASE WHEN len(dr.hs) < $k THEN CAST(len(dr.hs) AS DOUBLE)
       |       ELSE ${k - 1}.0 * CAST($pow60 AS DOUBLE) / dr.hs[$k] END)
       |     THEN 1 ELSE 0 END AS BIGINT) AS merge_exact
       |FROM mg JOIN dr USING (event_type) JOIN nd USING (event_type)
       |ORDER BY mg.event_type""".stripMargin
  }

  // def (round-5 init-order discipline, same as q202Oracle)
  def q237Oracle: String = {
    val k = 64
    val pow60 = "CAST(1152921504606846976 AS HUGEINT)"
    def est(arr: String) =
      s"""CASE WHEN len($arr) < $k THEN CAST(len($arr) AS BIGINT)
         |ELSE CAST((${k - 1} * $pow60) // $arr[$k] AS BIGINT) END""".stripMargin
    val common = s"len(list_filter(mu, x -> list_contains(ma, x) AND list_contains(mb, x)))"
    val aOnly = s"len(list_filter(mu, x -> list_contains(ma, x) AND NOT list_contains(mb, x)))"
    val bOnly = s"len(list_filter(mu, x -> list_contains(mb, x) AND NOT list_contains(ma, x)))"
    s"""WITH ev AS (SELECT DISTINCT event_type, user_id FROM events
       |            WHERE event_type IN ('purchase', 'click')),
       |h AS (SELECT DISTINCT event_type,
       |        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |      FROM ev),
       |sa AS (SELECT COALESCE(list_sort(array_agg(h))[1:$k], CAST([] AS BIGINT[])) AS ma
       |       FROM h WHERE event_type = 'purchase'),
       |sb AS (SELECT COALESCE(list_sort(array_agg(h))[1:$k], CAST([] AS BIGINT[])) AS mb
       |       FROM h WHERE event_type = 'click'),
       |u AS (SELECT ma, mb,
       |        list_sort(list_distinct(list_concat(ma, mb)))[1:$k] AS mu
       |      FROM sa, sb)
       |SELECT CAST($k AS BIGINT) AS k,
       |  CAST(len(mu) AS BIGINT) AS n_union_sample,
       |  CAST($common AS BIGINT) AS n_common_sample,
       |  ${est("ma")} AS est_purchase,
       |  ${est("mb")} AS est_click,
       |  ${est("mu")} AS est_union,
       |  CAST((CAST($common AS BIGINT) * 1000000) // nullif(len(mu), 0) AS BIGINT) AS jaccard_ppm,
       |  CAST((CAST($common AS BIGINT) * (${est("mu")})) // nullif(len(mu), 0) AS BIGINT)
       |    AS est_intersection,
       |  CAST((CAST($aOnly AS BIGINT) * (${est("mu")})) // nullif(len(mu), 0) AS BIGINT)
       |    AS est_purchase_only,
       |  CAST((CAST($bOnly AS BIGINT) * (${est("mu")})) // nullif(len(mu), 0) AS BIGINT)
       |    AS est_click_only
       |FROM u""".stripMargin
  }
}
