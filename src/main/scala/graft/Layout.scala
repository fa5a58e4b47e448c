package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout maintenance for multi-dimensional scan pruning — the
  * companion to [[Materialize.compact]] in the 100 TB table-maintenance
  * toolbox.
  *
  * Parquet scans prune at two granularities: whole files (via file-level
  * min/max, what a table format's manifest stores) and row groups (via
  * footer statistics). Both only help if the data is CLUSTERED so each
  * file/row-group covers a narrow value range. A single-column sort gives
  * perfect pruning on that column and none on others; Z-ORDERING
  * (bit-interleaved Morton curve) gives every interleaved column
  * locality, so predicates on ANY subset of them skip most files — the
  * standard OPTIMIZE ZORDER BY of Delta/Iceberg, built here from plain
  * Spark: normalize → interleave bits → range-repartition → sort within
  * files.
  *
  * [[manifest]] is the read side: per-file row counts and min/max per
  * column from one aggregation over `input_file_name()` — the file-skip
  * index a query planner (or an operator) consults instead of listing and
  * reading every footer.
  */
object Layout {

  /** Bit-interleaved (Morton / Z-curve) value of two non-negative ints,
    * each truncated to `bits` low bits: bit i of `a` lands at 2i, bit i of
    * `b` at 2i+1. Pure column algebra — codegen'd, no UDF. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(1L), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(1L), 2 * i + 1))
    }

  /** Min/max-normalize `c` into [0, 2^bits): the rank-free scaling that
    * makes arbitrary numeric columns interleavable. The (min, max) pairs
    * are computed in-plan as one struct scalar subquery — nothing is
    * collected, so the whole write stays one distributed plan. */
  private def normalized(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    val span = (1L << bits) - 1
    val bounds = df.agg(struct(cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"min_$c"),
      max(col(c).cast("double")).as(s"max_$c"))): _*)).scalar()
    cols.foldLeft(df) { (d, c) =>
      val lo = bounds.getField(s"min_$c")
      val hi = bounds.getField(s"max_$c")
      // degenerate span (constant column / empty frame) → bucket 0
      val scaled = when(hi > lo,
        ((col(c).cast("double") - lo) / (hi - lo) * span).cast("long"))
        .otherwise(lit(0L))
      d.withColumn(s"__z_$c", least(greatest(scaled, lit(0L)), lit(span)))
    }
  }

  /** Z-order-clustered parquet write: rows sorted along the Morton curve
    * of two numeric columns, range-partitioned into `nFiles` files. After
    * this, a selective predicate on EITHER column touches a small fraction
    * of files (see LayoutSpec: disjoint per-file z-ranges + both-column
    * file-skip assertions). At 100 TB this is the OPTIMIZE ZORDER pass run
    * after heavy ingest; re-run [[Materialize.compact]]-style as layout
    * decays. */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int, bits: Int = 16): Unit = {
    require(nFiles > 0, s"nFiles must be positive: $nFiles")
    normalized(df, Seq(colA, colB), bits)
      .withColumn("__z", zValue(col(s"__z_$colA"), col(s"__z_$colB"), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", s"__z_$colA", s"__z_$colB")
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic z-clustered layout: like [[zorderWrite]] but the
    * file assignment is the EQUI-WIDTH z-range bucket
    * `z·nBuckets div 2^(2·bits)` written as a hive partition — one file
    * per non-empty bucket — instead of sampled range boundaries. Slightly
    * less balanced than range partitioning (range sampling equalizes row
    * counts; equi-width equalizes z-span), but the bucket→file mapping is
    * a pure function of the DATA: layout, manifest, and every file-skip
    * decision reproduce bit-for-bit run-to-run and engine-to-engine,
    * which makes the pruning arithmetic oracle-checkable (q152). The
    * `repartition(__zb)` puts each bucket in exactly one task, and
    * `partitionBy` splits per bucket, so each bucket directory holds
    * exactly one data file. */
  def zorderBucketWrite(df: DataFrame, path: String, colA: String, colB: String,
      nBuckets: Int, bits: Int = 8): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    normalized(df, Seq(colA, colB), bits)
      .withColumn("__z", zValue(col(s"__z_$colA"), col(s"__z_$colB"), bits))
      .withColumn("__zb", expr(s"(__z * $nBuckets) div ${1L << (2 * bits)}"))
      .drop("__z", s"__z_$colA", s"__z_$colB")
      .repartition(col("__zb"))
      .write.mode("overwrite").partitionBy("__zb").parquet(path)
  }

  /** File-level manifest of a parquet table: one row per data file with
    * its row count and per-column min/max — the file-skipping index. One
    * distributed aggregation keyed by `input_file_name()` (high
    * cardinality — scales with the table). `schema` makes the read safe on
    * an empty partitioned table (no data files → inference would fail). */
  def manifest(spark: SparkSession, path: String, cols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val reader = schema.fold(spark.read)(spark.read.schema)
    reader.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files a range predicate `lo <= col(c) <= hi` may touch, per the
    * manifest — the planner-side file-skip decision as a plain filter. */
  def candidateFiles(man: DataFrame, c: String, lo: Column, hi: Column): DataFrame =
    man.filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
}
