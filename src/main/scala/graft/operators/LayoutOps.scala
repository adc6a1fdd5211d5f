package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data-layout operators — the knobs that decide how much of a
  * 100 TB table a query has to READ, which at that scale dominates any
  * per-row optimization:
  *
  *   - [[zorderKey]]/[[zorderLayout]]: multi-dimensional clustering.
  *     Sorting files by a single column prunes range predicates on that
  *     column only; interleaving the bits of two columns (the Morton /
  *     Z-order curve, the same layout Delta/Iceberg `OPTIMIZE ZORDER BY`
  *     computes) keeps rows close in BOTH dimensions, so min/max file
  *     stats prune a slab predicate on EITHER column to ~sqrt(bins)
  *     instead of all-or-nothing.
  *   - [[saveBucketed]]: pre-shuffled table layout. Two tables bucketed
  *     on the same key with the same bucket count join WITHOUT an
  *     exchange — the shuffle is paid once at write time and amortized
  *     over every subsequent join/aggregation on that key. For the
  *     dimension tables a training pipeline joins against every run
  *     (per-source stats, prior-snapshot hashes, robots rules) this
  *     removes the recurring wide shuffle entirely.
  *
  * Everything is built from shift/and/add Catalyst expressions — fully
  * whole-stage-codegen, integer-exact, replicable in any engine. */
object LayoutOps {

  /** Morton / Z-order key: interleave the low `bits` bits of two
    * non-negative integer columns, `a` on even bit positions, `b` on odd.
    * Pure shift/and arithmetic (the per-bit terms occupy disjoint bit
    * positions, so plain `+` assembles the key — no engine-specific
    * bitwise-OR needed and the oracle is a literal SQL sum). bits ≤ 31
    * keeps the key inside a non-negative BIGINT. Only bits 0..bits-1 of
    * each input are read, so a negative input contributes its
    * two's-complement low bits (caller buckets/clamps upstream — at
    * 100 TB the inputs are already coarse quantiles or hash buckets, not
    * raw values). */
  def zorderKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val av = a.cast("long")
    val bv = b.cast("long")
    val terms = (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(av, i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(bv, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_ + _)
  }

  /** Z-order layout assignment: adds the interleaved `zkey` and the file
    * bin `zbin` = the top `binBits` bits of the key — 2^binBits output
    * files, each covering a square-ish tile of the (a, b) plane. Writing
    * `repartitionByRange(zbin).sortWithinPartitions(zkey)` (or just
    * partitioning by zbin) gives every file tight min/max stats in BOTH
    * dimensions; the pruning factor is asserted quantitatively in
    * LayoutOpsSpec (a slab predicate on either column touches a strict
    * subset of bins, while a row-major layout prunes only its sort
    * column). One narrow projection — no shuffle until the caller picks
    * a write partitioning. */
  def zorderLayout(df: DataFrame, a: Column, b: Column,
                   bits: Int, binBits: Int): DataFrame = {
    require(binBits >= 1 && binBits <= 2 * bits, "binBits must be in [1, 2*bits]")
    val zk = zorderKey(a, b, bits)
    df.withColumn("zkey", zk)
      .withColumn("zbin", shiftright(col("zkey"), 2 * bits - binBits).cast("int"))
  }

  /** Zone map: per-bin min/max/count statistics for the given columns —
    * the file-footer stats a format like parquet/Iceberg keeps, made
    * explicit so pruning decisions are computable (and verifiable) as a
    * query. One partial-agg pass; output is bins-sized, i.e. planner
    * food, not data. Combine with [[zorderLayout]]: z-ordered bins have
    * tight ranges in BOTH interleaved dimensions, which is exactly what
    * makes [[rangeKeep]] prune on either. */
  def zoneMap(df: DataFrame, bin: Column, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    df.groupBy(bin.as("zbin"))
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** Range-predicate pruning verdict over a [[zoneMap]]: adds
    * `keep_<col>` = whether a scan of that bin can contain a row with
    * col ∈ [lo, hi] (inclusive). A `false` is a bin the reader SKIPS —
    * at 100 TB the difference between reading 8 files and 64 (the
    * LayoutOpsSpec quantification). Pure per-row arithmetic on the
    * bins-sized frame. */
  def rangeKeep(zm: DataFrame, c: String, lo: Long, hi: Long): DataFrame =
    zm.withColumn(s"keep_$c",
      !(col(s"${c}_max") < lit(lo) || col(s"${c}_min") > lit(hi)))

  /** Write `df` as a bucketed + sorted parquet table: the one-time
    * shuffle that makes every later equi-join/aggregation on `key`
    * exchange-free (both sides bucketed on the same key and bucket
    * count → SortMergeJoin with ZERO ShuffleExchange, pinned in
    * PlanSpec). `path` keeps the data external (survives catalog loss;
    * the driver's temp dirs); `table` registers the bucket metadata in
    * the session catalog — bucketing lives in the catalog, which is why
    * plain `spark.read.parquet` can't recover it. Overwrites both. */
  def saveBucketed(df: DataFrame, path: String, table: String,
                   key: String, numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)
  }
}
