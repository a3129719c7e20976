package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: multi-dimensional clustering for scan pruning.
  *
  * Columnar formats prune with per-file/rowgroup min-max statistics, but
  * those statistics only bite when the data is CLUSTERED on the filtered
  * column — and sorting on one column destroys locality on every other.
  * Z-ordering (bit-interleaving) maps points on a space-filling curve so
  * that a sort on the single z-value keeps EVERY interleaved dimension
  * locally narrow: a 2-D predicate then prunes most files on either (or
  * both) dimensions. This is how a 100 TB fact table serves point and
  * range lookups on two keys without a second copy of the data.
  *
  * Everything here is plain BIGINT shift/mask arithmetic on built-in
  * functions — whole-stage-codegen'd, expressible identically in ANSI
  * SQL (the magic-constant bit spread), no kernel needed. */
object Layout {

  /** Partition count for an explicit repartition of `df`: the optimizer's
    * size estimate over `spark.sql.files.maxPartitionBytes`, floored at the
    * default parallelism (and taken as the floor when the size is unknown).
    * Metadata-only: unlike `df.rdd.getNumPartitions` it builds no physical
    * plan, so it neither plans the upstream twice nor finalizes an adaptive
    * plan. */
  private[operators] def sizedPartitions(df: DataFrame): Int = {
    val spark = df.sparkSession
    val floor = spark.sparkContext.defaultParallelism
    val conf = spark.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= conf.defaultSizeInBytes) floor
    else {
      val perPartition = math.max(1L, conf.filesMaxPartitionBytes)
      val n = (size + perPartition - 1) / perPartition
      math.max(floor, n.min(Int.MaxValue).toInt)
    }
  }

  /** Spread the low 16 bits of `c` to even positions (0,2,4,…,30) —
    * the classic mask-doubling network (public-domain "Bit Twiddling
    * Hacks" / Morton-code construction). */
  def spreadBits16(c: Column): Column = {
    val b0 = c.bitwiseAND(lit(0xFFFFL))
    val b1 = b0.bitwiseOR(shiftleft(b0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b2 = b1.bitwiseOR(shiftleft(b1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val b3 = b2.bitwiseOR(shiftleft(b2, 2)).bitwiseAND(lit(0x33333333L))
    b3.bitwiseOR(shiftleft(b3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton (z-order) code of two 16-bit values: x in even bits,
    * y in odd bits. Inputs are masked to their low 16 bits — quantize
    * wider domains first (e.g. `pmod(k, lit(65536))`, or a range-rank). */
  def zValue2(x: Column, y: Column): Column =
    spreadBits16(x).bitwiseOR(shiftleft(spreadBits16(y), 1))

  /** Rewrite `df` in z-order on (x, y): range-partition then sort by the
    * z-value, so every output file covers a small z-interval — a narrow
    * rectangle in (x, y) — and min-max stats prune on BOTH columns.
    * `partitions` sizes the output files (one writer task each). */
  def zorderBy(df: DataFrame, x: Column, y: Column, partitions: Int): DataFrame = {
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    val z = zValue2(x, y)
    df.repartitionByRange(partitions, z).sortWithinPartitions(z)
  }
}
