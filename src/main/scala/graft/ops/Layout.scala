package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for scan locality at rest.
  *
  * [[zorderKey]] interleaves the low bits of two dimension columns into one
  * Morton (Z-order) key. Range-partitioning + sorting by the key clusters
  * rows that are close in BOTH dimensions into the same files, so a
  * two-dimensional predicate (e.g. block range × address) prunes files on
  * min/max footer stats instead of scanning everything — the standard
  * multi-dimensional clustering technique (Delta/Iceberg `ZORDER BY`,
  * built here from plain codegen'd bit arithmetic; no engine support
  * needed).
  *
  * The reference's single-dimension analog is its big-endian u64 log key
  * (`/root/reference/store/boltdb/bolt_store.go:216-224`), which clusters
  * by index only; a 100 TB log table wants (block, address) locality.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of x (even positions) and y
    * (odd positions). Pure codegen'd shift/mask arithmetic; `bits` ≤ 31.
    */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1,31]")
    // widen to long FIRST: shiftleft preserves the input's type, so an
    // IntegerType input at bits >= 16 would shift into the int sign bit
    // and wrap negative, scrambling the key order
    val (xl, yl) = (x.cast("long"), y.cast("long"))
    (0 until bits).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(yl, i).bitwiseAND(1L), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The Z key both log stores' `compactZOrdered` cluster by: a Morton
    * key over the reference's two access dimensions, ranged scans (S1)
    * and address-filtered standing queries (P1). The block coordinate is
    * PARTITION-RELATIVE: raw low bits of block_num wrap every 2^bits
    * blocks, and a `block_range` straddling that boundary would sort
    * post-wrap blocks first; `block_num mod blocksPerRange` is monotone
    * within every partition and fits the bit budget. The address is
    * hashed so the second dimension is dense and numeric; pruning still
    * works on the raw address column's file stats.
    */
  def logZorderKey(blocksPerRange: Long, bits: Int): Column = {
    require(blocksPerRange <= (1L << bits),
      s"blocksPerRange=$blocksPerRange exceeds the $bits-bit Z budget")
    zorderKey(pmod(col("block_num"), lit(blocksPerRange)),
      xxhash64(col("address")).bitwiseAND((1L << bits) - 1), bits)
  }

  /** Write `df` clustered by a Z-order key over (xCol, yCol):
    * range-partition on the key (contiguous key ranges per output file),
    * sort within partitions so parquet row-group min/max stats are tight.
    * Readers filtering on either dimension then skip most files.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
      path: String, numFiles: Int, bits: Int = 16): Unit = {
    require(!df.columns.contains("__z"),
      "input already has a __z column — rename it before writeZOrdered")
    val keyed = df.withColumn("__z", zorderKey(col(xCol), col(yCol), bits))
    keyed
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
