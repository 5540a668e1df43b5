package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType}

import graft.model.FilterConfig

/** Parity operators from SURVEY.md §2, expressed as composable DataFrame
  * transformations. Each is a pure logical-plan builder — Catalyst handles
  * pushdown/pruning; nothing here materializes data on the driver, except
  * [[withAppendIndexes]] on a batch whose rows are already there.
  *
  * Scale notes (100 TB design intent) are on each op; the short version:
  * filters/projections are embarrassingly parallel, the only genuinely
  * order-sensitive op is monotonic index assignment ([[withAppendIndex]])
  * which at scale must be ranged per filter partition (see its doc).
  */
object LogOps {

  // ───────────────────────── filters (ref tracker.go:62-71) ──────────────

  /** P1 — address OR-membership; empty set = match-all
    * (ref `tracker.go:40, 63-66`). For address lists too large for an
    * `IN` literal (Catalyst turns big IN-lists into a hash set — fine to
    * thousands), join against a broadcast dimension instead:
    * `logs.join(broadcast(addrs), "address", "left_semi")`.
    */
  def filterAddress(addresses: Seq[Any], col: Column): Column =
    if (addresses.isEmpty) lit(true) else col.isin(addresses: _*)

  /** P2 — positional topic filter; `None` = wildcard at that position
    * (ref `tracker.go:41, 67-69`). Conjunction of `topics[i] == h` for every
    * non-wildcard position; a log with fewer topics than the pattern cannot
    * match — `get` (unlike ANSI `element_at`) yields null past the end, so
    * the equality is false rather than an error.
    */
  def filterTopics(pattern: Seq[Option[String]], topicsCol: Column): Column =
    pattern.zipWithIndex.foldLeft(lit(true)) {
      case (acc, (Some(h), i)) =>
        acc && get(topicsCol, lit(i)) === lit(h) // get is 0-based
      case (acc, (None, _)) => acc
    }

  /** F1 — SHA-256 filter identity (ref `tracker.go:47-60`), Column form so
    * it can namespace data at rest (`partitionBy("filter_hash")`). Digests
    * [[graft.model.FilterConfig.canonical]] — the length-framed injective
    * encoding (see its doc for the deliberate deviation from the
    * reference's collision-prone bare concatenation) — so it always equals
    * [[graft.model.FilterConfig.hash]] (LogOpsSpec pins this). The config
    * is plan-constant, so this is a literal, not per-row work.
    */
  def filterHash(cfg: FilterConfig): Column =
    sha2(lit(cfg.canonical), 256)

  // ─────────────── index assignment & suffix ops (store semantics) ───────

  /** W1/S8 — assign consecutive append indices `base, base+1, …` in
    * `(orderCols)` order (ref `bolt_store.go:159-166`,
    * `postgresql_store.go:111-137`).
    *
    * Scale note: a global `row_number` forces a single-partition window —
    * correct but serial. At cluster scale the store is per-filter, so the
    * window is `partitionBy(filter_hash)` (each filter's log is an
    * independent sequence, matching the reference's per-Entry index); for a
    * single huge filter, assign ranged indices per micro-batch instead
    * (`base` = checkpointed LastIndex, batch rows get row_number within the
    * batch — exactly the reference's append contract).
    */
  def withAppendIndex(
      df: DataFrame,
      base: Long,
      orderCols: Seq[Column],
      partitionCols: Seq[Column] = Nil
  ): DataFrame = {
    val w =
      if (partitionCols.isEmpty) Window.orderBy(orderCols: _*)
      else Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn("indx", row_number().over(w).cast("long") + lit(base) - 1L)
  }

  /** W1/S8 at scale — the ranged two-pass version of [[withAppendIndex]]:
    * `repartitionByRange(orderCols)` gives a global ordering ACROSS
    * partitions, `sortWithinPartitions` orders within, and zipWithIndex's
    * per-partition counts → cumulative offsets turn local positions into
    * the global consecutive sequence `base, base+1, …` — two narrow passes
    * (count job + assignment pass), NO single-partition window. This is
    * [[withAppendIndexes]]' path for every batch not already held on the
    * driver (parquet scans, stream micro-batches): a 20,000-block backfill
    * batch (README.md:58 scale) fans out over the cluster instead of
    * funneling through one task. It costs a range-sampling job and a
    * count job before the batch's own write.
    *
    * Rows equal on every `orderCols` key are interchangeable, so which of
    * them gets which index is immaterial (and range-boundary placement of
    * equal keys is the only nondeterminism here). Output schema = input
    * schema + `indx: long`.
    */
  def withAppendIndexRanged(
      df: DataFrame,
      base: Long,
      orderCols: Seq[Column],
      /** Explicit range-partition count; None lets AQE size the exchange
        * (it will coalesce a small batch to few partitions — desired).
        */
      numPartitions: Option[Int] = None
  ): DataFrame = {
    val spark = df.sparkSession
    val ranged = numPartitions match {
      case Some(n) => df.repartitionByRange(n, orderCols: _*)
      case None => df.repartitionByRange(orderCols: _*)
    }
    val sorted = ranged.sortWithinPartitions(orderCols: _*)
    val schema = sorted.schema
      .add("indx", org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + i))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** The order every store assigns append indices in. `tx_hash` makes the
    * assignment deterministic when a tx emits several logs (same
    * block_num + tx_index); rows equal on all three are interchangeable,
    * so which of them gets which index is immaterial.
    */
  private val appendOrder: Seq[String] = Seq("block_num", "tx_index", "tx_hash")

  /** A log batch after index assignment: `rows` is the batch plus
    * `indx = base … base+n-1`; `minBlock`/`maxBlock` bound its
    * `block_num` (both 0 when `n == 0`). `held` carries the rows of a
    * batch indexed on the driver, in index order, so a store can write
    * them with no job and no query plan; `rows` is then a `LocalRelation`
    * over them, built only if a store asks for it.
    */
  final class IndexedBatch(frame: => DataFrame, val n: Long,
      val minBlock: Long, val maxBlock: Long, val held: Option[HeldRows]) {
    lazy val rows: DataFrame = frame
  }

  /** Driver-held indexed rows under their schema (the batch's columns,
    * then `indx`).
    */
  final case class HeldRows(schema: StructType, rows: Seq[InternalRow]) {
    def at(name: String): Int = HeldRows.at(schema, name)
  }

  object HeldRows {
    /** Position of column `name` in `schema`, matched case-insensitively
      * as Spark's default resolution matches it.
      */
    def at(schema: StructType, name: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0,
        s"append batch has no $name column: ${schema.fieldNames.mkString(",")}")
      i
    }
  }

  /** S8/W1 — how every store ([[graft.store.LogTable]],
    * [[graft.store.TxLogTable]], [[graft.store.JdbcLogStore]]) gives an
    * append batch its indices `base, base+1, …` in `(block_num, tx_index,
    * tx_hash)` order; `write` persists the indexed rows and its result is
    * returned.
    *
    * The path follows from the batch itself, not from an option:
    *  - a batch that is a `LocalRelation` (the JSON-RPC provider's parse,
    *    a sync-tail block), as built or once optimized, is already on the
    *    driver. Its rows are sorted there with Spark's own ordering
    *    (ascending, nulls first, strings by UTF-8 bytes), numbered, and
    *    handed to `write` as [[IndexedBatch.held]] rows in index order:
    *    no job before the write, and no Catalyst pass when the plan as
    *    built is already the `LocalRelation`. The two file stores then
    *    write the parquet on the driver too (zero jobs per append); the
    *    JDBC store writes it as one partition;
    *  - any other batch takes [[withAppendIndexRanged]]; the indexed frame
    *    is persisted so the write does not re-evaluate the batch, `n` and
    *    the block bounds come from one aggregate over it, and the cache is
    *    released in a `finally` whether or not `write` succeeds.
    */
  def withAppendIndexes[A](batch: DataFrame, base: Long)(
      write: IndexedBatch => A): A = {
    val qe = batch.queryExecution
    qe.logical match {
      case local: LocalRelation => write(indexLocal(batch, local, base))
      case _ => qe.optimizedPlan match {
        case local: LocalRelation => write(indexLocal(batch, local, base))
        case _ =>
          val indexed =
            withAppendIndexRanged(batch, base, appendOrder.map(col)).persist()
          try {
            val s = indexed.agg(count(lit(1)),
              min(col("block_num").cast("long")),
              max(col("block_num").cast("long"))).head()
            val n = s.getLong(0)
            write(if (n == 0L) new IndexedBatch(indexed, 0L, 0L, 0L, None)
              else new IndexedBatch(indexed, n, s.getLong(1), s.getLong(2), None))
          } finally indexed.unpersist()
      }
    }
  }

  private def indexLocal(batch: DataFrame, local: LocalRelation,
      base: Long): IndexedBatch = {
    val out = local.output
    val schema = DataTypeUtils.fromAttributes(out)
    def at(name: String): Int = HeldRows.at(schema, name)
    val ordering = RowOrdering.create(
      appendOrder.map(k => SortOrder(out(at(k)), Ascending)), out)
    val sorted = local.data.sorted(ordering)
    val types = out.map(_.dataType)
    val rows = sorted.zipWithIndex.map { case (r, i) =>
      InternalRow.fromSeq(r.toSeq(types) :+ (base + i))
    }
    val b = at("block_num")
    val blocks = sorted.filterNot(_.isNullAt(b))
      .map(_.get(b, types(b)).asInstanceOf[Number].longValue())
    val indx = AttributeReference("indx", LongType, nullable = false)()
    new IndexedBatch(
      Bridge.ofRows(batch.sparkSession, LocalRelation(out :+ indx, rows)),
      rows.length.toLong,
      blocks.headOption.getOrElse(0L), blocks.lastOption.getOrElse(0L),
      Some(HeldRows(schema.add(indx.name, indx.dataType, indx.nullable), rows)))
  }

  /** A2/W4 — next append index = max(indx)+1, empty → 0
    * (ref `store/store.go:25-26`, `postgresql_store.go:98-107`). Returns a
    * 1-row DataFrame (stays distributed; `.first()` it only at the driver
    * boundary). Map-side partial max then a 1-row reduce — no shuffle of
    * data, only of 32 partial maxima.
    */
  def lastIndex(df: DataFrame, indxCol: String = "indx"): DataFrame =
    df.agg(coalesce(max(col(indxCol)) + 1L, lit(0L)).as("next_indx"))

  /** S9 — truncate-suffix: keep logs with `indx < n` (reorg rollback,
    * ref `store/store.go:31-32`, `postgresql_store.go:153-158`). As a plan
    * this is a pushed-down range predicate (parquet min/max stats skip whole
    * row groups); as a table op see
    * [[graft.store.LogTable.removeLogsFrom]].
    */
  def truncateFrom(df: DataFrame, n: Long, indxCol: String = "indx"): DataFrame =
    df.where(col(indxCol) < n)

  /** W5 — tail window: the last `k` headers by height
    * (ref `tracker.go:701-702`). `orderBy.limit(k)` lets Spark run a
    * per-partition top-k (TakeOrderedAndProject) instead of a full sort.
    */
  def tailWindow(headers: DataFrame, k: Int, numCol: String = "block_num"): DataFrame =
    headers.orderBy(col(numCol).desc).limit(k)

  // ───────────────────────── scalar helpers (F2–F8) ──────────────────────

  /** F5 — parse u64 from decimal-or-0x-hex string (ref `tracker.go:862-869`). */
  def parseU64(c: Column): Column =
    when(
      c.startsWith("0x"),
      conv(c.substr(lit(3), length(c) - 2), 16, 10).cast("long")
    ).otherwise(c.cast("long"))

  /** F2 — 0x-prefixed lowercase hex of a string's UTF-8 bytes
    * (ref `postgresql_store.go:138-140`).
    */
  def toHex0x(c: Column): Column = concat(lit("0x"), lower(hex(c)))

  /** F2 — inverse of [[toHex0x]]. */
  def fromHex0x(c: Column): Column =
    decode(unhex(c.substr(lit(3), length(c) - 2)), "UTF-8")

  /** F4 — CSV-join of the topics array (ref `postgresql_store.go:124-128`). */
  def topicsToCsv(c: Column): Column = concat_ws(",", c)

  /** F4 — CSV-split back to array (ref `postgresql_store.go:179-190`). */
  def topicsFromCsv(c: Column): Column = split(c, ",")
}
