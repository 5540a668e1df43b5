package graft.store

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The key-value surface the sync engine consumes (ref `store/store.go:
  * 6-17` — Get/Set plus the prefix scan). Three conformant backends:
  * [[KvStore]] (a versioned JSON log on the Hadoop FileSystem), the tx
  * manifest's embedded use of the same, and [[JdbcKvStore]] (an external
  * RDBMS, the `postgresql_store.go` shape). No backend reads
  * `claimStaleMs`.
  */
trait KeyValueStore {
  def get(key: String): Option[String]
  def set(key: String, value: String): Unit
  def setAll(kvs: Map[String, String],
      drop: String => Boolean = _ => false,
      expectedVersion: Option[Long] = None,
      claimStaleMs: Long = 10L * 60 * 1000): Unit
  /** S7 — prefix scan, (key, value) rows ordered by key. */
  def listPrefix(prefix: String): DataFrame
}

/** External-RDBMS store backend — the third conformant [[LogStore]] +
  * [[KeyValueStore]] pair, mirroring the reference's PostgreSQL backend
  * (`/root/reference/store/postgresql/postgresql_store.go:79-158`: one kv
  * table, one log table per filter hash, upsert-on-conflict, `DELETE
  * WHERE indx >= $1` truncation). Runs here on embedded Derby (the JDBC
  * engine Spark ships); the SQL is ANSI update-then-insert + transactional
  * deletes, so any JDBC RDBMS with serializable transactions conforms.
  *
  * Division of labor, stated honestly: an RDBMS store is the right
  * backend for the reference's actual workload — checkpoints, filter
  * registries and reorg-bounded tracker logs, where transactional
  * truncation and point lookups dominate — not for 100 TB analytics (that
  * is [[TxLogTable]]'s job). Reads still surface as DataFrames through
  * `spark.read.jdbc` with predicate pushdown and INDX-partitioned
  * parallel scans, so downstream operators are backend-agnostic; writes
  * go through Spark's JDBC sink after the same index assignment every
  * backend uses.
  */
object JdbcStore {
  private[store] def connect(url: String): Connection = {
    // JDBC-4 service loading registers bundled drivers; the explicit
    // touch covers classloader setups where it hasn't fired yet
    if (url.startsWith("jdbc:derby:"))
      try Class.forName("org.apache.derby.jdbc.EmbeddedDriver"): Unit
      catch { case _: ClassNotFoundException => () }
    DriverManager.getConnection(url)
  }

  private[store] def withConn[A](url: String)(f: Connection => A): A = {
    val c = connect(url)
    try f(c) finally c.close()
  }

  /** DDL helper: CREATE TABLE unless it already exists (Derby has no
    * IF NOT EXISTS; the duplicate-table SQLState is X0Y32).
    */
  private[store] def ensureTable(c: Connection, ddl: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(ddl)
    catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
    } finally st.close()
  }
}

/** RDBMS-backed [[KeyValueStore]]: one `GRAFT_KV` table, upserts as a
  * transactional update-then-insert (the portable ON CONFLICT), CAS via a
  * version row updated in the SAME transaction (the database's lock
  * manager plays the part of [[KvStore]]'s create-if-absent rename).
  */
final class JdbcKvStore(spark: SparkSession, url: String)
    extends KeyValueStore {
  import JdbcStore._

  private val versionKey = "__kv_version"

  // V is a CLOB: checkpoint/registry blobs stored through the kv seam
  // have no practical size bound (the reference's PostgreSQL backend
  // uses TEXT); a VARCHAR cap would fail large values with an opaque
  // Derby 22001 truncation error
  withConn(url)(ensureTable(_,
    """CREATE TABLE GRAFT_KV (
      | K VARCHAR(512) NOT NULL PRIMARY KEY,
      | V CLOB NOT NULL)""".stripMargin))

  override def get(key: String): Option[String] = withConn(url) { c =>
    val ps = c.prepareStatement("SELECT V FROM GRAFT_KV WHERE K = ?")
    try {
      ps.setString(1, key)
      val rs = ps.executeQuery()
      if (rs.next()) Some(rs.getString(1)) else None
    } finally ps.close()
  }

  override def set(key: String, value: String): Unit = setAll(Map(key -> value))

  private def upsert(c: Connection, k: String, v: String): Unit = {
    val up = c.prepareStatement("UPDATE GRAFT_KV SET V = ? WHERE K = ?")
    try {
      up.setString(1, v); up.setString(2, k)
      if (up.executeUpdate() == 0) {
        val ins = c.prepareStatement(
          "INSERT INTO GRAFT_KV (K, V) VALUES (?, ?)")
        try { ins.setString(1, k); ins.setString(2, v)
          ins.executeUpdate(): Unit
        } finally ins.close()
      }
    } finally up.close()
  }

  /** One transaction: CAS check on the version row, upserts, prefix
    * drops, version bump. A concurrent committer serializes on the
    * version row's lock; a stale `expectedVersion` aborts with
    * [[ConcurrentCommitException]] exactly like [[KvStore]].
    */
  override def setAll(kvs: Map[String, String], drop: String => Boolean,
      expectedVersion: Option[Long], claimStaleMs: Long): Unit =
    withConn(url) { c =>
      c.setAutoCommit(false)
      c.setTransactionIsolation(Connection.TRANSACTION_SERIALIZABLE)
      try {
        val cur = {
          val ps = c.prepareStatement(
            "SELECT V FROM GRAFT_KV WHERE K = ? FOR UPDATE")
          try {
            ps.setString(1, versionKey)
            val rs = ps.executeQuery()
            if (rs.next()) rs.getString(1).toLong else 0L
          } finally ps.close()
        }
        expectedVersion.foreach { e =>
          if (cur != e) throw new ConcurrentCommitException(
            s"expected version $e but newest committed is $cur")
        }
        // drops first (a key both dropped and re-set must survive)
        if (drop ne null) {
          val keys = {
            val st = c.createStatement()
            try {
              val rs = st.executeQuery("SELECT K FROM GRAFT_KV")
              Iterator.continually(rs)
                .takeWhile(_.next()).map(_.getString(1)).toList
            } finally st.close()
          }
          val victims = keys.filter(k => k != versionKey && drop(k) &&
            !kvs.contains(k))
          val del = c.prepareStatement("DELETE FROM GRAFT_KV WHERE K = ?")
          try victims.foreach { k =>
            del.setString(1, k); del.executeUpdate(): Unit
          } finally del.close()
        }
        kvs.foreach { case (k, v) => upsert(c, k, v) }
        upsert(c, versionKey, (cur + 1L).toString)
        c.commit()
      } catch {
        // two first-writers on an EMPTY store race the version row's
        // INSERT (no row yet ⇒ nothing for FOR UPDATE to lock); the
        // loser's duplicate-key violation IS the detected conflict —
        // surface it as the same exception every backend's CAS throws,
        // so the caller's rebase loop handles all three identically
        case e: java.sql.SQLIntegrityConstraintViolationException =>
          c.rollback()
          throw new ConcurrentCommitException(
            s"concurrent first commit detected (${e.getMessage})")
        // serialization failures (deadlock victim / lock timeout under
        // SERIALIZABLE) are the database's "you lost the race" — same
        // retry contract
        case e: java.sql.SQLTransactionRollbackException =>
          c.rollback()
          throw new ConcurrentCommitException(
            s"transaction serialization conflict (${e.getMessage})")
        case t: Throwable => c.rollback(); throw t
      } finally c.setAutoCommit(true)
    }

  override def listPrefix(prefix: String): DataFrame = {
    val props = new java.util.Properties()
    spark.read.jdbc(url, "GRAFT_KV", props)
      .where(col("K").startsWith(prefix) && col("K") =!= versionKey)
      .select(col("K").as("key"), col("V").as("value"))
      .orderBy("key")
  }
}

/** RDBMS-backed [[LogStore]] (ref `postgresql_store.go:108-158`): one
  * `LOGS_<filterHash>` table, `INDX` primary key, truncation as one
  * transactional `DELETE WHERE INDX >= ?`. The topics array rides as a
  * CSV column (RDBMS-portable) and is decoded back on read, so every
  * consumer sees the same schema as the parquet backends.
  *
  * SINGLE-WRITER contract (same as the reference, whose tracker owns its
  * store exclusively): [[storeLogs]]' failure repair deletes every row at
  * or above the pre-append watermark, so a CONCURRENT appender's rows in
  * that range would be swept with the failed batch's. Concurrent
  * multi-writer appends need the tx backend ([[TxLogTable]]), whose CAS
  * manifest commit serializes appenders; this class assumes one writer
  * per (url, filterHash) at a time (readers are unrestricted).
  */
final class JdbcLogStore(spark: SparkSession, url: String,
    filterHash: String, blocksPerRange: Long = 10000L) extends LogStore {
  import JdbcStore._

  private val table = s"LOGS_${filterHash.toUpperCase}"
  require(table.matches("[A-Z0-9_]+"), s"unusable table name $table")

  withConn(url)(ensureTable(_,
    s"""CREATE TABLE $table (
       | INDX BIGINT NOT NULL PRIMARY KEY,
       | TX_INDEX BIGINT NOT NULL,
       | TX_HASH VARCHAR(256) NOT NULL,
       | BLOCK_NUM BIGINT NOT NULL,
       | BLOCK_HASH VARCHAR(256) NOT NULL,
       | ADDRESS VARCHAR(256) NOT NULL,
       | TOPICS_CSV VARCHAR(4096),
       | LOG_DATA CLOB)""".stripMargin))

  private def jdbcProps = new java.util.Properties()

  /** Parallel JDBC scan partitioned on the INDX primary key — the
    * Spark-idiomatic read of an RDBMS table (each partition issues one
    * bounded range query; filters and projection push down).
    */
  override def read: DataFrame = {
    val hi = lastIndex()
    // one range query per partition, capped so small tables don't fan
    // out into empty queries and large ones use the cluster's width
    val parts = math.min(
      math.max(1L, spark.sparkContext.defaultParallelism.toLong),
      math.max(1L, hi / 1024L + 1L)).toInt
    val base =
      if (hi <= 0) spark.read.jdbc(url, table, jdbcProps)
      else spark.read.jdbc(url, table, "INDX", 0L, hi, parts, jdbcProps)
    base.select(
      col("TX_INDEX").as("tx_index"), col("TX_HASH").as("tx_hash"),
      col("BLOCK_NUM").as("block_num"), col("BLOCK_HASH").as("block_hash"),
      col("ADDRESS").as("address"),
      when(col("TOPICS_CSV").isNull || col("TOPICS_CSV") === "",
        array().cast("array<string>"))
        .otherwise(split(col("TOPICS_CSV"), ",")).as("topics"),
      col("LOG_DATA").as("data"), col("INDX").as("indx"),
      floor(col("BLOCK_NUM") / lit(blocksPerRange)).as("block_range"))
  }

  /** A2 — max+1 watermark via one indexed aggregate on the primary key. */
  override def lastIndex(): Long = withConn(url) { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT MAX(INDX) FROM $table")
      rs.next()
      val m = rs.getLong(1)
      if (rs.wasNull()) 0L else m + 1L
    } finally st.close()
  }

  /** The orphan/reorg cut point as one indexed aggregate on this store's
    * own connection, like [[lastIndex]] — no Spark scan.
    */
  override def firstIndexAbove(block: Long): Option[Long] = withConn(url) { c =>
    val ps = c.prepareStatement(
      s"SELECT MIN(INDX) FROM $table WHERE BLOCK_NUM > ?")
    try {
      ps.setLong(1, block)
      val rs = ps.executeQuery()
      rs.next()
      val m = rs.getLong(1)
      if (rs.wasNull()) None else Some(m)
    } finally ps.close()
  }

  /** W1/S8 — the index assignment every backend uses
    * ([[graft.ops.LogOps.withAppendIndexes]]), then Spark's distributed
    * JDBC sink appends (each partition writes its own batch inserts — a
    * driver-held batch is one partition; the INDX primary key makes a
    * double-fire loudly violate a constraint instead of silently
    * duplicating).
    *
    * The distributed sink commits per partition on separate connections,
    * so a mid-job failure (or a task retry dying on the PK violation
    * after a partially-inserted partition) can leave SOME partitions'
    * rows durably committed — a permanent gap in the INDX sequence that
    * `lastIndex() = max+1` would then build past, silently breaking the
    * consecutive-index contract the reference's single-transaction
    * StoreLogs guarantees (`postgresql_store.go:110-150`). On any write
    * failure the append is therefore REPAIRED to the pre-append
    * watermark (one transactional `DELETE WHERE INDX >= base` — the
    * same statement truncation uses) before the failure is rethrown, so
    * an observer sees the batch entirely or not at all and a caller
    * retry starts from a clean table.
    */
  override def storeLogs(batch: DataFrame): Long = {
    val base = lastIndex()
    graft.ops.LogOps.withAppendIndexes(batch, base) { b =>
      if (b.n == 0L) base
      else {
        // a driver-held batch stays one partition: one task, one
        // connection
        val src = if (b.driverHeld) b.rows.coalesce(1) else b.rows
        val rows = src.select(
          col("indx").as("INDX"), col("tx_index").as("TX_INDEX"),
          col("tx_hash").as("TX_HASH"), col("block_num").as("BLOCK_NUM"),
          col("block_hash").as("BLOCK_HASH"), col("address").as("ADDRESS"),
          concat_ws(",", col("topics")).as("TOPICS_CSV"),
          col("data").as("LOG_DATA"))
        try rows.write.mode("append").jdbc(url, table, jdbcProps)
        catch {
          case t: Throwable =>
            // The repair runs as soon as the driver observes the failure,
            // but a CANCELLED job's straggler task can still commit its
            // partition batch AFTER the first DELETE lands — re-introducing
            // the durable INDX gap the repair exists to prevent. Re-check
            // MAX(INDX) after each DELETE and repeat until no row at or
            // above the watermark survives (bounded: tasks are finite and
            // each pass only re-fires while stragglers keep landing).
            try withConn(url) { c =>
              val del = c.prepareStatement(
                s"DELETE FROM $table WHERE INDX >= ?")
              val chk = c.prepareStatement(
                s"SELECT MAX(INDX) FROM $table WHERE INDX >= ?")
              try {
                var pass = 0
                var dirty = true
                while (dirty && pass < 64) {
                  del.setLong(1, base); del.executeUpdate(): Unit
                  Thread.sleep(if (pass == 0) 0L else 50L)
                  chk.setLong(1, base)
                  val rs = chk.executeQuery()
                  rs.next()
                  rs.getLong(1)
                  dirty = !rs.wasNull()
                  rs.close()
                  pass += 1
                }
              } finally { del.close(); chk.close() }
            } catch { case r: Throwable => t.addSuppressed(r) }
            throw t
        }
        base + b.n
      }
    }
  }

  /** S9 — transactional truncation (`DELETE WHERE indx >= $1`,
    * ref `postgresql_store.go:153-158`). The removed rows are pinned
    * BEFORE the delete (reorg-bounded by construction, the same contract
    * as [[LogTable]]); the delete itself is one statement the database
    * applies atomically.
    */
  override def removeLogsFrom(n: Long): DataFrame = {
    val removed = withConn(url) { c =>
      val ps = c.prepareStatement(
        s"SELECT INDX, TX_INDEX, TX_HASH, BLOCK_NUM, BLOCK_HASH, ADDRESS," +
          s" TOPICS_CSV, LOG_DATA FROM $table WHERE INDX >= ? ORDER BY INDX")
      try {
        ps.setLong(1, n)
        val rs = ps.executeQuery()
        val rows = Iterator.continually(rs).takeWhile(_.next()).map { r =>
          (r.getLong(2), r.getString(3), r.getLong(4), r.getString(5),
            r.getString(6),
            Option(r.getString(7)).filter(_.nonEmpty)
              .map(_.split(",").toSeq).getOrElse(Seq.empty[String]),
            r.getString(8), r.getLong(1))
        }.toList
        val del = c.prepareStatement(s"DELETE FROM $table WHERE INDX >= ?")
        try { del.setLong(1, n); del.executeUpdate(): Unit }
        finally del.close()
        rows
      } finally ps.close()
    }
    import spark.implicits._
    removed.toDF("tx_index", "tx_hash", "block_num", "block_hash",
      "address", "topics", "data", "indx")
      .withColumn("block_range",
        floor(col("block_num") / lit(blocksPerRange)))
  }

  /** S10 — point read; the INDX predicate pushes down to the primary-key
    * lookup (`PushedFilters` in the scan).
    */
  override def getLog(n: Long): DataFrame = read.where(col("indx") === n)

  /** Layout maintenance is the database's job (B-tree, not files). */
  override def compact(): Unit = ()
}
