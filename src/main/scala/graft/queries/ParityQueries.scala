package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.LogOps

/** Parity queries — one per SQL-expressible operator from SURVEY.md §2,
  * over the testdata stand-in domain (`Tables.logs`; mapping in §7.3).
  * Every query ends in a total ORDER BY and emits only
  * oracle-stable types (BIGINT / DOUBLE / STRING / DATE; timestamps as
  * `ts_us` microsecond longs — see [[graft.Tables.withNanos]]).
  *
  * Scale discipline: every filter here is a pushable predicate (parquet
  * row-group skipping), the only joins are broadcast (block-header dim is
  * tiny by construction), and aggregations are partial-agg friendly. The
  * append-index windows (append_index/get_log) partition by the filter
  * key — one independent sequence per filter, no single-partition global
  * sort; see [[LogOps.withAppendIndex]] for the one-huge-filter strategy.
  */
object ParityQueries {

  private def tsUs = expr("ts div 1000").as("ts_us")

  /** Once-per-(session, sf) build of the tx-store lifecycle the
    * `tx_store_roundtrip` query reads — the store is an input ARTIFACT
    * (same memo contract as the ingest/tokenizer caches): appends and the
    * truncation run once; each bench rep measures the snapshot READ.
    */
  private val txStoreDirs = new java.util.concurrent.ConcurrentHashMap[
    (Int, String), String]()

  private def txStoreSnapshot(s: SparkSession, d: String): DataFrame =
    txStoreColumns(new graft.store.TxLogTable(s, txStoreRoot(s, d), "q").read)

  /** Time travel over the same lifecycle artifact: the table AS OF commit
    * 2 — after both appends, BEFORE the truncation — read with snapshot
    * isolation from data files the truncation never touched.
    */
  private def txStoreTimeTravel(s: SparkSession, d: String): DataFrame =
    txStoreColumns(
      new graft.store.TxLogTable(s, txStoreRoot(s, d), "q").readAt(2L))

  private def txStoreColumns(df: DataFrame): DataFrame =
    df.select(col("indx"), col("tx_hash"), col("block_num"), col("address"))
      .orderBy("indx")

  /** Change data feed over the lifecycle: every per-commit insert/delete
    * between the first append and the post-truncation append — the v2
    * append's rows, the truncation's retraction of 750+, and the
    * replacement rows. Pure manifest-interval arithmetic; the oracle
    * recomputes each commit's delta from the event→index mapping.
    */
  private def txStoreChanges(s: SparkSession, d: String): DataFrame =
    new graft.store.TxLogTable(s, txStoreRoot(s, d), "q")
      .changesBetween(1L, 4L)
      .select(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"),
        col("indx"), col("tx_hash"), col("block_num"), col("address"))
      .orderBy("commit_version", "change_type", "indx")

  private def txStoreRoot(s: SparkSession, d: String): String = {
    txStoreDirs.computeIfAbsent(
      (System.identityHashCode(s), d), _ => {
        val path = graft.Harness.scratchDir("graft-txstore")
        val t = new graft.store.TxLogTable(s, path, "q")
        // deterministic event→log mapping: block = id div 10, tx = id mod
        // 10, so the append order key (block_num, tx_index, tx_hash) is
        // exactly event_id order and the oracle can name every index
        def logsOf(lo: Long, hi: Long): DataFrame =
          Tables.events(s, d)
            .where(col("event_id") >= lo && col("event_id") < hi)
            .select(
              (col("event_id") % 10).as("tx_index"),
              col("event_id").cast("string").as("tx_hash"),
              floor(col("event_id") / 10).cast("long").as("block_num"),
              concat(lit("h"), floor(col("event_id") / 10)).as("block_hash"),
              col("event_type").as("address"),
              array(col("event_type")).as("topics"),
              lit("0x").as("data"))
        t.storeLogs(logsOf(0L, 600L))    // indices 0..599
        t.storeLogs(logsOf(600L, 900L))  // indices 600..899
        t.removeLogsFrom(750L)           // metadata-only: cap commit 2
        t.storeLogs(logsOf(900L, 1000L)) // indices 750..849
        path
      })
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 — ranged scan with address+topic filter, decoded payload, stable order
    "scan_range" -> { (s, d) =>
      Tables.logs(s, d)
        .where(col("block_num").between(2L, 80L))
        .where(LogOps.filterAddress(Seq(1L, 7L, 13L), col("user_id")))
        .where(col("event_type").isin("click", "purchase"))
        .select(
          col("event_id"), tsUs, col("user_id"), col("event_type"),
          col("value"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("block_num"))
        .orderBy("event_id")
    },
    // S2 — all logs of one block, addressed by hash
    "scan_block" -> { (s, d) =>
      Tables.logs(s, d)
        .where(col("block_hash") === sha2(lit("42"), 256))
        .select(col("event_id"), tsUs, col("user_id"), col("event_type"),
          col("block_num"), col("block_hash"))
        .orderBy("event_id")
    },
    // S3 — point lookup by key
    "point_lookup" -> { (s, d) =>
      Tables.events(s, d)
        .where(col("event_id") === 123L)
        .select(col("event_id"), tsUs, col("user_id"), col("event_type"),
          col("value"), col("props"))
    },
    // S7 — KV prefix scan over a derived kv(key,val) table
    "prefix_scan" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("val"))
        .select(concat(lit("cnt_"), col("event_type")).as("key"), col("val"))
        .where(col("key").startsWith("cnt_s"))
        .orderBy("key")
    },
    // S8/W1 — monotonic append-index assignment in arrival order, declared
    // in the SCALE shape: one independent sequence per filter (the
    // reference keeps one log per filter Entry), so the window partitions
    // by the filter key and no single-partition global sort exists in the
    // plan. For one huge filter, the production path assigns ranged
    // indices per micro-batch instead (LogTable.storeLogs).
    "append_index" -> { (s, d) =>
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      LogOps.withAppendIndex(e, 0L, Seq(col("ts_us"), col("event_id")),
          partitionCols = Seq(col("event_type")))
        .select("event_type", "indx", "event_id", "ts_us")
        .orderBy("event_type", "indx")
    },
    // S9 — truncate-suffix (reorg rollback): survivors of RemoveLogs(800)
    "truncate_from" -> { (s, d) =>
      LogOps.truncateFrom(Tables.events(s, d), 800L, "event_id")
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },
    // S10 — point log read at an assigned index, per filter sequence
    // (same scale shape as append_index: partitioned window, then the
    // point predicate — one row per filter holding ≥151 logs)
    "get_log" -> { (s, d) =>
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      LogOps.withAppendIndex(e, 0L, Seq(col("ts_us"), col("event_id")),
          partitionCols = Seq(col("event_type")))
        .where(col("indx") === 150L)
        .select("event_type", "indx", "event_id", "user_id", "value")
        .orderBy("event_type")
    },
    // P1 — address OR-membership
    "filter_address" -> { (s, d) =>
      Tables.events(s, d)
        .where(LogOps.filterAddress(Seq(1L, 7L, 13L), col("user_id")))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
    // P2 — positional topic filter: signature topic + payload position
    "filter_topic" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .where(col("event_type") === "purchase" && col("k") === 7L)
        .select("event_id", "user_id", "event_type", "k")
        .orderBy("event_id")
    },
    // P3 — event-signature match + payload decode into typed columns
    "decode_event" -> { (s, d) =>
      Tables.events(s, d)
        .where(col("event_type") === "signup")
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .orderBy("event_id")
    },
    // P4 — chain-identity guard (genesis check), ref tracker.go:402-444
    "chain_guard" -> { (s, d) =>
      Tables.blocks(s, d)
        .agg(min("block_num").cast("string").as("g"))
        .select(
          when(sha2(col("g"), 256) === sha2(lit("0"), 256), lit("ok"))
            .otherwise(lit("bad genesis")).as("status"))
    },
    // J1 — common-ancestor walk as a set-based self-join, ref tracker.go:291-314
    "reorg_ancestor" -> { (s, d) =>
      val b = Tables.blocks(s, d)
      val mx = b.agg(max("block_num").as("mx"))
      // live chain: top 3 blocks forked (different hash lineage)
      val live = b.crossJoin(broadcast(mx)).withColumn(
        "live_hash",
        when(col("block_num") > col("mx") - 3L,
          sha2(concat(col("block_num").cast("string"), lit("F")), 256))
          .otherwise(col("block_hash")))
      live.where(col("live_hash") === col("block_hash"))
        .agg(max("block_num").as("ancestor"))
    },
    // J2 — log↔block association (broadcast equi-join on block_hash)
    "logs_per_block" -> { (s, d) =>
      val l = Tables.logs(s, d).drop("block_num")
      val b = Tables.blocks(s, d).select("block_hash", "block_num")
      l.join(broadcast(b), "block_hash")
        .groupBy("block_num")
        .agg(count(lit(1)).as("n_logs"))
        .orderBy("block_num")
    },
    // S5/A1 — fastTrack: min over addresses of first-logged block
    "fast_track" -> { (s, d) =>
      Tables.logs(s, d)
        .where(LogOps.filterAddress(Seq(1L, 7L, 13L), col("user_id")))
        .groupBy("user_id")
        .agg(min("block_num").as("first_blk"))
        .agg(min("first_blk").as("start_block"))
    },
    // A2/W4 — LastIndex = max+1, empty → 0
    "last_index" -> { (s, d) =>
      LogOps.lastIndex(Tables.events(s, d), "event_id")
    },
    // A3 — count tallies per event signature
    "count_by" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    // W2/W3 — reverse-ordered suffix (retraction emission order)
    "reverse_logs" -> { (s, d) =>
      val l = Tables.logs(s, d)
      val cut = l.agg((max("block_num") - 10L).as("cutoff"))
      l.crossJoin(broadcast(cut))
        .where(col("block_num") >= col("cutoff"))
        .select("event_id", "block_num", "user_id", "event_type")
        .orderBy(col("event_id").desc)
    },
    // W5 — tail window: last K headers by height
    "tail_window" -> { (s, d) =>
      LogOps.tailWindow(Tables.blocks(s, d), 10)
        .select("block_num", "block_hash")
    },
    // F1 — SHA-256 filter identity (wildcard → "empty")
    "filter_hash" -> { (s, d) =>
      Tables.events(s, d)
        .agg(min("user_id").cast("string").as("a"), min("event_type").as("t"))
        .select(sha2(concat(col("a"), lit("empty"), col("t")), 256).as("fhash"))
    },
    // F2 — hex encode/decode round-trip with 0x prefix
    "hex_roundtrip" -> { (s, d) =>
      val hx = LogOps.toHex0x(col("event_type"))
      Tables.events(s, d)
        .select(col("event_id"), hx.as("hx"), LogOps.fromHex0x(hx).as("rt"))
        .orderBy("event_id")
    },
    // F3 — JSON marshal/unmarshal round-trip (oracle on extracted fields)
    "json_roundtrip" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("js", to_json(struct(col("event_id"), col("event_type"))))
        .select(col("event_id"),
          get_json_object(col("js"), "$.event_type").as("rt_type"))
        .orderBy("event_id")
    },
    // F4 — topics array ↔ CSV round-trip
    "topics_csv" -> { (s, d) =>
      val topics = array(col("event_type"), col("user_id").cast("string"))
      val csv = LogOps.topicsToCsv(topics)
      Tables.events(s, d)
        .select(col("event_id"), csv.as("topics_csv"),
          element_at(LogOps.topicsFromCsv(csv), 1).as("t0"))
        .orderBy("event_id")
    },
    // F5 — parse u64 from decimal-or-0x-hex string
    "parse_u64" -> { (s, d) =>
      val raw = when(col("event_id") % 2 === 0, col("event_id").cast("string"))
        .otherwise(concat(lit("0x"), lower(hex(col("event_id")))))
      Tables.events(s, d)
        .select(col("event_id"), raw.as("raw"),
          LogOps.parseU64(raw).as("parsed"))
        .orderBy("event_id")
    },
    // S8+S9 over the TRANSACTIONAL backend ([[graft.store.TxLogTable]]):
    // a real store lifecycle — two appends, a metadata-only truncation
    // landing INSIDE the second commit (drop + cap), a post-truncation
    // append continuing the sequence — then the visible snapshot, which
    // the oracle recomputes from first principles (batch bases + per-batch
    // (block, tx) order ≡ event_id order by construction of the mapping).
    "tx_store_roundtrip" -> { (s, d) => txStoreSnapshot(s, d) },
    // VERSION AS OF over the same lifecycle: the pre-truncation snapshot
    // (commit 2) read through the retained manifest — rows the truncation
    // dropped are back, from byte-identical data files; the oracle knows
    // that state is exactly events 0..899 at indx = event_id
    "tx_time_travel" -> { (s, d) => txStoreTimeTravel(s, d) },
    // change data feed between retained commits (Delta CDF table_changes
    // shape): a reorg reads as the truncation's deletes + the next
    // append's inserts, each carrying full row data
    "tx_changes" -> { (s, d) => txStoreChanges(s, d) },
    // DESCRIBE HISTORY of the lifecycle — the commit log itself as a
    // query; the oracle names every commit's op/watermark/entry counts
    // from first principles
    "tx_history" -> { (s, d) =>
      new graft.store.TxLogTable(s, txStoreRoot(s, d), "q").history()
        // deterministic columns only (commit_ts is wall-clock)
        .select("version", "operation", "last_index", "entries",
          "capped_entries")
        .orderBy("version")
    },
    // EXTERNAL-ENGINE INTEROP round trip: exportSnapshot materializes the
    // AS-OF-commit-2 snapshot as plain parquet (+ MANIFEST) under a fixed
    // path, and THE ORACLE ITSELF reads that export with DuckDB's
    // read_parquet while Spark returns readAt(2) from the store — a
    // hash match proves both that the export byte-content is the
    // snapshot and that a foreign engine reads it with no knowledge of
    // the tx manifest format. The exported lifecycle is built from
    // spark.range (NOT the sf tables), so its content is identical at
    // every scale factor — any interleaving of Verify / tests / bench
    // across sf dirs rewrites the fixed path with the same bytes and
    // the static oracle SQL can never read a stale-scale export.
    "tx_export" -> { (s, d) => txStoreExport(s) },
    // the INVERSE interop leg: the same exported snapshot ingested into a
    // FRESH TxLogTable via importSnapshot (one replace-commit, indices
    // validated dense), read back through the tx manifest — while the
    // oracle is STILL DuckDB over the raw export. Equality proves
    // export → foreign bytes → import → read is lossless end to end.
    "tx_import" -> { (s, d) => txStoreImport(s) }
  )

  /** Once-per-session build + export of the sf-independent lifecycle for
    * the `tx_export` round trip: appends at 600/900, a truncation at 750
    * (capping commit 2), a post-truncation append — the same shape as
    * the sf-derived lifecycle above, synthesized from a range.
    */
  private val txExports = new java.util.concurrent.ConcurrentHashMap[
    Integer, String]()

  /** Per-user export target (ADVICE r10): a FIXED world-writable /tmp
    * path was squattable by any local user and shared across concurrent
    * harness JVMs (tests + bench overwriting each other mid-oracle-read).
    * Deriving from java.io.tmpdir + user.name gives each user their own
    * directory; the oracle SQL below interpolates the same value, so the
    * DuckDB side always reads the path this JVM's export wrote. (Two
    * JVMs of the SAME user still share it — harmless: the exported
    * lifecycle is sf-independent, so every writer produces identical
    * content bytes.)
    */
  private[graft] val txExportPath = {
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
      .stripSuffix("/")
    val user = System.getProperty("user.name", "anon")
      .replaceAll("[^A-Za-z0-9_.-]", "_")
    s"$tmp/graft_tx_export_${user}_v2"
  }

  private def txStoreExport(s: SparkSession): DataFrame = {
    val root = txExports.computeIfAbsent(System.identityHashCode(s), _ => {
      val path = graft.Harness.scratchDir("graft-txexport-src")
      val t = new graft.store.TxLogTable(s, path, "x")
      def logsOf(lo: Long, hi: Long): DataFrame =
        s.range(lo, hi).select(
          (col("id") % 10).as("tx_index"),
          col("id").cast("string").as("tx_hash"),
          floor(col("id") / 10).cast("long").as("block_num"),
          concat(lit("h"), floor(col("id") / 10)).as("block_hash"),
          concat(lit("a"), pmod(col("id"), lit(7))).as("address"),
          array(concat(lit("a"), pmod(col("id"), lit(7)))).as("topics"),
          lit("0x").as("data"))
      t.storeLogs(logsOf(0L, 600L))    // v1: indices 0..599
      t.storeLogs(logsOf(600L, 900L))  // v2: indices 600..899
      t.removeLogsFrom(750L)           // v3: cap commit 2
      t.storeLogs(logsOf(900L, 1000L)) // v4: indices 750..849
      t.exportSnapshot(txExportPath, Some(2L))
      path
    })
    txStoreColumns(new graft.store.TxLogTable(s, root, "x").readAt(2L))
  }

  /** Once-per-session import of the [[txStoreExport]] export into a
    * fresh table (the round trip's second leg — `tx_import`).
    */
  private val txImports = new java.util.concurrent.ConcurrentHashMap[
    Integer, String]()

  private def txStoreImport(s: SparkSession): DataFrame = {
    txStoreExport(s).queryExecution // ensure the export exists (memoized)
    val root = txImports.computeIfAbsent(System.identityHashCode(s), _ => {
      val path = graft.Harness.scratchDir("graft-tximport")
      new graft.store.TxLogTable(s, path, "i").importSnapshot(txExportPath)
      path
    })
    txStoreColumns(new graft.store.TxLogTable(s, root, "i").read)
  }

  val oracle: Map[String, String] = Map(
    "scan_range" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
        | CAST(json_extract_string(props,'$.k') AS BIGINT) AS k,
        | event_id // 10 AS block_num
        |FROM events
        |WHERE event_id // 10 BETWEEN 2 AND 80 AND user_id IN (1,7,13)
        | AND event_type IN ('click','purchase')
        |ORDER BY event_id""".stripMargin,
    "scan_block" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        | event_id // 10 AS block_num,
        | sha256(CAST(event_id // 10 AS VARCHAR)) AS block_hash
        |FROM events
        |WHERE sha256(CAST(event_id // 10 AS VARCHAR)) = sha256('42')
        |ORDER BY event_id""".stripMargin,
    "point_lookup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events WHERE event_id = 123""".stripMargin,
    "prefix_scan" ->
      """SELECT concat('cnt_', event_type) AS key, CAST(count(*) AS BIGINT) AS val
        |FROM events GROUP BY event_type
        |HAVING concat('cnt_', event_type) LIKE 'cnt_s%'
        |ORDER BY key""".stripMargin,
    "append_index" ->
      """SELECT event_type,
        | CAST(row_number() OVER (PARTITION BY event_type
        |   ORDER BY epoch_us(ts), event_id) - 1 AS BIGINT) AS indx,
        | event_id, epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_type, indx""".stripMargin,
    "truncate_from" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id < 800 ORDER BY event_id""".stripMargin,
    // batches at bases 0/600/750; within each batch the (block, tx) order
    // is event_id order, so indx is event_id (first two batches; the
    // truncation at 750 keeps event_id < 750) and event_id - 150 for the
    // post-truncation batch of events 900..999
    "tx_store_roundtrip" ->
      """SELECT event_id AS indx, CAST(event_id AS VARCHAR) AS tx_hash,
        | event_id // 10 AS block_num, event_type AS address
        |FROM events WHERE event_id < 750
        |UNION ALL
        |SELECT event_id - 150, CAST(event_id AS VARCHAR),
        | event_id // 10, event_type
        |FROM events WHERE event_id >= 900 AND event_id < 1000
        |ORDER BY indx""".stripMargin,
    // per-commit deltas: v2 appended events 600..899 at indx=event_id,
    // v3 truncated indx>=750, v4 appended events 900..999 at indx-150
    "tx_changes" ->
      """SELECT CAST(2 AS BIGINT) AS commit_version, 'insert' AS change_type,
        | event_id AS indx, CAST(event_id AS VARCHAR) AS tx_hash,
        | event_id // 10 AS block_num, event_type AS address
        |FROM events WHERE event_id >= 600 AND event_id < 900
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'delete', event_id,
        | CAST(event_id AS VARCHAR), event_id // 10, event_type
        |FROM events WHERE event_id >= 750 AND event_id < 900
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'insert', event_id - 150,
        | CAST(event_id AS VARCHAR), event_id // 10, event_type
        |FROM events WHERE event_id >= 900 AND event_id < 1000
        |ORDER BY commit_version, change_type, indx""".stripMargin,
    // the commit log from first principles: append(600) → append(900) →
    // truncate(750: second entry capped) → append(850)
    "tx_history" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), 'append',   CAST(600 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        | (CAST(2 AS BIGINT), 'append',   CAST(900 AS BIGINT),
        |  CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        | (CAST(3 AS BIGINT), 'truncate', CAST(750 AS BIGINT),
        |  CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
        | (CAST(4 AS BIGINT), 'append',   CAST(850 AS BIGINT),
        |  CAST(3 AS BIGINT), CAST(1 AS BIGINT)))
        | AS t(version, operation, last_index, entries, capped_entries)
        |ORDER BY version""".stripMargin,
    // the AS-OF-commit-2 state: both appends visible, truncation not yet
    "tx_time_travel" ->
      """SELECT event_id AS indx, CAST(event_id AS VARCHAR) AS tx_hash,
        | event_id // 10 AS block_num, event_type AS address
        |FROM events WHERE event_id < 900
        |ORDER BY indx""".stripMargin,
    // the interop round trip: DuckDB reads the EXPORTED parquet directly
    // (no view mapping, no tx-manifest knowledge) while the Spark side
    // returns readAt(2) from the store — equality proves the export
    "tx_export" ->
      s"""SELECT indx, tx_hash, block_num, address
        |FROM read_parquet('$txExportPath/data/*.parquet')
        |ORDER BY indx""".stripMargin,
    // same oracle bytes as tx_export on purpose: the Spark side now reads
    // the IMPORTED table, so equality closes export → import → read
    "tx_import" ->
      s"""SELECT indx, tx_hash, block_num, address
        |FROM read_parquet('$txExportPath/data/*.parquet')
        |ORDER BY indx""".stripMargin,
    "get_log" ->
      """SELECT event_type, indx, event_id, user_id, value FROM (
        | SELECT event_type,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY epoch_us(ts), event_id) - 1 AS BIGINT) AS indx,
        |  event_id, user_id, value
        | FROM events) WHERE indx = 150 ORDER BY event_type""".stripMargin,
    "filter_address" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE user_id IN (1,7,13) ORDER BY event_id""".stripMargin,
    "filter_topic" ->
      """SELECT event_id, user_id, event_type,
        | CAST(json_extract_string(props,'$.k') AS BIGINT) AS k
        |FROM events
        |WHERE event_type = 'purchase'
        | AND CAST(json_extract_string(props,'$.k') AS BIGINT) = 7
        |ORDER BY event_id""".stripMargin,
    "decode_event" ->
      """SELECT event_id, event_type,
        | CAST(json_extract_string(props,'$.k') AS BIGINT) AS k, value
        |FROM events WHERE event_type = 'signup' ORDER BY event_id""".stripMargin,
    "chain_guard" ->
      """SELECT CASE WHEN sha256(CAST(min(event_id // 10) AS VARCHAR)) = sha256('0')
        | THEN 'ok' ELSE 'bad genesis' END AS status FROM events""".stripMargin,
    "reorg_ancestor" ->
      """WITH blocks AS (SELECT DISTINCT event_id // 10 AS block_num FROM events),
        |mx AS (SELECT max(block_num) AS mx FROM blocks)
        |SELECT CAST(max(block_num) AS BIGINT) AS ancestor
        |FROM blocks, mx WHERE NOT (block_num > mx - 3)""".stripMargin,
    "logs_per_block" ->
      """SELECT event_id // 10 AS block_num, CAST(count(*) AS BIGINT) AS n_logs
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "fast_track" ->
      """SELECT CAST(min(first_blk) AS BIGINT) AS start_block FROM (
        | SELECT user_id, min(event_id // 10) AS first_blk FROM events
        | WHERE user_id IN (1,7,13) GROUP BY user_id)""".stripMargin,
    "last_index" ->
      """SELECT CAST(coalesce(max(event_id) + 1, 0) AS BIGINT) AS next_indx
        |FROM events""".stripMargin,
    "count_by" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "reverse_logs" ->
      """SELECT event_id, event_id // 10 AS block_num, user_id, event_type
        |FROM events
        |WHERE event_id // 10 >= (SELECT max(event_id // 10) - 10 FROM events)
        |ORDER BY event_id DESC""".stripMargin,
    "tail_window" ->
      """SELECT CAST(block_num AS BIGINT) AS block_num,
        | sha256(CAST(block_num AS VARCHAR)) AS block_hash
        |FROM (SELECT DISTINCT event_id // 10 AS block_num FROM events)
        |ORDER BY block_num DESC LIMIT 10""".stripMargin,
    "filter_hash" ->
      """SELECT sha256(concat(CAST(min(user_id) AS VARCHAR), 'empty',
        | min(event_type))) AS fhash FROM events""".stripMargin,
    "hex_roundtrip" ->
      """SELECT event_id, concat('0x', lower(hex(event_type))) AS hx,
        | decode(unhex(lower(hex(event_type)))) AS rt
        |FROM events ORDER BY event_id""".stripMargin,
    "json_roundtrip" ->
      """SELECT event_id, event_type AS rt_type FROM events
        |ORDER BY event_id""".stripMargin,
    "topics_csv" ->
      """SELECT event_id,
        | concat_ws(',', event_type, CAST(user_id AS VARCHAR)) AS topics_csv,
        | string_split(concat_ws(',', event_type, CAST(user_id AS VARCHAR)), ',')[1] AS t0
        |FROM events ORDER BY event_id""".stripMargin,
    "parse_u64" ->
      """SELECT event_id,
        | CASE WHEN event_id % 2 = 0 THEN CAST(event_id AS VARCHAR)
        |      ELSE concat('0x', lower(hex(event_id))) END AS raw,
        | event_id AS parsed
        |FROM events ORDER BY event_id""".stripMargin
  )
}
