package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.tablelog.TableLog

/** Transactional-table operators: the q90/q106/q133/q166/q180 table
  * maintenance family re-landed on a real ACID abstraction
  * ([[graft.tablelog.TableLog]]) instead of bare directories. The
  * reference gets atomic append + snapshot reads as a managed-service
  * property (BigQuery streaming insert, reference
  * `src/load/main.py:40`; queryable table id
  * `terraform/outputs.tf:13-15`); a file-based engine must supply
  * the log itself. Each query builds a deterministic multi-commit
  * table from `orders` slices in scratch space, so DuckDB can replay
  * the logical state from pure SQL — the q80 generative-oracle
  * discipline.
  *
  * Demo history (12 range-partitioned files live at v3):
  * {{{
  *   v1 create  orders where o_orderkey % 4 = 0      (4 files)
  *   v2 append  orders where o_orderkey % 4 = 1      (4 files)
  *   v3 append  orders where o_orderkey % 4 = 2      (4 files)
  *   v4 delete  o_orderpriority = '1-URGENT'         (copy-on-write)
  *   v5 compact everything into 2 files              (logical no-op)
  * }}}
  * The delete predicate is deliberately UNCORRELATED with the key,
  * so key stats cannot skip any file and every file is rewritten —
  * which is what makes v4's row accounting (and so the q333 oracle)
  * a pure function of the data. Key-correlated deletes exercise the
  * stats-skip path in TableLogSpec instead, where the layout is
  * planted.
  */
object TableOps {

  private val dataCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_orderpriority", "o_totalprice")

  private def ordersSlice(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(dataCols.map(col): _*)

  /** The three fixtures built once per sfDir per JVM, because more
    * than one query reads each and none writes it: [[demoTable]]
    * (the thirteen demo-history reads q330/q331/q333/q334/q336/q339/
    * q340/q354/q417/q418/q421/q427/q451), [[partitionedDemo]]
    * (q432/q433) and [[dvTable]] (q454/q456). Each build is
    * deterministic, so sharing it changes nothing but wall time.
    * Every other query builds its own fixture inline, once per call:
    * a repeat call redoes the same work and reads no state another
    * call left behind. */
  private val demoCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val partCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val dvCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The demo history of the object doc (v1–v5), shared read-only by
    * the thirteen queries listed above. A query that mutates a table
    * (q419 vacuum, q424–q426 DML) builds its own. */
  private[ops] def demoTable(s: SparkSession, dir: String): String =
    demoCache.computeIfAbsent(dir, _ => {
      val table = Scratch.dir("graft_tlog_").toString
      val o = ordersSlice(s, dir)
      TableLog.create(o.where(col("o_orderkey") % 4 === 0), table,
        "o_orderkey", numFiles = 4)
      TableLog.append(o.where(col("o_orderkey") % 4 === 1), table, numFiles = 4)
      TableLog.append(o.where(col("o_orderkey") % 4 === 2), table, numFiles = 4)
      TableLog.deleteWhere(s, table,
        col("o_orderpriority") === "1-URGENT", numFiles = 4)
      TableLog.compact(s, table, numFiles = 2)
      table
    })

  /** DECIMAL(12,2)-routed double sum — the repo-wide exact-compare
    * discipline (q01): partial-aggregation order must not leak into
    * the emitted bits. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(12,2)")).cast("double")

  // ---------------------------------------------------------------- q330
  /** Latest-snapshot read of the logged table: per order status, row
    * count and exact total price over what survived the history
    * (three slices in, URGENT rows deleted, then compacted — the
    * compaction must be invisible here). The read is manifest replay
    * (driver-side, file-grain) + ONE `spark.read.parquet` of the
    * active files, so the 100-TB cost profile is identical to a bare
    * directory scan; the log adds atomicity, not read overhead. */
  def q330TableSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TableLog.snapshot(s, demoTable(s, dir))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  private val q330Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority <> '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q331
  /** Time travel: the same aggregate at EVERY version of the table —
    * (version, n_rows, key_sum). Versions 4 and 5 must agree exactly
    * (compaction is physical only), and the oracle states each
    * version as the pure SQL its history implies, so the row proves
    * snapshot isolation: committed history is immutable under later
    * rewrites. Each version read replays the manifest and scans only
    * that version's files — old versions stay readable because
    * copy-on-write never mutates a data file. */
  def q331TableTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = demoTable(s, dir)
    (1L to TableLog.latestVersion(table)).map { v =>
      TableLog.snapshot(s, table, v)
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderkey").as("key_sum"))
        .select(lit(v).as("version"), $"n_rows", $"key_sum")
    }.reduce(_ unionByName _).orderBy($"version")
  }

  private val q331Oracle =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 4 = 0
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
      |UNION ALL
      |SELECT 4, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority <> '1-URGENT'
      |UNION ALL
      |SELECT 5, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority <> '1-URGENT'
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q332
  /** Transactional MERGE: q90's upsert semantics landed as ONE atomic
    * copy-on-write commit — matched keys replaced, fresh keys
    * inserted, and only the files that actually contain a matched
    * key are rewritten (change keys broadcast into a single scan of
    * the active set; at 100 TB a clustered change set touches a
    * sliver of the table and the rewrite is proportional to it, not
    * to the table). The readback is the merged table itself, so the
    * oracle replays base − updated + changes in pure SQL. */
  def q332TableMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tlogm_").toString
      val base = ordersSlice(s, dir).where($"o_orderkey" % 4 === 0)
      TableLog.create(base, t, "o_orderkey", numFiles = 4)
      val updates = base.where($"o_orderkey" % 20 === 0)
        .select($"o_orderkey", $"o_custkey", lit("U").as("o_orderstatus"),
          $"o_orderpriority", ($"o_totalprice" * 1.1).as("o_totalprice"))
      val inserts = base.where($"o_orderkey" % 100 === 44)
        .select((-$"o_orderkey" - 1).as("o_orderkey"), $"o_custkey",
          lit("N").as("o_orderstatus"), $"o_orderpriority", $"o_totalprice")
      TableLog.merge(s, t, updates.unionByName(inserts), numFiles = 4)
      t
    }
    TableLog.snapshot(s, table)
      .select(dataCols.map(col): _*)
      .orderBy($"o_orderkey")
  }

  private val q332Oracle =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
      |    o_totalprice
      |  FROM orders WHERE o_orderkey % 4 = 0),
      |changes AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |    o_orderpriority, o_totalprice * 1.1 AS o_totalprice
      |  FROM base WHERE o_orderkey % 20 = 0
      |  UNION ALL
      |  SELECT -o_orderkey - 1, o_custkey, 'N', o_orderpriority, o_totalprice
      |  FROM base WHERE o_orderkey % 100 = 44)
      |SELECT * FROM (
      |  SELECT * FROM base
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
      |  UNION ALL
      |  SELECT * FROM changes)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q333
  /** Commit history at logical grain: (version, op, rows_added,
    * rows_removed, total_rows) straight off the manifests — history
    * never opens a data file, so it costs O(log), not O(table).
    * rows_removed at v4 is the WHOLE v3 row count because the
    * uncorrelated predicate forces a full rewrite (see the object
    * doc); v5's add = remove = total pins compaction as rewrite-
    * without-change. File counts are layout-dependent (range-sampled
    * boundaries) and deliberately left out of the oracle-checked
    * projection — TableLogSpec asserts them on a planted layout. */
  def q333TableHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TableLog.history(demoTable(s, dir))
      .map(h => (h.version, h.op, h.rowsAdded, h.rowsRemoved, h.totalRows))
      .toDF("version", "op", "rows_added", "rows_removed", "total_rows")
      .orderBy($"version")
  }

  private val q333Oracle =
    """WITH s0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders
      |  WHERE o_orderkey % 4 = 0),
      |s1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders
      |  WHERE o_orderkey % 4 = 1),
      |s2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders
      |  WHERE o_orderkey % 4 = 2),
      |u AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders
      |  WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority = '1-URGENT')
      |SELECT CAST(1 AS BIGINT) AS version, 'create' AS op,
      |  s0.c AS rows_added, CAST(0 AS BIGINT) AS rows_removed,
      |  s0.c AS total_rows FROM s0
      |UNION ALL
      |SELECT 2, 'append', s1.c, 0, s0.c + s1.c FROM s0, s1
      |UNION ALL
      |SELECT 3, 'append', s2.c, 0, s0.c + s1.c + s2.c FROM s0, s1, s2
      |UNION ALL
      |SELECT 4, 'delete', s0.c + s1.c + s2.c - u.c, s0.c + s1.c + s2.c,
      |  s0.c + s1.c + s2.c - u.c FROM s0, s1, s2, u
      |UNION ALL
      |SELECT 5, 'compact', s0.c + s1.c + s2.c - u.c,
      |  s0.c + s1.c + s2.c - u.c, s0.c + s1.c + s2.c - u.c
      |FROM s0, s1, s2, u
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q334
  /** Time-traveled key-range read: version 3 (twelve live files, each
    * commit range-partitioned on the key) through manifest-level file
    * skipping — [[TableLog.prunedFiles]] drops every file whose
    * `[min,max]` misses [1000, 5000] BEFORE Spark plans the scan
    * (~⅓ of files per commit survive for this range), then the
    * residual predicate prunes row-groups inside the survivors via
    * ordinary parquet pushdown. Two independent skipping layers; the
    * oracle only sees the logical result. TableLogSpec pins the
    * file-count effect on a planted layout. */
  def q334TablePrunedRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TableLog.snapshotWhereKey(s, demoTable(s, dir), 1000L, 5000L, version = 3L)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  private val q334Oracle =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2)
      |  AND o_orderkey BETWEEN 1000 AND 5000
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q389
  /** Number of contiguous key slices in the advisor's table build. */
  val advisorSlices = 8L

  /** What-if skipping advisor — pricing a predicate BEFORE running
    * it, purely from the manifest (q339's metadata-only discipline
    * turned from answering queries into planning them): for each
    * candidate key range, how many active files its scan touches,
    * the manifest row bound on what those files hold, the exact
    * result rows (the pruned read itself, proving the skip lossless)
    * and the file-skip ratio. At 100 TB this one-page report decides
    * whether a backfill runs now or waits for an OPTIMIZE — made
    * from O(active files) manifest rows, zero data files opened for
    * the estimate. The table builds as [[advisorSlices]] contiguous
    * key-range commits of one file each, so every file's [min, max]
    * is the actual extremum of its slice — deterministic and
    * relationally replayable, which the demo table's sampled
    * range-partition boundaries are not (q333's spec-pinned-not-
    * oracled lesson; this build closes that gap). Slice width derives
    * from the manifest's own maxKey, so candidates state in W units
    * replay exactly cross-engine. */
  def q389SkippingAdvisor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tloga_").toString
      val sl = ordersSlice(s, dir)
      val maxK = sl.agg(max($"o_orderkey")).head().getLong(0)
      val w = maxK / advisorSlices + 1L
      TableLog.create(sl.where($"o_orderkey" < w), t, "o_orderkey",
        numFiles = 1)
      (1L until advisorSlices).foreach { i =>
        TableLog.append(sl.where($"o_orderkey" >= i * w &&
          $"o_orderkey" < (i + 1) * w), t, numFiles = 1)
      }
      t
    }
    val snap = TableLog.state(table)
    val (_, _, maxK) = TableLog.statsOf(table)
    val w = maxK / advisorSlices + 1L
    val candidates = Seq(
      ("p1_narrow", 0L, w / 2L),
      ("p2_mid", w, 3L * w - 1L),
      ("p3_full", 0L, maxK))
    val total = snap.active.size.toLong
    candidates.map { case (name, lo, hi) =>
      val kept = TableLog.prunedFiles(snap, lo, hi)
      val exact = TableLog.snapshotWhereKey(s, table, lo, hi).count()
      s.range(1).select(
        lit(name).as("candidate"),
        lit(total).as("files_total"),
        lit(kept.size.toLong).as("files_scanned"),
        lit(kept.map(_.rows).sum).as("rows_bound"),
        lit(exact).as("rows_exact"),
        lit(1000000L * (total - kept.size) / total).as("skip_ppm"))
    }.reduce(_ unionByName _).orderBy($"candidate")
  }

  private val q389Oracle =
    s"""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
       |par AS (SELECT m, m // $advisorSlices + 1 AS w FROM mx),
       |slices AS (
       |  SELECT o_orderkey // w AS slice, count(*) AS n,
       |    min(o_orderkey) AS mn, max(o_orderkey) AS mx
       |  FROM orders, par GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS files FROM slices),
       |cand AS (
       |  SELECT 'p1_narrow' AS candidate, 0 AS lo, w // 2 AS hi FROM par
       |  UNION ALL SELECT 'p2_mid', w, 3 * w - 1 FROM par
       |  UNION ALL SELECT 'p3_full', 0, m FROM par),
       |kept AS (
       |  SELECT c.candidate, c.lo, c.hi,
       |    CAST(count(s.slice) AS BIGINT) AS files_scanned,
       |    CAST(COALESCE(sum(s.n), 0) AS BIGINT) AS rows_bound
       |  FROM cand c LEFT JOIN slices s
       |    ON s.mx >= c.lo AND s.mn <= c.hi
       |  GROUP BY 1, 2, 3),
       |ex AS (
       |  SELECT c.candidate, CAST(count(o.o_orderkey) AS BIGINT) AS rows_exact
       |  FROM cand c LEFT JOIN orders o
       |    ON o.o_orderkey BETWEEN c.lo AND c.hi
       |  GROUP BY 1)
       |SELECT k.candidate, tot.files AS files_total, k.files_scanned,
       |  k.rows_bound, ex.rows_exact,
       |  (1000000 * (tot.files - k.files_scanned)) // tot.files AS skip_ppm
       |FROM kept k JOIN ex ON k.candidate = ex.candidate, tot
       |ORDER BY k.candidate""".stripMargin

  // ---------------------------------------------------------------- q335
  /** Exactly-once streaming ingest INTO the transactional log — the
    * reference's event-driven load (reference `src/load/main.py:23-40`,
    * at-least-once into BigQuery) upgraded twice over: checkpointed
    * Structured Streaming dedups within a checkpoint lineage, and the
    * log's txnAppId/txnVersion ledger ([[TableLog.appendTxn]]) dedups
    * ACROSS checkpoint loss — each micro-batch commits with its batch
    * id, and a redelivered id is dropped at the manifest, so the run
    * here deliberately ingests three times (normal · same checkpoint ·
    * FRESH checkpoint, which re-delivers every file) and the oracle
    * proves the table still holds each row exactly once. The
    * foreachBatch sink appends files only — no table rewrite in the
    * hot ingest path, which is what keeps 100-TB ingest append-shaped;
    * compaction (q330's v5) amortizes the small files separately. */
  def q335TableStreamIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tlogs_").toString
      val landing = Scratch.dir("graft_tlogl_")
      val slice = ordersSlice(s, dir)
      Seq(0, 1).foreach(k =>
        Streaming.deliver(landing, k, slice.where($"o_orderkey" % 4 === k)))
      TableLog.create(slice.limit(0), t, "o_orderkey", numFiles = 1)
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(slice.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            TableLog.appendTxn(batch, t, numFiles = 1,
              appId = "ingest", txnVersion = id); ()
          }
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce(s"$landing/_cp1")
      runOnce(s"$landing/_cp1") // same lineage: checkpoint makes it a no-op
      runOnce(s"$landing/_cp2") // checkpoint LOST: txn ledger drops redelivery
      t
    }
    TableLog.snapshot(s, table)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  private val q335Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q336
  /** CDC extract straight off the log ([[TableLog.diffVersions]]):
    * the change stream that replays demo v3 into v5. The manifest
    * bounds the scan to files NOT shared by the two versions, so a
    * daily diff costs the rewritten sliver, not the table; here v4
    * rewrote everything (key-uncorrelated delete), so the diff reads
    * both version's files and must STILL emit only the genuinely
    * deleted rows — the compaction between them (v5) moved every
    * surviving row to a new file, and the null-safe value compare
    * drops them all. q106 computes the same semantics from two
    * materialized snapshots; this reads one table's history. */
  def q336TableCdcDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TableLog.diffVersions(s, demoTable(s, dir), vFrom = 3L, vTo = 5L)
      .select($"o_orderkey", $"action",
        $"old_o_orderstatus", $"old_o_totalprice")
      .orderBy($"o_orderkey")
  }

  private val q336Oracle =
    """SELECT o_orderkey, 'delete' AS action,
      |  o_orderstatus AS old_o_orderstatus,
      |  o_totalprice AS old_o_totalprice
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority = '1-URGENT'
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q337
  /** Additive schema evolution as a log commit
    * ([[TableLog.appendEvolve]]): the table starts 3 columns wide,
    * a later append arrives with a 4th (o_totalprice), the manifest
    * records the widened DDL, and the snapshot read null-fills the
    * pre-evolution files through the explicit-schema parquet scan —
    * no rewrite of old data (q166 merges schemas at SCAN time across
    * layout generations; this makes the evolution a first-class,
    * atomically-committed table property). Readback aggregates by
    * status × presence of the new column, so the oracle pins both
    * the null-fill and the new values. */
  def q337TableSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tloge_").toString
      val o = Tables.orders(s, dir)
      TableLog.create(
        o.where($"o_orderkey" % 4 === 0)
          .select($"o_orderkey", $"o_custkey", $"o_orderstatus"),
        t, "o_orderkey", numFiles = 2)
      TableLog.appendEvolve(
        o.where($"o_orderkey" % 4 === 1)
          .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
            $"o_totalprice"),
        t, numFiles = 2)
      t
    }
    TableLog.snapshot(s, table)
      .groupBy($"o_orderstatus", $"o_totalprice".isNull.as("pre_evolution"))
      .agg(count(lit(1)).as("n_orders"),
        coalesce(dsum($"o_totalprice"), lit(0.0)).as("sum_price"))
      .orderBy($"o_orderstatus", $"pre_evolution")
  }

  private val q337Oracle =
    """WITH rows_ AS (
      |  SELECT o_orderstatus, TRUE AS pre_evolution,
      |    CAST(NULL AS DOUBLE) AS o_totalprice
      |  FROM orders WHERE o_orderkey % 4 = 0
      |  UNION ALL
      |  SELECT o_orderstatus, FALSE, o_totalprice
      |  FROM orders WHERE o_orderkey % 4 = 1)
      |SELECT o_orderstatus, pre_evolution,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0)
      |    AS sum_price
      |FROM rows_ GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q338
  /** Point lookup through the table's bloom index
    * ([[TableLog.prunedFilesBloom]]): the table declares a bloom
    * sidecar on o_custkey at create; every later commit (here an
    * append) builds sidecars for its new files automatically, and the
    * lookup tests each active file's bitset BEFORE Spark plans the
    * scan. This is the skipping layer key-range stats can't provide —
    * a point predicate on a NON-key column (the key-range layer is
    * q334's) — i.e. Delta's bloom-filter-index shape. Bloom absence
    * or false positives only widen the read set; the exact `IN`
    * predicate on the survivors (also pushed into parquet) makes the
    * result precise, so the oracle is a plain WHERE. */
  def q338TableBloomSkip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tlogb_").toString
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where($"o_orderkey" % 4 === 0), t,
        "o_orderkey", numFiles = 4, bloomCol = Some("o_custkey"))
      TableLog.append(slice.where($"o_orderkey" % 4 === 1), t, numFiles = 4)
      t
    }
    TableLog.snapshotWhereIn(s, table, Seq(7L, 42L, 1001L))
      .select(dataCols.map(col): _*)
      .orderBy($"o_orderkey")
  }

  private val q338Oracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
      |  o_totalprice
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1) AND o_custkey IN (7, 42, 1001)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q339
  /** Metadata-only aggregates: (n_rows, min_key, max_key) for EVERY
    * version of the demo table answered purely from the manifests
    * ([[TableLog.statsOf]]) — zero data files opened, the Iceberg
    * metadata-table trick. EXACT, not estimated: per-file stats are
    * true bounds computed at commit time, so their fold is the true
    * aggregate; the oracle computes the same numbers the hard way
    * (scanning orders) and must match bit-for-bit. At 100 TB this is
    * the difference between a driver fold over ~10⁵ manifest entries
    * and a full table scan for every COUNT(*)/MIN/MAX. */
  def q339TableStatsOnly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = demoTable(s, dir)
    (1L to TableLog.latestVersion(table)).map { v =>
      val (n, mn, mx) = TableLog.statsOf(table, v)
      (v, n, mn, mx)
    }.toDF("version", "n_rows", "min_key", "max_key")
      .orderBy($"version")
  }

  private val q339Oracle =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key
      |FROM orders WHERE o_orderkey % 4 = 0
      |UNION ALL
      |SELECT 2, count(*), min(o_orderkey), max(o_orderkey)
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |UNION ALL
      |SELECT 3, count(*), min(o_orderkey), max(o_orderkey)
      |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
      |UNION ALL
      |SELECT 4, count(*), min(o_orderkey), max(o_orderkey)
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority <> '1-URGENT'
      |UNION ALL
      |SELECT 5, count(*), min(o_orderkey), max(o_orderkey)
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority <> '1-URGENT'
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q340
  /** Incremental append feed ([[TableLog.readAppendsSince]]): the
    * rows a chained consumer reads to catch up from demo v1 to v3 —
    * exactly the two append commits' files, no rescan of v1's data.
    * The upTo=3 bound matters: the window must stop BEFORE v4's
    * rewrite, where an appends-only feed would double-count and the
    * API fails fast instead (spec'd) — the consumer switches to
    * q336's diffVersions there. This is the reference's own daily
    * cadence (one batch file per run, reference
    * `src/extract/main.py:21-27`) consumed from the committed log
    * rather than a landing bucket. */
  def q340TableIncrementalFeed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TableLog.readAppendsSince(s, demoTable(s, dir),
      sinceVersion = 1L, upToVersion = 3L)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  private val q340Oracle =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderkey % 4 IN (1, 2)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q341
  /** Transactional CDC apply ([[TableLog.applyCdc]]) — q336's
    * inverse, and the log-backed upgrade of q180: the q106 change
    * recipe (drop keys ≡1 mod 50, bump+restatus keys ≡4 mod 10,
    * insert fresh negatives from keys ≡9 mod 100) lands as ONE
    * atomic copy-on-write commit, so a reader sees the whole change
    * batch or none of it. Readback is the post-apply snapshot, which
    * must equal q106's "today" state exactly — the oracle IS that
    * state in pure SQL. Only files holding an updated-or-deleted key
    * rewrite; at 100 TB a clustered daily change set touches a
    * sliver, and the insert files ride in the same commit. */
  def q341TableCdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tlogc_").toString
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      TableLog.create(o, t, "o_orderkey", numFiles = 4)
      val deletes = o.where($"o_orderkey" % 50 === 1)
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus",
          lit("delete").as("action"))
      val updates = o.where($"o_orderkey" % 10 === 4)
        .select($"o_orderkey", ($"o_totalprice" * 1.05).as("o_totalprice"),
          lit("U").as("o_orderstatus"), lit("update").as("action"))
      val inserts = o.where($"o_orderkey" % 100 === 9)
        .select((-$"o_orderkey" - 1).as("o_orderkey"), $"o_totalprice",
          lit("N").as("o_orderstatus"), lit("insert").as("action"))
      TableLog.applyCdc(s, t,
        deletes.unionByName(updates).unionByName(inserts), numFiles = 4)
      t
    }
    TableLog.snapshot(s, table)
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      .orderBy($"o_orderkey")
  }

  private val q341Oracle =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 1.05
      |       ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey % 10 = 4 THEN 'U'
      |       ELSE o_orderstatus END AS o_orderstatus
      |FROM orders WHERE o_orderkey % 50 <> 1
      |UNION ALL
      |SELECT -o_orderkey - 1, o_totalprice, 'N'
      |FROM orders WHERE o_orderkey % 100 = 9
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q351
  /** OPTIMIZE ZORDER as a transactional commit
    * ([[TableLog.compactZorder]]): the table's files re-lay along
    * the (o_orderkey × o_custkey) Morton curve — q108 proves the
    * layout standalone; this lands it as an atomic, time-travelable
    * rewrite on the log (old layout still readable at the prior
    * version). Each re-laid file covers ≈ a rectangle in the 2-D
    * key space, so the 2-D selective readback here prunes parquet
    * row-groups on BOTH predicates; the oracle only sees the
    * logical result (layout must be invisible to answers — that IS
    * the test). TableLogSpec pins the physical effect: per-file
    * custkey spread shrinks vs the key-ranged layout, and the
    * rewrite is a logical no-op. */
  def q351TableZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tlogz_").toString
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where($"o_orderkey" % 4 === 0), t,
        "o_orderkey", numFiles = 4)
      TableLog.append(slice.where($"o_orderkey" % 4 === 1), t, numFiles = 4)
      TableLog.compactZorder(s, t, "o_orderkey", "o_custkey", numFiles = 4)
      t
    }
    TableLog.snapshot(s, table)
      .where($"o_orderkey" <= 7000L && $"o_custkey" <= 700L)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  private val q351Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1)
      |  AND o_orderkey <= 7000 AND o_custkey <= 700
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q354
  /** Incremental materialized-view maintenance over the commit log —
    * q144's self-merging-aggregate idea upgraded with RETRACTIONS and
    * landed on the ACID table: the per-status (count, exact sum) view
    * follows the demo table through all five versions, and each
    * refresh reads ONLY that version's change, never the table.
    * Refresh routing comes off the log's own history: append-shaped
    * commits (create/append/evolve) take the cheap
    * [[TableLog.readAppendsSince]] path (delta rows aggregate and
    * ADD into the view — counts and DECIMAL sums are self-merging);
    * rewrite commits (delete/merge/cdc/compact) take
    * [[TableLog.diffVersions]], whose (action, old, new) rows unpivot
    * into signed contributions — delete retracts the old row, update
    * retracts old and adds new, insert adds — so the view stays
    * change-exact THROUGH rewrites, where an appends-only consumer
    * must fail (q340's spec'd hole, closed here). v5's compaction
    * diffs to zero changes (unchanged rows that merely moved files
    * drop out of the null-safe compare), so the no-op refresh is
    * itself oracle-checked. A group retracted to zero rows leaves
    * the view (matching what a recompute would produce).
    *
    * Output = the view AFTER every refresh, (version × status) grain;
    * the oracle states each version's view as the pure SQL its
    * history implies — the full maintenance trajectory is
    * hash-checked, not just the final state. Scale shape: each
    * refresh costs O(change set) + a merge into the GROUP-BOUNDED
    * view frame (status grain — localCheckpointed per round so the
    * lineage stays refresh-local); the base table is scanned once at
    * v1 and never again. */
  def q354TableMvRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mvTrajectoryOf(s, demoTable(s, dir), "o_orderstatus", "o_totalprice")
      .select($"version", $"grp".as("o_orderstatus"), $"n_orders", $"sum_price")
      .orderBy($"version", $"o_orderstatus")
  }

  /** The maintenance fold behind q354, on any logged table: per
    * (groupCol) count + exact DECIMAL sum of valueCol, refreshed
    * version-by-version from the log's change feeds. Returns the
    * view after every refresh as (version, grp, n_orders,
    * sum_price). */
  private[ops] def mvTrajectoryOf(s: SparkSession, table: String,
      groupCol: String, valueCol: String): DataFrame = {
    import s.implicits._
    // fixed-width decimal everywhere so the append-path, diff-path, and
    // merged frames union without implicit precision widening
    def viewAgg(df: DataFrame): DataFrame = df
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col(valueCol).cast("decimal(12,2)"))
          .cast("decimal(20,2)").as("sum_dec"))
    val ops = TableLog.history(table).map(h => h.version -> h.op).toMap
    val appendOps = Set("create", "append", "evolve")
    var mv = viewAgg(TableLog.snapshot(s, table, 1L)).localCheckpoint()
    val states = scala.collection.mutable.ArrayBuffer(
      mv.select(lit(1L).as("version"), $"grp", $"n_orders", $"sum_dec"))
    for (v <- 2L to TableLog.latestVersion(table)) {
      val delta =
        if (appendOps(ops(v)))
          viewAgg(TableLog.readAppendsSince(s, table, v - 1, v))
        else
          TableLog.diffVersions(s, table, v - 1, v)
            .selectExpr(
              s"""stack(2,
                 |  old_$groupCol,
                 |  CASE WHEN action IN ('delete','update') THEN -1L END,
                 |  CASE WHEN action IN ('delete','update')
                 |       THEN -CAST(old_$valueCol AS DECIMAL(12,2)) END,
                 |  new_$groupCol,
                 |  CASE WHEN action IN ('insert','update') THEN 1L END,
                 |  CASE WHEN action IN ('insert','update')
                 |       THEN CAST(new_$valueCol AS DECIMAL(12,2)) END
                 |) AS (grp, dn, dprice)""".stripMargin)
            .where($"dn".isNotNull)
            .groupBy($"grp")
            .agg(sum($"dn").as("n_orders"),
              sum($"dprice").cast("decimal(20,2)").as("sum_dec"))
      mv = mv.unionByName(delta)
        .groupBy($"grp")
        .agg(sum($"n_orders").as("n_orders"),
          sum($"sum_dec").cast("decimal(20,2)").as("sum_dec"))
        .where($"n_orders" > 0L)
        .localCheckpoint()
      states += mv.select(lit(v).as("version"), $"grp", $"n_orders", $"sum_dec")
    }
    states.reduce(_ unionByName _)
      .select($"version", $"grp", $"n_orders",
        $"sum_dec".cast("double").as("sum_price"))
  }

  private val q354Oracle = {
    def st(v: Int, where: String) =
      s"""SELECT CAST($v AS BIGINT) AS version, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         |FROM orders WHERE $where GROUP BY 2""".stripMargin
    val v123 = "o_orderkey % 4 IN (0, 1, 2)"
    val v45 = s"$v123 AND o_orderpriority <> '1-URGENT'"
    Seq(st(1, "o_orderkey % 4 = 0"), st(2, "o_orderkey % 4 IN (0, 1)"),
      st(3, v123), st(4, v45), st(5, v45))
      .mkString("", "\nUNION ALL\n", "\nORDER BY version, o_orderstatus")
  }

  // ---------------------------------------------------------------- q355
  /** Atomic slice restatement ([[TableLog.replaceWhere]] — Delta's
    * `replaceWhere` / dynamic partition overwrite): the open-order
    * slice (status 'O') is re-delivered with corrected prices (×2 —
    * exact in IEEE doubles, so cross-engine) and REPLACES the old
    * slice in one commit; a reader sees either the old restatement
    * or the new, never a mix and never a gap — the backfill shape
    * (re-run one day/partition) that delete-then-append cannot give
    * atomically. Incoming rows are contract-checked against the
    * predicate (smuggling rows outside the slice is rejected —
    * spec'd), and only files holding a matching row rewrite.
    * Readback = the whole table, so the oracle is base rows with the
    * O slice restated in pure SQL. */
  def q355TableReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tlogr_").toString
      val slice = ordersSlice(s, dir).where($"o_orderkey" % 4 <= 1)
      TableLog.create(slice.where($"o_orderkey" % 4 === 0), t,
        "o_orderkey", numFiles = 4)
      TableLog.append(slice.where($"o_orderkey" % 4 === 1), t, numFiles = 4)
      val restated = slice.where($"o_orderstatus" === "O")
        .withColumn("o_totalprice", $"o_totalprice" * 2)
      TableLog.replaceWhere(s, t, $"o_orderstatus" === "O", restated,
        numFiles = 4)
      t
    }
    TableLog.snapshot(s, table)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  private val q355Oracle =
    """SELECT o_orderkey, o_orderstatus,
      |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q417
  /** SQL-visible catalog read — the reference-parity surface: BQ
    * users query the loaded table BY NAME (reference
    * `terraform/outputs.tf:13-15`), so the TableLog user gets
    * `SELECT … FROM graftlog.\`<path>\`` via
    * [[graft.sources.GraftLogCatalog]] instead of the `snapshot`
    * API. Same demo table as q330; the WHERE carries a key-range
    * predicate so the round-trip exercises all three skipping
    * layers: manifest file skip (per-file [min,max] vs the pushed
    * range), parquet row-group skip (the same filters handed to
    * Spark's own vectorized scan), and the residual row filter.
    * GraftLogCatalogSpec pins the file-level skip through the ScanBuilder
    * directly. */
  private def withCatalog(s: SparkSession): Unit =
    s.conf.set("spark.sql.catalog.graftlog",
      "graft.sources.GraftLogCatalog")

  def q417CatalogSql(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = demoTable(s, dir)
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table`
         |WHERE o_orderkey BETWEEN 0 AND 29999
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q417Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority <> '1-URGENT'
      |  AND o_orderkey BETWEEN 0 AND 29999
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q418
  /** `VERSION AS OF` time travel through the SQL catalog — q331's
    * snapshot-isolation proof, now on the named-table surface: one
    * aggregate per committed version, each resolved by
    * `TableCatalog.loadTable(ident, version)` to an immutable
    * manifest snapshot. Versions 4 and 5 must agree exactly
    * (compaction is physical only). Shares q331's oracle verbatim —
    * the API read and the SQL read are the same logical operation,
    * and hashing both against one oracle pins that. */
  def q418CatalogTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = demoTable(s, dir)
    (1L to TableLog.latestVersion(table)).map { v =>
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
           |FROM graftlog.`$table` VERSION AS OF $v""".stripMargin)
    }.reduce(_ unionByName _).orderBy($"version")
  }

  // ---------------------------------------------------------------- q419
  /** Retention-windowed VACUUM ([[TableLog.vacuumRetain]]): with the
    * last 2 versions retained, only files reachable by NO retained
    * snapshot delete — here the v1/v2 stage files (8), orphaned by
    * the v3 compaction; v3's compacted files survive because v3 is
    * in the window even though v4's delete rewrote them. The readout
    * proves both sides: reclaimed files/rows (folded from the
    * manifests, no data I/O) AND post-vacuum reads of BOTH retained
    * versions — in-window time travel survives the vacuum by
    * construction. The out-of-window failure mode (v1 reads fail
    * loudly once their exclusive files are gone) is pinned in
    * TableLogSpec, where an expected failure belongs. History:
    * v1 create %4=0 (4 files) · v2 append %4=1 (4) · v3 compact (2)
    * · v4 delete URGENT (2). */
  private def vacuumDemo(s: SparkSession, dir: String): (String, Int, Long) = {
      val table = Scratch.dir("graft_tlogv_").toString
      val o = ordersSlice(s, dir)
      TableLog.create(o.where(col("o_orderkey") % 4 === 0), table,
        "o_orderkey", numFiles = 4)
      TableLog.append(o.where(col("o_orderkey") % 4 === 1), table,
        numFiles = 4)
      TableLog.compact(s, table, numFiles = 2)
      TableLog.deleteWhere(s, table,
        col("o_orderpriority") === "1-URGENT", numFiles = 2)
      // grace 0: this fixture owns the only writer (see the
      // defaultVacuumGraceMillis scaladoc)
      val r = TableLog.vacuumRetain(table, retainVersions = 2,
        graceMillis = 0L)
      (table, r.filesDeleted, r.rowsReclaimed)
    }

  def q419VacuumRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (table, nFiles, nRows) = vacuumDemo(s, dir)
    val v3 = TableLog.snapshot(s, table, 3L).agg(count(lit(1)).as("v3_rows"))
    val v4 = TableLog.snapshot(s, table, 4L).agg(count(lit(1)).as("v4_rows"))
    v3.crossJoin(v4)
      .select(lit(nFiles.toLong).as("n_files_reclaimed"),
        lit(nRows).as("rows_reclaimed"), $"v3_rows", $"v4_rows")
  }

  private val q419Oracle =
    """SELECT CAST(8 AS BIGINT) AS n_files_reclaimed,
      |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 4 IN (0, 1))
      |    AS BIGINT) AS rows_reclaimed,
      |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 4 IN (0, 1))
      |    AS BIGINT) AS v3_rows,
      |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |        AND o_orderpriority <> '1-URGENT') AS BIGINT) AS v4_rows""".stripMargin

  // ---------------------------------------------------------------- q421
  /** The commit-history METADATA table on the SQL surface
    * (`graftlog.\`<path>#history\`` — the DESCRIBE-HISTORY shape):
    * q333's logical-grain readout, now reachable without any API
    * call. The rows fold from manifests on the driver (log-grain,
    * never a data file) and ship inside the scan's single input
    * partition — history is bounded by commit count, not data.
    * Hashes against q333's oracle verbatim, so the API readout and
    * the SQL metadata table cannot drift. */
  def q421CatalogHistory(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = demoTable(s, dir)
    s.sql(
      s"""SELECT version, op, rows_added, rows_removed, total_rows
         |FROM graftlog.`$table#history`
         |ORDER BY version""".stripMargin)
  }

  // ---------------------------------------------------------------- q422
  /** Streaming SOURCE over the commit log
    * ([[graft.sources.GraftLogStreamProvider]]) — the inverse of
    * q335's stream INGEST and the capability that chains logged
    * tables into pipelines: a downstream query subscribes to the
    * table and receives each append commit's files as a micro-batch,
    * offset = table version (deterministic replay ⇒ exactly-once
    * with a checkpoint). The fixture proves the INCREMENTAL path:
    * the stream drains the create+append history, then a THIRD
    * commit lands mid-stream and only its files flow in the next
    * batch — nothing is rescanned. Readout aggregates the memory
    * sink; the oracle restates the three slices in pure SQL.
    * Rewrite-in-window fail-fast (the readAppendsSince contract,
    * streamed) is pinned in GraftLogStreamSpec. */
  def q422TableStreamSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sinkName = {
      val t = Scratch.dir("graft_tlogsrc_").toString
      val cp = Scratch.dir("graft_tlogsrc_cp_").toString
      val name = s"q422_feed_${Integer.toHexString(dir.hashCode)}"
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where(col("o_orderkey") % 4 === 0), t,
        "o_orderkey", numFiles = 2)
      TableLog.append(slice.where(col("o_orderkey") % 4 === 1), t,
        numFiles = 2)
      val q = s.readStream
        .format("graft.sources.GraftLogStreamProvider")
        .option("path", t).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      q.processAllAvailable()
      // the commit that arrives while the stream is live — the next
      // batch must carry exactly its files
      TableLog.append(slice.where(col("o_orderkey") % 4 === 2), t,
        numFiles = 2)
      q.processAllAvailable()
      q.stop()
      name
    }
    s.table(sinkName)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  private val q422Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q423
  /** Native streaming SINK into the commit log — q335's exactly-once
    * ingest with the foreachBatch glue ABSORBED into the connector:
    * `writeStream.format(graftlog-stream)` lands every micro-batch
    * as one atomic append commit stamped (txnAppId, epochId) in the
    * manifest's txn ledger, task writers stream parquet under
    * `<table>/data/` computing the manifest's key stats as they go.
    * Same triple-delivery torture as q335 (normal · same checkpoint
    * · FRESH checkpoint with the explicit txnAppId): the oracle
    * proves exactly one copy landed — dedup across checkpoint loss,
    * which checkpointed streaming alone cannot give. Shares q335's
    * oracle content: both surfaces state the same ingest. */
  def q423TableStreamSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = {
      val t = Scratch.dir("graft_tlogsk_").toString
      val landing = Scratch.dir("graft_tlogskl_")
      val slice = ordersSlice(s, dir)
      Seq(0, 1).foreach(k =>
        Streaming.deliver(landing, k, slice.where($"o_orderkey" % 4 === k)))
      TableLog.create(slice.limit(0), t, "o_orderkey", numFiles = 1)
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(slice.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString)
          .writeStream
          .format("graft.sources.GraftLogStreamProvider")
          .option("path", t)
          .option("txnAppId", "native-sink")
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce(s"$landing/_cp1")
      runOnce(s"$landing/_cp1") // same lineage: checkpoint makes it a no-op
      runOnce(s"$landing/_cp2") // checkpoint LOST: txn ledger drops redelivery
      t
    }
    TableLog.snapshot(s, table)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  // ---------------------------------------------------------------- q424
  /** `INSERT INTO graftlog.\`<path>\` SELECT …` — the one SQL DML an
    * append-safe commit protocol can honor without compromise (an
    * append never conflicts; a lost race rebases), landed as ONE
    * atomic commit through the catalog's [[graft.sources
    * .GraftLogBatchAppend]]: task writers stream parquet with
    * manifest key stats, the driver publishes a single manifest.
    * The whole INSERT is visible or none of it. Readout re-reads
    * through the same catalog. */
  def q424CatalogInsert(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogi_").toString
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where(col("o_orderkey") % 4 === 0), t,
        "o_orderkey", numFiles = 2)
      val view = s"graft_ins_src_${Integer.toHexString(dir.hashCode)}"
      slice.createOrReplaceTempView(view)
      try s.sql(
        s"""INSERT INTO graftlog.`$t`
           |SELECT * FROM $view WHERE o_orderkey % 4 = 1""".stripMargin)
      finally s.catalog.dropTempView(view)
      t
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q424Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q425
  /** `DELETE FROM graftlog.\`<path>\` WHERE …` — the pushed SQL image
    * of [[TableLog.deleteWhere]]: every predicate translates to the
    * COW delete's condition (untranslatable conditions REFUSE rather
    * than approximate), exactly the files holding a matching row
    * rewrite, and the whole delete is one atomic commit — old
    * versions stay time-travelable past it. Readout proves the
    * survivor set; the oracle restates it in pure SQL. */
  def q425CatalogDelete(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogd_").toString
      TableLog.create(ordersSlice(s, dir)
        .where(col("o_orderkey") % 4 <= 1), t, "o_orderkey", numFiles = 4)
      s.sql(s"DELETE FROM graftlog.`$t` WHERE o_orderstatus = 'F'")
      t
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q425Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1) AND o_orderstatus <> 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q426
  /** The full SQL lifecycle on the catalog: `CREATE TABLE` declares
    * schema + key as an empty v1 commit (zero data files — the first
    * INSERT brings data, which is also what makes CTAS work), the
    * INSERT lands atomically, and the readout SELECTs it back — a
    * logged table born, loaded and queried without ONE API call.
    * CTAS and the DataFrame-writer append are pinned in
    * GraftLogCatalogSpec. */
  def q426CatalogCreate(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogc_").toString + "/tbl"
      s.sql(
        s"""CREATE TABLE graftlog.`$t` (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           |  o_orderpriority STRING, o_totalprice DOUBLE)
           |TBLPROPERTIES ('key' = 'o_orderkey')""".stripMargin)
      val view = s"graft_crt_src_${Integer.toHexString(dir.hashCode)}"
      ordersSlice(s, dir).createOrReplaceTempView(view)
      try s.sql(
        s"""INSERT INTO graftlog.`$t`
           |SELECT * FROM $view WHERE o_orderkey % 4 = 3""".stripMargin)
      finally s.catalog.dropTempView(view)
      t
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q426Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 = 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q427
  /** Manifest-stats aggregate pushdown on SQL — q339's metadata-only
    * COUNT/MIN/MAX, now planned automatically: the catalog's
    * ScanBuilder answers a whole-table `count(*) / min(key) /
    * max(key)` by folding the manifest's per-file stats (true bounds
    * written at commit time), so the query opens ZERO data files —
    * at 100 TB, a driver fold over ~100 B/file of metadata. Composes
    * with VERSION AS OF (one row per version here). NON-key integral
    * columns fold too when every active file carries their column
    * stat (o_custkey below — the generalized data-skipping stats
    * doubling as aggregate answers); a row filter, a string/double
    * column, or any stat-less file disqualifies the fold and the
    * plan falls back to the real scan (spec-pinned both ways). */
  def q427StatsPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = demoTable(s, dir)
    Seq(2L, 5L).map { v =>
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version,
           |  count(*) AS n_rows,
           |  min(o_orderkey) AS min_key,
           |  max(o_orderkey) AS max_key,
           |  min(o_custkey) AS min_cust,
           |  max(o_custkey) AS max_cust
           |FROM graftlog.`$table` VERSION AS OF $v""".stripMargin)
    }.reduce(_ unionByName _).orderBy($"version")
  }

  private val q427Oracle =
    """SELECT CAST(2 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |  CAST(min(o_custkey) AS BIGINT) AS min_cust,
      |  CAST(max(o_custkey) AS BIGINT) AS max_cust
      |FROM orders WHERE o_orderkey % 4 IN (0, 1)
      |UNION ALL
      |SELECT 5, count(*), min(o_orderkey), max(o_orderkey),
      |  min(o_custkey), max(o_custkey)
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1, 2) AND o_orderpriority <> '1-URGENT'
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q428
  /** `ALTER TABLE … ADD COLUMN` on the SQL catalog — q337's additive
    * evolution ([[TableLog.evolveSchema]]) without an API call and
    * without riding on an append: CREATE 3 columns wide, INSERT a
    * slice, ALTER adds o_totalprice as ONE metadata-only commit (zero
    * data files — history pins it), INSERT the wide slice, and the
    * readback groups by status × presence — pre-evolution rows
    * null-fill through the explicit-schema scan, post-evolution rows
    * carry values. Shares q337's oracle verbatim: the API evolution
    * and the SQL DDL state the same logical table. */
  def q428CatalogAlterAdd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogalt_").toString + "/tbl"
      s.sql(
        s"""CREATE TABLE graftlog.`$t` (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)
           |TBLPROPERTIES ('key' = 'o_orderkey')""".stripMargin)
      val view = s"graft_alt_src_${Integer.toHexString(dir.hashCode)}"
      Tables.orders(s, dir).createOrReplaceTempView(view)
      try {
        s.sql(
          s"""INSERT INTO graftlog.`$t`
             |SELECT o_orderkey, o_custkey, o_orderstatus
             |FROM $view WHERE o_orderkey % 4 = 0""".stripMargin)
        s.sql(s"ALTER TABLE graftlog.`$t` ADD COLUMN o_totalprice DOUBLE")
        s.sql(
          s"""INSERT INTO graftlog.`$t`
             |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |FROM $view WHERE o_orderkey % 4 = 1""".stripMargin)
      } finally s.catalog.dropTempView(view)
      t
    }
    s.sql(
      s"""SELECT o_orderstatus, o_totalprice IS NULL AS pre_evolution,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  COALESCE(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
         |    AS DOUBLE), 0.0) AS sum_price
         |FROM graftlog.`$table`
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  // ---------------------------------------------------------------- q429
  /** CHANGE-FEED streaming read (`option("readChangeFeed", "true")`)
    * — q336's diffVersions semantics as a LIVE subscription that
    * rides through rewrite commits instead of failing fast (q422's
    * appends-only contract is the default; this is the opt-in for
    * consumers that need delete/update visibility — Delta's CDF
    * shape, computed from manifests, no recorded change files). The
    * fixture replays create + append + COW-delete; the feed must emit
    * every insert with its commit version, then EXACTLY the deleted
    * rows at the delete commit — the delete's predicate is
    * key-uncorrelated, so every file rewrites and the moved-but-
    * unchanged rows must all drop out of the null-safe compare. Each
    * rewrite's diff is key-range partitioned off the manifest stats:
    * no shuffle, no driver data, cost bounded by the rewritten
    * sliver ([[graft.sources.GraftLogChangeFeed]]). */
  def q429ChangeFeedStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sinkName = {
      val t = Scratch.dir("graft_tlogcdf_").toString
      val cp = Scratch.dir("graft_tlogcdf_cp_").toString
      val name = s"q429_feed_${Integer.toHexString(dir.hashCode)}"
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where(col("o_orderkey") % 4 === 0), t,
        "o_orderkey", numFiles = 2)
      TableLog.append(slice.where(col("o_orderkey") % 4 === 1), t,
        numFiles = 2)
      TableLog.deleteWhere(s, t,
        col("o_orderpriority") === "1-URGENT", numFiles = 2)
      val q = s.readStream
        .format("graft.sources.GraftLogStreamProvider")
        .option("path", t).option("readChangeFeed", "true").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      q.processAllAvailable()
      q.stop()
      name
    }
    s.table(sinkName)
      .select($"o_orderkey", $"_commit_version".as("commit_version"),
        $"action", $"old_o_totalprice".as("old_price"),
        $"new_o_totalprice".as("new_price"))
      .orderBy($"commit_version", $"o_orderkey")
  }

  private val q429Oracle =
    """SELECT o_orderkey, CAST(1 AS BIGINT) AS commit_version,
      |  'insert' AS action, CAST(NULL AS DOUBLE) AS old_price,
      |  o_totalprice AS new_price
      |FROM orders WHERE o_orderkey % 4 = 0
      |UNION ALL
      |SELECT o_orderkey, 2, 'insert', NULL, o_totalprice
      |FROM orders WHERE o_orderkey % 4 = 1
      |UNION ALL
      |SELECT o_orderkey, 3, 'delete', o_totalprice, NULL
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1) AND o_orderpriority = '1-URGENT'
      |ORDER BY commit_version, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q430
  /** SQL `UPDATE … SET … WHERE` on the catalog — group-based
    * copy-on-write row-level operation
    * ([[graft.sources.GraftLogRowLevelOperation]]), the BQ-parity DML
    * the reference's warehouse runs over the loaded table: Spark
    * reads candidate rows through the manifest-backed scan, its
    * runtime group filter prunes the rewrite to files whose key range
    * holds a matched key, and the replacement lands as ONE atomic
    * rewrite commit — old versions keep time-traveling past it
    * (the readback includes the pre-update version to pin that). The
    * ×2 price bump is exact in IEEE doubles, so the oracle replays it
    * in pure SQL. */
  def q430CatalogUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogu_").toString
      TableLog.create(ordersSlice(s, dir).where(col("o_orderkey") % 4 <= 1),
        t, "o_orderkey", numFiles = 4)
      s.sql(
        s"""UPDATE graftlog.`$t`
           |SET o_totalprice = o_totalprice * 2, o_orderstatus = 'U'
           |WHERE pmod(o_orderkey, 10) = 4""".stripMargin)
      t
    }
    val now = s.sql(
      s"""SELECT CAST(2 AS BIGINT) AS version, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table` GROUP BY o_orderstatus""".stripMargin)
    val before = s.sql(
      s"""SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table` VERSION AS OF 1
         |GROUP BY o_orderstatus""".stripMargin)
    before.unionByName(now).orderBy($"version", $"o_orderstatus")
  }

  private val q430Oracle =
    """WITH base AS (
      |  SELECT o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 4 IN (0, 1)),
      |upd AS (
      |  SELECT CASE WHEN o_orderkey % 10 = 4 THEN 'U'
      |              ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 4 IN (0, 1))
      |SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM base GROUP BY 2
      |UNION ALL
      |SELECT 2, o_orderstatus, count(*),
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |FROM upd GROUP BY 2
      |ORDER BY version, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q431
  /** SQL `MERGE INTO` on the catalog — q332's transactional upsert
    * through pure SQL instead of the TableLog.merge API: matched keys
    * take the source row, fresh keys insert, all in ONE rewrite
    * commit whose scan only reads files holding a matched key (the
    * runtime group filter; GraftLogRowLevelSpec pins the file
    * counts). Same change recipe as q332, so it shares that oracle
    * verbatim — the API merge and the SQL MERGE state the same
    * table. */
  def q431CatalogMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogsm_").toString
      val base = ordersSlice(s, dir).where($"o_orderkey" % 4 === 0)
      TableLog.create(base, t, "o_orderkey", numFiles = 4)
      val updates = base.where($"o_orderkey" % 20 === 0)
        .select($"o_orderkey", $"o_custkey", lit("U").as("o_orderstatus"),
          $"o_orderpriority", ($"o_totalprice" * 1.1).as("o_totalprice"))
      val inserts = base.where($"o_orderkey" % 100 === 44)
        .select((-$"o_orderkey" - 1).as("o_orderkey"), $"o_custkey",
          lit("N").as("o_orderstatus"), $"o_orderpriority", $"o_totalprice")
      val view = s"graft_sqlmerge_src_${Integer.toHexString(dir.hashCode)}"
      updates.unionByName(inserts).createOrReplaceTempView(view)
      try s.sql(
        s"""MERGE INTO graftlog.`$t` t USING $view s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      finally s.catalog.dropTempView(view)
      t
    }
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         |  o_totalprice
         |FROM graftlog.`$table` ORDER BY o_orderkey""".stripMargin)
  }

  // ---------------------------------------------------------------- q432
  /** Partitioned CREATE TABLE + partition-pruned read — the
    * Hive-partitioning capability, re-landed Iceberg-style as
    * file-grain manifest stats instead of directories: `PARTITIONED
    * BY (o_orderpriority)` records each file's exact partition-tuple
    * row counts ([[graft.tablelog.TableLog.PartStat]]) at write time,
    * the INSERT's clustered write distribution
    * ([[graft.sources.GraftLogClusteredWrite]]) keeps files
    * tuple-pure, and a partition predicate prunes FILES on the driver
    * before Spark plans the scan — at 100 TB, `WHERE priority = x`
    * reads 1/5th of the table without a directory listing.
    * GraftLogPartitionSpec pins the file-level pruning through the
    * ScanBuilder; this query pins end-to-end correctness (two append
    * commits, IN-filtered partition read) against the source data. */
  private def partitionedDemo(s: SparkSession, dir: String): String =
    partCache.computeIfAbsent(dir, _ => {
      val t = Scratch.dir("graft_tlogpt_").toString + "/tbl"
      val ws = partitionWriteSession(s)
      ws.sql(
        s"""CREATE TABLE graftlog.`$t` (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           |  o_orderpriority STRING, o_totalprice DOUBLE)
           |PARTITIONED BY (o_orderpriority)
           |TBLPROPERTIES ('key' = 'o_orderkey')""".stripMargin)
      ordersSlice(ws, dir).createOrReplaceTempView("src")
      ws.sql(s"""INSERT INTO graftlog.`$t`
                |SELECT * FROM src WHERE o_orderkey % 2 = 0""".stripMargin)
      ws.sql(s"""INSERT INTO graftlog.`$t`
                |SELECT * FROM src WHERE o_orderkey % 2 = 1""".stripMargin)
      t
    })

  /** The session a partitioned table's inserts run on: a clone of `s`
    * with AQE coalescing off (plus `confs`). At demo scale coalescing
    * would merge the clustered write shuffle into one task-file
    * holding every priority (nothing to prune); real partitions dwarf
    * the advisory size, so off reproduces the at-scale layout. */
  private def partitionWriteSession(s: SparkSession,
      confs: (String, String)*): SparkSession =
    GraftSession.scoped(s,
      ("spark.sql.adaptive.coalescePartitions.enabled" -> "false") +: confs: _*)

  def q432PartitionedPrune(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = partitionedDemo(s, dir)
    s.sql(
      s"""SELECT o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table`
         |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  private val q432Oracle =
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q433
  /** The partition-inventory METADATA table
    * (`graftlog.\`<path>#partitions\`` — `SHOW PARTITIONS` as a
    * queryable relation): one row per live partition tuple with its
    * exact row count, folded on the DRIVER from the active files'
    * per-tuple manifest stats — zero data files open at any scale,
    * the same metadata-only posture as `#history` and the q427 stats
    * fold. Exactness holds through the two-commit history because
    * every staged file records its tuples' row counts at write time;
    * the oracle replays the inventory as a plain GROUP BY over the
    * source. */
  def q433PartitionsMeta(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = partitionedDemo(s, dir)
    s.sql(
      s"""SELECT o_orderpriority, row_count
         |FROM graftlog.`$table#partitions`
         |ORDER BY o_orderpriority""".stripMargin)
  }

  private val q433Oracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS row_count
      |FROM orders
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q434
  /** Static `INSERT OVERWRITE … PARTITION (p = v)` — the SQL verb for
    * slice restatement (rounds 5–7 kept replaceWhere API-only because
    * SQL had no verb; partitioned tables give it one): ONE commit in
    * which the named partition's rows die (copy-on-write bounded by
    * partition-tuple stats — only that partition's files are even
    * scanned, GraftLogOverwriteSpec pins untouched partitions keep
    * their exact files) and the restated slice lands. The restatement
    * halves MEDIUM to every-third-order at double price, so the
    * oracle replays an unmistakable delta. */
  def q434InsertOverwrite(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogow_").toString + "/tbl"
      val ws = partitionWriteSession(s)
      ws.sql(
        s"""CREATE TABLE graftlog.`$t` (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           |  o_orderpriority STRING, o_totalprice DOUBLE)
           |PARTITIONED BY (o_orderpriority)
           |TBLPROPERTIES ('key' = 'o_orderkey')""".stripMargin)
      ordersSlice(ws, dir).createOrReplaceTempView("src")
      ws.sql(s"INSERT INTO graftlog.`$t` SELECT * FROM src")
      ws.sql(
        s"""INSERT OVERWRITE graftlog.`$t`
           |PARTITION (o_orderpriority = '3-MEDIUM')
           |SELECT o_orderkey, o_custkey, o_orderstatus,
           |  o_totalprice * 2
           |FROM src
           |WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 3 = 0
           |""".stripMargin)
      t
    }
    s.sql(
      s"""SELECT o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table`
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  private val q434Oracle =
    """WITH restated AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderpriority = '3-MEDIUM'
      |         THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  WHERE o_orderpriority <> '3-MEDIUM'
      |     OR (o_orderpriority = '3-MEDIUM' AND o_orderkey % 3 = 0))
      |SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM restated
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q435
  /** DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`):
    * replace exactly the partitions the incoming data touches, leave
    * the rest alone — the daily-restatement idiom (re-deliver two
    * corrected days without naming them in the statement). WHICH
    * partitions die is decided from the task writers' own per-file
    * tuple stats (driver metadata, no data scan), and the
    * copy-on-write reads only files whose stats hold a doomed tuple.
    * Incoming: URGENT and HIGH restated to every-fifth-order with
    * status 'R'; the other three priorities must come through
    * byte-identical (same files — spec-pinned). */
  def q435DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogdy_").toString + "/tbl"
      // dynamic mode changes only what INSERT OVERWRITE replaces; the
      // first insert appends either way
      val ws = partitionWriteSession(s,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic")
      ws.sql(
        s"""CREATE TABLE graftlog.`$t` (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           |  o_orderpriority STRING, o_totalprice DOUBLE)
           |PARTITIONED BY (o_orderpriority)
           |TBLPROPERTIES ('key' = 'o_orderkey')""".stripMargin)
      ordersSlice(ws, dir).createOrReplaceTempView("src")
      ws.sql(s"INSERT INTO graftlog.`$t` SELECT * FROM src")
      ws.sql(
        s"""INSERT OVERWRITE graftlog.`$t`
           |SELECT o_orderkey, o_custkey, 'R', o_orderpriority,
           |  o_totalprice
           |FROM src
           |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           |  AND o_orderkey % 5 = 0""".stripMargin)
      t
    }
    s.sql(
      s"""SELECT o_orderpriority, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$table`
         |GROUP BY o_orderpriority, o_orderstatus
         |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)
  }

  private val q435Oracle =
    """WITH restated AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |         THEN 'R' ELSE o_orderstatus END AS o_orderstatus
      |  FROM orders
      |  WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |     OR o_orderkey % 5 = 0)
      |SELECT o_orderpriority, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM restated
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q436
  /** SQL `TRUNCATE TABLE` — the logical delete-all as ONE manifest
    * commit removing every active file: data files untouched, so the
    * pre-truncate version still time-travels (read back in-query);
    * vacuum reclaims later under its retention rules. The readout is
    * (version, rows, key_sum) for both eras. */
  def q436Truncate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogtr_").toString
      TableLog.create(ordersSlice(s, dir).where($"o_orderkey" % 4 === 2),
        t, "o_orderkey", numFiles = 4)
      s.sql(s"TRUNCATE TABLE graftlog.`$t`")
      t
    }
    val v1 = s.sql(
      s"""SELECT CAST(1 AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
         |FROM graftlog.`$table` VERSION AS OF 1""".stripMargin)
    val v2 = s.sql(
      s"""SELECT CAST(2 AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
         |FROM graftlog.`$table`""".stripMargin)
    v1.unionByName(v2).orderBy($"version")
  }

  private val q436Oracle =
    """SELECT CAST(1 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 4 = 2
      |UNION ALL
      |SELECT 2, 0, 0
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q437
  /** Registers `catalog` as a warehouse-rooted GraftLogCatalog and
    * returns its root. Spark builds a catalog plugin once per session
    * and it keeps the root it was built with, so the root is chosen at
    * the first call in a session and every later call reuses it. */
  private def warehouseRoot(s: SparkSession, catalog: String): String = {
    val key = s"spark.sql.catalog.$catalog.warehouse"
    s.conf.getOption(key).getOrElse {
      val root = Scratch.dir(s"graft_${catalog}_").toString
      s.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftLogCatalog")
      s.conf.set(key, root)
      root
    }
  }

  /** Drops named warehouse tables left by an earlier call. The catalog
    * refuses DROP TABLE, and a warehouse table is its directory, so the
    * directory goes. */
  private def dropWarehouseTables(root: String, ns: String,
      names: String*): Unit =
    names.foreach(n => org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/$ns/$n")))

  /** Warehouse-rooted NAMED tables — the reference's actual addressing
    * mode: BigQuery users query `project.dataset.table` (the id the
    * reference exports, `terraform/outputs.tf:13-15`), not a
    * filesystem path. With `spark.sql.catalog.<name>.warehouse` set,
    * identifiers resolve `catalog.dataset.table` →
    * `<root>/dataset/table`, `CREATE NAMESPACE` carves a dataset,
    * CTAS lands the load, and SHOW NAMESPACES/TABLES enumerate the
    * tree (spec-pinned) — the full BQ-shaped lifecycle with zero
    * paths in any statement. The readback aggregates through the
    * named table; DuckDB replays from the source. */
  def q437NamedCatalog(s: SparkSession, dir: String): DataFrame = {
    val root = warehouseRoot(s, "graftwh")
    dropWarehouseTables(root, "sales", "orders_t")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftwh.sales")
    val view = s"graft_wh_src_${Integer.toHexString(dir.hashCode)}"
    ordersSlice(s, dir).createOrReplaceTempView(view)
    try s.sql(
      s"""CREATE TABLE graftwh.sales.orders_t
         |TBLPROPERTIES ('key' = 'o_orderkey')
         |AS SELECT * FROM $view WHERE o_orderkey % 4 <= 1""".stripMargin)
    finally s.catalog.dropTempView(view)
    s.sql(
      s"""SELECT o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftwh.sales.orders_t
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  private val q437Oracle =
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |WHERE o_orderkey % 4 <= 1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q441
  /** Chained streaming ETL BY NAME — `readStream.table(src)` →
    * `writeStream.toTable(dst)`: the catalog table is the ONE
    * subscription point for batch and streaming consumers (the same
    * commit-log micro-batch source/sink as q422/q423, reached through
    * names instead of paths — the unification a BQ-shaped user
    * expects). Each chain run moves ONLY the delta (offsets = table
    * versions off the checkpoint) and lands it exactly-once
    * (txnAppId ledger); two inserts + two chain runs here, and a
    * third no-op run proves the checkpoint replays clean. The oracle
    * replays the union of both slices. */
  def q441StreamByName(s: SparkSession, dir: String): DataFrame = {
    val root = warehouseRoot(s, "graftwhq")
    dropWarehouseTables(root, "feed", "src", "dst")
    // a fresh checkpoint per call: the recreated tables restart at v1
    val cp = Scratch.dir("graft_tlogsn_cp_").toString
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftwhq.feed")
    val ddl = """(o_orderkey BIGINT, o_custkey BIGINT,
      |  o_orderstatus STRING, o_orderpriority STRING,
      |  o_totalprice DOUBLE) TBLPROPERTIES ('key' = 'o_orderkey')
      |""".stripMargin
    s.sql(s"CREATE TABLE graftwhq.feed.src $ddl")
    s.sql(s"CREATE TABLE graftwhq.feed.dst $ddl")
    val view = s"graft_sn_src_${Integer.toHexString(dir.hashCode)}"
    ordersSlice(s, dir).createOrReplaceTempView(view)
    def chain(): Unit = {
      val q = s.readStream.table("graftwhq.feed.src")
        .writeStream
        .option("checkpointLocation", cp)
        .option("txnAppId", "q441-chain")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graftwhq.feed.dst")
      q.awaitTermination()
    }
    try {
      s.sql(s"""INSERT INTO graftwhq.feed.src
               |SELECT * FROM $view WHERE o_orderkey % 4 = 0""".stripMargin)
      chain()
      s.sql(s"""INSERT INTO graftwhq.feed.src
               |SELECT * FROM $view WHERE o_orderkey % 4 = 1""".stripMargin)
      chain()
      chain() // no new versions: replays clean, lands nothing
    } finally s.catalog.dropTempView(view)
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftwhq.feed.dst
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q441Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 IN (0, 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q442
  /** `CALL graftlog.restore(table, version)` — the Delta-lineage
    * RESTORE verb over the commit log: create (v1) → append (v2) →
    * SQL DELETE rewrite (v3) → restore to v2 (v4). History moves
    * FORWARD — the restore is its own auditable commit, old versions
    * still time-travel (v3's deleted era is read back in-query), and
    * only the file-set delta re-lists (files alive in both versions
    * never appear in the restore manifest). The readback proves
    * v4 ≡ v2 while v3 differs; DuckDB replays all three eras from
    * the source rows. */
  def q442CatalogRestore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogre_").toString
      TableLog.create(ordersSlice(s, dir).where($"o_orderkey" % 4 === 2),
        t, "o_orderkey", numFiles = 4)
      TableLog.append(ordersSlice(s, dir).where($"o_orderkey" % 4 === 3),
        t, numFiles = 4)
      s.sql(s"DELETE FROM graftlog.`$t` WHERE o_orderkey % 10 < 5")
      s.sql(s"CALL graftlog.restore('$t', 2)")
      t
    }
    def era(v: Long): DataFrame = s.sql(
      s"""SELECT CAST($v AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$table` VERSION AS OF $v""".stripMargin)
    era(2).unionByName(era(3)).unionByName(era(4)).orderBy($"version")
  }

  private val q442Oracle =
    """WITH v2 AS (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey % 4 IN (2, 3)),
      |v3 AS (SELECT o_orderkey FROM v2 WHERE o_orderkey % 10 >= 5)
      |SELECT CAST(2 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM v2
      |UNION ALL SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT) FROM v3
      |UNION ALL SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT) FROM v2
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q444
  /** Tri-clause SQL `MERGE INTO` — the FULL merge grammar BigQuery
    * (the reference's query engine) and Delta both serve, one step
    * past q431's upsert: conditional `WHEN MATCHED AND … UPDATE`,
    * unconditional `WHEN MATCHED DELETE`, `WHEN NOT MATCHED INSERT`,
    * plus BOTH `WHEN NOT MATCHED BY SOURCE` arms (conditional DELETE,
    * fallback UPDATE) in ONE statement = one rewrite commit. The
    * NOT-MATCHED-BY-SOURCE arms make every target row a candidate —
    * Spark correctly plans the full-table copy-on-write instead of a
    * matched-group filter (the price of touch-everything semantics;
    * q431 stays the selective fast path). Readout replays the whole
    * surviving table; DuckDB rebuilds it from the five arms. */
  def q444MergeTriClause(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogtm_").toString
      val base = ordersSlice(s, dir).where($"o_orderkey" % 4 === 1)
      TableLog.create(base, t, "o_orderkey", numFiles = 4)
      val updates = base.where($"o_orderkey" % 3 === 0)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_orderpriority", ($"o_totalprice" * 2).as("o_totalprice"))
      val inserts = base.where($"o_orderkey" % 100 === 45)
        .select((-$"o_orderkey" - 1).as("o_orderkey"), $"o_custkey",
          lit("N").as("o_orderstatus"), $"o_orderpriority", $"o_totalprice")
      val view = s"graft_trimerge_src_${Integer.toHexString(dir.hashCode)}"
      updates.unionByName(inserts).createOrReplaceTempView(view)
      try s.sql(
        s"""MERGE INTO graftlog.`$t` t USING $view s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND t.o_custkey % 2 = 0 THEN
           |  UPDATE SET o_orderstatus = 'M', o_totalprice = s.o_totalprice
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 10 = 5 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN
           |  UPDATE SET o_orderstatus = 'S'""".stripMargin)
      finally s.catalog.dropTempView(view)
      t
    }
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         |  o_totalprice
         |FROM graftlog.`$table` ORDER BY o_orderkey""".stripMargin)
  }

  private val q444Oracle =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
      |    o_totalprice
      |  FROM orders WHERE o_orderkey % 4 = 1),
      |msrc AS (
      |  SELECT o_orderkey, o_totalprice * 2 AS sp
      |  FROM base WHERE o_orderkey % 3 = 0)
      |SELECT * FROM (
      |  SELECT b.o_orderkey, b.o_custkey, 'M' AS o_orderstatus,
      |    b.o_orderpriority, m.sp AS o_totalprice
      |  FROM base b JOIN msrc m ON m.o_orderkey = b.o_orderkey
      |  WHERE b.o_custkey % 2 = 0
      |  UNION ALL
      |  SELECT b.o_orderkey, b.o_custkey, 'S', b.o_orderpriority,
      |    b.o_totalprice
      |  FROM base b LEFT JOIN msrc m ON m.o_orderkey = b.o_orderkey
      |  WHERE m.o_orderkey IS NULL AND b.o_orderkey % 10 <> 5
      |  UNION ALL
      |  SELECT -o_orderkey - 1, o_custkey, 'N', o_orderpriority,
      |    o_totalprice
      |  FROM base WHERE o_orderkey % 100 = 45)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q445
  /** Storage-partitioned join — the 100-TB shuffle eliminator: two
    * catalog tables partitioned on the same column join on it with
    * ZERO exchange under `spark.sql.sources.v2.bucketing.enabled`,
    * because the scan reports `KeyGroupedPartitioning` (one input
    * partition per live tuple; the sink's concurrent per-tuple file
    * writers make every file tuple-pure by construction, so the
    * report is always sound). Fact side: an orders slice partitioned
    * by o_orderpriority; joined side: a per-priority weight table in
    * the same layout. The readout keys sums by priority in exact
    * BIGINTs; GraftLogPartitionSpec pins the exchange-free plan, this
    * query pins values cross-engine. The tables are built and joined
    * on a session scoped to v2 bucketing on. */
  def q445StoragePartitionedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val js = GraftSession.scoped(s, "spark.sql.sources.v2.bucketing.enabled" -> "true")
    val (fact, dim) = {
      val f = Scratch.dir("graft_tlogsp_").toString + "/fact"
      val d = Scratch.dir("graft_tlogsp_").toString + "/dim"
      js.sql(
        s"""CREATE TABLE graftlog.`$f` (
           |  o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
           |PARTITIONED BY (o_orderpriority)
           |TBLPROPERTIES ('key' = 'o_orderkey')""".stripMargin)
      js.sql(
        s"""CREATE TABLE graftlog.`$d` (
           |  w_key BIGINT, o_orderpriority STRING, weight BIGINT)
           |PARTITIONED BY (o_orderpriority)
           |TBLPROPERTIES ('key' = 'w_key')""".stripMargin)
      ordersSlice(js, dir).where($"o_orderkey" % 4 === 2)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
        .createOrReplaceTempView("fact_src")
      ordersSlice(js, dir).select($"o_orderpriority").distinct()
        .select(ascii(substring($"o_orderpriority", 1, 1)).cast("long")
            .as("w_key"),
          $"o_orderpriority",
          (ascii(substring($"o_orderpriority", 1, 1)) % 7 + 1).cast("long")
            .as("weight"))
        .createOrReplaceTempView("dim_src")
      js.sql(s"INSERT INTO graftlog.`$f` SELECT * FROM fact_src")
      js.sql(s"INSERT INTO graftlog.`$d` SELECT * FROM dim_src")
      (f, d)
    }
    js.sql(
      s"""SELECT f.o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(f.o_orderkey * d.weight) AS BIGINT) AS weighted_keys
         |FROM graftlog.`$fact` f JOIN graftlog.`$dim` d
         |  ON f.o_orderpriority = d.o_orderpriority
         |GROUP BY f.o_orderpriority ORDER BY f.o_orderpriority""".stripMargin)
  }

  private val q445Oracle =
    """WITH fact AS (
      |  SELECT o_orderkey, o_orderpriority FROM orders
      |  WHERE o_orderkey % 4 = 2),
      |dim AS (
      |  SELECT o_orderpriority,
      |    CAST(ascii(substring(o_orderpriority, 1, 1)) % 7 + 1 AS BIGINT)
      |      AS weight
      |  FROM (SELECT DISTINCT o_orderpriority FROM orders))
      |SELECT f.o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(f.o_orderkey * d.weight) AS BIGINT) AS weighted_keys
      |FROM fact f JOIN dim d ON f.o_orderpriority = d.o_orderpriority
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q446
  /** Non-key data skipping (the Delta/Iceberg column-stats device):
    * every commit records per-file min/max for up to 32 non-key
    * columns (integral/double/string; strings bounded at 32 chars
    * with the upper bound rounded up), and comparison predicates on
    * ANY such column prune FILES from the manifest alone — before
    * this layer, only key/bloom/partition predicates skipped files,
    * and `WHERE o_totalprice > x` opened everything. The demo table
    * z-orders its files on (o_custkey, o_orderkey) — q351's layout
    * verb — so a custkey range predicate, NOT the key, skips files
    * via the recorded custkey bounds; the catalog spec pins the file
    * counts, this query pins rows cross-engine. */
  def q446ColumnStatsSkip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogcs_").toString
      TableLog.create(ordersSlice(s, dir).where($"o_orderkey" % 4 === 3),
        t, "o_orderkey", numFiles = 8)
      TableLog.compactZorder(s, t, "o_custkey", "o_orderkey", numFiles = 8)
      t
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$table`
         |WHERE o_custkey > 300 AND o_custkey <= 600
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q446Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |WHERE o_orderkey % 4 = 3 AND o_custkey > 300 AND o_custkey <= 600
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q449
  /** `CALL graftlog.clone(src, dst)` — shallow clone, the zero-copy
    * table fork (Delta's CLONE lineage): dst's v1 references src's
    * files by relative path, no data bytes move (at 100 TB a clone is
    * one driver-side manifest write), then the two histories DIVERGE —
    * the clone deletes a slice and appends fresh rows while the source
    * stays byte-identical (read back in-query to prove isolation), and
    * the clone's own rewrites land in its own data dir. DuckDB replays
    * both lineages from the source rows. */
  def q449ShallowClone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val (src, dst) = {
      val a = Scratch.dir("graft_tlogcl_").toString + "/src"
      val b = Scratch.dir("graft_tlogcl_").toString + "/dst"
      TableLog.create(ordersSlice(s, dir).where($"o_orderkey" % 8 === 6),
        a, "o_orderkey", numFiles = 4)
      s.sql(s"CALL graftlog.clone('$a', '$b')")
      s.sql(s"DELETE FROM graftlog.`$b` WHERE o_orderkey % 10 < 3")
      val v = s"graft_clone_ins_${Integer.toHexString(dir.hashCode)}"
      ordersSlice(s, dir).where($"o_orderkey" % 8 === 6)
        .select((-$"o_orderkey" - 1).as("o_orderkey"), $"o_custkey",
          $"o_orderstatus", $"o_orderpriority", $"o_totalprice")
        .where($"o_custkey" % 5 === 0)
        .createOrReplaceTempView(v)
      try s.sql(s"INSERT INTO graftlog.`$b` SELECT * FROM $v")
      finally s.catalog.dropTempView(v)
      (a, b)
    }
    def era(tag: String, t: String): DataFrame = s.sql(
      s"""SELECT '$tag' AS side, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$t`""".stripMargin)
    era("clone", dst).unionByName(era("source", src)).orderBy($"side")
  }

  private val q449Oracle =
    """WITH src AS (
      |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 8 = 6),
      |cl AS (
      |  SELECT o_orderkey FROM src WHERE o_orderkey % 10 >= 3
      |  UNION ALL
      |  SELECT -o_orderkey - 1 FROM src WHERE o_custkey % 5 = 0)
      |SELECT 'clone' AS side, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum FROM cl
      |UNION ALL
      |SELECT 'source', CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT) FROM src
      |ORDER BY side""".stripMargin

  // ---------------------------------------------------------------- q451
  /** `SELECT … FROM graft_table_changes('<path>', from, to)` — the
    * change feed as a TABLE-VALUED FUNCTION (Delta's `table_changes`
    * shape, injected through Spark's public
    * `SparkSessionExtensions.injectTableFunction` hook): q336's
    * change-exact diff, now reachable from pure SQL FROM-clause
    * position with the version window as arguments — the surface the
    * parameterless `#history`/`#partitions` metadata tables can't
    * express. Same demo table and change recipe as q336, so it shares
    * that oracle verbatim: the API diff and the SQL TVF must state
    * the same rows. */
  def q451TableChangesTvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.GraftFunctions.install(s)
    val table = demoTable(s, dir)
    s.sql(
      s"""SELECT o_orderkey, action, old_o_orderstatus, old_o_totalprice
         |FROM graft_table_changes('$table', 3, 5)
         |ORDER BY o_orderkey""".stripMargin)
  }

  // ---------------------------------------------------------------- q454
  /** DELETION VECTORS — merge-on-read delete (Delta/Iceberg-v2's DV
    * lineage) through `CALL graftlog.delete_dv`: two successive
    * deletes record dead row POSITIONS in bitset sidecars (the second
    * unions into a fresh token), data files never rewrite, named
    * reads subtract the dead set via one broadcast anti-join on
    * parquet's row index, `count(*)` still folds exactly from the
    * manifest (live rows), and the pre-delete era still time-travels.
    * At 100 TB: a 0.1% GDPR/dedup-kill-list delete costs one candidate
    * scan + KB sidecars instead of rewriting every touched file. The
    * readout replays all three eras; DuckDB rebuilds them from the
    * source rows. */
  def q454DeletionVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = dvTable(s, dir)
    def era(v: Long): DataFrame = s.sql(
      s"""SELECT CAST($v AS BIGINT) AS version, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$table` VERSION AS OF $v
         |GROUP BY o_orderstatus""".stripMargin)
    era(1).unionByName(era(2)).unionByName(era(3))
      .orderBy($"version", $"o_orderstatus")
  }

  /** q454's three-era table (create, then two `delete_dv` calls),
    * shared read-only with q456. Registers the `graftlog` catalog
    * both readers address it through. */
  private def dvTable(s: SparkSession, dir: String): String = {
    withCatalog(s)
    dvCache.computeIfAbsent(dir, _ => {
      val t = Scratch.dir("graft_tlogdv_").toString
      TableLog.create(ordersSlice(s, dir).where(col("o_orderkey") % 8 === 1),
        t, "o_orderkey", numFiles = 4)
      s.sql(s"CALL graftlog.delete_dv('$t', 'o_custkey % 7 = 0')")
      s.sql(
        s"CALL graftlog.delete_dv('$t', \"o_orderstatus = 'F' AND " +
          "o_orderkey % 5 = 1\")")
      t
    })
  }

  private val q454Oracle =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 8 = 1),
      |v2 AS (SELECT * FROM v1 WHERE o_custkey % 7 <> 0),
      |v3 AS (SELECT * FROM v2
      |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 1))
      |SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM v1 GROUP BY 2
      |UNION ALL SELECT 2, o_orderstatus, CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT) FROM v2 GROUP BY 2
      |UNION ALL SELECT 3, o_orderstatus, CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT) FROM v3 GROUP BY 2
      |ORDER BY version, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q455
  /** Merge-on-read UPDATE ([[TableLog.updateWhereDv]]) — deletion
    * vectors + fresh-file append in ONE atomic commit, Iceberg v2's
    * position-delete update shape: the matched slice's old images die
    * by position (their files never rewrite), the updated images land
    * as new files, and total rows conserve. The readout replays both
    * eras; the oracle rebuilds them from source rows. */
  def q455MorUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogmu_").toString
      TableLog.create(ordersSlice(s, dir).where($"o_orderkey" % 8 === 5),
        t, "o_orderkey", numFiles = 4)
      TableLog.updateWhereDv(s, t, $"o_custkey" % 9 === 2,
        Map("o_orderstatus" -> lit("U"),
          "o_totalprice" -> ($"o_totalprice" * 3)), numFiles = 2)
      t
    }
    def era(v: Long): DataFrame = s.sql(
      s"""SELECT CAST($v AS BIGINT) AS version, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$table` VERSION AS OF $v
         |GROUP BY o_orderstatus""".stripMargin)
    era(1).unionByName(era(2)).orderBy($"version", $"o_orderstatus")
  }

  private val q455Oracle =
    """WITH v1 AS (
      |  SELECT o_custkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 8 = 5),
      |v2 AS (
      |  SELECT CASE WHEN o_custkey % 9 = 2 THEN 'U'
      |              ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_custkey % 9 = 2 THEN o_totalprice * 3
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM v1)
      |SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |    AS sum_price
      |FROM v1 GROUP BY 2
      |UNION ALL SELECT 2, o_orderstatus, CAST(count(*) AS BIGINT),
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |FROM v2 GROUP BY 2
      |ORDER BY version, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q456
  /** `#detail` — the one-row table card (Delta's DESCRIBE DETAIL
    * shape) folded from the manifest alone, composing with VERSION AS
    * OF: reading it across q454's three eras pins that live/dead row
    * accounting tracks the deletion vectors exactly, with zero data
    * files opened at any version. The oracle replays the live counts
    * from the source rows; file counts and declared columns are
    * spec-pinned (DuckDB cannot see manifests). */
  def q456TableDetail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = dvTable(s, dir)
    (1L to 3L).map { v =>
      s.sql(
        s"""SELECT version, live_rows
           |FROM graftlog.`$table#detail` VERSION AS OF $v""".stripMargin)
    }.reduce(_ unionByName _).orderBy($"version")
  }

  private val q456Oracle =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 8 = 1),
      |v2 AS (SELECT * FROM v1 WHERE o_custkey % 7 <> 0),
      |v3 AS (SELECT * FROM v2
      |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 1))
      |SELECT CAST(1 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS live_rows FROM v1
      |UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM v2
      |UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM v3
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q458
  /** Persistent TBLPROPERTIES gating DML behavior — the Delta/Iceberg
    * table-property convention on this log: CREATE declares
    * `'delete.mode' = 'merge-on-read'` (persisted in the manifest,
    * SHOW TBLPROPERTIES reads it back), and a PLAIN SQL `DELETE FROM`
    * then takes the deletion-vector path — dead positions in sidecars,
    * zero file rewrites — while partitioned or un-gated tables keep
    * copy-on-write. The readout replays both eras through time travel;
    * the spec pins the no-rewrite physics and the UNSET round-trip. */
  def q458MorDeleteSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val table = {
      val t = Scratch.dir("graft_tlogms_").toString + "/tbl"
      s.sql(
        s"""CREATE TABLE graftlog.`$t` (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           |  o_orderpriority STRING, o_totalprice DOUBLE)
           |TBLPROPERTIES ('key' = 'o_orderkey',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      val v = s"graft_mor_src_${Integer.toHexString(dir.hashCode)}"
      ordersSlice(s, dir).where($"o_orderkey" % 8 === 7)
        .createOrReplaceTempView(v)
      try s.sql(s"INSERT INTO graftlog.`$t` SELECT * FROM $v")
      finally s.catalog.dropTempView(v)
      s.sql(s"DELETE FROM graftlog.`$t` WHERE o_custkey % 6 = 1")
      t
    }
    def era(v: Long): DataFrame = s.sql(
      s"""SELECT CAST($v AS BIGINT) AS version, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$table` VERSION AS OF $v
         |GROUP BY o_orderstatus""".stripMargin)
    era(2).unionByName(era(3)).orderBy($"version", $"o_orderstatus")
  }

  private val q458Oracle =
    """WITH v2 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 8 = 7),
      |v3 AS (SELECT * FROM v2 WHERE o_custkey % 6 <> 1)
      |SELECT CAST(2 AS BIGINT) AS version, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM v2 GROUP BY 2
      |UNION ALL SELECT 3, o_orderstatus, CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT) FROM v3 GROUP BY 2
      |ORDER BY version, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q459
  /** `option("skipChangeCommits", "true")` on the appends-only stream
    * (Delta's option, same name and contract): rewrite commits DROP
    * from the feed wholesale instead of failing it — the consumer
    * accepts missing the rewrites' row changes to keep a long-lived
    * subscription alive across maintenance DML. Here the window holds
    * create → COW delete → append: the stream emits v1's and v3's
    * rows exactly (v2's rewritten survivors never double-count), and
    * the oracle replays that contract — deleted rows still appear
    * (their insert predates the skipped delete), fresh rows follow. */
  def q459SkipChangeCommits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sinkName = {
      val t = Scratch.dir("graft_tlogsc_").toString
      val cp = Scratch.dir("graft_tlogsc_cp_").toString
      val name = s"q459_skipcc_${Integer.toHexString(dir.hashCode)}"
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where(col("o_orderkey") % 8 === 3), t,
        "o_orderkey", numFiles = 2)                                    // v1
      TableLog.deleteWhere(s, t,
        col("o_orderpriority") === "5-LOW", numFiles = 2)              // v2
      TableLog.append(slice.where(col("o_orderkey") % 8 === 4)
        .select((-$"o_orderkey" - 1).as("o_orderkey"), $"o_custkey",
          $"o_orderstatus", $"o_orderpriority", $"o_totalprice"), t,
        numFiles = 2)                                                  // v3
      val q = s.readStream
        .format("graft.sources.GraftLogStreamProvider")
        .option("path", t).option("skipChangeCommits", "true").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", cp)
        .start()
      q.processAllAvailable()
      q.stop()
      name
    }
    s.table(sinkName)
      .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  private val q459Oracle =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority
      |FROM orders WHERE o_orderkey % 8 = 3
      |UNION ALL
      |SELECT -o_orderkey - 1, o_orderstatus, o_orderpriority
      |FROM orders WHERE o_orderkey % 8 = 4
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q460
  /** BUCKETED storage-partitioned join — zero-shuffle joins ON THE
    * KEY itself (the Iceberg bucket-SPJ shape, one step past q445's
    * partition-column joins): both tables declare
    * `TBLPROPERTIES('bucket.count'='8')`, the write path routes every
    * row to its key-bucket file (files are bucket-pure by
    * construction, `__bucket` purity stats prove it), the scans report
    * `KeyGroupedPartitioning(bucket(8, key))` resolved through the
    * catalog's own `bucket` function, and under v2 bucketing the
    * fact-to-fact key join plans with NO exchange — at 100 TB this
    * deletes the single most expensive shuffle there is. Plan pinned
    * by spec; this query pins values cross-engine. The tables are
    * built and joined on a session scoped to v2 bucketing on. */
  def q460BucketedKeyJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val js = GraftSession.scoped(s, "spark.sql.sources.v2.bucketing.enabled" -> "true")
    val (t1, t2) = {
      val a = Scratch.dir("graft_tlogbk_").toString + "/a"
      val b = Scratch.dir("graft_tlogbk_").toString + "/b"
      js.sql(
        s"""CREATE TABLE graftlog.`$a` (o_orderkey BIGINT,
           |  o_totalprice DOUBLE)
           |TBLPROPERTIES ('key' = 'o_orderkey', 'bucket.count' = '8')
           |""".stripMargin)
      js.sql(
        s"""CREATE TABLE graftlog.`$b` (o_orderkey BIGINT,
           |  o_custkey BIGINT, o_orderstatus STRING)
           |TBLPROPERTIES ('key' = 'o_orderkey', 'bucket.count' = '8')
           |""".stripMargin)
      ordersSlice(js, dir).where($"o_orderkey" % 4 === 2)
        .select($"o_orderkey", $"o_totalprice")
        .createOrReplaceTempView("a_src")
      ordersSlice(js, dir).where($"o_orderkey" % 8 === 2)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
        .createOrReplaceTempView("b_src")
      js.sql(s"INSERT INTO graftlog.`$a` SELECT * FROM a_src")
      js.sql(s"INSERT INTO graftlog.`$b` SELECT * FROM b_src")
      (a, b)
    }
    js.sql(
      s"""SELECT b.o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(a.o_orderkey * b.o_custkey) AS BIGINT) AS cross_sum
         |FROM graftlog.`$t1` a JOIN graftlog.`$t2` b
         |  ON a.o_orderkey = b.o_orderkey
         |GROUP BY b.o_orderstatus ORDER BY b.o_orderstatus""".stripMargin)
  }

  private val q460Oracle =
    """SELECT b.o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(a.o_orderkey * b.o_custkey) AS BIGINT) AS cross_sum
      |FROM (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 2) a
      |JOIN (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |      WHERE o_orderkey % 8 = 2) b
      |  ON a.o_orderkey = b.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q461
  /** HIDDEN temporal partitioning — `PARTITIONED BY (days(ts))`
    * (Iceberg's transform partitioning, the standard layout for the
    * reference's own ever-growing timestamped table shape, reference
    * `terraform/main.tf:63-102`): partition values are the UTC days
    * of the raw timestamp, recorded per file in the manifest; a raw
    * `WHERE ts >= … AND ts < …` range — no materialized date column
    * anywhere — prunes files THROUGH the transform before Spark plans
    * the scan (GraftLogPartitionSpec pins the file counts; this query
    * pins values cross-engine). At 100 TB restating or scanning ten
    * days of an events table reads ten days' files, not the table. */
  def q461DaysPartitionedEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogdy_").toString + "/ev"
      s.sql(
        s"""CREATE TABLE graftlog.`$path` (event_id BIGINT, ts TIMESTAMP,
           |  event_type STRING, value DOUBLE)
           |PARTITIONED BY (days(ts))
           |TBLPROPERTIES ('key' = 'event_id')""".stripMargin)
      val v = s"graft_days_ev_${Integer.toHexString(dir.hashCode)}"
      Tables.events(s, dir)
        .select($"event_id", $"ts", $"event_type", $"value")
        .createOrReplaceTempView(v)
      try s.sql(s"INSERT INTO graftlog.`$path` SELECT * FROM $v")
      finally s.catalog.dropTempView(v)
      path
    }
    s.sql(
      s"""SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM graftlog.`$t`
         |WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP'2024-01-20 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  private val q461Oracle =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q462
  /** `ALTER TABLE … RENAME COLUMN` through the COLUMN MAPPING (the
    * Delta column-mapping lineage): one metadata commit renames the
    * logical schema and points the new name at the old PHYSICAL name —
    * zero data files rewrite at any table size. The query reads BOTH
    * eras: VERSION AS OF 1 answers under the old name (the old map
    * replays with the old schema), the latest snapshot under the new
    * one, and an INSERT + DELETE after the rename prove DML composes
    * with the mapping. The oracle replays each era as the pure SQL
    * its history implies. */
  def q462RenameColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogrn_").toString + "/t"
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where($"o_orderkey" % 4 === 0)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice"),
        path, "o_orderkey", numFiles = 2)                            // v1
      s.sql(s"ALTER TABLE graftlog.`$path` " +
        "RENAME COLUMN o_totalprice TO price")                       // v2
      val v = s"graft_rn_src_${Integer.toHexString(dir.hashCode)}"
      slice.where($"o_orderkey" % 8 === 1)
        .select($"o_orderkey", $"o_orderstatus",
          $"o_totalprice".as("price"))
        .createOrReplaceTempView(v)
      try s.sql(s"INSERT INTO graftlog.`$path` SELECT * FROM $v")    // v3
      finally s.catalog.dropTempView(v)
      s.sql(s"DELETE FROM graftlog.`$path` WHERE price < 1000.0")    // v4
      path
    }
    val now = s.sql(
      s"""SELECT CAST(2 AS BIGINT) AS era, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         |FROM graftlog.`$t` GROUP BY o_orderstatus""".stripMargin)
    val era1 = s.sql(
      s"""SELECT CAST(1 AS BIGINT) AS era, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$t` VERSION AS OF 1
         |GROUP BY o_orderstatus""".stripMargin)
    era1.unionByName(now).orderBy($"era", $"o_orderstatus")
  }

  private val q462Oracle =
    """SELECT CAST(1 AS BIGINT) AS era, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders WHERE o_orderkey % 4 = 0
      |GROUP BY o_orderstatus
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS era, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE (o_orderkey % 4 = 0 OR o_orderkey % 8 = 1)
      |  AND o_totalprice >= 1000.0
      |GROUP BY o_orderstatus
      |ORDER BY era, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q463
  /** `ALTER TABLE … DROP COLUMN` through the column mapping: one
    * metadata commit narrows the logical schema; the physical column
    * stays in the old files UNREAD (its name tombstoned against
    * resurrection), and a later ADD COLUMN of a fresh name null-fills
    * — the full BigQuery-style evolve-narrow-evolve cycle without a
    * single rewrite. VERSION AS OF 1 still reads the dropped column:
    * history is immutable under metadata evolution too. */
  def q463DropColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogdc_").toString + "/t"
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where($"o_orderkey" % 4 === 2)
        .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority",
          $"o_totalprice"),
        path, "o_orderkey", numFiles = 2)                            // v1
      s.sql(s"ALTER TABLE graftlog.`$path` DROP COLUMN o_orderpriority")
      s.sql(s"ALTER TABLE graftlog.`$path` ADD COLUMN note STRING")  // v3
      path
    }
    val now = s.sql(
      s"""SELECT CAST(2 AS BIGINT) AS era, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(count(note) AS BIGINT) AS n_notes
         |FROM graftlog.`$t` GROUP BY o_orderstatus""".stripMargin)
    val era1 = s.sql(
      s"""SELECT CAST(1 AS BIGINT) AS era, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
         |    AS BIGINT) AS n_notes
         |FROM graftlog.`$t` VERSION AS OF 1
         |GROUP BY o_orderstatus""".stripMargin)
    era1.unionByName(now).orderBy($"era", $"o_orderstatus")
  }

  private val q463Oracle =
    """SELECT CAST(1 AS BIGINT) AS era, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
      |    AS BIGINT) AS n_notes
      |FROM orders WHERE o_orderkey % 4 = 2
      |GROUP BY o_orderstatus
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS era, o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(0 AS BIGINT) AS n_notes
      |FROM orders WHERE o_orderkey % 4 = 2
      |GROUP BY o_orderstatus
      |ORDER BY era, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q466
  /** STREAMING ingest into a HIDDEN-partitioned table — q423's
    * exactly-once sink landing on q461's `days(ts)` layout: the DSv2
    * task writers route every row to its UTC-day file as it streams
    * (one open file per live day per task, tuple-pure by
    * construction), the manifest records day-grain tuple stats per
    * micro-batch commit, and a raw `WHERE ts` range on the result
    * prunes files with no date column ever materialized — the
    * reference's own cadence (timestamped batches appended forever,
    * `terraform/cloud_scheduler.tf:4`) landed in the layout a 100-TB
    * events table actually needs. Exactly-once via the txn ledger;
    * the oracle replays the streamed slice from the source parquet. */
  def q466DaysStreamIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val root = Scratch.dir("graft_tlogds_").toString
      val path = s"$root/ev"
      s.sql(
        s"""CREATE TABLE graftlog.`$path` (event_id BIGINT, ts TIMESTAMP,
           |  event_type STRING, value DOUBLE)
           |PARTITIONED BY (days(ts))
           |TBLPROPERTIES ('key' = 'event_id')""".stripMargin)
      val landing = s"$root/land"
      val src = Tables.events(s, dir)
        .select($"event_id", $"ts", $"event_type", $"value")
        .where($"event_id" % 2 === 0)
      src.write.parquet(landing)
      val q = s.readStream.schema(src.schema).parquet(landing)
        .writeStream.format("graft.sources.GraftLogStreamProvider")
        .option("path", path).option("txnAppId", "q466-ingest")
        .option("checkpointLocation", s"$root/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      path
    }
    s.sql(
      s"""SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM graftlog.`$t`
         |WHERE ts >= TIMESTAMP'2024-01-05 00:00:00'
         |  AND ts < TIMESTAMP'2024-01-12 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  private val q466Oracle =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_id % 2 = 0
      |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q468
  /** GDPR RIGHT-TO-BE-FORGOTTEN erasure, end to end — the composite
    * every data-subject-request pipeline runs: a user-keyed DELETE on
    * a BLOOM-INDEXED non-key column, routed merge-on-read
    * (`delete.mode`), with the candidate scan pruned by the bloom
    * sidecars ([[GraftLogTable.deletePrune]] — at 100 TB the erasure
    * reads only files that might hold the user, writes KB-scale
    * deletion vectors, rewrites nothing), and the CHANGE FEED as the
    * compliance audit trail: the diff across the erasure commit
    * enumerates exactly the erased rows. The readout pins both sides
    * — the surviving table and the `__erased` audit row — against an
    * oracle that replays the erasure in pure SQL. */
  def q468GdprErasure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tloggd_").toString + "/t"
      val slice = ordersSlice(s, dir).where($"o_orderkey" % 4 === 1)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
      TableLog.create(slice, path, "o_orderkey", numFiles = 4,
        bloomCol = Some("o_custkey"))                                // v1
      TableLog.setProps(path, Map("delete.mode" -> "merge-on-read")) // v2
      // the data subject: deterministic, SQL-expressible (min custkey)
      val victim = slice.agg(min($"o_custkey")).collect().head.getLong(0)
      s.sql(s"DELETE FROM graftlog.`$path` WHERE o_custkey = $victim") // v3
      path
    }
    val now = s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$t` GROUP BY o_orderstatus""".stripMargin)
    // audit trail: the change feed across the erasure commit IS the
    // compliance record — exactly the erased rows, nothing else
    val audit = TableLog.diffVersions(s, t, 2L, 3L)
      .where($"action" === "delete")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_orderkey").as("key_sum"))
      .select(lit("__erased").as("o_orderstatus"),
        $"n_orders", $"key_sum")
    now.unionByName(audit).orderBy($"o_orderstatus")
  }

  private val q468Oracle =
    """WITH sl AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 4 = 1),
      |v AS (SELECT min(o_custkey) AS victim FROM sl)
      |SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM sl, v WHERE o_custkey <> victim
      |GROUP BY o_orderstatus
      |UNION ALL
      |SELECT '__erased',
      |  CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
      |FROM sl, v WHERE o_custkey = victim
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q470
  /** `CALL graftlog.compact_small` — OPTIMIZE's binpack shape on the
    * SQL surface: after a create (one well-sized file) plus a run of
    * tiny appends (the streaming-debt shape), the fold rewrites ONLY
    * the debt; the original file survives BY IDENTITY (pinned via
    * `#detail`'s file count: 1 big + 1 folded), and the logical
    * contents are untouched — the oracle replays them as the pure SQL
    * the history implies, compaction invisible. At 100 TB this verb
    * is the housekeeping loop: daily debt folds daily, the bulk is
    * never re-priced. */
  def q470CompactSmallSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogcs_").toString + "/t"
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where($"o_orderkey" % 4 === 3)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice"),
        path, "o_orderkey", numFiles = 1)                            // v1 big
      (0 until 5).foreach { j =>                                     // debt
        TableLog.append(slice.where($"o_orderkey" % 32 === (j * 4).toLong)
          .select(($"o_orderkey" + 10000000L).as("o_orderkey"),
            $"o_orderstatus", $"o_totalprice"), path, numFiles = 1)
      }
      val big = java.nio.file.Files.size(java.nio.file.Paths.get(path,
        TableLog.state(path).active.maxBy(_.rows).relPath))
      s.sql(s"CALL graftlog.compact_small('$path', ${big}L, 1)")
      path
    }
    // the fold is physical only: 2 live files, logical rows exact
    val files = s.sql(s"SELECT n_files FROM graftlog.`$t#detail`")
      .collect().head.getLong(0)
    require(files == 2L, s"expected 1 big + 1 folded file, got $files")
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$t`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q470Oracle =
    """WITH rows_all AS (
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 4 = 3
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_orderstatus FROM orders, (
      |    SELECT unnest([0, 4, 8, 12, 16]) AS m)
      |  WHERE o_orderkey % 32 = m)
      |SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM rows_all GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q476
  /** [NS] JOIN-SKEW advisor — q389's advisory discipline turned on
    * the OTHER scale killer: a shuffle key whose share exceeds 1/P of
    * the rows starves the stage (one task owns the key's whole
    * partition regardless of cluster size — AQE's skew-join split
    * handles sort-merge joins, but aggregations and stateful stages
    * still need SALTING). The advisor reports every key whose exact
    * count exceeds rows/P, with the salt factor that levels it:
    * ceil(count × P / total) sub-keys bring the hottest partition
    * back to the average. A hot key is planted (every third user
    * folds into key 0 — the power-law head every event stream has)
    * so the advisory provably fires; exact integer shares, one
    * key-grain aggregation. */
  val skewParallelism = 32L

  def q476SkewAdvisor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = Tables.events(s, dir)
      .select(when(pmod($"user_id", lit(3)) === 0, 0L)
        .otherwise($"user_id").as("user_key"))
    val p = skewParallelism
    // ONE corpus pass: the total folds from the already-aggregated
    // key-grain frame (sum of per-key counts ≡ row count) and rides a
    // 1-row broadcast — the q152 device; both branches share the same
    // groupBy exchange, so the corpus scan is not repeated
    val grouped = keyed.groupBy($"user_key").agg(count(lit(1)).as("n_rows"))
    val total = grouped.agg(sum($"n_rows").as("total"))
    grouped.crossJoin(broadcast(total))
      .where($"n_rows" * p > $"total")
      .select($"user_key", $"n_rows",
        expr("(n_rows * 1000000) div total").as("share_ppm"),
        expr(s"(n_rows * $p + total - 1) div total").as("salt_factor"))
      .orderBy($"user_key")
  }

  private val q476Oracle =
    s"""WITH keyed AS (
       |  SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END
       |    AS user_key
       |  FROM events),
       |t AS (SELECT count(*) AS total FROM keyed)
       |SELECT user_key, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST((count(*) * 1000000) // t.total AS BIGINT) AS share_ppm,
       |  CAST((count(*) * $skewParallelism + t.total - 1) // t.total
       |    AS BIGINT) AS salt_factor
       |FROM keyed, t GROUP BY user_key, t.total
       |HAVING count(*) * $skewParallelism > t.total
       |ORDER BY user_key""".stripMargin

  // ---------------------------------------------------------------- q477
  /** CHECK CONSTRAINTS (Spark 4.1 DSv2 constraints + the Delta CHECK
    * lineage): `ALTER TABLE … ADD CONSTRAINT … CHECK (expr)` persists
    * in the manifest, existing rows validate ONCE at declaration, and
    * every later INSERT/UPDATE/MERGE validates through Spark's own
    * enforcement rule — a violating INSERT throws BEFORE a row lands
    * and the version does not move (pinned in-query: the bad insert
    * is attempted and must fail). The oracle replays only the
    * surviving writes. Data quality as a TABLE property, not a
    * pipeline convention — the gate travels with the table. */
  def q477CheckConstraint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogck_").toString + "/t"
      val slice = ordersSlice(s, dir)
      TableLog.create(slice.where($"o_orderkey" % 4 === 0)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice"),
        path, "o_orderkey", numFiles = 2)                            // v1
      s.sql(s"ALTER TABLE graftlog.`$path` ADD CONSTRAINT " +
        "price_positive CHECK (o_totalprice > 0.0)")                 // v2
      val v = s"graft_ck_src_${Integer.toHexString(dir.hashCode)}"
      slice.where($"o_orderkey" % 8 === 1)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .createOrReplaceTempView(v)
      try s.sql(s"INSERT INTO graftlog.`$path` SELECT * FROM $v")    // v3
      finally s.catalog.dropTempView(v)
      val before = TableLog.latestVersion(path)
      val bad = try {
        s.sql(s"INSERT INTO graftlog.`$path` " +
          "VALUES (999999999, 'X', -1.0)")
        false
      } catch { case _: Exception => true }
      require(bad && TableLog.latestVersion(path) == before,
        "violating insert must fail without committing")
      path
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$t`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q477Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 = 0 OR o_orderkey % 8 = 1
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q481
  /** `ALTER TABLE … ADD COLUMN x DEFAULT lit` + `ALTER COLUMN … TYPE
    * BIGINT` — metadata-only schema evolution beyond nullable adds
    * (the Delta/Iceberg initial-default + type-widening shapes,
    * [[TableLog.evolveSchemaDefault]] / [[TableLog.widenColumn]]):
    * CREATE narrow with an INT column, INSERT a slice, ADD a
    * defaulted BIGINT column (ZERO files move — pre-declaration rows
    * answer the default through the parquet readers' EXISTS_DEFAULT
    * resolution), WIDEN the INT column to BIGINT (ZERO files move —
    * old INT32 bytes read widened through Spark's reader promotions),
    * INSERT a second slice with explicit values beyond INT range, and
    * fold by the default column. The oracle replays both eras'
    * semantics literally. At 100 TB both ALTERs cost one manifest
    * line each — the schema change a real warehouse makes without a
    * backfill. */
  def q481DefaultWiden(s: SparkSession, dir: String): DataFrame = {
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogdw_").toString + "/tbl"
      s.sql(
        s"""CREATE TABLE graftlog.`$path` (o_orderkey BIGINT, ship INT)
           |TBLPROPERTIES ('key' = 'o_orderkey')""".stripMargin)       // v1
      val view = s"graft_dw_src_${Integer.toHexString(dir.hashCode)}"
      Tables.orders(s, dir).createOrReplaceTempView(view)
      try {
        s.sql(
          s"""INSERT INTO graftlog.`$path`
             |SELECT o_orderkey, CAST(o_custkey % 100 AS INT)
             |FROM $view WHERE o_orderkey % 4 = 0""".stripMargin)      // v2
        s.sql(s"ALTER TABLE graftlog.`$path` " +
          "ADD COLUMN bonus BIGINT DEFAULT 7")                         // v3
        s.sql(s"ALTER TABLE graftlog.`$path` " +
          "ALTER COLUMN ship TYPE BIGINT")                             // v4
        s.sql(
          s"""INSERT INTO graftlog.`$path`
             |SELECT o_orderkey, o_custkey % 100 + 3000000000,
             |  o_orderkey % 5
             |FROM $view WHERE o_orderkey % 4 = 1""".stripMargin)      // v5
      } finally s.catalog.dropTempView(view)
      // both ALTERs were metadata-only: zero files moved — the CREATE
      // (v1) is excluded so the pin cannot be satisfied by it alone
      val h = TableLog.history(path)
      require(h.count(x => x.version > 1L && x.nAdds == 0 &&
          x.nRemoves == 0) >= 2,
        s"expected two metadata-only ALTER commits, history: $h")
      path
    }
    s.sql(
      s"""SELECT bonus, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(ship) AS BIGINT) AS ship_sum
         |FROM graftlog.`$t`
         |GROUP BY bonus ORDER BY bonus""".stripMargin)
  }

  private val q481Oracle =
    """WITH rows_all AS (
      |  SELECT CAST(o_custkey % 100 AS BIGINT) AS ship,
      |    CAST(7 AS BIGINT) AS bonus
      |  FROM orders WHERE o_orderkey % 4 = 0
      |  UNION ALL
      |  SELECT CAST(o_custkey % 100 + 3000000000 AS BIGINT),
      |    CAST(o_orderkey % 5 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 4 = 1)
      |SELECT bonus, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(ship) AS BIGINT) AS ship_sum
      |FROM rows_all GROUP BY bonus ORDER BY bonus""".stripMargin

  // ---------------------------------------------------------------- q482
  /** WRITE-AUDIT-PUBLISH ([[TableLog.branch]]/[[TableLog.publish]],
    * the Iceberg WAP lineage): a corpus drop stages on a ZERO-COPY
    * branch (main unmoved and serving reads), the per-batch CHECK
    * gate is dropped on the branch for the bulk load, planted
    * violating rows land there freely — and the PUBLISH audit gate
    * (union of main's and the branch's declared constraints, one
    * branch-priced scan) BLOCKS the fast-forward, pinned in-query:
    * the dirty publish must throw and main must not move. Cleaning
    * the branch (one COW delete) lets the second publish land as ONE
    * atomic main commit whose branch-born files hard-link into main's
    * own data dir. The oracle replays only the surviving rows. At
    * 100 TB this is the staging workflow every production training-
    * corpus ingestion runs: audit a multi-TB drop in place, publish
    * by metadata. */
  def q482BranchWap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogwap_").toString + "/t"
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 4 === 0),
        path, "o_orderkey", numFiles = 2)                              // v1
      s.sql(s"ALTER TABLE graftlog.`$path` ADD CONSTRAINT " +
        "price_positive CHECK (o_totalprice > 0.0)")                   // v2
      val br = TableLog.branch(path, "drop1")
      // bulk-load posture: drop the per-batch gate ON THE BRANCH ONLY
      TableLog.setProps(br, TableLog.state(br).props - "constraint.price_positive")
      // the drop: a clean slice plus planted NEGATIVE prices
      TableLog.append(slice.where($"o_orderkey" % 8 === 1)
        .select($"o_orderkey", $"o_orderstatus",
          when($"o_orderkey" % 5 === 0, -$"o_totalprice")
            .otherwise($"o_totalprice").as("o_totalprice")),
        br, numFiles = 2)
      // AUDIT gate: the dirty publish must throw; main must not move
      val before = TableLog.latestVersion(path)
      // the pin must fire on the AUDIT gate itself, not any incidental
      // pre-audit failure: require the violated constraint's name in
      // the message, not just "something threw"
      val blocked = try {
        s.sql(s"CALL graftlog.publish('$path', 'drop1')"); false
      } catch {
        case e: Exception =>
          val m = Option(e.getMessage).getOrElse("")
          require(m.contains("price_positive"),
            s"publish threw, but not from the CHECK audit gate: $m")
          true
      }
      require(blocked && TableLog.latestVersion(path) == before,
        "a violating branch published — the WAP audit gate is broken")
      // fix the drop on the branch, publish again: ONE main commit
      TableLog.deleteWhere(s, br, $"o_totalprice" <= 0.0, numFiles = 2)
      s.sql(s"CALL graftlog.publish('$path', 'drop1')")
      require(TableLog.history(path).last.op == "publish" &&
        TableLog.latestVersion(path) == before + 1,
        "publish must land as exactly one fast-forward commit")
      path
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$t`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q482Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 = 0
      |   OR (o_orderkey % 8 = 1 AND o_orderkey % 5 <> 0)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q486
  /** `#branches` metadata table — the operational dashboard of
    * in-flight write-audit-publish drops ([[TableLog.listBranches]]):
    * one row per staging branch with its fork version, head version
    * and manifest-folded file/live-row counts, zero data files open.
    * The fixture forks two branches at v1, ingests a slice onto one
    * and publishes it (main moves to v2) while the other stays idle —
    * the inventory must show both, the published branch's advanced
    * head included (publishing does not consume the branch; its
    * lifecycle is the operator's to end). Every count in the oracle
    * derives from the same orders slices. */
  def q486BranchesMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogbrm_").toString + "/t"
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 4 === 0),
        path, "o_orderkey", numFiles = 2)                              // v1
      val b1 = TableLog.branch(path, "drop_a")
      TableLog.branch(path, "idle_b")
      TableLog.append(slice.where($"o_orderkey" % 8 === 1), b1,
        numFiles = 2)
      TableLog.publish(s, path, "drop_a")                              // v2
      path
    }
    s.sql(s"SELECT branch_name, base_version, head_version, n_files, " +
      s"live_rows FROM graftlog.`$t#branches` ORDER BY branch_name")
  }

  private val q486Oracle =
    """WITH a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS c FROM orders
      |  WHERE o_orderkey % 4 = 0),
      |b AS (
      |  SELECT CAST(count(*) AS BIGINT) AS c FROM orders
      |  WHERE o_orderkey % 8 = 1)
      |SELECT 'drop_a' AS branch_name, CAST(1 AS BIGINT) AS base_version,
      |  CAST(2 AS BIGINT) AS head_version, CAST(4 AS BIGINT) AS n_files,
      |  CAST(a.c + b.c AS BIGINT) AS live_rows
      |FROM a, b
      |UNION ALL
      |SELECT 'idle_b', 1, 1, 2, a.c FROM a, b
      |ORDER BY branch_name""".stripMargin

  // ---------------------------------------------------------------- q489
  /** PARTITION SPEC EVOLUTION ([[TableLog.setPartitionSpec]],
    * Iceberg's spec-evolution lineage): the table starts
    * UNPARTITIONED, loads half the events, then
    * `CALL graftlog.set_partition_spec(t, 'days:ts')` changes the
    * layout for FUTURE writes as one metadata commit — the second
    * half lands day-partitioned while the first half keeps its
    * spec-0 stats and prunes conservatively (each file interprets
    * its tuples under its OWN spec era, never positionally
    * reinterpreted — the spec pins the mixed-era file counts and the
    * reinterpretation guard). A raw ts range then reads exactly the
    * right rows across both eras; a full compact migrates the whole
    * layout to the current spec, after which the same query prunes
    * everything and `#partitions` becomes exact again. At 100 TB
    * this is how a table adopts partitioning YEARS into its life
    * without a stop-the-world rewrite: the old data migrates when
    * housekeeping touches it anyway. */
  def q489PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogpse_").toString + "/ev"
      val ev = Tables.events(s, dir)
        .select($"event_id", $"ts", $"event_type", $"value")
      TableLog.create(ev.where($"event_id" % 2 === 0), path,
        "event_id", numFiles = 4)                                      // v1
      s.sql(s"CALL graftlog.set_partition_spec('$path', 'days:ts')")   // v2
      TableLog.append(ev.where($"event_id" % 2 === 1), path,
        numFiles = 4)                                                  // v3
      // both eras coexist: spec-0 files keep, spec-1 files carry
      // day tuples (the spec pins pruning); a compact migrates all
      s.sql(s"CALL graftlog.compact('$path', 4)")                      // v4
      require(TableLog.state(path).active.forall(_.specId == 1),
        "compact must migrate every file to the current spec")
      path
    }
    s.sql(
      s"""SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM graftlog.`$t`
         |WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP'2024-01-20 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  private val q489Oracle = q461Oracle

  // ---------------------------------------------------------------- q490
  /** PERSISTENT SQL VIEWS ([[graft.sources.GraftViewRule]], the
    * queryable-surface parity of the reference warehouse: its loaded
    * table is exported as a queryable id — `terraform/outputs.tf:13-15`
    * — and its IAM includes view DDL, `terraform/main.tf:127-133`).
    * The fixture runs the full lifecycle: CREATE VIEW over the base
    * table, read it, CREATE OR REPLACE with a narrower definition,
    * append to the BASE — the next view read sees the new rows (the
    * BigQuery logical-view contract: stored text, re-analyzed per
    * query) — and a second view stacked on the first proves
    * composition. A view is one ~100-byte `_views/<n>.sql` sidecar:
    * O(1) at any table scale, and the final SELECT's filters push
    * through both view layers into the base table's manifest-pruned
    * scan — a view costs nothing the underlying query didn't. The
    * oracle replays the surviving definition inline as CTEs. */
  def q490PersistentView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val base = Scratch.dir("graft_tlogview_").toString
      val path = base + "/orders_t"
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 3 === 0),
        path, "o_orderkey", numFiles = 2)
      s.sql(s"CREATE VIEW graftlog.`$base/v_big` AS " +
        s"SELECT o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM graftlog.`$path` WHERE o_totalprice > 1000.0")
      require(s.sql(s"SELECT count(*) FROM graftlog.`$base/v_big`")
        .head().getLong(0) > 0L, "fresh view must read")
      // REPLACE narrows the definition; the old text must be gone
      s.sql(s"CREATE OR REPLACE VIEW graftlog.`$base/v_big` AS " +
        s"SELECT o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM graftlog.`$path` WHERE o_totalprice > 50000.0")
      // base-table commits are visible through the stored text
      TableLog.append(slice.where($"o_orderkey" % 3 === 1),
        path, numFiles = 2)
      // a view OVER the view (composition; both expand per query)
      s.sql(s"CREATE VIEW graftlog.`$base/v_counts` AS " +
        s"SELECT o_orderstatus, count(*) AS n_orders, " +
        s"sum(CAST(o_totalprice AS DECIMAL(12,2))) AS sum_dec " +
        s"FROM graftlog.`$base/v_big` GROUP BY o_orderstatus")
      base
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(n_orders AS BIGINT) AS n_orders,
         |  CAST(sum_dec AS DOUBLE) AS sum_price
         |FROM graftlog.`$t/v_counts`
         |ORDER BY o_orderstatus""".stripMargin)
  }

  private val q490Oracle =
    """WITH v_big AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 3 = 1)
      |    AND o_totalprice > 50000.0
      |), v_counts AS (
      |  SELECT o_orderstatus, count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS sum_dec
      |  FROM v_big GROUP BY o_orderstatus
      |)
      |SELECT o_orderstatus,
      |  CAST(n_orders AS BIGINT) AS n_orders,
      |  CAST(sum_dec AS DOUBLE) AS sum_price
      |FROM v_counts
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q491
  /** TIMESTAMP-BOUNDED CHANGE FEED
    * (`graft_table_changes_between('<path>', fromMillis, toMillis)` +
    * the streaming source's `startingTimestamp` — Delta's pair of the
    * same shape): each instant resolves to a snapshot version via the
    * monotone commit stamps' O(log history) binary search
    * ([[TableLog.versionAtTimestamp]]; stamps are non-decreasing BY
    * CONSTRUCTION — the commit path clamps against the previous
    * stamp, so clock step-back cannot corrupt resolution), then the
    * change-exact diff reads only files active in exactly one of the
    * two snapshots. The operational question it answers at 100 TB:
    * "what changed between yesterday's load and now" priced at the
    * day's files, with no consumer-side version bookkeeping. The
    * fixture captures the REAL commit stamps and the oracle replays
    * the two appended slices as inserts. */
  def q491ChangesBetweenTimestamps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    graft.GraftFunctions.install(s)
    val (t, fromTs, toTs) = {
      val path = Scratch.dir("graft_tlogtsf_").toString + "/t"
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 7 === 0),
        path, "o_orderkey", numFiles = 2)                              // v1
      Thread.sleep(15) // distinct millisecond stamps between commits
      TableLog.append(slice.where($"o_orderkey" % 7 === 1), path, 2)   // v2
      Thread.sleep(15)
      TableLog.append(slice.where($"o_orderkey" % 7 === 2), path, 2)   // v3
      (path, TableLog.commitStamp(path, 1L), TableLog.commitStamp(path, 3L))
    }
    s.sql(
      s"""SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graft_table_changes_between('$t', $fromTs, $toTs)
         |GROUP BY action ORDER BY action""".stripMargin)
  }

  private val q491Oracle =
    """SELECT 'insert' AS action, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 7 IN (1, 2)
      |ORDER BY action""".stripMargin

  // ---------------------------------------------------------------- q492
  /** MERGE WITH SCHEMA EVOLUTION ([[TableLog.merge]] `evolve = true`,
    * Delta's `autoMerge` lineage): the changes frame carries a column
    * the table has never seen (`prio`), and ONE atomic merge commit
    * lands the upserts, the inserts AND the widened DDL — matched
    * rows' files rewrite with the new column, every untouched file
    * null-fills it through the explicit-schema read, and no reader
    * can observe the schema without the data or the data without the
    * schema (two commits would expose both torn states). At 100 TB
    * this is how a feed adds a field without a coordinated
    * stop-the-world migration: the merge prices at the matched files,
    * the schema ride-along is free metadata. Oracle replays the
    * upsert arithmetic in SQL. */
  def q492MergeEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogmev_").toString + "/t"
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 6 === 0),
        path, "o_orderkey", numFiles = 3)                              // v1
      // updates (keys % 12 == 0, price doubled) + inserts (% 6 == 3),
      // PLUS a never-seen column — one atomic evolving merge commit
      val changes = slice
        .where($"o_orderkey" % 12 === 0 || $"o_orderkey" % 6 === 3)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 12 === 0, $"o_totalprice" * 2)
            .otherwise($"o_totalprice"))
        .withColumn("prio", $"o_orderkey" % 5)
      TableLog.merge(s, path, changes, numFiles = 3, evolve = true)    // v2
      require(TableLog.latestVersion(path) == 2L,
        "evolving merge must be ONE commit")
      path
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price,
         |  CAST(sum(prio) AS BIGINT) AS prio_sum
         |FROM graftlog.`$t`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q492Oracle =
    """WITH merged AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 12 = 0 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS o_totalprice,
      |    CASE WHEN o_orderkey % 12 = 0 OR o_orderkey % 6 = 3
      |         THEN o_orderkey % 5 END AS prio
      |  FROM orders WHERE o_orderkey % 6 IN (0, 3)
      |)
      |SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |    AS sum_price,
      |  CAST(sum(prio) AS BIGINT) AS prio_sum
      |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q494
  /** GENERATED COLUMNS (Delta `GENERATED ALWAYS AS` lineage,
    * [[TableLog.genColsOf]]): `gencol.<name>` declared at CREATE maps
    * a schema column to a deterministic expression over the row.
    * Writers that OMIT the column get it computed on the write path
    * (priced at the batch — the value is materialized in the files,
    * so reads pay nothing and the column stats/pruning machinery
    * sees a real column); writers that SUPPLY it are audited by a
    * synthetic CHECK (`col <=> expr`) on every write path — a wrong
    * explicit value refuses loudly, pinned in-fixture with main
    * unmoved. Declaration validates the expression analyzes and is
    * deterministic; SET TBLPROPERTIES refuses NEW generated columns
    * (active files were not produced by the expression). The oracle
    * replays the generation expression over the same slices. */
  def q494GeneratedColumns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tloggen_").toString + "/t"
      TableLog.createEmpty(path,
        "o_orderkey BIGINT, o_totalprice DOUBLE, price_band STRING",
        "o_orderkey",
        props = Map("gencol.price_band" ->
          "CASE WHEN o_totalprice >= 100000.0 THEN 'H' ELSE 'L' END"))  // v1
      val slice = ordersSlice(s, dir).select($"o_orderkey", $"o_totalprice")
      // writer A omits the column → computed on the write path
      TableLog.append(slice.where($"o_orderkey" % 9 === 2), path, 2)    // v2
      // writer B supplies it EXPLICITLY and correctly → audited, lands
      TableLog.append(slice.where($"o_orderkey" % 9 === 5)
        .withColumn("price_band",
          when($"o_totalprice" >= 100000.0, "H").otherwise("L")),
        path, 2)                                                        // v3
      // writer C lies → the synthetic CHECK refuses; table unmoved
      val before = TableLog.latestVersion(path)
      val ex = try {
        TableLog.append(slice.where($"o_orderkey" % 9 === 7)
          .withColumn("price_band", lit("H")), path, 2)
        null: Exception
      } catch { case e: IllegalArgumentException => e }
      require(ex != null && ex.getMessage.contains("price_band_generated"),
        s"wrong explicit generated value must refuse, got $ex")
      require(TableLog.latestVersion(path) == before,
        "a refused generated-column write moved the table")
      path
    }
    s.sql(
      s"""SELECT price_band,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$t`
         |GROUP BY price_band ORDER BY price_band""".stripMargin)
  }

  private val q494Oracle =
    """SELECT
      |  CASE WHEN o_totalprice >= 100000.0 THEN 'H' ELSE 'L' END
      |    AS price_band,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders WHERE o_orderkey % 9 IN (2, 5)
      |GROUP BY 1 ORDER BY price_band""".stripMargin

  // ---------------------------------------------------------------- q495
  /** DEEP CLONE ([[TableLog.deepClone]], `CALL graftlog.deep_clone`):
    * the INDEPENDENT fork shallow clone (q449) is not — every active
    * file and sidecar hard-links into the clone's own data dir (zero
    * bytes copied, O(files) metadata; an inode lives while ANY name
    * reaches it), so the two tables' VACUUMS cannot break each other.
    * Pinned in-fixture both directions: the source deletes a slice
    * and vacuums at grace 0 — reclaiming every pre-delete file the
    * clone links — and the clone still reads the full fork-time
    * snapshot; then the clone deletes + vacuums and the source stays
    * exact. At 100 TB a deep clone is the sanctioned way to hand a
    * team a writable corpus copy with its own retention policy,
    * priced at metadata. The oracle replays both tables' final
    * states from the orders slices. */
  def q495DeepClone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val (src, dst) = {
      val base = Scratch.dir("graft_tlogdeep_").toString
      val (srcP, dstP) = (base + "/src", base + "/dst")
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 10 >= 6),
        srcP, "o_orderkey", numFiles = 3)                              // src v1
      s.sql(s"CALL graftlog.deep_clone('$srcP', '$dstP')")             // dst v1
      // source moves on and RECLAIMS its fork-time files
      TableLog.deleteWhere(s, srcP, $"o_orderkey" % 10 >= 8, 3)        // src v2
      require(TableLog.vacuum(srcP, graceMillis = 0L) > 0,
        "the source vacuum should reclaim its rewritten originals")
      // the clone still reads the FULL fork-time snapshot
      val cloneRows = TableLog.snapshot(s, dstP).count()
      require(cloneRows == slice.where($"o_orderkey" % 10 >= 6).count(),
        s"clone lost rows after the source vacuum: $cloneRows")
      // clone evolves and vacuums independently; source stays exact
      TableLog.append(slice.where($"o_orderkey" % 10 === 2), dstP, 2)  // dst v2
      TableLog.deleteWhere(s, dstP, $"o_orderkey" % 10 === 9, 3)       // dst v3
      TableLog.vacuum(dstP, graceMillis = 0L)
      require(TableLog.snapshot(s, srcP).count() ==
        slice.where($"o_orderkey" % 10 >= 6 && $"o_orderkey" % 10 < 8).count(),
        "the clone vacuum must not reclaim files the source still reads")
      (srcP, dstP)
    }
    def side(label: String, path: String): DataFrame = s.sql(
      s"""SELECT '$label' AS side, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$path`""".stripMargin)
    side("clone", dst).unionByName(side("source", src)).orderBy($"side")
  }

  private val q495Oracle =
    """SELECT 'clone' AS side, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 10 IN (2, 6, 7, 8)
      |UNION ALL
      |SELECT 'source', CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 10 IN (6, 7)
      |ORDER BY side""".stripMargin

  // ---------------------------------------------------------------- q496
  /** IDENTITY COLUMNS ([[TableLog.appendIdentity]], Delta's
    * GENERATED ALWAYS AS IDENTITY lineage): the table declares
    * `identity.id` with a start value; each append assigns
    * `hwm + rowIndex` and advances the high-water mark IN THE SAME
    * commit — the props ride makes the commit metadata-bearing, so a
    * concurrent allocator aborts instead of rebasing into duplicate
    * ids (the serialization Delta pays for the same guarantee).
    * Explicit values refuse (ALWAYS, not BY DEFAULT), as do the
    * arbitrary-row write paths (append/merge/replaceWhere) — ids
    * cannot be smuggled or skipped. The identity column doubles as
    * the TABLE KEY, so allocation order feeds the per-file [min,max]
    * envelope and id-range reads prune files. The fixture sorts each
    * batch by o_orderkey, making assignment deterministic; the
    * oracle replays it with row_number() and the pair-sum checksum
    * Σ id·o_orderkey pins the exact row↔id PAIRING, not just the id
    * set. */
  def q496IdentityColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogid_").toString + "/t"
      TableLog.createEmpty(path,
        "id BIGINT, o_orderkey BIGINT, o_totalprice DOUBLE", "id",
        props = Map("identity.id" -> "1000"))                          // v1
      val slice = ordersSlice(s, dir).select($"o_orderkey", $"o_totalprice")
      TableLog.appendIdentity(
        slice.where($"o_orderkey" % 11 === 3).orderBy($"o_orderkey"),
        path, numFiles = 2)                                            // v2
      TableLog.appendIdentity(
        slice.where($"o_orderkey" % 11 === 7).orderBy($"o_orderkey"),
        path, numFiles = 2)                                            // v3
      // ALWAYS: explicit ids refuse; so do the arbitrary-row paths
      val before = TableLog.latestVersion(path)
      def refused(f: => Unit): Boolean =
        try { f; false } catch { case _: IllegalArgumentException => true }
      require(refused(TableLog.appendIdentity(
        slice.limit(1).withColumn("id", lit(1L)), path, 1)),
        "explicit identity values must refuse")
      require(refused(TableLog.append(
        slice.limit(1).withColumn("id", lit(-5L))
          .select($"id", $"o_orderkey", $"o_totalprice"), path, 1)),
        "plain append on an identity table must refuse")
      require(TableLog.latestVersion(path) == before,
        "a refused identity write moved the table")
      path
    }
    s.sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(min(id) AS BIGINT) AS min_id,
         |  CAST(max(id) AS BIGINT) AS max_id,
         |  CAST(sum(id) AS BIGINT) AS id_sum,
         |  CAST(sum(id * o_orderkey) AS BIGINT) AS pair_sum
         |FROM graftlog.`$t`""".stripMargin)
  }

  private val q496Oracle =
    """WITH s1 AS (
      |  SELECT o_orderkey,
      |    row_number() OVER (ORDER BY o_orderkey) + 999 AS id
      |  FROM orders WHERE o_orderkey % 11 = 3),
      |s2 AS (
      |  SELECT o_orderkey,
      |    row_number() OVER (ORDER BY o_orderkey) + 999 +
      |      (SELECT count(*) FROM s1) AS id
      |  FROM orders WHERE o_orderkey % 11 = 7),
      |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(id) AS BIGINT) AS min_id,
      |  CAST(max(id) AS BIGINT) AS max_id,
      |  CAST(sum(id) AS BIGINT) AS id_sum,
      |  CAST(sum(id * o_orderkey) AS BIGINT) AS pair_sum
      |FROM u""".stripMargin

  // ---------------------------------------------------------------- q499
  /** SQL-PATH identity + generated columns
    * ([[graft.sources.GraftGeneratedInsertRule]]): the table declares
    * BOTH a `GENERATED ALWAYS AS IDENTITY` id and a generated
    * `price_band`, and is populated EXCLUSIVELY through
    * `spark.sql("INSERT INTO …")` — the column-list form and the
    * positional reduced form. The analyzer rewrite routes the
    * statement through the q496 freeze-then-assign allocator (ids
    * `hwm + rowIndex`, mark advanced in the same metadata-bearing
    * commit) and the q494 generator (omitted band computed on the
    * write; a supplied-but-wrong band refuses via the synthetic
    * audit), so the SQL surface and the API surface cannot diverge.
    * ALWAYS refusal pinned in-fixture: an INSERT naming the identity
    * column aborts with the table unmoved. The oracle replays the
    * allocation with row_number() and the generation CASE; the
    * pair-sum pins the exact row↔id pairing through the SQL path. */
  def q499SqlGeneratedInsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogsqlins_")
        .toString + "/t"
      TableLog.createEmpty(path,
        "id BIGINT, o_orderkey BIGINT, o_totalprice DOUBLE, " +
          "price_band STRING", "id",
        props = Map(
          "identity.id" -> "500",
          "gencol.price_band" ->
            "CASE WHEN o_totalprice >= 100000.0 THEN 'H' ELSE 'L' END"))
      ordersSlice(s, dir).select($"o_orderkey", $"o_totalprice")
        .createOrReplaceTempView("_q499_src")
      // column-list form: identity + gencol omitted → allocated/computed
      s.sql(s"""INSERT INTO graftlog.`$path` (o_orderkey, o_totalprice)
               |SELECT o_orderkey, o_totalprice FROM _q499_src
               |WHERE o_orderkey % 13 = 4 ORDER BY o_orderkey""".stripMargin)
      // positional reduced form (the non-generated columns, in order)
      s.sql(s"""INSERT INTO graftlog.`$path`
               |SELECT o_orderkey, o_totalprice FROM _q499_src
               |WHERE o_orderkey % 13 = 9 ORDER BY o_orderkey""".stripMargin)
      // ALWAYS on the SQL path: naming the identity column refuses
      // and a wrong explicit band fails its audit — table unmoved
      val before = TableLog.latestVersion(path)
      def refused(sql: String, needle: String): Unit = {
        val ex = try { s.sql(sql); null: Exception }
          catch { case e: Exception => e }
        require(ex != null && ex.getMessage.contains(needle),
          s"expected refusal containing '$needle', got $ex")
      }
      refused(s"INSERT INTO graftlog.`$path` (id, o_orderkey, " +
        "o_totalprice) VALUES (1, 1, 1.0)", "IDENTITY")
      refused(s"INSERT INTO graftlog.`$path` (o_orderkey, " +
        "o_totalprice, price_band) VALUES (1, 1.0, 'H')",
        "price_band_generated")
      require(TableLog.latestVersion(path) == before,
        "a refused SQL insert moved the table")
      path
    }
    s.sql(
      s"""SELECT price_band,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(id) AS BIGINT) AS id_sum,
         |  CAST(sum(id * o_orderkey) AS BIGINT) AS pair_sum
         |FROM graftlog.`$t`
         |GROUP BY price_band ORDER BY price_band""".stripMargin)
  }

  private val q499Oracle =
    """WITH s1 AS (
      |  SELECT o_orderkey, o_totalprice,
      |    row_number() OVER (ORDER BY o_orderkey) + 499 AS id
      |  FROM orders WHERE o_orderkey % 13 = 4),
      |s2 AS (
      |  SELECT o_orderkey, o_totalprice,
      |    row_number() OVER (ORDER BY o_orderkey) + 499 +
      |      (SELECT count(*) FROM s1) AS id
      |  FROM orders WHERE o_orderkey % 13 = 9),
      |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      |SELECT
      |  CASE WHEN o_totalprice >= 100000.0 THEN 'H' ELSE 'L' END
      |    AS price_band,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(id) AS BIGINT) AS id_sum,
      |  CAST(sum(id * o_orderkey) AS BIGINT) AS pair_sum
      |FROM u GROUP BY 1 ORDER BY price_band""".stripMargin

  // ---------------------------------------------------------------- q500
  /** PUBLISH-REBASE ([[TableLog.publish]]'s cherry-pick arm): a WAP
    * branch whose main moved in the interim no longer always aborts —
    * when main's interim commits and the branch delta touch DISJOINT
    * files (the busy-table common case: concurrent appends), the
    * branch delta replays onto main's head in the one audited publish
    * commit, so a long-lived drop can land without re-forking every
    * time an ingest beats it. The refusals stay loud and are pinned
    * in-fixture: both sides rewriting the SAME file aborts with main
    * unmoved (replaying would resurrect deleted rows) — metadata
    * moves are pinned in BranchWapSpec. Scale shape: the rebase is
    * pure manifest algebra on the fork/branch/main file-id sets
    * (O(files) driver metadata, no data I/O) and the audit stays
    * priced at the branch delta. The oracle replays the surviving
    * slices. */
  def q500PublishRebase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogreb_").toString + "/t"
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 7 === 1),
        path, "o_orderkey", numFiles = 1)                              // v1
      // branch ingests one slice; main takes an interim append
      val br = TableLog.branch(path, "grow")
      TableLog.append(slice.where($"o_orderkey" % 7 === 3), br, 2)
      TableLog.append(slice.where($"o_orderkey" % 7 === 5), path, 2)
      s.sql(s"CALL graftlog.publish('$path', 'grow')") // disjoint → rebase
      require(TableLog.history(path).last.op == "publish",
        "the rebase must land as one publish commit")
      // overlap refusal: both sides rewrite the single v1 file
      val br2 = TableLog.branch(path, "clash")
      TableLog.deleteWhere(s, br2,
        $"o_orderkey" % 7 === 1 && $"o_orderkey" % 2 === 0, 1)
      TableLog.deleteWhere(s, path,
        $"o_orderkey" % 7 === 1 && $"o_orderkey" % 2 === 1, 1)
      val before = TableLog.latestVersion(path)
      val ex = try {
        s.sql(s"CALL graftlog.publish('$path', 'clash')"); null: Exception
      } catch { case e: Exception => e }
      require(ex != null &&
        Option(ex.getMessage).exists(_.contains("both sides touched")),
        s"overlapping publish must refuse on the file overlap, got $ex")
      require(TableLog.latestVersion(path) == before,
        "a refused overlapping publish moved main")
      path
    }
    s.sql(
      s"""SELECT CAST(o_orderkey % 7 AS BIGINT) AS k_mod,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$t`
         |GROUP BY o_orderkey % 7 ORDER BY k_mod""".stripMargin)
  }

  private val q500Oracle =
    """SELECT CAST(o_orderkey % 7 AS BIGINT) AS k_mod,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |WHERE (o_orderkey % 7 = 1 AND o_orderkey % 2 = 0)
      |   OR o_orderkey % 7 IN (3, 5)
      |GROUP BY o_orderkey % 7 ORDER BY k_mod""".stripMargin

  // ---------------------------------------------------------------- q506
  /** SNAPSHOT TAGS ([[TableLog.tag]], `CALL graftlog.tag`, Iceberg
    * tag lineage): an immutable named ref pinning a committed
    * version — `VERSION AS OF 'name'` addresses "the corpus we
    * trained on" from SQL with no version-number bookkeeping, and
    * EVERY vacuum variant keeps the tagged version's files until
    * `drop_tag` releases them (ref-reachability retention). The
    * fixture tags v1 as 'baseline', then rewrites the table past it
    * (delete + compact) and vacuums at grace 0 — the tagged read
    * must still answer exactly; `#tags` lists the ref. One `tag.*`
    * property per ref: O(1) metadata at any scale, and the vacuum
    * pin costs one historical state() per distinct pinned version.
    * The oracle replays both eras from the orders slices. */
  def q506SnapshotTags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogtag_").toString + "/t"
      val slice = ordersSlice(s, dir).select($"o_orderkey", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 6 === 1),
        path, "o_orderkey", numFiles = 2)                              // v1
      s.sql(s"CALL graftlog.tag('$path', 'baseline')")                 // v2
      TableLog.append(slice.where($"o_orderkey" % 6 === 3), path, 2)   // v3
      TableLog.deleteWhere(s, path,
        $"o_orderkey" % 6 === 1 && $"o_orderkey" % 5 === 0, 2)         // v4
      TableLog.compact(s, path, 1)                                     // v5
      // the pin's teeth: a grace-0 vacuum reclaims the un-tagged
      // intermediates but every baseline file survives
      TableLog.vacuum(path, graceMillis = 0L)
      val tagged = TableLog.listTags(path)
      require(tagged == Seq(("baseline", 1L)), s"tags wrong: $tagged")
      path
    }
    def side(label: String, asOf: String): DataFrame = s.sql(
      s"""SELECT '$label' AS side, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$t` $asOf""".stripMargin)
    side("baseline", "VERSION AS OF 'baseline'")
      .unionByName(side("head", "")).orderBy($"side")
  }

  private val q506Oracle =
    """SELECT 'baseline' AS side, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 6 = 1
      |UNION ALL
      |SELECT 'head', CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders
      |WHERE (o_orderkey % 6 = 1 AND o_orderkey % 5 <> 0)
      |   OR o_orderkey % 6 = 3
      |ORDER BY side""".stripMargin

  // ---------------------------------------------------------------- q513
  /** `update.mode = merge-on-read` on the SQL surface — the UPDATE
    * twin of q458's delete gate, landing on a PARTITIONED layout: a
    * plain SQL UPDATE of a small slice routes through the
    * deletion-vector path (the analyzer rule reads the table
    * property), so the touched files' bytes never rewrite — dead
    * positions land as KB-scale sidecars, the updated images as fresh
    * files staged under the table's own partition spec, and the
    * per-tuple row stats decrement exactly. The fixture PROVES the
    * no-rewrite claim (original files all still active) and the
    * oracle replays the update in pure SQL over the data plane. At
    * 100 TB: updating 0.1% of a days(ts) table costs sidecar KBs plus
    * the changed rows — the same economics q508 gives deletes. */
  def q513MorUpdateSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogmu_").toString + "/t"
      val slice = ordersSlice(s, dir).where($"o_orderkey" % 9 === 5)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      TableLog.create(slice, path, "o_orderkey", numFiles = 3,
        partCols = Seq("o_orderstatus"))                             // v1
      TableLog.setProps(path,
        Map("update.mode" -> "merge-on-read"))                       // v2
      val before = TableLog.state(path).active.map(_.relPath).toSet
      s.sql(
        s"""UPDATE graftlog.`$path` SET o_totalprice = o_totalprice * 2
           |WHERE o_orderkey % 90 = 5""".stripMargin)                // v3
      val st = TableLog.state(path)
      require(before.subsetOf(st.active.map(_.relPath).toSet),
        "merge-on-read SQL UPDATE rewrote an original file")
      require(st.active.exists(_.dv.isDefined),
        "merge-on-read SQL UPDATE landed no deletion vector")
      path
    }
    s.sql(
      s"""SELECT o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_price
         |FROM graftlog.`$t`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val q513Oracle =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(CASE WHEN o_orderkey % 90 = 5
      |    THEN o_totalprice * 2 ELSE o_totalprice END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey % 9 = 5
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q514
  /** DELETION-VECTOR DEBT ADVISOR — the housekeeping readout a
    * merge-on-read table needs once q508/q513 start landing sidecars:
    * per partition day, the WRITTEN row mass (the `#partitions` fold
    * of the pre-delete era, read back through VERSION AS OF — exact,
    * zero data files), the LIVE mass (the current fold, exact through
    * the per-tuple DV accounting), the dead debt between them, and a
    * compact advice flag where the dead fraction crosses 2% — the
    * rewrite-when-it-pays loop (Delta's OPTIMIZE-on-DV-debt posture:
    * sidecars are cheap to write but every read pays the anti-join,
    * so debt should fold back down off-peak). BOTH planes are
    * manifest folds: at 100 TB the advisor costs two O(files) driver
    * reads and never opens a data file. */
  def q514DvDebtAdvisor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogdd_").toString + "/t"
      val slice = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type")
        .where($"event_id" % 4 === 1)
      TableLog.create(slice, path, "event_id", numFiles = 4,
        partCols = Seq("days:ts"))                                   // v1
      // two erasure waves: the day-5 victim cohort, then a user
      val w1 = slice.agg(min($"user_id")).collect().head.getLong(0)
      TableLog.deleteWhereDv(s, path, col("user_id") === w1)         // v2
      TableLog.deleteWhereDv(s, path,
        col("user_id") === w1 + 1L && col("event_type") === "error") // v3
      path
    }
    val written = s.sql(
      s"""SELECT `days(ts)` AS day, row_count AS written
         |FROM graftlog.`$t#partitions` VERSION AS OF 1""".stripMargin)
    val live = s.sql(
      s"""SELECT `days(ts)` AS day, row_count AS live
         |FROM graftlog.`$t#partitions`""".stripMargin)
    written.join(live, Seq("day"), "left")
      .select($"day", $"written",
        coalesce($"live", lit(0L)).as("live"),
        ($"written" - coalesce($"live", lit(0L))).as("dead"),
        (expr("(written - coalesce(live, 0L)) * 10000L div written")
          >= 200L).as("compact_advised"))
      .orderBy($"day")
  }

  private val q514Oracle =
    """WITH sl AS (
      |  SELECT event_id, ts, user_id, event_type FROM events
      |  WHERE event_id % 4 = 1),
      |v AS (SELECT min(user_id) AS victim FROM sl),
      |w AS (
      |  SELECT CAST(CAST(ts AS DATE) AS STRING) AS day,
      |    CAST(count(*) AS BIGINT) AS written,
      |    CAST(sum(CASE WHEN user_id <> victim AND NOT
      |      (user_id = victim + 1 AND event_type = 'error')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS live
      |  FROM sl, v GROUP BY 1)
      |SELECT day, written, live, written - live AS dead,
      |  (written - live) * 10000 // written >= 200 AS compact_advised
      |FROM w ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q519
  /** PARTITION-SCOPED COMPACTION (`CALL graftlog.compact_where`) —
    * acting on q514's advice at the cost of the named day, not the
    * table: the fixture lands a GDPR-style DV erasure wave across
    * four `days(ts)` partitions, then folds ONLY day 2's debt. The
    * readout is the advisor's post-action view — per day, live rows
    * (the `#partitions` fold, exact through both the DVs and the
    * scoped rewrite) and the REMAINING sidecar debt (manifest-grain:
    * `rows − liveRows` over the day's active files) — proving the
    * folded day reads zero debt while every other day's debt (and
    * bytes — spec-pinned by mtime) is untouched.
    *
    * Scale shape: the condition compiles to partition predicates and
    * selects files from TUPLE STATS alone (no data file opens to
    * plan); the rewrite reads exactly the selected day's files. Both
    * readout planes are O(files) manifest folds. At 100 TB this is
    * the difference between folding one day's debt and a full-table
    * rewrite. */
  def q519CompactWhere(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogcw_").toString + "/t"
      // the slice materializes ONCE — the four per-day appends then
      // filter the frozen frame instead of rescanning the source
      val slice = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type")
        .where($"event_id" % 8 === 3 &&
          $"ts" < lit("2024-01-05").cast("timestamp"))
        .localCheckpoint(true)
      TableLog.createEmpty(path,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING",
        "event_id", partCols = Seq("days:ts"))
      // one append per day → per-file day attribution stays exact
      (1 to 4).foreach { d =>
        TableLog.append(slice.where(dayofmonth($"ts") === d), path, 1)
      }
      TableLog.deleteWhereDv(s, path, pmod($"user_id", lit(7)) === 2L)
      s.sql(s"CALL graftlog.compact_where('$path', " +
        "\"ts >= TIMESTAMP'2024-01-02 00:00:00' AND " +
        "ts <= TIMESTAMP'2024-01-02 23:59:59'\", 1)")
      path
    }
    // remaining sidecar debt per day: manifest fold, zero data reads
    // (fixture files are single-day, so head-tuple attribution holds)
    val dead = TableLog.state(t).active
      .flatMap(a => a.parts.headOption.map(p =>
        p.values.head -> (a.rows - a.liveRows)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val deadDf = dead.toDF("day", "dv_dead")
    val liveDf = s.sql(s"SELECT `days(ts)` AS day, row_count AS live " +
      s"FROM graftlog.`$t#partitions`")
    liveDf.join(deadDf, Seq("day"))
      .select($"day", $"live", $"dv_dead",
        ($"dv_dead" === 0L).as("debt_zero"))
      .orderBy($"day")
  }

  private val q519Oracle =
    """WITH sl AS (
      |  SELECT event_id, ts, user_id, event_type FROM events
      |  WHERE event_id % 8 = 3 AND ts < TIMESTAMP '2024-01-05'),
      |d AS (
      |  SELECT CAST(CAST(ts AS DATE) AS STRING) AS day,
      |    CAST(count(*) AS BIGINT) AS written,
      |    CAST(sum(CASE WHEN user_id % 7 <> 2 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS live
      |  FROM sl GROUP BY 1)
      |SELECT day, live,
      |  CAST(CASE WHEN day = '2024-01-02' THEN 0
      |       ELSE written - live END AS BIGINT) AS dv_dead,
      |  (CASE WHEN day = '2024-01-02' THEN 0
      |   ELSE written - live END) = 0 AS debt_zero
      |FROM d ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q520
  /** INCREMENTAL MATERIALIZED VIEW through MERGE-ON-READ DML — q144's
    * self-merging aggregates upgraded with RETRACTIONS and fed from
    * the table format's own change feed: the view (per-status count +
    * exact cents sum) is maintained by folding [[TableLog.diffVersions]]
    * deltas — insert = (+1, +cents), delete = (−1, −cents), update =
    * both legs (the delete+insert pair a MoR MERGE's CDF exactness
    * guarantees) — across an append, a merge-on-read SQL MERGE (DV
    * sidecars + fresh images) and a merge-on-read SQL DELETE, without
    * EVER rescanning history: each diff reads only the files that
    * changed between the two versions (content-identity diff, so the
    * KB-scale DV commits price at their slivers). The emitted
    * `n_batches = 3` pins that the result really is three successive
    * folds; the oracle recomputes the final state from scratch, so
    * "incremental ≡ recompute" is hash-proven on every run. Count and
    * fixed-point cents are the abelian-group aggregates incremental
    * views with retraction need (q144's algebra closed under
    * negation). At 100 TB: the MV is group-cardinality, each
    * maintenance step is priced at the day's changed sliver, and the
    * MoR DML that would poison an appends-only reader (double-counted
    * re-adds) is exactly what the content-identity diff rides
    * through. */
  def q520IncrementalMvMor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogmv_").toString + "/t"
      // frozen once: the fixture's create/append/merge-source frames
      // all filter this slice — three source scans fold to one
      val slice = ordersSlice(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .localCheckpoint(true)
      TableLog.create(slice.where($"o_orderkey" % 5 === 0),
        path, "o_orderkey", numFiles = 3)                            // v1
      TableLog.setProps(path, TableLog.state(path).props +
        ("dv.mode" -> "merge-on-read"))                              // v2
      TableLog.append(slice.where($"o_orderkey" % 5 === 1), path, 3) // v3
      // MoR MERGE: matched %10==0 rows double their price via DV +
      // fresh images; %5==2 rows insert — one atomic commit
      slice.where($"o_orderkey" % 10 === 0 || $"o_orderkey" % 5 === 2)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 10 === 0, $"o_totalprice" * 2)
            .otherwise($"o_totalprice"))
        .createOrReplaceTempView("q520_src")
      try s.sql(
        s"""MERGE INTO graftlog.`$path` tg USING q520_src src
           |ON tg.o_orderkey = src.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)          // v4
      finally s.catalog.dropTempView("q520_src")
      // the delete predicate must be PUSHABLE (plain comparisons) to
      // take the delete.mode DV route — an untranslatable predicate
      // legitimately falls to the group-based COW rewrite instead
      s.sql(s"DELETE FROM graftlog.`$path` " +
        "WHERE o_orderkey >= 1000 AND o_orderkey <= 1199")           // v5
      require(TableLog.state(path).active.exists(_.dv.isDefined),
        "q520 fixture must exercise merge-on-read commits")
      path
    }
    def cents(c: org.apache.spark.sql.Column) =
      round(c * 100).cast("long")
    // initial build: ONE scan of the creation-era snapshot (v1)
    var mv = TableLog.snapshot(s, t, version = 1L)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents($"o_totalprice")).as("sum_cents"))
      .localCheckpoint(true)
    var nBatches = 0
    // maintenance: fold each later commit's change-feed delta —
    // the props-only v2 yields an empty diff and folds as a no-op
    (2L to TableLog.latestVersion(t)).foreach { v =>
      val d = TableLog.diffVersions(s, t, v - 1L, v).localCheckpoint(true)
      if (d.count() > 0L) {
        val plus = d.where($"action".isin("insert", "update"))
          .select(col("new_o_orderstatus").as("o_orderstatus"),
            lit(1L).as("dn"),
            cents(col("new_o_totalprice")).as("dc"))
        val minus = d.where($"action".isin("delete", "update"))
          .select(col("old_o_orderstatus").as("o_orderstatus"),
            lit(-1L).as("dn"),
            (-cents(col("old_o_totalprice"))).as("dc"))
        val delta = plus.unionByName(minus).groupBy($"o_orderstatus")
          .agg(sum($"dn").as("n_rows"), sum($"dc").as("sum_cents"))
        mv = mv.unionByName(delta).groupBy($"o_orderstatus")
          .agg(sum($"n_rows").as("n_rows"),
            sum($"sum_cents").as("sum_cents"))
          .localCheckpoint(true)
        nBatches += 1
      }
    }
    mv.where($"n_rows" =!= 0L)
      .select($"o_orderstatus", $"n_rows", $"sum_cents",
        lit(nBatches).as("n_batches"))
      .orderBy($"o_orderstatus")
  }

  private val q520Oracle =
    """WITH fin AS (
      |  SELECT o_orderstatus,
      |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS p
      |  FROM orders
      |  WHERE o_orderkey % 5 IN (0, 1, 2)
      |    AND o_orderkey NOT BETWEEN 1000 AND 1199)
      |SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  3 AS n_batches
      |FROM fin GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q523
  /** SCOPED Z-ORDER (`CALL graftlog.compact_where(..., zorder =>
    * 'x,y')`) — Delta's `OPTIMIZE … WHERE … ZORDER BY`, the layout
    * sibling of q519's debt fold: ONE `days(ts)` partition re-lays
    * along the (event_id, user_id) Z-curve while every other day's
    * files stay byte-identical (spec pins mtimes and the per-file
    * y-spread shrink; this query pins the transactional readout).
    * The curve bounds collect over the SELECTED day only, so the
    * interleave is tight for that day's value ranges — a full-table
    * z-order would stretch the curve over the global domain and
    * spend most of its bits on cross-day variance the layout can
    * never exploit. Readout: per day, live rows (`#partitions`,
    * exact through the rewrite) and active file count (manifest
    * fold; the scoped day lands at the requested target, the others
    * keep their single append file). At 100 TB: re-clustering one
    * day for a new query pattern is priced at the day — the
    * full-table `zorder` rewrite is unaffordable for a layout
    * experiment, and the day-scoped one composes with q514's
    * advisor naming WHICH days are read-hot. */
  def q523CompactWhereZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogzw_").toString + "/t"
      val slice = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id")
        .where($"event_id" % 4 === 1 &&
          $"ts" < lit("2024-01-04").cast("timestamp"))
        .localCheckpoint(true)
      TableLog.createEmpty(path,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT",
        "event_id", partCols = Seq("days:ts"))
      (1 to 3).foreach { d =>
        TableLog.append(slice.where(dayofmonth($"ts") === d), path, 1)
      }
      s.sql(s"CALL graftlog.compact_where('$path', " +
        "\"ts >= TIMESTAMP'2024-01-02 00:00:00' AND " +
        "ts <= TIMESTAMP'2024-01-02 23:59:59'\", 2, " +
        "zorder => 'event_id,user_id')")
      path
    }
    // file count per day: manifest fold, zero data reads (files are
    // single-day by construction — the zorder scope is single-tuple)
    val nf = TableLog.state(t).active
      .flatMap(_.parts.headOption.map(_.values.head -> 1L))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val nfDf = nf.toDF("day", "n_files")
    val liveDf = s.sql(s"SELECT `days(ts)` AS day, row_count AS live " +
      s"FROM graftlog.`$t#partitions`")
    liveDf.join(nfDf, Seq("day"))
      .select($"day", $"live", $"n_files")
      .orderBy($"day")
  }

  private val q523Oracle =
    """WITH sl AS (
      |  SELECT event_id, ts, user_id FROM events
      |  WHERE event_id % 4 = 1 AND ts < TIMESTAMP '2024-01-04'),
      |d AS (
      |  SELECT CAST(CAST(ts AS DATE) AS STRING) AS day,
      |    CAST(count(*) AS BIGINT) AS live
      |  FROM sl GROUP BY 1)
      |SELECT day, live,
      |  CAST(CASE WHEN day = '2024-01-02' THEN 2 ELSE 1 END
      |    AS BIGINT) AS n_files
      |FROM d ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q524
  /** IDEMPOTENT BULK FILE LOAD (`CALL graftlog.copy_into`) — Delta's
    * `COPY INTO` shape, the missing third ingest surface beside
    * batch append and the exactly-once streaming sink: an ingest
    * directory of landed files loads into the table with each FILE
    * loaded exactly once, because the loading commit itself carries
    * one txn-ledger entry per source file (load-and-remember is one
    * transaction — [[TableLog.copyInto]]). The fixture proves the
    * three contract points inline: two files load, a VERBATIM re-run
    * loads zero (no commit, version unchanged), and a late-arriving
    * third file loads ALONE — the crashed-orchestrator-retries
    * pattern every warehouse loader needs. Readout: per event_type
    * row count + exact id sum over the loaded table; the oracle
    * recomputes from the raw slice, so any double-load or dropped
    * file breaks the hash. At 100 TB: skipping is decided from the
    * replayed manifest (no data I/O for loaded files), fresh files
    * read once, and the ledger rides the checkpointed manifest at
    * O(loaded files) — the grain the active set already pays. */
  def q524CopyInto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val base = Scratch.dir("graft_tlogci_")
      val path = base.toString + "/t"
      val src = Files.createDirectories(base.resolve("incoming"))
      val slice = Tables.events(s, dir)
        .select($"event_id", $"event_type")
        .where(pmod($"event_id", lit(23)) === 2)
        .localCheckpoint(true)
      def dump(i: Int): Unit = {
        val d = base.resolve(s"stage_$i")
        slice.where(pmod($"event_id", lit(3)) === i).coalesce(1)
          .write.mode("overwrite").json(d.toString)
        val part = {
          val l = Files.list(d)
          try {
            val it = l.iterator()
            var found: java.nio.file.Path = null
            while (it.hasNext && found == null) {
              val p = it.next()
              val n = p.getFileName.toString
              if (n.startsWith("part-") && n.endsWith(".json")) found = p
            }
            require(found != null, s"q524: no part file under $d")
            found
          } finally l.close()
        }
        Files.copy(part, src.resolve(s"data_$i.json"))
      }
      TableLog.createEmpty(path,
        "event_id BIGINT, event_type STRING", "event_id")
      dump(0); dump(1)
      def copy() = s.sql(
        s"CALL graftlog.copy_into('$path', '$src', 'json', 2)")
        .collect().head
      val first = copy()
      require(first.getLong(1) == 2L, s"q524: first load: $first")
      // the verbatim re-run is a NO-OP: zero loads, version pinned
      val rerun = copy()
      require(rerun.getLong(1) == 0L && rerun.getLong(2) == 2L &&
        rerun.getLong(0) == first.getLong(0),
        s"q524: re-run must skip everything: $rerun")
      // the late-arriving file loads ALONE
      dump(2)
      val late = copy()
      require(late.getLong(1) == 1L && late.getLong(2) == 2L,
        s"q524: late file must load alone: $late")
      path
    }
    TableLog.snapshot(s, t)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"event_id").as("sum_id"))
      .orderBy($"event_type")
  }

  private val q524Oracle =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(event_id) AS BIGINT) AS sum_id
      |FROM events WHERE event_id % 23 = 2
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q527
  /** [NS] INCREMENTAL LSH INDEX THROUGH MoR DML — q520's
    * maintain-from-the-change-feed discipline applied to the OTHER
    * derived structure a curation stack keeps beside its tables: the
    * near-dup band index. The q65 MinHash/LSH index (same
    * coefficients, same 8×4 geometry — [[DedupOps.minhashBandedFrom]]
    * is the one shared definition, so batch build and incremental
    * maintenance can never drift) is built ONCE over the creation
    * snapshot, then maintained purely from [[TableLog.diffVersions]]
    * deltas across an append, a merge-on-read SQL MERGE (which
    * plants duplicate texts — the pairs the index must START
    * finding) and a merge-on-read SQL DELETE (whose victims' pairs
    * must STOP appearing): delete/update-old rows anti-join out of
    * the index, insert/update-new rows signature ONLY the changed
    * sliver. No step rescans history; `n_batches = 3` pins the
    * folds. The final candidate-pair emission is q65's shape over
    * the maintained index, and the oracle re-runs the full LSH
    * chain over the DML-edited corpus from scratch — incremental ≡
    * recompute, hash-proven. At 100 TB this is the GDPR/refresh
    * story for dedup infrastructure: a KB-scale MoR erasure updates
    * the near-dup index at the cost of the changed rows, not a
    * corpus re-signature. */
  def q527IncrementalLshIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tloglsh_").toString + "/t"
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
        .localCheckpoint(true)
      val corpus = docs.where($"doc_id" % 3 === 0)
      TableLog.create(corpus.where($"doc_id" % 2 === 0),
        path, "doc_id", numFiles = 2)                                // v1
      TableLog.setProps(path, TableLog.state(path).props +
        ("dv.mode" -> "merge-on-read"))                              // v2
      TableLog.append(corpus.where($"doc_id" % 2 =!= 0), path, 2)    // v3
      // MERGE plants duplicates: matched %33==0 rows take the text
      // of corpus doc (id+3); inserts are NEW ids (%3==1, %11==0)
      // carrying the text of corpus doc (id−1) — both arms create
      // pairs the maintained index must surface
      val donor3 = corpus.select($"doc_id".as("d_id"), $"text".as("d_text"))
      val upd = corpus.where($"doc_id" % 33 === 0)
        .join(donor3, $"d_id" === $"doc_id" + 3, "left")
        .select($"doc_id", coalesce($"d_text", $"text").as("text"))
      val ins = docs.where($"doc_id" % 3 === 1 && $"doc_id" % 11 === 0)
        .join(donor3, $"d_id" === $"doc_id" - 1, "left")
        .select($"doc_id", coalesce($"d_text", $"text").as("text"))
      upd.unionByName(ins).createOrReplaceTempView("q527_src")
      try s.sql(
        s"""MERGE INTO graftlog.`$path` tg USING q527_src src
           |ON tg.doc_id = src.doc_id
           |WHEN MATCHED THEN UPDATE SET text = src.text
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)           // v4
      finally s.catalog.dropTempView("q527_src")
      s.sql(s"DELETE FROM graftlog.`$path` " +
        "WHERE doc_id >= 120 AND doc_id <= 360")                     // v5
      require(TableLog.state(path).active.exists(_.dv.isDefined),
        "q527 fixture must exercise merge-on-read commits")
      path
    }
    // index build: ONE signature pass over the creation-era snapshot
    var idx = DedupOps.minhashBandedFrom(DedupOps.minhashSignaturesFrom(
      TableLog.snapshot(s, t, version = 1L))).localCheckpoint(true)
    var nBatches = 0
    (2L to TableLog.latestVersion(t)).foreach { v =>
      val d = TableLog.diffVersions(s, t, v - 1L, v).localCheckpoint(true)
      if (d.count() > 0L) {
        val gone = d.where($"action".isin("delete", "update"))
          .select($"doc_id")
        val fresh = d.where($"action".isin("insert", "update"))
          .select($"doc_id", col("new_text").as("text"))
        idx = idx.join(gone, Seq("doc_id"), "left_anti")
          .unionByName(DedupOps.minhashBandedFrom(
            DedupOps.minhashSignaturesFrom(fresh)))
          .localCheckpoint(true)
        nBatches += 1
      }
    }
    // candidate pairs at the final state — q65's emission over the
    // MAINTAINED index (bucket group → i<j pairs → signature match)
    idx.groupBy($"band", $"bucket")
      .agg(sort_array(collect_list(struct($"doc_id", $"sig"))).as("members"))
      .where(size($"members") >= 2 &&
        size($"members") <= DedupOps.maxGroupSize)
      .select(explode(DedupOps.pairUp($"members")).as("p"))
      .select($"p.a.doc_id".as("doc_a"), $"p.b.doc_id".as("doc_b"),
        (aggregate(zip_with($"p.a.sig", $"p.b.sig",
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / DedupOps.minhashK)
          .as("est_jaccard"))
      .distinct()
      .where($"est_jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"est_jaccard",
        lit(nBatches).as("n_batches"))
      .orderBy($"doc_a", $"doc_b")
  }

  private lazy val q527Oracle = {
    val k = DedupOps.minhashK
    val matches = (0 until k)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH docs2 AS (
       |  SELECT c.doc_id,
       |    CASE WHEN c.doc_id % 33 = 0 THEN COALESCE(d3.text, c.text)
       |         ELSE c.text END AS text
       |  FROM documents c
       |  LEFT JOIN documents d3 ON d3.doc_id = c.doc_id + 3
       |  WHERE c.doc_id % 3 = 0
       |    AND c.doc_id NOT BETWEEN 120 AND 360
       |  UNION ALL
       |  SELECT i.doc_id, COALESCE(dm.text, i.text) AS text
       |  FROM documents i
       |  LEFT JOIN documents dm ON dm.doc_id = i.doc_id - 1
       |  WHERE i.doc_id % 3 = 1 AND i.doc_id % 11 = 0
       |    AND i.doc_id NOT BETWEEN 120 AND 360),
       |${DedupOps.minhashBandsCteOver("docs2")},
       |ok AS (
       |  SELECT band, bucket FROM bands GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND ${DedupOps.maxGroupSize}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id
       |  JOIN ok ON a.band = ok.band AND a.bucket = ok.bucket)
       |SELECT doc_a, doc_b,
       |  CAST($matches AS DOUBLE) / $k AS est_jaccard,
       |  3 AS n_batches
       |FROM cand
       |JOIN sig sa ON doc_a = sa.doc_id
       |JOIN sig sb ON doc_b = sb.doc_id
       |WHERE CAST($matches AS DOUBLE) / $k >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q528
  /** ZERO-COPY ADOPTION (`CALL graftlog.adopt`) — Delta's
    * `CONVERT TO DELTA` shape, the migration path INTO the format:
    * a directory some plain `df.write.parquet` job produced becomes
    * a v1 table without rewriting a byte (hard-linked references,
    * one stats scan — [[TableLog.adopt]]), and then LIVES: the
    * fixture appends a second slice through the transactional path
    * after adoption, so the readout proves adopted files and
    * post-adoption commits serve from one snapshot. At 100 TB this
    * is the difference between "converting the lake costs a second
    * lake" and "converting costs one stats pass": every byte the
    * legacy pipeline wrote stays where it is, owned by its writer,
    * while the table format takes over atomicity, stats and time
    * travel from the next commit on. */
  def q528AdoptParquet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogad_").toString + "/t"
      val ev = Tables.events(s, dir).select($"event_id", $"event_type")
      // the legacy job: plain parquet, no log, no stats
      ev.where(pmod($"event_id", lit(7)) === 1)
        .repartition(2).write.parquet(path)
      val res = s.sql(s"CALL graftlog.adopt('$path', 'event_id')")
        .collect().head
      require(res.getLong(0) == 1L && res.getLong(1) == 2L,
        s"q528: adoption must reference the 2 legacy files: $res")
      // the table lives on: a transactional append lands beside the
      // adopted references in the same snapshot
      TableLog.append(ev.where(pmod($"event_id", lit(7)) === 2), path, 2)
      path
    }
    TableLog.snapshot(s, t)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"event_id").as("sum_id"))
      .orderBy($"event_type")
  }

  private val q528Oracle =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(event_id) AS BIGINT) AS sum_id
      |FROM events WHERE event_id % 7 IN (1, 2)
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q509
  /** The COMPLETE WAP lifecycle from SQL — round 13 closes the loop
    * the q482/q500 machinery opened: fork (`CALL graftlog.branch`),
    * stage a corpus drop on the branch, AUDIT IT BY NAME
    * (`VERSION AS OF 'branch:<name>'` — no `_branches/...` filesystem
    * path in the audit query, Iceberg's branch-ref read), publish,
    * then `CALL graftlog.drop_branch` to reclaim the staging
    * directory — refused while unpublished work exists, safe after
    * publish by the adoption-link design (main hard-links branch-born
    * files into its own data dir, so the drop removes the LAST link
    * to nothing main references). The readout pins the pre-publish
    * branch preview, the published table, and the emptied `#branches`
    * inventory against one oracle. Zero-copy at any scale: fork is
    * O(chunks), publish O(delta), drop O(branch files). */
  def q509BranchLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogbl_").toString + "/t"
      val slice = ordersSlice(s, dir).select($"o_orderkey", $"o_totalprice")
      TableLog.create(slice.where($"o_orderkey" % 7 === 1),
        path, "o_orderkey", numFiles = 2)                            // v1
      s.sql(s"CALL graftlog.branch('$path', 'drop13')")
      TableLog.append(slice.where($"o_orderkey" % 7 === 3),
        s"$path/_branches/drop13", 2)
      // the pre-publish audit reads the branch BY NAME and must see
      // the staged drop while main is still unmoved
      val preview = s.sql(
        s"""SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS ks
           |FROM graftlog.`$path` VERSION AS OF 'branch:drop13'"""
          .stripMargin).head()
      val mainBefore =
        s.sql(s"SELECT count(*) FROM graftlog.`$path`").head().getLong(0)
      require(preview.getLong(0) > mainBefore,
        "branch-by-name read missed the staged drop")
      s.sql(s"CALL graftlog.publish('$path', 'drop13')")
      val n = s.sql(s"CALL graftlog.drop_branch('$path', 'drop13')")
        .head().getLong(0)
      require(n > 0L, "drop_branch reclaimed nothing")
      path
    }
    val published = s.sql(
      s"""SELECT 'published' AS side,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graftlog.`$t`""".stripMargin)
    val left = s.sql(
      s"""SELECT 'branches_left' AS side,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(0 AS BIGINT) AS key_sum
         |FROM graftlog.`$t#branches`""".stripMargin)
    published.unionByName(left).orderBy($"side")
  }

  private val q509Oracle =
    """SELECT 'branches_left' AS side, CAST(0 AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS key_sum
      |UNION ALL
      |SELECT 'published', CAST(count(*) AS BIGINT),
      |  CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderkey % 7 = 1 OR o_orderkey % 7 = 3
      |ORDER BY side""".stripMargin

  // ---------------------------------------------------------------- q507
  /** IDENTITY + GENERATED columns on the engine's remaining write
    * surfaces — the round-13 reachability close: a declaring table
    * fed by the EXACTLY-ONCE STREAMING SINK (ids allocated per
    * micro-batch inside the txn-ledger commit; the stream omits both
    * ALWAYS columns and the commit's completion pass finishes them)
    * and then mutated by a SQL `MERGE INTO` (matched arm updates a
    * value column — the generated column recomputes with the NEW
    * value substituted; the insert arm omits both ALWAYS columns —
    * the analyzer rule injects the allocate-marker and the generation
    * expression, and the staged commit audits every carried id
    * against the rewritten files' pre-image before allocating the
    * rest). The readout proves the allocator invariant END TO END
    * without depending on allocation order: ids are UNIQUE
    * (count distinct = count), DENSE from the declared START WITH
    * (min = 1000, max − min + 1 = count) across both write surfaces,
    * and the generated column agrees with its expression on every
    * row. At 100 TB: the completion pass reads only each commit's
    * own staged sliver; the audit joins are sliver-grain. */
  def q507IdentityMergeStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val root = Scratch.dir("graft_tlogims_").toString
      val path = s"$root/t"
      TableLog.createEmpty(path,
        "row_id BIGINT, o_orderkey BIGINT, o_orderstatus STRING, " +
          "status_lc STRING", "o_orderkey",
        props = Map("identity.row_id" -> "1000",
          "gencol.status_lc" -> "lower(o_orderstatus)"))
      val src = ordersSlice(s, dir).where($"o_orderkey" % 5 === 2)
        .select($"o_orderkey", $"o_orderstatus")
      src.write.parquet(s"$root/in")
      val q = s.readStream.schema(src.schema).parquet(s"$root/in")
        .writeStream.format("graft.sources.GraftLogStreamProvider")
        .option("path", path).option("txnAppId", "q507-ingest")
        .option("checkpointLocation", s"$root/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ordersSlice(s, dir)
        .where($"o_orderkey" % 5 === 2 || $"o_orderkey" % 5 === 4)
        .groupBy($"o_orderkey")
        .agg(min($"o_orderstatus").as("st"))
        .createOrReplaceTempView("q507_src")
      s.sql(
        s"""MERGE INTO graftlog.`$path` AS tgt USING q507_src AS src
           |ON tgt.o_orderkey = src.o_orderkey
           |WHEN MATCHED AND src.o_orderkey % 10 = 7
           |  THEN UPDATE SET o_orderstatus = 'X'
           |WHEN NOT MATCHED
           |  THEN INSERT (o_orderkey, o_orderstatus)
           |  VALUES (src.o_orderkey, src.st)""".stripMargin)
      path
    }
    val perStatus = s.sql(
      s"""SELECT o_orderstatus AS grp,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT row_id) AS BIGINT) AS n_ids,
         |  CAST(count(CASE WHEN status_lc = lower(o_orderstatus)
         |    THEN 1 END) AS BIGINT) AS n_gen
         |FROM graftlog.`$t` GROUP BY o_orderstatus""".stripMargin)
    val span = s.sql(
      s"""SELECT '__span' AS grp,
         |  CAST(count(DISTINCT row_id) AS BIGINT) AS n_rows,
         |  CAST(min(row_id) AS BIGINT) AS n_ids,
         |  CAST(max(row_id) - min(row_id) + 1 AS BIGINT) AS n_gen
         |FROM graftlog.`$t`""".stripMargin)
    perStatus.unionByName(span).orderBy($"grp")
  }

  private val q507Oracle =
    """WITH t0 AS (
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 5 = 2),
      |src AS (
      |  SELECT o_orderkey, min(o_orderstatus) AS st FROM orders
      |  WHERE o_orderkey % 5 = 2 OR o_orderkey % 5 = 4
      |  GROUP BY o_orderkey),
      |upd AS (
      |  SELECT CASE WHEN o_orderkey % 10 = 7 THEN 'X'
      |    ELSE o_orderstatus END AS st FROM t0),
      |ins AS (SELECT st FROM src WHERE o_orderkey % 5 = 4),
      |allr AS (SELECT st FROM upd UNION ALL SELECT st FROM ins)
      |SELECT st AS grp, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_ids,
      |  CAST(count(*) AS BIGINT) AS n_gen
      |FROM allr GROUP BY st
      |UNION ALL
      |SELECT '__span', CAST(count(*) AS BIGINT),
      |  CAST(1000 AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM allr
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------- q508
  /** GDPR erasure on the STANDARD 100-TB layout — a `days(ts)`-
    * partitioned events table — via MERGE-ON-READ deletion vectors.
    * Through round 12 the DV path refused partitioned tables, so a
    * data-subject delete on exactly the layout a production events
    * table uses (q461/q466's) downgraded to the full copy-on-write
    * rewrite q468 exists to avoid. Now the erasure writes KB-scale
    * position sidecars, rewrites NOTHING, and the commit decrements
    * each touched file's per-(file, tuple) row stats by the dying
    * rows' rendered UTC day ([[TableLog.deleteWhereDv]] →
    * `dvCommitEntries`), so partition stats stay EXACT through the
    * delete. The readout pins three planes against one oracle: the
    * `#partitions` metadata fold (day-grain live counts straight off
    * the manifest, zero data files opened), the data-plane day counts
    * (full-outer-joined — any metadata/data drift breaks the hash),
    * and the change-feed audit row enumerating exactly the erased
    * rows. At 100 TB: candidate scan once, sidecars in KBs, metadata
    * queries stay O(files) driver folds. */
  def q508GdprErasurePartitioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tloggp_").toString + "/t"
      val slice = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type")
        .where($"event_id" % 3 === 0)
      TableLog.create(slice, path, "event_id", numFiles = 4,
        partCols = Seq("days:ts"))                                    // v1
      TableLog.setProps(path,
        Map("delete.mode" -> "merge-on-read"))                        // v2
      // the data subject: deterministic, SQL-expressible — and the
      // erasure is the PLAIN SQL DELETE every DSR runbook issues; the
      // delete.mode gate routes it merge-on-read on the partitioned
      // layout (round 13 lifted the partitioned-DV refusal)
      val victim = slice.agg(min($"user_id")).collect().head.getLong(0)
      s.sql(s"DELETE FROM graftlog.`$path` WHERE user_id = $victim") // v3
      require(TableLog.state(path).active.exists(_.dv.isDefined),
        "SQL DELETE did not route merge-on-read on the partitioned table")
      path
    }
    val meta = s.sql(
      s"""SELECT `days(ts)` AS day, row_count
         |FROM graftlog.`$t#partitions`""".stripMargin)
    val data = s.sql(
      s"""SELECT CAST(CAST(ts AS DATE) AS STRING) AS day,
         |  CAST(count(*) AS BIGINT) AS n_live
         |FROM graftlog.`$t` GROUP BY 1""".stripMargin)
    val days = meta.join(data, Seq("day"), "full_outer")
      .select($"day", $"row_count", $"n_live")
    val audit = TableLog.diffVersions(s, t, 2L, 3L)
      .where($"action" === "delete")
      .agg(count(lit(1)).as("n"))
      .select(lit("__erased").as("day"), $"n".as("row_count"),
        $"n".as("n_live"))
    days.unionByName(audit).orderBy($"day")
  }

  private val q508Oracle =
    """WITH sl AS (
      |  SELECT event_id, ts, user_id, event_type FROM events
      |  WHERE event_id % 3 = 0),
      |v AS (SELECT min(user_id) AS victim FROM sl)
      |SELECT CAST(CAST(ts AS DATE) AS STRING) AS day,
      |  CAST(count(*) AS BIGINT) AS row_count,
      |  CAST(count(*) AS BIGINT) AS n_live
      |FROM sl, v WHERE user_id <> victim GROUP BY 1
      |UNION ALL
      |SELECT '__erased', CAST(count(*) AS BIGINT),
      |  CAST(count(*) AS BIGINT)
      |FROM sl, v WHERE user_id = victim
      |ORDER BY day""".stripMargin

  /** q516 — MERGE-ON-READ `MERGE INTO` (the sparse-CDC apply; closes
    * the last copy-on-write-only DML surface): a tri-clause SQL MERGE
    * on a PARTITIONED (`days(ts)`) IDENTITY table declaring
    * `merge.mode = 'merge-on-read'` routes through
    * [[graft.tablelog.TableLog.mergeDv]] — matched DELETE/UPDATE rows
    * die via deletion-vector sidecars (KBs; the fixture REQUIRES that
    * no original file rewrote), updated images and insert rows land
    * as fresh files with identity ids preserved (updates) or
    * allocated (inserts) in the SAME atomic commit. The result folds
    * three proofs into one frame: `#partitions` day counts straight
    * off the manifest (tuple stats decremented exactly through the
    * merge), the data-plane event_type histogram, and the distinct-id
    * count (allocator uniqueness through the merge). At 100 TB a
    * 0.1%-sparse CDC batch costs one candidate scan + KB sidecars +
    * the changed rows — not the full-file rewrites the COW MERGE
    * pays. Reference: the BQ MERGE surface over the loaded table
    * (`src/load/main.py:36-51` writes what users then MERGE-maintain). */
  def q516MorMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withCatalog(s)
    val t = {
      val path = Scratch.dir("graft_tlogmm_").toString + "/t"
      val slice = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type")
        .where($"event_id" % 3 === 0)
      TableLog.createEmpty(path, "sid BIGINT, " + slice.schema.toDDL,
        "event_id", partCols = Seq("days:ts"),
        props = Map("identity.sid" -> "1",
          "merge.mode" -> "merge-on-read"))                           // v1
      TableLog.appendIdentity(slice, path, 4)                         // v2
      val before = TableLog.state(path).active.map(_.relPath).toSet
      Tables.events(s, dir)
        .where($"event_id" % 5 === 0)
        .select($"event_id", $"ts", $"user_id",
          when($"event_id" % 2 === 0, "d").otherwise("u").as("op"))
        .createOrReplaceTempView("q516_src")
      // the plain tri-clause MERGE a CDC runbook issues; merge.mode
      // routes it merge-on-read
      s.sql(
        s"""MERGE INTO graftlog.`$path` tg USING q516_src s
           |ON tg.event_id = s.event_id
           |WHEN MATCHED AND s.op = 'd' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET event_type = 'corrected'
           |WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type)
           |  VALUES (s.event_id, s.ts, s.user_id, 'fresh')
           |""".stripMargin)                                          // v3
      val st = TableLog.state(path)
      require(st.active.exists(_.dv.isDefined),
        "SQL MERGE did not route merge-on-read under merge.mode")
      require(before.subsetOf(st.active.map(_.relPath).toSet),
        "merge-on-read MERGE rewrote an original file")
      path
    }
    val meta = s.sql(
      s"""SELECT concat('day:', `days(ts)`) AS dim, row_count AS cnt
         |FROM graftlog.`$t#partitions`""".stripMargin)
    val types = s.sql(
      s"""SELECT concat('type:', event_type) AS dim,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM graftlog.`$t` GROUP BY 1""".stripMargin)
    val ids = s.sql(
      s"""SELECT '__ids_distinct' AS dim,
         |  CAST(count(DISTINCT sid) AS BIGINT) AS cnt
         |FROM graftlog.`$t`""".stripMargin)
    meta.unionByName(types).unionByName(ids).orderBy($"dim", $"cnt")
  }

  private val q516Oracle =
    """WITH sl AS (
      |  SELECT event_id, ts, user_id, event_type FROM events
      |  WHERE event_id % 3 = 0),
      |src AS (
      |  SELECT event_id, ts, user_id,
      |    CASE WHEN event_id % 2 = 0 THEN 'd' ELSE 'u' END AS op
      |  FROM events WHERE event_id % 5 = 0),
      |surv AS (
      |  SELECT sl.event_id, sl.ts, sl.user_id,
      |    CASE WHEN u.event_id IS NOT NULL THEN 'corrected'
      |         ELSE sl.event_type END AS event_type
      |  FROM sl
      |  LEFT JOIN src u ON sl.event_id = u.event_id AND u.op = 'u'
      |  WHERE NOT EXISTS (SELECT 1 FROM src d
      |    WHERE d.event_id = sl.event_id AND d.op = 'd')),
      |ins AS (
      |  SELECT s.event_id, s.ts, s.user_id, 'fresh' AS event_type
      |  FROM src s WHERE s.event_id % 3 <> 0),
      |fin AS (SELECT * FROM surv UNION ALL SELECT * FROM ins)
      |SELECT 'day:' || CAST(CAST(ts AS DATE) AS STRING) AS dim,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM fin GROUP BY 1
      |UNION ALL
      |SELECT 'type:' || event_type, CAST(count(*) AS BIGINT)
      |FROM fin GROUP BY 1
      |UNION ALL
      |SELECT '__ids_distinct', CAST(count(*) AS BIGINT) FROM fin
      |ORDER BY dim, cnt""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q528_adopt_parquet" -> (q528AdoptParquet _),
    "q527_incremental_lsh_index" -> (q527IncrementalLshIndex _),
    "q524_copy_into" -> (q524CopyInto _),
    "q523_compact_where_zorder" -> (q523CompactWhereZorder _),
    "q520_incremental_mv_mor" -> (q520IncrementalMvMor _),
    "q519_compact_where" -> (q519CompactWhere _),
    "q516_mor_merge" -> (q516MorMerge _),
    "q514_dv_debt_advisor" -> (q514DvDebtAdvisor _),
    "q513_mor_update_sql" -> (q513MorUpdateSql _),
    "q509_branch_lifecycle" -> (q509BranchLifecycle _),
    "q508_gdpr_partitioned_mor" -> (q508GdprErasurePartitioned _),
    "q507_identity_merge_stream" -> (q507IdentityMergeStream _),
    "q506_snapshot_tags" -> (q506SnapshotTags _),
    "q500_publish_rebase" -> (q500PublishRebase _),
    "q499_sql_generated_insert" -> (q499SqlGeneratedInsert _),
    "q496_identity_column" -> (q496IdentityColumn _),
    "q495_deep_clone" -> (q495DeepClone _),
    "q494_generated_columns" -> (q494GeneratedColumns _),
    "q492_merge_evolve" -> (q492MergeEvolve _),
    "q491_changes_between_ts" -> (q491ChangesBetweenTimestamps _),
    "q490_persistent_view" -> (q490PersistentView _),
    "q482_branch_wap" -> (q482BranchWap _),
    "q486_branches_meta" -> (q486BranchesMeta _),
    "q489_partition_evolution" -> (q489PartitionEvolution _),
    "q481_default_widen" -> (q481DefaultWiden _),
    "q477_check_constraint" -> (q477CheckConstraint _),
    "q476_skew_advisor" -> (q476SkewAdvisor _),
    "q470_compact_small_sql" -> (q470CompactSmallSql _),
    "q468_gdpr_erasure" -> (q468GdprErasure _),
    "q466_days_stream_ingest" -> (q466DaysStreamIngest _),
    "q463_drop_column" -> (q463DropColumn _),
    "q462_rename_column" -> (q462RenameColumn _),
    "q461_days_partitioned_events" -> (q461DaysPartitionedEvents _),
    "q460_bucketed_key_join" -> (q460BucketedKeyJoin _),
    "q459_skip_change_commits" -> (q459SkipChangeCommits _),
    "q458_mor_delete_sql" -> (q458MorDeleteSql _),
    "q456_table_detail" -> (q456TableDetail _),
    "q455_mor_update" -> (q455MorUpdate _),
    "q454_deletion_vectors" -> (q454DeletionVectors _),
    "q451_table_changes_tvf" -> (q451TableChangesTvf _),
    "q449_shallow_clone" -> (q449ShallowClone _),
    "q446_column_stats_skip" -> (q446ColumnStatsSkip _),
    "q445_storage_partitioned_join" -> (q445StoragePartitionedJoin _),
    "q444_merge_tri_clause" -> (q444MergeTriClause _),
    "q442_catalog_restore" -> (q442CatalogRestore _),
    "q441_stream_by_name" -> (q441StreamByName _),
    "q437_named_catalog" -> (q437NamedCatalog _),
    "q436_truncate" -> (q436Truncate _),
    "q435_dynamic_overwrite" -> (q435DynamicOverwrite _),
    "q434_insert_overwrite" -> (q434InsertOverwrite _),
    "q433_partitions_meta" -> (q433PartitionsMeta _),
    "q432_partitioned_prune" -> (q432PartitionedPrune _),
    "q431_catalog_merge" -> (q431CatalogMerge _),
    "q430_catalog_update" -> (q430CatalogUpdate _),
    "q429_change_feed_stream" -> (q429ChangeFeedStream _),
    "q428_catalog_alter_add" -> (q428CatalogAlterAdd _),
    "q427_stats_pushdown" -> (q427StatsPushdown _),
    "q426_catalog_create" -> (q426CatalogCreate _),
    "q424_catalog_insert" -> (q424CatalogInsert _),
    "q425_catalog_delete" -> (q425CatalogDelete _),
    "q423_table_stream_sink" -> (q423TableStreamSink _),
    "q422_table_stream_source" -> (q422TableStreamSource _),
    "q421_catalog_history" -> (q421CatalogHistory _),
    "q417_catalog_sql" -> (q417CatalogSql _),
    "q418_catalog_time_travel" -> (q418CatalogTimeTravel _),
    "q419_vacuum_retention" -> (q419VacuumRetention _),
    "q355_table_replace_where" -> (q355TableReplaceWhere _),
    "q354_table_mv_refresh"  -> (q354TableMvRefresh _),
    "q351_table_zorder"      -> (q351TableZorder _),
    "q330_table_snapshot"    -> (q330TableSnapshot _),
    "q331_table_time_travel" -> (q331TableTimeTravel _),
    "q332_table_merge"       -> (q332TableMerge _),
    "q333_table_history"     -> (q333TableHistory _),
    "q334_table_pruned_read" -> (q334TablePrunedRead _),
    "q389_skipping_advisor" -> (q389SkippingAdvisor _),
    "q335_table_stream_ingest" -> (q335TableStreamIngest _),
    "q336_table_cdc_diff"    -> (q336TableCdcDiff _),
    "q337_table_schema_evolution" -> (q337TableSchemaEvolution _),
    "q338_table_bloom_skip"  -> (q338TableBloomSkip _),
    "q339_table_stats_only"  -> (q339TableStatsOnly _),
    "q340_table_incremental_feed" -> (q340TableIncrementalFeed _),
    "q341_table_cdc_apply"   -> (q341TableCdcApply _),
  )

  val oracles: Map[String, String] = Map(
    "q516_mor_merge" -> q516Oracle,
    "q528_adopt_parquet" -> q528Oracle,
    "q527_incremental_lsh_index" -> q527Oracle,
    "q524_copy_into" -> q524Oracle,
    "q523_compact_where_zorder" -> q523Oracle,
    "q520_incremental_mv_mor" -> q520Oracle,
    "q519_compact_where" -> q519Oracle,
    "q514_dv_debt_advisor" -> q514Oracle,
    "q513_mor_update_sql" -> q513Oracle,
    "q509_branch_lifecycle" -> q509Oracle,
    "q508_gdpr_partitioned_mor" -> q508Oracle,
    "q507_identity_merge_stream" -> q507Oracle,
    "q506_snapshot_tags" -> q506Oracle,
    "q500_publish_rebase" -> q500Oracle,
    "q499_sql_generated_insert" -> q499Oracle,
    "q496_identity_column" -> q496Oracle,
    "q495_deep_clone" -> q495Oracle,
    "q494_generated_columns" -> q494Oracle,
    "q492_merge_evolve" -> q492Oracle,
    "q491_changes_between_ts" -> q491Oracle,
    "q490_persistent_view" -> q490Oracle,
    "q482_branch_wap" -> q482Oracle,
    "q486_branches_meta" -> q486Oracle,
    "q489_partition_evolution" -> q489Oracle,
    "q481_default_widen" -> q481Oracle,
    "q477_check_constraint" -> q477Oracle,
    "q476_skew_advisor" -> q476Oracle,
    "q470_compact_small_sql" -> q470Oracle,
    "q468_gdpr_erasure" -> q468Oracle,
    "q466_days_stream_ingest" -> q466Oracle,
    "q463_drop_column" -> q463Oracle,
    "q462_rename_column" -> q462Oracle,
    "q461_days_partitioned_events" -> q461Oracle,
    "q460_bucketed_key_join" -> q460Oracle,
    "q459_skip_change_commits" -> q459Oracle,
    "q458_mor_delete_sql" -> q458Oracle,
    "q456_table_detail" -> q456Oracle,
    "q455_mor_update" -> q455Oracle,
    "q454_deletion_vectors" -> q454Oracle,
    "q451_table_changes_tvf" -> q336Oracle,
    "q449_shallow_clone" -> q449Oracle,
    "q446_column_stats_skip" -> q446Oracle,
    "q445_storage_partitioned_join" -> q445Oracle,
    "q444_merge_tri_clause" -> q444Oracle,
    "q442_catalog_restore" -> q442Oracle,
    "q441_stream_by_name" -> q441Oracle,
    "q437_named_catalog" -> q437Oracle,
    "q436_truncate" -> q436Oracle,
    "q435_dynamic_overwrite" -> q435Oracle,
    "q434_insert_overwrite" -> q434Oracle,
    "q433_partitions_meta" -> q433Oracle,
    "q432_partitioned_prune" -> q432Oracle,
    "q431_catalog_merge" -> q332Oracle,
    "q430_catalog_update" -> q430Oracle,
    "q429_change_feed_stream" -> q429Oracle,
    "q428_catalog_alter_add" -> q337Oracle,
    "q427_stats_pushdown" -> q427Oracle,
    "q426_catalog_create" -> q426Oracle,
    "q424_catalog_insert" -> q424Oracle,
    "q425_catalog_delete" -> q425Oracle,
    "q423_table_stream_sink" -> q335Oracle,
    "q422_table_stream_source" -> q422Oracle,
    "q421_catalog_history" -> q333Oracle,
    "q417_catalog_sql" -> q417Oracle,
    "q418_catalog_time_travel" -> q331Oracle,
    "q419_vacuum_retention" -> q419Oracle,
    "q355_table_replace_where" -> q355Oracle,
    "q354_table_mv_refresh"  -> q354Oracle,
    "q351_table_zorder"      -> q351Oracle,
    "q330_table_snapshot"    -> q330Oracle,
    "q331_table_time_travel" -> q331Oracle,
    "q332_table_merge"       -> q332Oracle,
    "q333_table_history"     -> q333Oracle,
    "q334_table_pruned_read" -> q334Oracle,
    "q389_skipping_advisor" -> q389Oracle,
    "q335_table_stream_ingest" -> q335Oracle,
    "q336_table_cdc_diff"    -> q336Oracle,
    "q337_table_schema_evolution" -> q337Oracle,
    "q338_table_bloom_skip"  -> q338Oracle,
    "q339_table_stats_only"  -> q339Oracle,
    "q340_table_incremental_feed" -> q340Oracle,
    "q341_table_cdc_apply"   -> q341Oracle,
  )
}
