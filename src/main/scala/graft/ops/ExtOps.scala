package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftSession, Tables}

/** Engine extensibility surface (SURVEY.md §2.2 "UDF / UDAF / UDTF")
  * and auxiliary source formats.
  *
  * The engine's stance is functions-not-UDFs on every hot path; this
  * module demonstrates that the extension points nevertheless exist
  * and compose: a scalar Scala `udf`, a typed `Aggregator` UDAF, and
  * a CSV round-trip source. The UDAF is deliberately order-insensitive
  * (max-tracking, no floating summation) so its result is exact and
  * DuckDB-comparable regardless of partitioning.
  */
object ExtOps {

  // ---------------------------------------------------------------- q26
  /** Scalar UDF: discount band. Catalyst can't see into it (no
    * pushdown/codegen through the lambda) — acceptable for a
    * low-cardinality derived grouping key, never for a filter you
    * want pushed to the scan. */
  private val discountBand = udf { d: Double =>
    if (d < 0.03) "low" else if (d < 0.07) "mid" else "high"
  }

  /** Typed UDAF: second-largest distinct value. Buffer is (max1,
    * max2); merge is commutative+associative, comparisons only — no
    * double summation, so the result is exact under any partition
    * order (the property that makes it safely oracle-comparable).
    * A group with fewer than two distinct values yields NULL (boxed
    * output), matching SQL's `max(x) FILTER (x < max)` — the -∞
    * sentinel never escapes the buffer. */
  object SecondMax extends Aggregator[Double, (Double, Double), java.lang.Double] {
    private val MinV = Double.NegativeInfinity
    def zero: (Double, Double) = (MinV, MinV)
    def reduce(b: (Double, Double), x: Double): (Double, Double) = insert(b, x)
    def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) =
      insert(insert(a, b._1), b._2)
    private def insert(b: (Double, Double), x: Double): (Double, Double) =
      if (x == b._1 || x == b._2) b             // distinct semantics
      else if (x > b._1) (x, b._1)
      else if (x > b._2) (b._1, x)
      else b
    def finish(b: (Double, Double)): java.lang.Double =
      if (b._2 == MinV) null else Double.box(b._2)
    def bufferEncoder: Encoder[(Double, Double)] = Encoders.product
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  def q26UdfUdaf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val secondMax = udaf(SecondMax)
    Tables.lineitem(s, dir)
      .select(discountBand($"l_discount").as("band"), $"l_extendedprice")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"),
        max($"l_extendedprice").as("max_price"),
        secondMax($"l_extendedprice").as("second_max_price"))
      .orderBy($"band")
  }

  private val q26Oracle =
    """WITH t AS (
      |  SELECT CASE WHEN l_discount < 0.03 THEN 'low'
      |              WHEN l_discount < 0.07 THEN 'mid'
      |              ELSE 'high' END AS band,
      |         l_extendedprice
      |  FROM lineitem),
      |m AS (SELECT band, max(l_extendedprice) mx FROM t GROUP BY band)
      |SELECT t.band, count(*) AS n, max(l_extendedprice) AS max_price,
      |  max(l_extendedprice) FILTER (l_extendedprice < mx) AS second_max_price
      |FROM t JOIN m ON t.band = m.band
      |GROUP BY t.band ORDER BY t.band""".stripMargin

  /** Run `body` against a scratch dir, eagerly materialize its
    * result (localCheckpoint — blocks in memory), then DELETE the
    * dir before returning: the q413 hygiene shared by every
    * format-roundtrip query. Repeated invocations in one JVM (bench
    * runs the whole query map) must not drip table copies into
    * /tmp. Callers apply their final ORDER BY after the checkpoint.
    * LOCAL-MODE constraint: the returned frame is backed only by the
    * checkpoint blocks — on a real cluster (dynamic allocation,
    * executor loss) those blocks are not recomputable once the source
    * dir is gone, so this helper is for the single-JVM bench/verify
    * harness; a cluster deployment would keep the dir until the
    * consumer finishes. */
  private def withScratch(prefix: String)(body: String => DataFrame): DataFrame = {
    val dirPath = Scratch.dir(prefix)
    try body(dirPath.toString).localCheckpoint(true)
    finally Scratch.rmTree(dirPath)
  }

  // ---------------------------------------------------------------- q81
  /** CSV source/sink round-trip: write `nation` as headered CSV,
    * read it back with a declared schema (FAILFAST — the contract
    * path never infers), prove fidelity against the parquet oracle.
    * CSV is the interchange format; Parquet stays the table format. */
  def q81CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withScratch("graft_csv") { tmp =>
      Tables.nation(s, dir)
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema)
        .option("header", "true").option("mode", "FAILFAST")
        .csv(tmp)
        .select($"n_nationkey".cast("long").as("n_nationkey"), $"n_name",
          $"n_regionkey".cast("long").as("n_regionkey"))
    }.orderBy($"n_nationkey")
  }

  private val q81Oracle =
    """SELECT CAST(n_nationkey AS BIGINT) n_nationkey, n_name,
      |  CAST(n_regionkey AS BIGINT) n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q82
  /** ORC source/sink round-trip — the second columnar format Spark
    * ships natively (vectorized reader, predicate pushdown, the
    * format a warehouse migration actually hands you). `supplier`
    * exercises long/string/int/double fidelity; the declared-schema
    * read mirrors q81's no-inference contract stance, and the oracle
    * is the parquet original, so any encode/decode drift fails the
    * hash. */
  def q82OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withScratch("graft_orc") { tmp =>
      Tables.supplier(s, dir).write.mode("overwrite").orc(tmp)
      s.read.schema(StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))))
        .orc(tmp)
    }.orderBy($"s_suppkey")
  }

  private val q82Oracle =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q371
  /** Avro source/sink round-trip — the ROW interchange format next to
    * q81 (CSV, untyped rows) and q82 (ORC, columnar): Avro is what
    * Kafka topics, schema registries, and ingestion buses actually
    * hand a 100-TB pipeline, and its writer embeds the schema so the
    * read back is self-describing. This Spark distribution ships the
    * Avro classes inside spark-sql but without the `avro` short-name
    * registration (no DataSourceRegister entry), so the format is
    * addressed by provider class — same engine path once resolved.
    * `customer` exercises long/string/int/double/string fidelity;
    * the oracle is the parquet original, so any encode/decode drift
    * fails the hash. */
  private val avroProvider = "org.apache.spark.sql.avro.AvroFileFormat"

  def q371AvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withScratch("graft_avro") { tmp =>
      Tables.customer(s, dir).write.mode("overwrite")
        .format(avroProvider).save(tmp)
      s.read.schema(StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
        .format(avroProvider).load(tmp)
    }.orderBy($"c_custkey")
  }

  private val q371Oracle =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q372
  /** XML source/sink round-trip (Spark 4's native XML data source,
    * the spark-xml package folded into core): the format enterprise
    * feeds, config exports, and legacy B2B interchange still arrive
    * in. Write `nation` as row-tagged XML, read it back with a
    * DECLARED schema (XML carries no types — inference on a contract
    * path is q81's same no-go), prove fidelity against the parquet
    * oracle. Scale posture: XML is a dimension/config feed format —
    * row-tag parsing is record-splittable but pays string parsing per
    * field, so facts stay parquet; this query keeps the XML side
    * dimension-sized on purpose. */
  def q372XmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withScratch("graft_xml") { tmp =>
      Tables.nation(s, dir).write.mode("overwrite")
        .option("rowTag", "nation").format("xml").save(tmp)
      s.read.schema(StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType),
        StructField("n_regionkey", LongType))))
        .option("rowTag", "nation").format("xml").load(tmp)
    }.orderBy($"n_nationkey")
  }

  private val q372Oracle =
    """SELECT CAST(n_nationkey AS BIGINT) n_nationkey, n_name,
      |  CAST(n_regionkey AS BIGINT) n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q379
  /** Native DataSource V2 SINK round-trip — the write-side connector
    * surface q226's SeqSource leaves uncovered: `customer` flows
    * through `graft.sources.BlobSinkProvider`, whose per-task
    * DataWriters land uncommitted `*.tmp` files and whose driver-side
    * job commit renames winners and publishes ONE atomic `_MANIFEST`
    * (readers list the manifest, never the directory — crashed
    * attempts and foreign files are invisible; BlobSinkSpec plants
    * both). The read-back goes through the same connector's
    * `_SCHEMA`-self-describing scan, so the oracle row proves the
    * whole write→commit→read path value-exact, doubles included
    * (Double.toString/parse round-trips exactly). This is the
    * reference's S8 append re-done with the guarantee it lacks:
    * all-or-nothing visibility (reference `src/load/main.py:40-43`
    * commits partial prefixes on failure). */
  def q379Dsv2Sink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withScratch("graft_blobsink") { tmp =>
      Tables.customer(s, dir).write
        .format("graft.sources.BlobSinkProvider")
        .mode("append").option("path", tmp).save()
      s.read.format("graft.sources.BlobSinkProvider")
        .option("path", tmp).load()
    }.orderBy($"c_custkey")
  }

  private val q379Oracle =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q420
  /** The engine-native image of the reference's extract→load pair
    * (reference `src/extract/main.py` pulls, `src/load/main.py`
    * appends) as ONE oracle-checked round-trip, with both ends on
    * the library's OWN connectors: q226's DSv2 source extracts (the
    * id-range predicate pushes INTO the source, which statically
    * prunes generation chunks — 5 of 8 survive), a conform step
    * derives batch/tier columns (T0's stamp shape), q379's DSv2 sink
    * loads under an atomic `_MANIFEST` commit, and the readout
    * aggregates THROUGH the sink's manifest-listed scan. Every hop
    * is engine-owned: no file path is ever listed, no partial batch
    * is ever visible, and the oracle regenerates the whole pipeline
    * from generate_series + identical integer arithmetic — the
    * extract→transform→load contract is hash-checked end to end.
    * Scratch dir deleted after the readout materializes (q413's
    * hygiene). */
  def q420Dsv2RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withScratch("graft_rt420") { out =>
      val extracted = s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "100000").option("parts", "8").load()
        .where($"id" >= 10000L && $"id" < 60000L)
      val conformed = extracted.select($"id", $"grp",
        ($"val" % 97L).as("tier"), expr("id div 10000").as("batch"))
      conformed.write.format("graft.sources.BlobSinkProvider")
        .mode("append").option("path", out).save()
      s.read.format("graft.sources.BlobSinkProvider")
        .option("path", out).load()
        .groupBy($"grp", $"batch")
        .agg(count(lit(1)).as("n"), sum($"tier").as("sum_tier"))
    }.orderBy($"grp", $"batch")
  }

  private val q420Oracle =
    """SELECT 'g' || CAST(id % 10 AS VARCHAR) AS grp,
      |  CAST(id // 10000 AS BIGINT) AS batch,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(((id * 2654435761) % 1000003) % 97) AS BIGINT) AS sum_tier
      |FROM generate_series(10000, 59999) t(id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Bucketed-table layout: both join sides written once with
    * `bucketBy(8, key).sortBy(key)`, then joined WITHOUT an Exchange —
    * the shuffle is paid at write time and amortized over every
    * subsequent join/aggregation on that key. This is the layout move
    * that makes a 100-TB fact⋈fact join tractable: neither side fits
    * a broadcast, and re-shuffling 100 TB per query is the cost
    * bucketing deletes. The `repartition(nBuckets, key)` before the
    * write uses the same murmur3-pmod hash as the bucket assignment,
    * so each write task holds exactly one bucket → ONE file per
    * bucket, which is what lets the scan also honor `sortBy` and drop
    * the per-partition Sort. `hint("merge")` keeps the demo honest at
    * sf-test size (the fixture's lineitem would otherwise broadcast;
    * at target scale neither side can). PlanSpec pins the join
    * subtree Exchange-free.
    *
    * The bucketed tables are registered in the session catalog
    * (bucket metadata lives there); they persist for the session
    * because the returned plan lazily scans them. Re-runs are
    * idempotent: DROP IF EXISTS + overwrite into a fresh scratch
    * path. */
  val nBuckets = 8

  private[graft] def q86Join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wh = Scratch.dir("graft_bucketed").toString
    s.sql("DROP TABLE IF EXISTS graft_bk_orders")
    s.sql("DROP TABLE IF EXISTS graft_bk_lineitem")
    Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority")
      .repartition(nBuckets, $"o_orderkey")
      .write.mode("overwrite")
      .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders").saveAsTable("graft_bk_orders")
    Tables.lineitem(s, dir).select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .repartition(nBuckets, $"l_orderkey")
      .write.mode("overwrite")
      .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem").saveAsTable("graft_bk_lineitem")
    s.table("graft_bk_orders").hint("merge")
      .join(s.table("graft_bk_lineitem"), $"o_orderkey" === $"l_orderkey")
  }

  def q86BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q86Join(s, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast("decimal(12,2)") *
          (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)")))
          .cast("double").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  private val q86Oracle =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Single-pass column profiling — the data-quality sweep a pipeline
    * runs before training on a new source: per column, row count,
    * null count, and exact distinct count, unpivoted to one row per
    * column. All 2·k+1 aggregates ride ONE scan; Spark plans the
    * multi-distinct via Expand (k× row fan-out in the shuffle, never
    * a second scan). At 100 TB swap `count_distinct` for
    * `approx_count_distinct` (q40): same single-pass plan, constant
    * sketch memory instead of per-column hash sets. A planted all-NULL
    * row (o_orderkey = -1, mirrored in the oracle) proves the
    * null-counting path — the fixture itself is null-free.
    *
    * The column list is a shared constant interpolated into BOTH the
    * Spark aggregation and the oracle SQL, so the two can't drift. */
  private val profileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  def q89ColumnProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nullRow = s.sql(
      """SELECT CAST(-1 AS BIGINT) o_orderkey, CAST(NULL AS BIGINT) o_custkey,
        |  CAST(NULL AS STRING) o_orderstatus, CAST(NULL AS DOUBLE) o_totalprice,
        |  CAST(NULL AS TIMESTAMP) o_orderdate, CAST(NULL AS STRING) o_orderpriority
        |""".stripMargin)
    val df = Tables.orders(s, dir).unionByName(nullRow)
    val aggs = count(lit(1)).as("n_rows") +: profileCols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nn"), count_distinct(col(c)).as(s"${c}__nd")))
    val stacked = s"stack(${profileCols.length}, " +
      profileCols.map(c => s"'$c', ${c}__nn, ${c}__nd").mkString(", ") +
      ") AS (col_name, n_nonnull, n_distinct)"
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows", stacked)
      .select($"col_name", $"n_rows", ($"n_rows" - $"n_nonnull").as("n_null"),
        $"n_distinct")
      .orderBy($"col_name")
  }

  private val q89Oracle = {
    val perCol = profileCols.map { c =>
      s"""SELECT '$c' AS col_name, n_rows, n_rows - ${c}__nn AS n_null,
         |  ${c}__nd AS n_distinct FROM p""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH o AS (
       |  SELECT * FROM orders
       |  UNION ALL
       |  SELECT -1, NULL, NULL, NULL, NULL, NULL),
       |p AS (SELECT count(*) AS n_rows,
       |  ${profileCols.map(c => s"count($c) AS ${c}__nn, count(DISTINCT $c) AS ${c}__nd").mkString(",\n  ")}
       |  FROM o)
       |$perCol
       |ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------- q98
  /** Range-partitioned sorted layout — q86's sibling for RANGE
    * predicates: `repartitionByRange + sortWithinPartitions` writes
    * files whose key ranges are pairwise DISJOINT (the range
    * partitioner keeps equal keys together), so a time-window scan
    * can skip whole files on parquet min/max stats instead of
    * reading everything — the layout move behind every date-sorted
    * event table. The sort is paid once at write; every later range
    * query gets scan locality for free. ExtOpsSpec asserts the
    * on-disk invariant directly (per-file min/max intervals don't
    * overlap); the oracle proves read-back fidelity through a range
    * filter + aggregate. */
  private[graft] def q98Write(s: SparkSession, dir: String): String = {
    import s.implicits._
    val tmp = Scratch.dir("graft_sorted").toString
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_shipdate", $"l_extendedprice", $"l_returnflag")
      .repartitionByRange(8, $"l_shipdate")
      .sortWithinPartitions($"l_shipdate")
      .write.mode("overwrite").parquet(tmp)
    tmp
  }

  def q98SortedLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = q98Write(s, dir)
    s.read.parquet(tmp)
      .where($"l_shipdate" >= lit("1997-06-01").cast("timestamp") &&
             $"l_shipdate" <  lit("1997-09-01").cast("timestamp"))
      .groupBy(month($"l_shipdate").cast("long").as("ship_month"))
      .agg(count(lit(1)).as("n"),
        sum($"l_extendedprice".cast("decimal(12,2)")).cast("double").as("revenue"))
      .orderBy($"ship_month")
  }

  private val q98Oracle =
    """SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month, count(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-09-01 00:00:00'
      |GROUP BY 1 ORDER BY ship_month""".stripMargin

  // ---------------------------------------------------------------- q108
  /** Z-order (Morton) multi-column layout — q98's sibling for
    * predicates on EITHER of two keys: scale both keys to 16-bit
    * codes, interleave their bits into one Morton key z, then
    * partition the write by z's top 3 bits (an aligned quadtree
    * octant — partkey half × suppkey quarter) and sort files by z
    * inside. Every written partition then covers a BOUNDED rectangle
    * of (partkey, suppkey) space instead of a full stripe, so file
    * skipping works for predicates on either column — the layout
    * behind lakehouse OPTIMIZE ZORDER, expressed with stock Spark
    * integer expressions + partitionBy. Octant dirs (not
    * repartitionByRange) keep cell boundaries exact: a range
    * partitioner's sampled cuts can straddle two octants, whose
    * union is unbounded on one axis. The interleave is generated
    * once and rendered per engine dialect; disjoint bits are summed.
    * ExtOpsSpec asserts the per-octant rectangle bound off the real
    * files and replays the interleave bit-for-bit; the oracle proves
    * read-back fidelity through a two-column rectangle filter a
    * plain lineitem scan reproduces. At 100 TB: one bounds agg
    * (broadcast), one shuffle on the octant key, and the write —
    * same cost shape as any partitioned write. */
  private[graft] def zTerms(shiftL: (String, Int) => String,
      shiftR: (String, Int) => String, x: String, y: String): String =
    zTermsN(shiftL, shiftR, Seq(x, y), 16)

  /** N-column Morton interleave over pre-scaled `bits`-wide inputs:
    * column j's bit i lands at position N·i + j (later columns more
    * significant within each round, matching the historical 2-column
    * x/y layout exactly). The caller picks `bits` so N·bits ≤ 62 —
    * 16 bits through 3 columns, 15 at 4 (bit 63 is the sign). */
  private[graft] def zTermsN(shiftL: (String, Int) => String,
      shiftR: (String, Int) => String, cols: Seq[String],
      bits: Int): String =
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftL(s"(${shiftR(c, i)} & 1)", cols.size * i + j)
      }
    }.mkString(" + ")

  /** 16-bit × 16-bit Morton interleave over pre-scaled `sx`/`sy`
    * columns — shared with TableLog's OPTIMIZE-ZORDER compaction so
    * the two layouts cannot drift. */
  private[graft] val zSpark = zTerms(
    (e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)", "sx", "sy")

  private[graft] def q108Write(s: SparkSession, dir: String): String = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_linenumber",
      $"l_partkey", $"l_suppkey", $"l_quantity", $"l_returnflag")
    val bounds = li.agg(
      min($"l_partkey").as("minp"), max($"l_partkey").as("maxp"),
      min($"l_suppkey").as("mins"), max($"l_suppkey").as("maxs"))
    val tmp = Scratch.dir("graft_zorder").toString
    li.crossJoin(broadcast(bounds))
      .withColumn("sx", expr("((l_partkey - minp) * 65535) div (maxp - minp)"))
      .withColumn("sy", expr("((l_suppkey - mins) * 65535) div (maxs - mins)"))
      .withColumn("z", expr(zSpark))
      .withColumn("z_oct", shiftright($"z", 29))
      .drop("minp", "maxp", "mins", "maxs", "sx", "sy")
      .repartition(8, $"z_oct")
      .sortWithinPartitions($"z")
      .write.mode("overwrite").partitionBy("z_oct").parquet(tmp)
    tmp
  }

  def q108ZOrderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = q108Write(s, dir)
    val bounds = Tables.lineitem(s, dir).agg(
      min($"l_partkey").as("minp"), max($"l_partkey").as("maxp"),
      min($"l_suppkey").as("mins"), max($"l_suppkey").as("maxs"))
    s.read.parquet(tmp).crossJoin(broadcast(bounds))
      .where(expr("l_partkey <= minp + (maxp - minp) div 4") &&
             expr("l_suppkey <= mins + (maxs - mins) div 4"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity").cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  private val q108Oracle =
    """WITH b AS (
      |  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
      |         min(l_suppkey) AS mins, max(l_suppkey) AS maxs
      |  FROM lineitem)
      |SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
      |FROM lineitem, b
      |WHERE l_partkey <= minp + (maxp - minp) // 4
      |  AND l_suppkey <= mins + (maxs - mins) // 4
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q133
  /** Compaction planner: assign documents to target-size output bins
    * by greedy cumulative packing in (source, doc_id) order — the
    * plan a small-file compactor executes (bin = output file). The
    * greedy rule is `bin = floor(bytes_before_me / target)`: purely
    * sequential, deterministic, and order-preserving, so compacted
    * files keep the table's sort layout (q98/q108's property).
    *
    * The prefix sum is computed HIERARCHICALLY, not with one
    * per-source window: a single `Window.partitionBy(source)` is a
    * scale-killer (one task must sort one source's entire corpus —
    * 100 TB sources exist). Instead: (1) an in-chunk running sum
    * windowed over (source, chunk) where chunk = doc_id div
    * [[compactionChunk]] — bounded partitions; (2) chunk TOTALS
    * (corpus/chunk rows) windowed per source — the same pattern one
    * level up, [[compactionChunk]]× smaller, and recursively
    * collapsible if even that tier is hot; (3) a broadcast join adds
    * each chunk's offset back. Exact integer arithmetic end-to-end,
    * so the two-tier sum is bit-equal to the oracle's single window. */
  val compactionTarget = 2048L
  val compactionChunk  = 256L

  def q133CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sized = Tables.table(s, dir, "documents")
      .select($"source", $"doc_id", $"n_chars",
        ($"doc_id" / compactionChunk).cast("long").as("chunk"))
    val wIn = Window.partitionBy($"source", $"chunk").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wChunk = Window.partitionBy($"source").orderBy($"chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sized.groupBy($"source", $"chunk")
      .agg(sum($"n_chars").as("tot"))
      .select($"source", $"chunk",
        coalesce(sum($"tot").over(wChunk), lit(0L)).as("off"))
    sized
      .withColumn("cum_in", coalesce(sum($"n_chars").over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("source", "chunk"))
      .select($"source", $"doc_id", $"n_chars",
        expr(s"(off + cum_in) div $compactionTarget").as("bin"))
      .groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("bin_chars"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"bin")
  }

  private val q133Oracle =
    s"""WITH sized AS (
       |  SELECT source, doc_id, n_chars,
       |    COALESCE(CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      AS cum_before
       |  FROM documents)
       |SELECT source, cum_before // $compactionTarget AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS bin_chars,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM sized GROUP BY 1, 2 ORDER BY source, bin""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Data-contract validation report — the expectation gate (Deequ /
    * dbt-test shape) a pipeline runs before promoting a batch: each
    * declared constraint row reports its violation count and
    * pass/fail. Constraints: key non-null + unique, derived-column
    * consistency (n_chars = len(text)), categorical domain (lang ∈
    * declared set, NULL counts as a violation), non-empty payload,
    * and fixed embedding dimensionality.
    *
    * ALL constraints of a table evaluate in ONE scan: each is a
    * conditional partial aggregate fused into the same agg node
    * (uniqueness is the one distinct-requiring term), and the single
    * result row unpivots via stack (q131's device) — never one scan
    * per check, which is how naive expectation suites turn a 10-
    * check contract into 10 reads of 100 TB. */
  val langDomain: Seq[String] = Seq("de", "en", "es", "fr", "zh")
  val embeddingDim = 64

  def q142ContractChecks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val langList = langDomain.map(l => lit(l))
    val doc = Tables.table(s, dir, "documents").agg(
      count(lit(1)).as("n_rows"),
      sum(when($"doc_id".isNull, 1L).otherwise(0L)).as("v1"),
      (count(lit(1)) - countDistinct($"doc_id")).as("v2"),
      sum(when($"n_chars" =!= length($"text"), 1L).otherwise(0L)).as("v3"),
      sum(when(coalesce($"lang".isin(langList: _*), lit(false)), 0L)
        .otherwise(1L)).as("v4"),
      sum(when(length($"text") === 0, 1L).otherwise(0L)).as("v5"))
      .select(lit("documents").as("tbl"), $"n_rows", expr(
        """stack(5,
          |  'doc_id_not_null', v1, 'doc_id_unique', v2,
          |  'n_chars_consistent', v3, 'lang_in_domain', v4,
          |  'text_nonempty', v5) AS (check_name, n_violations)""".stripMargin))
    val emb = Tables.embeddings(s, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when($"vec_id".isNull, 1L).otherwise(0L)).as("v1"),
      (count(lit(1)) - countDistinct($"vec_id")).as("v2"),
      sum(when(size($"embedding") =!= embeddingDim, 1L).otherwise(0L)).as("v3"))
      .select(lit("embeddings").as("tbl"), $"n_rows", expr(
        """stack(3,
          |  'embedding_dim', v3, 'vec_id_not_null', v1,
          |  'vec_id_unique', v2) AS (check_name, n_violations)""".stripMargin))
    doc.unionAll(emb)
      .select($"tbl", $"check_name", $"n_rows", $"n_violations",
        when($"n_violations" === 0, 1).otherwise(0).as("pass"))
      .orderBy($"tbl", $"check_name")
  }

  private val q142Oracle = {
    val langs = langDomain.map(l => s"'$l'").mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |    CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS v2,
       |    CAST(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
       |    CAST(sum(CASE WHEN lang IN ($langs) THEN 0 ELSE 1 END) AS BIGINT) AS v4,
       |    CAST(sum(CASE WHEN len(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v5
       |  FROM documents),
       |e AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |    CAST(count(*) - count(DISTINCT vec_id) AS BIGINT) AS v2,
       |    CAST(sum(CASE WHEN len(embedding) <> $embeddingDim THEN 1 ELSE 0 END)
       |      AS BIGINT) AS v3
       |  FROM embeddings),
       |rows0 AS (
       |  SELECT 'documents' AS tbl, 'doc_id_not_null' AS check_name, n_rows, v1 AS n_violations FROM d
       |  UNION ALL SELECT 'documents', 'doc_id_unique', n_rows, v2 FROM d
       |  UNION ALL SELECT 'documents', 'n_chars_consistent', n_rows, v3 FROM d
       |  UNION ALL SELECT 'documents', 'lang_in_domain', n_rows, v4 FROM d
       |  UNION ALL SELECT 'documents', 'text_nonempty', n_rows, v5 FROM d
       |  UNION ALL SELECT 'embeddings', 'embedding_dim', n_rows, v3 FROM e
       |  UNION ALL SELECT 'embeddings', 'vec_id_not_null', n_rows, v1 FROM e
       |  UNION ALL SELECT 'embeddings', 'vec_id_unique', n_rows, v2 FROM e)
       |SELECT tbl, check_name, n_rows, n_violations,
       |  CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS pass
       |FROM rows0 ORDER BY tbl, check_name""".stripMargin
  }

  // ---------------------------------------------------------------- q150
  /** Referential-integrity audit over the warehouse FK graph — the
    * check q142's single-table contracts can't express: does every
    * child key resolve to a parent row? (orders→customer plus all
    * three lineitem FKs). A naive expectation suite runs one
    * anti-join — and therefore one full fact scan — per constraint;
    * at 100 TB that turns a 4-constraint audit into 4 reads of the
    * biggest table. Here every FK of a child table is audited in ONE
    * pass: the fact scans once, left-joins each parent's key-only
    * projection (Catalyst prunes the parents to single columns and
    * broadcasts the small ones), and a single aggregate counts the
    * NULL parent keys per constraint before `stack` unpivots to one
    * row per FK (q142's device). Orphan detection needs parent
    * EXISTENCE only, so the join side is `parent.select(key)
    * .distinct()` — the dedup keeps the join from inflating child
    * counts for 1:N parents and its shuffle carries bare keys. */
  private[ops] def fkAudit(child: DataFrame,
      parents: Seq[(String, DataFrame, String, String)]): DataFrame = {
    val joined = parents.foldLeft(child) { case (df, (_, parent, ck, pk)) =>
      df.join(parent.select(col(pk)).distinct(), col(ck) === col(pk), "left")
    }
    val orphanCols = parents.zipWithIndex.map { case ((_, _, _, pk), i) =>
      sum(when(col(pk).isNull, 1L).otherwise(0L)).as(s"v$i")
    }
    val stackArgs = parents.zipWithIndex
      .map { case ((name, _, _, _), i) => s"'$name', v$i" }.mkString(", ")
    joined.agg(count(lit(1)).as("n_rows"), orphanCols: _*)
      .select(col("n_rows"), expr(
        s"stack(${parents.size}, $stackArgs) AS (constraint_name, n_orphans)"))
  }

  def q150ReferentialAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = fkAudit(
      Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey", $"l_suppkey"),
      Seq(
        ("lineitem.l_orderkey->orders.o_orderkey",
          Tables.orders(s, dir), "l_orderkey", "o_orderkey"),
        ("lineitem.l_partkey->part.p_partkey",
          Tables.part(s, dir), "l_partkey", "p_partkey"),
        ("lineitem.l_suppkey->supplier.s_suppkey",
          Tables.supplier(s, dir), "l_suppkey", "s_suppkey")))
    val ord = fkAudit(
      Tables.orders(s, dir).select($"o_custkey"),
      Seq(("orders.o_custkey->customer.c_custkey",
        Tables.customer(s, dir), "o_custkey", "c_custkey")))
    li.unionAll(ord)
      .select($"constraint_name", $"n_rows".as("child_rows"), $"n_orphans",
        when($"n_orphans" === 0, 1).otherwise(0).as("pass"))
      .orderBy($"constraint_name")
  }

  private val q150Oracle =
    """WITH li AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
      |    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2
      |  FROM lineitem l
      |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |    ON l.l_orderkey = o.o_orderkey
      |  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
      |    ON l.l_partkey = p.p_partkey
      |  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
      |    ON l.l_suppkey = s.s_suppkey),
      |od AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0
      |  FROM orders o
      |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |    ON o.o_custkey = c.c_custkey),
      |rows0 AS (
      |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS constraint_name,
      |    n_rows, v0 AS n_orphans FROM li
      |  UNION ALL SELECT 'lineitem.l_partkey->part.p_partkey', n_rows, v1 FROM li
      |  UNION ALL SELECT 'lineitem.l_suppkey->supplier.s_suppkey', n_rows, v2 FROM li
      |  UNION ALL SELECT 'orders.o_custkey->customer.c_custkey', n_rows, v0 FROM od)
      |SELECT constraint_name, n_rows AS child_rows, n_orphans,
      |  CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS pass
      |FROM rows0 ORDER BY constraint_name""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Schema-evolution read: two parquet snapshots of the same logical
    * table written under DIFFERENT schemas — an early batch without
    * `o_orderpriority`, a later batch that added it — read back as
    * one frame via `mergeSchema`, the lakehouse answer to "a column
    * was added mid-history; old files must not block the scan".
    * Spark fills the missing column with NULL for old files; the
    * merged read stays a single vectorized parquet scan per file
    * (schema reconciliation is footer-time metadata work, so the
    * pattern costs footer reads, not data rewrites — which is why
    * additive evolution is free at 100 TB while type CHANGES require
    * a q133-style rewrite plan). The oracle rebuilds the same frame
    * relationally: priority NULLed exactly where the old-schema files
    * held the row, so a merge that dropped rows, reordered columns,
    * or resurrected the column for old files fails the hash.
    * Complements q48 (unionByName reconciles two FRAMES in the plan;
    * this reconciles FILES in the source) and q81/q82 (same-schema
    * format round-trips). */
  def q166SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = Scratch.dir("graft_evo").toString
    val orders = Tables.orders(s, dir)
    orders.where($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").parquet(s"$tmp/batch=1")
    orders.where($"o_orderkey" % 2 === 1)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/batch=2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/batch=1", s"$tmp/batch=2")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  private val q166Oracle =
    """SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority ELSE NULL END
      |    AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q183
  /** Sample percentage for the q183 estimator (md5-bucket, q49's
    * deterministic device). */
  val cardSamplePct = 5

  /** Join-cardinality estimation by deterministic key sampling: scale
    * up the row count of (sampled build side ⋈ full probe side) —
    * the pre-flight a pipeline runs before committing cluster hours
    * to an unfamiliar join ("will this fan out 10× or 10⁶×?").
    * Sampling KEYS (not result rows) keeps per-key fan-out intact,
    * which is exactly what uniform row sampling of the JOIN RESULT
    * would get wrong; the estimator is unbiased because every key
    * carries its full multiplicity or none. The sample is an
    * md5-bucket of the key (q49's discipline) so the estimate is
    * reproducible across engines — which also makes an
    * "approximate" planning number exactly hash-checkable. The
    * exact count rides along as the diagnostic (the cost the
    * estimator avoids; production drops that branch); error in ppm
    * of exact, division-free signed diff (q170's rule). */
  def q183JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scale = 100L / cardSamplePct
    val sampled = Tables.orders(s, dir).select($"o_orderkey")
      .where(conv(substring(md5(concat(lit("card:"),
        $"o_orderkey".cast("string"))), 1, 4), 16, 10)
        .cast("long") % 100 < cardSamplePct)
    val li = Tables.lineitem(s, dir).select($"l_orderkey")
    val est = sampled.join(li, $"o_orderkey" === $"l_orderkey")
      .agg((count(lit(1)) * scale).as("est_rows"))
    val exact = Tables.orders(s, dir).select($"o_orderkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .agg(count(lit(1)).as("exact_rows"))
    exact.crossJoin(est)
      .select($"exact_rows", $"est_rows",
        ($"est_rows" - $"exact_rows").as("diff"),
        expr("(1000000 * abs(est_rows - exact_rows)) div exact_rows")
          .as("abs_err_ppm"))
  }

  private val q183Oracle =
    s"""WITH s AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE ('0x' || substr(md5('card:' || CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT
       |    % 100 < $cardSamplePct),
       |est AS (
       |  SELECT CAST(count(*) AS BIGINT) * ${100 / cardSamplePct} AS est_rows
       |  FROM s JOIN lineitem ON o_orderkey = l_orderkey),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS exact_rows
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
       |SELECT exact_rows, est_rows, est_rows - exact_rows AS diff,
       |  CAST((1000000 * abs(est_rows - exact_rows)) // exact_rows AS BIGINT)
       |    AS abs_err_ppm
       |FROM ex, est""".stripMargin

  // ---------------------------------------------------------------- q214
  /** Pipeline observability via the `Observation` API: a filter job
    * (high-value lineitems) instrumented with `observe()` metrics —
    * rows seen, rows kept, exact value total kept — collected as a
    * side effect of the job's OWN single pass. The alternative every
    * pipeline starts with is a second aggregate scan per metric
    * batch; `observe` attaches the aggregates to the existing plan,
    * so the metrics are free at any scale (the exact reason the API
    * exists). The observed values are re-emitted as the query result
    * (one metadata-sized row assembled on the driver — control
    * plane, q71's collect discipline); the oracle recomputes the
    * same metrics relationally, proving observation ≡ aggregation.
    * Metrics stick to exact integers (counts + cent sums) per the
    * house determinism rule. */
  val observeCutoffCents = 5000000L

  def q214ObservedMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = new org.apache.spark.sql.Observation("graft_q214")
    val kept = Tables.lineitem(s, dir)
      .select(expr("CAST(round(l_extendedprice * 100D) AS BIGINT)").as("cents"))
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(when($"cents" >= observeCutoffCents, 1L).otherwise(0L))
          .as("rows_kept"),
        sum(when($"cents" >= observeCutoffCents, $"cents").otherwise(0L))
          .as("kept_cents"))
      .where($"cents" >= observeCutoffCents)
    // the job's real action; metrics ride along with NO second scan
    val keptRows = kept.count()
    val m = obs.get
    val seen = m("rows_seen").asInstanceOf[Long]
    val nKept = m("rows_kept").asInstanceOf[Long]
    val cents = m("kept_cents").asInstanceOf[Long]
    s.range(1).select(
      lit(seen).as("rows_seen"),
      lit(nKept).as("rows_kept"),
      lit(keptRows).as("rows_kept_action"),
      lit(cents).as("kept_cents"),
      lit(1000000L * nKept / seen).as("keep_ppm"))
  }

  private val q214Oracle =
    s"""WITH v AS (
       |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
       |  FROM lineitem)
       |SELECT CAST(count(*) AS BIGINT) AS rows_seen,
       |  CAST(sum(CASE WHEN cents >= $observeCutoffCents THEN 1 ELSE 0 END)
       |    AS BIGINT) AS rows_kept,
       |  CAST(sum(CASE WHEN cents >= $observeCutoffCents THEN 1 ELSE 0 END)
       |    AS BIGINT) AS rows_kept_action,
       |  CAST(sum(CASE WHEN cents >= $observeCutoffCents THEN cents ELSE 0 END)
       |    AS BIGINT) AS kept_cents,
       |  CAST((1000000 * sum(CASE WHEN cents >= $observeCutoffCents
       |    THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS keep_ppm
       |FROM v""".stripMargin

  // ---------------------------------------------------------------- q226
  /** Aggregation over the library's native DataSource V2 connector
    * (`graft.sources.SeqSourceProvider`) — the query that proves the
    * engine owns a full Catalyst-negotiating source, not just file
    * scans: the id-range predicate pushes INTO the source (which
    * statically prunes generation chunks), the projection prunes
    * generated columns, and what remains is an ordinary
    * map-side-combining aggregate. The oracle regenerates the same
    * rows with DuckDB's generate_series and identical Knuth-hash
    * integer arithmetic — connector correctness is hash-checked,
    * not trusted. PlanSpec pins the pushed range and the chunk
    * pruning via the scan description. */
  def q226Dsv2Source(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "100000").option("parts", "8").load()
      .where($"id" >= 25000L && $"id" < 75000L)
      .groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"val").as("sum_val"))
      .orderBy($"grp")
  }

  private val q226Oracle =
    """SELECT 'g' || CAST(id % 10 AS VARCHAR) AS grp,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum((id * 2654435761) % 1000003) AS BIGINT) AS sum_val
      |FROM generate_series(25000, 74999) t(id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q227
  /** The SQL front-end driving the library's NATIVE functions — q51
    * proves spark.sql over views; this proves the extension story:
    * `graft_dot` (the codegen'd FloatVecDot) resolves as a SQL
    * function and plans the same tight loop the Column API gets.
    * Functions install via GraftFunctions (post-hoc registry path
    * here, so ANY session can run this; config path
    * `spark.sql.extensions=graft.GraftExtensions` feeds the same
    * descriptor list — ExtOpsSpec asserts both paths resolve).
    * Query: top-20 most-similar pairs among the first 50 embeddings,
    * full cosine in SQL; q70's oracle device mirrors it. Temp view
    * dropped after planning (q51's hygiene). */
  def q227ExtensionSql(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.install(s)
    Tables.embeddings(s, dir).where(col("vec_id") < 50)
      .createOrReplaceTempView("emb_ext")
    try s.sql(
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  graft_dot(a.embedding, b.embedding) /
        |    (sqrt(graft_dot(a.embedding, a.embedding)) *
        |     sqrt(graft_dot(b.embedding, b.embedding))) AS cosine
        |FROM emb_ext a JOIN emb_ext b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC, a_id, b_id LIMIT 20""".stripMargin)
    finally s.catalog.dropTempView("emb_ext")
  }

  private val q227Oracle = {
    val dot = SimilarityOps.dotSql
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
       |sc AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${dot("a.embedding", "b.embedding")} /
       |      (sqrt(${dot("a.embedding", "a.embedding")}) *
       |       sqrt(${dot("b.embedding", "b.embedding")})) AS cosine
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
       |SELECT a_id, b_id, cosine FROM sc
       |ORDER BY cosine DESC, a_id, b_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q263
  /** Delta-encoding layout advisor — which sort layout makes which
    * column delta-compress, measured not guessed: for each candidate
    * layout (q98's orderkey-clustered vs a partkey-clustered
    * rewrite), the average bit-width of successive deltas of the
    * price and quantity columns. `length(bin(1+|Δ|))` is the exact
    * integer bit count on both engines — no transcendental touches
    * data. Deltas are taken WITHIN the leading sort-key group (the
    * run a columnar encoder actually sees); group-boundary pairs are
    * dropped and DISCLOSED as dropped_ppm, not silently absorbed.
    * On the synthetic fixture the measurement honestly reports a
    * TIE (prices are independent of part there — that IS the
    * advisor's verdict: don't pay for the rewrite); the spec plants
    * a frame where value clusters by key and the narrowing is real.
    *
    * Scale shape: per-layout one partition-local sort-key window
    * (keyed by the leading column — the same shuffle the rewrite
    * itself would pay), one partial agg to a 2×2 report. */
  def q263EncodingAdvisor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_orderkey", $"l_linenumber",
        expr("CAST(round(l_extendedprice * 100D) AS BIGINT)").as("price_c"),
        expr("CAST(round(l_quantity * 100D) AS BIGINT)").as("qty_c"))
    deltaBitsOf(base, "orderkey_clustered", "l_orderkey",
      Seq("l_linenumber"))
      .unionAll(deltaBitsOf(base, "partkey_clustered", "l_partkey",
        Seq("l_orderkey", "l_linenumber")))
      .orderBy($"layout")
  }

  /** One layout's delta-bit measurement on any frame carrying the
    * key columns plus (price_c, qty_c) — separated so the spec can
    * plant key-clustered values. The in-group order appends the
    * measured columns because synthetic lineitem has duplicate
    * (orderkey, linenumber) pairs — rows still tied are identical
    * in both measures, so deltas are permutation-invariant. */
  private[ops] def deltaBitsOf(base: DataFrame, name: String,
      group: String, keys: Seq[String]): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(group))
      .orderBy((keys.map(col) ++ Seq($"price_c", $"qty_c")): _*)
    base
      .select(col(group).as("g"),
        ($"price_c" - lag($"price_c", 1).over(w)).as("dp"),
        ($"qty_c" - lag($"qty_c", 1).over(w)).as("dq"))
      .agg(count(lit(1)).as("n_rows"), count($"dp").as("n_pairs"),
        sum(expr("length(bin(1 + abs(dp)))")).as("pb"),
        sum(expr("length(bin(1 + abs(dq)))")).as("qb"))
      .select(lit(name).as("layout"), $"n_pairs",
        expr("(1000000 * (n_rows - n_pairs)) div n_rows").as("dropped_ppm"),
        expr("(1000 * pb) div n_pairs").as("price_bits_milli"),
        expr("(1000 * qb) div n_pairs").as("qty_bits_milli"))
  }

  private val q263Oracle = {
    def layoutSql(name: String, group: String, keys: String) =
      s"""SELECT '$name' AS layout, CAST(count(dp) AS BIGINT) AS n_pairs,
         |  CAST((1000000 * (count(*) - count(dp))) // count(*) AS BIGINT)
         |    AS dropped_ppm,
         |  CAST((1000 * sum(length(bin(1 + abs(dp))))) // count(dp)
         |    AS BIGINT) AS price_bits_milli,
         |  CAST((1000 * sum(length(bin(1 + abs(dq))))) // count(dp)
         |    AS BIGINT) AS qty_bits_milli
         |FROM (
         |  SELECT price_c - lag(price_c) OVER (PARTITION BY $group
         |      ORDER BY $keys, price_c, qty_c) AS dp,
         |    qty_c - lag(qty_c) OVER (PARTITION BY $group
         |      ORDER BY $keys, price_c, qty_c) AS dq
         |  FROM (SELECT $group, l_orderkey, l_linenumber,
         |      CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         |      CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
         |    FROM lineitem))""".stripMargin
    s"""SELECT * FROM (
       |${layoutSql("orderkey_clustered", "l_orderkey", "l_linenumber")}
       |UNION ALL
       |${layoutSql("partkey_clustered", "l_partkey",
          "l_orderkey, l_linenumber")})
       |ORDER BY layout""".stripMargin
  }

  // ---------------------------------------------------------------- q396
  /** Column-level lineage extracted from the ANALYZED logical plan —
    * the governance readout every warehouse platform ships (which
    * base columns feed each output column?) and the reference's
    * BigQuery backend answers from its audit metadata. Here it is an
    * engine feature: one bottom-up walk over the Catalyst plan seeds
    * each parquet leaf's attributes with (table = path basename,
    * column), then every Alias born in a Project/Aggregate/Window
    * node unions the source sets of the attributes it references —
    * expression-id arithmetic, so renames, computed columns, and
    * multi-source expressions (greatest over two tables' keys) trace
    * exactly and a literal-only aggregate (count(1)) traces to the
    * ⟨none⟩ marker. Pure control-plane: the DATA is never touched —
    * lineage of a 100-TB pipeline costs the same as lineage of a
    * 100-row one (the plan is driver-resident either way). The probe
    * pipeline is a 3-table join + aggregate chosen so every tracing
    * branch fires; the oracle states the expected lineage rows. */
  def q396ColumnLineage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_mktsegment".as("segment"), $"n_name".as("nation_name"))
      .agg(sum($"o_totalprice").as("revenue"),
        count(lit(1)).as("n_orders"),
        max(greatest($"o_orderkey", $"c_custkey")).as("max_key"))
    lineageOf(probe)
  }

  /** The lineage walk on any DataFrame — separated so the spec can
    * probe renames-of-renames and a union. */
  private[graft] def lineageOf(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val s = df.sparkSession
    import s.implicits._
    val src = scala.collection.mutable.Map.empty[Long, Set[(String, String)]]
    def trace(ne: NamedExpression): Unit = ne match {
      case a: Alias =>
        src(a.exprId.id) = a.child.references.toSeq
          .flatMap(r => src.getOrElse(r.exprId.id, Set.empty)).toSet
      case _ => () // bare attribute: keeps its exprId, already seeded
    }
    df.queryExecution.analyzed.foreachUp {
      case lr: LogicalRelation =>
        val table = lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.headOption
              .map(_.getName.stripSuffix(".parquet")).getOrElse("<unknown>")
          case _ => "<unknown>"
        }
        lr.output.foreach(a => src(a.exprId.id) = Set((table, a.name)))
      case p: Project   => p.projectList.foreach(trace)
      case a: Aggregate => a.aggregateExpressions.foreach(trace)
      case w: Window    => w.windowExpressions.foreach(trace)
      // Union merges positionally: output attr i draws from every
      // child's attr i
      case u: Union =>
        u.output.zipWithIndex.foreach { case (out, i) =>
          src(out.exprId.id) = u.children
            .flatMap(c => src.getOrElse(c.output(i).exprId.id, Set.empty)).toSet
        }
      case _ => () // joins/filters/sorts pass attributes through unchanged
    }
    val rows = df.queryExecution.analyzed.output.flatMap { a =>
      val deps = src.getOrElse(a.exprId.id, Set.empty)
      if (deps.isEmpty) Seq((a.name, "<none>", "<none>"))
      else deps.toSeq.map { case (t, c) => (a.name, t, c) }
    }
    rows.toDF("out_col", "src_table", "src_col")
      .orderBy($"out_col", $"src_table", $"src_col")
  }

  private val q396Oracle =
    """SELECT * FROM (VALUES
      |  ('max_key', 'customer', 'c_custkey'),
      |  ('max_key', 'orders', 'o_orderkey'),
      |  ('n_orders', '<none>', '<none>'),
      |  ('nation_name', 'nation', 'n_name'),
      |  ('revenue', 'orders', 'o_totalprice'),
      |  ('segment', 'customer', 'c_mktsegment'))
      |  AS t(out_col, src_table, src_col)
      |ORDER BY out_col, src_table, src_col""".stripMargin

  // ---------------------------------------------------------------- q400
  /** Catalog statistics surface (`ANALYZE TABLE … COMPUTE STATISTICS
    * [FOR COLUMNS …]` + `DESCRIBE EXTENDED`) — the metadata layer the
    * cost-based optimizer plans from, and the one piece of warehouse
    * furniture the engine had not yet exposed: external tables are
    * registered over the parquet (LOCATION — zero copy), analyzed,
    * and the readout is what the CATALOG now claims about each table
    * (row count, key min/max/null count) — all verified against the
    * data itself by the oracle, which is the point: ANALYZE must
    * agree with the table it describes. distinct_count is HLL++-
    * estimated (observed 1400 vs 1500 at sf0.001) and deliberately
    * excluded from the exact contract; its existence is spec-pinned
    * instead. PlanSpec additionally pins that with `spark.sql.cbo
    * .enabled` the analyzed row count PROPAGATES into
    * `optimizedPlan.stats.rowCount` — the channel join reordering
    * and build-side selection actually read. At 100 TB ANALYZE is
    * one pass per table, amortized over every subsequent plan. */
  def q400AnalyzeStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val specs = Seq(("orders", "o_orderkey"), ("customer", "c_custkey"),
      ("nation", "n_nationkey"))
    val rows = specs.map { case (t, key) =>
      withAnalyzedTable(s, dir, t, key) { tbl =>
        val col = s.sql(s"DESCRIBE EXTENDED $tbl $key").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val stats = s.sql(s"DESCRIBE EXTENDED $tbl").collect()
          .find(_.getString(0) == "Statistics").map(_.getString(1))
          .getOrElse(sys.error(s"no Statistics row for $tbl"))
        val rowCount = "(\\d+) rows".r.findFirstMatchIn(stats)
          .map(_.group(1).toLong)
          .getOrElse(sys.error(s"no row count in '$stats'"))
        (t, rowCount, col("min").toLong, col("max").toLong,
          col("num_nulls").toLong)
      }
    }
    rows.toDF("table_name", "row_count", "key_min", "key_max", "key_nulls")
      .orderBy($"table_name")
  }

  /** Register dir/name.parquet as an external catalog table with a
    * unique name, ANALYZE it (table + key column), run the body, and
    * always drop the registration (the parquet is untouched —
    * external LOCATION means metadata only). */
  private[graft] def withAnalyzedTable[T](s: SparkSession, dir: String,
      name: String, key: String)(body: String => T): T = {
    val tbl = s"graft_cbo_${name}_${sinkNonce.incrementAndGet()}"
    s.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$dir/$name.parquet'")
    try {
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS $key")
      body(tbl)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  private val sinkNonce = new java.util.concurrent.atomic.AtomicInteger(0)

  private val q400Oracle =
    """SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS row_count,
      |  CAST(min(c_custkey) AS BIGINT) AS key_min,
      |  CAST(max(c_custkey) AS BIGINT) AS key_max,
      |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS key_nulls
      |FROM customer
      |UNION ALL
      |SELECT 'nation', CAST(count(*) AS BIGINT),
      |  CAST(min(n_nationkey) AS BIGINT), CAST(max(n_nationkey) AS BIGINT),
      |  CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM nation
      |UNION ALL
      |SELECT 'orders', CAST(count(*) AS BIGINT),
      |  CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT),
      |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM orders
      |ORDER BY table_name""".stripMargin

  // ---------------------------------------------------------------- q413
  /** Hidden file-metadata columns (`_metadata.file_path` /
    * `file_name` / `row_index`) — the provenance surface every
    * debugging session at 100 TB reaches for ("which FILE did this
    * corrupt row come from?") without any schema change: the events
    * table is re-laid-out partitioned by event_type (repartitioned
    * by the partition column first, so each partition directory gets
    * exactly ONE file — the layout fact the readout then proves from
    * metadata alone), read back, and audited per type: row count,
    * distinct files, and whether every row's file path carries its
    * own partition tag (Hive-style `event_type=` path encoding, the
    * contract partition pruning relies on). `row_index` pins
    * within-file ordinal provenance: its max is rows−1 per
    * single-file type. All of it comes from the scan's metadata
    * struct — no join back to any manifest.
    *
    * The re-layout is scratch: the readout (one row per event_type)
    * is materialized via an eager localCheckpoint and the temp dir
    * is deleted BEFORE returning, so repeated invocations (bench
    * runs the query map in one JVM) don't drip a full copy of the
    * events table into /tmp per call. */
  def q413MetadataColumns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withScratch("graft_meta_q413") { tmp =>
      Tables.events(s, dir).select($"event_type", $"event_id")
        .repartition($"event_type")
        .write.partitionBy("event_type").mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .select($"event_type",
          col("_metadata.file_path").as("fp"),
          col("_metadata.row_index").as("ri"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"fp").as("n_files"),
          min(expr("CAST(contains(fp, concat('event_type=', event_type))" +
            " AS LONG)")).as("path_tagged"),
          (max($"ri") + 1L).as("max_row_index_plus1"))
    }.orderBy($"event_type")
  }

  private val q413Oracle =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(1 AS BIGINT) AS n_files,
      |  CAST(1 AS BIGINT) AS path_tagged,
      |  CAST(count(*) AS BIGINT) AS max_row_index_plus1
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q414
  /** Typed `cogroupSorted` reconciliation — the two-table sibling of
    * q26's typed Aggregator and the streaming-merge answer to "join
    * then groupBy buffers the whole group": orders and (a planted
    * subset of) lineitems co-group on the order key, and the lambda
    * receives BOTH sides as iterators with the line side
    * SECONDARY-SORTED by cents — Spark plans sortWithinPartitions
    * under the cogroup, so the merge streams with O(1) state per
    * key, never materializing a group (the q345 discipline, now on
    * the typed API). Each key folds to one reconciliation row:
    * order-header cents vs line-sum cents, line count, diff, and a
    * `sorted_ok` flag the LAMBDA ITSELF computes from the arrival
    * order — the sorted-iterator contract is part of the
    * oracle-checked output, not just a doc claim. Lineitems of every
    * 7th order are withheld in-query so the no-lines branch is live
    * (synthetic orders all have lines). */
  def q414CogroupReconcile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderkey",
        expr("CAST(round(o_totalprice * 100D) AS BIGINT)").as("cents"))
      .as[(Long, Long)]
    val l = Tables.lineitem(s, dir)
      .where($"l_orderkey" % 7 =!= 0)
      .select($"l_orderkey",
        expr("CAST(round(l_extendedprice * 100D) AS BIGINT)").as("cents"))
      .as[(Long, Long)]
    cogroupReconcile(o, l)
  }

  /** The cogroup merge on any (key, cents) pair of typed frames —
    * separated so the spec can plant a LINE-ONLY key (a dangling
    * line-side FK). Such a key emits NOTHING: the lambda is the
    * streaming image of the oracle's LEFT JOIN FROM orders, which
    * can never produce an order-less row. TPC-H data happens to
    * guarantee the FK, but the lambda must not lean on the fixture —
    * a sentinel `order_cents = -1` here would be a row the oracle
    * cannot express, green only until the first orphan line. */
  private[graft] def cogroupReconcile(
      o: org.apache.spark.sql.Dataset[(Long, Long)],
      l: org.apache.spark.sql.Dataset[(Long, Long)]): DataFrame = {
    val s = o.sparkSession
    import s.implicits._
    o.groupByKey(_._1).cogroupSorted(l.groupByKey(_._1))($"cents")($"cents") {
      (k, os, ls) =>
        if (!os.hasNext) Iterator.empty
        else {
          val orderCents = os.next()._2
          var sum = 0L; var n = 0L; var prev = Long.MinValue; var ok = true
          ls.foreach { case (_, c) =>
            if (c < prev) ok = false
            prev = c; sum += c; n += 1L
          }
          Iterator((k, orderCents, sum, n, orderCents - sum, ok))
        }
    }.toDF("o_orderkey", "order_cents", "lines_cents", "n_lines",
      "diff_cents", "sorted_ok")
      .orderBy($"o_orderkey")
  }

  private val q414Oracle =
    """SELECT o.o_orderkey,
      |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS order_cents,
      |  CAST(COALESCE(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)), 0)
      |    AS BIGINT) AS lines_cents,
      |  CAST(count(l.l_orderkey) AS BIGINT) AS n_lines,
      |  CAST(round(o.o_totalprice * 100) AS BIGINT)
      |    - CAST(COALESCE(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)),
      |      0) AS BIGINT) AS diff_cents,
      |  true AS sorted_ok
      |FROM orders o LEFT JOIN lineitem l
      |  ON o.o_orderkey = l.l_orderkey AND l.l_orderkey % 7 <> 0
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q416
  /** EXPLAIN-ANALYZE-style operator metrics readout — the ENGINE-side
    * twin of q214's user-defined observe(): after the action, every
    * physical operator's `SQLMetrics` (numOutputRows here) is read
    * straight off the executed plan, giving the per-operator row
    * waterfall (scan → filter) a query profiler shows. That waterfall
    * is the cardinality-estimation ground truth — the number CBO
    * stats (q400) try to predict — and reading it costs nothing: the
    * accumulators were maintained during the run anyway. The filter
    * is deliberately NON-pushable (an arithmetic predicate) so the
    * scan/filter boundary is crisp: the scan must emit every row, the
    * filter its survivors — both oracle-checked. The probe runs on a
    * session scoped to AQE off, for a static plan; the walk handles
    * the plain scan→filter→project shape this probe pins. */
  def q416ExplainAnalyze(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val probe = Tables.lineitem(
        GraftSession.scoped(s, "spark.sql.adaptive.enabled" -> "false"), dir)
      .where(expr("l_quantity * 2D > 50.0"))
      .select($"l_orderkey")
    probe.collect() // the action that populates the metrics
    val rows = probe.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec =>
        ("scan_parquet", sc.metrics("numOutputRows").value)
      case f: FilterExec =>
        ("filter", f.metrics("numOutputRows").value)
    }
    rows.toDF("operator", "output_rows").orderBy($"operator")
  }

  private val q416Oracle =
    """SELECT 'filter' AS operator,
      |  CAST(count(*) AS BIGINT) AS output_rows
      |FROM lineitem WHERE l_quantity * 2 > 50.0
      |UNION ALL
      |SELECT 'scan_parquet', CAST(count(*) AS BIGINT) FROM lineitem
      |ORDER BY operator""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q416_explain_analyze" -> (q416ExplainAnalyze _),
    "q414_cogroup_reconcile" -> (q414CogroupReconcile _),
    "q413_metadata_columns" -> (q413MetadataColumns _),
    "q400_analyze_stats" -> (q400AnalyzeStats _),
    "q396_column_lineage" -> (q396ColumnLineage _),
    "q263_encoding_advisor" -> (q263EncodingAdvisor _),
    "q226_dsv2_source" -> (q226Dsv2Source _),
    "q227_extension_sql" -> (q227ExtensionSql _),
    "q166_schema_evolution" -> (q166SchemaEvolution _),
    "q183_join_cardinality" -> (q183JoinCardinality _),
    "q214_observed_metrics" -> (q214ObservedMetrics _),
    "q26_udf_udaf"      -> (q26UdfUdaf _),
    "q81_csv_roundtrip" -> (q81CsvRoundtrip _),
    "q82_orc_roundtrip" -> (q82OrcRoundtrip _),
    "q371_avro_roundtrip" -> (q371AvroRoundtrip _),
    "q372_xml_roundtrip" -> (q372XmlRoundtrip _),
    "q379_dsv2_sink" -> (q379Dsv2Sink _),
    "q420_dsv2_roundtrip" -> (q420Dsv2RoundTrip _),
    "q86_bucketed_join" -> (q86BucketedJoin _),
    "q89_column_profile" -> (q89ColumnProfile _),
    "q98_sorted_layout" -> (q98SortedLayout _),
    "q108_zorder_layout" -> (q108ZOrderLayout _),
    "q133_compaction_plan" -> (q133CompactionPlan _),
    "q142_contract_checks" -> (q142ContractChecks _),
    "q150_referential_audit" -> (q150ReferentialAudit _),
  )

  val oracles: Map[String, String] = Map(
    "q416_explain_analyze" -> q416Oracle,
    "q414_cogroup_reconcile" -> q414Oracle,
    "q413_metadata_columns" -> q413Oracle,
    "q400_analyze_stats" -> q400Oracle,
    "q396_column_lineage" -> q396Oracle,
    "q263_encoding_advisor" -> q263Oracle,
    "q226_dsv2_source" -> q226Oracle,
    "q227_extension_sql" -> q227Oracle,
    "q166_schema_evolution" -> q166Oracle,
    "q183_join_cardinality" -> q183Oracle,
    "q214_observed_metrics" -> q214Oracle,
    "q26_udf_udaf"      -> q26Oracle,
    "q81_csv_roundtrip" -> q81Oracle,
    "q82_orc_roundtrip" -> q82Oracle,
    "q371_avro_roundtrip" -> q371Oracle,
    "q372_xml_roundtrip" -> q372Oracle,
    "q379_dsv2_sink" -> q379Oracle,
    "q420_dsv2_roundtrip" -> q420Oracle,
    "q86_bucketed_join" -> q86Oracle,
    "q89_column_profile" -> q89Oracle,
    "q98_sorted_layout" -> q98Oracle,
    "q108_zorder_layout" -> q108Oracle,
    "q133_compaction_plan" -> q133Oracle,
    "q142_contract_checks" -> q142Oracle,
    "q150_referential_audit" -> q150Oracle,
  )
}
