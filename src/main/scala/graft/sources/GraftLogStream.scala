package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{BooleanType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.tablelog.TableLog

/** Structured-Streaming SOURCE over a [[graft.tablelog.TableLog]]
  * commit log — the "table format as a stream" capability (Delta's
  * streaming-source shape): a downstream pipeline subscribes to the
  * table and receives each append commit's files as micro-batch
  * input, exactly once, without ever rescanning the table.
  *
  * {{{
  *   spark.readStream.format("graft.sources.GraftLogStreamProvider")
  *     .option("path", table).load()
  * }}}
  *
  * Semantics:
  *  - the OFFSET is the table version — replays after a failure
  *    re-read the same version window, which is deterministic from
  *    the immutable log, so a checkpointed query is exactly-once
  *    end to end;
  *  - each batch reads ONLY the files added by append-shaped commits
  *    (`create`/`append`/`evolve`) in `(startVersion, endVersion]` —
  *    the [[TableLog.readAppendsSince]] contract, streamed: at 100 TB
  *    a batch is the day's files, never the decade's;
  *  - a REWRITE commit (delete/merge/compact/…) in the window fails
  *    the stream fast: its re-added files would double-count rows an
  *    appends-only reader already emitted. Honest failure over silent
  *    duplication — the consumer falls back to [[TableLog.diffVersions]]
  *    (change-exact through rewrites) and restarts past it;
  *  - `startingVersion` option replays history from a chosen version
  *    (default 0 = the table's beginning);
  *  - `option("readChangeFeed", "true")` switches to the CHANGE-FEED
  *    schema (key, action, old_*, new_*, _commit_version) and rides
  *    through rewrite commits — see [[GraftLogChangeFeed]];
  *  - `maxFilesPerTrigger` / `maxBytesPerTrigger` / `maxRowsPerTrigger`
  *    bound each micro-batch — see [[GraftLogMicroBatchStream]].
  *
  * The per-file readers decode parquet through the public
  * parquet-hadoop API (no Spark session on executors), null-filling
  * columns absent from pre-evolution files — primitive columns
  * (long/int/double/float/boolean/string), which is what the log's
  * key-stats design supports. */
/** Shared resolution of a stream's starting bound: `startingVersion`
  * (a committed version; the feed emits commits AFTER it) or
  * `startingTimestamp` (epoch millis, or a UTC `yyyy-MM-dd HH:mm:ss`
  * literal — the feed emits every commit stamped at-or-after the
  * instant, resolved against the manifest stamps via
  * [[TableLog.firstVersionAtOrAfter]]'s O(log history) search).
  * Mutually exclusive, like Delta's pair of the same name. */
private[sources] object GraftLogStartingBound {
  def parseMillis(s0: String): Long = {
    val s = s0.trim
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }

  /** The offset-version to start AFTER (0 = table's beginning).
    * `startingTag` resolves a [[TableLog.tag]] named ref and starts
    * the feed AFTER the pinned version — "stream everything since
    * the release we trained on", the tag-addressable incremental
    * contract (and the tag's vacuum pin keeps the boundary snapshot
    * itself readable for the batch side of the same job). */
  def resolve(path: String, get: String => String): Long = {
    val sv = Option(get("startingVersion")).map(_.toLong)
    val st = Option(get("startingTimestamp"))
    val sg = Option(get("startingTag"))
    require(Seq(sv, st, sg).count(_.isDefined) <= 1,
      "graftlog stream: startingVersion / startingTimestamp / " +
        "startingTag are mutually exclusive")
    val tagV = sg.map { name =>
      val tags = TableLog.listTags(path) // ONE state() replay
      tags.find(_._1 == name).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"graftlog stream: no tag '$name' on $path (tags: " +
            s"${tags.map(_._1).mkString(", ")})"))
    }
    sv.orElse(tagV)
      .getOrElse(st.fold(0L)(s =>
        math.max(0L, TableLog.firstVersionAtOrAfter(path, parseMillis(s)) - 1L)))
  }
}

class GraftLogStreamProvider extends TableProvider {
  /** Nullability is RELAXED on read, the same contract Spark's file
    * sources apply: a column added by schema evolution may be NOT
    * NULL in the writer's frame, yet pre-evolution files null-fill
    * it — a non-nullable read schema would silently turn those nulls
    * into zero through the unsafe projection. */
  private def cdfRequested(get: String => String): Boolean =
    Option(get("readChangeFeed")).exists(_.equalsIgnoreCase("true"))

  /** `option("branch", name)`: address a STAGING BRANCH by name — the
    * streaming twin of the batch `VERSION AS OF 'branch:<n>'` route,
    * so a WAP pipeline needs no `_branches/...` filesystem path. The
    * resolution is shared by the SOURCE and the SINK (getTable routes
    * both): `writeStream.option("branch", n)` is exactly-once ingest
    * INTO the branch — every epoch commits on the branch head with
    * the (txnAppId, epochId) ledger kept in the BRANCH's own log,
    * main untouched until `CALL graftlog.publish` fast-forwards it,
    * and `drop_branch` refuses while unpublished sink commits exist
    * (the WAP write side, spec-pinned). Same name validation as the
    * batch resolution: `.`/`..` pass the token regex but are PATH
    * components into main disguised as a branch read, so they
    * refuse. */
  private def effectivePath(get: String => String, path: String): String =
    Option(get("branch")) match {
      case None => path
      case Some(b) =>
        val bp = java.nio.file.Paths.get(path, "_branches", b).toString
        require(b.matches("[A-Za-z0-9._-]{1,64}") && b != "." &&
          b != ".." && TableLog.latestVersion(bp) > 0L,
          s"graftlog stream: no branch '$b' on $path (branches: " +
            s"${TableLog.listBranches(path).map(_._1).mkString(", ")})")
        bp
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    require(options.containsKey("path"),
      "graftlog stream: option 'path' (the table directory) is required")
    val snap = TableLog.state(
      effectivePath(options.get, options.get("path")))
    val base = StructType(StructType.fromDDL(snap.schemaDdl)
      .fields.map(_.copy(nullable = true)))
    if (cdfRequested(options.get))
      GraftLogChangeFeed.schemaOf(base, snap.keyCol)
    else base
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // Spark hands getTable the CASE-PRESERVING map while inferSchema
    // got a CaseInsensitiveStringMap — reading the raw map here would
    // let option("Branch", …) validate against the branch in
    // inferSchema yet silently stream MAIN's data from getTable.
    // Re-wrap so the two phases can never disagree on an option.
    val opts = new CaseInsensitiveStringMap(properties)
    require(opts.containsKey("path"),
      "graftlog stream: option 'path' (the table directory) is required")
    val path = effectivePath(opts.get, opts.get("path"))
    if (cdfRequested(opts.get))
      new GraftLogChangeFeedTable(path, schema)
    else new GraftLogStreamTable(path,
      StructType(schema.fields.map(_.copy(nullable = true))))
  }
}

class GraftLogStreamTable(path: String, tblSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graftlog_stream(`$path`)"
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = tblSchema
      override def toMicroBatchStream(
          checkpointLocation: String): MicroBatchStream =
        new GraftLogMicroBatchStream(path, tblSchema,
          GraftLogStartingBound.resolve(path, options.get),
          maxFilesPerTrigger =
            Option(options.get("maxFilesPerTrigger")).map(_.toInt),
          maxBytesPerTrigger =
            Option(options.get("maxBytesPerTrigger")).map(_.toLong),
          maxRowsPerTrigger =
            Option(options.get("maxRowsPerTrigger")).map(_.toLong),
          skipChangeCommits = Option(options.get("skipChangeCommits"))
            .exists(_.toBoolean))
    }

  /** Native streaming SINK — `writeStream.format(…).option("path",…)`
    * lands every micro-batch as ONE atomic append commit stamped
    * with (txnAppId, epochId) in the manifest's txn ledger, so a
    * redelivered epoch commits zero rows: the q335 foreachBatch
    * idiom, absorbed into the connector. `txnAppId` defaults to the
    * streaming queryId (stable within a checkpoint lineage); pass it
    * explicitly to keep exactly-once ACROSS checkpoint loss — the
    * Delta txnAppId contract. Task writers stream rows to parquet
    * files under `<table>/data/` via the public parquet-hadoop API,
    * computing the per-file key stats the manifest needs as they go;
    * losers of speculative races stay uncommitted on disk and the
    * grace-gated vacuum reclaims them. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with GraftLogClusteredWrite {
          override def clusterTable: String = path
          override def toStreaming: org.apache.spark.sql.connector.write
              .streaming.StreamingWrite = {
            val appId = Option(info.options.get("txnAppId"))
              .getOrElse(s"graftlog-sink-${info.queryId()}")
            new GraftLogStreamingWrite(path, appId, info.schema(),
              autoCompact =
                Option(info.options.get("autoCompact")).map { v =>
                  try v.toInt
                  catch { case _: NumberFormatException =>
                    throw new IllegalArgumentException("graftlog sink: " +
                      s"autoCompact must be an integer >= 2, got '$v'")
                  }
                })
          }
          // df.write.format(…).mode("append"): the same atomic
          // append commit the catalog's INSERT uses
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            new GraftLogBatchAppend(path, info.schema())
        }
    }
}

/** Shared append-write contract: the written frame must match the
  * table's declared schema exactly (additive evolution stays on the
  * appendEvolve API, where the schema merge has its conflict rules).
  * Returns the table's declared key column. */
private[sources] object GraftLogAppendContract {
  /** Bucket count declared via TBLPROPERTIES('bucket.count'='n') —
    * the write path routes rows to one file per bucket per task so
    * every staged file is bucket-PURE, the storage-partitioned
    * scan's precondition for zero-shuffle KEY joins. */
  def bucketCountOf(props: Map[String, String]): Option[Int] =
    props.get("bucket.count").map { v =>
      val n = v.toInt
      require(n >= 2 && n <= 4096,
        s"graftlog: bucket.count must be in [2, 4096], got $n")
      n
    }

  /** The engine's ONE bucket function: Spark's Murmur3 long hash
    * (seed 42 — the same value `hash(col)` computes for a BIGINT),
    * floor-mod the bucket count. Write routing, the catalog's
    * SQL-visible `bucket` function, and the scan's reported transform
    * all share it, so they can never disagree. */
  def bucketOf(key: Long, n: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashLong(key, 42)
    ((h % n) + n) % n
  }

  /** Returns (key column, partition columns, bucket count, PHYSICAL
    * write DDL): the frame is validated against the LOGICAL declared
    * schema, but task writers stage files under the column mapping's
    * physical names so new files stay name-compatible with the
    * active set. */
  def checkedMeta(table: String, writeSchema: StructType,
      admitIdentity: Boolean = false)
      : (String, Seq[String], Option[Int], String, Int) = {
    val snap = TableLog.state(table)
    val declared = StructType.fromDDL(snap.schemaDdl)
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val idCols = snap.props.keys.filter(_.startsWith("identity."))
      .map(k => lc(k.stripPrefix("identity."))).toSet
    val genCols = snap.props.keys.filter(_.startsWith("gencol."))
      .map(k => lc(k.stripPrefix("gencol."))).toSet
    val provided = writeSchema.fieldNames.map(lc).toSet
    // GENERATED ALWAYS AS IDENTITY: APPEND frames must OMIT the
    // column — commitStagedAppend's completion pass allocates ids
    // inside the commit. The group-based REWRITE write
    // (`admitIdentity`, [[GraftLogReplaceData]]) legitimately carries
    // it — its rows are whole-row images whose ids the commit AUDITS
    // against the rewritten files' pre-image. Generated columns may
    // be omitted (computed at commit) or supplied (audited by the
    // synthetic CHECK) on either path.
    if (!admitIdentity)
      idCols.find(provided).foreach(c =>
        throw new IllegalArgumentException(
          s"graftlog sink: '$c' is GENERATED ALWAYS AS IDENTITY — " +
            "explicit values are refused; omit the column and the " +
            "commit allocates ids transactionally"))
    val keep = declared.fields.zip(snap.physSchema.fields).filter {
      case (lf, _) =>
        val n = lc(lf.name)
        if (idCols(n)) admitIdentity && provided(n)
        else provided(n) || !genCols(n)
    }
    keep.map(_._1).zip(writeSchema.fields).foreach { case (t, w) =>
      require(t.name == w.name && t.dataType == w.dataType,
        s"graftlog sink: frame column '${w.name}: ${w.dataType.sql}' does " +
          s"not match table column '${t.name}: ${t.dataType.sql}'")
    }
    require(keep.length == writeSchema.length,
      s"graftlog sink: frame has ${writeSchema.length} columns, table " +
        s"expects ${keep.length} " +
        s"(${keep.map(_._1.name).mkString(", ")})")
    (snap.keyCol, snap.partCols, bucketCountOf(snap.props),
      StructType(keep.map(_._2)).toDDL, snap.specId)
  }

  /** True when [[TableLog.commitStagedAppend]]'s completion pass will
    * finish this write (identity allocation / omitted-gencol compute)
    * — the caller then SKIPS its own pre-commit [[validateStaged]]:
    * the staged files are transitional (unfinished ALWAYS columns
    * read as null and would fail their own synthetic checks), and the
    * completion pass re-validates the FINISHED rows against every
    * declared check before staging. */
  def needsCompletion(table: String, writeSchema: StructType): Boolean = {
    val snap = TableLog.state(table)
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val provided = writeSchema.fieldNames.map(lc).toSet
    snap.props.keys.exists(_.startsWith("identity.")) ||
      snap.props.keys.exists(k => k.startsWith("gencol.") &&
        !provided(lc(k.stripPrefix("gencol."))))
  }

  def checkedKeyCol(table: String, writeSchema: StructType): String =
    checkedMeta(table, writeSchema)._1

  /** Commit-time CHECK validation of externally staged files — the
    * provider/streaming sinks' constraint gate (Spark's catalog
    * constraint rule never sees these writes). Reads ONLY the staged
    * files (cost proportional to the batch) through the logical
    * projection, so constraint SQL written against logical names
    * evaluates correctly under a column mapping; nothing on
    * unconstrained tables. Throws before the manifest moves: the
    * batch fails whole, staged files stay as vacuumable orphans. */
  def validateStaged(table: String, adds: Seq[TableLog.AddFile],
      op: String): Unit = {
    val snap = TableLog.state(table)
    val checks = TableLog.checksOf(snap.props)
    if (checks.nonEmpty && adds.nonEmpty)
      TableLog.validateChecks(
        TableLog.readFiles(org.apache.spark.sql.SparkSession.active,
          table, snap, adds), checks, op)
  }
}

/** Declares the shuffle a partitioned-table write wants: cluster
  * incoming rows by the table's partition columns, so each task —
  * hence each staged file — holds whole partition tuples and the
  * manifest's per-file tuple stats stay tight (few tuples per file →
  * strong pruning). BUCKETED tables (TBLPROPERTIES 'bucket.count')
  * cluster by `bucket(n, key)` instead — each bucket lands on exactly
  * one task, so an INSERT stages at most n bucket-pure files total
  * rather than n PER TASK — but only where the transform can resolve:
  * the `bucket` function lives in the table's FunctionCatalog, which
  * Spark consults only on the catalog path ([[canResolveBucket]];
  * the format-provider path has no function catalog and falls back to
  * unclustered input, which the writer's per-bucket file routing
  * still handles correctly). Unpartitioned, unbucketed tables request
  * nothing and Spark writes the rows as they arrive. */
private[sources] trait GraftLogClusteredWrite
    extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  def clusterTable: String
  /** True only where Spark can resolve `bucket` against the table's
    * catalog (DSv2 resolves distribution transforms through the
    * relation's FunctionCatalog — absent on the provider path). */
  def canResolveBucket: Boolean = false
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    val snap = TableLog.state(clusterTable)
    if (snap.partCols.nonEmpty) {
      // identity specs cluster by the column (resolvable on every
      // path); temporal specs cluster by the transform, which — like
      // bucket — resolves only through the table's FunctionCatalog
      val exprs = snap.partCols.map(spec =>
        TableLog.partTransformOf(spec) match {
          case TableLog.PIdentity(c) =>
            Some(Expressions.identity(c): Expression)
          case TableLog.PDays(c) if canResolveBucket =>
            Some(Expressions.days(c): Expression)
          case TableLog.PMonths(c) if canResolveBucket =>
            Some(Expressions.months(c): Expression)
          case TableLog.PYears(c) if canResolveBucket =>
            Some(Expressions.years(c): Expression)
          case TableLog.PHours(c) if canResolveBucket =>
            Some(Expressions.hours(c): Expression)
          case _ => None
        })
      if (exprs.forall(_.isDefined))
        Distributions.clustered(exprs.flatten.toArray)
      else Distributions.unspecified()
    } else GraftLogAppendContract.bucketCountOf(snap.props) match {
      case Some(n) if canResolveBucket =>
        Distributions.clustered(
          Array(Expressions.bucket(n, snap.keyCol): Expression))
      case _ => Distributions.unspecified()
    }
  }
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
}

class GraftLogStreamingWrite(table: String, appId: String,
    writeSchema: StructType, autoCompact: Option[Int] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val (keyCol, partCols, bucketN, physDdl, writeSpecId) =
    GraftLogAppendContract.checkedMeta(table, writeSchema)

  // validate the autoCompact option at WRITE-BUILD time: a
  // misconfigured threshold must fail before the first micro-batch
  // runs, not after an epoch's data commit already succeeded
  autoCompact.foreach(threshold => require(threshold >= 2,
    s"graftlog sink: autoCompact threshold must be >= 2, got $threshold"))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftLogSinkWriterFactory(table, physDdl, keyCol, partCols,
      bucketN)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val adds = GraftLogSinkCommitMessage.adds(messages)
    // CHECK constraints hold on THIS path too (the sink never rides
    // Spark's catalog constraint rule): the staged files validate
    // before the manifest moves — a violating epoch fails the query
    // with zero rows landed, its files left as vacuumable orphans.
    // EXCEPT when the commit's completion pass (identity allocation /
    // omitted-gencol compute) will finish the rows — unfinished
    // ALWAYS columns read as null here and the completion pass
    // re-validates the finished rows against every declared check.
    if (!GraftLogAppendContract.needsCompletion(table, writeSchema))
      GraftLogAppendContract.validateStaged(table, adds,
        s"graftlog sink epoch $epochId into $table")
    // zero-row epochs still advance the txn ledger (an empty commit),
    // so a redelivery of them stays a no-op too; the writer's
    // partition-spec era labels the staged files
    TableLog.commitStagedAppend(table, adds, Some((appId, epochId)),
      specId = writeSpecId)
    // AUTO-COMPACTION (`option("autoCompact", threshold)`): a
    // long-lived micro-batch sink lands one commit per epoch and
    // accrues small-file debt; when the live file count crosses the
    // threshold, fold ONLY the small files back down
    // ([[TableLog.compactSmall]] — priced at the debt, never the
    // table: the already-compacted bulk above the size floor is
    // untouched) as its own post-batch commit. Best-effort: losing a
    // race to a concurrent rewrite skips this cycle, the next epoch
    // re-arms.
    autoCompact.foreach { threshold =>
      val live = TableLog.state(table).active.size
      if (live >= threshold)
        try TableLog.compactSmall(org.apache.spark.sql.SparkSession.active,
          table, smallBytes = GraftLogStreamingWrite.autoCompactSmallBytes,
          targetFiles = math.max(1, threshold / 4))
        catch { case _: java.util.ConcurrentModificationException => () }
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftLogSinkCommitMessage.deleteStaged(table, messages)
}

object GraftLogStreamingWrite {
  /** Files at or above this size are "done" — auto-compaction never
    * re-folds them (Delta's optimize.maxFileSize convention, sized so
    * micro-batch debris folds while the compacted bulk rests). */
  val autoCompactSmallBytes: Long = 128L * 1024 * 1024
}

case class GraftLogSinkCommitMessage(relPath: String, rows: Long,
    min: Long, max: Long, parts: Seq[TableLog.PartStat] = Nil,
    cols: Seq[TableLog.ColStat] = Nil)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** One task attempt's staged files. Unpartitioned writes stage one
  * file; partitioned writes ROLL a new file on every partition-tuple
  * change (Spark's dynamic-partition-write shape), so task files are
  * tuple-PURE by construction — the invariant the storage-partitioned
  * scan ([[GraftLogDataScan.outputPartitioning]]) needs to elide
  * shuffles, guaranteed here rather than hoped for from hash-clustered
  * distribution (two tuples CAN share a cluster bucket). */
case class GraftLogSinkCommitBundle(files: Seq[GraftLogSinkCommitMessage])
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

object GraftLogSinkCommitMessage {
  import org.apache.spark.sql.connector.write.WriterCommitMessage

  private def flatten(messages: Array[WriterCommitMessage])
      : Seq[GraftLogSinkCommitMessage] = messages.toSeq.flatMap {
    case m: GraftLogSinkCommitMessage => Seq(m)
    case GraftLogSinkCommitBundle(fs)  => fs
    case _                             => Nil
  }

  /** The manifest entries a set of task messages stages. */
  def adds(messages: Array[WriterCommitMessage]): Seq[TableLog.AddFile] =
    flatten(messages).collect {
      case GraftLogSinkCommitMessage(rel, rows, mn, mx, parts, cols)
          if rows > 0L =>
        TableLog.AddFile(rel, rows, mn, mx, parts, cols)
    }.sortBy(_.relPath)

  /** Abort cleanup: delete every staged file named by the messages. */
  def deleteStaged(table: String,
      messages: Array[WriterCommitMessage]): Unit =
    flatten(messages).foreach(m =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(table, m.relPath)))
}

/** Batch `INSERT INTO graftlog.\`<path>\`` — the one SQL DML whose
  * semantics the commit protocol supports without compromise: an
  * append never conflicts (a lost race rebases), so the whole INSERT
  * lands as ONE atomic append commit or not at all. Reuses the
  * streaming sink's task writers (epoch 0). */
class GraftLogBatchAppend(table: String, writeSchema: StructType)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val (keyCol, partCols, bucketN, physDdl, writeSpecId) =
    GraftLogAppendContract.checkedMeta(table, writeSchema)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftLogBatchWriterFactory(table, physDdl, keyCol,
      partCols = partCols, bucketN = bucketN)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val adds = GraftLogSinkCommitMessage.adds(messages)
    // provider-path batch appends (df.write.format("graftlog")) never
    // meet Spark's catalog constraint rule — validate staged files
    // here; the catalog INSERT path validates rows up front through
    // constraints(), so this re-check only costs on constrained
    // tables. Skipped when the commit's completion pass will finish
    // (and re-validate) the rows — see the streaming commit above.
    if (!GraftLogAppendContract.needsCompletion(table, writeSchema))
      GraftLogAppendContract.validateStaged(table, adds,
        s"graftlog append into $table")
    TableLog.commitStagedAppend(table, adds, specId = writeSpecId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSinkCommitMessage.deleteStaged(table, messages)
}

/** `INSERT OVERWRITE` by expression (DSv2 `SupportsOverwrite`) — the
  * SQL verb for slice restatement: in ONE commit, rows matching the
  * pushed condition die (copy-on-write, only matching files rewrite)
  * and the staged incoming files publish. `cond = None` is the
  * truncate-everything form (static-mode INSERT OVERWRITE with no
  * partition spec): every active file is removed outright, no scan,
  * no survivor staging. `pruneCandidates` narrows the matched-file
  * scan via partition-tuple stats when the condition names partition
  * columns — restating one partition reads one partition's files. */
class GraftLogOverwriteWrite(table: String, writeSchema: StructType,
    cond: Option[org.apache.spark.sql.Column],
    pruneCandidates: TableLog.Snapshot => Seq[TableLog.AddFile])
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val (keyCol, partCols, bucketN, physDdl, writeSpecId) =
    GraftLogAppendContract.checkedMeta(table, writeSchema)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftLogBatchWriterFactory(table, physDdl, keyCol,
      partCols = partCols, bucketN = bucketN)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val adds = GraftLogSinkCommitMessage.adds(messages)
    cond match {
      case Some(c) =>
        TableLog.overwriteWhereStaged(
          org.apache.spark.sql.SparkSession.active, table, c, adds,
          numFiles = math.max(1, adds.size), pruneCandidates,
          extSpecId = writeSpecId)
      case None => // truncate form: all actives go, staged files land
        val snap = TableLog.state(table)
        TableLog.commitStagedRewrite(table, adds,
          snap.active.map(_.relPath), "replace", specId = writeSpecId)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSinkCommitMessage.deleteStaged(table, messages)
}

/** Dynamic partition overwrite (DSv2 `SupportsDynamicOverwrite` —
  * `partitionOverwriteMode=dynamic`): replace exactly the partitions
  * the incoming data touches. The task writers' own per-file tuple
  * stats say WHICH partitions arrived, so the commit decides the
  * doomed set from metadata alone and the copy-on-write reads only
  * files whose stats hold a doomed tuple
  * ([[TableLog.overwritePartitionsStaged]]). */
class GraftLogDynamicOverwrite(table: String, writeSchema: StructType)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val (keyCol, partCols, bucketN, physDdl, writeSpecId) =
    GraftLogAppendContract.checkedMeta(table, writeSchema)
  require(partCols.nonEmpty,
    s"graftlog: $table is not partitioned — dynamic partition " +
      "overwrite needs PARTITIONED BY")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftLogBatchWriterFactory(table, physDdl, keyCol,
      partCols = partCols, bucketN = bucketN)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val adds = GraftLogSinkCommitMessage.adds(messages)
    val incoming = adds.flatMap(_.parts.map(_.values)).toSet
    TableLog.overwritePartitionsStaged(
      org.apache.spark.sql.SparkSession.active, table, incoming, adds,
      numFiles = math.max(1, adds.size), extSpecId = writeSpecId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSinkCommitMessage.deleteStaged(table, messages)
}

/** The write side of a SQL row-level operation
  * ([[GraftLogRowLevelOperation]]): land the replacement rows as
  * staged files, then commit ONE copy-on-write rewrite manifest that
  * removes the files the operation's scan read and adds these —
  * `removesAtCommit` is evaluated at commit time, after Spark's
  * runtime group filter has shrunk the scan to the matched sliver.
  * A no-match operation (nothing read, nothing written) commits
  * nothing at all. */
class GraftLogReplaceData(table: String, writeSchema: StructType,
    removesAtCommit: () => Seq[String], op: String)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val (keyCol, partCols, bucketN, physDdl, writeSpecId) =
    GraftLogAppendContract.checkedMeta(table, writeSchema,
      admitIdentity = true)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftLogBatchWriterFactory(table, physDdl, keyCol,
      allowOpColumn = true, partCols = partCols, bucketN = bucketN)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val adds = GraftLogSinkCommitMessage.adds(messages)
    val removes = removesAtCommit()
    if (adds.nonEmpty || removes.nonEmpty)
      TableLog.commitStagedRewrite(table, adds, removes, op,
        specId = writeSpecId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSinkCommitMessage.deleteStaged(table, messages)
}

class GraftLogBatchWriterFactory(table: String, schemaDdl: String,
    keyCol: String, allowOpColumn: Boolean = false,
    partCols: Seq[String] = Nil, bucketN: Option[Int] = None)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    GraftLogSinkWriterFactory.newWriter(table, schemaDdl, keyCol,
      epochId = 0L, partitionId, taskId, allowOpColumn, partCols, bucketN)
}

class GraftLogSinkWriterFactory(table: String, schemaDdl: String,
    keyCol: String, partCols: Seq[String] = Nil,
    bucketN: Option[Int] = None)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    GraftLogSinkWriterFactory.newWriter(table, schemaDdl, keyCol,
      epochId, partitionId, taskId, partCols = partCols, bucketN = bucketN)
}

object GraftLogSinkWriterFactory {
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.spark.sql.connector.write.DataWriter

  /** One task-attempt writer: parquet files under `<table>/data/`,
    * each file's stats observed while writing by the same
    * [[graft.tablelog.FileStats]] accumulator the staged batch write
    * uses (no NDV sketches here) — shared by the streaming
    * sink (epoch = micro-batch), the catalog's batch INSERT
    * (epoch = 0), and the row-level-operation replacement write.
    *
    * PARTITIONED tables keep one open file PER partition tuple
    * (Spark's concurrent dynamic-partition-write shape, bounded by
    * the [[TableLog.maxPartTuplesPerFile]] cardinality cap): every
    * staged file is tuple-PURE by construction — the invariant the
    * storage-partitioned scan needs to elide shuffles — with no
    * ordering requirement on the incoming rows and exactly one file
    * per tuple per task. Files open lazily on first row — a zero-row
    * task stages nothing.
    *
    * `allowOpColumn`: a group-based ReplaceData plan with no
    * metadata columns hands the writer its RAW query rows, which
    * carry Spark's internal `__row_operation` INT as a leading extra
    * field (the row projection is only applied on the
    * metadata-projection path — observed Spark 4.1 behavior, pinned
    * by spec); the writer detects the one-field surplus and shifts
    * ordinals, refusing any other width mismatch. */
  private[sources] def newWriter(table: String, schemaDdl: String,
      keyCol: String, epochId: Long, partitionId: Int,
      taskId: Long, allowOpColumn: Boolean = false,
      partCols: Seq[String] = Nil,
      bucketN: Option[Int] = None): DataWriter[InternalRow] = {
    val schema = StructType.fromDDL(schemaDdl)
    // an IDENTITY key column is legitimately ABSENT from the write
    // schema (GENERATED ALWAYS — checkedMeta admits the reduced
    // width): the writer then skips key tracking entirely; its
    // AddFiles are transitional — commitStagedAppend's completion
    // pass re-stages every file with allocated ids and exact stats,
    // so the sentinel bounds never reach a manifest
    val keyIdx =
      if (schema.fieldNames.contains(keyCol)) schema.fieldIndex(keyCol)
      else -1
    // partCols are SPECS (`c` / `days:c` / `months:c`): resolve each
    // to its source ordinal and a per-row value renderer — identity
    // stringification or the transform's UTC day/month rendering,
    // the same bucketing TableLog.partValueCol computes SQL-side
    val partIdx = partCols
      .map(s => schema.fieldIndex(TableLog.partSourceCol(s))).toArray
    val partRender: Array[(InternalRow, Int) => String] =
      partCols.toArray.map { spec =>
        val dt = schema(TableLog.partSourceCol(spec)).dataType
        import org.apache.spark.sql.types.{DateType, TimestampType}
        TableLog.partTransformOf(spec) match {
          case TableLog.PIdentity(c) => dt match {
            case StringType  => (r: InternalRow, i: Int) =>
              r.getUTF8String(i).toString
            case LongType    => (r: InternalRow, i: Int) =>
              r.getLong(i).toString
            case IntegerType => (r: InternalRow, i: Int) =>
              r.getInt(i).toString
            case o => throw new UnsupportedOperationException(
              s"graftlog sink: partition column type $o for '$c'")
              // unreachable: createEmpty admits only STRING/BIGINT/INT
          }
          case TableLog.PDays(c) => dt match {
            case TimestampType => (r: InternalRow, i: Int) =>
              TableLog.renderDay(TableLog.epochDayOfMicros(r.getLong(i)))
            case DateType => (r: InternalRow, i: Int) =>
              TableLog.renderDay(r.getInt(i).toLong)
            case o => throw new UnsupportedOperationException(
              s"graftlog sink: days($c) over $o") // unreachable
          }
          case TableLog.PMonths(c) => dt match {
            case TimestampType => (r: InternalRow, i: Int) =>
              TableLog.renderMonth(TableLog.epochDayOfMicros(r.getLong(i)))
            case DateType => (r: InternalRow, i: Int) =>
              TableLog.renderMonth(r.getInt(i).toLong)
            case o => throw new UnsupportedOperationException(
              s"graftlog sink: months($c) over $o") // unreachable
          }
          case TableLog.PYears(c) => dt match {
            case TimestampType => (r: InternalRow, i: Int) =>
              TableLog.renderYear(TableLog.epochDayOfMicros(r.getLong(i)))
            case DateType => (r: InternalRow, i: Int) =>
              TableLog.renderYear(r.getInt(i).toLong)
            case o => throw new UnsupportedOperationException(
              s"graftlog sink: years($c) over $o") // unreachable
          }
          case TableLog.PHours(c) => dt match {
            case TimestampType => (r: InternalRow, i: Int) =>
              TableLog.renderHour(TableLog.epochHourOfMicros(r.getLong(i)))
            case o => throw new UnsupportedOperationException(
              s"graftlog sink: hours($c) over $o") // unreachable
          }
        }
      }
    require(keyIdx < 0 || schema(keyIdx).dataType == LongType,
      s"graftlog sink: key column '$keyCol' must be BIGINT")
    val stageId = "stream-" + java.util.UUID.randomUUID().toString.take(8)
    val messageType = messageTypeOf(schema)
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(messageType)
    // stats-indexed columns: the same layout and accumulator the
    // staged batch write uses, without NDV sketches
    val statLayout =
      new graft.tablelog.StatLayout(schema, keyCol, partCols, sketches = false)

    new DataWriter[InternalRow] {
      import org.apache.parquet.hadoop.ParquetWriter

      final class FileState(val relPath: String) {
        val abs: java.nio.file.Path = java.nio.file.Paths.get(table, relPath)
        java.nio.file.Files.createDirectories(abs.getParent)
        val writer: ParquetWriter[org.apache.parquet.example.data.Group] =
          org.apache.parquet.hadoop.example.ExampleParquetWriter
            .builder(new HadoopPath(abs.toString))
            .withType(messageType).withConf(new Configuration()).build()
        val stats = new graft.tablelog.FileStats(statLayout, off)
      }

      // one open file per live partition tuple (key null = the single
      // file of an unpartitioned write); insertion-ordered so commit
      // messages are deterministic per task
      private val open = new java.util.LinkedHashMap[List[String], FileState]()
      private var fileSeq = 0
      private var off = -1

      // open-file cap: partition routing is bounded by the tuple-stat
      // cap; BUCKET routing legitimately sees up to bucket.count
      // distinct ids per task when the input arrives unclustered (the
      // provider path requests no distribution), so its cap is the
      // declared bucket count — capping it at 64 would make any
      // bucket.count above 64 unusable on unclustered input
      private val tupleCap =
        if (partIdx.isEmpty && bucketN.isDefined) bucketN.get
        else TableLog.maxPartTuplesPerFile

      private def stateFor(tuple: List[String]): FileState = {
        var st = open.get(tuple)
        if (st == null) {
          require(open.size < tupleCap,
            s"graftlog sink: task saw > $tupleCap distinct " +
              "partition tuples — the partition column is too " +
              "high-cardinality to stratify at file grain")
          st = new FileState(
            f"data/$stageId/part-$epochId%05d-$partitionId%05d-" +
              f"$taskId-$fileSeq%04d.parquet")
          fileSeq += 1
          open.put(tuple, st)
        }
        st
      }

      override def write(r: InternalRow): Unit = {
        if (off < 0) {
          off = r.numFields - schema.fields.length
          require(off == 0 || (off == 1 && allowOpColumn),
            s"graftlog sink: row has ${r.numFields} fields, table " +
              s"declares ${schema.fields.length}")
        }
        val k =
          if (keyIdx < 0) 0L // identity key: allocated at commit
          else {
            require(!r.isNullAt(keyIdx + off),
              s"graftlog sink: key column '$keyCol' must not be null")
            r.getLong(keyIdx + off)
          }
        // the routing tuple: partition values, OR the key's bucket id
        // (bucketed tables), OR null (one plain file per task)
        val tuple: List[String] =
          if (partIdx.nonEmpty) List.tabulate(partIdx.length) { j =>
            val i = partIdx(j) + off
            if (r.isNullAt(i)) TableLog.NullPartValue
            else partRender(j)(r, i)
          }
          else bucketN match {
            case Some(n) =>
              List(GraftLogAppendContract.bucketOf(k, n).toString)
            case None => null
          }
        val st = stateFor(tuple)
        val g = factory.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, c) =>
          val i = c + off
          if (!r.isNullAt(i)) f.dataType match {
            case LongType    => g.add(f.name, r.getLong(i))
            case IntegerType => g.add(f.name, r.getInt(i))
            case DoubleType  => g.add(f.name, r.getDouble(i))
            case FloatType   => g.add(f.name, r.getFloat(i))
            case BooleanType => g.add(f.name, r.getBoolean(i))
            case StringType  => g.add(f.name, r.getUTF8String(i).toString)
            case org.apache.spark.sql.types.TimestampType =>
              g.add(f.name, r.getLong(i))
            case org.apache.spark.sql.types.DateType =>
              g.add(f.name, r.getInt(i))
            case o => throw new UnsupportedOperationException(
              s"graftlog sink: unsupported column type $o for '${f.name}'")
          }
        }
        st.stats.add(r)
        st.writer.write(g)
      }

      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        import scala.jdk.CollectionConverters._
        val msgs = open.entrySet().iterator().asScala.map { e =>
          val (tuple, st) = (e.getKey, e.getValue)
          st.writer.close()
          // partitioned tables record tuple stats; bucketed tables
          // record the bucket id as a synthetic `__bucket` column
          // stat (min = max = id proves file purity to the scan)
          val parts =
            if (tuple == null || partCols.isEmpty) Nil
            else Seq(TableLog.PartStat(tuple, st.stats.rows))
          val cols =
            if (tuple != null && partCols.isEmpty)
              st.stats.colStats :+ TableLog.ColStat("__bucket", 'l',
                tuple.head, tuple.head)
            else st.stats.colStats
          val (mn, mx) = st.stats.keyBounds
          GraftLogSinkCommitMessage(st.relPath, st.stats.rows, mn, mx,
            parts, cols)
        }.toSeq
        open.clear()
        GraftLogSinkCommitBundle(msgs)
      }
      override def abort(): Unit = {
        import scala.jdk.CollectionConverters._
        open.values().iterator().asScala.foreach { st =>
          st.writer.close()
          java.nio.file.Files.deleteIfExists(st.abs)
        }
        open.clear()
      }
      override def close(): Unit = ()
    }
  }

  private[sources] def messageTypeOf(schema: StructType): MessageType = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val field = f.dataType match {
        case LongType    => Types.optional(INT64).named(f.name)
        case IntegerType => Types.optional(INT32).named(f.name)
        case DoubleType  => Types.optional(DOUBLE).named(f.name)
        case FloatType   => Types.optional(FLOAT).named(f.name)
        case BooleanType => Types.optional(BOOLEAN).named(f.name)
        case StringType  => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        // instant semantics, micros — exactly Spark's own TIMESTAMP
        // parquet encoding, so the vectorized read round-trips
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case o => throw new UnsupportedOperationException(
          s"graftlog sink: unsupported column type $o for '${f.name}'")
      }
      b.addField(field)
    }
    b.named("graftlog")
  }
}

/** The stream offset IS the table version — total order for free,
  * replay windows deterministic from the log. */
case class GraftLogVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** ADMISSION CONTROL ([[SupportsAdmissionControl]]): without it a
  * backfill from `startingVersion 0` on a long table plans EVERY
  * appended file into one micro-batch. The reference's own load path
  * is one event per blob (reference `terraform/main.tf:260-298`) — N
  * blobs arrive as N invocations, never one giant one — so the
  * streamed image honors `maxFilesPerTrigger` / `maxBytesPerTrigger`
  * / `maxRowsPerTrigger`: `latestOffset(start, limit)` walks the
  * commit window and admits WHOLE VERSIONS (the offset is a version —
  * batch boundaries must be commit boundaries, which also keeps each
  * batch transactionally meaningful) until the next version would
  * exceed the budget, always admitting at least one so a single
  * oversized commit still drains. File counts and row counts come
  * from the manifest; bytes are one driver-side `Files.size` per
  * admitted-candidate file (file-grain, like the manifest itself).
  * `SupportsTriggerAvailableNow` pins the end of an AvailableNow run
  * to the version observed at prepare time, so the bounded-drain
  * contract holds even while writers keep committing. */
class GraftLogMicroBatchStream(path: String, schema: StructType,
    startingVersion: Long,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    skipChangeCommits: Boolean = false) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows}

  private val appendOps = Set("create", "append", "evolve")
  // AvailableNow: the drain target frozen at prepare time
  @volatile private var availableNowCap: Option[Long] = None

  override def initialOffset(): Offset = GraftLogVersionOffset(startingVersion)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-controlled entry point")
  override def deserializeOffset(json: String): Offset =
    GraftLogVersionOffset(json.toLong)
  // nothing to clean: offsets are log versions, the log is the state
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TableLog.latestVersion(path))

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxFilesPerTrigger.map(ReadLimit.maxFiles),
      maxBytesPerTrigger.map(ReadLimit.maxBytes),
      maxRowsPerTrigger.map(ReadLimit.maxRows)).flatten
    limits match {
      case Nil      => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset =
    GraftLogVersionOffset(math.min(
      TableLog.latestVersion(path),
      availableNowCap.getOrElse(Long.MaxValue)))

  private def flatten(limit: ReadLimit): Seq[ReadLimit] = limit match {
    case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
    case other                 => Seq(other)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[GraftLogVersionOffset].version
    val hi = math.min(TableLog.latestVersion(path),
      availableNowCap.getOrElse(Long.MaxValue))
    if (hi <= lo) return GraftLogVersionOffset(lo)
    val caps = flatten(limit)
    if (caps.forall(_.isInstanceOf[ReadAllAvailable]))
      return GraftLogVersionOffset(hi)
    val maxFiles = caps.collect { case f: ReadMaxFiles => f.maxFiles() }
      .minOption.getOrElse(Int.MaxValue)
    val maxBytes = caps.collect { case b: ReadMaxBytes => b.maxBytes() }
      .minOption.getOrElse(Long.MaxValue)
    val maxRows = caps.collect { case r: ReadMaxRows => r.maxRows() }
      .minOption.getOrElse(Long.MaxValue)
    var admitted = lo
    var files = 0L; var bytes = 0L; var rows = 0L
    var open = true
    // one manifest read per ADMITTED version (+1 for the refusal that
    // closes the batch) — a long backfill under a small budget costs
    // O(admitted) per trigger, not O(remaining window); stop BEFORE
    // the version that would blow the budget, but always admit the
    // first one (progress guarantee)
    while (open && admitted < hi) {
      val c = TableLog.commits(path, admitted + 1,
        fromExclusive = admitted).head
      val cFiles = c.adds.size.toLong
      val cRows = c.adds.map(_.rows).sum
      val cBytes =
        if (maxBytes == Long.MaxValue) 0L
        else c.adds.map { a =>
          val p = java.nio.file.Paths.get(path, a.relPath)
          if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p)
          else 0L
        }.sum
      val fits = files + cFiles <= maxFiles &&
        bytes + cBytes <= maxBytes && rows + cRows <= maxRows
      if (fits || admitted == lo) {
        admitted = c.version
        files += cFiles; bytes += cBytes; rows += cRows
      } else open = false
    }
    GraftLogVersionOffset(admitted)
  }

  // the current batch's vectorized reader factory: planInputPartitions
  // and createReaderFactory are driver-side calls of the SAME
  // micro-batch (batches execute serially within a query), so the
  // factory built while planning serves that batch's partitions
  @volatile private var batchFactory: PartitionReaderFactory = _

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftLogVersionOffset].version
    val hi = end.asInstanceOf[GraftLogVersionOffset].version
    // only the (lo, hi] manifests are read — per-batch planning cost
    // is bounded by the batch window, not the table's lifetime
    val window0 = TableLog.commits(path, hi, fromExclusive = lo)
    // `skipChangeCommits` (Delta's escape hatch, same name): rewrite
    // commits DROP from the feed wholesale instead of failing it —
    // the consumer sees appends only and accepts missing the
    // rewrites' row changes (the option's documented contract).
    // ZERO-DELTA commits (setprops, tag, droptag — no adds, no
    // removes) are admissible by construction: nothing to emit,
    // nothing to double-count.
    def admissible(c: TableLog.Commit): Boolean =
      appendOps(c.op) || (c.adds.isEmpty && c.removes.isEmpty)
    val window =
      if (skipChangeCommits) window0.filter(admissible)
      else window0
    window.filterNot(admissible).foreach { c =>
      throw new IllegalStateException(
        s"$path: v${c.version} is a ${c.op} (rewrite) — an appends-only " +
          "stream over this window would double-count; consume the " +
          "change feed (option readChangeFeed=true) across it, skip " +
          "rewrites wholesale (option skipChangeCommits=true), or " +
          s"restart with startingVersion > ${c.version}")
    }
    // batches read through Spark's OWN vectorized parquet scan (the
    // same construction as the catalog's batch path), not a
    // row-at-a-time Group reader: streamed backfills decode columnar
    // with whole-stage codegen downstream, and pre-evolution files
    // null-fill new columns through the explicit-schema read. Under a
    // column mapping the scan requests PHYSICAL names, resolved
    // POSITIONALLY against the window-end era (rename keeps ordinals,
    // evolve only appends — so the stream's fields are a positional
    // prefix of the hi-era schema even after the stream's own logical
    // names were renamed AGAIN mid-stream; a by-name lookup through
    // the current map would miss such a twice-renamed column and
    // silently null-fill it). A mid-stream DROP breaks the prefix
    // invariant and fails loudly rather than misattribute bytes —
    // the positional datatype check is the alignment witness.
    val files = window.flatMap(_.adds)
    val cur = TableLog.state(path, hi)
    val physSchema =
      if (cur.colMap.isEmpty) schema
      else {
        val curPhys = cur.physSchema
        val curLogical = StructType.fromDDL(cur.schemaDdl)
        val curNames = curLogical.fieldNames.toSet
        // positional alignment witness: ordinals match (length +
        // datatype), AND a stream column name still present in the
        // hi-era schema sits at the SAME ordinal (a renamed-away name
        // is absent entirely; a name present elsewhere means a
        // drop+add reshuffled ordinals under identical datatypes —
        // the false-witness case that would misattribute bytes)
        require(curPhys.length >= schema.length &&
            schema.fields.indices.forall { i =>
              curPhys.fields(i).dataType == schema.fields(i).dataType &&
                (curLogical.fields(i).name == schema.fields(i).name ||
                  !curNames(schema.fields(i).name))
            },
          s"$path: the v$hi schema no longer positionally covers this " +
            "stream's start-era schema (a column was dropped or " +
            "reordered mid-stream) — restart the stream from the " +
            "current schema")
        StructType(schema.fields.indices.map(i =>
          schema.fields(i).copy(name = curPhys.fields(i).name)))
      }
    val batch = GraftLogParquet.scan(
      org.apache.spark.sql.SparkSession.active, path, files,
      physSchema, physSchema, Array.empty,
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      .toBatch
    batchFactory = batch.createReaderFactory()
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    require(batchFactory != null,
      "createReaderFactory before planInputPartitions")
    batchFactory
  }
}

/** Row-at-a-time parquet decode through the public parquet-hadoop
  * Group API, in `schema` order with null-fill for absent columns
  * (pre-evolution files) — field-index resolution and type dispatch
  * hoisted out of the row loop (resolved ONCE per file; the group
  * type is constant within a file). Used by the change feed's diff
  * partitions, whose cost is the rewritten sliver of one commit;
  * bulk append batches ride Spark's vectorized scan instead. Strings
  * decode as UTF8String so values compare and emit without copies. */
private[sources] object GraftLogGroupRows {
  import org.apache.parquet.example.data.Group

  def foreach(file: String, schema: StructType)(f: Array[Any] => Unit): Unit = {
    @annotation.nowarn("cat=deprecation")
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new HadoopPath(file))
      .withConf(new Configuration()).build()
    try {
      val width = schema.fields.length
      var getters: Array[(Group, Int) => Any] = null
      var idx: Array[Int] = null
      var g = reader.read()
      while (g != null) {
        if (getters == null) {
          val gt = g.getType
          idx = schema.fields.map(fd =>
            if (gt.containsField(fd.name)) gt.getFieldIndex(fd.name) else -1)
          getters = schema.fields.map { fd =>
            fd.dataType match {
              case LongType    => (g: Group, i: Int) => g.getLong(i, 0)
              case IntegerType => (g: Group, i: Int) => g.getInteger(i, 0)
              case DoubleType  => (g: Group, i: Int) => g.getDouble(i, 0)
              case FloatType   => (g: Group, i: Int) => g.getFloat(i, 0)
              case BooleanType => (g: Group, i: Int) => g.getBoolean(i, 0)
              case StringType  => (g: Group, i: Int) =>
                UTF8String.fromString(g.getString(i, 0))
              case org.apache.spark.sql.types.TimestampType =>
                (g: Group, i: Int) => g.getLong(i, 0)
              case org.apache.spark.sql.types.DateType =>
                (g: Group, i: Int) => g.getInteger(i, 0)
              case o => throw new UnsupportedOperationException(
                s"graftlog stream: unsupported column type $o for '${fd.name}'")
            }
          }
        }
        val vals = new Array[Any](width)
        var c = 0
        while (c < width) {
          val i = idx(c)
          vals(c) =
            if (i < 0 || g.getFieldRepetitionCount(i) == 0) null
            else getters(c)(g, i)
          c += 1
        }
        f(vals)
        g = reader.read()
      }
    } finally reader.close()
  }
}

// ------------------------------------------------------- change feed

/** CHANGE-FEED read mode (`option("readChangeFeed", "true")`) — the
  * q336 [[TableLog.diffVersions]] semantics, streamed: each commit in
  * the offset window emits (key, action, old_*, new_*,
  * _commit_version) rows, so a consumer RIDES THROUGH rewrite commits
  * (delete/merge/cdc/compact) that fail the appends-only stream fast —
  * Delta's CDF capability, computed from the log's own manifests
  * instead of recorded change files.
  *
  * Distribution is the point at 100 TB: a rewrite commit's diff is
  * partitioned BY KEY RANGE using the per-file `[min, max]` manifest
  * stats — range boundaries are the distinct file minima of the
  * commit's removed+added files, each partition reads only the files
  * intersecting its range, filters rows to the range, and hash-joins
  * old vs new locally. No shuffle, no driver-side data; per-partition
  * memory is bounded by a range's rows (≈ one file under the
  * range-partitioned staging layout), and the whole diff costs the
  * REWRITTEN SLIVER, never the table — files active in both versions
  * cannot contribute a change and are never read (the diffVersions
  * contract). Append-shaped commits emit pure inserts straight off
  * their added files, one partition per file. Unchanged rows that
  * merely moved files during a rewrite are dropped by the null-safe
  * value compare, exactly like diffVersions. Keys are assumed unique
  * per snapshot (the merge/CDC contract this log already carries). */
private[sources] object GraftLogChangeFeed {
  import org.apache.spark.sql.types.StructField

  def schemaOf(base: StructType, keyCol: String): StructType = {
    val k = base.fields.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"change feed: key column '$keyCol' not in table schema"))
    val rest = base.fields.filterNot(_.name == keyCol)
    StructType(
      k.copy(nullable = false) +:
        StructField("action", StringType, nullable = false) +:
        (rest.flatMap(f => Seq(
          StructField(s"old_${f.name}", f.dataType, nullable = true),
          StructField(s"new_${f.name}", f.dataType, nullable = true))) :+
          StructField("_commit_version", LongType, nullable = false)))
  }
}

class GraftLogChangeFeedTable(path: String, outSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graftlog_change_feed(`$path`)"
  override def schema(): StructType = outSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = outSchema
      override def toMicroBatchStream(
          checkpointLocation: String): MicroBatchStream =
        new GraftLogChangeFeedStream(path,
          GraftLogStartingBound.resolve(path, options.get),
          maxFilesPerTrigger =
            Option(options.get("maxFilesPerTrigger")).map(_.toInt),
          maxBytesPerTrigger =
            Option(options.get("maxBytesPerTrigger")).map(_.toLong),
          maxRowsPerTrigger =
            Option(options.get("maxRowsPerTrigger")).map(_.toLong))
    }
}

/** ADMISSION CONTROL mirrors the appends-only source: a change-feed
  * BACKFILL from `startingVersion 0` on a deep table would otherwise
  * diff EVERY commit into one micro-batch. Budgets admit WHOLE
  * versions (batch boundaries must stay commit boundaries); a rewrite
  * commit's cost counts BOTH sides of its diff — the added and the
  * removed files are all read — with rows/files from the manifest and
  * bytes from one driver-side `Files.size` per candidate file. Always
  * admits at least one version (progress guarantee). */
class GraftLogChangeFeedStream(path: String, startingVersion: Long,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows}

  private val appendOps = Set("create", "append", "evolve")
  @volatile private var availableNowCap: Option[Long] = None

  override def initialOffset(): Offset = GraftLogVersionOffset(startingVersion)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-controlled entry point")
  override def deserializeOffset(json: String): Offset =
    GraftLogVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TableLog.latestVersion(path))

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxFilesPerTrigger.map(ReadLimit.maxFiles),
      maxBytesPerTrigger.map(ReadLimit.maxBytes),
      maxRowsPerTrigger.map(ReadLimit.maxRows)).flatten
    limits match {
      case Nil      => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset =
    GraftLogVersionOffset(math.min(
      TableLog.latestVersion(path),
      availableNowCap.getOrElse(Long.MaxValue)))

  private def flatten(limit: ReadLimit): Seq[ReadLimit] = limit match {
    case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
    case other                 => Seq(other)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[GraftLogVersionOffset].version
    val hi = math.min(TableLog.latestVersion(path),
      availableNowCap.getOrElse(Long.MaxValue))
    if (hi <= lo) return GraftLogVersionOffset(lo)
    val caps = flatten(limit)
    if (caps.forall(_.isInstanceOf[ReadAllAvailable]))
      return GraftLogVersionOffset(hi)
    val maxFiles = caps.collect { case f: ReadMaxFiles => f.maxFiles() }
      .minOption.getOrElse(Int.MaxValue)
    val maxBytes = caps.collect { case b: ReadMaxBytes => b.maxBytes() }
      .minOption.getOrElse(Long.MaxValue)
    val maxRows = caps.collect { case r: ReadMaxRows => r.maxRows() }
      .minOption.getOrElse(Long.MaxValue)
    var admitted = lo
    var files = 0L; var bytes = 0L; var rows = 0L
    var open = true
    while (open && admitted < hi) {
      val c = TableLog.commits(path, admitted + 1,
        fromExclusive = admitted).head
      // a rewrite's diff reads removed AND added files; removed files
      // are still on disk (vacuum-gated), so sizes resolve the same way
      val cFiles = (c.adds.size + c.removes.size).toLong
      val cRows = c.adds.map(_.rows).sum
      val cBytes =
        if (maxBytes == Long.MaxValue) 0L
        else (c.adds.map(_.relPath) ++ c.removes).map { rel =>
          val p = java.nio.file.Paths.get(path, rel)
          if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p)
          else 0L
        }.sum
      val fits = files + cFiles <= maxFiles &&
        bytes + cBytes <= maxBytes && rows + cRows <= maxRows
      if (fits || admitted == lo) {
        admitted = c.version
        files += cFiles; bytes += cBytes; rows += cRows
      } else open = false
    }
    GraftLogVersionOffset(admitted)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftLogVersionOffset].version
    val hi = end.asInstanceOf[GraftLogVersionOffset].version
    // schema authority: the table as of the window's end — earlier
    // files null-fill columns they predate (the batch read contract).
    // Partitions carry the PHYSICAL ddl (what files hold; the key
    // never renames, and CDF rows emit positionally)
    val authority = TableLog.state(path, hi)
    val ddl = authority.physSchema.toDDL
    val k = authority.keyCol
    def abs(rel: String): String =
      java.nio.file.Paths.get(path, rel).toString
    TableLog.commits(path, hi, fromExclusive = lo).flatMap { c =>
      if (appendOps(c.op)) {
        c.adds.map(a => GraftLogCdfInsertPartition(
          abs(a.relPath), c.version, ddl, k): InputPartition)
      } else {
        val removed = c.removes.toSet
        val oldFiles = TableLog.state(path, c.version - 1)
          .active.filter(a => removed(a.relPath))
        val newFiles = c.adds
        // key-range partitions cut at the distinct file minima: every
        // key of every involved file is >= the smallest minimum, so
        // the ranges cover; each partition reads only intersecting
        // files and filters rows to its range — disjoint and complete
        val starts = (oldFiles ++ newFiles).map(_.min).distinct.sorted
        // each side's DV bitset rides into the partition so dead
        // positions subtract before the compare (driver-side read:
        // sidecars are KB-scale by the DV contract)
        def withDv(a: TableLog.AddFile): (String, Array[Long]) =
          (abs(a.relPath), a.dv.fold(Array.empty[Long])(_ =>
            java.util.BitSet.valueOf(java.nio.file.Files.readAllBytes(
              TableLog.dvSidecar(path, a))).toLongArray))
        starts.zipWithIndex.map { case (rlo, i) =>
          val rhi =
            if (i + 1 < starts.length) starts(i + 1) else Long.MaxValue
          def hits(a: TableLog.AddFile): Boolean =
            a.max >= rlo && (a.min < rhi || rhi == Long.MaxValue)
          GraftLogCdfDiffPartition(rlo, rhi,
            oldFiles.filter(hits).map(withDv),
            newFiles.filter(hits).map(withDv),
            c.version, ddl, k): InputPartition
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogCdfReaderFactory
}

/** One appended file of an append-shaped commit: every row emits as
  * `insert` (old_* null). */
case class GraftLogCdfInsertPartition(file: String, version: Long,
    tableSchemaDdl: String, keyCol: String) extends InputPartition

/** One key range `[loKey, hiKey)` of a rewrite commit's diff
  * (`hiKey = Long.MaxValue` means inclusive top): reads the removed
  * and added files intersecting the range, local hash-join by key. */
/** Diff-side file: absolute path plus its deletion vector's bitset
  * words (empty = no DV) — dead positions must subtract BEFORE the
  * old-vs-new compare, or a DV-only commit diffs to nothing. */
case class GraftLogCdfDiffPartition(loKey: Long, hiKey: Long,
    oldFiles: Seq[(String, Array[Long])],
    newFiles: Seq[(String, Array[Long])], version: Long,
    tableSchemaDdl: String, keyCol: String) extends InputPartition

class GraftLogCdfReaderFactory extends PartitionReaderFactory {
  private val INSERT = UTF8String.fromString("insert")
  private val UPDATE = UTF8String.fromString("update")
  private val DELETE = UTF8String.fromString("delete")

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p match {
      case ins: GraftLogCdfInsertPartition => insertRows(ins)
      case dif: GraftLogCdfDiffPartition   => diffRows(dif)
      case o => throw new IllegalStateException(s"unexpected partition $o")
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  /** Emit one CDF row: [key, action, (old_i, new_i)…, version]. */
  private def emit(key: Long, action: UTF8String, old: Array[Any],
      neu: Array[Any], keyIdx: Int, width: Int, version: Long): InternalRow = {
    val out = new Array[Any](2 + 2 * (width - 1) + 1)
    out(0) = key
    out(1) = action
    var o = 2
    var c = 0
    while (c < width) {
      if (c != keyIdx) {
        out(o) = if (old == null) null else old(c)
        out(o + 1) = if (neu == null) null else neu(c)
        o += 2
      }
      c += 1
    }
    out(out.length - 1) = version
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq
      .unsafeWrapArray(out))
  }

  private def insertRows(p: GraftLogCdfInsertPartition): Iterator[InternalRow] = {
    val schema = StructType.fromDDL(p.tableSchemaDdl)
    val keyIdx = schema.fieldIndex(p.keyCol)
    val width = schema.fields.length
    val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    GraftLogGroupRows.foreach(p.file, schema) { vals =>
      buf += emit(vals(keyIdx).asInstanceOf[Long], INSERT, null, vals,
        keyIdx, width, p.version)
    }
    buf.iterator
  }

  private def diffRows(p: GraftLogCdfDiffPartition): Iterator[InternalRow] = {
    val schema = StructType.fromDDL(p.tableSchemaDdl)
    val keyIdx = schema.fieldIndex(p.keyCol)
    val width = schema.fields.length
    def inRange(k: Long): Boolean =
      k >= p.loKey && (k < p.hiKey || p.hiKey == Long.MaxValue)
    def same(a: Array[Any], b: Array[Any]): Boolean = {
      var c = 0
      while (c < width) {
        if (c != keyIdx && !java.util.Objects.equals(a(c), b(c))) return false
        c += 1
      }
      true
    }
    // live rows only: each side's deletion vector subtracts by row
    // position before the compare (reads are whole-file sequential,
    // so the ordinal IS the position)
    def eachLive(f: (String, Array[Long]))(fn: Array[Any] => Unit): Unit = {
      val bits = java.util.BitSet.valueOf(f._2)
      var pos = -1
      GraftLogGroupRows.foreach(f._1, schema) { vals =>
        pos += 1
        if (!bits.get(pos)) fn(vals)
      }
    }
    // old side materializes per range — bounded by the range's rows
    // (≈ one file under range-partitioned staging), never the commit
    val old = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Any]]
    p.oldFiles.foreach(f => eachLive(f) { vals =>
      val k = vals(keyIdx).asInstanceOf[Long]
      if (inRange(k)) old(k) = vals
    })
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    p.newFiles.foreach(f => eachLive(f) { vals =>
      val k = vals(keyIdx).asInstanceOf[Long]
      if (inRange(k)) old.remove(k) match {
        case Some(o) =>
          if (!same(o, vals))
            out += emit(k, UPDATE, o, vals, keyIdx, width, p.version)
        case None =>
          out += emit(k, INSERT, null, vals, keyIdx, width, p.version)
      }
    })
    old.foreach { case (k, o) =>
      out += emit(k, DELETE, o, null, keyIdx, width, p.version)
    }
    out.iterator
  }
}
