package graft.sources

import java.util

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableCatalog, TableChange, SupportsRead}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tablelog.TableLog

/** SQL-visible catalog over [[graft.tablelog.TableLog]] commit logs —
  * the reference-parity read surface: BigQuery users query the loaded
  * table BY NAME (reference `terraform/outputs.tf:13-15` exports the
  * queryable table id), so a TableLog user must be able to write
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graftlog",
  *                  "graft.sources.GraftLogCatalog")
  *   spark.sql("SELECT ... FROM graftlog.`/path/to/table`")
  *   spark.sql("SELECT ... FROM graftlog.`/path` VERSION AS OF 3")
  * }}}
  *
  * instead of calling the `TableLog.snapshot(...)` API. The catalog
  * resolves an identifier (the table's filesystem path) and an
  * optional time-travel version to a manifest [[TableLog.Snapshot]];
  * the SCAN is Spark's own vectorized parquet DSv2 scan over exactly
  * the snapshot's active files — so pushdown, column pruning,
  * row-group skipping and whole-stage codegen are the built-in
  * reader's, and the catalog adds the two MANIFEST-level skipping
  * layers on top before Spark ever lists a file:
  *
  *  - key-range file skip: pushed comparisons on the table's declared
  *    key column narrow the active set via the per-file `[min, max]`
  *    stats ([[TableLog.prunedFiles]]);
  *  - bloom file skip: pushed point predicates (`=`, `IN`) on the
  *    table's bloom-indexed column test the per-file sidecars
  *    ([[TableLog.prunedFilesBloom]]).
  *
  * Every filter is returned to Spark as a residual (file-grain skip
  * is not row-exact) AND handed to the parquet scan for row-group
  * pruning — best-effort pushdown, with `pushedFilters` reporting
  * what the manifest layers consumed (the PlanSpec pin surface).
  *
  * At 100 TB the division of labor is the point: version resolution
  * and file skipping are driver-side folds over file-grain metadata
  * (~100 B/file), and the data path is untouched Spark parquet.
  *
  * SQL statements supported: `CREATE TABLE` (empty v1, schema+key
  * declared — which also makes CTAS work), `INSERT INTO` (rebase-safe
  * atomic append), `DELETE FROM … WHERE` (pushed into the
  * transactional copy-on-write delete when every predicate translates
  * exactly; arbitrary predicates rewrite through the row-level path),
  * `UPDATE` and `MERGE INTO` (group-based copy-on-write row-level
  * operations — [[GraftLogRowLevelOperation]]), `ALTER TABLE ADD
  * COLUMN` (metadata-only additive evolution), CALL procedures
  * (vacuum/compact), plus the `#history` metadata table and
  * VERSION/TIMESTAMP AS OF reads. replaceWhere stays on the
  * `TableLog` API (SQL has no verb for slice restatement), as do
  * DROP/RENAME — refused rather than offered as a weaker copy.
  */
class GraftLogCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces {
  private var catalogName: String = "graftlog"

  /** The catalog's SQL-visible functions — the engine's partition
    * transforms, resolvable the way Iceberg's FunctionCatalog exposes
    * its own: `bucket` (the ONE hash the write routing, the
    * storage-partitioned scan reports, and Spark's SPJ planner all
    * share) and `days`/`months` (the UTC temporal bucketing the
    * `PARTITIONED BY (days(ts))` write distribution clusters on). */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    Array("bucket", "days", "months", "years", "hours")
      .map(Identifier.of(namespace, _))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name() match {
      case "bucket" => GraftLogBucketFunction
      case "days"   => GraftLogDaysFunction
      case "months" => GraftLogMonthsFunction
      case "years"  => GraftLogYearsFunction
      case "hours"  => GraftLogHoursFunction
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  /** Optional warehouse ROOT (`spark.sql.catalog.<name>.warehouse`):
    * with it set, identifiers resolve BigQuery-style —
    * `<catalog>.<dataset>.<table>` → `<root>/<dataset>/<table>` — and
    * `SHOW TABLES` / `SHOW NAMESPACES` enumerate the directory tree
    * (the reference's users address the loaded table as
    * `project.dataset.table`, reference `terraform/outputs.tf:13-15`).
    * Absolute quoted paths keep working either way; without a
    * warehouse, paths are the only addressing mode and namespaces
    * are not enumerable. */
  private var warehouse: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
  }
  override def name(): String = catalogName

  /** CHECK constraints and column DEFAULTs are first-class
    * capabilities ([[GraftLogTable.constraints]],
    * [[graft.tablelog.TableLog.evolveSchemaDefault]]); without these
    * flags Spark refuses `ALTER TABLE … ADD CONSTRAINT` / `ADD COLUMN
    * … DEFAULT` before the catalog ever sees them. */
  /** Plus the DDL-native `GENERATED ALWAYS AS (expr)` /
    * `GENERATED ALWAYS AS IDENTITY [(START WITH n INCREMENT BY s)]`
    * column spellings — the words every Delta/BigQuery user types
    * first: [[createTable]] lowers the parsed column metadata onto
    * the same `gencol.<col>` / `identity.<col>` properties the
    * analyzer rule and the write paths already own. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** Maintenance PROCEDURES — `CALL graftlog.vacuum(...)` /
    * `CALL graftlog.compact(...)`: the table-maintenance verbs SQL
    * has no DML for, surfaced the way Iceberg surfaces them. Each
    * call is one transactional TableLog operation and returns its
    * accounting as a result row. */
  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftLogProcedures.all
        .map(p => Identifier.of(Array.empty, p.name())).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace().nonEmpty) throw new UnsupportedOperationException(
      s"$catalogName: no procedure namespace '${ident.namespace().mkString(".")}'")
    GraftLogProcedures.all.find(_.name() == ident.name()).getOrElse(
      throw new UnsupportedOperationException(
        s"$catalogName: unknown procedure '${ident.name()}' — available: " +
          GraftLogProcedures.all.map(_.name()).mkString(", ")))
  }

  /** Identifier resolution. Path mode (always available):
    * `graftlog.\`/tmp/t\`` — empty namespace, name IS the filesystem
    * path. Warehouse mode (when the `warehouse` option is set):
    * `graftlog.ds.tbl` → `<root>/ds/tbl`, `graftlog.tbl` →
    * `<root>/tbl` — at most ONE namespace level (the BigQuery
    * dataset shape; deeper nesting refused). A `#history` /
    * `#partitions` suffix on the table name selects the metadata
    * table either way. */
  private def pathOf(ident: Identifier): String = {
    val ns = ident.namespace()
    if (ns.isEmpty && (warehouse.isEmpty || ident.name().startsWith("/")))
      return ident.name()
    warehouse match {
      case Some(root) if ns.length <= 1 =>
        (root +: ns.toSeq :+ ident.name()).mkString("/")
      case _ => throw new NoSuchTableException(ident)
    }
  }

  /** The sidecar file backing a PERSISTENT VIEW at `parts` (the
    * identifier minus the catalog name): warehouse mode stores
    * `<root>/<ns…>/_views/<name>.sql` (the BigQuery dataset-scoped
    * view shape — views live beside their dataset's tables), path
    * mode `<dir>/_views/<name>.sql`. None when the identifier can't
    * address this catalog. Resolution/DDL live in
    * [[graft.sources.GraftViewRule]]. */
  private[graft] def viewFile(parts: Seq[String])
      : Option[java.nio.file.Path] = {
    if (parts.isEmpty) return None
    if (parts.length == 1 && (warehouse.isEmpty || parts.head.startsWith("/"))) {
      val p = java.nio.file.Paths.get(parts.head)
      return Option(p.getParent)
        .map(_.resolve("_views").resolve(p.getFileName.toString + ".sql"))
    }
    warehouse match {
      case Some(root) if parts.length <= 2 =>
        Some(java.nio.file.Paths.get(
          (root +: parts.init).mkString("/"), "_views", parts.last + ".sql"))
      case _ => None
    }
  }

  /** The TABLE path the same identifier would address — the create
    * path uses it to refuse a view shadowing an existing table. */
  private[graft] def tablePathOf(parts: Seq[String]): Option[String] =
    try Some(pathOf(Identifier.of(parts.init.toArray, parts.last)))
    catch { case _: Exception => None }

  /** The `_views` directory of a namespace (SHOW VIEWS backing). */
  private[graft] def viewsDir(ns: Seq[String])
      : Option[java.nio.file.Path] =
    if (ns.length == 1 && (warehouse.isEmpty || ns.head.startsWith("/")))
      Some(java.nio.file.Paths.get(ns.head, "_views"))
    else warehouse match {
      case Some(root) if ns.length <= 1 =>
        Some(java.nio.file.Paths.get((root +: ns).mkString("/"), "_views"))
      case _ => None
    }

  private val historySuffix = "#history"
  private val partitionsSuffix = "#partitions"
  private val detailSuffix = "#detail"
  private val filesSuffix = "#files"
  private val branchesSuffix = "#branches"
  private val tagsSuffix = "#tags"

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val raw = pathOf(ident)
    if (raw.endsWith(detailSuffix)) {
      // one-row table card (Delta's DESCRIBE DETAIL shape) straight
      // off the manifest: snapshot version, file count, live/dead row
      // counts (deletion vectors netted), and the declared key /
      // partition / bloom columns. Composes with VERSION AS OF — the
      // card describes that era's snapshot. Zero data files open.
      val path = raw.stripSuffix(detailSuffix)
      val snap =
        try TableLog.state(path, version.getOrElse(Long.MaxValue))
        catch { case _: Exception => throw new NoSuchTableException(ident) }
      return new GraftLogDetailTable(path, snap)
    }
    if (raw.endsWith(filesSuffix)) {
      // file inventory off the manifest — Iceberg's `files` metadata
      // table: one row per ACTIVE file with its full file-grain stats
      // (rows, dead rows, key bounds, partition-tuple and column-stat
      // counts, on-disk bytes). Composes with VERSION AS OF; zero
      // data files open — `Files.size` per row is the only I/O.
      val path = raw.stripSuffix(filesSuffix)
      val snap =
        try TableLog.state(path, version.getOrElse(Long.MaxValue))
        catch { case _: Exception => throw new NoSuchTableException(ident) }
      return new GraftLogFilesTable(path, snap)
    }
    if (raw.endsWith(partitionsSuffix)) {
      // partition inventory straight off the manifest — `SHOW
      // PARTITIONS` as a queryable table: one row per live partition
      // tuple with its exact file and row counts, folded from the
      // per-file [[TableLog.PartStat]]s. Zero data files open; at
      // 100 TB this is a driver fold over file-grain metadata.
      // Composes with VERSION AS OF like #files — that era's
      // inventory folds from that era's active set, which is the
      // device q514's DV-debt advisor diffs eras with (written vs
      // live mass per tuple, both manifest-only).
      val path = raw.stripSuffix(partitionsSuffix)
      val snap =
        try TableLog.state(path, version.getOrElse(Long.MaxValue))
        catch { case _: Exception => throw new NoSuchTableException(ident) }
      if (snap.partCols.isEmpty) throw new UnsupportedOperationException(
        s"$catalogName: `$path` is not partitioned — $partitionsSuffix " +
          "is defined only for tables created PARTITIONED BY")
      return new GraftLogPartitionsTable(path, snap)
    }
    if (raw.endsWith(tagsSuffix)) {
      // tag inventory — one row per immutable named ref with its
      // pinned version and that version's commit stamp; the release
      // dashboard of addressable corpus snapshots. Versionless like
      // #history; zero data files open.
      if (version.isDefined) throw new UnsupportedOperationException(
        s"$catalogName: time travel over $tagsSuffix is not defined")
      val path = raw.stripSuffix(tagsSuffix)
      if (TableLog.latestVersion(path) == 0L)
        throw new NoSuchTableException(ident)
      val rows = TableLog.listTags(path).map { case (n, v) =>
        (n, v, TableLog.commitStamp(path, v))
      }
      return new GraftLogTagsTable(path, rows)
    }
    if (raw.endsWith(branchesSuffix)) {
      // staging-branch inventory — the operational view of in-flight
      // write-audit-publish drops: one row per branch with its fork
      // version, head version and manifest-folded file/row counts.
      // Versionless like #history (branches are not part of any main
      // snapshot); zero data files open.
      if (version.isDefined) throw new UnsupportedOperationException(
        s"$catalogName: time travel over $branchesSuffix is not defined")
      val path = raw.stripSuffix(branchesSuffix)
      if (TableLog.latestVersion(path) == 0L)
        throw new NoSuchTableException(ident)
      return new GraftLogBranchesTable(path, TableLog.listBranches(path))
    }
    if (raw.endsWith(historySuffix)) {
      // history is log-grain and versionless — VERSION/TIMESTAMP AS OF
      // on it would be ambiguous (truncate? stamp-filter?); refuse
      if (version.isDefined) throw new UnsupportedOperationException(
        s"$catalogName: time travel over $historySuffix is not defined — " +
          "the history table already spans every version")
      val path = raw.stripSuffix(historySuffix)
      val hist =
        try TableLog.history(path)
        catch { case _: Exception => throw new NoSuchTableException(ident) }
      if (hist.isEmpty) throw new NoSuchTableException(ident)
      return new GraftLogHistoryTable(path, hist)
    }
    // VERSION AS OF must name a COMMITTED version: TableLog.state
    // clamps to min(latest, v), so without this check a typo'd
    // `VERSION AS OF 99` on a 5-version table would silently answer
    // from current data — wrong-era results with no error (the
    // Delta/Iceberg contract is to fail).
    version.foreach { v =>
      val latest =
        try TableLog.latestVersion(raw)
        catch { case _: Exception => throw new NoSuchTableException(ident) }
      if (v < 1L || v > latest) throw new NoSuchTableException(
        "TABLE_OR_VIEW_NOT_FOUND",
        Map("relationName" ->
          (s"$catalogName.`$raw` VERSION AS OF $v " +
            s"(committed versions are 1..$latest)")),
        None)
    }
    val snap =
      try TableLog.state(raw, version.getOrElse(Long.MaxValue))
      catch { case _: IllegalArgumentException =>
        throw new NoSuchTableException(ident)
      }
    new GraftLogTable(raw, snap, timeTraveled = version.isDefined)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF v` — Spark routes the version string here. A
    * non-numeric string resolves as a TAG ([[TableLog.tag]]): the
    * `tag.<name>` property pins the version, so
    * `VERSION AS OF 'corpus_v3'` reads the tagged era (tag names are
    * never all-digits — enforced at declaration — so the two
    * namespaces cannot collide). The `branch:<name>` form reads a
    * STAGING BRANCH's head by name (Iceberg's branch-ref read): an
    * audit query on an in-flight WAP drop needs no `_branches/...`
    * filesystem path — read-only, like every AS OF relation (the
    * write surface of a branch stays its own table path). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (version.startsWith("branch:")) {
      val bname = version.stripPrefix("branch:")
      val raw = pathOf(ident)
      val bp = java.nio.file.Paths
        .get(raw, "_branches", bname).toString
      // '.'/'..' pass the token regex but are PATH components —
      // 'branch:..' would resolve to MAIN disguised as a branch read
      if (!bname.matches("[A-Za-z0-9._-]{1,64}") ||
          bname == "." || bname == ".." ||
          TableLog.latestVersion(bp) == 0L)
        throw new NoSuchTableException(
          "TABLE_OR_VIEW_NOT_FOUND",
          Map("relationName" ->
            (s"$catalogName.`$raw` VERSION AS OF 'branch:$bname' " +
              s"(no such branch; branches: ${TableLog.listBranches(raw)
                .map(_._1).mkString(", ")})")),
          None)
      return new GraftLogTable(bp, TableLog.state(bp),
        timeTraveled = true)
    }
    load(ident, Some(
      try version.toLong
      catch { case _: NumberFormatException =>
        val raw = pathOf(ident)
        // only the no-committed-version signal means "not a table" —
        // a genuine state-read failure (IO error, crashed-fork
        // IllegalStateException) must propagate with its own recovery
        // advice, not masquerade as table-not-found
        val props =
          try TableLog.state(raw).props
          catch { case _: IllegalArgumentException =>
            throw new NoSuchTableException(ident) }
        props.getOrElse(s"tag.$version",
          throw new NoSuchTableException(
            "TABLE_OR_VIEW_NOT_FOUND",
            Map("relationName" ->
              (s"$catalogName.`$raw` VERSION AS OF '$version' " +
                s"(no such tag; tags: ${props.keys
                  .filter(_.startsWith("tag."))
                  .map(_.stripPrefix("tag.")).toSeq.sorted
                  .mkString(", ")})")),
            None)).toLong
      }))
  }

  /** `TIMESTAMP AS OF t` — the image of the reference warehouse's
    * `FOR SYSTEM_TIME AS OF`: Spark hands the resolved timestamp in
    * MICROseconds; the commit manifests carry wall-clock millis, and
    * the latest commit at-or-before the instant wins
    * ([[TableLog.versionAtTimestamp]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    val v =
      try TableLog.versionAtTimestamp(path, timestamp / 1000L)
      catch { case _: IllegalArgumentException =>
        throw new NoSuchTableException(ident)
      }
    load(ident, Some(v))
  }

  /** `SHOW TABLES` — enumerable only in warehouse mode: a table is a
    * child directory holding a `_log`. Path mode stays
    * non-enumerable (paths are not a namespace). */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case Some(root) if namespace.length <= 1 =>
        val dir = java.nio.file.Paths.get(
          (root +: namespace.toSeq).mkString("/"))
        if (!java.nio.file.Files.isDirectory(dir)) Array.empty
        else {
          val s = java.nio.file.Files.list(dir)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .filter(p => java.nio.file.Files.isDirectory(p.resolve("_log")))
              .map(p => Identifier.of(namespace, p.getFileName.toString))
              .toArray.sortBy(_.name())
          } finally s.close()
        }
      case _ => Array.empty
    }

  // ------------------------------------------------- SupportsNamespaces
  /** Namespaces = first-level warehouse directories (the BigQuery
    * dataset shape). CREATE NAMESPACE mkdirs; DROP refuses (datasets
    * holding immutable history don't disappear via SQL here). */
  override def listNamespaces(): Array[Array[String]] = warehouse match {
    case Some(root) if java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root)) =>
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            !java.nio.file.Files.isDirectory(p.resolve("_log")))
          .map(p => Array(p.getFileName.toString))
          .toArray.sortBy(_.head)
      } finally s.close()
    case _ => Array.empty
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else Array.empty // one level deep, like BigQuery datasets

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || (namespace.length == 1 && warehouse.exists(root =>
      java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root, namespace.head))))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = warehouse match {
    case Some(root) if namespace.length == 1 =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, namespace.head))
    case _ => refuse("CREATE NAMESPACE (set the catalog's 'warehouse' " +
      "option; one level deep)")
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*)
      : Unit = refuse("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = refuse("DROP NAMESPACE")

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch { case _: NoSuchTableException => false }

  private def refuse(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName supports reads, INSERT, DELETE, UPDATE, MERGE, " +
        s"ADD COLUMN and CALL procedures: $op must go through the " +
        "transactional TableLog API (replaceWhere/compactZorder/…), " +
        "which owns the rest of the commit protocol")
  /** `CREATE TABLE graftlog.\`<path>\` (cols…) TBLPROPERTIES
    * ('key'='<BIGINT col>')` — version 1 with zero data files; the
    * first INSERT brings data, which also makes CTAS work (Spark
    * creates, then writes through [[GraftLogBatchAppend]]). The key
    * column drives the manifest's per-file [min,max] stats; without
    * the property it defaults to the first BIGINT column.
    *
    * `PARTITIONED BY (…)` takes IDENTITY transforms over
    * STRING/BIGINT/INT columns, the TEMPORAL transforms `days(ts)` /
    * `months(ts)` over TIMESTAMP/DATE columns (Iceberg's hidden
    * partitioning — the standard layout for an ever-growing
    * timestamped table, the reference's own shape: partition values
    * render as UTC day/month strings, raw `WHERE ts` range predicates
    * prune files THROUGH the transform), and `bucket(n, c)` over the
    * table's KEY column — which maps onto the engine's one bucket
    * routing device (`TBLPROPERTIES('bucket.count')`): bucket-pure
    * files, `KeyGroupedPartitioning(bucket(n, key))` scans, and
    * zero-shuffle key joins under v2 bucketing. Partition values are
    * recorded per file in the manifest ([[TableLog.PartStat]] — the
    * Iceberg posture of stats-based partitioning, not Hive
    * directories), partition predicates prune FILES before Spark
    * plans the scan, and `#partitions` folds the live inventory.
    * `bucket` over a non-key column is refused (the engine buckets on
    * the declared key, where the join-elision payoff lives), as is
    * mixing bucket with other partitioning. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    def oneCol(t: Transform): String = {
      require(t.references.length == 1 &&
          t.references.head.fieldNames.length == 1,
        s"graftlog: partition transform $t must reference one " +
          "top-level column")
      t.references.head.fieldNames.head
    }
    var bucketProp = Option.empty[(Int, String)]
    val partCols = partitions.toSeq.flatMap {
      case t if t.name == "identity" => Some(oneCol(t))
      case t if t.name == "days"     => Some(s"days:${oneCol(t)}")
      case t if t.name == "months"   => Some(s"months:${oneCol(t)}")
      case t if t.name == "years"    => Some(s"years:${oneCol(t)}")
      case t if t.name == "hours"    => Some(s"hours:${oneCol(t)}")
      case t if t.name == "bucket" =>
        val n = t.arguments.collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_]
              if lit.value().isInstanceOf[Number] =>
            lit.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"graftlog: bucket transform $t carries no bucket count"))
        require(partitions.length == 1,
          "graftlog: bucket(n, col) does not compose with other " +
            "partition transforms")
        bucketProp = Some((n, oneCol(t)))
        None // routes via bucket.count, not a partition column
      case other => refuse(s"partition transform $other " +
        "(identity, years/months/days/hours, bucket only)")
    }
    val path = pathOf(ident)
    // CREATE-time column DEFAULTs are refused loudly (schema.toDDL
    // would silently drop them): at create there are no old files for
    // an initial default to cover — declare the column plain, or add
    // it later via ALTER TABLE ADD COLUMN ... DEFAULT
    schema.fields.foreach(f => require(
      !f.metadata.contains("CURRENT_DEFAULT") &&
        !f.metadata.contains("EXISTS_DEFAULT"),
      s"graftlog: column '${f.name}' declares a DEFAULT at CREATE — " +
        "add defaults via ALTER TABLE ADD COLUMN ... DEFAULT instead"))
    if (path.endsWith(historySuffix)) refuse(s"CREATE TABLE $historySuffix")
    if (path.endsWith(partitionsSuffix))
      refuse(s"CREATE TABLE $partitionsSuffix")
    if (path.endsWith(detailSuffix)) refuse(s"CREATE TABLE $detailSuffix")
    if (path.endsWith(filesSuffix)) refuse(s"CREATE TABLE $filesSuffix")
    if (path.endsWith(branchesSuffix))
      refuse(s"CREATE TABLE $branchesSuffix")
    val key = Option(properties.get("key"))
      .orElse(schema.fields.find(_.dataType ==
        org.apache.spark.sql.types.LongType).map(_.name))
      .getOrElse(throw new IllegalArgumentException(
        "graftlog: declare TBLPROPERTIES('key'='<BIGINT column>') — " +
          "the schema has no BIGINT column to default to"))
    require(schema.fields.exists(f => f.name == key &&
        f.dataType == org.apache.spark.sql.types.LongType),
      s"graftlog: key column '$key' must be a BIGINT column of the schema")
    // persist user table properties (minus the reserved key and the
    // engine-internal markers Spark injects) — SHOW TBLPROPERTIES and
    // behavior gates like 'delete.mode' read them back off the log
    import scala.jdk.CollectionConverters._
    // a bucket transform must target the declared key — the engine's
    // one bucket hash routes on it, and that is where the
    // zero-shuffle key-join payoff lives
    bucketProp.foreach { case (_, c) =>
      require(c == key,
        s"graftlog: bucket transform must target the key column " +
          s"'$key', got '$c'")
    }
    val userProps = properties.asScala.toMap -
      "key" -- Seq("provider", "location", "owner", "comment")
        .filter(properties.containsKey) ++
      bucketProp.map { case (n, _) => "bucket.count" -> n.toString }
    TableLog.createEmpty(path, schema.toDDL, key, partCols, userProps)
    new GraftLogTable(path, TableLog.state(path))
  }

  /** DDL-native GENERATED columns — the `Column[]` create path Spark
    * routes to when the catalog declares the identity/generated
    * capabilities (the StructType conversion DROPS this info, so it
    * must be read here): `GENERATED ALWAYS AS (expr)` lowers onto
    * `gencol.<col>`, `GENERATED ALWAYS AS IDENTITY (START WITH n
    * INCREMENT BY s)` onto `identity.<col>` = `n[:s]` — the exact
    * property spellings the analyzer rule and every write path
    * already own, validated by createEmpty like any TBLPROPERTIES
    * declaration. `GENERATED BY DEFAULT` refuses: the engine's
    * allocator contract is ALWAYS. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val ddlProps: Map[String, String] = columns.flatMap { c =>
      // CREATE-time column DEFAULTs refuse loudly here too (this
      // path's StructType carries no default metadata, so the
      // schema-based check below would never see one)
      require(c.defaultValue() == null,
        s"graftlog: column '${c.name}' declares a DEFAULT at CREATE — " +
          "add defaults via ALTER TABLE ADD COLUMN ... DEFAULT instead")
      val gen = Option(c.generationExpression())
        .map(e => s"gencol.${c.name}" -> e)
      val idp = Option(c.identityColumnSpec()).map { s =>
        require(!s.isAllowExplicitInsert,
          s"graftlog: column '${c.name}': GENERATED BY DEFAULT AS " +
            "IDENTITY is not supported — the allocator contract is " +
            "GENERATED ALWAYS")
        s"identity.${c.name}" ->
          (if (s.getStep == 1L) s.getStart.toString
           else s"${s.getStart}:${s.getStep}")
      }
      gen.toSeq ++ idp.toSeq
    }.toMap
    val schema = StructType(columns.map { c =>
      val md = Option(c.comment()).fold(
        org.apache.spark.sql.types.Metadata.empty)(cm =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("comment", cm).build())
      org.apache.spark.sql.types
        .StructField(c.name, c.dataType, c.nullable, md)
    })
    val merged = new util.HashMap[String, String](properties)
    ddlProps.foreach { case (k, v) => merged.put(k, v) }
    createTable(ident, schema, partitions, merged)
  }
  /** `ALTER TABLE graftlog.\`<path>\` ADD COLUMN(S) …` — the SQL
    * surface of [[TableLog.evolveSchema]]: one metadata-only commit
    * widens the declared schema, existing files null-fill the new
    * columns on read (q337's additive-evolution contract, without
    * having to ride on an append). Only top-level, nullable,
    * default-free, append-positioned adds are honored — everything
    * else (drop/rename/retype, nested fields, defaults) is a rewrite
    * or a conflict-rule question and stays refused. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = pathOf(ident)
    if (path.endsWith(historySuffix)) refuse(s"ALTER TABLE $historySuffix")
    // property changes fold into ONE metadata commit; column adds keep
    // their additive-evolution path — mixing the two in one statement
    // is refused for auditability (each commit states one thing)
    val (propChanges, rest) = changes.partition {
      case _: TableChange.SetProperty    => true
      case _: TableChange.RemoveProperty => true
      case _                             => false
    }
    if (propChanges.nonEmpty) {
      require(rest.isEmpty,
        "graftlog: mix of property and schema changes in one ALTER — " +
          "issue them as separate statements")
      val cur = TableLog.state(path).props
      val next = propChanges.foldLeft(cur) {
        case (m, sp: TableChange.SetProperty) =>
          require(sp.property != "key",
            "graftlog: the key column declaration is immutable")
          m + (sp.property -> sp.value)
        case (m, rp: TableChange.RemoveProperty) => m - rp.property
        case (m, _) => m
      }
      TableLog.setProps(path, next)
      return loadTable(ident)
    }
    // ADD/DROP CONSTRAINT — CHECK constraints persist as
    // `constraint.<name>` properties; existing rows validate ONCE at
    // ADD time (the Delta posture: a constraint that the table
    // already violates must not be declarable), writes thereafter
    // validate through Spark's own constraint rule
    rest match {
      case Seq(ac: TableChange.AddConstraint) => ac.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          val snap = TableLog.state(path)
          require(!snap.props.contains(s"constraint.${c.name()}"),
            s"graftlog: constraint '${c.name()}' already exists")
          val violations = TableLog.snapshot(SparkSession.active, path)
            .where(org.apache.spark.sql.functions
              .not(org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.expr(c.predicateSql()),
                org.apache.spark.sql.functions.lit(false))))
            .count()
          require(violations == 0L,
            s"graftlog: $violations existing row(s) violate CHECK " +
              s"(${c.predicateSql()}) — a constraint the table already " +
              "breaks must not be declared")
          TableLog.setProps(path, snap.props +
            (s"constraint.${c.name()}" -> c.predicateSql()))
          return loadTable(ident)
        case other => refuse(s"constraint $other (CHECK only)")
      }
      case Seq(dc: TableChange.DropConstraint) =>
        val snap = TableLog.state(path)
        val key = s"constraint.${dc.name()}"
        if (!snap.props.contains(key)) {
          if (dc.ifExists()) return loadTable(ident)
          throw new IllegalArgumentException(
            s"graftlog: no constraint '${dc.name()}' on $path")
        }
        TableLog.setProps(path, snap.props - key)
        return loadTable(ident)
      case _ => ()
    }
    // RENAME/DROP COLUMN — metadata commits through the column
    // mapping (logical→physical name indirection in the manifest):
    // data files never rewrite, old eras time-travel correctly
    rest match {
      case Seq(rn: TableChange.RenameColumn) if rn.fieldNames.length == 1 =>
        TableLog.renameColumn(path, rn.fieldNames.head, rn.newName)
        return loadTable(ident)
      case Seq(dc: TableChange.DeleteColumn) if dc.fieldNames.length == 1 =>
        val exists = TableLog.state(path).physSchema != null &&
          org.apache.spark.sql.types.StructType
            .fromDDL(TableLog.state(path).schemaDdl)
            .fieldNames.contains(dc.fieldNames.head)
        if (!exists && dc.ifExists()) return loadTable(ident)
        TableLog.dropColumn(path, dc.fieldNames.head)
        return loadTable(ident)
      case _ => ()
    }
    // ADD COLUMN … DEFAULT <literal> — a metadata-only commit: old
    // files answer the default at read (initial-default), new writes
    // materialize it; and ALTER COLUMN … TYPE — metadata-only type
    // WIDENING (INT→BIGINT, FLOAT→DOUBLE) through Spark 4's parquet
    // reader promotions. One per statement, like RENAME/DROP.
    rest match {
      case Seq(a: TableChange.AddColumn)
          if a.fieldNames.length == 1 && a.isNullable &&
            a.defaultValue != null && a.position == null =>
        TableLog.evolveSchemaDefault(path, a.fieldNames.head,
          a.dataType, a.defaultValue.getSql)
        return loadTable(ident)
      case Seq(ut: TableChange.UpdateColumnType)
          if ut.fieldNames.length == 1 =>
        TableLog.widenColumn(path, ut.fieldNames.head, ut.newDataType)
        return loadTable(ident)
      case _ => ()
    }
    val adds = rest.map {
      case a: TableChange.AddColumn
          if a.fieldNames.length == 1 && a.isNullable &&
            a.defaultValue == null && a.position == null =>
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true)
      case other => refuse(s"ALTER TABLE change $other (only top-level " +
        "nullable ADD COLUMN [DEFAULT literal] evolves additively; " +
        "RENAME/DROP COLUMN and ALTER COLUMN TYPE go one per statement)")
    }
    TableLog.evolveSchema(path, StructType(adds))
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean = refuse("DROP TABLE")
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = refuse("RENAME TABLE")
}

/** One resolved (path, snapshot) — immutable, like the snapshot it
  * wraps: a concurrent commit after loadTable does not move this
  * reader (snapshot isolation, the property q331 pins on the API
  * path). Besides reads it carries the SQL DML surfaces: `INSERT
  * INTO` (a rebase-safe atomic append, [[GraftLogBatchAppend]]),
  * `DELETE FROM … WHERE` (the copy-on-write delete, pushed as one
  * transactional commit when every predicate translates — arbitrary
  * predicates fall to the row-level rewrite), and `UPDATE` / `MERGE
  * INTO` via group-based row-level operations
  * ([[GraftLogRowLevelOperation]]). All refuse on a time-traveled
  * snapshot — history is immutable. */
class GraftLogTable(tablePath: String, snap: TableLog.Snapshot,
    timeTraveled: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graftlog.`$tablePath` @v${snap.version}"
  /** Logical schema; defaulted columns carry CURRENT_DEFAULT (the
    * analyzer fills them when an INSERT's column list omits them) and
    * EXISTS_DEFAULT (pre-declaration files answer it at read). */
  override def schema(): StructType = {
    val s = StructType.fromDDL(snap.schemaDdl)
    if (snap.defaults.isEmpty) s
    else StructType(s.fields.map { f =>
      snap.defaults.get(f.name) match {
        case Some((sql, _)) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build())
        case None => f
      }
    })
  }
  /** The persisted property map (plus the key declaration) — SHOW
    * TBLPROPERTIES reads this straight off the manifest. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("key", snap.keyCol)
    snap.props.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    snap.partCols.map(spec => TableLog.partTransformOf(spec) match {
      case TableLog.PIdentity(c) => Expressions.identity(c)
      case TableLog.PDays(c)     => Expressions.days(c)
      case TableLog.PMonths(c)   => Expressions.months(c)
      case TableLog.PYears(c)    => Expressions.years(c)
      case TableLog.PHours(c)    => Expressions.hours(c)
    }).toArray
  }

  /** CHECK constraints (Spark 4.1's DSv2 constraint surface, the
    * Delta CHECK lineage): declared via `ALTER TABLE … ADD CONSTRAINT
    * name CHECK (expr)`, persisted as `constraint.<name>` properties
    * in the manifest, reported ENFORCED — Spark's own
    * ResolveTableConstraints rule then wraps every write with the
    * validation, so a violating INSERT/UPDATE/MERGE fails before one
    * row lands; existing rows validate once at ADD time. ENFORCED is
    * honest on EVERY path: writes outside the catalog rule — the
    * direct TableLog API (append/appendTxn/merge/applyCdc/
    * replaceWhere) and the DSv2 provider/streaming sinks — validate
    * through [[graft.tablelog.TableLog.validateChecks]] before their
    * manifest commit (one batch-proportional aggregation on
    * constrained tables only). */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    // checksOf = declared constraint.* PLUS the generated-column
    // synthetic audits (`<col>_generated`): surfacing both here means
    // Spark's own constraint rule enforces the generation expression
    // on the catalog DML paths (INSERT/UPDATE/MERGE/OVERWRITE) that
    // never pass through the TableLog API's validateChecks
    graft.tablelog.TableLog.checksOf(snap.props)
      .map { case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n)
          .predicateSql(sql)
          .enforced(true)
          .build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }
      .toArray
  // AUTOMATIC_SCHEMA_EVOLUTION is declared ONLY under the table's
  // `schema.autoMerge = true` opt-in: it admits Spark's MERGE
  // evolution rule (the schema widens through alterTable ADD COLUMN
  // and the merge re-plans against it), but it ALSO changes star-arm
  // resolution to expand by the MATCHING columns — on a table that
  // has not opted in, that would let `INSERT *` silently DROP an
  // unseen source column instead of refusing, exactly the accidental
  // schema drift the default contract exists to catch (spec-pinned).
  override def capabilities(): util.Set[TableCapability] = {
    val base = util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
    if (GraftLogTable.autoMergeDeclared(snap.props))
      base.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    base
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(SparkSession.active, tablePath, snap, options)

  /** `TRUNCATE TABLE` — one commit removing every active file; old
    * versions keep time-traveling (files are untouched until vacuum). */
  override def truncateTable(): Boolean = {
    if (timeTraveled) throw new UnsupportedOperationException(
      s"graftlog: cannot TRUNCATE a time-traveled snapshot of " +
        s"$tablePath — history is immutable")
    TableLog.truncateAll(tablePath)
    true
  }

  /** Append by default; `INSERT OVERWRITE` arrives as
    * `overwrite(filters)` (static mode — the filters are the static
    * partition spec, or AlwaysTrue for the no-spec truncate form) or
    * `overwriteDynamicPartitions()` (dynamic mode). Untranslatable
    * overwrite conditions REFUSE rather than over- or under-delete
    * (the canDeleteWhere posture on the write side). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (timeTraveled) throw new UnsupportedOperationException(
      s"graftlog: cannot INSERT into a time-traveled snapshot of " +
        s"$tablePath — history is immutable")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // append | overwrite-by-expression | dynamic-partition-overwrite
      private var overwriteCond: Option[Array[Filter]] = None
      private var dynamic = false

      override def overwrite(filters: Array[Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteCond = Some(filters); this
      }
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteCond = Some(Array.empty); this
      }
      override def overwriteDynamicPartitions()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        dynamic = true; this
      }

      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with GraftLogClusteredWrite {
          override def clusterTable: String = tablePath
          // catalog-path writes resolve `bucket` through this
          // catalog's own FunctionCatalog, so bucketed tables can
          // request bucket-clustered input (≈ one file per bucket)
          override def canResolveBucket: Boolean = true
          /** `writeStream.toTable("graftlog.\`t\`")` — the exactly-once
            * streaming sink by name (txnAppId/epochId ledger, one
            * atomic append per micro-batch). Append output mode only:
            * complete/update arrive as truncate()/overwrite() on the
            * builder and refuse — a per-epoch table rewrite is not
            * this sink's contract. */
          override def toStreaming: org.apache.spark.sql.connector
              .write.streaming.StreamingWrite = {
            if (dynamic || overwriteCond.isDefined)
              throw new UnsupportedOperationException(
                "graftlog: streaming writes are append-mode only — " +
                  "complete/update would rewrite the table every epoch")
            val appId = Option(info.options.get("txnAppId"))
              .getOrElse(s"graftlog-sink-${info.queryId()}")
            new GraftLogStreamingWrite(tablePath, appId, info.schema(),
              autoCompact =
                Option(info.options.get("autoCompact")).map(_.toInt))
          }
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            if (dynamic)
              new GraftLogDynamicOverwrite(tablePath, info.schema())
            else overwriteCond match {
              case None =>
                new GraftLogBatchAppend(tablePath, info.schema())
              case Some(fs)
                  if fs.isEmpty || fs.forall(_ ==
                    org.apache.spark.sql.sources.AlwaysTrue) =>
                new GraftLogOverwriteWrite(tablePath, info.schema(),
                  cond = None, pruneCandidates = _.active)
              case Some(fs) =>
                val cols = fs.toSeq.map(f =>
                  GraftLogTable.toColumn(f).getOrElse(
                    throw new UnsupportedOperationException(
                      s"graftlog: INSERT OVERWRITE condition $f has no " +
                        "exact image — refusing rather than restating " +
                        "the wrong slice")))
                val (preds, _) = GraftLogScanBuilder.partitionPreds(
                  snap.partCols, fs.toSeq)
                new GraftLogOverwriteWrite(tablePath, info.schema(),
                  cond = Some(cols.reduce(_ && _)),
                  pruneCandidates = s => s.active.filter(
                    GraftLogScanBuilder.partitionKeeps(_, preds, s.specId)))
            }
        }
    }
  }

  /** SQL UPDATE / MERGE INTO / rewriting DELETE — group-based
    * (copy-on-write) DSv2 row-level operations, the BQ-parity DML the
    * reference's query engine offers over the loaded table. Spark
    * plans ReplaceData: it reads the candidate rows through the
    * operation's scan, applies the assignments/actions itself, and
    * writes the replacement; this connector's two jobs are (a) hand
    * out the SAME manifest-backed scan the catalog read path uses —
    * whose [[GraftLogDataScan.filter runtime filtering]] lets Spark's
    * row-level group-filter rule shrink the rewrite to files whose
    * key range contains a matched key — and (b) commit the rewrite
    * atomically: remove exactly the files the scan read, add the
    * staged replacements, one [[TableLog.commitStagedRewrite]]
    * manifest. Old versions keep time-traveling past the DML. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (timeTraveled) throw new UnsupportedOperationException(
      s"graftlog: cannot run row-level DML against a time-traveled " +
        s"snapshot of $tablePath — history is immutable")
    () => new GraftLogRowLevelOperation(tablePath, snap, info.command)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !timeTraveled && filters.forall(f => GraftLogTable.toColumn(f).isDefined)

  /** Pushed SQL DELETE: the copy-on-write delete with its candidate
    * scan pruned by BOTH manifest stat layers the read path has —
    * key-range [min,max] and partition-tuple stats — so
    * `DELETE … WHERE p = 'x' AND k < n` reads only the files that
    * could hold a match (at 100 TB, one partition's prefix, not the
    * table). Pruning only narrows where stats PROVE absence; the row
    * predicate stays exact on what remains. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (timeTraveled) throw new UnsupportedOperationException(
      s"graftlog: cannot DELETE from a time-traveled snapshot of " +
        s"$tablePath — history is immutable")
    val cond = filters.toSeq.flatMap(GraftLogTable.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // merge-on-read routing: under TBLPROPERTIES('delete.mode' =
    // 'merge-on-read'), a plain SQL DELETE takes the deletion-vector
    // path — dead positions in sidecars, zero file rewrites (the
    // Delta/Iceberg table-property gate). Partitioned tables take it
    // too: the DV commit decrements per-tuple row stats exactly
    // (dvCommitEntries), so the days(ts) layout's GDPR deletes stop
    // paying copy-on-write rewrites. EXCEPT mid-spec-evolution:
    // old-era files' tuples can't decrement under the current
    // rendering (deleteWhereDv would refuse), so the statement falls
    // back to COW — which succeeds there, exactly as pre-r13 —
    // until a compaction migrates the layout
    val prune = GraftLogTable.deletePrune(
      SparkSession.active, tablePath, snap, filters.toSeq)
    val cow = (numFiles: Int) => TableLog.deleteWhere(SparkSession.active,
      tablePath, cond, numFiles, pruneCandidates = Some(prune))
    // the DV route prunes its candidate scan with the SAME manifest
    // stat layers as the COW route — a key-ranged merge-on-read
    // delete reads the intersecting sliver, never the active set
    if (GraftLogTable.morDeclared(snap.props, "delete.mode") &&
        GraftLogTable.dvSpecClean(snap))
      GraftLogTable.dvOrCopyOnWrite(tablePath, "DELETE")(
        TableLog.deleteWhereDv(SparkSession.active, tablePath, cond,
          pruneCandidates = Some(prune)))(cow)
    else cow(math.max(1, snap.active.size))
    ()
  }
}

object GraftLogTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** The per-operation merge-on-read gate with the `dv.mode`
    * UMBRELLA fallback (Delta's single enableDeletionVectors knob):
    * `op` (`delete.mode`/`update.mode`/`merge.mode`) wins when set —
    * so one operation can opt out under the umbrella — and `dv.mode`
    * covers the rest. ONE definition for all three routing sites so
    * the umbrella can never drift per surface. */
  private[sources] def morDeclared(props: Map[String, String],
      op: String): Boolean =
    props.get(op).orElse(props.get("dv.mode")).contains("merge-on-read")

  /** `schema.autoMerge = true`: a MERGE whose source carries a column
    * the target lacks behaves as if written WITH SCHEMA EVOLUTION —
    * the Delta autoMerge opt-in, per table rather than per statement.
    * Without it, unseen source columns keep refusing loudly: schema
    * drift in a pipeline should be an explicit decision. */
  private[sources] def autoMergeDeclared(props: Map[String, String]): Boolean =
    props.get("schema.autoMerge").exists(_.equalsIgnoreCase("true"))

  /** `dv.strict = true`: keep the hard [[TableLog.DvBulkRefusalException]]
    * when a merge-on-read DML overflows the matched-row cap, instead
    * of the default re-route of that one statement through the
    * copy-on-write path. For tables where a bulk rewrite must be an
    * explicit human decision (audit-frozen layouts), not a fallback. */
  private[sources] def dvStrict(props: Map[String, String]): Boolean =
    props.get("dv.strict").exists(_.equalsIgnoreCase("true"))

  /** The DV→copy-on-write fallback of the SQL DML routes: run `dv`
    * (a merge-on-read verb); when its matched set overflows the
    * sidecar niche (the [[TableLog.DvBulkRefusalException]] of the
    * dvMaxMatched driver guard), re-route THIS statement through `cow`
    * with one output file per active file — the bulk restatement a
    * 100-TB table wants anyway — logged, not failed. Tables declaring
    * `dv.strict = true` keep the hard refusal. `op` names the SQL
    * statement in the log line. */
  private[sources] def dvOrCopyOnWrite(table: String, op: String)(
      dv: => Long)(cow: Int => Long): Long =
    try dv
    catch {
      case e: TableLog.DvBulkRefusalException =>
        val snap = TableLog.state(table)
        if (dvStrict(snap.props)) throw e
        org.slf4j.LoggerFactory.getLogger(classOf[GraftLogTable])
          .warn("graftlog: {} on {} overflowed the deletion-vector " +
            "matched-row cap; falling back to copy-on-write for this " +
            "statement ({})", op, table, e.getMessage)
        cow(math.max(1, snap.active.size))
    }

  /** True when every active file of a PARTITIONED table carries
    * current-spec tuple stats — the precondition for merge-on-read
    * DML keeping partition stats exact ([[TableLog.deleteWhereDv]]'s
    * requireDvPartStats). Unpartitioned tables are trivially clean.
    * SQL routing falls back to copy-on-write when this is false
    * (mid-spec-evolution), matching pre-r13 behavior there. */
  private[sources] def dvSpecClean(snap: TableLog.Snapshot): Boolean =
    snap.partCols.isEmpty || snap.active.forall(a =>
      a.specId == snap.specId && (a.rows == 0L || a.parts.nonEmpty))

  /** The pushed-DELETE candidate pruner — EVERY manifest skipping
    * layer the read path has, composed for the delete's file scan:
    * key-range [min,max], partition-tuple stats (incl. temporal
    * transforms), non-key column stats, and BLOOM sidecars for point
    * predicates on the bloom-indexed column — the GDPR shape
    * (`DELETE … WHERE user_id = x` on a bloom-indexed user column)
    * reads only the files that might hold the user, not the table.
    * Shared by the COW and merge-on-read routes so the two can never
    * disagree; factored for the spec to pin layer composition. */
  private[sources] def deletePrune(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, snap: graft.tablelog.TableLog.Snapshot,
      filters: Seq[Filter])
      : graft.tablelog.TableLog.Snapshot => Seq[graft.tablelog.TableLog.AddFile] = {
    val range = GraftLogScanBuilder.keyRange(snap.keyCol, filters)
    val (preds, _) =
      GraftLogScanBuilder.partitionPreds(snap.partCols, filters)
    val physFlt = filters
      .map(GraftLogScanBuilder.physFilter(_, snap.colMap))
      .filter(f => GraftLogScanBuilder.colStatFilterCol(f).isDefined)
    val bloomProbes: Seq[Any] = snap.bloom.map(_._1) match {
      case Some(bc) => filters.collect {
        case EqualTo(`bc`, v) => Seq(v)
        case In(`bc`, vs)     => vs.toSeq
      }.flatten
      case None => Nil
    }
    s => {
      // chunk-grain first (the read path's zeroth layer): on a
      // chunk-checkpointed table a key/partition-bounded DELETE never
      // parses the non-matching chunks' file entries at all
      var fs = s.activePruned(r =>
        GraftLogScanBuilder.chunkKeeps(r, range, Nil,
          if (s.chunkEnvOk) preds else Nil))
      range.foreach { case (lo, hi) =>
        fs = fs.filter(a => a.max >= lo && a.min <= hi) }
      if (preds.nonEmpty)
        fs = fs.filter(
          GraftLogScanBuilder.partitionKeeps(_, preds, s.specId))
      if (physFlt.nonEmpty)
        fs = fs.filter(a =>
          physFlt.forall(GraftLogScanBuilder.colStatKeep(a, _)))
      if (bloomProbes.nonEmpty)
        fs = graft.tablelog.TableLog
          .prunedFilesBloomOf(spark, tablePath, s, bloomProbes, fs)
      fs
    }
  }

  /** Best-effort `Filter` → `Column` translation for the pushed
    * DELETE condition; `None` on any construct without an exact
    * image fails `canDeleteWhere`, so an untranslatable DELETE is
    * refused rather than silently over- or under-deleting. */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r))
      yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r))
      yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** One SQL row-level operation (UPDATE / MERGE / rewriting DELETE) —
  * group-based copy-on-write: Spark reads candidate rows through
  * [[newScanBuilder]]'s manifest-backed scan, computes the
  * replacement rows itself, and writes them through
  * [[newWriteBuilder]]; the commit removes EXACTLY the files the scan
  * ended up reading (after Spark's runtime group filter pruned the
  * unmatched ones through [[GraftLogDataScan.filter]]) and adds the
  * staged replacements — one atomic manifest. The scan instance is
  * captured at build time; scan and write of one operation live in
  * the same driver-side plan, so the handoff is a plain field. */
class GraftLogRowLevelOperation(tablePath: String,
    snap: TableLog.Snapshot,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}

  @volatile private var builtScan: GraftLogDataScan = _

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(SparkSession.active, tablePath, snap, options) {
      // the group filter must stay a single-column key IN — see
      // GraftLogScanBuilder.runtimeFilterKeyOnly
      override protected def runtimeFilterKeyOnly: Boolean = true
      override def build(): Scan = super.build() match {
        case d: GraftLogDataScan => builtScan = d; d
        case other               => other
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch
            : org.apache.spark.sql.connector.write.BatchWrite =
          new GraftLogReplaceData(tablePath, info.schema(),
            () => {
              require(builtScan != null,
                s"graftlog $cmd: replacement write before the scan was built")
              builtScan.chosenFiles.map(_.relPath)
            },
            cmd.toString.toLowerCase(java.util.Locale.ROOT))
      }
    }
}

/** The commit-history metadata table (`graftlog.\`<path>#history\``)
  * — q333's logical-grain readout on the SQL surface: one row per
  * version with operation, file and row deltas, and the running
  * total, all folded from the manifests on the DRIVER (log-grain,
  * ~100 B/file at 100 TB — never a data-file read). The rows ride
  * inside the single input partition: history is bounded by commit
  * count, not data, so shipping it in the task is the honest plan. */
class GraftLogHistoryTable(tablePath: String,
    hist: Seq[TableLog.HistoryRow]) extends Table with SupportsRead {
  override def name(): String = s"graftlog.`$tablePath#history`"
  override def schema(): StructType = GraftLogHistoryTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with org.apache.spark.sql.connector.read.Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = GraftLogHistoryTable.schema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        Array(GraftLogHistoryPartition(hist.map(h =>
          (h.version, h.op, h.nAdds, h.nRemoves,
            h.rowsAdded, h.rowsRemoved, h.totalRows))))
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new GraftLogHistoryReaderFactory
    }
}

object GraftLogHistoryTable {
  val schema: StructType = StructType.fromDDL(
    "version BIGINT, op STRING, n_adds INT, n_removes INT, " +
      "rows_added BIGINT, rows_removed BIGINT, total_rows BIGINT")
}

case class GraftLogHistoryPartition(
    rows: Seq[(Long, String, Int, Int, Long, Long, Long)])
  extends org.apache.spark.sql.connector.read.InputPartition

class GraftLogHistoryReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val it = p.asInstanceOf[GraftLogHistoryPartition].rows.iterator
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (v, op, na, nr, ra, rr, tot) = it.next()
        cur = org.apache.spark.sql.catalyst.InternalRow(
          v, org.apache.spark.unsafe.types.UTF8String.fromString(op),
          na, nr, ra, rr, tot)
        true
      }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** The staging-branch inventory metadata table
  * (`graftlog.\`<path>#branches\``) — one row per branch under
  * `<path>/_branches/` with its fork version, head version and
  * manifest-folded file/live-row counts; the operational dashboard of
  * in-flight write-audit-publish drops, answered entirely from branch
  * manifests. */
class GraftLogBranchesTable(tablePath: String,
    branches: Seq[(String, Long, Long, Int, Long)])
    extends Table with SupportsRead {
  override def name(): String = s"graftlog.`$tablePath#branches`"
  override def schema(): StructType = GraftLogBranchesTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with org.apache.spark.sql.connector.read.Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = GraftLogBranchesTable.schema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        Array(GraftLogBranchesPartition(branches))
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new GraftLogBranchesReaderFactory
    }
}

/** The tag-inventory metadata table (`graftlog.\`<path>#tags\``) —
  * one row per immutable named ref ([[TableLog.tag]]) with its pinned
  * version and that version's commit stamp; answered entirely from
  * the manifest props, zero data files open. */
class GraftLogTagsTable(tablePath: String, tags: Seq[(String, Long, Long)])
    extends Table with SupportsRead {
  override def name(): String = s"graftlog.`$tablePath#tags`"
  override def schema(): StructType = GraftLogTagsTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with org.apache.spark.sql.connector.read.Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = GraftLogTagsTable.schema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        Array(GraftLogTagsPartition(tags))
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new GraftLogTagsReaderFactory
    }
}

object GraftLogTagsTable {
  val schema: StructType = StructType.fromDDL(
    "tag_name STRING, version BIGINT, committed_at TIMESTAMP")
}

case class GraftLogTagsPartition(rows: Seq[(String, Long, Long)])
  extends org.apache.spark.sql.connector.read.InputPartition

class GraftLogTagsReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val it = p.asInstanceOf[GraftLogTagsPartition].rows.iterator
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (n, v, ts) = it.next()
        cur = org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n),
          v, ts * 1000L) // millis → micros
        true
      }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

object GraftLogBranchesTable {
  val schema: StructType = StructType.fromDDL(
    "branch_name STRING, base_version BIGINT, head_version BIGINT, " +
      "n_files BIGINT, live_rows BIGINT")
}

case class GraftLogBranchesPartition(
    rows: Seq[(String, Long, Long, Int, Long)])
  extends org.apache.spark.sql.connector.read.InputPartition

class GraftLogBranchesReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val it = p.asInstanceOf[GraftLogBranchesPartition].rows.iterator
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (n, base, head, nf, rows) = it.next()
        cur = org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n),
          base, head, nf.toLong, rows)
        true
      }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** The partition-inventory metadata table
  * (`graftlog.\`<path>#partitions\``) — `SHOW PARTITIONS` as a
  * queryable relation: one row per LIVE partition tuple with its
  * exact file and row counts, folded on the driver from the active
  * files' [[TableLog.PartStat]]s. Values render as STRING (the
  * `SHOW PARTITIONS` convention); a null partition value renders as
  * SQL NULL. Zero data files open at any scale — the fold is over
  * file-grain manifest metadata. */
class GraftLogPartitionsTable(tablePath: String,
    snap: TableLog.Snapshot) extends Table with SupportsRead {
  private val outSchema = StructType.fromDDL(
    snap.partCols.map(c => s"`${TableLog.partPretty(c)}` STRING")
      .mkString(", ") + ", file_count BIGINT, row_count BIGINT")
  override def name(): String = s"graftlog.`$tablePath#partitions`"
  override def schema(): StructType = outSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with org.apache.spark.sql.connector.read.Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = outSchema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] = {
        // under PARTITION SPEC EVOLUTION, files from older eras carry
        // tuples positional to THEIR spec — folding them under the
        // current labels would silently mislabel rows: refuse loudly
        // until a rewrite migrates the layout
        snap.active.filter(a => a.specId != snap.specId)
          .foreach(a => throw new IllegalStateException(
            s"graftlog: active file ${a.relPath} of $tablePath was " +
              s"written under partition-spec era ${a.specId} (current " +
              s"is ${snap.specId}) — #partitions is exact only on a " +
              "single-spec layout; CALL graftlog.migrate_stats " +
              "(metadata-only) or graftlog.compact to migrate"))
        snap.active.filter(a => a.rows > 0L && a.parts.isEmpty)
          .foreach(a => throw new IllegalStateException(
            s"graftlog: active file ${a.relPath} of partitioned table " +
              s"$tablePath carries no partition stats — the manifest " +
              "is from a writer predating the partitioning"))
        val folded = snap.active.flatMap(_.parts)
          .groupBy(_.values)
          .map { case (tuple, ps) => (tuple, ps.size.toLong,
            ps.map(_.rows).sum) }
          .toSeq.sortBy(_._1.mkString("/"))
        Array(GraftLogPartitionsPartition(folded))
      }
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new GraftLogPartitionsReaderFactory
    }
}

case class GraftLogPartitionsPartition(
    rows: Seq[(Seq[String], Long, Long)])
  extends org.apache.spark.sql.connector.read.InputPartition

/** The file-inventory metadata table (`graftlog.\`<path>#files\``) —
  * Iceberg's `files` table: one row per ACTIVE file straight off the
  * manifest (rows, deletion-vector dead rows, key bounds, stat
  * counts) plus its on-disk bytes. Composes with VERSION AS OF (that
  * era's active set). Driver-side fold at file grain — the same cost
  * class as the manifest itself. */
class GraftLogFilesTable(tablePath: String, snap: TableLog.Snapshot)
    extends Table with SupportsRead {
  private val outSchema = StructType.fromDDL(
    "rel_path STRING, rows BIGINT, live_rows BIGINT, min_key BIGINT, " +
      "max_key BIGINT, n_part_tuples INT, n_col_stats INT, " +
      "size_bytes BIGINT")
  override def name(): String = s"graftlog.`$tablePath#files`"
  override def schema(): StructType = outSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with org.apache.spark.sql.connector.read.Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = outSchema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] = {
        val rows = snap.active.sortBy(_.relPath).map { a =>
          val p = java.nio.file.Paths.get(tablePath, a.relPath)
          (a.relPath, a.rows, a.liveRows, a.min, a.max,
            a.parts.size, a.cols.size,
            if (java.nio.file.Files.exists(p))
              java.nio.file.Files.size(p) else 0L)
        }
        Array(GraftLogFilesPartition(rows))
      }
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new GraftLogFilesReaderFactory
    }
}

case class GraftLogFilesPartition(
    rows: Seq[(String, Long, Long, Long, Long, Int, Int, Long)])
  extends org.apache.spark.sql.connector.read.InputPartition

class GraftLogFilesReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val it = p.asInstanceOf[GraftLogFilesPartition].rows.iterator
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (rel, rows, live, mn, mx, np, nc, bytes) = it.next()
        cur = InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(rel),
          rows, live, mn, mx, np, nc, bytes)
        true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** The one-row table card (`graftlog.\`<path>#detail\``) — Delta's
  * DESCRIBE DETAIL shape, folded from the manifest alone: snapshot
  * version, file count, live/dead rows (deletion vectors netted),
  * declared key/partition/bloom columns. Composes with VERSION AS OF. */
class GraftLogDetailTable(tablePath: String, snap: TableLog.Snapshot)
    extends Table with SupportsRead {
  private val outSchema = StructType.fromDDL(
    "version BIGINT, n_files BIGINT, live_rows BIGINT, dead_rows BIGINT, " +
      "key_col STRING, part_cols STRING, bloom_col STRING")
  override def name(): String = s"graftlog.`$tablePath#detail`"
  override def schema(): StructType = outSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => {
      import org.apache.spark.unsafe.types.UTF8String
      new GraftLogStatsScan(outSchema, Seq(
        snap.version,
        snap.active.size.toLong,
        snap.active.map(_.liveRows).sum,
        snap.active.map(a => a.rows - a.liveRows).sum,
        UTF8String.fromString(snap.keyCol),
        UTF8String.fromString(
          snap.partCols.map(TableLog.partPretty).mkString(",")),
        UTF8String.fromString(snap.bloom.map(_._1).getOrElse(""))),
        snap.active.size)
    }
}

class GraftLogPartitionsReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val it = p.asInstanceOf[GraftLogPartitionsPartition].rows.iterator
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (tuple, nFiles, nRows) = it.next()
        val vals: Seq[Any] = tuple.map {
          case TableLog.NullPartValue => null
          case v => org.apache.spark.unsafe.types.UTF8String.fromString(v)
        } ++ Seq(nFiles, nRows)
        cur = org.apache.spark.sql.catalyst.InternalRow(vals: _*)
        true
      }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

class GraftLogScanBuilder(spark: SparkSession, tablePath: String,
    snap: TableLog.Snapshot, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val fullSchema = StructType.fromDDL(snap.schemaDdl)
  // file resolution is DEFERRED: on a chunk-checkpointed table,
  // pushFilters resolves through the chunk-pruned path (parsing only
  // stats-matching manifest chunks); forcing `snap.active` here would
  // parse every chunk before one predicate arrived
  private var filesOpt: Option[Seq[TableLog.AddFile]] = None
  private def files: Seq[TableLog.AddFile] = {
    if (filesOpt.isEmpty) filesOpt = Some(snap.active)
    filesOpt.get
  }
  private var accepted: Array[Filter] = Array.empty
  private var allFilters: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var pushedAgg: Option[Seq[
    org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc]] = None

  /** The post-pushdown file set — exposed so the spec can pin
    * manifest-level skipping without string-matching a plan. */
  private[graft] def chosenFiles: Seq[TableLog.AddFile] = files
  /** (chunks parsed, chunks total) of the snapshot's checkpoint —
    * (0, 0) on an unchunked table; the spec's chunk-pruning pin. */
  private[graft] def chunksReadOfTotal: (Int, Int) =
    snap.chunkIndex.fold((0, 0))(ix => (ix.chunksParsed, ix.chunksTotal))

  private def longOf(v: Any): Option[Long] = v match {
    case l: java.lang.Long    => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short   => Some(s.toLong)
    case _                    => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    allFilters = filters
    val k = snap.keyCol
    var lo = Long.MinValue
    var hi = Long.MaxValue
    val inSetsB = Seq.newBuilder[Array[Long]]
    val used = Array.newBuilder[Filter]
    filters.foreach {
      case f @ GreaterThanOrEqual(`k`, v) => longOf(v).foreach { x =>
        lo = math.max(lo, x); used += f }
      case f @ GreaterThan(`k`, v) => longOf(v).foreach { x =>
        lo = math.max(lo, x + 1); used += f }
      case f @ LessThanOrEqual(`k`, v) => longOf(v).foreach { x =>
        hi = math.min(hi, x); used += f }
      case f @ LessThan(`k`, v) => longOf(v).foreach { x =>
        hi = math.min(hi, x - 1); used += f }
      case f @ EqualTo(`k`, v) => longOf(v).foreach { x =>
        lo = math.max(lo, x); hi = math.min(hi, x); used += f }
      // static IN prunes EXACTLY, per value against per-file [min,max]
      // (the same probe the runtime-filter path uses) — collapsing to
      // the list's span would keep every file between min and max
      case f @ In(`k`, vs) if vs.nonEmpty && vs.forall(longOf(_).isDefined) =>
        inSetsB += vs.map(longOf(_).get).sorted
        used += f
      case _ => ()
    }
    val inSets = inSetsB.result()
    val range =
      if (lo != Long.MinValue || hi != Long.MaxValue) Some((lo, hi)) else None
    // partition predicates (point/set/null on declared partition
    // columns, raw temporal ranges through the transform) — extracted
    // up front because they feed BOTH the chunk layer and the
    // per-file layer below
    val (pPreds, pConsumed) =
      if (snap.partCols.nonEmpty)
        GraftLogScanBuilder.partitionPreds(snap.partCols, filters.toSeq)
      else (Nil, Nil)
    pConsumed.foreach(used += _)
    // ZEROTH manifest layer — CHUNK pruning: on a chunk-checkpointed
    // table, key-range/IN and partition predicates test each chunk's
    // stats envelope from the manifest LIST, and only surviving
    // chunks' file entries are parsed at all — planning cost
    // O(matching chunks), the property that keeps a 1M-file table's
    // driver work bounded. Falls through to the full set when
    // unchunked or predicate-free.
    val envPreds = if (snap.chunkEnvOk) pPreds else Nil
    var fs = snap.activePruned(r =>
      GraftLogScanBuilder.chunkKeeps(r, range, inSets, envPreds))
    // first per-file layer: key-range [min, max] stats
    range.foreach { case (l, h) =>
      fs = fs.filter(a => a.max >= l && a.min <= h) }
    inSets.foreach { sorted =>
      fs = fs.filter(f =>
        GraftLogScanBuilder.anyInRange(sorted, f.min, f.max))
    }
    // second manifest layer: point predicates on the bloom column
    // test the per-file sidecars (absence keeps the file — bloom
    // skipping must never lose rows)
    snap.bloom.map(_._1).foreach { bc =>
      val probes: Seq[Any] = filters.toSeq.collect {
        case EqualTo(`bc`, v) => Seq(v)
        case In(`bc`, vs)     => vs.toSeq
      }.flatten
      if (probes.nonEmpty) {
        filters.foreach {
          case f @ (EqualTo(`bc`, _) | In(`bc`, _)) => used += f
          case _ => ()
        }
        // candidate-scoped: a bloom probe must not force the full
        // chunk parse the zeroth layer just avoided
        fs = TableLog.prunedFilesBloomOf(spark, tablePath, snap, probes, fs)
      }
    }
    // third manifest layer: partition pruning — a file survives iff
    // SOME recorded tuple satisfies every partition predicate at once
    // (conjunctive per tuple, so `p1='a' AND p2='x'` drops a file
    // holding (a,y) and (b,x)). Files without tuple stats are kept —
    // absence must not lose rows.
    if (pPreds.nonEmpty)
      fs = fs.filter(
        GraftLogScanBuilder.partitionKeeps(_, pPreds, snap.specId))
    // fourth manifest layer: NON-KEY column min/max skipping (the
    // Delta/Iceberg data-skipping device) — comparison predicates on
    // any stats-carrying column drop files whose recorded range
    // cannot match. A file lacking the stat survives (absence never
    // loses rows), and since min/max ignore nulls while no comparison
    // matches a null row, range skipping alone stays exact.
    // column stats are recorded under PHYSICAL names — filters arrive
    // logical and translate through the snapshot's column mapping
    val statCarrying = fs.iterator
      .flatMap(_.cols.iterator.map(_.col)).toSet
    val cFlt = filters.filter(flt =>
      GraftLogScanBuilder.colStatFilterCol(flt)
        .map(snap.physName).exists(statCarrying))
    if (cFlt.nonEmpty) {
      cFlt.foreach(used += _)
      val physFlt = cFlt.map(GraftLogScanBuilder.physFilter(_, snap.colMap))
      fs = fs.filter(a =>
        physFlt.forall(GraftLogScanBuilder.colStatKeep(a, _)))
    }
    filesOpt = Some(fs)
    accepted = used.result().distinct
    // every filter comes back as a residual: file-grain skipping is
    // not row-exact, and the parquet scan's row-group pruning (fed
    // below) is best-effort by design
    filters
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Whole-table COUNT(*) / MIN(key) / MAX(key) fold from the
    * manifest — per-file stats are TRUE bounds written at commit
    * time (q339 proves bit-equality against a scan), so the
    * aggregate is EXACT and costs a driver fold over file-grain
    * metadata: at 100 TB, `SELECT count(*) FROM graftlog.\`t\``
    * opens ZERO data files (the Iceberg metadata-table trick, on
    * the SQL surface; composes with VERSION AS OF). Only the
    * unfiltered, ungrouped form qualifies: any residual row filter
    * invalidates file-grain stats, and Spark never offers the
    * pushdown when a Filter survives — which, since every filter
    * here returns as a residual, is exactly the filtered case. */
  private def isKeyRef(
      e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        nr.fieldNames.toSeq == Seq(snap.keyCol)
      case _ => false
    }

  /** A NON-key integral column whose min/max folds exactly from the
    * manifest: every active file must carry its stat (a file without
    * one might be a pre-stats manifest whose rows would go missing;
    * all-null evolution files fold correctly because reads null-fill
    * them and min/max ignore nulls — but the manifest can't tell the
    * two apart, so absence refuses). Integral only: string bounds may
    * be truncated and double bounds carry canonicalized zeros —
    * exactness, not plausibility, is the pushdown contract (q339's
    * bit-equality proof extends to these). */
  private def statColRef(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.types.StructField] =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames.head
        val p = snap.physName(c) // stats live under physical names
        fullSchema.fields.find(_.name == c).filter(f =>
          f.name != snap.keyCol &&
            (f.dataType == org.apache.spark.sql.types.LongType ||
             f.dataType == org.apache.spark.sql.types.IntegerType) &&
            files.forall(_.cols.exists(s => s.col == p && s.typ == 'l')))
      case _ => None
    }

  private def statsAnswerable(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    // count(*) subtracts deletion vectors and stays exact; min/max
    // accept a DV'd file only when its bounds were re-derived over
    // the survivors at DV-commit time (dvExact) — a legacy DV entry's
    // dead row may have carried the bound, so it refuses
    def noDv = files.forall(a => a.dv.isEmpty || a.dvExact)
    accepted.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => noDv &&
          (isKeyRef(m.column) || statColRef(m.column).isDefined)
        case m: Max => noDv &&
          (isKeyRef(m.column) || statColRef(m.column).isDefined)
        case _ => false
      }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = statsAnswerable(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    if (statsAnswerable(agg)) {
      pushedAgg = Some(agg.aggregateExpressions.toSeq); true
    } else false

  override def build(): Scan = pushedAgg match {
    case Some(funcs) =>
      import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
      // fold one stat-col bound across files, typed to the column
      def statFold(f: org.apache.spark.sql.types.StructField,
          lowSide: Boolean): Any = {
        if (files.isEmpty) return null
        val vs = files.map(a =>
          a.cols.find(_.col == snap.physName(f.name)).get)
          .map(s => (if (lowSide) s.min else s.max).toLong)
        val v = if (lowSide) vs.min else vs.max
        if (f.dataType == org.apache.spark.sql.types.IntegerType) v.toInt
        else v
      }
      val row: Seq[Any] = funcs.map {
        case _: CountStar => files.map(_.liveRows).sum
        case m: Min if isKeyRef(m.column) =>
          if (files.isEmpty) null else files.map(_.min).min
        case m: Max if isKeyRef(m.column) =>
          if (files.isEmpty) null else files.map(_.max).max
        case m: Min => statFold(statColRef(m.column).get, lowSide = true)
        case m: Max => statFold(statColRef(m.column).get, lowSide = false)
        case o => throw new IllegalStateException(s"unpushable agg $o")
      }
      val schema = StructType(funcs.zipWithIndex.map {
        case (_: CountStar, i) =>
          org.apache.spark.sql.types.StructField(s"agg_$i",
            org.apache.spark.sql.types.LongType, nullable = false)
        case (m: Min, i) if !isKeyRef(m.column) =>
          org.apache.spark.sql.types.StructField(s"agg_$i",
            statColRef(m.column).get.dataType, nullable = true)
        case (m: Max, i) if !isKeyRef(m.column) =>
          org.apache.spark.sql.types.StructField(s"agg_$i",
            statColRef(m.column).get.dataType, nullable = true)
        case (_, i) =>
          org.apache.spark.sql.types.StructField(s"agg_$i",
            org.apache.spark.sql.types.LongType, nullable = true)
      })
      new GraftLogStatsScan(schema, row, files.size)
    case None =>
      new GraftLogDataScan(spark, tablePath, snap, fullSchema, required,
        allFilters, files, options,
        keyOnlyRuntimeFilter = runtimeFilterKeyOnly)
  }

  /** Row-level operations override this: Spark's runtime GROUP
    * filtering structs ALL advertised filter attributes into one
    * multi-column IN-subquery, which no source filter can express —
    * advertising anything beyond the key would silently disable the
    * matched-group sliver rewrite. Plain reads keep the full set
    * (DPP probes attributes individually). */
  protected def runtimeFilterKeyOnly: Boolean = false
}

object GraftLogScanBuilder {
  /** Partition predicates extracted from pushed filters: per
    * partition-column index, a test over the stringified tuple value
    * (null = the manifest sentinel). Returns (predicates, consumed
    * filters). Shared by the scan's partition pruning and the
    * INSERT OVERWRITE write's candidate pruning, so read-side and
    * write-side skipping can never disagree.
    *
    * IDENTITY specs consume point/set/null predicates on the column.
    * TEMPORAL specs (`days:c` / `months:c`) consume predicates on the
    * RAW source column — Iceberg's hidden-partitioning contract: a
    * `WHERE ts >= T` range maps to a string comparison against the
    * UTC day/month rendering, which is chronologically ordered for
    * 4-digit years (zero-padded). Every verdict is a KEEP test, so
    * all approximations stay sound: day-grain equality keeps a
    * superset of timestamp-grain; out-of-range years (< 0, > 9999)
    * render non-lexicographically and are kept unconditionally
    * rather than risked; comparison predicates never match null rows,
    * so a null tuple fails them exactly like the identity case. */
  /** One consumed partition predicate: `row` is the per-tuple keep
    * test (file grain); `env` the CHUNK-grain keep test over a
    * checkpoint chunk's lexicographic value envelope [min, max] —
    * called only on BOUNDED envelopes (an unbounded envelope always
    * keeps), and sound because the envelope is folded in the same
    * lexicographic order the probes compare in (equality under any
    * domain; ranges only for temporal renderings, where zero-padding
    * makes lexicographic chronological). A bounded envelope also
    * proves the chunk holds no null tuple values, so IsNull prunes it
    * outright. */
  private[sources] final case class PartPred(idx: Int,
      row: String => Boolean, env: (String, String) => Boolean)

  private[sources] def partitionPreds(partCols: Seq[String],
      filters: Seq[Filter])
      : (Seq[PartPred], Seq[Filter]) = {
    val bySrc: Map[String, (Int, TableLog.PartTransform)] =
      partCols.zipWithIndex.map { case (spec, i) =>
        TableLog.partSourceCol(spec) ->
          (i, TableLog.partTransformOf(spec))
      }.toMap
    def str(v: Any): String = String.valueOf(v)
    // a stored rendering is lexicographically comparable only with a
    // 4-digit year; anything else keeps the file
    def lexSafe(x: String): Boolean =
      x.length >= 4 && x.charAt(0).isDigit
    def epochDayOf(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(Math.floorDiv(t.getTime, 86400000L))
      case i: java.time.Instant =>
        Some(Math.floorDiv(i.toEpochMilli, 86400000L))
      case d: java.sql.Date       => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    // the probe value's rendering under the spec's transform, when
    // it lands in the lexicographically safe year range
    def epochHourOf(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(Math.floorDiv(t.getTime, 3600000L))
      case i: java.time.Instant =>
        Some(Math.floorDiv(i.toEpochMilli, 3600000L))
      case _ => None // dates carry no hour; hours() refuses them at CREATE
    }
    def renderProbe(t: TableLog.PartTransform, v: Any): Option[String] = {
      val r = t match {
        case TableLog.PDays(_)   => epochDayOf(v).map(TableLog.renderDay)
        case TableLog.PMonths(_) => epochDayOf(v).map(TableLog.renderMonth)
        case TableLog.PYears(_)  => epochDayOf(v).map(TableLog.renderYear)
        case TableLog.PHours(_)  => epochHourOf(v).map(TableLog.renderHour)
        case TableLog.PIdentity(_) => None
      }
      r.filter(lexSafe)
    }
    val consumed = Seq.newBuilder[Filter]
    def temporal(c: String): Option[(Int, TableLog.PartTransform)] =
      bySrc.get(c).filterNot(_._2.isInstanceOf[TableLog.PIdentity])
    def identityIdx(c: String): Option[Int] =
      bySrc.get(c).collect { case (i, TableLog.PIdentity(_)) => i }
    def inEnv(p: String): (String, String) => Boolean =
      (mn, mx) => mn <= p && p <= mx
    val preds = filters.flatMap {
      // ---- identity specs: exact stringified point/set/null tests
      case f @ EqualTo(c, v) if identityIdx(c).isDefined && v != null =>
        consumed += f
        Some(PartPred(identityIdx(c).get, x =>
          x != TableLog.NullPartValue && x == str(v), inEnv(str(v))))
      case f @ In(c, vs) if identityIdx(c).isDefined && vs.nonEmpty =>
        consumed += f
        val set = vs.filter(_ != null).map(str).toSet
        Some(PartPred(identityIdx(c).get, x =>
          x != TableLog.NullPartValue && set(x),
          (mn, mx) => set.exists(p => mn <= p && p <= mx)))
      // ---- temporal specs: raw predicates map through the transform
      case f @ EqualTo(c, v) if temporal(c).isDefined && v != null =>
        val (i, t) = temporal(c).get
        renderProbe(t, v).map { p =>
          consumed += f
          PartPred(i, x => x != TableLog.NullPartValue &&
            (!lexSafe(x) || x == p), inEnv(p))
        }
      case f @ In(c, vs) if temporal(c).isDefined && vs.nonEmpty =>
        val (i, t) = temporal(c).get
        val ps = vs.filter(_ != null).map(renderProbe(t, _))
        if (ps.exists(_.isEmpty)) None // an untranslatable value keeps all
        else {
          consumed += f
          val set = ps.flatten.toSet
          Some(PartPred(i, x => x != TableLog.NullPartValue &&
            (!lexSafe(x) || set(x)),
            (mn, mx) => set.exists(p => mn <= p && p <= mx)))
        }
      case f @ GreaterThanOrEqual(c, v) if temporal(c).isDefined =>
        val (i, t) = temporal(c).get
        renderProbe(t, v).map { p =>
          consumed += f
          PartPred(i, x => x != TableLog.NullPartValue &&
            (!lexSafe(x) || x >= p), (_, mx) => mx >= p)
        }
      case f @ GreaterThan(c, v) if temporal(c).isDefined =>
        // strict > at row grain is >= at day grain (the boundary
        // day can still hold later-in-day rows)
        val (i, t) = temporal(c).get
        renderProbe(t, v).map { p =>
          consumed += f
          PartPred(i, x => x != TableLog.NullPartValue &&
            (!lexSafe(x) || x >= p), (_, mx) => mx >= p)
        }
      case f @ LessThanOrEqual(c, v) if temporal(c).isDefined =>
        val (i, t) = temporal(c).get
        renderProbe(t, v).map { p =>
          consumed += f
          PartPred(i, x => x != TableLog.NullPartValue &&
            (!lexSafe(x) || x <= p), (mn, _) => mn <= p)
        }
      case f @ LessThan(c, v) if temporal(c).isDefined =>
        val (i, t) = temporal(c).get
        renderProbe(t, v).map { p =>
          consumed += f
          PartPred(i, x => x != TableLog.NullPartValue &&
            (!lexSafe(x) || x <= p), (mn, _) => mn <= p)
        }
      // ---- null tests work identically under every transform
      case f @ IsNull(c) if bySrc.contains(c) =>
        consumed += f
        // a bounded chunk envelope proves no member file records a
        // null tuple value — IsNull prunes the whole chunk
        Some(PartPred(bySrc(c)._1,
          x => x == TableLog.NullPartValue, (_, _) => false))
      case f @ IsNotNull(c) if bySrc.contains(c) =>
        consumed += f
        Some(PartPred(bySrc(c)._1,
          x => x != TableLog.NullPartValue, (_, _) => true))
      case _ => None
    }
    (preds, consumed.result())
  }

  /** A file survives partition pruning iff SOME recorded tuple
    * satisfies EVERY predicate; stat-less files always survive, and
    * so do files written under a DIFFERENT partition-spec era — their
    * tuples are positional under THEIR spec and must not be
    * reinterpreted under the current one (Iceberg's spec-evolution
    * rule; a rewrite migrates them). */
  private[sources] def partitionKeeps(a: TableLog.AddFile,
      preds: Seq[PartPred], curSpecId: Int): Boolean =
    a.specId != curSpecId || a.parts.isEmpty || a.parts.exists(p =>
      preds.forall(pr => pr.row(p.values(pr.idx))))

  /** A checkpoint chunk survives iff its stats envelope might hold a
    * matching file: key range/IN vs [minKey, maxKey], partition
    * predicates vs the per-column value envelope (unbounded always
    * keeps). The chunk-grain mirror of the per-file layers — called
    * BEFORE any file entry is parsed. */
  private[sources] def chunkKeeps(r: TableLog.ChunkRef,
      range: Option[(Long, Long)], inSets: Seq[Array[Long]],
      preds: Seq[PartPred]): Boolean =
    range.forall { case (lo, hi) => r.maxKey >= lo && r.minKey <= hi } &&
      inSets.forall(sorted => anyInRange(sorted, r.minKey, r.maxKey)) &&
      preds.forall(pr =>
        // an index beyond the recorded envelope (spec-era arity
        // drift) is unbounded — keep, never throw
        if (pr.idx >= r.env.length) true
        else r.env(pr.idx) match {
          case None           => true
          case Some((mn, mx)) => pr.env(mn, mx)
        })

  /** The key interval implied by pushed comparisons on `keyCol`
    * (None = unbounded) — the same fold the scan's pushFilters
    * performs, exposed so the DELETE path can prune its candidate
    * files with it. */
  private[sources] def keyRange(keyCol: String,
      filters: Seq[Filter]): Option[(Long, Long)] = {
    def longOf(v: Any): Option[Long] = v match {
      case l: java.lang.Long    => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case s: java.lang.Short   => Some(s.toLong)
      case _                    => None
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    filters.foreach {
      case GreaterThanOrEqual(`keyCol`, v) =>
        longOf(v).foreach(x => lo = math.max(lo, x))
      case GreaterThan(`keyCol`, v) =>
        longOf(v).foreach(x => lo = math.max(lo, x + 1))
      case LessThanOrEqual(`keyCol`, v) =>
        longOf(v).foreach(x => hi = math.min(hi, x))
      case LessThan(`keyCol`, v) =>
        longOf(v).foreach(x => hi = math.min(hi, x - 1))
      case EqualTo(`keyCol`, v) =>
        longOf(v).foreach(x => { lo = math.max(lo, x); hi = math.min(hi, x) })
      case _ => ()
    }
    if (lo != Long.MinValue || hi != Long.MaxValue) Some((lo, hi)) else None
  }

  /** The column a comparison filter probes, if BOTH the shape and the
    * value's type are within the column-stats contract (integral /
    * double / string domains; IN of such values). */
  private[sources] def colStatFilterCol(flt: Filter): Option[String] = {
    def ok(v: Any): Boolean = v match {
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Double | _: java.lang.Float | _: String => true
      case _ => false
    }
    flt match {
      case EqualTo(c, v) if ok(v)            => Some(c)
      case GreaterThan(c, v) if ok(v)        => Some(c)
      case GreaterThanOrEqual(c, v) if ok(v) => Some(c)
      case LessThan(c, v) if ok(v)           => Some(c)
      case LessThanOrEqual(c, v) if ok(v)    => Some(c)
      case In(c, vs) if vs.nonEmpty && vs.forall(ok) => Some(c)
      case _ => None
    }
  }

  /** May `a` hold rows matching `flt`, judging by its recorded column
    * stats? Missing stat → true. String bounds honor truncation: the
    * stored min is a PREFIX (≤ true min), the stored max is rounded
    * UP (≥ true max, or unbounded) — every verdict below stays sound
    * under those over-approximations. */
  private[sources] def colStatKeep(a: TableLog.AddFile,
      flt: Filter): Boolean = {
    import TableLog.{cmpStat, ColStatUnbounded}
    def eval(col: String, test: (TableLog.ColStat) => Boolean): Boolean =
      a.cols.find(_.col == col).forall(test)
    def statMin(s: TableLog.ColStat): Any = s.typ match {
      case 'l' => s.min.toLong
      case 'd' => s.min.toDouble
      case _   => s.min
    }
    def statMax(s: TableLog.ColStat): Option[Any] =
      if (s.typ == 's' && s.max == ColStatUnbounded) None
      else Some(s.typ match {
        case 'l' => s.max.toLong
        case 'd' => s.max.toDouble
        case _   => s.max
      })
    def eqKeep(s: TableLog.ColStat, v: Any): Boolean =
      cmpStat(s.typ, v, statMin(s)) >= 0 &&
        statMax(s).forall(mx => cmpStat(s.typ, v, mx) <= 0)
    flt match {
      case EqualTo(c, v) => eval(c, s => eqKeep(s, v))
      case In(c, vs)     => eval(c, s => vs.exists(eqKeep(s, _)))
      case GreaterThan(c, v) =>
        eval(c, s => statMax(s).forall(mx => cmpStat(s.typ, mx, v) > 0))
      case GreaterThanOrEqual(c, v) =>
        eval(c, s => statMax(s).forall(mx => cmpStat(s.typ, mx, v) >= 0))
      case LessThan(c, v) =>
        eval(c, s => cmpStat(s.typ, statMin(s), v) < 0)
      case LessThanOrEqual(c, v) =>
        eval(c, s => cmpStat(s.typ, statMin(s), v) <= 0)
      case _ => true
    }
  }

  /** Rewrite a pushed filter's attribute references from LOGICAL to
    * PHYSICAL names (column mapping): the parquet converter and the
    * manifest's column stats both speak physical. Unknown filter
    * shapes pass through unchanged — an unresolvable reference is
    * simply dropped by parquet's own converter, never mis-bound. */
  private[sources] def physFilter(f: Filter,
      m: Map[String, String]): Filter = {
    if (m.isEmpty) return f
    import org.apache.spark.sql.sources._
    def r(c: String): String = m.getOrElse(c, c)
    f match {
      case EqualTo(a, v)            => EqualTo(r(a), v)
      case EqualNullSafe(a, v)      => EqualNullSafe(r(a), v)
      case GreaterThan(a, v)        => GreaterThan(r(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(r(a), v)
      case LessThan(a, v)           => LessThan(r(a), v)
      case LessThanOrEqual(a, v)    => LessThanOrEqual(r(a), v)
      case In(a, vs)                => In(r(a), vs)
      case IsNull(a)                => IsNull(r(a))
      case IsNotNull(a)             => IsNotNull(r(a))
      case StringStartsWith(a, v)   => StringStartsWith(r(a), v)
      case StringEndsWith(a, v)     => StringEndsWith(r(a), v)
      case StringContains(a, v)     => StringContains(r(a), v)
      case And(l, rr)               => And(physFilter(l, m), physFilter(rr, m))
      case Or(l, rr)                => Or(physFilter(l, m), physFilter(rr, m))
      case Not(c)                   => Not(physFilter(c, m))
      case other                    => other
    }
  }

  /** Does any value of `sorted` fall inside `[min, max]`? One binary
    * search per file — the probe shared by static IN pruning and the
    * runtime-filter path, so the two can never disagree. */
  private[sources] def anyInRange(sorted: Array[Long], min: Long,
      max: Long): Boolean = {
    var lo = 0; var hi = sorted.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = sorted(mid)
      if (v < min) lo = mid + 1
      else if (v > max) hi = mid - 1
      else return true
    }
    false
  }
}

/** `bucket(numBuckets, key)` — the engine's one bucket hash (Spark's
  * Murmur3 long hash, seed 42, floor-mod), exposed through the DSv2
  * FunctionCatalog so Spark's storage-partitioned-join planner can
  * resolve the transform the bucketed scan reports (and so SQL can
  * compute a row's bucket directly). Same function object the write
  * path routes with ([[GraftLogAppendContract.bucketOf]]) — one
  * implementation, zero drift. */
object GraftLogBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets INT, key BIGINT): murmur3-based bucket id"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType &&
        inputType.fields(1).dataType == LongType,
      s"bucket(numBuckets INT, key BIGINT), got ${inputType.sql}")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, LongType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graftlog.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer =
        GraftLogAppendContract.bucketOf(input.getLong(1), input.getInt(0))
    }
  }
}

/** `days(ts)` / `months(ts)` — the engine's UTC temporal bucketing as
  * DSv2 scalar functions (Iceberg exposes its transforms the same
  * way): `days` returns the epoch day of the instant's UTC wall
  * clock, `months` the UTC month index (year·12 + month − 1). The
  * write path's per-row rendering derives from the SAME epoch-day
  * arithmetic ([[TableLog.epochDayOfMicros]]), so clustering and
  * manifest values can never disagree. DATE inputs pass through
  * (a date IS an epoch day). */
private[sources] abstract class GraftLogTemporalFunction(fn: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types.{DataType, DateType, IntegerType, TimestampType}

  protected def ofEpochDay(day: Long): Int

  override def name(): String = fn
  override def description(): String =
    s"$fn(ts TIMESTAMP | d DATE): UTC temporal partition bucket"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
        (inputType.fields(0).dataType == TimestampType ||
         inputType.fields(0).dataType == DateType),
      s"$fn(TIMESTAMP | DATE), got ${inputType.sql}")
    val fromTs = inputType.fields(0).dataType == TimestampType
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(if (fromTs) TimestampType else DateType)
      override def resultType(): DataType = IntegerType
      override def name(): String = fn
      override def canonicalName(): String = s"graftlog.$fn"
      override def produceResult(input: InternalRow): Integer =
        ofEpochDay(
          if (fromTs) TableLog.epochDayOfMicros(input.getLong(0))
          else input.getInt(0).toLong)
    }
  }
}

object GraftLogDaysFunction extends GraftLogTemporalFunction("days") {
  override protected def ofEpochDay(day: Long): Int = day.toInt
}

object GraftLogMonthsFunction extends GraftLogTemporalFunction("months") {
  override protected def ofEpochDay(day: Long): Int = {
    val d = java.time.LocalDate.ofEpochDay(day)
    d.getYear * 12 + d.getMonthValue - 1
  }
}

object GraftLogYearsFunction extends GraftLogTemporalFunction("years") {
  override protected def ofEpochDay(day: Long): Int =
    java.time.LocalDate.ofEpochDay(day).getYear
}

/** `hours(ts)` — TIMESTAMP-only (a date carries no hour): the UTC
  * epoch-hour index, the write distribution's clustering value for
  * hour-partitioned tables. */
object GraftLogHoursFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types.{DataType, IntegerType, TimestampType}
  override def name(): String = "hours"
  override def description(): String =
    "hours(ts TIMESTAMP): UTC epoch-hour partition bucket"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == TimestampType,
      s"hours(TIMESTAMP), got ${inputType.sql}")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(TimestampType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "hours"
      override def canonicalName(): String = "graftlog.hours"
      override def produceResult(input: InternalRow): Integer =
        TableLog.epochHourOfMicros(input.getLong(0)).toInt
    }
  }
}

/** The catalog's data scan: Spark's own vectorized parquet scan over
  * the manifest-pruned file set, wrapped to add RUNTIME file pruning
  * (`SupportsRuntimeFiltering`): when this table is the fact side of
  * a broadcast join on its key column, dynamic pruning hands the dim
  * side's key set here at execution time and the file set shrinks by
  * the per-file [min, max] stats BEFORE any task launches — DPP for
  * a table with no Hive partitions at all. At 100 TB a selective dim
  * join reads the handful of files whose key range the dim actually
  * touches. The probe is sort + per-file binary search, so the cost
  * is (files · log values) driver-side metadata work. Statistics
  * delegate to the parquet scan so join planning sees true sizes. */
class GraftLogDataScan(spark: SparkSession, tablePath: String,
    snap: TableLog.Snapshot, fullSchema: StructType, required: StructType,
    dataFilters: Array[Filter], initialFiles: Seq[TableLog.AddFile],
    options: CaseInsensitiveStringMap,
    keyOnlyRuntimeFilter: Boolean = false)
    extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private var files: Seq[TableLog.AddFile] = initialFiles
  private var runtimePruned: Boolean = false

  // COLUMN MAPPING: the wrapped parquet scan speaks PHYSICAL names
  // (what the data files carry); the scan's own readSchema stays
  // LOGICAL. InternalRows are positional, so renaming fields leaves
  // the data path untouched — only name resolution shifts. Columns
  // added with a DEFAULT carry EXISTS_DEFAULT metadata (resolved by
  // the snapshot's physSchema): the parquet reader answers the
  // default for files that physically lack the column — the
  // initial-default read path, on the SQL scan like every other.
  private def physStruct(st: StructType): StructType =
    if (snap.colMap.isEmpty && snap.defaults.isEmpty) st
    else {
      val byName = snap.physSchema.fields
        .map(f => f.name -> f).toMap
      StructType(st.fields.map { f =>
        val phys = byName.getOrElse(snap.physName(f.name),
          f.copy(name = snap.physName(f.name)))
        f.copy(name = phys.name, metadata = phys.metadata)
      })
    }
  private val physFull = physStruct(fullSchema)
  private val physRequired = physStruct(required)
  private val physFilters =
    dataFilters.map(GraftLogScanBuilder.physFilter(_, snap.colMap))

  private var inner: ParquetScan = mkInner()

  /** The post-runtime-prune file set — the spec's observation hook. */
  private[graft] def chosenFiles: Seq[TableLog.AddFile] = files

  // EVERY translatable filter feeds the parquet scan — not just the
  // manifest-consumed key/bloom set: a predicate on any other column
  // (`o_orderstatus = 'F'`) still earns row-group/page pruning inside
  // the surviving files; parquet's own converter drops what it
  // cannot express, and the residual Filter keeps rows exact.
  private def mkInner(): ParquetScan =
    GraftLogParquet.scan(spark, tablePath, files, physFull, physRequired,
      physFilters, options)

  override def readSchema(): StructType = required
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  /** `spark.readStream.table("graftlog.\`t\`")` — the SAME micro-batch
    * stream the format provider serves (offsets = table versions,
    * admission control, vectorized batches), reached by NAME: the
    * catalog table is the one subscription point for batch and
    * streaming consumers. Column pruning flows through (`required`
    * becomes the stream's projection). The change-feed schema differs
    * from the table's, so `readChangeFeed` stays on the format
    * provider where the schema is negotiated up front. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (Option(options.get("readChangeFeed")).exists(_.equalsIgnoreCase("true")))
      throw new UnsupportedOperationException(
        "graftlog: readChangeFeed through the catalog is not defined " +
          "(the change feed has its own schema) — use " +
          "readStream.format(\"graft.sources.GraftLogStreamProvider\")")
    new GraftLogMicroBatchStream(tablePath,
      StructType(required.fields.map(_.copy(nullable = true))),
      GraftLogStartingBound.resolve(tablePath, options.get),
      maxFilesPerTrigger =
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxBytesPerTrigger =
        Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      maxRowsPerTrigger =
        Option(options.get("maxRowsPerTrigger")).map(_.toLong),
      skipChangeCommits = Option(options.get("skipChangeCommits"))
        .exists(_.toBoolean))
  }

  override def description(): String =
    s"GraftLogScan(files=${files.size}/${snap.active.size}, " +
      s"runtimePruned=$runtimePruned) " + inner.description()

  // ---- storage-partitioned execution (Spark's v2 bucketing) --------
  // When the table declares partition columns AND every chosen file is
  // tuple-PURE (one partition tuple per file — the clustered write's
  // layout), the scan reports KeyGroupedPartitioning and plans ONE
  // input partition per live tuple: under
  // spark.sql.sources.v2.bucketing.enabled, a join of two tables
  // partitioned on the same columns — or an aggregation keyed on them —
  // runs with ZERO shuffle, because storage already clusters the rows.
  // At 100 TB this deletes the dominant exchange of a co-partitioned
  // fact-to-fact join. A mixed-tuple file (hash/range staging can
  // co-locate a few tuples) makes key-grouping unsound, so the scan
  // falls back to plain file partitions — correctness never depends on
  // the layout, only the shuffle elision does.
  private def pureGroups: Option[Seq[(Seq[String], Seq[TableLog.AddFile])]] =
    // identity transforms only: a transformed tuple value is not a
    // column value, so Spark cannot key-group rows on it — temporal
    // partitioning keeps its pruning layers and falls back to plain
    // file partitions here
    // DV'd files plan as separate whole-file partitions (dvSplit), so
    // a chosen DV'd file would leave rows of a tuple OUTSIDE its keyed
    // group while outputPartitioning still claimed key-grouping —
    // unsound SPJ results; fall back to plain partitions instead
    if (snap.partCols.isEmpty || snap.partCols.exists(_.contains(':')) ||
        files.isEmpty || files.exists(_.parts.size != 1) ||
        files.exists(_.dv.isDefined)) None
    else Some(files.groupBy(_.parts.head.values).toSeq
      .sortBy(_._1.mkString("/")))

  /** Bucketed-table key grouping: when TBLPROPERTIES declares
    * `bucket.count` and every chosen file carries the writer's
    * `__bucket` purity stat (min = max = id), report
    * `KeyGroupedPartitioning(bucket(n, key))` — two graftlog tables
    * bucketed the same way JOIN ON THE KEY with zero shuffle (the
    * Iceberg bucket-SPJ shape; both sides share the one engine hash,
    * exposed as the catalog's `bucket` SQL function). Files written
    * outside the bucket-routing path (API staging, rewrites) lack
    * the stat and the gate falls back — soundness never rests on
    * the layout. */
  private def bucketGroups: Option[(Int, Seq[(Int, Seq[TableLog.AddFile])])] =
    GraftLogAppendContract.bucketCountOf(snap.props).flatMap { n =>
      if (snap.partCols.nonEmpty || files.isEmpty ||
          files.exists(_.dv.isDefined)) None
      else {
        val ids = files.map(_.cols.find(_.col == "__bucket")
          .filter(s => s.min == s.max).map(_.min.toInt))
        if (ids.exists(_.isEmpty)) None
        else Some((n, files.zip(ids.map(_.get)).groupBy(_._2).toSeq
          .sortBy(_._1).map { case (id, fs) => (id, fs.map(_._1)) }))
      }
    }

  /** Manifest partition values are strings (STRING/BIGINT/INT cols
    * only, enforced at write); the key row Spark groups on must carry
    * the column's true type. */
  private def typedKey(values: Seq[String]): InternalRow =
    InternalRow.fromSeq(snap.partCols.zip(values).map { case (c, v) =>
      if (v == TableLog.NullPartValue) null
      else fullSchema(c).dataType match {
        case org.apache.spark.sql.types.LongType    => v.toLong
        case org.apache.spark.sql.types.IntegerType => v.toInt
        case _ => org.apache.spark.unsafe.types.UTF8String.fromString(v)
      }
    })

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    pureGroups match {
      case Some(gs) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            snap.partCols.map(c => org.apache.spark.sql.connector
              .expressions.Expressions.identity(c)
                : org.apache.spark.sql.connector.expressions.Expression)
              .toArray, gs.size)
      case None => bucketGroups match {
        case Some((n, gs)) =>
          new org.apache.spark.sql.connector.read.partitioning
            .KeyGroupedPartitioning(
              Array(org.apache.spark.sql.connector.expressions.Expressions
                .bucket(n, snap.keyCol)
                  : org.apache.spark.sql.connector.expressions.Expression),
              gs.size)
        case None =>
          new org.apache.spark.sql.connector.read.partitioning
            .UnknownPartitioning(0)
      }
    }

  // Deletion-vector read dispatch: clean files keep the fully-pushed
  // vectorized scan; DV'd files plan as WHOLE-file partitions from a
  // scan with NO pushed filters (row-group skipping would break
  // position accounting) and read row-based with a position counter
  // skipping dead bits. Key-grouped planning (pureGroups/bucketGroups)
  // gates itself off whenever a chosen file carries a DV, so the two
  // devices never interact.
  private def dvSplit: (Seq[TableLog.AddFile], Seq[TableLog.AddFile]) =
    files.partition(_.dv.isDefined)

  private def dvPartitions(dvFiles: Seq[TableLog.AddFile])
      : Array[InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val scan = GraftLogParquet.scan(spark, tablePath, dvFiles, physFull,
      physRequired, Array.empty, options)
    val splits = scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[FilePartition].files)
    // keyed by the collision-proof (stage, name) file id — part-file
    // BASENAMES can repeat across the active set (sink task ids reset
    // across app restarts), and a collision here would subtract one
    // file's dead positions from another's rows
    val deadById = dvFiles.map { a =>
      val bits = java.util.BitSet.valueOf(java.nio.file.Files
        .readAllBytes(TableLog.dvSidecar(tablePath, a)))
      TableLog.fileIdOf(a.relPath) -> bits.toLongArray
    }.toMap
    splits.groupBy(_.filePath.toString).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((path, fs), i) =>
        new GraftLogDvFilePartition(i, fs.sortBy(_.start),
          deadById(TableLog.fileIdOf(path))): InputPartition
      }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (dvF, cleanF) = dvSplit
    if (dvF.nonEmpty) {
      val cp =
        if (cleanF.isEmpty) Array.empty[InputPartition]
        else GraftLogParquet.scan(spark, tablePath, cleanF, physFull,
          physRequired, physFilters, options).toBatch.planInputPartitions()
      return cp ++ dvPartitions(dvF)
    }
    val base = inner.toBatch.planInputPartitions()
    import org.apache.spark.sql.execution.datasources.FilePartition
    def regroup[K](groups: Seq[(K, Seq[TableLog.AddFile])],
        keyRow: K => InternalRow): Array[InputPartition] = {
      // key-group assignment keys on the (stage, name) file id, not
      // the bare basename — a collision would assign a file to the
      // wrong storage-partition group and silently break SPJ results
      val groupOf = groups.flatMap { case (k, fs) =>
        fs.map(f => TableLog.fileIdOf(f.relPath) -> k)
      }.toMap
      val splits = base.flatMap(_.asInstanceOf[FilePartition].files)
      val bySide = splits.groupBy { pf =>
        groupOf(TableLog.fileIdOf(pf.filePath.toString))
      }
      groups.zipWithIndex.map { case ((k, _), i) =>
        new GraftLogKeyedFilePartition(i,
          bySide.getOrElse(k, Array.empty), keyRow(k)): InputPartition
      }.toArray
    }
    pureGroups match {
      case Some(gs) => regroup(gs, typedKey)
      case None => bucketGroups match {
        case Some((_, gs)) =>
          regroup(gs, (id: Int) => InternalRow(id))
        case None => base
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (dvF, cleanF) = dvSplit
    if (dvF.isEmpty) inner.toBatch.createReaderFactory()
    else new GraftLogDvDispatchFactory(
      GraftLogParquet.scan(spark, tablePath,
        if (cleanF.isEmpty) dvF else cleanF, // factory needs a scan even when no clean files exist
        physFull, physRequired, physFilters, options)
        .toBatch.createReaderFactory(),
      GraftLogParquet.scan(spark, tablePath, dvF, physFull, physRequired,
        Array.empty, options).toBatch.createReaderFactory())
  }
  /** CBO statistics: sizes from the parquet scan (true listed bytes),
    * ROW COUNT from the manifest — the per-file counts are exact at
    * commit time (deletion vectors netted), so join reordering and
    * build-side choice on graftlog-to-graftlog joins see truth
    * without an ANALYZE TABLE pass, folded from file-grain metadata
    * over exactly the chosen (pruned) file set. The manifest count is
    * pinned only on UNFILTERED scans: with residual data filters the
    * file-set sum ignores row-level selectivity and would overstate a
    * selective scan to the CBO (flipping broadcast/build-side choices
    * the wrong way), so filtered scans keep the delegate's
    * selectivity-aware estimate and only backstop it when the
    * delegate has none. */
  /** Plus DISTINCT COUNTS from the manifest's per-file NDV sketches
    * ([[TableLog.ndvEstimate]] — register-max union over exactly the
    * chosen file set, zero data I/O): the channel CBO join-cardinality
    * estimation reads for build-side and reorder decisions
    * (|A ⋈ B| ≈ |A|·|B| / max(ndv); Spark's `transformV2Stats`
    * translates `columnStats` into catalyst attribute stats when CBO
    * is on). Reported only for columns where EVERY chosen file
    * carries a sketch; the ±9% sketch error is disclosed at
    * [[TableLog.ndvLgK]]. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val delegate = inner.estimateStatistics()
    val manifestRows = files.map(_.liveRows).sum
    val filtered = dataFilters.nonEmpty
    val chosen = files
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        delegate.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        if (!filtered) java.util.OptionalLong.of(manifestRows)
        else if (delegate.numRows().isPresent) delegate.numRows()
        else java.util.OptionalLong.of(manifestRows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        // Filtered scans skip the channel: numRows is the delegate's
        // selectivity estimate, and exact file-grain null/NDV figures
        // beside it can exceed it (null fraction > 1) and derail the
        // estimator (the delegate's estimates still flow).
        if (filtered) return m
        // deletion vectors make the per-file sketches and null counts
        // WRITE-time figures; the live-row numbers stay derivable:
        // written nulls minus ALL dead rows lower-bounds the live null
        // count (consistent by construction — writtenNulls ≤ live +
        // dead; understating nulls overstates join cardinality, the
        // conservative direction), and the folded sketch
        // over-approximates live NDV, clamped by the live row count
        // below. A heavily MoR-updated table keeps its CBO distinct
        // counts instead of going dark until compaction.
        val deadRows = chosen.flatMap(_.dv).map(_._2).sum
        required.fieldNames.foreach { c =>
          TableLog.ndvAndNulls(chosen, snap.physName(c)).foreach {
            case (n, nulls0) =>
              val nulls = math.max(0L, nulls0 - deadRows)
              // the sketch can overshoot the row count (±9% RSE);
              // NDV > rows is impossible and inconsistent stats derail
              // the estimator — clamp to the manifest's exact count
              val ndv = math.min(n, math.max(1L, manifestRows - nulls))
              // numeric columns also need [min, max]: the estimator
              // models a numeric column with no bounds as an EMPTY
              // value interval (join cardinality 0). The key's bounds
              // are the manifest's exact per-file envelope; stat
              // columns fold their recorded cstat bounds — reported
              // only when EVERY chosen file carries one.
              val p = snap.physName(c)
              val (mnO, mxO): (Option[AnyRef], Option[AnyRef]) =
                if (p == snap.keyCol)
                  (Some(Long.box(chosen.map(_.min).min)),
                    Some(Long.box(chosen.map(_.max).max)))
                else {
                  val per = chosen.map(_.cols.find(_.col == p))
                  if (per.exists(_.isEmpty)) (None, None)
                  else {
                    val cs = per.flatten
                    cs.head.typ match {
                      case 'l' if cs.forall(_.max != TableLog.ColStatUnbounded) =>
                        (Some(Long.box(cs.map(_.min.toLong).min)),
                          Some(Long.box(cs.map(_.max.toLong).max)))
                      case 'd' if cs.forall(_.max != TableLog.ColStatUnbounded) =>
                        (Some(Double.box(cs.map(_.min.toDouble).min)),
                          Some(Double.box(cs.map(_.max.toDouble).max)))
                      case _ => (None, None) // strings: intervals unused
                    }
                  }
                }
              m.put(
                org.apache.spark.sql.connector.expressions.Expressions.column(c),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(ndv)
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(nulls)
                  override def min(): java.util.Optional[Object] =
                    mnO.fold(java.util.Optional.empty[Object]())(v =>
                      java.util.Optional.of(v))
                  override def max(): java.util.Optional[Object] =
                    mxO.fold(java.util.Optional.empty[Object]())(v =>
                      java.util.Optional.of(v))
                })
          }
        }
        m
      }
    }
  }

  // Runtime filtering is offered on the key column AND every column
  // the chosen files carry min/max stats for — a dim-side join on ANY
  // indexed column shrinks the file set at execution time, not just a
  // key join. Only columns surviving column pruning are advertised:
  // Spark resolves these refs against the scan's output attributes
  // and THROWS (not skips) on a miss.
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val statCols =
      if (keyOnlyRuntimeFilter) Set.empty[String]
      else files.iterator.flatMap(_.cols.iterator.map(_.col)).toSet
    required.fieldNames
      .filter(c => c == snap.keyCol || statCols(c))
      .map(c => org.apache.spark.sql.connector.expressions.Expressions
        .column(c)
        : org.apache.spark.sql.connector.expressions.NamedReference)
  }

  override def filter(filters: Array[Filter]): Unit = {
    val k = snap.keyCol
    // a runtime filter only ever SHRINKS the set; an unparseable one
    // is ignored (rows are still exact — the join re-checks keys)
    filters.foreach {
      case In(`k`, vs) =>
        val longs = vs.flatMap {
          case l: java.lang.Long    => Some(l.longValue)
          case i: java.lang.Integer => Some(i.longValue)
          case _                    => None
        }
        if (longs.nonEmpty) {
          val sorted = longs.sorted
          files = files.filter(f =>
            GraftLogScanBuilder.anyInRange(sorted, f.min, f.max))
          runtimePruned = true
        }
      case flt @ In(_, _)
          if GraftLogScanBuilder.colStatFilterCol(flt).isDefined =>
        // non-key runtime IN: probe each value against the column's
        // recorded range — same soundness as the static cstat layer
        // (stats speak physical names; translate first)
        val pf = GraftLogScanBuilder.physFilter(flt, snap.colMap)
        files = files.filter(a => GraftLogScanBuilder.colStatKeep(a, pf))
        runtimePruned = true
      case _ => ()
    }
    if (runtimePruned) inner = mkInner()
  }
}

/** One DV'd file's whole read: ALL its splits ordered by start (so
  * rows stream in file order 0..n−1) plus the deletion bitset's words.
  * Extends FilePartition so the filter-free ParquetScan's reader
  * factory consumes it unchanged. */
class GraftLogDvFilePartition(idx: Int,
    orderedSplits: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    val deadWords: Array[Long])
  extends org.apache.spark.sql.execution.datasources.FilePartition(
    idx, orderedSplits)

/** Per-partition read dispatch for a scan touching DV'd files: DV'd
  * partitions read with a position counter skipping dead bits (their
  * scan pushed no filters, so positions are exactly the stream
  * order); clean partitions keep their fully-pushed scan. The WHOLE
  * scan runs row-based — Spark refuses mixed columnar/row partition
  * sets — so a DV'd snapshot trades vectorization for rewrite-free
  * deletes until compaction materializes the DVs away (the
  * merge-on-read read-tax, same trade Delta documents). */
class GraftLogDvDispatchFactory(
    clean: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    dv: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case d: GraftLogDvFilePartition =>
      val underlying = dv.createReader(d)
      val bits = java.util.BitSet.valueOf(d.deadWords)
      new PartitionReader[InternalRow] {
        private var pos = -1L
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (underlying.next()) {
            pos += 1
            // positions beyond Int.MaxValue can carry no dead bit (DV
            // creation refuses files with > 2^31 rows; this guard
            // keeps the read side safe against pre-guard manifests —
            // an unguarded toInt would overflow negative and throw)
            if (pos > Int.MaxValue || !bits.get(pos.toInt)) {
              cur = underlying.get(); return true
            }
          }
          false
        }
        override def get(): InternalRow = cur
        override def close(): Unit = underlying.close()
      }
    case _ => clean.createReader(p)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    clean.createColumnarReader(p)
}

/** One storage-partition group: ALL splits of the files holding one
  * partition tuple, keyed for Spark's key-grouped execution. Extends
  * [[org.apache.spark.sql.execution.datasources.FilePartition]] so the
  * wrapped ParquetScan's vectorized reader factory consumes it
  * unchanged — the key rides alongside, the read path is untouched. */
class GraftLogKeyedFilePartition(idx: Int,
    groupFiles: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(
    idx, groupFiles)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Spark's own vectorized parquet DSv2 scan over an explicit
  * manifest-derived file set — the ONE construction shared by the
  * catalog's batch data scan and the commit-log streaming source, so
  * both read paths get identical pushdown, null-filling schema
  * evolution, and whole-stage-codegen behavior. */
private[sources] object GraftLogParquet {
  def scan(spark: SparkSession, tablePath: String,
      files: Seq[TableLog.AddFile], fullSchema: StructType,
      required: StructType, pushedFilters: Array[Filter],
      options: CaseInsensitiveStringMap): ParquetScan = {
    val paths = files
      .map(a => new HadoopPath(
        java.nio.file.Paths.get(tablePath, a.relPath).toUri))
    val index = new InMemoryFileIndex(spark, paths,
      Map.empty[String, String], Some(fullSchema))
    ParquetScan(spark, SessionBridge.newHadoopConf(spark, Map.empty),
      index, fullSchema, required, StructType(Nil),
      pushedFilters = pushedFilters, options = options)
  }
}

/** The one-row answer to a fully-pushed manifest-stats aggregate —
  * zero data files opened; the partition carries the folded values. */
class GraftLogStatsScan(aggSchema: StructType, row: Seq[Any], nFiles: Int)
    extends Scan with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
  override def readSchema(): StructType = aggSchema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String =
    s"GraftLogStatsScan(manifest-stats fold over $nFiles files, 0 opened)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftLogStatsPartition(row))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var served = false
          override def next(): Boolean =
            if (served) false else { served = true; true }
          override def get(): InternalRow = InternalRow.fromSeq(
            p.asInstanceOf[GraftLogStatsPartition].row)
          override def close(): Unit = ()
        }
    }
}

case class GraftLogStatsPartition(row: Seq[Any])
  extends org.apache.spark.sql.connector.read.InputPartition

/** SQL-callable maintenance procedures over the commit log. Each is
  * both unbound and bound (parameters are static — binding has
  * nothing to infer) and returns its accounting as one result row.
  * Side-effecting, so `isDeterministic = false` (the planner must
  * not cache or re-run a CALL). */
private[sources] object GraftLogProcedures {
  import java.util.Collections
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

  /** Procedure accounting rows are driver-computed — Spark's CALL
    * planner requires a [[org.apache.spark.sql.connector.read.LocalScan]]
    * (no task launch) for procedure output, and one row of counters
    * is exactly that. */
  private def oneRow(schemaDdl: String, row: Seq[Any]): java.util.Iterator[Scan] = {
    val schema = StructType.fromDDL(schemaDdl)
    Collections.singletonList(
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] =
          Array(InternalRow.fromSeq(row))
        override def description(): String = "GraftLogProcedureResult"
      }: Scan).iterator()
  }

  /** `CALL graftlog.vacuum('<path>', <retain_versions>[, <grace_ms>])`
    * — [[TableLog.vacuumRetain]]: delete data files referenced by NO
    * snapshot among the last `retain_versions` versions; files
    * reachable from a retained version are structurally kept, so
    * in-window time travel survives. Returns (files_deleted,
    * rows_reclaimed), folded from the manifests. */
  object Vacuum extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "retention-windowed vacuum: reclaim files no retained snapshot references"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("retain_versions", IntegerType)
        .comment("how many latest versions stay readable").build(),
      ProcedureParameter.in("grace_ms", LongType)
        .defaultValue(TableLog.defaultVacuumGraceMillis.toString)
        .comment("age gate protecting in-flight stages").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val r = TableLog.vacuumRetain(input.getUTF8String(0).toString,
        input.getInt(1), input.getLong(2))
      oneRow("files_deleted BIGINT, rows_reclaimed BIGINT",
        Seq(r.filesDeleted.toLong, r.rowsReclaimed))
    }
  }

  /** `CALL graftlog.compact('<path>', <num_files>)` —
    * [[TableLog.compact]]: rewrite the active set into `num_files`
    * range-partitioned files as one atomic commit (logically a
    * no-op). Returns the new (version, n_files). */
  object Compact extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "rewrite the active set into num_files range-partitioned files"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("num_files", IntegerType)
        .comment("target file count").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val v = TableLog.compact(SparkSession.active, table, input.getInt(1))
      oneRow("version BIGINT, n_files BIGINT",
        Seq(v, TableLog.state(table).active.size.toLong))
    }
  }

  /** `CALL graftlog.restore('<path>', <version>)` —
    * [[TableLog.restore]]: move the table BACK to `version`'s state
    * as one NEW forward commit (data files, schema, key and
    * partition declaration all return; history keeps growing, so
    * the restore itself is auditable and restorable). Fails fast if
    * vacuum already reclaimed a file the target version needs.
    * Returns (version, files_added, files_removed). */
  object Restore extends UnboundProcedure with BoundProcedure {
    override def name(): String = "restore"
    override def description(): String =
      "restore the table to an earlier version as one new commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("version", LongType)
        .comment("version to restore to").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, added, removed) = TableLog.restore(
        input.getUTF8String(0).toString, input.getLong(1))
      oneRow("version BIGINT, files_added BIGINT, files_removed BIGINT",
        Seq(v, added.toLong, removed.toLong))
    }
  }

  /** `CALL graftlog.clone('<src>', '<dst>')` —
    * [[TableLog.shallowClone]]: zero-copy table fork. The new table's
    * v1 references the source's current files by relative path
    * (schema/key/bloom/partitions and all file stats come along);
    * no data bytes move. Returns (version, n_files). */
  object Clone extends UnboundProcedure with BoundProcedure {
    override def name(): String = "clone"
    override def description(): String =
      "shallow-clone a table: metadata-only fork of the current snapshot"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("source", StringType)
        .comment("source table path").build(),
      ProcedureParameter.in("target", StringType)
        .comment("new table path (must not exist)").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, n) = TableLog.shallowClone(
        input.getUTF8String(0).toString, input.getUTF8String(1).toString)
      oneRow("version BIGINT, n_files BIGINT", Seq(v, n.toLong))
    }
  }

  /** `CALL graftlog.deep_clone('<src>', '<dst>')` —
    * [[TableLog.deepClone]]: an INDEPENDENT fork — every active file
    * and sidecar hard-links into the clone's own data dir (zero bytes
    * copied, O(files) metadata), so unlike `clone` the two tables'
    * vacuums cannot break each other. Returns (version, n_files). */
  object DeepClone extends UnboundProcedure with BoundProcedure {
    override def name(): String = "deep_clone"
    override def description(): String =
      "deep-clone a table: hard-linked independent fork of the snapshot"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("source", StringType)
        .comment("source table path").build(),
      ProcedureParameter.in("target", StringType)
        .comment("new table path (must not exist)").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, n) = TableLog.deepClone(
        input.getUTF8String(0).toString, input.getUTF8String(1).toString)
      oneRow("version BIGINT, n_files BIGINT", Seq(v, n.toLong))
    }
  }

  /** `CALL graftlog.zorder('<path>', '<colX>', '<colY>', <num_files>)`
    * — [[TableLog.compactZorder]]: re-lay the table's files along the
    * interleaved (colX, colY) curve so BOTH columns get tight per-file
    * ranges for manifest skipping (q351's layout verb, SQL-callable
    * like Delta's OPTIMIZE ZORDER BY). Logically a no-op; one rewrite
    * commit. Returns (version, n_files). */
  object ZOrder extends UnboundProcedure with BoundProcedure {
    override def name(): String = "zorder"
    override def description(): String =
      "rewrite the table z-ordered on two columns for two-axis file skipping"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("col_x", StringType)
        .comment("first z-order column").build(),
      ProcedureParameter.in("col_y", StringType)
        .comment("second z-order column").build(),
      ProcedureParameter.in("num_files", IntegerType)
        .comment("target file count").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val v = TableLog.compactZorder(SparkSession.active,
        input.getUTF8String(0).toString, input.getUTF8String(1).toString,
        input.getUTF8String(2).toString, input.getInt(3))
      oneRow("version BIGINT, n_files BIGINT",
        Seq(v, input.getInt(3).toLong))
    }
  }

  /** `CALL graftlog.delete_dv('<path>', '<condition sql>')` —
    * [[TableLog.deleteWhereDv]]: merge-on-read delete via deletion
    * vectors. Matching rows' positions land in per-file bitset
    * sidecars; no data file rewrites. Returns
    * (version, rows_deleted). */
  object DeleteDv extends UnboundProcedure with BoundProcedure {
    override def name(): String = "delete_dv"
    override def description(): String =
      "merge-on-read delete: record dead row positions, rewrite nothing"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("condition", StringType)
        .comment("SQL predicate selecting rows to delete").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val before = TableLog.liveRowsOf(table)
      val v = TableLog.deleteWhereDv(SparkSession.active, table,
        org.apache.spark.sql.functions.expr(
          input.getUTF8String(1).toString))
      oneRow("version BIGINT, rows_deleted BIGINT",
        Seq(v, before - TableLog.liveRowsOf(table)))
    }
  }

  /** `CALL graftlog.compact_small('<path>', <small_bytes>, <target>)`
    * — [[TableLog.compactSmall]]: fold ONLY the active files below
    * `small_bytes` into `target` files; the compacted bulk rests
    * untouched (the OPTIMIZE-binpack shape — priced at the debt,
    * never the table). Returns the new (version, n_files). */
  object CompactSmall extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact_small"
    override def description(): String =
      "fold only sub-threshold files; big files are never rewritten"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("small_bytes", LongType)
        .comment("files below this size fold").build(),
      ProcedureParameter.in("target_files", IntegerType)
        .comment("target file count for the folded debt").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val v = TableLog.compactSmall(SparkSession.active, table,
        input.getLong(1), input.getInt(2))
      oneRow("version BIGINT, n_files BIGINT",
        Seq(v, TableLog.state(table).active.size.toLong))
    }
  }

  /** Compile a `compact_where` condition to partition predicates
    * under a FULL-translation contract: every conjunct must translate
    * to a pushable filter AND be consumed by the partition layer,
    * otherwise the call refuses loudly — a term the tuple stats
    * cannot decide would silently widen the rewrite past the promised
    * scope, and the whole point of the verb is that unselected
    * partitions stay byte-identical. The condition analyzes against
    * the table's LOGICAL schema (an empty frame — no file is read to
    * plan a maintenance call) and selection reuses the read path's
    * own [[GraftLogScanBuilder.partitionKeeps]], so the maintenance
    * verb and the scan can never disagree on what a partition
    * predicate means. */
  private def compactWherePreds(spark: SparkSession,
      table: String, snap: TableLog.Snapshot, condSql: String)
      : Seq[GraftLogScanBuilder.PartPred] = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(snap.schemaDdl))
    val analyzed = empty
      .where(org.apache.spark.sql.functions.expr(condSql))
      .queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"compact_where on $table: cannot analyze condition '$condSql'"))
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    val terms = conjuncts(cond)
    val filters = terms.map { t =>
      org.apache.spark.sql.graftbridge.FilterBridge.translate(t)
        .getOrElse(throw new IllegalArgumentException(
          s"compact_where on $table: condition term '${t.sql}' is not " +
            "a pushable predicate — the scope must be decidable from " +
            "the manifest's partition-tuple stats alone"))
    }
    val (preds, consumed) =
      GraftLogScanBuilder.partitionPreds(snap.partCols, filters)
    val stray = filters.filterNot(consumed.toSet)
    if (stray.nonEmpty) throw new IllegalArgumentException(
      s"compact_where on $table: condition term(s) " +
        s"${stray.mkString(", ")} do not constrain a partition column " +
        s"(partitioning: ${snap.partCols.mkString(", ")}) through the " +
        "tuple stats — a non-partition term would silently widen the " +
        "rewrite past the promised scope")
    require(preds.nonEmpty,
      s"compact_where on $table: condition '$condSql' yields no " +
        "partition predicate")
    preds
  }

  /** `CALL graftlog.compact_where('<path>', '<condition sql>'
    * [, <target_files>])` — PARTITION-SCOPED compaction, Delta's
    * `OPTIMIZE … WHERE` shape: rewrite ONLY the active files whose
    * partition-tuple stats say they can hold a matching row, into
    * `target_files` range-partitioned files; every other file stays
    * byte-identical. The act-on-the-advice verb for q514's DV-debt
    * advisor: when it names a debt-heavy partition DAY, this folds
    * THAT day's deletion vectors back into clean files
    * ([[TableLog.compactScoped]] materializes DVs in the rewrite) at
    * a cost proportional to the day — the full-table
    * `CALL graftlog.compact` is the one operation a 100-TB `days(ts)`
    * table cannot afford for one partition's debt. The condition must
    * be FULLY partition-decidable (see [[compactWherePreds]]);
    * stat-less or old-spec-era files conservatively select and
    * migrate. Logically a no-op; `#partitions`, stats and time travel
    * all hold through it. Returns (version, files_rewritten,
    * n_files); a no-match scope commits nothing.
    *
    * `zorder => 'a,b[,c[,d]]'` (2–4 columns) re-lays the rewritten
    * slice along the multi-column Z-curve (Delta's
    * `OPTIMIZE … WHERE … ZORDER BY`): curve bounds collect over the
    * SELECTED slice only, so one day's re-layout is tight for that
    * day's value ranges — see [[TableLog.compactScoped]] for the
    * bit budget and disclosed stat trades. */
  object CompactWhere extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact_where"
    override def description(): String =
      "rewrite only the files whose partition tuples match the condition"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("condition", StringType)
        .comment("SQL predicate over partition columns selecting " +
          "the slice to rewrite").build(),
      ProcedureParameter.in("target_files", IntegerType)
        .defaultValue("1")
        .comment("target file count for the rewritten slice").build(),
      ProcedureParameter.in("zorder", StringType)
        .defaultValue("''")
        .comment("optional 'colA,colB[,colC[,colD]]' list (2-4 " +
          "columns): re-lay the rewritten slice along the " +
          "multi-column Z-curve instead of the key range").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val table = input.getUTF8String(0).toString
      val condSql = input.getUTF8String(1).toString
      val target = input.getInt(2)
      val zorderSpec = if (input.isNullAt(3)) ""
        else input.getUTF8String(3).toString.trim
      val zorder = if (zorderSpec.isEmpty) None else {
        val parts = zorderSpec.split(",").map(_.trim).filter(_.nonEmpty)
        require(parts.length >= 2 && parts.length <= 4,
          s"compact_where on $table: zorder must name two to four " +
            s"columns as 'colA,colB[,colC[,colD]]', got '$zorderSpec'")
        Some(parts.toSeq)
      }
      val snap = TableLog.state(table)
      require(snap.partCols.nonEmpty,
        s"compact_where on $table: the table is not partitioned — " +
          "use CALL graftlog.compact for a full rewrite")
      val preds = compactWherePreds(spark, table, snap, condSql)
      val (v, n) = TableLog.compactScoped(spark, table, target,
        s => s.active.filter(a =>
          GraftLogScanBuilder.partitionKeeps(a, preds, s.specId)),
        zorder = zorder)
      oneRow("version BIGINT, files_rewritten BIGINT, n_files BIGINT",
        Seq(v, n.toLong, TableLog.state(table).active.size.toLong))
    }
  }

  /** `CALL graftlog.branch('<path>', '<name>')` — [[TableLog.branch]]:
    * zero-copy staging fork under `<path>/_branches/<name>` (the
    * write side of write-audit-publish). Returns (branch_path,
    * n_files). */
  object Branch extends UnboundProcedure with BoundProcedure {
    override def name(): String = "branch"
    override def description(): String =
      "fork the current snapshot to a zero-copy staging branch"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dst = TableLog.branch(input.getUTF8String(0).toString,
        input.getUTF8String(1).toString)
      oneRow("branch_path STRING, n_files BIGINT",
        Seq(org.apache.spark.unsafe.types.UTF8String.fromString(dst),
          TableLog.state(dst).active.size.toLong))
    }
  }

  /** `CALL graftlog.publish('<path>', '<name>')` —
    * [[TableLog.publish]]: audit-gated atomic fast-forward of main to
    * the branch head (fails loudly when main moved or a CHECK gate is
    * violated; branch-born files hard-link into main's data dir).
    * Returns (version, files_added, files_removed). */
  object Publish extends UnboundProcedure with BoundProcedure {
    override def name(): String = "publish"
    override def description(): String =
      "audit-gated atomic fast-forward publish of a staging branch"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, added, removed) = TableLog.publish(SparkSession.active,
        input.getUTF8String(0).toString, input.getUTF8String(1).toString)
      oneRow("version BIGINT, files_added BIGINT, files_removed BIGINT",
        Seq(v, added.toLong, removed.toLong))
    }
  }

  /** `CALL graftlog.set_partition_spec('<path>', '<spec>')` —
    * [[TableLog.setPartitionSpec]]: evolve the table's partitioning
    * for FUTURE writes as one metadata commit (Iceberg's
    * spec-evolution shape). `spec` is a comma list of `col`,
    * `days:col`, `months:col`, `years:col`, `hours:col`; '' makes
    * future writes unpartitioned. Existing files keep their own
    * spec's stats and prune conservatively until a rewrite migrates
    * them. Returns (version, spec_id). */
  object SetPartitionSpec extends UnboundProcedure with BoundProcedure {
    override def name(): String = "set_partition_spec"
    override def description(): String =
      "evolve the partition spec for future writes (metadata-only)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("spec", StringType)
        .comment("comma list of partition transforms; '' = none").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val raw = input.getUTF8String(1).toString.trim
      val specs =
        if (raw.isEmpty) Nil
        else raw.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val v = TableLog.setPartitionSpec(table, specs)
      oneRow("version BIGINT, spec_id BIGINT",
        Seq(v, TableLog.state(table).specId.toLong))
    }
  }

  /** `CALL graftlog.tag('<path>', '<name>'[, <version>])` —
    * [[TableLog.tag]]: pin a committed version as an immutable named
    * ref; `VERSION AS OF '<name>'` reads it and every vacuum variant
    * keeps its files. version -1 = current head. Returns
    * (version_pinned, table_version). */
  object Tag extends UnboundProcedure with BoundProcedure {
    override def name(): String = "tag"
    override def description(): String =
      "pin a committed version as an immutable, vacuum-protected named ref"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("name", StringType)
        .comment("tag name (not all digits)").build(),
      ProcedureParameter.in("version", LongType).defaultValue("-1")
        .comment("version to pin; -1 = current head").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      TableLog.tag(table, name, input.getLong(2))
      oneRow("version_pinned BIGINT, table_version BIGINT",
        Seq(TableLog.listTags(table).find(_._1 == name).get._2,
          TableLog.latestVersion(table)))
    }
  }

  /** `CALL graftlog.drop_tag('<path>', '<name>')` —
    * [[TableLog.dropTag]]: release the ref; its pinned files return
    * to the ordinary vacuum rules. Returns (table_version). */
  object DropTag extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_tag"
    override def description(): String =
      "release a named ref; its files return to ordinary vacuum rules"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("name", StringType)
        .comment("tag name").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val v = TableLog.dropTag(input.getUTF8String(0).toString,
        input.getUTF8String(1).toString)
      oneRow("table_version BIGINT", Seq(v))
    }
  }

  /** `CALL graftlog.drop_branch('<path>', '<name>'[, force])` —
    * [[TableLog.dropBranch]]: close the WAP loop from SQL — reclaim
    * the branch directory (manifest + branch-born files). Refuses on
    * unpublished work unless `force`; published state is safe by the
    * adoption-link design. Returns (files_reclaimed). */
  object DropBranch extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "reclaim a staging branch; refuses unpublished work unless force"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("name", StringType)
        .comment("branch name").build(),
      ProcedureParameter.in("force",
          org.apache.spark.sql.types.BooleanType)
        .defaultValue("false")
        .comment("drop even with unpublished work").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val n = TableLog.dropBranch(input.getUTF8String(0).toString,
        input.getUTF8String(1).toString,
        force = !input.isNullAt(2) && input.getBoolean(2))
      oneRow("files_reclaimed BIGINT", Seq(n.toLong))
    }
  }

  /** `CALL graftlog.migrate_stats('<path>')` —
    * [[TableLog.migrateStats]]: re-render partition-tuple stats for
    * files predating the current partition spec in ONE read-only scan
    * of only those files, committed as metadata (same relPaths, same
    * bytes). Lifts the merge-on-read DV refusal on pre-evolution
    * files without `compact`'s full-data rewrite. Returns
    * (version, files_migrated). */
  object MigrateStats extends UnboundProcedure with BoundProcedure {
    override def name(): String = "migrate_stats"
    override def description(): String =
      "re-render pre-evolution files' partition stats under the " +
        "current spec — metadata-only, no data movement"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, n) = TableLog.migrateStats(SparkSession.active,
        input.getUTF8String(0).toString)
      oneRow("version BIGINT, files_migrated BIGINT", Seq(v, n.toLong))
    }
  }

  /** `CALL graftlog.copy_into('<path>', '<src_dir>', '<format>'
    * [, <target_files>, <pattern>])` — [[TableLog.copyInto]]:
    * idempotent bulk file load, Delta's `COPY INTO` shape. Every
    * source file not already in the table's txn ledger loads in ONE
    * atomic commit that also records the per-file ledger entries
    * (load-and-remember is one transaction); a re-run skips them
    * all from the replayed manifest, no data I/O. `pattern` is an
    * optional file-NAME regex (`data_.*\\.json`). Returns (version,
    * files_loaded, files_skipped, rows_loaded). */
  object CopyInto extends UnboundProcedure with BoundProcedure {
    override def name(): String = "copy_into"
    override def description(): String =
      "idempotently load source files not already in the txn ledger"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table path").build(),
      ProcedureParameter.in("source_dir", StringType)
        .comment("directory holding the files to load").build(),
      ProcedureParameter.in("format", StringType)
        .defaultValue("'parquet'")
        .comment("source file format: parquet, json, csv, orc, avro")
        .build(),
      ProcedureParameter.in("target_files", IntegerType)
        .defaultValue("1")
        .comment("target table file count for the loaded batch")
        .build(),
      ProcedureParameter.in("pattern", StringType)
        .defaultValue("''")
        .comment("optional regex on the source file NAME").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, loaded, skipped, rows) = TableLog.copyInto(
        SparkSession.active,
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString,
        if (input.isNullAt(2)) "parquet"
        else input.getUTF8String(2).toString,
        numFiles = if (input.isNullAt(3)) 1 else input.getInt(3),
        pattern = if (input.isNullAt(4)) ""
        else input.getUTF8String(4).toString)
      oneRow("version BIGINT, files_loaded BIGINT, " +
        "files_skipped BIGINT, rows_loaded BIGINT",
        Seq(v, loaded.toLong, skipped.toLong, rows))
    }
  }

  /** `CALL graftlog.adopt('<dir>', '<key_col>')` —
    * [[TableLog.adopt]]: zero-copy in-place conversion of a plain
    * parquet directory into a v1 table (Delta's `CONVERT TO DELTA`
    * shape). One stats scan, hard-linked references, originals
    * untouched. Returns (version, files_adopted, rows). */
  object Adopt extends UnboundProcedure with BoundProcedure {
    override def name(): String = "adopt"
    override def description(): String =
      "zero-copy convert a plain parquet directory into a table"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("directory of top-level .parquet files; becomes " +
          "the table path").build(),
      ProcedureParameter.in("key_col", StringType)
        .comment("key column for range stats and pruning").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, n, rows) = TableLog.adopt(SparkSession.active,
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString)
      oneRow("version BIGINT, files_adopted BIGINT, rows BIGINT",
        Seq(v, n.toLong, rows))
    }
  }

  val all: Seq[UnboundProcedure] =
    Seq(Vacuum, Compact, CompactSmall, CompactWhere, Restore, Clone,
      DeepClone, ZOrder, DeleteDv, MigrateStats, CopyInto, Adopt,
      Branch, Publish, DropBranch, SetPartitionSpec, Tag, DropTag)
}
