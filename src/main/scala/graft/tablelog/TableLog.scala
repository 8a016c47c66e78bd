package graft.tablelog

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Minimal ACID commit-log table format over plain Parquet — the one
  * warehouse capability a 100-TB user hits daily that bare
  * directories lack (the reference appends rows to a managed
  * warehouse table, reference `src/load/main.py:40`, and gets
  * atomicity from the service; a file-based engine must build it).
  * Public-knowledge design after Delta Lake (Armbrust et al., VLDB
  * 2020) and Iceberg: an append-only log of commit manifests beside
  * immutable data files.
  *
  * Layout:
  * {{{
  *   <table>/data/<stage>/<part>.parquet   immutable data files
  *   <table>/_log/v%016d.commit            one manifest per version
  *   <table>/_log/v%016d.checkpoint        full active set, every K commits
  * }}}
  *
  * A manifest is a line-based record (no JSON dependency, trivially
  * greppable): `op`, `schema <ddl>`, `key <statsCol>`, then one
  * `add <rows> <minKey> <maxKey> <relPath>` per new file and one
  * `remove <relPath>` per logically deleted file. A snapshot at
  * version V is the replay of manifests ≤ V: adds minus removes.
  * Data files are NEVER mutated — delete/merge/compact are
  * copy-on-write (new files + removes), so readers at older versions
  * keep an immutable view (time travel) and a torn writer leaves
  * only unreferenced garbage, never a corrupt table.
  *
  * **Atomicity**: the commit point is `Files.createLink(target,
  * tmp)` — hard-link creation fails atomically if the version is
  * taken. POSIX `rename` silently REPLACES an existing target (even
  * with ATOMIC_MOVE), so rename-if-absent is not expressible with a
  * move; link-then-unlink-tmp is the standard single-filesystem
  * primitive. Losers of the race reload the log and either rebase
  * (their removes are still active → retry at the next version) or
  * abort with a conflict (some file they meant to rewrite was
  * already removed — the Delta optimistic-concurrency rule).
  *
  * **Scale posture**: manifests carry file-grain metadata only
  * (~100 B/file — a 100-TB table at 1 GB/file is ~10⁵ files, a few
  * MB of log); every `checkpointEvery` commits a checkpoint holds
  * the full active set so replay cost is O(checkpoint + recent
  * commits), not O(history). Per-file `[minKey, maxKey]` stats on
  * the declared key column let readers skip files before Spark ever
  * plans the scan ([[TableLog.prunedFiles]]). Commit stats are
  * gathered by the tasks that write the new files, as the rows
  * stream past ([[FileStats]]), so stats cost no extra read and is
  * proportional to the commit, not the table.
  */
object TableLog {

  /** One distinct partition tuple present in a data file, with its
    * EXACT row count — file-grain partition statistics. `values` are
    * the stringified partition-column values positionally matching
    * [[Snapshot.partCols]]; a null value is the [[NullPartValue]]
    * sentinel. Files need not be partition-pure (hash/range staging
    * may co-locate a few tuples): pruning keeps a file iff ANY tuple
    * satisfies the partition predicate, and the `#partitions`
    * metadata table folds the per-tuple counts exactly — both from
    * the manifest alone, zero data files opened. */
  final case class PartStat(values: Seq[String], rows: Long)

  /** In-memory marker for a NULL partition value inside
    * [[PartStat.values]] — never a legal manifest token (manifests
    * encode it as `~`, which URL-encoding can never emit). */
  val NullPartValue = "\u0000"

  /** Upper bound on distinct partition tuples recorded per file.
    * Partitioning is a pruning device for LOW-cardinality columns; a
    * file blowing this cap means the column does not stratify the
    * data at file grain and the write fails with guidance rather
    * than silently recording stats too weak to prune with. */
  val maxPartTuplesPerFile = 64

  /** Per-file min/max of ONE non-key column — the generalized
    * data-skipping layer (Delta/Iceberg keep the same stats): a
    * predicate on ANY stats-carrying column prunes files from the
    * manifest alone, not just the key. `typ` is the comparison
    * domain ('l' integral, 'd' double, 's' string); `min`/`max` are
    * rendered values compared in that domain — strings in BINARY
    * UTF-8 order (Spark's own string ordering), truncated to
    * [[colStatMaxLen]] chars with the upper bound rounded UP (so a
    * truncated bound is still a bound; an un-roundable max renders
    * as the unbounded sentinel). Nulls are not counted: a file whose
    * column is all null carries no stat and survives every prune —
    * and since no comparison predicate matches null rows, skipping
    * on min/max alone stays exact. */
  final case class ColStat(col: String, typ: Char, min: String, max: String)

  /** Stored-string cap for [[ColStat]] bounds — long text columns
    * must not bloat the manifest. */
  val colStatMaxLen = 32

  /** lgK of the per-file NDV sketches: 2^7 = 128 registers ≈ ±9%
    * relative standard error, tens of manifest bytes per (file,
    * column) — the CBO wants ORDER-OF-MAGNITUDE distinct counts for
    * build-side/reorder choices, not exactness, and this size keeps
    * a 1M-file manifest's sketch channel in the tens of MB (riding
    * the chunked checkpoint like every other per-file stat). */
  val ndvLgK = 7

  /** Snapshot-level approximate NDV of physical column `col` over
    * `files`: the register-max UNION of the per-file sketches —
    * file-grain metadata only, no data I/O, O(files · registers)
    * driver work. None unless EVERY file carries the sketch (a
    * partial union would silently UNDERSTATE distinct counts and
    * mislead the CBO toward too-small join estimates — the unsound
    * direction); deletion vectors make it an over-approximation of
    * the live rows' NDV (dead rows stay counted until their file
    * rewrites), which for CBO selectivity is the conservative side.
    * The ±9% sketch error is the disclosed exactness contract —
    * callers needing exact counts aggregate the data. */
  def ndvEstimate(files: Seq[AddFile], col: String): Option[Long] =
    ndvAndNulls(files, col).map(_._1)

  /** (approximate NDV, EXACT null count) of `col` over `files` — the
    * pair Spark's join-cardinality estimator demands (its
    * `hasCountStats` gate wants both). Null counts are exact and
    * additive across files; the manifest token is `<b64sketch>:<nulls>`. */
  def ndvAndNulls(files: Seq[AddFile], col: String): Option[(Long, Long)] = {
    if (files.isEmpty) return None
    val vs = files.map(_.ndvs.collectFirst { case (c, v) if c == col => v })
    if (vs.exists(_.isEmpty)) return None
    val u = new org.apache.datasketches.hll.Union(ndvLgK)
    var nulls = 0L
    vs.flatten.foreach { v =>
      val cut = v.lastIndexOf(':')
      val (b64, n) =
        if (cut < 0) (v, 0L) else (v.substring(0, cut), v.substring(cut + 1).toLong)
      nulls += n
      u.update(org.apache.datasketches.hll.HllSketch
        .heapify(java.util.Base64.getDecoder.decode(b64)))
    }
    Some((math.round(u.getEstimate), nulls))
  }

  /** Sentinel for "no upper bound" after an un-roundable truncation.
    * `~` never appears in an encoded value (URL-encoding's alphabet
    * excludes it), mirroring the [[NullPartValue]] device. */
  val ColStatUnbounded = ""

  /** One immutable data file in the active set. `min`/`max` are the
    * key-column bounds used for file skipping; `rows` feeds history
    * and vacuum accounting; `parts` the per-tuple partition stats
    * (empty on unpartitioned tables); `cols` the non-key column
    * min/max stats (empty on manifests written before they existed —
    * such files simply never prune on non-key predicates); `dv` the
    * DELETION VECTOR (merge-on-read delete): `(token, deadRows)`
    * where `<relPath>.<token>` is a bitset sidecar of dead row
    * POSITIONS — the file's bytes never rewrite, readers subtract the
    * dead rows, and `liveRows = rows − deadRows` is the effective
    * count. Key/column min/max stay valid as OVER-approximations
    * (pruning keeps its soundness; exact-aggregate answering refuses
    * DV'd files). */
  /** `specId` names the PARTITION SPEC the file's tuple stats were
    * recorded under — an index into [[Snapshot.partSpecs]] (0 on
    * never-evolved tables, the zero-cost common case). Partition
    * pruning interprets a file's tuples ONLY under its own spec;
    * files from older spec eras are kept conservatively until a
    * rewrite migrates them (Iceberg's spec-evolution contract). */
  /** `ndvs` carries the file's per-column DISTINCT-COUNT SKETCHES —
    * compact HLL_4 registers (datasketches, lgK = [[ndvLgK]]:
    * 2^[[ndvLgK]] 4-bit registers ≈ tens of bytes serialized, base64
    * in the manifest) for the key and the integral/string stat
    * columns. Sketches UNION across files by register max, so a
    * snapshot-level NDV folds from file-grain metadata with no data
    * I/O — the channel the CBO's join-cardinality estimate reads
    * (Iceberg keeps the same per-file theta/HLL sketches). Empty on
    * files written before the channel existed; the fold is
    * all-or-nothing per column (a partial union would silently
    * understate NDV). */
  /** `dvExact`: true when the file's key/column min-max stats were
    * RE-DERIVED over its DV survivors at DV-commit time — the bounds
    * are then exact for the live rows, so stats-only aggregates
    * (statsOf, the SQL min/max pushdown) keep answering on a
    * merge-on-read-heavy table. False on legacy DV entries, whose
    * bounds are over-approximations (pruning-sound, answer-refusing). */
  final case class AddFile(relPath: String, rows: Long, min: Long, max: Long,
      parts: Seq[PartStat] = Nil, cols: Seq[ColStat] = Nil,
      dv: Option[(String, Long)] = None, specId: Int = 0,
      ndvs: Seq[(String, String)] = Nil, dvExact: Boolean = false) {
    def liveRows: Long = rows - dv.fold(0L)(_._2)
    /** Identity for set-diff purposes: the same file under a new
      * deletion vector IS a different logical content. */
    def contentId: (String, Option[String]) = (relPath, dv.map(_._1))
  }

  private[graft] def dvSidecar(table: String, a: AddFile): Path =
    Paths.get(table, a.relPath + "." + a.dv.get._1)

  /** One replayed commit: the version, its operation tag, the files
    * it added and the (previously active) files it removed. `txn` is
    * the optional idempotence marker (application id → monotonic
    * producer version, the Delta txnAppId/txnVersion device) that
    * makes redelivered micro-batches exactly-once. `tsMillis` is the
    * commit wall-clock stamp backing TIMESTAMP AS OF resolution
    * (0 for manifests written before the tag existed — those resolve
    * as "before any timestamp", never silently as current). */
  final case class Commit(version: Long, op: String, adds: Seq[AddFile],
      removes: Seq[String], schemaDdl: String, keyCol: String,
      txns: Seq[(String, Long)] = Nil,
      bloom: Option[(String, Int)] = None,
      tsMillis: Long = 0L,
      partCols: Seq[String] = Nil,
      props: Option[Map[String, String]] = None,
      colMap: Option[(Map[String, String], Set[String])] = None,
      defaults: Option[Map[String, (String, Long)]] = None,
      pspecs: Option[Seq[Seq[String]]] = None)

  /** A replayed table state: active files in commit order plus the
    * metadata needed to read them. `txns` carries the highest
    * committed producer version per application id; `bloom` the
    * table's declared bloom-indexed column and filter width in bits
    * (sidecar files carry the bitsets — see [[prunedFilesBloom]]).
    *
    * `colMap` is the COLUMN-MAPPING indirection (Delta's
    * column-mapping lineage): logical schema name → PHYSICAL name as
    * written in the data files. RENAME COLUMN is then one metadata
    * commit (old files keep their physical names; reads project
    * through the map) and DROP COLUMN likewise (the physical column
    * stays in old files, unread). `droppedPhys` tombstones physical
    * names still present in active files so a later ADD COLUMN cannot
    * silently resurrect their bytes; a full-rewrite compaction
    * materializes logical names physically and clears both. Empty on
    * every never-renamed table — the zero-cost common case.
    *
    * `active` is LAZY: on a chunk-checkpointed table the metadata
    * (schema, key, props — everything `loadTable` needs) folds from
    * the checkpoint HEADER plus the commit tail without parsing one
    * file entry; the full file listing parses on first touch, and
    * [[activePruned]] parses ONLY the manifest chunks whose stats
    * envelope survives the caller's predicate — planning cost
    * O(matching chunks), never O(active files) on the driver. */
  final class Snapshot private[tablelog] (
      val version: Long,
      activeThunk: () => Seq[AddFile],
      val schemaDdl: String, val keyCol: String,
      val txns: Map[String, Long],
      val bloom: Option[(String, Int)],
      val partCols: Seq[String],
      val props: Map[String, String],
      val colMap: Map[String, String],
      val droppedPhys: Set[String],
      val defaults: Map[String, (String, Long)],
      /** Partition-spec HISTORY (index = [[AddFile.specId]]); the last
        * entry is the CURRENT spec and always equals [[partCols]].
        * Singleton on never-evolved tables. */
      val partSpecs: Seq[Seq[String]],
      private[graft] val chunkIndex: Option[ChunkIndex],
      /** False when the partition spec evolved AFTER the snapshot's
        * checkpoint was written: the chunk partition-value envelopes
        * were folded under the old spec and must not prune under the
        * new one (key envelopes stay valid — they are spec-free). */
      private[graft] val chunkEnvOk: Boolean = true)
      extends Serializable {
    lazy val active: Seq[AddFile] = activeThunk()
    /** The CURRENT spec's id — what fresh writes stamp. */
    def specId: Int = partSpecs.length - 1
    /** The PHYSICAL name of a logical column — identity when unmapped. */
    def physName(logical: String): String =
      colMap.getOrElse(logical, logical)
    /** The declared schema with PHYSICAL field names (the shape the
      * data files actually carry). Columns added with a DEFAULT carry
      * Spark's `EXISTS_DEFAULT` field metadata: the parquet readers
      * (vectorized AND row-based — spec-pinned on both) fill the
      * default for files that physically LACK the column, which is
      * exactly the set written before the declaration — Iceberg v3's
      * initial-default semantics with zero per-file bookkeeping, on
      * every scan path (batch, DV merge-on-read, streaming) since all
      * of them read through this schema. Files written after the
      * declaration carry real values (explicit NULLs included) and
      * read untouched. */
    def physSchema: StructType = {
      val s = StructType.fromDDL(schemaDdl)
      StructType(s.fields.map { f =>
        val named =
          if (colMap.isEmpty) f else f.copy(name = physName(f.name))
        defaults.get(f.name) match {
          case Some((sql, _)) => named.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(named.metadata)
              .putString("EXISTS_DEFAULT", sql).build())
          case None => named
        }
      })
    }
    /** The active set pruned at CHUNK grain: only checkpoint chunks
      * passing `keep` are parsed (commit-tail files always included —
      * the tail is not chunked). `keep` must be conservative against
      * the chunk's stats envelope; falls back to the full set on an
      * unchunked table. Per-file stat layers still apply downstream —
      * this layer only bounds what the driver PARSES. */
    private[graft] def activePruned(keep: ChunkRef => Boolean): Seq[AddFile] =
      chunkIndex match {
        case Some(ix) => ix.load(keep, strict = false)
        case None     => active
      }
  }

  object Snapshot {
    def apply(version: Long, active: Seq[AddFile],
        schemaDdl: String, keyCol: String,
        txns: Map[String, Long] = Map.empty,
        bloom: Option[(String, Int)] = None,
        partCols: Seq[String] = Nil,
        props: Map[String, String] = Map.empty,
        colMap: Map[String, String] = Map.empty,
        droppedPhys: Set[String] = Set.empty,
        defaults: Map[String, (String, Long)] = Map.empty,
        partSpecs: Seq[Seq[String]] = Nil): Snapshot =
      new Snapshot(version, () => active, schemaDdl, keyCol, txns, bloom,
        partCols, props, colMap, droppedPhys, defaults,
        if (partSpecs.isEmpty) Seq(partCols) else partSpecs, None)
  }

  /** One checkpoint chunk's MANIFEST-LIST entry (Iceberg's
    * manifest-list shape): file count, live rows, the chunk-wide key
    * envelope `[minKey, maxKey]`, a per-partition-column value
    * envelope (None = unprunable: a member file lacks tuple stats,
    * holds a null value, or — for temporal transforms — renders
    * outside the lexicographically safe year range), and the set of
    * stage dirs its files live in (the checkpoint writer's dirtiness
    * test: a commit names relPaths, so a chunk whose stages none of
    * the tail's touched paths hit is provably byte-identical and is
    * re-referenced WITHOUT being parsed or rewritten). */
  final case class ChunkRef(relName: String, nFiles: Int, rows: Long,
      minKey: Long, maxKey: Long, env: Seq[Option[(String, String)]],
      stages: Set[String],
      /** Path prefix prepended to every member file's relPath at parse
        * time — how a BRANCH's checkpoint re-references its base
        * table's chunk files verbatim (entries are base-relative; the
        * branch reads them as `../../<entry>`) without rewriting one
        * byte. Empty on every chunk a table wrote for itself. */
      prefix: String = "")

  /** Lazily-parsed chunk set of one checkpoint plus the commit tail
    * after it. Parsed chunks cache (a scan builder probes once, the
    * full `active` force reuses them); `chunksParsed` instruments the
    * spec's pruning pin. */
  final class ChunkIndex private[tablelog] (table: String,
      private[graft] val refs: Seq[ChunkRef], tail: Seq[Commit])
      extends Serializable {
    @transient private lazy val parsed =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[AddFile]]()
    private[graft] def chunksTotal: Int = refs.size
    private[graft] def chunksParsed: Int = parsed.size
    private def filesOf(r: ChunkRef): Seq[AddFile] =
      parsed.computeIfAbsent(r.relName, _ => chunkAdds(table, r))
    private[tablelog] def load(keep: ChunkRef => Boolean,
        strict: Boolean): Seq[AddFile] = {
      val act = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
      refs.withFilter(keep).foreach(r =>
        filesOf(r).foreach(a => act(a.relPath) = a))
      tail.foreach { c =>
        c.removes.foreach { p =>
          // under pruning a remove may target a file in a skipped
          // chunk — fine, it was never included; on a FULL load a
          // miss is log corruption and throws like replay does
          if (act.remove(p).isEmpty && strict)
            throw new IllegalStateException(
              s"corrupt log: v${c.version} removes inactive file $p")
        }
        c.adds.foreach(a => act(a.relPath) = a)
      }
      act.values.toSeq
    }
  }

  /** Checkpoint cadence — small so the short demo histories exercise
    * the checkpoint replay path; a production table would use
    * O(10–100). */
  val checkpointEvery = 4

  /** The manifest PROTOCOL version this engine reads and writes —
    * Delta's minReaderVersion shape. Every manifest carries
    * `protocol <n>`; a reader refuses a HIGHER version with a clear
    * upgrade message instead of mis-parsing state it does not
    * understand (unknown TAGS also refuse, but as corruption — the
    * protocol line turns "future feature" into an actionable error).
    * Bump when a change would make old readers return WRONG answers
    * rather than merely missing an optimization: additive channels
    * like column stats or NDV sketches did not bump it (old readers
    * ignore nothing — they throw on unknown tags — but a table
    * written entirely by new code is only read by new code here;
    * cross-version fleets gate on THIS number). */
  val protocolVersion = 1

  private val logDirName = "_log"

  private def logDir(table: String): Path = Paths.get(table, logDirName)
  private def commitPath(table: String, v: Long): Path =
    logDir(table).resolve(f"v$v%016d.commit")
  private[tablelog] def checkpointPath(table: String, v: Long): Path =
    logDir(table).resolve(f"v$v%016d.checkpoint")

  // ------------------------------------------------------------ manifest io

  /** Manifest encoding of one partition value: URL-encoded (so the
    * token never contains space, `/`, `:` or newline), with the null
    * sentinel as `~` — a character URL-encoding can never emit, so
    * the two alphabets are disjoint by construction. */
  private def encPart(v: String): String =
    if (v == NullPartValue) "~"
    else java.net.URLEncoder.encode(v, UTF_8)

  private def decPart(s: String): String =
    if (s == "~") NullPartValue
    else java.net.URLDecoder.decode(s, UTF_8)

  private def render(op: String, adds: Seq[AddFile], removes: Seq[String],
      schemaDdl: String, keyCol: String,
      txns: Seq[(String, Long)] = Nil,
      bloom: Option[(String, Int)] = None,
      tsMillis: Long = 0L,
      partCols: Seq[String] = Nil,
      props: Option[Map[String, String]] = None,
      colMap: Option[(Map[String, String], Set[String])] = None,
      defaults: Option[Map[String, (String, Long)]] = None,
      pspecs: Option[Seq[Seq[String]]] = None): String = {
    val sb = new StringBuilder
    sb ++= s"op $op\n"
    sb ++= s"protocol $protocolVersion\n"
    if (tsMillis > 0L) sb ++= s"ts $tsMillis\n"
    sb ++= s"key $keyCol\n"
    sb ++= s"schema $schemaDdl\n"
    if (partCols.nonEmpty) {
      partCols.foreach(c => require(
        !c.contains(' ') && !c.contains('\n') && !c.contains(','),
        s"partition column name must be token-shaped: '$c'"))
      sb ++= s"partcols ${partCols.mkString(",")}\n"
    }
    bloom.foreach { case (c, m) =>
      require(!c.contains(' ') && !c.contains('\n'),
        s"bloom column name must be token-shaped: '$c'")
      sb ++= s"bloom $c $m\n"
    }
    props.foreach { m =>
      // one line, full-map REPLACEMENT semantics (n = 0 clears all)
      val ts = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${encCol(k)}:${encCol(v)}" }
      sb ++= s"props ${ts.size} ${ts.mkString(" ")}\n"
    }
    pspecs.foreach { sp =>
      // full-history replacement; each spec comma-joined, the empty
      // (unpartitioned) spec as `~`; the LAST entry is current
      val ts = sp.map(cols =>
        if (cols.isEmpty) "~" else cols.mkString(","))
      sb ++= s"pspecs ${ts.size} ${ts.mkString(" ")}\n"
    }
    defaults.foreach { m =>
      // full-map replacement like props: `col:sql:sinceVersion`
      // triples, both string halves URL-encoded
      val ts = m.toSeq.sortBy(_._1).map { case (c, (sql, since)) =>
        s"${encCol(c)}:${encCol(sql)}:$since" }
      sb ++= s"defaults ${ts.size} ${ts.mkString(" ")}\n"
    }
    colMap.foreach { case (m, dropped) =>
      // full-map replacement like props: `l:p` mappings plus `!p`
      // tombstones (a raw `!` never leads a URL-encoded token)
      val ts = m.toSeq.sortBy(_._1)
        .map { case (l, p) => s"${encCol(l)}:${encCol(p)}" } ++
        dropped.toSeq.sorted.map(p => s"!${encCol(p)}")
      sb ++= s"colmap ${ts.size} ${ts.mkString(" ")}\n"
    }
    txns.sortBy(_._1).foreach { case (app, v) =>
      require(!app.contains(' ') && !app.contains('\n'),
        s"txn app id must be token-shaped: '$app'")
      sb ++= s"txn $app $v\n"
    }
    removes.sorted.foreach(p => sb ++= s"remove $p\n")
    adds.sortBy(_.relPath).foreach { a =>
      if (a.parts.isEmpty)
        sb ++= s"add ${a.rows} ${a.min} ${a.max} ${a.relPath}\n"
      else {
        // `addt`: add-with-tuples — rows/min/max as `add`, then the
        // tuple count and one `<v1/v2…:rows>` token per tuple; the
        // relPath stays last so both forms share a suffix parse
        val ts = a.parts
          .map(p => p.values.map(encPart).mkString("/") + ":" + p.rows)
          .sorted
        sb ++= s"addt ${a.rows} ${a.min} ${a.max} ${ts.size} " +
          s"${ts.mkString(" ")} ${a.relPath}\n"
      }
      if (a.cols.nonEmpty) {
        // `cstat`: the add's non-key column min/max — one
        // `<col:typ:min:max>` token per column (values URL-encoded,
        // unbounded max as `~`), relPath last like the add forms
        val cs = a.cols.map(c => s"${encCol(c.col)}:${c.typ}:" +
          s"${encCol(c.min)}:" +
          (if (c.max == ColStatUnbounded) "~" else encCol(c.max)))
          .sorted
        sb ++= s"cstat ${cs.size} ${cs.mkString(" ")} ${a.relPath}\n"
      }
      if (a.ndvs.nonEmpty) {
        // `hll`: the add's per-column NDV sketches — one
        // `<col:b64>` token per column (base64 never holds space or
        // colon), relPath last like the other per-add lines
        val hs = a.ndvs.map { case (c, b64) => s"${encCol(c)}:$b64" }.sorted
        sb ++= s"hll ${hs.size} ${hs.mkString(" ")} ${a.relPath}\n"
      }
      a.dv.foreach { case (token, dead) =>
        // `dvat`: the add's deletion vector — dead-row count and the
        // sidecar token (`<relPath>.<token>` holds the position
        // bitset), relPath last like the other per-add lines. An `x`
        // marker before the relPath records that the entry's min/max
        // stats were re-derived exactly over the survivors
        // (relPaths start with a directory component, never bare `x`,
        // so the forms stay unambiguous)
        sb ++= s"dvat $dead $token ${if (a.dvExact) "x " else ""}${a.relPath}\n"
      }
      // `psid`: the add's partition-spec era (0 = default, unwritten)
      if (a.specId > 0) sb ++= s"psid ${a.specId} ${a.relPath}\n"
    }
    sb.result()
  }

  private def encCol(v: String): String =
    java.net.URLEncoder.encode(v, UTF_8)
  private def decCol(s: String): String =
    java.net.URLDecoder.decode(s, UTF_8)

  // ------------------------------------------------------- column stats

  /** Cap on the number of stats-indexed columns per table (the Delta
    * `dataSkippingNumIndexedCols` convention): wide tables must not
    * turn the manifest into a statistics database — the first
    * [[colStatMaxCols]] eligible schema columns are indexed, the rest
    * simply never file-skip. */
  val colStatMaxCols = 32

  /** Comparison domain of an eligible column, None = not indexed. */
  private[graft] def colStatTyp(
      dt: org.apache.spark.sql.types.DataType): Option[Char] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType => Some('l')
      case DoubleType | FloatType => Some('d')
      case StringType             => Some('s')
      case _                      => None
    }
  }

  /** The stats-indexed (column, domain) list of a schema: eligible
    * types, minus the key (it has dedicated bounds) and partition
    * columns (they have tuple stats), first [[colStatMaxCols]] kept. */
  private[graft] def statCols(schema: StructType, keyCol: String,
      partCols: Seq[String]): Seq[(String, Char)] = {
    val partSrc = partCols.map(partSourceCol).toSet
    schema.fields.iterator
      .filter(f => f.name != keyCol && !partSrc(f.name))
      .flatMap(f => colStatTyp(f.dataType).map(t => (f.name, t)))
      .take(colStatMaxCols).toSeq
  }

  /** Lower string bound after truncation: a prefix is ≤ the original
    * in binary UTF-8 order. */
  private[graft] def truncMin(v: String): String =
    if (v.length <= colStatMaxLen) v else v.substring(0, colStatMaxLen)

  /** Upper string bound after truncation: round the prefix UP by
    * incrementing its rightmost non-surrogate char (UTF-8 preserves
    * code-point order, so the result exceeds every string sharing the
    * prefix); if no char is incrementable, the bound is unbounded. */
  private[graft] def truncMax(v: String): String =
    if (v.length <= colStatMaxLen) v
    else {
      val p = v.substring(0, colStatMaxLen)
      var i = p.length - 1
      while (i >= 0 && p.charAt(i) >= 0xD7FF.toChar) i -= 1
      if (i < 0) ColStatUnbounded
      else p.substring(0, i) + (p.charAt(i) + 1).toChar
    }

  private[graft] def toStatL(v: Any): Long = v match {
    case l: java.lang.Long    => l.longValue
    case i: java.lang.Integer => i.longValue
    case o                    => o.toString.toLong
  }
  private[graft] def toStatD(v: Any): Double = v match {
    case d: java.lang.Double => d.doubleValue
    case f: java.lang.Float  => f.doubleValue
    case o                   => o.toString.toDouble
  }

  /** Canonical double rendering for a stored bound: zeros carry the
    * SIGN that makes the bound valid under `Double.compare` (min side
    * −0.0, max side +0.0 — SQL treats the zeros as equal, the
    * comparator does not), NaN renders as itself (greatest, matching
    * Spark's ordering). */
  private[graft] def dStr(v: Double, low: Boolean): String =
    java.lang.Double.toString(
      if (v == 0.0d) { if (low) -0.0d else 0.0d } else v)

  /** Compare two values in a stat domain — the ONE ordering both
    * write paths and the prune path share (strings binary UTF-8). */
  private[graft] def cmpStat(typ: Char, a: Any, b: Any): Int = typ match {
    case 'l' => java.lang.Long.compare(toStatL(a), toStatL(b))
    case 'd' => java.lang.Double.compare(toStatD(a), toStatD(b))
    case _   => (a, b) match {
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
      case _ => org.apache.spark.unsafe.types.UTF8String
        .fromString(a.toString)
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.toString))
    }
  }

  /** Render a typed (min, max) observation into a manifest stat;
    * None when the column was all-null in the file. */
  private[graft] def mkColStat(col: String, typ: Char,
      mn: Any, mx: Any): Option[ColStat] =
    if (mn == null || mx == null) None
    else Some(typ match {
      case 'l' => ColStat(col, 'l', toStatL(mn).toString, toStatL(mx).toString)
      case 'd' => ColStat(col, 'd', dStr(toStatD(mn), low = true),
        dStr(toStatD(mx), low = false))
      case _   => ColStat(col, 's', truncMin(mn.toString),
        truncMax(mx.toString))
    })

  private def parse(version: Long, text: String): Commit = {
    var op = ""; var key = ""; var ddl = ""; var ts = 0L
    var bloom = Option.empty[(String, Int)]
    var partCols = Seq.empty[String]
    var props = Option.empty[Map[String, String]]
    var colMap = Option.empty[(Map[String, String], Set[String])]
    var defaults = Option.empty[Map[String, (String, Long)]]
    var pspecs = Option.empty[Seq[Seq[String]]]
    val txns = Seq.newBuilder[(String, Long)]
    val adds = Seq.newBuilder[AddFile]
    val removes = Seq.newBuilder[String]
    val colStats = scala.collection.mutable.HashMap
      .empty[String, Seq[ColStat]]
    val dvStats = scala.collection.mutable.HashMap
      .empty[String, (String, Long, Boolean)]
    val ndvStats = scala.collection.mutable.HashMap
      .empty[String, Seq[(String, String)]]
    val specIds = scala.collection.mutable.HashMap.empty[String, Int]
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      val sp = line.indexOf(' ')
      if (sp < 0) throw new IllegalStateException(
        s"corrupt manifest v$version: operand-less line '$line'")
      val (tag, rest) = (line.substring(0, sp), line.substring(sp + 1))
      tag match {
        case "op"     => op = rest
        case "protocol" =>
          val n = rest.toInt
          if (n > protocolVersion) throw new IllegalStateException(
            s"manifest v$version requires table protocol $n; this engine " +
              s"supports up to $protocolVersion — upgrade the engine " +
              "before reading or writing this table")
        case "ts"     => ts = rest.toLong
        case "key"    => key = rest
        case "schema" => ddl = rest
        case "remove" => removes += rest
        case "txn" =>
          val Array(app, v) = rest.split(" ", 2)
          txns += ((app, v.toLong))
        case "bloom" =>
          val Array(c, m) = rest.split(" ", 2)
          bloom = Some((c, m.toInt))
        case "add" =>
          val Array(rows, mn, mx, path) = rest.split(" ", 4)
          adds += AddFile(path, rows.toLong, mn.toLong, mx.toLong)
        case "partcols" =>
          partCols = rest.split(",").toSeq
        case "addt" =>
          val toks = rest.split(" ")
          val k = toks(3).toInt
          val parts = toks.slice(4, 4 + k).map { t =>
            val c = t.lastIndexOf(':')
            PartStat(t.substring(0, c).split("/", -1).toSeq.map(decPart),
              t.substring(c + 1).toLong)
          }.toSeq
          adds += AddFile(toks.drop(4 + k).mkString(" "),
            toks(0).toLong, toks(1).toLong, toks(2).toLong, parts)
        case "cstat" =>
          val toks = rest.split(" ")
          val k = toks(0).toInt
          val cs = toks.slice(1, 1 + k).map { t =>
            val Array(c, ty, mn, mx) = t.split(":", -1)
            ColStat(decCol(c), ty.head, decCol(mn),
              if (mx == "~") ColStatUnbounded else decCol(mx))
          }.toSeq
          colStats(toks.drop(1 + k).mkString(" ")) = cs
        case "dvat" =>
          val toks = rest.split(" ")
          val exact = toks.length > 2 && toks(2) == "x"
          val path = (if (exact) toks.drop(3) else toks.drop(2)).mkString(" ")
          dvStats(path) = (toks(1), toks(0).toLong, exact)
        case "hll" =>
          val toks = rest.split(" ")
          val k = toks(0).toInt
          val hs = toks.slice(1, 1 + k).map { t =>
            val c = t.indexOf(':')
            (decCol(t.substring(0, c)), t.substring(c + 1))
          }.toSeq
          ndvStats(toks.drop(1 + k).mkString(" ")) = hs
        case "psid" =>
          val sp2 = rest.indexOf(' ')
          specIds(rest.substring(sp2 + 1)) = rest.substring(0, sp2).toInt
        case "pspecs" =>
          val toks = rest.split(" ").filter(_.nonEmpty)
          pspecs = Some(toks.drop(1).toSeq.map(t =>
            if (t == "~") Nil else t.split(",").toSeq))
        case "defaults" =>
          val toks = rest.split(" ").filter(_.nonEmpty)
          defaults = Some(toks.drop(1).map { t =>
            val Array(c, sql, since) = t.split(":", -1)
            decCol(c) -> ((decCol(sql), since.toLong))
          }.toMap)
        case "props" =>
          val toks = rest.split(" ").filter(_.nonEmpty)
          props = Some(toks.drop(1).map { t =>
            val Array(k, v) = t.split(":", -1)
            decCol(k) -> decCol(v)
          }.toMap)
        case "colmap" =>
          val toks = rest.split(" ").filter(_.nonEmpty).drop(1)
          val (tomb, maps) = toks.partition(_.startsWith("!"))
          colMap = Some((
            maps.map { t =>
              val Array(l, p) = t.split(":", -1)
              decCol(l) -> decCol(p)
            }.toMap,
            tomb.map(t => decCol(t.substring(1))).toSet))
        case other => throw new IllegalStateException(
          s"corrupt manifest v$version: unknown tag '$other'")
      }
    }
    val withCols = adds.result().map { a0 =>
      val a1 = colStats.get(a0.relPath).fold(a0)(cs => a0.copy(cols = cs))
      val a2 = dvStats.get(a1.relPath).fold(a1)(d =>
        a1.copy(dv = Some((d._1, d._2)), dvExact = d._3))
      val a3 = ndvStats.get(a2.relPath).fold(a2)(h => a2.copy(ndvs = h))
      specIds.get(a3.relPath).fold(a3)(i => a3.copy(specId = i))
    }
    Commit(version, op, withCols, removes.result(), ddl, key,
      txns.result(), bloom, ts, partCols, props, colMap, defaults, pspecs)
  }

  /** Latest committed version, 0 if the table has no log yet. The
    * listing is the only O(log-size) driver step; object stores
    * serve it as one LIST call on the `_log/` prefix. */
  def latestVersion(table: String): Long = logListing(table)._1

  /** ONE `_log/` listing answering both resolution questions —
    * (latest commit version, checkpoint versions ascending). Snapshot
    * resolution asks "newest checkpoint ≤ v" against this instead of
    * probing `v, v−1, …` for existence: one LIST call, not O(history)
    * stat calls (at 1M commits the descending probe was a million
    * round-trips on an object store). */
  private def logListing(table: String): (Long, Seq[Long]) = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return (0L, Nil)
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      var latest = 0L
      val ckpts = Seq.newBuilder[Long]
      s.iterator().asScala.map(_.getFileName.toString).foreach { n =>
        if (n.endsWith(".commit"))
          latest = math.max(latest,
            n.stripPrefix("v").stripSuffix(".commit").toLong)
        else if (n.endsWith(".checkpoint"))
          ckpts += n.stripPrefix("v").stripSuffix(".checkpoint").toLong
      }
      (latest, ckpts.result().sorted)
    } finally s.close()
  }

  /** Commits in `(fromExclusive, upTo]` in version order. The default
    * window is the full history (used by [[history]] and the
    * from-scratch replay the checkpoint spec compares against); a
    * bounded consumer — the streaming source planning one micro-batch
    * — passes `fromExclusive` so per-batch driver work is O(window),
    * never O(table history). */
  def commits(table: String, upTo: Long = Long.MaxValue,
      fromExclusive: Long = 0L): Seq[Commit] = {
    val last = math.min(latestVersion(table), upTo)
    ((fromExclusive + 1L) to last).map { v =>
      val c = parse(v, Files.readString(commitPath(table, v)))
      // an O(chunks) branch fork carries its file set in the v1
      // CHECKPOINT, not the commit — commit-grain consumers (the
      // streaming sources' initial snapshot, history deltas, vacuum
      // accounting) must see the fork's files as v1 adds exactly
      // like the legacy re-listing fork did
      if (v == 1L && c.op == "branch" && c.adds.isEmpty &&
          Files.exists(checkpointPath(table, 1L)))
        c.copy(adds = state(table, 1L).active)
      else c
    }
  }

  /** Non-file snapshot metadata, folded over a commit tail with the
    * SAME override rules replay uses — shared by the strict replay
    * and the chunked-checkpoint path, so the two cannot drift. */
  private final case class Meta(ddl: String, key: String,
      txns: Map[String, Long], bloom: Option[(String, Int)],
      partCols: Seq[String], props: Map[String, String],
      colMap: Map[String, String], dropped: Set[String],
      defaults: Map[String, (String, Long)],
      pspecs: Seq[Seq[String]])

  private def metaOf(s: Snapshot): Meta =
    Meta(s.schemaDdl, s.keyCol, s.txns, s.bloom, s.partCols, s.props,
      s.colMap, s.droppedPhys, s.defaults, s.partSpecs)

  private def foldMeta(m0: Meta, tail: Seq[Commit]): Meta =
    tail.foldLeft(m0) { (m, c) =>
      // a pspecs line replaces the spec HISTORY and pins the current
      // spec to its last entry (the only way to EVOLVE the spec);
      // bare partcols lines are the single-spec create path, where
      // the singleton history simply tracks partCols
      val partColsNew = c.pspecs.map(_.last).getOrElse(
        if (c.partCols.nonEmpty) c.partCols else m.partCols)
      val pspecs = c.pspecs.getOrElse(
        if (m.pspecs.length <= 1) Seq(partColsNew) else m.pspecs)
      Meta(
        if (c.schemaDdl.nonEmpty) c.schemaDdl else m.ddl,
        if (c.keyCol.nonEmpty) c.keyCol else m.key,
        c.txns.foldLeft(m.txns) { case (t, (app, tv)) =>
          t + (app -> math.max(tv, t.getOrElse(app, Long.MinValue))) },
        if (c.bloom.nonEmpty) c.bloom else m.bloom,
        partColsNew,
        c.props.getOrElse(m.props),
        c.colMap.map(_._1).getOrElse(m.colMap),
        c.colMap.map(_._2).getOrElse(m.dropped),
        c.defaults.getOrElse(m.defaults),
        pspecs)
    }

  private def replay(base: Snapshot, tail: Seq[Commit]): Snapshot = {
    val active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    base.active.foreach(a => active(a.relPath) = a)
    tail.foreach { c =>
      c.removes.foreach { p =>
        if (active.remove(p).isEmpty) throw new IllegalStateException(
          s"corrupt log: v${c.version} removes inactive file $p")
      }
      c.adds.foreach(a => active(a.relPath) = a)
    }
    val m = foldMeta(metaOf(base), tail)
    val v = tail.lastOption.map(_.version).getOrElse(base.version)
    Snapshot(v, active.values.toSeq, m.ddl, m.key, m.txns, m.bloom,
      m.partCols, m.props, m.colMap, m.dropped, m.defaults,
      if (m.pspecs.isEmpty) Seq(m.partCols) else m.pspecs)
  }

  /** The latest version whose commit wall-clock stamp is ≤
    * `epochMillis` — TIMESTAMP AS OF resolution (the image of the
    * reference warehouse's `FOR SYSTEM_TIME AS OF`). Stamps are
    * assigned at manifest render time and are monotone in practice
    * (single filesystem clock); commits predating the `ts` tag carry
    * 0 and resolve as infinitely old — visible at every timestamp,
    * never silently as current. Throws when the timestamp predates
    * the table entirely. */
  def versionAtTimestamp(table: String, epochMillis: Long): Long = {
    // commit stamps are monotone BY CONSTRUCTION — [[commit]] clamps
    // each stamp against the previous commit's (max(now, prevTs)), so
    // NTP step-back or cross-process clock skew cannot produce a
    // decreasing pair; pre-tag manifests carry 0 = infinitely old.
    // Hence the latest version with ts ≤ epoch binary-searches in
    // O(log history) manifest reads instead of parsing every commit
    def tsOf(v: Long): Long = commitStamp(table, v)
    val last = latestVersion(table)
    require(last > 0 && tsOf(1L) <= epochMillis,
      s"$table has no commit at or before epoch-millis $epochMillis")
    var lo = 1L; var hi = last
    while (lo < hi) { // invariant: ts(lo) ≤ epoch; answer in [lo, hi]
      val mid = lo + (hi - lo + 1) / 2
      if (tsOf(mid) <= epochMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** The wall-clock stamp of commit `v` (0 on pre-tag manifests).
    * BOUNDED header scan: `ts` rides in the first lines of the render
    * order (op, protocol, ts, key, …), so stamp probes — the commit
    * path's clamp, time-travel binary searches — read a few hundred
    * bytes instead of parsing a manifest that may carry O(files)
    * add/cstat lines (MBs after a publish or legacy fork). */
  def commitStamp(table: String, v: Long): Long = {
    val br = Files.newBufferedReader(commitPath(table, v), UTF_8)
    try {
      var line = br.readLine()
      while (line != null) {
        if (line.startsWith("ts ")) return line.substring(3).toLong
        // header ends at `key` — a manifest without ts by then is
        // pre-tag (stamp 0, infinitely old)
        if (line.startsWith("key ")) return 0L
        line = br.readLine()
      }
      0L
    } finally br.close()
  }

  /** First version whose commit stamp is ≥ `epochMillis` — the Delta
    * `startingTimestamp` contract ("changes committed at or after the
    * instant"). Returns latest+1 when every commit predates it: a
    * feed started at a future instant begins empty and waits. Same
    * O(log history) binary search as [[versionAtTimestamp]], sound on
    * the same monotone-stamp invariant [[commit]] enforces. */
  def firstVersionAtOrAfter(table: String, epochMillis: Long): Long = {
    val last = latestVersion(table)
    require(last > 0, s"$table has no committed version")
    if (commitStamp(table, 1L) >= epochMillis) 1L
    else if (commitStamp(table, last) < epochMillis) last + 1L
    else versionAtTimestamp(table, epochMillis - 1L) + 1L
  }

  /** Table state at `version` (default: latest). Resolves the newest
    * checkpoint ≤ version plus the commits after it. On a CHUNKED
    * checkpoint the returned snapshot is metadata-eager but
    * file-LAZY: schema/key/props fold from the checkpoint header +
    * tail (O(tail) driver work — `loadTable` never parses a file
    * entry), the full `active` parses all chunks on first touch, and
    * [[Snapshot.activePruned]] parses only stats-matching chunks —
    * the planning path a 1M-file table needs. Legacy monolithic
    * checkpoints replay strictly as before. */
  def state(table: String, version: Long = Long.MaxValue): Snapshot = {
    val (latest, ckpts) = logListing(table)
    val last = math.min(latest, version)
    require(last > 0, s"$table has no committed version ≤ $version")
    val ckptV = ckpts.filter(_ <= last).lastOption
    ckptV match {
      case Some(cv) =>
        val (hdr, refs) = parseCheckpointList(table, cv)
        val tail = ((cv + 1L) to last).map { v =>
          parse(v, Files.readString(commitPath(table, v)))
        }
        val hdrPartCols = hdr.pspecs.map(_.last).getOrElse(hdr.partCols)
        val base = Snapshot(cv, hdr.adds, hdr.schemaDdl, hdr.keyCol,
          hdr.txns.toMap, hdr.bloom, hdrPartCols,
          hdr.props.getOrElse(Map.empty),
          hdr.colMap.map(_._1).getOrElse(Map.empty),
          hdr.colMap.map(_._2).getOrElse(Set.empty),
          hdr.defaults.getOrElse(Map.empty),
          hdr.pspecs.getOrElse(Seq(hdr.partCols)))
        refs match {
          case None => replay(base, tail) // legacy monolith: strict
          case Some(rs) =>
            val m = foldMeta(metaOf(base), tail)
            val ix = new ChunkIndex(table, rs, tail)
            val pspecs = if (m.pspecs.isEmpty) Seq(m.partCols) else m.pspecs
            new Snapshot(last, () => ix.load(_ => true, strict = true),
              m.ddl, m.key, m.txns, m.bloom, m.partCols, m.props,
              m.colMap, m.dropped, m.defaults, pspecs, Some(ix),
              // envelopes fold under the CHECKPOINT-era spec: a spec
              // evolved in the tail invalidates them (key envelopes
              // stay usable — they are spec-free)
              chunkEnvOk = hdrPartCols == m.partCols)
        }
      case None =>
        val tail = (1L to last).map { v =>
          parse(v, Files.readString(commitPath(table, v)))
        }
        val snap = replay(Snapshot(0L, Nil, "", ""), tail)
        // a chunked branch fork commits v1 with a `branch.ckpt` marker
        // and links its checkpoint list immediately after ([[branch]]'s
        // commit-first ownership protocol); reaching this NO-checkpoint
        // replay with the marker folded in means the fork crashed
        // between the two steps — the replayed v1 carries no file
        // entries, so returning it would silently read the branch as
        // empty. Fail loudly with the recovery step instead.
        snap.props.get("branch.ckpt").foreach { cv =>
          if (Files.notExists(checkpointPath(table, cv.toLong))) {
            // LOUD either way (the replayed v1 has no file entries),
            // but the advice splits on the commit's age: a reader can
            // race the fork's microseconds-wide commit→checkpoint
            // window (e.g. a #branches listing), and telling IT to
            // delete the branch would destroy a healthy in-flight fork
            val ageMs = math.max(0L,
              System.currentTimeMillis() - commitStamp(table, cv.toLong))
            if (ageMs < 60000L) throw new IllegalStateException(
              s"$table: a branch fork is IN PROGRESS (v$cv committed " +
                s"${ageMs}ms ago; its checkpoint has not linked yet) — " +
                "retry shortly")
            else throw new IllegalStateException(
              s"$table: a branch fork crashed before its v$cv " +
                "checkpoint landed — the fork is unreadable; delete " +
                "the branch directory and re-fork")
          }
        }
        snap
    }
  }

  // ------------------------------------------------------------ committing

  /** Atomically publish a manifest as the next version after
    * `expected`. Returns the committed version. On a lost race:
    * rebase-and-retry while every file this commit removes is still
    * active in the new latest state (append/compact-vs-append is
    * always safe); otherwise throw — the concurrent writer rewrote
    * the same files, and retrying would resurrect deleted rows. */
  private[tablelog] def commit(table: String, expected: Long, op: String,
      adds: Seq[AddFile], removes: Seq[String], schemaDdl: String,
      keyCol: String, txn: Option[(String, Long)] = None,
      bloom: Option[(String, Int)] = None,
      partCols: Seq[String] = Nil,
      props: Option[Map[String, String]] = None,
      colMap: Option[(Map[String, String], Set[String])] = None,
      defaults: Option[Map[String, (String, Long)]] = None,
      pspecs: Option[Seq[Seq[String]]] = None,
      txns: Seq[(String, Long)] = Nil): Long = {
    Files.createDirectories(logDir(table))
    var attempt = expected + 1L
    while (true) {
      // rendered PER ATTEMPT: the wall-clock stamp must be taken after
      // any lost race, or a rebased commit would land at a later
      // version with an EARLIER stamp than the racing winner — and
      // TIMESTAMP AS OF's binary search (and its monotonicity
      // contract) would resolve to a stale version. Clamped against
      // the previous commit's stamp because currentTimeMillis is NOT
      // monotonic (NTP step-back, clock drift across writer
      // processes): the log's ts sequence must stay non-decreasing or
      // the binary search silently returns the wrong version (Delta's
      // timestamp-adjustment invariant, enforced at write).
      val prevTs =
        if (attempt <= 1L) 0L else commitStamp(table, attempt - 1L)
      val text = render(op, adds, removes, schemaDdl, keyCol,
        txn.toSeq ++ txns,
        bloom, tsMillis = math.max(System.currentTimeMillis(), prevTs),
        partCols = partCols,
        props = props, colMap = colMap, defaults = defaults,
        pspecs = pspecs)
      val tmp = Files.createTempFile(logDir(table), s"tmp-$op-", ".inprogress")
      try {
        Files.write(tmp, text.getBytes(UTF_8))
        Files.createLink(commitPath(table, attempt), tmp)
        maybeCheckpoint(table, attempt)
        return attempt
      } catch {
        case _: FileAlreadyExistsException =>
          // metadata-bearing commits (create, evolve, branch) must NOT
          // rebase: their schema/declaration was computed against the
          // OLD snapshot, and re-publishing it would silently overwrite
          // a concurrent winner's metadata (two creates would union
          // datasets; two evolves would drop each other's columns). The
          // caller re-runs the operation, recomputing against the new
          // snapshot. Decided BEFORE reading state(): a branch-fork
          // race loser must abort here without replaying the winner's
          // possibly still-checkpoint-less v1 (see [[branch]]'s
          // commit-first ownership protocol).
          if (op == "create" || schemaDdl.nonEmpty || props.isDefined ||
              colMap.isDefined || defaults.isDefined || pspecs.isDefined)
            throw new java.util.ConcurrentModificationException(
              s"$table: lost a $op race at v${latestVersion(table)} — " +
                "this commit carries snapshot-derived metadata and " +
                "cannot rebase; re-run the operation on the new snapshot")
          // MERGE (and CDC-apply, its batch twin) commits never rebase:
          // the remove-set replay below only protects files this commit
          // REMOVES, but a merge's NOT-MATCHED (insert) and
          // not-matched-by-source decisions read the WHOLE target — a
          // concurrent append of rows matching the ON key invalidates
          // them without touching any removed file, and rebasing would
          // land duplicate-key inserts silently (the Delta/Iceberg
          // serializable-merge conflict rule). An insert-only merge is
          // exactly the case with an EMPTY remove set, so it must not
          // slip through the replay either.
          if (op == "merge" || op == "cdc")
            throw new java.util.ConcurrentModificationException(
              s"$table: lost a $op race at v${latestVersion(table)} — a " +
                "merge's matched/not-matched decisions were computed " +
                "against the old snapshot and a concurrent commit may " +
                "have invalidated them; re-run the operation on the " +
                "new snapshot")
          val now = state(table)
          // a concurrent writer already landed this producer version →
          // redelivered batch: drop it (exactly-once), don't re-append.
          // A multi-entry ledger (copyInto's per-file identities) is
          // all-or-nothing: fully landed → duplicate delivery, drop;
          // PARTIALLY landed → a concurrent copy loaded some of these
          // files, and rebasing would land them twice — the caller
          // must recompute the fresh set against the new snapshot.
          val allTxns = txn.toSeq ++ txns
          if (allTxns.nonEmpty) {
            val landed = allTxns.count { case (app, tv) =>
              now.txns.get(app).exists(_ >= tv) }
            if (landed == allTxns.size) return now.version
            if (landed > 0) throw new java.util.ConcurrentModificationException(
              s"$table: a concurrent commit landed $landed/" +
                s"${allTxns.size} of this $op's ledger entries — " +
                "recompute the fresh set on the new snapshot")
          }
          val activeNow = now.active.map(_.relPath).toSet
          if (!removes.forall(activeNow)) throw new java.util.ConcurrentModificationException(
            s"$table: conflicting commit at v${now.version} rewrote files this " +
              s"$op meant to remove — re-run the operation on the new snapshot")
          // relPath-ACTIVE is not enough: a deletion-vector commit
          // REMOVES and RE-ADDS the same relPath (new sidecar token),
          // so a losing DV/rewrite commit whose plan was computed
          // against the pre-race bitset would pass the active check
          // and rebase over the winner — resurrecting its dead rows
          // and drifting tuple stats. Conflict detection therefore
          // replays the intervening commits: ANY touch (add or
          // remove) of a file this commit removes aborts the rebase.
          // Appends and disjoint rewrites still rebase freely.
          if (removes.nonEmpty) {
            val mine = removes.toSet
            ((expected + 1L) to now.version).foreach { v =>
              val c =
                try parse(v, Files.readString(commitPath(table, v)))
                catch { case _: java.io.IOException =>
                  throw new java.util.ConcurrentModificationException(
                    s"$table: cannot verify commit v$v for conflicts " +
                      s"(manifest unreadable) — re-run the $op on the " +
                      "new snapshot")
                }
              if (c.adds.exists(a => mine(a.relPath)) ||
                  c.removes.exists(mine))
                throw new java.util.ConcurrentModificationException(
                  s"$table: commit v$v (${c.op}) touched files this $op " +
                    "meant to remove — its content (deletion vectors, " +
                    "stats) changed under the plan; re-run the " +
                    "operation on the new snapshot")
            }
          }
          attempt = now.version + 1L
      } finally Files.deleteIfExists(tmp)
    }
    attempt // unreachable
  }

  /** Files per checkpoint chunk — small so the demo-scale histories
    * exercise multi-chunk checkpoints and chunk-grain pruning; a
    * production table would use O(10⁴) (≈1 MB of entries per chunk at
    * ~100 B/file: a 1M-file 100-TB table is ~100 chunks, a ~10 KB
    * manifest list). */
  val checkpointChunkFiles = 8

  /** The stage-dir component of a table-relative data path — the
    * grain of the checkpoint writer's chunk dirtiness test. */
  private def stageOfRel(rel: String): String =
    fileIdOf(rel).takeWhile(_ != '/')

  /** Chunk-wide partition-value envelope, per partition column:
    * lexicographic [min, max] over every member file's recorded tuple
    * values — None (unprunable) as soon as one file lacks tuple stats,
    * holds a null value, or (temporal transforms only) renders outside
    * the lexicographically-safe year range. Lexicographic bounds are
    * sound for EQUALITY probes under any value domain (the probe
    * renders through the same total order) and for RANGE probes on
    * temporal renderings (zero-padded → lexicographic is
    * chronological — the same property the file-grain layer relies
    * on). */
  private def chunkEnv(partCols: Seq[String],
      files: Seq[AddFile], curSpecId: Int): Seq[Option[(String, String)]] =
    partCols.zipWithIndex.map { case (spec, i) =>
      val temporal = !partTransformOf(spec).isInstanceOf[PIdentity]
      var mn: String = null; var mx: String = null; var ok = true
      files.foreach { a =>
        if (a.parts.isEmpty || a.specId != curSpecId) ok = false
        else a.parts.foreach { p =>
          val x = p.values(i)
          if (x == NullPartValue) ok = false
          else if (temporal && !(x.length >= 4 && x.charAt(0).isDigit))
            ok = false
          else {
            if (mn == null || x < mn) mn = x
            if (mx == null || x > mx) mx = x
          }
        }
      }
      if (ok && mn != null) Some((mn, mx)) else None
    }

  private def renderChunkLine(r: ChunkRef): String = {
    val env = r.env.map {
      case None            => "~"
      case Some((mn, mx))  => s"${encCol(mn)}:${encCol(mx)}"
    }
    val stages = r.stages.toSeq.sorted.map(encCol)
    s"chunk ${r.relName} ${r.nFiles} ${r.rows} ${r.minKey} ${r.maxKey} " +
      s"${env.size} ${env.mkString(" ")} ${stages.size} " +
      stages.mkString(" ") +
      (if (r.prefix.isEmpty) "" else s" ${encCol(r.prefix)}")
  }

  private def parseChunkLine(line: String): ChunkRef = {
    val t = line.split(" ").filter(_.nonEmpty)
    // chunk relName nFiles rows minKey maxKey nEnv env* nStages stage*
    // [prefix] — the optional trailing token is a branch checkpoint's
    // base-table path prefix (see [[ChunkRef.prefix]])
    val nEnv = t(6).toInt
    val env = t.slice(7, 7 + nEnv).toSeq.map {
      case "~" => None
      case tok =>
        val c = tok.indexOf(':')
        Some((decCol(tok.substring(0, c)), decCol(tok.substring(c + 1))))
    }
    val nStages = t(7 + nEnv).toInt
    ChunkRef(t(1), t(2).toInt, t(3).toLong, t(4).toLong, t(5).toLong,
      env, t.slice(8 + nEnv, 8 + nEnv + nStages).map(decCol).toSet,
      prefix = t.drop(8 + nEnv + nStages).headOption.fold("")(decCol))
  }

  /** Parse one checkpoint chunk's file entries, applying the chunk's
    * base-table prefix (empty on self-written chunks — the common
    * case). The single seam every chunk consumer reads through, so a
    * branch's re-referenced base chunks resolve identically on the
    * scan, checkpoint-writer and vacuum paths. */
  private def chunkAdds(table: String, r: ChunkRef): Seq[AddFile] = {
    val adds = parse(0L,
      Files.readString(logDir(table).resolve(r.relName))).adds
    if (r.prefix.isEmpty) adds
    else adds.map(a => a.copy(relPath = r.prefix + a.relPath))
  }

  /** A checkpoint file split into its header commit and (for chunked
    * checkpoints) the manifest list; None refs = legacy monolith whose
    * file entries ride the header itself. */
  private[tablelog] def parseCheckpointList(table: String,
      v: Long): (Commit, Option[Seq[ChunkRef]]) = {
    val lines = Files.readString(checkpointPath(table, v))
      .linesIterator.filter(_.nonEmpty).toSeq
    val (chunkLines, rest) = lines.partition(_.startsWith("chunk "))
    val hdr = parse(v, rest.mkString("\n"))
    if (chunkLines.isEmpty) (hdr, None)
    else (hdr, Some(chunkLines.map(parseChunkLine)))
  }

  /** Write the periodic checkpoint as a STATS-CARRYING MANIFEST LIST
    * plus bounded chunk files (the Iceberg manifest-list shape;
    * Delta's multi-part checkpoints are the other public lineage):
    * the `.checkpoint` file holds only the table metadata and one
    * `chunk` line per chunk — file count, live rows, key envelope,
    * per-partition-column value envelope, stage dirs — and each chunk
    * file holds ≤ [[checkpointChunkFiles]] file entries.
    *
    * INCREMENTAL by construction: a chunk none of whose stage dirs
    * was touched by any commit since the previous checkpoint is
    * provably byte-identical and is RE-REFERENCED without being read
    * or rewritten, so bytes written per checkpoint are O(touched
    * files + list), never O(active files) — the property that keeps
    * commit cost flat as a 100-TB table's file count grows. Readers
    * prune whole chunks against pushed predicates via the envelopes
    * BEFORE parsing any file entry ([[Snapshot.activePruned]]). */
  private def maybeCheckpoint(table: String, v: Long): Unit =
    if (v % checkpointEvery == 0L) {
      val prevV = logListing(table)._2.filter(_ < v).lastOption
      val (prevHdr, prevRefs) = prevV match {
        case Some(pv) =>
          val (h, r) = parseCheckpointList(table, pv)
          (Some(h), r.getOrElse(Nil))
        case None => (None, Nil)
      }
      val base = prevV.getOrElse(0L)
      val tail = ((base + 1L) to v).map { x =>
        parse(x, Files.readString(commitPath(table, x)))
      }
      val changedStages = tail
        .flatMap(c => c.removes ++ c.adds.map(_.relPath))
        .map(stageOfRel).toSet
      val (cleanRefs0, dirtyRefs) = prevRefs
        .partition(r => !r.stages.exists(changedStages))
      // leftovers = everything not covered by a clean chunk: dirty
      // chunks' files, a legacy monolith's files, and the tail's adds
      // — replayed against the tail's removes (a remove can only name
      // a path whose stage is dirty, so clean chunks stay untouched)
      val act = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
      prevHdr.foreach(_.adds.foreach(a => act(a.relPath) = a))
      dirtyRefs.foreach(r =>
        chunkAdds(table, r).foreach(a => act(a.relPath) = a))
      tail.foreach { c =>
        c.removes.foreach { p =>
          if (act.remove(p).isEmpty) throw new IllegalStateException(
            s"corrupt log: v${c.version} removes file $p outside every " +
              "dirty checkpoint chunk")
        }
        c.adds.foreach(a => act(a.relPath) = a)
      }
      val m = foldMeta(prevHdr.fold(
        Meta("", "", Map.empty, None, Nil, Map.empty, Map.empty, Set.empty,
          Map.empty, Nil))(
        h => Meta(h.schemaDdl, h.keyCol, h.txns.toMap, h.bloom,
          h.pspecs.map(_.last).getOrElse(h.partCols),
          h.props.getOrElse(Map.empty),
          h.colMap.map(_._1).getOrElse(Map.empty),
          h.colMap.map(_._2).getOrElse(Set.empty),
          h.defaults.getOrElse(Map.empty),
          h.pspecs.getOrElse(Seq(h.partCols)))), tail)
      // clean chunks re-reference their FILES unrewritten, but their
      // partition-value envelopes were folded under the PREVIOUS
      // header's spec era: if the covered tail evolved the spec, the
      // new checkpoint must not republish them as current-spec
      // envelopes (state() would compute chunkEnvOk = true against
      // the NEW header and prune with stale bounds — silent row
      // loss). Blank them to unbounded; key envelopes are spec-free
      // and stay. (Envelope arity can also differ across eras —
      // blanking sidesteps that too.)
      val prevEraCols = prevHdr.map(h =>
        h.pspecs.map(_.last).getOrElse(h.partCols))
      val cleanRefs =
        if (prevEraCols.contains(m.partCols)) cleanRefs0
        else cleanRefs0.map(r =>
          r.copy(env = Seq.fill(m.partCols.length)(None)))
      // cluster leftovers by (partition tuple, key) so fresh chunk
      // envelopes are tight — the same ordering instinct stage() uses
      val ordered = act.values.toSeq.sortBy(a =>
        (if (a.parts.nonEmpty) a.parts.head.values.mkString("/") else "",
          a.min))
      val newRefs = ordered.grouped(checkpointChunkFiles).map { fs =>
        val relName = s"c-${java.util.UUID.randomUUID().toString.take(12)}.chunk"
        Files.write(logDir(table).resolve(relName),
          render("chunk", fs, Nil, "", "").getBytes(UTF_8))
        ChunkRef(relName, fs.size, fs.map(_.liveRows).sum,
          fs.map(_.min).min, fs.map(_.max).max,
          chunkEnv(m.partCols, fs,
            (if (m.pspecs.isEmpty) Seq(m.partCols) else m.pspecs).length - 1),
          fs.map(a => stageOfRel(a.relPath)).toSet)
      }.toSeq
      val header = render("checkpoint", Nil, Nil, m.ddl, m.key,
        m.txns.toSeq, m.bloom, partCols = m.partCols,
        props = Some(m.props),
        colMap =
          if (m.colMap.isEmpty && m.dropped.isEmpty) None
          else Some((m.colMap, m.dropped)),
        defaults = if (m.defaults.isEmpty) None else Some(m.defaults),
        pspecs = if (m.pspecs.length > 1) Some(m.pspecs) else None)
      val text = header +
        (cleanRefs ++ newRefs).map(renderChunkLine).mkString("\n") + "\n"
      val tmp = Files.createTempFile(logDir(table), "tmp-ckpt-", ".inprogress")
      try {
        Files.write(tmp, text.getBytes(UTF_8))
        Files.createLink(checkpointPath(table, v), tmp)
      } catch { case _: FileAlreadyExistsException => () // another writer won
      } finally Files.deleteIfExists(tmp)
    }

  // ------------------------------------------------------------ data stage

  /** Hash count for the per-file bloom sidecars. */
  val bloomHashes = 4

  /** The `(0 until k)` bloom bit positions of column `c` under width
    * `m` — ONE definition shared by the sidecar builder and the probe
    * side, both evaluated by the same codegen'd `xxhash64`, so the
    * two can never disagree. */
  private def bloomPosCols(c: String, m: Int): Seq[Column] =
    (0 until bloomHashes).map(j =>
      pmod(xxhash64(lit(j), col(c)), lit(m.toLong)).cast("int"))

  private def sidecarRel(relPath: String, c: String): String =
    s"$relPath.$c.bloom"

  /** `input_file_name()` URI → bare part-file name, for the adopt
    * stats scan over files this engine did not write. */
  private def fileNameOf(uri: String): String =
    Paths.get(new java.net.URI(uri).getPath).getFileName.toString

  /** Collision-proof file identity: the LAST TWO path components,
    * `<stage>/<name>`. Part-file BASENAMES are not unique across the
    * active set — the DSv2 sink names files
    * `part-<epoch>-<partition>-<taskId>-<seq>.parquet` with no
    * per-file UUID, and task ids reset across Spark application
    * restarts — but every writer stages into a UUID-fresh directory,
    * so (stage dir, name) is unique by construction (shallow-cloned
    * paths keep the SOURCE's trailing (stage, name)). Every join or
    * lookup that attributes per-file state (deletion-vector
    * positions, touched-file matching, key-group assignment) keys on
    * THIS, never the bare name — a basename collision there would
    * silently attribute one file's dead rows to another. */
  private[graft] def fileIdOf(relPath: String): String = {
    val i = relPath.lastIndexOf('/')
    val j = if (i <= 0) -1 else relPath.lastIndexOf('/', i - 1)
    relPath.substring(j + 1)
  }

  /** [[fileIdOf]] over an `input_file_name()`/`file_path` URI. */
  private def fileIdOfUri(uri: String): String = {
    val p = Paths.get(new java.net.URI(uri).getPath)
    p.getParent.getFileName.toString + "/" + p.getFileName.toString
  }

  /** [[fileIdOf]] as a Column over parquet's `_metadata.file_path` —
    * the scan-side half of every DV-position join. */
  private def fileIdCol: Column = {
    val parts = split(col("_metadata.file_path"), "/")
    concat(element_at(parts, -2), lit("/"), element_at(parts, -1))
  }

  /** Write `df` range-partitioned on the key into a fresh immutable
    * stage dir and return its AddFiles, in ONE Spark job: each task
    * writes its range partition as one file through Spark's own
    * parquet writer (the write support, codec and bytes of
    * `df.write.parquet`) and returns that file's AddFile, its stats
    * gathered by [[FileStats]] while the rows stream past — nothing
    * reads the new files back. Range partitioning makes the per-file
    * `[min, max]` key stats tight, which is what makes [[prunedFiles]]
    * skip anything. An empty range partition stages no file (an empty
    * input stages none at all); a task that fails mid-write deletes
    * its partial file and sidecar.
    *
    * `layout`: optional file-layout expression. When set, files are
    * range-partitioned and sorted by IT instead of the key column —
    * the OPTIMIZE-ZORDER device ([[compactZorder]]) — while key
    * stats (and bloom sidecars) are still collected as usual, so
    * manifest-level skipping keeps working over the re-laid files. */
  private def stage(df0: DataFrame, table: String, keyCol: String,
      numFiles: Int, bloom: Option[(String, Int)] = None,
      layout: Option[Column] = None,
      partCols: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty,
      specId: Int = 0): Seq[AddFile] = {
    // data files carry PHYSICAL names: under a column mapping the
    // incoming logical frame renames before anything is written, so
    // new files stay name-compatible with the active set (key,
    // partition and bloom columns never rename — see renameColumn)
    val df =
      if (colMap.isEmpty) df0
      else df0.toDF(df0.columns.map(c => colMap.getOrElse(c, c)): _*)
    val spark = df.sparkSession
    val stageId = java.util.UUID.randomUUID().toString.take(8)
    val stageDir = Paths.get(table, "data", stageId)
    val writer = layout match {
      case Some(expr) => df.withColumn("__layout", expr)
        .repartitionByRange(numFiles, col("__layout"))
        .sortWithinPartitions(col("__layout"))
        .drop("__layout")
      case None if partCols.nonEmpty =>
        // partitioned layout: range-cluster on (partition tuple, key)
        // so each file covers a contiguous tuple run (few tuples per
        // file → tight manifest stats) AND keeps key order within it;
        // the tuple is the spec's RENDERED value, so temporal
        // transforms cluster by day/month, not raw timestamp
        df.repartitionByRange(numFiles,
          partCols.map(partValueCol(_, df.schema)) :+ col(keyCol): _*)
      case None => df.repartitionByRange(numFiles, col(keyCol))
    }
    // trailing columns the task reads but never writes: the rendered
    // partition tuple and the bloom bit positions, evaluated by the
    // same codegen'd expressions the probe side uses
    val extras =
      partCols.map(c =>
        coalesce(partValueCol(c, df.schema), lit(NullPartValue))) ++
        bloom.toSeq.flatMap { case (c, m) => bloomPosCols(c, m) }
    val out =
      if (extras.isEmpty) writer else writer.select(col("*") +: extras: _*)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      org.apache.spark.sql.graftbridge.SessionBridge.newHadoopConf(spark, Map.empty))
    val task = new StageTask(table, stageDir.toString, s"data/$stageId",
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, writer.schema),
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration),
      writer.schema, new StatLayout(writer.schema, keyCol, partCols, sketches = true),
      partCols.length, bloom, specId)
    val qe = out.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some("stage")) {
      qe.toRdd.mapPartitionsWithIndex(task.write).collect().toSeq
    }.sortBy(_.relPath)
  }

  /** [[stage]] under `snap`'s own layout — its key, bloom, partition
    * spec, column mapping and spec id — the write of every verb that
    * adds rows to an existing table. [[create]] states its layout, and
    * the full rewrites ([[compact]], [[compactZorder]]) drop the column
    * mapping, so those call [[stage]] themselves. */
  private def stageAs(snap: Snapshot, df: DataFrame, table: String,
      numFiles: Int, layout: Option[Column] = None): Seq[AddFile] =
    stage(df, table, snap.keyCol, numFiles, snap.bloom, layout,
      snap.partCols, snap.colMap, snap.specId)

  /** One [[stage]] write as its tasks see it: where the file goes, the
    * parquet writer factory and Hadoop conf `prepareWrite` set up on
    * the driver, and where each row carries its stats columns. A row
    * holds the data columns, then `nParts` rendered partition values,
    * then the bloom bit positions. */
  private final class StageTask(table: String, stageDir: String,
      relDir: String,
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      conf: org.apache.spark.util.SerializableConfiguration,
      dataSchema: StructType, layout: StatLayout, nParts: Int,
      bloom: Option[(String, Int)], specId: Int) extends Serializable {

    def write(pid: Int, rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
        : Iterator[AddFile] =
      if (!rows.hasNext) Iterator.empty
      else {
        import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
        val tc = org.apache.spark.TaskContext.get()
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf.value, new TaskAttemptID(new TaskID(
            new JobID(relDir.stripPrefix("data/"), tc.stageId()), TaskType.MAP,
            pid), tc.attemptNumber()))
        // unique per task attempt: a retried partition never collides
        val name = f"part-$pid%05d-${tc.taskAttemptId()}" +
          factory.getFileExtension(ctx)
        val path = new org.apache.hadoop.fs.Path(stageDir, name)
        val sidecar =
          bloom.map { case (c, _) => Paths.get(stageDir, sidecarRel(name, c)) }
        val n = dataSchema.length
        val data =
          if (nParts == 0 && bloom.isEmpty) None
          else Some(org.apache.spark.sql.catalyst.ProjectingInternalRow(
            dataSchema, 0 until n))
        val bits = bloom.map { case (_, m) => new java.util.BitSet(m) }
        // one accumulator per partition tuple (Nil: unpartitioned)
        val byTuple = scala.collection.mutable.LinkedHashMap
          .empty[List[String], FileStats]
        val w = factory.newInstance(path.toString, dataSchema, ctx)
        try {
          rows.foreach { r =>
            val t = List.tabulate(nParts)(j => r.getUTF8String(n + j).toString)
            byTuple.getOrElseUpdate(t, {
              require(byTuple.size < maxPartTuplesPerFile,
                s"$table: staged file $name holds more than " +
                  s"$maxPartTuplesPerFile distinct partition tuples — " +
                  "the partition column is too high-cardinality to " +
                  "stratify at file grain; raise numFiles or drop the " +
                  "partitioning")
              new FileStats(layout)
            }).add(r)
            bits.foreach { b =>
              var j = 0
              while (j < bloomHashes) { b.set(r.getInt(n + nParts + j)); j += 1 }
            }
            data match {
              case Some(d) => d.project(r); w.write(d)
              case None    => w.write(r)
            }
          }
          w.close()
          sidecar.foreach(p => Files.write(p, bits.get.toByteArray))
        } catch {
          case e: Throwable =>
            try w.close() catch { case _: Throwable => () }
            path.getFileSystem(conf.value).delete(path, false)
            sidecar.foreach(Files.deleteIfExists)
            throw e
        }
        val tuples = byTuple.toSeq.sortBy(_._1.mkString("/"))
        val accs = tuples.map(_._2)
        val bounds = accs.map(_.keyBounds)
        Iterator.single(AddFile(s"$relDir/$name", accs.map(_.rows).sum,
          bounds.map(_._1).min, bounds.map(_._2).max,
          if (nParts == 0) Nil else tuples.map { case (t, a) => PartStat(t, a.rows) },
          cols = FileStats.foldCols(layout, accs), specId = specId,
          // one tuple's sketch is the aggregate's own; several union
          ndvs = if (nParts == 0) accs.head.ndvs else FileStats.unionNdvs(accs)))
      }
  }

  /** Declared CHECK constraints of a property map: (name, SQL). */
  /** GENERATED COLUMNS declared on the table (Delta's `GENERATED
    * ALWAYS AS` lineage): `gencol.<name>` properties mapping a schema
    * column to its generation expression. Writers that OMIT the
    * column get it computed ([[withWriteDefaults]]); writers that
    * supply it are audited — the expression doubles as a synthetic
    * CHECK (`col <=> expr`, null-safe) enforced on every write path
    * through the same [[validateChecks]] gate as user constraints,
    * so a wrong explicit value refuses loudly instead of landing a
    * row whose column contradicts its own definition. Declared at
    * CREATE only ([[setProps]] refuses new ones — existing files
    * were not produced by the expression). */
  private[graft] def genColsOf(props: Map[String, String]): Seq[(String, String)] =
    props.toSeq.collect { case (k, sql) if k.startsWith("gencol.") =>
      (k.stripPrefix("gencol."), sql) }.sortBy(_._1)

  private[graft] def checksOf(props: Map[String, String]): Seq[(String, String)] =
    (props.toSeq.collect { case (k, sql) if k.startsWith("constraint.") =>
      (k.stripPrefix("constraint."), sql) } ++
      genColsOf(props).map { case (c, sql) =>
        (s"${c}_generated", s"`$c` <=> ($sql)") }).sortBy(_._1)

  /** Validate a batch against declared CHECK constraints — the
    * enforcement gate for write paths OUTSIDE Spark's catalog
    * constraint rule (the direct TableLog API and the DSv2
    * provider/streaming sinks), so a table whose metadata reports
    * ENFORCED cannot be violated through a side door. SQL CHECK
    * semantics: NULL passes, only FALSE violates. Cost: ONE
    * aggregation over the incoming batch per constrained table
    * (nothing at all on unconstrained ones), proportional to the
    * commit and never the table; throws before any manifest moves. */
  private[graft] def validateChecks(df: DataFrame,
      checks: Seq[(String, String)], op: String): Unit =
    if (checks.nonEmpty) {
      val cells = checks.map { case (n, sql) =>
        sum(when(!coalesce(expr(sql), lit(true)), 1L).otherwise(0L))
          .as(s"v_$n") }
      val row = df.agg(cells.head, cells.tail: _*).collect().head
      checks.zipWithIndex.foreach { case ((n, sql), i) =>
        if (!row.isNullAt(i) && row.getLong(i) > 0L)
          throw new IllegalArgumentException(
            s"$op: ${row.getLong(i)} row(s) violate CHECK constraint " +
              s"$n ($sql) — nothing was committed")
      }
    }

  private[graft] def readFiles(spark: SparkSession, table: String,
      snap: Snapshot, files: Seq[AddFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(snap.schemaDdl))
    else {
      // scan with PHYSICAL names (what the files carry), project back
      // to logical at the end — a renamed column reads its old bytes
      val logicalNames = StructType.fromDDL(snap.schemaDdl).fieldNames
      def toLogical(df: DataFrame): DataFrame =
        if (snap.colMap.isEmpty) df
        else df.toDF(logicalNames.toIndexedSeq: _*)
      val base = spark.read.schema(snap.physSchema)
        .parquet(files.map(a => Paths.get(table, a.relPath).toString): _*)
      val dvFiles = files.filter(_.dv.isDefined)
      if (dvFiles.isEmpty) toLogical(base)
      else toLogical {
        // merge-on-read: subtract each DV'd file's dead positions via
        // parquet's row-index metadata column and one broadcast
        // anti-join — DVs suit SMALL deletes (the dead set rides the
        // driver and the broadcast), which is exactly when they beat
        // copy-on-write; big deletes should take deleteWhere
        base
          .withColumn("__graft_f", fileIdCol)
          .withColumn("__graft_p", col("_metadata.row_index"))
          .join(broadcast(deadPositionsDf(spark, table, dvFiles)),
            col("__graft_f") === col("__graft_dv_file") &&
              col("__graft_p") === col("__graft_dv_pos"), "left_anti")
          .drop("__graft_f", "__graft_p")
      }
    }

  /** The (file id, dead position) rows of a set of DV'd files —
    * folded driver-side from the bitset sidecars, keyed by
    * [[fileIdOf]] (basenames can collide across the active set). */
  private[graft] def deadPositionsDf(spark: SparkSession, table: String,
      dvFiles: Seq[AddFile]): DataFrame = {
    import spark.implicits._
    dvFiles.flatMap { a =>
      val bits = java.util.BitSet.valueOf(
        Files.readAllBytes(dvSidecar(table, a)))
      val id = fileIdOf(a.relPath)
      Iterator.iterate(bits.nextSetBit(0))(i => bits.nextSetBit(i + 1))
        .takeWhile(_ >= 0).map(p => (id, p.toLong)).toSeq
    }.toDF("__graft_dv_file", "__graft_dv_pos")
  }

  // ----------------------------------------------------- partition specs

  /** A partition-column SPEC as stored in the manifest's `partcols`
    * line: `c` (identity), `days:c`, or `months:c` — Iceberg's hidden
    * temporal partitioning (`PARTITIONED BY (days(ts))`): the table
    * partitions on a TRANSFORM of a timestamp/date column, partition
    * values render as UTC `yyyy-MM-dd` / `yyyy-MM` strings (zero-
    * padded, so LEXICOGRAPHIC order is chronological — the property
    * the raw-predicate range mapping in the scan builder relies on),
    * and a raw `WHERE ts >= …` range predicate prunes files through
    * the transform without the user ever materializing a date column.
    * The colon encoding keeps old manifests (bare names = identity)
    * parsing unchanged. `bucket(n, col)` does NOT land here — it maps
    * onto the table's `bucket.count` routing device at CREATE. */
  sealed trait PartTransform { def col: String }
  final case class PIdentity(col: String) extends PartTransform
  final case class PDays(col: String) extends PartTransform
  final case class PMonths(col: String) extends PartTransform
  final case class PYears(col: String) extends PartTransform
  final case class PHours(col: String) extends PartTransform

  private[graft] def partTransformOf(spec: String): PartTransform =
    spec.indexOf(':') match {
      case -1 => PIdentity(spec)
      case i => (spec.substring(0, i), spec.substring(i + 1)) match {
        case ("days", c)   => PDays(c)
        case ("months", c) => PMonths(c)
        case ("years", c)  => PYears(c)
        case ("hours", c)  => PHours(c)
        case (t, _) => throw new IllegalArgumentException(
          s"unknown partition transform '$t' in spec '$spec'")
      }
    }

  /** The SOURCE column a spec partitions over. */
  private[graft] def partSourceCol(spec: String): String =
    partTransformOf(spec).col

  /** Human rendering for metadata tables: `c` / `days(c)`. */
  private[graft] def partPretty(spec: String): String =
    partTransformOf(spec) match {
      case PIdentity(c) => c
      case PDays(c)     => s"days($c)"
      case PMonths(c)   => s"months($c)"
      case PYears(c)    => s"years($c)"
      case PHours(c)    => s"hours($c)"
    }

  /** UTC day of a timestamp in MICROseconds since the epoch — the ONE
    * temporal bucketing both write paths (SQL expression and the DSv2
    * task writer) and the scan-side predicate mapping share. */
  private[graft] def epochDayOfMicros(micros: Long): Long =
    Math.floorDiv(micros, 86_400_000_000L)

  private[graft] def renderDay(epochDay: Long): String =
    java.time.LocalDate.ofEpochDay(epochDay).toString

  private[graft] def renderMonth(epochDay: Long): String = {
    val d = java.time.LocalDate.ofEpochDay(epochDay)
    f"${d.getYear}%04d-${d.getMonthValue}%02d"
  }

  private[graft] def renderYear(epochDay: Long): String =
    f"${java.time.LocalDate.ofEpochDay(epochDay).getYear}%04d"

  /** UTC hour bucket as `yyyy-MM-dd-HH` (zero-padded → lexicographic
    * = chronological, like the day/month renderings). */
  private[graft] def epochHourOfMicros(micros: Long): Long =
    Math.floorDiv(micros, 3_600_000_000L)

  private[graft] def renderHour(epochHour: Long): String = {
    val day = Math.floorDiv(epochHour, 24L)
    val hod = Math.floorMod(epochHour, 24L)
    f"${java.time.LocalDate.ofEpochDay(day)}-$hod%02d"
  }

  /** The rendered partition value of `spec` as a Column — identity
    * stringification, or the transform's UTC rendering derived from
    * the instant's MICROS with the same `floorDiv` arithmetic as
    * [[epochDayOfMicros]]/[[epochHourOfMicros]], so the SQL write
    * path, the DSv2 task writer and the scan-side predicate probes
    * share ONE bucketing that is zone-free by construction. (The
    * previous `date_format(to_utc_timestamp(col, current_timezone()))`
    * rendering round-tripped through the session zone: an instant
    * whose UTC wall clock falls inside the session zone's DST gap
    * rendered shifted by an hour — a silently mis-bucketed tuple a
    * temporal range predicate could then prune wrongly.) Spark's
    * `CAST(date AS STRING)` renders `yyyy-MM-dd` zero-padded,
    * matching `LocalDate.ofEpochDay(...).toString` exactly. */
  private[graft] def partValueCol(spec: String,
      schema: StructType): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    // floorDiv in pure integer SQL (div truncates toward zero; the
    // CASE corrects the pre-epoch remainder) — micros stay in BIGINT
    // end to end, no double rounding at 2^63-scale values
    def floorDivSql(x: String, d: Long): String =
      s"($x div ${d}L - (CASE WHEN $x % ${d}L < 0 THEN 1 ELSE 0 END))"
    def dayStrSql(edSql: String): String =
      s"CAST(date_add(DATE'1970-01-01', CAST($edSql AS INT)) AS STRING)"
    def tempo(c: String)(
        onTs: String => String, onDate: String => String): Column =
      schema(c).dataType match {
        case TimestampType => expr(onTs(s"unix_micros(`$c`)"))
        case DateType      => expr(onDate(s"CAST(`$c` AS STRING)"))
        case o => throw new IllegalArgumentException(
          s"temporal partition transform over ${o.sql} column '$c'")
      }
    partTransformOf(spec) match {
      case PIdentity(c) => col(c).cast("string")
      case PDays(c) => tempo(c)(
        m => dayStrSql(floorDivSql(m, 86_400_000_000L)),
        d => d)
      case PMonths(c) => tempo(c)(
        m => s"substring(${dayStrSql(floorDivSql(m, 86_400_000_000L))}, 1, 7)",
        d => s"substring($d, 1, 7)")
      case PYears(c) => tempo(c)(
        m => s"substring(${dayStrSql(floorDivSql(m, 86_400_000_000L))}, 1, 4)",
        d => s"substring($d, 1, 4)")
      case PHours(c) => tempo(c)(
        { m =>
          val eh = floorDivSql(m, 3_600_000_000L)
          val day = floorDivSql(eh, 24L)
          s"concat(${dayStrSql(day)}, '-', " +
            s"lpad(CAST(($eh - ($day) * 24) AS STRING), 2, '0'))"
        },
        _ => throw new IllegalArgumentException(
          s"hours($c) over a DATE column — refused at CREATE"))
    }
  }

  // ------------------------------------------------------------ operations

  /** Partition specs must name schema columns and render stably — the
    * manifest stores partition values as strings, and the staged
    * write, the DSv2 task writer, and the scan-time predicate
    * compare must all produce the SAME rendering. Identity keeps the
    * STRING/BIGINT/INT restriction (floats/binary don't stringify
    * stably); days/months require TIMESTAMP or DATE source columns
    * (rendered in UTC, zone-independent). */
  private def checkPartCols(schemaDdl: String, partCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampType}
    val schema = StructType.fromDDL(schemaDdl)
    partCols.foreach { spec =>
      val t = partTransformOf(spec)
      val f = schema.fields.find(_.name == t.col).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '${t.col}' not in schema: $schemaDdl"))
      t match {
        case PIdentity(c) =>
          require(Set[org.apache.spark.sql.types.DataType](
              StringType, LongType, IntegerType).contains(f.dataType),
            s"partition column '$c' has type ${f.dataType.sql} — only " +
              "STRING/BIGINT/INT partition columns stringify stably")
        case PHours(c) =>
          require(f.dataType == TimestampType,
            s"hours($c) needs a TIMESTAMP column (dates carry no " +
              s"hour), got ${f.dataType.sql}")
        case _ =>
          require(f.dataType == TimestampType || f.dataType == DateType,
            s"temporal partition transform '${partPretty(spec)}' needs a " +
              s"TIMESTAMP or DATE column, '${t.col}' is ${f.dataType.sql}")
      }
    }
    require(partCols.map(partSourceCol).distinct.length == partCols.length,
      s"duplicate partition columns: ${partCols.mkString(",")}")
  }

  /** Create the table as version 1. Fails if a log already exists —
    * create is not an upsert. */
  /** A view sidecar at the same identifier would MASK the new table:
    * every catalog read resolves the view first. Refuse at create —
    * the mirror of the view side's table-shadow refusal. */
  private def requireNoViewShadow(table: String): Unit = {
    val p = Paths.get(table).toAbsolutePath.normalize
    val v = Option(p.getParent).map(_.resolve("_views")
      .resolve(p.getFileName.toString + ".sql"))
    require(!v.exists(Files.isRegularFile(_)),
      s"$table: a VIEW of the same name exists (_views sidecar) — reads " +
        "would resolve the view and silently mask this table; DROP VIEW " +
        "first")
  }

  def create(df: DataFrame, table: String, keyCol: String,
      numFiles: Int, bloomCol: Option[String] = None,
      bloomBits: Int = 1 << 17, partCols: Seq[String] = Nil): Long = {
    require(latestVersion(table) == 0L, s"$table already exists")
    requireNoViewShadow(table)
    if (partCols.nonEmpty) checkPartCols(df.schema.toDDL, partCols)
    val bloom = bloomCol.map(c => (c, bloomBits))
    val adds = stage(df, table, keyCol, numFiles, bloom, partCols = partCols)
    commit(table, 0L, "create", adds, Nil, df.schema.toDDL, keyCol,
      bloom = bloom, partCols = partCols)
  }

  /** ZERO-COPY ADOPTION of a plain parquet directory — Delta's
    * `CONVERT TO DELTA` shape, the migration path INTO the format: a
    * directory of ordinary `df.write.parquet` files becomes a v1
    * table WITHOUT rewriting a byte. Cost: ONE stats scan (per-file
    * row count + key min/max via `input_file_name` grouping — the
    * honest price of manifest stats over files we didn't write; at
    * 100 TB that single scan replaces the full rewrite a
    * read-into-create would pay). Each file HARD-LINKS into the
    * table's own `data/` dir (same-filesystem zero-copy, the branch
    * adoption-link design) and the commit references the links: the
    * ORIGINALS stay untouched at the top level, still readable by
    * whatever plain-parquet job produced them, and deletable by
    * their owner whenever ready — vacuum only ever sweeps `data/`,
    * so the table can never reclaim files it does not own. All-null
    * or non-integral key values adopt with a FULL-RANGE key envelope
    * (pruning-inert but sound — the first compact re-lays and
    * re-stats them); zero-row files are skipped, not referenced;
    * hive-partitioned subdirectories refuse (adopt the leaf dirs, or
    * read-and-create for a partitioned layout). The commit is a
    * "create" (metadata-bearing → never rebases), so two concurrent
    * adoptions race safely — and it SEEDS the copy ledger with every
    * adopted file's identity, so a later
    * `copy_into(dir, dir, 'parquet')` is INCREMENTAL adoption:
    * late-arriving top-level files load, adopted ones skip. Returns
    * (version, files_adopted, rows). */
  def adopt(spark: SparkSession, table: String,
      keyCol: String): (Long, Int, Long) = {
    require(latestVersion(table) == 0L, s"$table already exists")
    requireNoViewShadow(table)
    val top = {
      val s = Files.list(Paths.get(table))
      try {
        val it = s.iterator(); val b = Vector.newBuilder[Path]
        while (it.hasNext) { val p = it.next(); b += p }
        b.result()
      } finally s.close()
    }
    require(!top.exists(p => Files.isDirectory(p) &&
        p.getFileName.toString.contains("=")),
      s"adopt $table: hive-partitioned subdirectories found — adopt " +
        "the leaf directories individually, or read-and-create for " +
        "a partitioned table")
    val files = top.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.sortBy(_.getFileName.toString)
    require(files.nonEmpty,
      s"adopt $table: no top-level .parquet files to adopt")
    // identities FREEZE at listing time; the post-scan re-check
    // below refuses a file mutated during adoption
    val ids0 = files.map(p => p -> copyLedgerId(p)).toMap
    val df = spark.read.parquet(files.map(_.toString): _*)
    require(df.columns.contains(keyCol),
      s"adopt $table: key column '$keyCol' not in the files' " +
        s"schema: ${df.schema.toDDL}")
    // per-file stats in ONE scan — no rewrite, no footer parsing;
    // names decode through [[fileNameOf]], the one URI→name
    // definition (an ad-hoc URLDecoder would turn '+' into space
    // and silently drop the file from adoption)
    val stats = df.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"),
        min(col(keyCol)).cast("long").as("mn"),
        max(col(keyCol)).cast("long").as("mx"))
      .collect()
      .map { r =>
        fileNameOf(r.getString(0)) -> ((r.getLong(1),
          if (r.isNullAt(2)) Long.MinValue else r.getLong(2),
          if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))
      }.toMap
    // decode-drift guard: every stats name must match a listed file,
    // or a file's rows would be silently attributed nowhere
    val names = files.map(_.getFileName.toString).toSet
    stats.keys.foreach(n => require(names(n),
      s"adopt $table: stats computed for '$n' which matches no " +
        "listed file — URI/name decode drift, refusing to adopt"))
    val stageId = "adopt-" + java.util.UUID.randomUUID().toString.take(8)
    Files.createDirectories(Paths.get(table, "data", stageId))
    val adds = files.flatMap { p =>
      val name = p.getFileName.toString
      stats.get(name).filter(_._1 > 0L).map { case (n, mn, mx) =>
        Files.createLink(Paths.get(table, "data", stageId, name), p)
        AddFile(s"data/$stageId/$name", n, mn, mx)
      }
    }
    require(adds.nonEmpty,
      s"adopt $table: every candidate file is empty — nothing to adopt")
    // mutation re-check (copyInto's torn-read discipline): the stats
    // scan read the bytes, the hard links share the inode — a file a
    // legacy writer appended to DURING adoption would carry stale
    // manifest stats forever, and the ledger would record the final
    // identity so incremental copy_into could never repair it
    files.foreach { p =>
      require(copyLedgerId(p) == ids0(p),
        s"adopt $table: source file $p changed while being adopted — " +
          "stop the writer (or adopt once it has finished) and re-run")
    }
    // seed the COPY LEDGER with every adopted file's LISTING-TIME
    // identity (the [[copyLedgerId]] scheme), so
    // `copy_into(dir, dir, 'parquet')` afterwards is INCREMENTAL
    // adoption: late-arriving top-level files load, already-adopted
    // ones skip — without this, a post-adoption copy_into would
    // double-load everything the create commit already references
    val ledger = files.map(p => ids0(p) -> 1L)
    val v = commit(table, 0L, "create", adds, Nil, df.schema.toDDL,
      keyCol, txns = ledger)
    (v, adds.size, adds.map(_.rows).sum)
  }

  /** Create as version 1 with ZERO data files — the catalog's
    * `CREATE TABLE`: schema, key column and (identity) partition
    * columns are declared up front, the first INSERT/append brings
    * the data. Same create-is-not-an-upsert rule as [[create]]. */
  def createEmpty(table: String, schemaDdl: String, keyCol: String,
      partCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): Long = {
    require(latestVersion(table) == 0L, s"$table already exists")
    requireNoViewShadow(table)
    val schema = StructType.fromDDL(schemaDdl)
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in schema: $schemaDdl")
    if (partCols.nonEmpty) checkPartCols(schemaDdl, partCols)
    // generated columns validate at DECLARATION (the Delta posture):
    // the name must be a non-key schema column and the expression
    // must analyze against the schema and be deterministic — a
    // nondeterministic generator would store irreproducible values
    // on the fill path and always fail its own audit on the other
    genColsOf(props).foreach { case (c, sql) =>
      require(schema.fieldNames.contains(c),
        s"gencol.$c: no such column in $schemaDdl")
      require(c != keyCol, s"gencol.$c: the key column cannot be generated")
      // analyze against the schema MINUS the other declared generated
      // columns: generation expressions must reference only REGULAR
      // columns — a gencol-on-gencol dependency would fold in
      // declaration order, not dependency order, and wedge every
      // omit-path write
      val others = genColsOf(props).map(_._1).toSet - c
      val probeSchema = StructType(schema.filterNot(f => others(f.name)))
      val probe = SparkSession.active.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), probeSchema)
        .select(expr(sql))
      probe.schema // force analysis: unknown columns / bad SQL throw here
      require(probe.queryExecution.analyzed.expressions.forall(_.deterministic),
        s"gencol.$c: generation expression must be deterministic: $sql")
    }
    identityOf(props).foreach { case (c, start, step) =>
      require(schema.fieldNames.contains(c),
        s"identity.$c: no such column in $schemaDdl")
      require(schema(c).dataType ==
        org.apache.spark.sql.types.LongType,
        s"identity.$c must be BIGINT, got ${schema(c).dataType.sql}")
      require(!props.contains(s"gencol.$c"),
        s"identity.$c: a column cannot be both IDENTITY and generated")
      require(start >= 0L, s"identity.$c: negative start $start")
      require(step != 0L,
        s"identity.$c: INCREMENT BY 0 would assign every row the " +
          "same id")
    }
    commit(table, 0L, "create", Nil, Nil, schemaDdl, keyCol,
      partCols = partCols,
      props = if (props.isEmpty) None else Some(props))
  }

  /** Replace the table's PROPERTY MAP as one metadata-only commit
    * (the ALTER TABLE SET/UNSET TBLPROPERTIES backend): full-map
    * replacement semantics, auditable in history like any commit,
    * refuses to rebase under a concurrent writer (snapshot-derived
    * metadata must not silently overwrite a race winner's). */
  def setProps(table: String, props: Map[String, String]): Long = {
    val snap = state(table)
    // generated columns are a CREATE-time declaration: files already
    // active were not produced by the expression, so declaring one
    // here would instantly contradict the audit it installs
    val newGens = genColsOf(props).toSet -- genColsOf(snap.props).toSet
    require(newGens.isEmpty,
      s"$table: generated columns are declared at CREATE, not via " +
        s"SET TBLPROPERTIES (new: ${newGens.map(_._1).mkString(", ")})")
    props.foreach { case (k, v) if k.startsWith("identity.") =>
      try identityOf(Map(k -> v))
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$table: $k: unparseable identity value '$v' — expected " +
            "'<next>' or '<next>:<step>'")
      }
    case _ => ()
    }
    val oldIds = identityOf(snap.props)
      .map { case (c, n, s) => c -> (n, s) }.toMap
    val newIds = identityOf(props).map(_._1).toSet -- oldIds.keySet
    require(newIds.isEmpty,
      s"$table: identity columns are declared at CREATE, not via " +
        s"SET TBLPROPERTIES (new: ${newIds.mkString(", ")})")
    // UNSET is refused too: every ALWAYS refusal and the allocator's
    // high-water mark key off these properties — dropping one would
    // open explicit-id writes AND lose the mark irrecoverably (the
    // newIds guard above refuses re-declaration), and a dropped
    // gencol declaration would orphan its synthetic audit while old
    // files still claim the generation contract
    val droppedIds = oldIds.keySet -- identityOf(props).map(_._1).toSet
    require(droppedIds.isEmpty,
      s"$table: identity declarations cannot be UNSET " +
        s"(${droppedIds.mkString(", ")}) — the allocator state would " +
        "be irrecoverably lost")
    val droppedGens = genColsOf(snap.props).map(_._1).toSet --
      genColsOf(props).map(_._1).toSet
    require(droppedGens.isEmpty,
      s"$table: generated-column declarations cannot be UNSET " +
        s"(${droppedGens.mkString(", ")}) — existing files were " +
        "produced under the generation contract")
    // MUTATING an existing identity entry re-runs the create-time
    // validation plus a no-rewind rule: the allocator's uniqueness
    // invariant rests on the stored next-value never re-entering
    // already-assigned territory and the step never being zero — a
    // rewound mark or a zero/sign-flipped step set through
    // TBLPROPERTIES would mint duplicate ids on the very next
    // appendIdentity, bypassing every write-path guard
    identityOf(props).foreach { case (c, next, step) =>
      require(step != 0L,
        s"$table: identity.$c: INCREMENT BY 0 would assign every row " +
          "the same id")
      val (cur, curStep) = oldIds(c)
      require(java.lang.Long.signum(step) == java.lang.Long.signum(curStep),
        s"$table: identity.$c: changing the allocation direction " +
          s"(step $curStep -> $step) would re-enter assigned ids")
      require(if (curStep > 0L) next >= cur else next <= cur,
        s"$table: identity.$c: next value $next rewinds the high-water " +
          s"mark $cur — already-assigned ids would be re-minted as " +
          "duplicates")
    }
    commit(table, snap.version, "setprops", Nil, Nil, "", "",
      props = Some(props))
  }

  /** IDENTITY columns declared on the table: `identity.<col>` →
    * `<next>` or `<next>:<step>` — the next value to assign and the
    * INCREMENT BY step (1 when omitted — the common form; START WITH
    * is simply the declared initial `<next>`). Write paths that take
    * ARBITRARY new rows refuse on identity tables and route to
    * [[appendIdentity]]; copy-on-write rewrites of EXISTING rows
    * (delete/compact/DV update) pass through — their ids were
    * already assigned. Returns (col, next, step). */
  private def identityOf(props: Map[String, String])
      : Seq[(String, Long, Long)] =
    props.toSeq.collect { case (k, v) if k.startsWith("identity.") =>
      val cut = v.indexOf(':')
      val (next, step) =
        if (cut < 0) (v.toLong, 1L)
        else (v.substring(0, cut).toLong, v.substring(cut + 1).toLong)
      (k.stripPrefix("identity."), next, step) }.sortBy(_._1)

  private def identityProp(next: Long, step: Long): String =
    if (step == 1L) next.toString else s"$next:$step"

  /** The ONE freeze-then-assign allocation tail every identity write
    * surface shares ([[appendIdentity]], [[completeStaged]], the API
    * [[merge]]): append `hwm + i*step` as column `c` to a frame that
    * does NOT yet carry it. Callers localCheckpoint their input first
    * — zipWithIndex and the downstream stage jobs each re-evaluate
    * the frame, and without the freeze a source changing between
    * evaluations would let assigned ids diverge from the advanced
    * mark. Kept in one place so the allocator invariant can never
    * drift between surfaces. */
  private def allocateIds(spark: SparkSession, nulls: DataFrame,
      c: String, hwm: Long, step: Long): DataFrame = {
    val rdd = nulls.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (hwm + i * step)) }
    spark.createDataFrame(rdd, StructType(nulls.schema.fields :+
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType)))
  }

  private def requireNoIdentity(snap: Snapshot, op: String): Unit =
    require(identityOf(snap.props).isEmpty,
      s"$op: the table declares a GENERATED ALWAYS AS IDENTITY column — " +
        "new rows must route through appendIdentity, which allocates ids " +
        "transactionally")

  /** GENERATED ALWAYS AS IDENTITY append (Delta's identity-column
    * lineage): assign `hwm + rowIndex` to the declared identity
    * column and advance the high-water mark IN THE SAME COMMIT — the
    * props update makes the commit metadata-bearing, so a concurrent
    * allocator ABORTS loudly instead of rebasing into duplicate ids
    * (Delta pays the same serialization for the same guarantee;
    * plain appends on non-identity tables keep their rebase). Ids
    * are unique and increasing across commits, dense within one (the
    * zipWithIndex pass costs one extra job over the batch, priced at
    * the commit). Explicit values are refused — ALWAYS, not BY
    * DEFAULT. Assignment order follows the frame's partition order:
    * sort the frame first if id order must mirror a column. */
  def appendIdentity(df: DataFrame, table: String, numFiles: Int): Long = {
    val snap = state(table)
    val ids = identityOf(snap.props)
    require(ids.size == 1,
      s"appendIdentity: table declares ${ids.size} identity columns (need 1)")
    val (c, hwm, step) = ids.head
    require(!df.columns.contains(c),
      s"appendIdentity: '$c' is GENERATED ALWAYS AS IDENTITY — explicit " +
        "values are refused")
    val spark = df.sparkSession
    val schema = StructType.fromDDL(snap.schemaDdl)
    // FREEZE the batch before assignment: zipWithIndex and the
    // downstream validate/stage jobs each re-evaluate their input,
    // and a source that changes between evaluations (new files, any
    // nondeterminism) would let the assigned ids diverge from the
    // advanced mark — duplicates on the next allocation. One eager
    // checkpoint makes every pass read the same materialized rows.
    val frozen = df.localCheckpoint(true)
    val assigned = withWriteDefaults(
      allocateIds(spark, frozen, c, hwm, step), snap)
      .select(schema.fieldNames.map(col): _*)
    validateChecks(assigned, checksOf(snap.props),
      s"appendIdentity into $table")
    val adds = stageAs(snap, assigned, table, numFiles)
    // advance the mark by what was actually STAGED — the commit and
    // the data cannot disagree
    val n = adds.map(_.rows).sum
    commit(table, snap.version, "append", adds, Nil, "", "",
      props = Some(snap.props +
        (s"identity.$c" -> identityProp(hwm + n * step, step))))
  }

  /** Completion pass for EXTERNALLY staged commits on tables declaring
    * IDENTITY or GENERATED columns — the device that lets the DSv2
    * streaming sink and the group-based SQL MERGE/UPDATE rewrite land
    * on declaring tables with no side door around the allocator
    * (Delta assigns identity on exactly these two surfaces).
    * Externally staged files arrive as raw query rows, so the ALWAYS
    * columns finish HERE, inside the same transaction that advances
    * the high-water mark:
    *
    *  - rows whose identity value is NULL (a sink micro-batch that
    *    omitted the column; a MERGE insert arm) allocate
    *    `hwm + i*step` under the same freeze-then-assign discipline
    *    as [[appendIdentity]] — the staged bytes on disk ARE the
    *    freeze — and the commit advances the mark (metadata-bearing,
    *    so a racing allocator aborts instead of rebasing into
    *    duplicate ids);
    *  - rows CARRYING an identity value are legal only on the
    *    REWRITE path and only as the pre-image's own ids: every
    *    carried id must appear live in the files the commit removes,
    *    and no id may appear twice among the staged rows. Together
    *    these PROVE the rewrite id-preserving — a MERGE arm assigning
    *    the column is caught even if analysis-time refusals were
    *    bypassed (a minted id is absent from the pre-image; a stolen
    *    one either collides inside the sliver or is absent from it);
    *  - generated columns the writer OMITTED (absent from the staged
    *    parquet footer; the explicit-schema read null-fills them)
    *    recompute from their declared expression — Delta's
    *    compute-on-omit contract — and the finished rows re-validate
    *    against EVERY declared check before staging.
    *
    * Only files needing work re-stage (a merge whose inserts touch 1%
    * of the sliver re-stages ~1% of its files); superseded staged
    * files are never referenced by a manifest and vacuum as orphans.
    * Cost: one accounting agg over the staged sliver, (rewrite path)
    * two id-audit joins over it, and one read+write of the needy
    * files — proportional to the commit, never the table. Returns
    * (completed adds, props advance when ids were allocated). */
  private def completeStaged(spark: SparkSession, table: String,
      snap: Snapshot, adds: Seq[AddFile],
      removedFiles: Option[Seq[AddFile]], op: String)
      : (Seq[AddFile], Option[Map[String, String]]) = {
    val ids = identityOf(snap.props)
    val gens = genColsOf(snap.props)
    if ((ids.isEmpty && gens.isEmpty) || adds.isEmpty) return (adds, None)
    require(ids.size <= 1,
      s"$op: table declares ${ids.size} identity columns (at most 1)")
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    // the staged parquet footers say which declared columns each
    // writer actually wrote — an omitted column null-fills through
    // the explicit-schema read and must be FINISHED, a written one
    // passes through to the audit gates. Presence is PER FILE
    // (commitStagedAppend/commitStagedRewrite are public APIs — a
    // heterogeneous sliver where one file carries the gencol and
    // another omits it must finish exactly the omitting files, never
    // land silent null gencols or clobber supplied, audited values):
    // driver-side footer reads, O(files-per-commit).
    val presentByFile: Map[String, Set[String]] = adds.map { a =>
      fileIdOf(a.relPath) -> spark.read.parquet(
          Paths.get(table, a.relPath).toString)
        .schema.fieldNames.map(lc).toSet
    }.toMap
    // a gencol's omitting-file set; empty = written everywhere
    val genOmittedIn: Map[String, Set[String]] = gens.map { case (g, _) =>
      g -> presentByFile.collect {
        case (f, present) if !present(lc(snap.physName(g))) => f }.toSet
    }.toMap
    val omittedGens = gens.filter { case (g, _) =>
      genOmittedIn(g).nonEmpty }
    // SUPPLIED-value audit over the WHOLE sliver: a file that WROTE a
    // gencol must satisfy the synthetic definition even when it needs
    // no other finishing — otherwise a heterogeneous sliver lands a
    // wrong supplied value in a byte-untouched file while the
    // omitting files are finished around it. One aggregation over
    // only the staged files; rows from files that OMITTED a column
    // are excluded for that column (their null-fill is the
    // completion pass's job, not a violation).
    if (gens.nonEmpty) {
      val segsA = split(input_file_name(), "/")
      val audit = readFiles(spark, table, snap, adds)
        .withColumn("__cf",
          concat(element_at(segsA, -2), lit("/"), element_at(segsA, -1)))
      val schemaA = StructType.fromDDL(snap.schemaDdl)
      val cells = gens.map { case (g, sql) =>
        val omitted = genOmittedIn(g).toSeq.sorted
        val inOmitted =
          if (omitted.isEmpty) lit(false)
          else col("__cf").isin(omitted: _*)
        sum(when(!inOmitted &&
          !(col(g) <=> expr(sql).cast(schemaA(g).dataType)), 1L)
          .otherwise(0L))
      }
      val row = audit.agg(cells.head, cells.tail: _*).collect().head
      gens.zipWithIndex.foreach { case ((g, sql), i) =>
        if (!row.isNullAt(i) && row.getLong(i) > 0L)
          throw new IllegalArgumentException(
            s"$op: ${row.getLong(i)} staged row(s) violate the " +
              s"generated-column definition of '$g' ($sql) — nothing " +
              "was committed")
      }
    }
    val idInfo = ids.headOption
    val frame0 = readFiles(spark, table, snap, adds)
    // identity accounting at file grain: one agg over the staged sliver
    val acct: Seq[(String, Long, Long)] = idInfo match {
      case None => Nil
      case Some((c, _, _)) =>
        frame0.withColumn("__f", input_file_name())
          .groupBy("__f")
          .agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("nulls"),
            count(lit(1)).as("rows"))
          .collect()
          .map(r => (fileIdOfUri(r.getString(0)), r.getLong(1),
            r.getLong(2))).toSeq
    }
    val nAlloc = acct.map(_._2).sum
    val carriedTotal = acct.map(x => x._3 - x._2).sum
    idInfo.foreach { case (c, _, _) =>
      if (carriedTotal > 0L) removedFiles match {
        case None => throw new IllegalArgumentException(
          s"$op: $carriedTotal staged rows carry explicit values for " +
            s"identity column '$c' — GENERATED ALWAYS: omit the column " +
            "and the table allocates ids transactionally")
        case Some(rf) =>
          val carried = frame0.where(col(c).isNotNull).select(col(c))
          val dup = carried.groupBy(col(c)).count()
            .where(col("count") > 1L).count()
          require(dup == 0L,
            s"$op: staged rows repeat $dup identity value(s) of '$c' — " +
              "the rewrite is not id-preserving")
          val pre = readFiles(spark, table, snap, rf)
            .select(col(c)).where(col(c).isNotNull)
          val strays = carried.join(pre, Seq(c), "left_anti").count()
          require(strays == 0L,
            s"$op: $strays staged rows carry values of identity column " +
              s"'$c' absent from the rewritten files' pre-image — " +
              "UPDATE/MERGE arms must not assign a GENERATED ALWAYS AS " +
              "IDENTITY column")
      }
    }
    val needyIdF: Set[String] =
      acct.filter(_._2 > 0L).map(_._1).toSet
    // needy = files that must be FINISHED: null ids to allocate, or a
    // gencol THAT FILE omitted. A file that wrote every declared
    // column and carries no null id passes through byte-untouched.
    val genNeedyF: Set[String] = genOmittedIn.values.flatten.toSet
    val needy = adds.filter(a => {
      val f = fileIdOf(a.relPath)
      needyIdF(f) || genNeedyF(f)
    })
    if (needy.isEmpty) return (adds, None)
    val clean = adds.filterNot(a => needy.exists(_.relPath == a.relPath))
    val schema = StructType.fromDDL(snap.schemaDdl)
    // per-row file id (dir/name, the fileIdOf rendering) — computed
    // BEFORE the checkpoint freeze so gencol fills stay per-file:
    // only rows from files that OMITTED the column recompute; rows
    // whose writer supplied it keep their values for the synthetic-
    // CHECK audit (silently recomputing would mask a wrong value)
    val segs = split(input_file_name(), "/")
    val frame = readFiles(spark, table, snap, needy)
      .withColumn("__cf",
        concat(element_at(segs, -2), lit("/"), element_at(segs, -1)))
      .localCheckpoint(true)
    val withGens = omittedGens.foldLeft(frame) { case (d, (g, sql)) =>
      val omitted = genOmittedIn(g).toSeq.sorted
      d.withColumn(g, when(col("__cf").isin(omitted: _*),
        expr(sql).cast(schema(g).dataType)).otherwise(col(g))) }
    val out = idInfo match {
      case Some((c, hwm, step)) if nAlloc > 0L =>
        val keep = withGens.where(col(c).isNotNull)
        val nulls = withGens.where(col(c).isNull).drop(c)
        val assigned = allocateIds(spark, nulls, c, hwm, step)
        keep.select(schema.fieldNames.map(col): _*)
          .unionByName(assigned.select(schema.fieldNames.map(col): _*))
      case _ => withGens.select(schema.fieldNames.map(col): _*)
    }
    validateChecks(out, checksOf(snap.props), op)
    val adds2 = stageAs(snap, out, table, math.max(1, needy.size))
    val propsOpt = idInfo.collect {
      case (c, hwm, step) if nAlloc > 0L =>
        snap.props + (s"identity.$c" -> identityProp(hwm + nAlloc * step, step))
    }
    (clean ++ adds2, propsOpt)
  }

  /** Append-only commit — the reference's daily load shape. Never
    * conflicts: a lost race rebases onto the new latest version. */
  def append(df: DataFrame, table: String, numFiles: Int): Long = {
    val snap = state(table)
    requireNoIdentity(snap, s"append into $table")
    val df1 = withWriteDefaults(df, snap)
    validateChecks(df1, checksOf(snap.props), s"append into $table")
    val adds = stageAs(snap, df1, table, numFiles)
    commit(table, snap.version, "append", adds, Nil, "", "")
  }

  /** Idempotent append for streaming ingest — the Delta
    * txnAppId/txnVersion device. The producer (a foreachBatch sink)
    * stamps each append with its application id and a MONOTONIC
    * batch version; an append whose version is ≤ the highest already
    * committed for that id is dropped, so a micro-batch redelivered
    * after checkpoint loss lands exactly once. The pre-check reads
    * only the replayed manifest (no data I/O); the race where two
    * deliveries pass the pre-check together is closed inside
    * [[commit]]'s collision path, which re-checks the txn ledger
    * before rebasing. Returns the table version (unchanged when the
    * batch was a duplicate). */
  def appendTxn(df: DataFrame, table: String, numFiles: Int,
      appId: String, txnVersion: Long): Long = {
    val snap = state(table)
    requireNoIdentity(snap, s"appendTxn into $table")
    if (snap.txns.get(appId).exists(_ >= txnVersion)) return snap.version
    val df1 = withWriteDefaults(df, snap)
    validateChecks(df1, checksOf(snap.props), s"appendTxn into $table")
    val adds = stageAs(snap, df1, table, numFiles)
    commit(table, snap.version, "append", adds, Nil, "", "",
      txn = Some((appId, txnVersion)))
  }

  /** Idempotent bulk file load — Delta's `COPY INTO` shape: load
    * every file under `srcDir` not already loaded into `table`, in
    * ONE atomic commit, and remember what was loaded in that same
    * commit's txn ledger, so a re-run (or a crashed-and-retried
    * orchestrator job) is a no-op. File identity is
    * (name, size, mtime) — object stores treat data files as
    * immutable, so a REWRITTEN file (same name, new bytes) is a NEW
    * file and loads again (disclosed; the safe direction, never
    * silently stale). One `copy_<md5(identity)>` ledger entry per
    * source file, all carried by the loading commit itself:
    * load-and-remember is one transaction, so the crash window
    * between "rows landed" and "ledger updated" that double-loads
    * in ledger-on-the-side designs cannot exist. Skipping is decided
    * from the replayed manifest alone (no data I/O for loaded
    * files); the race where two concurrent copies pass the pre-check
    * together closes in [[commit]]'s collision path — fully landed
    * ledger → duplicate delivery, dropped; PARTIALLY landed →
    * recompute the fresh set here and retry. Source columns align
    * to the table schema BY NAME with casts (a CSV's string
    * timestamps land as timestamps); columns absent from the source
    * schema fall to their declared defaults / generated-column
    * expressions; extra columns refuse loudly (the INSERT
    * contract); CHECK constraints gate the load like every other
    * write path. Identity tables refuse (allocation needs the
    * append-side machinery — same contract as [[append]]). Returns
    * (version, files_loaded, files_skipped, rows_loaded). At 100 TB:
    * an ingest directory of thousands of files costs one listing
    * plus one read of the FRESH files only, and the ledger rides the
    * checkpointed manifest — O(loaded files) metadata, the grain the
    * active set already pays. */
  /** ONE definition of the copy-ledger file identity —
    * `copy_<md5(name|size|mtime)[0,16)>`. [[copyInto]]'s listing,
    * its torn-read re-check and [[adopt]]'s ledger seeding all
    * depend on this staying bit-identical: drift in any one site
    * silently breaks either exactly-once skipping (double loads) or
    * incremental adoption (reload of everything). */
  private def copyLedgerId(p: Path): String = {
    val ident = s"${p.getFileName}|${Files.size(p)}|" +
      s"${Files.getLastModifiedTime(p).toMillis}"
    val md = java.security.MessageDigest.getInstance("MD5")
    "copy_" + md.digest(ident.getBytes(UTF_8))
      .map("%02x".format(_)).mkString.take(16)
  }

  def copyInto(spark: SparkSession, table: String, srcDir: String,
      format: String, numFiles: Int = 1,
      pattern: String = ""): (Long, Int, Int, Long) = {
    val rx = if (pattern.isEmpty) None else Some(pattern.r.pattern)
    var attempts = 0
    while (true) {
      val snap = state(table)
      requireNoIdentity(snap, s"copyInto $table")
      val listed = {
        val s = Files.list(Paths.get(srcDir))
        try {
          val it = s.iterator()
          val b = Vector.newBuilder[Path]
          while (it.hasNext) { val p = it.next(); b += p }
          b.result()
        } finally s.close()
      }.filter { p =>
        val n = p.getFileName.toString
        // Spark's metadata-file convention: _SUCCESS markers, .crc
        // droppings and other _/. prefixed files are never data
        Files.isRegularFile(p) && !n.startsWith("_") &&
          !n.startsWith(".") && rx.forall(_.matcher(n).matches())
      }.sortBy(_.getFileName.toString)
      val withIds = listed.map(p => p -> copyLedgerId(p))
      val fresh = withIds.filterNot { case (_, id) => snap.txns.contains(id) }
      if (fresh.isEmpty) return (snap.version, 0, withIds.size, 0L)
      val raw = spark.read.format(format)
        .option("header", "true").option("inferSchema", "true")
        .load(fresh.map(_._1.toString): _*)
      val schema = StructType.fromDDL(snap.schemaDdl)
      val extra = raw.columns.filterNot(schema.fieldNames.contains)
      require(extra.isEmpty,
        s"copyInto $table: source carries column(s) " +
          s"${extra.mkString(", ")} the table does not declare — " +
          "ALTER TABLE first, or project them away in the source")
      val cast = raw.select(raw.columns.map(c =>
        col(c).cast(schema(c).dataType).as(c)): _*)
      val df1 = withWriteDefaults(cast, snap)
      val missing = schema.fieldNames.filterNot(df1.columns.contains)
      require(missing.isEmpty,
        s"copyInto $table: source is missing column(s) " +
          s"${missing.mkString(", ")} with no declared default")
      val ordered = df1.select(schema.fieldNames.map(col(_)).toSeq: _*)
      validateChecks(ordered, checksOf(snap.props), s"copyInto $table")
      val adds = stageAs(snap, ordered, table, numFiles)
      // the ledger identity was computed at LISTING time but the
      // bytes were read during staging — a file mutated in between
      // (a writer still appending to it) would land partial content
      // under an identity its final form no longer carries, and the
      // finished file would then RELOAD as "new" and duplicate.
      // Immutable-landed-files is the contract; a caught violation
      // refuses loudly instead of ledgering the torn read.
      fresh.foreach { case (p, id0) =>
        require(copyLedgerId(p) == id0,
          s"copyInto $table: source file $p changed while being " +
            "loaded — landed files must be immutable; re-run once " +
            "the writer has finished")
      }
      try {
        val v = commit(table, snap.version, "append", adds, Nil, "", "",
          txns = fresh.map(_._2 -> 1L))
        return (v, fresh.size, withIds.size - fresh.size,
          adds.map(_.rows).sum)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // partial ledger collision: a concurrent copy landed SOME
          // of these files — recompute the fresh set and retry (the
          // staged files of the lost attempt are vacuum-reclaimable
          // garbage, never table rows)
          attempts += 1
          if (attempts >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish EXTERNALLY staged files (already written under
    * `<table>/data/…` by a connector-layer writer that owns its own
    * file I/O — the DSv2 streaming sink) as ONE append commit, with
    * the same optional txn idempotence as [[appendTxn]]. The caller
    * supplies per-file stats it computed while writing; files of a
    * dropped duplicate delivery stay on disk as unreferenced
    * garbage, which [[vacuumList]]'s grace-gated sweep reclaims —
    * never as table rows. On IDENTITY/generated-column tables the
    * commit runs [[completeStaged]]: null ids allocate under the
    * freeze-then-assign discipline with the mark advanced in THIS
    * commit (per micro-batch on the streaming sink — the txn ledger
    * and the allocation are one transaction), omitted generated
    * columns compute, and explicit identity values refuse (ALWAYS). */
  def commitStagedAppend(table: String, adds: Seq[AddFile],
      txn: Option[(String, Long)] = None, specId: Int = 0): Long = {
    val snap = state(table)
    txn.foreach { case (app, tv) =>
      if (snap.txns.get(app).exists(_ >= tv)) return snap.version
    }
    // specId is the WRITER's era (read when its partCols were) — a
    // rebase over a concurrent spec change keeps the honest label
    val stamped =
      adds.map(a => if (a.specId == specId) a else a.copy(specId = specId))
    val (completed, propsOpt) = completeStaged(SparkSession.active,
      table, snap, stamped, None, s"staged append into $table")
    commit(table, snap.version, "append", completed,
      Nil, "", "", txn = txn, props = propsOpt)
  }

  /** Publish EXTERNALLY staged files as ONE copy-on-write REWRITE
    * commit — the row-level-operation (SQL UPDATE / MERGE / rewriting
    * DELETE) counterpart of [[commitStagedAppend]]: `removes` are the
    * files the operation's scan actually read (their surviving and
    * updated rows are in `adds`), so the commit replaces exactly the
    * rewritten sliver. Conflict rules are [[commit]]'s: a concurrent
    * append rebases under it; a concurrent rewrite of any removed
    * file aborts loudly (retrying would resurrect deleted rows). */
  def commitStagedRewrite(table: String, adds: Seq[AddFile],
      removes: Seq[String], op: String, specId: Int = 0): Long = {
    val snap = state(table)
    val stamped =
      adds.map(a => if (a.specId == specId) a else a.copy(specId = specId))
    // DELETE is id-preserving by construction (it re-stages surviving
    // EXISTING rows untouched) and skips the completion pass; SQL
    // UPDATE/MERGE rows run [[completeStaged]] — carried ids must be
    // the pre-image's own (audited against the removed files), null
    // ids (MERGE insert arms) allocate with the mark advanced in the
    // same commit
    val (completed, propsOpt) =
      if (op == "delete") (stamped, None)
      else {
        val rs = removes.toSet
        completeStaged(SparkSession.active, table, snap, stamped,
          Some(snap.active.filter(a => rs(a.relPath))),
          s"staged $op into $table")
      }
    commit(table, snap.version, op, completed, removes, "", "",
      props = propsOpt)
  }

  /** `INSERT OVERWRITE … WHERE`-shaped commit over EXTERNALLY staged
    * files (the DSv2 `SupportsOverwrite` write): in ONE manifest,
    * delete every active row matching `cond` (copy-on-write — only
    * files holding a match rewrite, their survivors re-stage) and
    * publish `extAdds`. Spark's OverwriteByExpression contract, which
    * unlike [[replaceWhere]] does NOT require the incoming rows to
    * satisfy `cond`: the SQL static-partition form fills the spec
    * value into every row anyway, and the general
    * `df.writeTo(t).overwrite(expr)` form is delete-then-insert by
    * definition. `pruneCandidates` narrows the matched-file scan
    * ([[touchedFiles]] over partition/key stats) — files outside it
    * provably hold no match. Commits even when nothing matches. */
  def overwriteWhereStaged(spark: SparkSession, table: String,
      cond: Column, extAdds: Seq[AddFile], numFiles: Int,
      pruneCandidates: Snapshot => Seq[AddFile] = _.active,
      extSpecId: Int = 0): Long = {
    val snap = state(table)
    // INSERT OVERWRITE brings ARBITRARY new rows — on an identity
    // table it would smuggle explicit ids past the ALWAYS refusal
    // without advancing the high-water mark
    requireNoIdentity(snap, s"staged overwrite into $table")
    val stamped = extAdds.map(a =>
      if (a.specId == extSpecId) a else a.copy(specId = extSpecId))
    val touched =
      touchedFiles(spark, table, snap, pruneCandidates(snap))(_.where(cond))
    val survAdds =
      if (touched.isEmpty) Nil
      else stageAs(snap, readFiles(spark, table, snap, touched)
        .where(!coalesce(cond, lit(false))), table, numFiles)
    commit(table, snap.version, "replace", survAdds ++ stamped,
      touched.map(_.relPath), "", "")
  }

  /** Dynamic partition overwrite over EXTERNALLY staged files (the
    * DSv2 `SupportsDynamicOverwrite` write — Spark's
    * `partitionOverwriteMode=dynamic` INSERT OVERWRITE): replace
    * EXACTLY the partitions present in the incoming data, leave every
    * other partition untouched. `incomingTuples` comes from the task
    * writers' own per-file stats, so deciding WHICH partitions die is
    * driver-side metadata work; the per-file tuple stats then bound
    * the copy-on-write to files that provably hold a doomed tuple
    * (a file whose stats show none is never read — at 100 TB,
    * restating one day touches one day's files). Files without tuple
    * stats (pre-partitioning writers) rewrite conservatively. */
  def overwritePartitionsStaged(spark: SparkSession, table: String,
      incomingTuples: Set[Seq[String]], extAdds: Seq[AddFile],
      numFiles: Int, extSpecId: Int = 0): Long = {
    val snap = state(table)
    require(snap.partCols.nonEmpty,
      s"$table is not partitioned — dynamic partition overwrite needs " +
        "PARTITIONED BY; use the expression overwrite instead")
    // incomingTuples are POSITIONAL under the writer-era spec; if a
    // set_partition_spec landed between the DSv2 write build and this
    // commit, zipping them with the CURRENT partCols would silently
    // reinterpret the values and overwrite the wrong partitions. Abort
    // loudly instead (same posture as metadata-bearing commit rebases).
    require(extSpecId == snap.specId,
      s"$table: dynamic partition overwrite was built under partition " +
        s"spec $extSpecId but the table is now at spec ${snap.specId} — " +
        "a spec evolution raced this write; re-run the overwrite")
    if (incomingTuples.isEmpty) return snap.version // empty insert: no-op
    val schema = StructType.fromDDL(snap.schemaDdl)
    val doomed = (a: AddFile) => a.parts.isEmpty ||
      a.specId != snap.specId || // other-era stats: rewrite conservatively
      a.parts.exists(p => incomingTuples(p.values))
    val cond = incomingTuples.toSeq.sortBy(_.mkString("/")).map { t =>
      snap.partCols.zip(t).map { case (c, v) =>
        if (v == NullPartValue) col(partSourceCol(c)).isNull
        else partValueCol(c, schema) <=> lit(v)
      }.reduce(_ && _)
    }.reduce(_ || _)
    overwriteWhereStaged(spark, table, cond, extAdds, numFiles,
      pruneCandidates = s => s.active.filter(doomed),
      extSpecId = extSpecId)
  }

  /** `TRUNCATE TABLE`: ONE commit removing every active file — the
    * logical delete-all, with time travel intact (data files are
    * untouched; older versions keep reading them until vacuum). */
  def truncateAll(table: String): Long = {
    val snap = state(table)
    commit(table, snap.version, "truncate", Nil,
      snap.active.map(_.relPath), "", "")
  }

  /** RESTORE the table to the state of `toVersion` as ONE NEW
    * commit — the Delta-lineage `RESTORE TABLE … TO VERSION AS OF`
    * verb: history moves FORWARD (the restore is itself a version,
    * auditable and itself restorable), only the file-set delta is
    * touched (files active in both versions are not re-listed), and
    * the old schema/key/partition declaration comes back with the
    * data. Metadata-bearing, so a concurrent commit aborts the
    * restore loudly instead of rebasing under it (see [[commit]]).
    * Fails fast — before committing anything — if vacuum already
    * reclaimed a data file the target version needs. Returns
    * (newVersion, filesAdded, filesRemoved). */
  def restore(table: String, toVersion: Long): (Long, Int, Int) = {
    val latest = latestVersion(table)
    require(toVersion >= 1 && toVersion <= latest,
      s"$table: cannot restore to v$toVersion — history is v1..v$latest")
    val old = state(table, toVersion)
    val cur = state(table)
    // identity includes the deletion-vector token: the same file under
    // a different DV is different logical content and must re-list
    val curIds = cur.active.map(_.contentId).toSet
    val oldIds = old.active.map(_.contentId).toSet
    val adds = old.active.filterNot(a => curIds(a.contentId))
    val removes = cur.active.filterNot(a => oldIds(a.contentId))
      .map(_.relPath)
    val gone = adds
      .flatMap(a => a.relPath +: a.dv.map(d => a.relPath + "." + d._1).toSeq)
      .filterNot(p => Files.exists(Paths.get(table, p)))
    require(gone.isEmpty,
      s"$table: cannot restore to v$toVersion — vacuum reclaimed " +
        s"${gone.size} file(s) it needs: ${gone.take(3).mkString(", ")}")
    // full metadata returns with the data — including the PROPERTY
    // MAP (behavior gates like 'delete.mode' are part of the
    // restored state, the Delta RESTORE contract)
    val v = commit(table, cur.version, "restore", adds, removes,
      old.schemaDdl, old.keyCol, bloom = old.bloom, partCols = old.partCols,
      props = Some(old.props),
      colMap = Some((old.colMap, old.droppedPhys)),
      defaults = if (old.defaults.isEmpty && cur.defaults.isEmpty) None
        else Some(old.defaults),
      pspecs = if (old.partSpecs.length > 1 || cur.partSpecs.length > 1)
        Some(old.partSpecs) else None)
    (v, adds.size, removes.size)
  }

  /** SHALLOW clone — the zero-copy table fork (Delta's CLONE verb):
    * `dst`'s v1 manifest references `src`'s CURRENT active files by
    * relative path, copying schema/key/bloom/partition declarations
    * and every file-grain stat, moving ZERO data bytes — at 100 TB a
    * clone is a driver-side metadata write. The clone then lives its
    * own life: appends/rewrites/compactions land in its OWN data dir,
    * and its vacuum can never reclaim source files structurally (the
    * reclaim walk is rooted at the clone's `data/`, where external
    * references never live). The one shared-fate hazard is the
    * lineage-standard one: vacuuming the SOURCE can reclaim files a
    * clone still references (src knows nothing of its clones — Delta
    * documents the same); clone reads then fail loudly. Deep-copy via
    * CTAS when lifetime independence matters. Returns (v1, nFiles). */
  /** Tag refs pin versions of the SOURCE's own history; forks and
    * clones renumber from v1, so inherited `tag.*` entries would pin
    * meaningless versions (and feed the vacuum pin wrong footprints).
    * The one strip rule shared by [[shallowClone]], [[deepClone]] and
    * [[branch]]. */
  private def stripTagRefs(props: Map[String, String]): Map[String, String] =
    props.filterNot(_._1.startsWith("tag."))

  /** Adopt one file into `dstTable`'s own `data/` dir by HARD LINK
    * (data + bloom + DV sidecars; zero bytes copied, unique targets —
    * stage dirs are UUID-fresh). The shared per-file body of
    * [[deepClone]]'s and [[publish]]'s parallel adoption loops, so a
    * link-semantics fix can never apply to one and miss the other. */
  private def adoptByLink(dstTable: String, srcBase: String, rel: String,
      a: AddFile, bloom: Option[(String, Int)]): AddFile = {
    val id = fileIdOf(rel) // <stage>/<name> — stages are UUID-fresh
    val target = Paths.get(dstTable, "data", id)
    Files.createDirectories(target.getParent)
    def link(suffix: String): Unit = {
      val from = Paths.get(srcBase, rel + suffix)
      if (Files.exists(from) &&
          !Files.exists(Paths.get(target.toString + suffix)))
        Files.createLink(Paths.get(target.toString + suffix), from)
    }
    link("")
    bloom.foreach { case (c, _) => link(s".$c.bloom") }
    a.dv.foreach { case (token, _) => link(s".$token") }
    a.copy(relPath = s"data/$id")
  }

  def shallowClone(src: String, dst: String): (Long, Int) = {
    require(latestVersion(dst) == 0L, s"$dst already exists")
    val s = state(src)
    Files.createDirectories(Paths.get(dst))
    val dstP = Paths.get(dst).toAbsolutePath.normalize
    val adds = s.active.map { a =>
      val abs = Paths.get(src, a.relPath).toAbsolutePath.normalize
      a.copy(relPath = dstP.relativize(abs).toString)
    }
    val v = commit(dst, 0L, "clone", adds, Nil, s.schemaDdl, s.keyCol,
      bloom = s.bloom, partCols = s.partCols,
      props = {
        val p = stripTagRefs(s.props)
        if (p.isEmpty) None else Some(p)
      },
      colMap =
        if (s.colMap.isEmpty && s.droppedPhys.isEmpty) None
        else Some((s.colMap, s.droppedPhys)),
      defaults = if (s.defaults.isEmpty) None else Some(s.defaults),
      pspecs = if (s.partSpecs.length > 1) Some(s.partSpecs) else None)
    (v, adds.size)
  }

  /** DEEP CLONE: an INDEPENDENT copy of the table's current snapshot
    * at `dst`. Unlike [[shallowClone]] — whose entries are path
    * references into the source and share its vacuum fate — every
    * active data file, bloom sidecar and deletion-vector sidecar
    * HARD-LINKS into the clone's own `data/` dir: same filesystem,
    * ZERO bytes copied, O(files) driver metadata work, yet a fully
    * independent lifecycle, because unlinking one name never reclaims
    * an inode another name still reaches — vacuuming either table
    * cannot break the other (spec-pinned both directions). Metadata
    * (schema, key, props, column mapping, defaults, spec history)
    * travels exactly as shallow clone's. A cross-filesystem deep
    * clone would have to copy bytes; this engine's warehouse is
    * single-FS (disclosed — the same constraint the WAP publish's
    * adoption step rides). Returns (cloneVersion, filesLinked). */
  def deepClone(src: String, dst: String): (Long, Int) = {
    require(latestVersion(dst) == 0L, s"$dst already exists")
    val s = state(src)
    // PARALLEL link loop: each file is 1-3 hard-link syscalls with a
    // unique target (stage dirs are UUID-fresh), so the O(files) pass
    // fans across the default pool instead of serializing ~1M
    // syscalls on one driver thread (minutes → seconds at 1M files);
    // the metadata commit below stays single-threaded
    import scala.collection.parallel.CollectionConverters._
    val parFiles = s.active.par
    parFiles.tasksupport = adoptTaskSupport
    val adds = parFiles
      .map(a => adoptByLink(dst, src, a.relPath, a, s.bloom)).seq.toSeq
    val v = commit(dst, 0L, "clone", adds, Nil, s.schemaDdl, s.keyCol,
      bloom = s.bloom, partCols = s.partCols,
      props = {
        val p = stripTagRefs(s.props)
        if (p.isEmpty) None else Some(p)
      },
      colMap =
        if (s.colMap.isEmpty && s.droppedPhys.isEmpty) None
        else Some((s.colMap, s.droppedPhys)),
      defaults = if (s.defaults.isEmpty) None else Some(s.defaults),
      pspecs = if (s.partSpecs.length > 1) Some(s.partSpecs) else None)
    (v, adds.size)
  }

  /** Fixed pool for the hard-link adoption loops (deepClone /
    * publish): per-file unique-target syscall work — a SMALL pool of
    * its own, because the default ForkJoinPool is shared with Spark's
    * local-mode executor threads and contention there made the r12
    * `.par` loops slower than sequential on busy hosts (the q495
    * watch item). 8 link syscalls in flight saturate a local disk's
    * metadata ops without fighting the query pool. */
  private lazy val adoptTaskSupport =
    new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(8))

  // ------------------------------------------------- write-audit-publish

  private def branchPath(table: String, name: String): String = {
    // '.' and '..' pass the token regex but are PATH components:
    // '_branches/..' resolves to the table root itself, and a
    // dropBranch there would Files.walk-delete the whole table
    require(name.matches("[A-Za-z0-9._-]{1,64}") &&
        name != "." && name != "..",
      s"branch name must be token-shaped: '$name'")
    Paths.get(table, "_branches", name).toString
  }

  /** Create BRANCH `name` — a zero-copy fork of the table's current
    * snapshot under `<table>/_branches/<name>` (the [[shallowClone]]
    * mechanics, plus `branch.of`/`branch.base` fork-point markers in
    * the branch's props). The STAGING side of WRITE-AUDIT-PUBLISH
    * (Iceberg's WAP lineage): a corpus drop ingests onto the branch
    * through any write path, audits run there (the branch is an
    * ordinary table — SQL, time travel, constraints all work), and
    * [[publish]] fast-forwards main atomically iff the branch head
    * passes the declared CHECK gates. Main stays readable and
    * unmoved throughout; an abandoned drop is one directory delete.
    * Returns the branch table path. Caveat (disclosed, the clone
    * shared-fate rule): vacuuming MAIN can reclaim files an open
    * branch still references — keep branch lifetimes inside the
    * vacuum retention window. */
  def branch(table: String, name: String): String = {
    val dst = branchPath(table, name)
    require(latestVersion(dst) == 0L, s"branch '$name' already exists")
    val s = state(table)
    Files.createDirectories(Paths.get(dst))
    val dstP = Paths.get(dst).toAbsolutePath.normalize
    val tabP = Paths.get(table).toAbsolutePath.normalize
    // every base-relative path reads from the branch through this
    // prefix ("../../" for a first-level branch)
    val dataPrefix = dstP.relativize(tabP).toString + "/"
    def rebase(a: AddFile): AddFile =
      a.copy(relPath = dataPrefix + a.relPath)
    val bprops = stripTagRefs(s.props) +
      ("branch.of" -> table, "branch.base" -> s.version.toString)
    val colMapOpt =
      if (s.colMap.isEmpty && s.droppedPhys.isEmpty) None
      else Some((s.colMap, s.droppedPhys))
    val defaultsOpt = if (s.defaults.isEmpty) None else Some(s.defaults)
    val pspecsOpt =
      if (s.partSpecs.length > 1) Some(s.partSpecs) else None
    val ckpt = logListing(table)._2.filter(_ <= s.version).lastOption
      .flatMap { cv =>
        val (hdr, refs) = parseCheckpointList(table, cv)
        refs.map(r => (cv, hdr, r))
      }
    ckpt match {
      case Some((cv, hdr, refs)) =>
        // O(chunks + tail) fork: write the branch's v1 AS a chunked
        // checkpoint that RE-REFERENCES the base's clean chunk files
        // through [[ChunkRef.prefix]] — never re-listing the active
        // set (the Iceberg branch-is-a-ref shape; the previous fork
        // wrote an O(active-files) v1 manifest and re-parsed it on
        // every branch state() until the branch's own first
        // checkpoint). Only chunks the base's commit TAIL dirtied,
        // plus the tail's own adds, materialize as fresh branch-local
        // chunks — the exact incremental algorithm [[maybeCheckpoint]]
        // uses. Base-chunk longevity: a chunk referenced by any
        // on-disk checkpoint list is never vacuumed and lists are
        // never deleted, so the fork-time references stay resolvable;
        // DATA files remain under the disclosed clone shared-fate
        // rule (keep branch lifetimes inside the vacuum window).
        val tail = ((cv + 1L) to s.version).map(v =>
          parse(v, Files.readString(commitPath(table, v))))
        val changedStages = tail
          .flatMap(c => c.removes ++ c.adds.map(_.relPath))
          .map(stageOfRel).toSet
        val (clean0, dirtyRefs) = refs
          .partition(r => !r.stages.exists(changedStages))
        // envelopes were folded under the base CHECKPOINT's spec era:
        // blank them if the tail evolved the spec (same rule as the
        // incremental checkpoint writer)
        val hdrPartCols = hdr.pspecs.map(_.last).getOrElse(hdr.partCols)
        val clean1 =
          if (hdrPartCols == s.partCols) clean0
          else clean0.map(r => r.copy(env = Seq.fill(s.partCols.length)(None)))
        val branchLog = logDir(dst).toAbsolutePath.normalize
        val clean = clean1.map { r =>
          val chunkAbs = logDir(table).resolve(r.relName)
            .toAbsolutePath.normalize
          r.copy(relName = branchLog.relativize(chunkAbs).toString,
            prefix = dataPrefix + r.prefix) // composes across nesting
        }
        val act = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
        dirtyRefs.foreach(r =>
          chunkAdds(table, r).foreach(a => act(a.relPath) = a))
        tail.foreach { c =>
          c.removes.foreach { p =>
            if (act.remove(p).isEmpty) throw new IllegalStateException(
              s"corrupt log: v${c.version} removes file $p outside " +
                "every dirty checkpoint chunk")
          }
          c.adds.foreach(a => act(a.relPath) = a)
        }
        val leftovers = act.values.toSeq.map(rebase)
        Files.createDirectories(logDir(dst))
        val newRefs = leftovers.sortBy(a =>
          (if (a.parts.nonEmpty) a.parts.head.values.mkString("/") else "",
            a.min)).grouped(checkpointChunkFiles).map { fs =>
          val relName =
            s"c-${java.util.UUID.randomUUID().toString.take(12)}.chunk"
          Files.write(logDir(dst).resolve(relName),
            render("chunk", fs, Nil, "", "").getBytes(UTF_8))
          ChunkRef(relName, fs.size, fs.map(_.liveRows).sum,
            fs.map(_.min).min, fs.map(_.max).max,
            chunkEnv(s.partCols, fs, s.specId),
            fs.map(a => stageOfRel(a.relPath)).toSet)
        }.toSeq
        val header = render("checkpoint", Nil, Nil, s.schemaDdl,
          s.keyCol, Nil, s.bloom, partCols = s.partCols,
          props = Some(bprops), colMap = colMapOpt,
          defaults = defaultsOpt, pspecs = pspecsOpt)
        val text = header +
          (clean ++ newRefs).map(renderChunkLine).mkString("\n") + "\n"
        // Ownership is decided by ONE atomic operation: the v1 COMMIT
        // links first. Commit files are never deleted, so exactly one
        // fork can ever own the name — there is no orphan-clearing
        // delete left to race (the previous checkpoint-first protocol
        // cleared "garbage" v1 checkpoints and could delete a
        // concurrent fork's just-linked list, pairing one fork's
        // commit with the other's file set). The commit carries a
        // `branch.ckpt` marker so [[state]] turns a CRASHED fork
        // (died between its commit and its checkpoint link) into a
        // loud delete-and-re-fork error instead of a silently empty
        // branch; the winner then links the checkpoint uncontended —
        // only the unique commit owner ever writes that path.
        try commit(dst, 0L, "branch", Nil, Nil, s.schemaDdl, s.keyCol,
          bloom = s.bloom, partCols = s.partCols,
          props = Some(bprops + ("branch.ckpt" -> "1")),
          colMap = colMapOpt, defaults = defaultsOpt, pspecs = pspecsOpt)
        catch {
          case e: java.util.ConcurrentModificationException =>
            // lost the fork race: reclaim this fork's chunk files (the
            // winner's carry different UUID names, never these)
            newRefs.foreach(r =>
              Files.deleteIfExists(logDir(dst).resolve(r.relName)))
            throw new IllegalArgumentException(
              s"branch '$name' already exists (lost a concurrent fork " +
                "race)", e)
        }
        // clear a pre-protocol orphan checkpoint if one survives (a
        // checkpoint-first fork that crashed before its commit): safe
        // NOW — owning the v1 commit means no concurrent fork can be
        // writing this path
        Files.deleteIfExists(checkpointPath(dst, 1L))
        val tmp = Files.createTempFile(logDir(dst), "tmp-brk-", ".inprogress")
        try {
          Files.write(tmp, text.getBytes(UTF_8))
          Files.createLink(checkpointPath(dst, 1L), tmp)
        } finally Files.deleteIfExists(tmp)
        1L
      case None =>
        // base has no chunked checkpoint yet (young or legacy-monolith
        // table): the fork re-lists the active set — bounded by the
        // checkpoint cadence, so never the 1M-file shape
        commit(dst, 0L, "branch", s.active.map(rebase), Nil,
          s.schemaDdl, s.keyCol, bloom = s.bloom, partCols = s.partCols,
          props = Some(bprops), colMap = colMapOpt,
          defaults = defaultsOpt, pspecs = pspecsOpt)
    }
    dst
  }

  /** PUBLISH branch `name` onto main as ONE atomic commit — the
    * audit-gated landing of write-audit-publish:
    *
    *  1. **Fast-forward, or disjoint REBASE**: when main is still at
    *     the branch's fork version the branch head lands as-is; when
    *     main moved, the branch DELTA replays onto main's head
    *     (Iceberg cherry-pick / Delta commit-rebase) — allowed only
    *     if main's metadata is unmoved since the fork and the two
    *     sides touched disjoint files; otherwise abort loudly
    *     (re-branch and replay; silently merging overlapping rewrites
    *     would resurrect deleted rows). The commit itself is
    *     metadata-bearing, so even a race inside the publish window
    *     aborts rather than rebases blindly.
    *  2. **Audit gate**: the branch head must pass every CHECK
    *     constraint declared on EITHER side (union of main's and the
    *     branch's `constraint.*` props) — the standard WAP shape
    *     where bulk ingest drops the per-batch gate on the branch and
    *     the publish re-audits the whole drop at once. Scope is the
    *     branch DELTA, not the table ([[publishAuditScope]]): files
    *     inherited unchanged from main already passed main's gates
    *     and are skipped unless the branch declares a NEW constraint.
    *  3. **File adoption**: branch-born files HARD-LINK into main's
    *     own `data/` dir (same filesystem, zero copy) with their
    *     bloom/DV sidecars, so published state never references the
    *     branch directory — main's vacuum discipline owns every file
    *     it can reach, and the branch dir is deletable afterwards.
    *     Inherited untouched files normalize back to their original
    *     main paths and are not re-listed.
    *
    * Publishes the branch's schema/props/column-mapping/defaults with
    * the data (a schema evolved on the branch travels), EXCEPT that
    * main's `constraint.*` properties always survive the publish — a
    * staging branch that dropped its per-batch gate for the bulk load
    * must not strip main's governance on landing. Returns
    * (mainVersion, filesAdded, filesRemoved). */
  /** The PUBLISH audit's file scope — priced at the CORPUS DROP, not
    * the table. Files inherited UNCHANGED from main (same contentId —
    * deletion-vector token included) already passed main's constraints
    * on their own write path, and `ADD CONSTRAINT` validated existing
    * rows once at declaration, so when the branch declares no
    * constraint main lacks, only branch-born and rewritten files need
    * the audit scan: a 0.1% drop onto a 100-TB table audits 0.1%.
    * A branch-ADDED constraint (new name, or a changed predicate under
    * an existing name) was never checked against inherited files —
    * that publish audits the full branch head. DV-edited files are in
    * the delta by contentId; their surviving rows are a subset of
    * already-valid rows, so auditing them is conservative, never
    * wrong. */
  private[graft] def publishAuditScope(table: String, dst: String,
      m: Snapshot, b: Snapshot): Seq[AddFile] = {
    val branchNew = checksOf(b.props).toSet -- checksOf(m.props).toSet
    if (branchNew.nonEmpty) b.active
    else {
      val mainP = Paths.get(table).toAbsolutePath.normalize
      val mainIds = m.active.map(_.contentId).toSet
      b.active.filter { a =>
        val rel = mainP.relativize(
          Paths.get(dst, a.relPath).toAbsolutePath.normalize).toString
        rel.startsWith("_branches/") || !mainIds((rel, a.dv.map(_._1)))
      }
    }
  }

  def publish(spark: SparkSession, table: String, name: String)
      : (Long, Int, Int) = {
    val dst = branchPath(table, name)
    val b = state(dst)
    val base = b.props.getOrElse("branch.base",
      throw new IllegalArgumentException(
        s"$dst carries no branch.base marker — not a branch"))
    val m = state(table)
    val mainP = Paths.get(table).toAbsolutePath.normalize
    def relOf(a: AddFile): String = mainP.relativize(
      Paths.get(dst, a.relPath).toAbsolutePath.normalize).toString
    // the 3-way-merge BASE: the fork-point snapshot (== m when main
    // never moved — the fast-forward case costs no extra state read)
    val f = if (m.version == base.toLong) m else state(table, base.toLong)
    if (m.version != base.toLong) {
      // REBASE (Iceberg cherry-pick / Delta commit-rebase shape): a
      // moved main no longer always aborts — when main's interim
      // commits and the branch delta touch DISJOINT files, the branch
      // delta replays onto main's head in the one publish commit
      // (appends under an open branch are the common busy-table case,
      // and they conflict with nothing). Two loud refusals remain:
      // (a) main's METADATA moved since the fork — the publish lands
      // the branch's schema/props wholesale, which would silently
      // clobber main's interim evolution; (b) any FILE was touched
      // (removed, rewritten or DV-edited) by BOTH sides — replaying
      // the branch's version would resurrect rows main deleted, or
      // vice versa. Both re-branch and replay, exactly as before.
      // tag.* props are exempt from the gate: a tag is a NAMED REF
      // into main's own history, not table metadata the branch could
      // clobber — pubProps below carries main's refs through
      // unconditionally, so tagging main must not wedge open branches.
      // constraint.* ADDITIONS on main are exempt too: pubProps
      // restores main's constraints wholesale, and the union audit
      // below validates the branch delta against them — the exact
      // mirror of the branch-added-constraint gate — so an interim
      // `ADD CONSTRAINT` on a busy table must not wedge open branches
      // either. Constraint REMOVALS/REDEFINITIONS still abort: the
      // branch may have staged rows under the fork-time predicate.
      def core(p: Map[String, String]): Map[String, String] =
        p.filterNot(kv => kv._1.startsWith("tag.") ||
          kv._1.startsWith("constraint."))
      def cons(p: Map[String, String]): Map[String, String] =
        p.filter(_._1.startsWith("constraint."))
      val consDroppedOrChanged = cons(f.props).toSet -- cons(m.props).toSet
      if (m.schemaDdl != f.schemaDdl || core(m.props) != core(f.props) ||
          consDroppedOrChanged.nonEmpty ||
          m.keyCol != f.keyCol || m.bloom != f.bloom ||
          m.colMap != f.colMap || m.droppedPhys != f.droppedPhys ||
          m.defaults != f.defaults || m.partSpecs != f.partSpecs)
        throw new java.util.ConcurrentModificationException(
          s"$table's metadata moved since branch '$name' forked at " +
            s"v$base — publish cannot rebase across a schema/props " +
            "change; re-branch and replay")
      val bIds = b.active.map(a => (relOf(a), a.dv.map(_._1))).toSet
      val mIds = m.active.map(_.contentId).toSet
      val branchTouched = f.active.filterNot(a => bIds(a.contentId))
        .map(_.relPath).toSet
      val mainTouched = f.active.filterNot(a => mIds(a.contentId))
        .map(_.relPath).toSet
      val overlap = branchTouched.intersect(mainTouched)
      if (overlap.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$table moved since branch '$name' forked at v$base and " +
            s"both sides touched ${overlap.size} file(s), e.g. " +
            s"${overlap.toSeq.sorted.take(3).mkString(", ")} — " +
            "re-branch and replay")
    }
    // audit scope prices against the FORK snapshot, so a rebase still
    // audits exactly the branch delta (fork-inherited files main
    // compacted in the interim are not in the published adds and need
    // no re-audit; under the no-metadata-move precondition f.props
    // and m.props agree on the constraint set)
    val audit = publishAuditScope(table, dst, f, b)
    if (audit.nonEmpty) {
      // union of CHECK PAIRS, not a right-biased prop merge: a branch
      // that REDEFINES a name (e.g. weakens its own per-batch gate to
      // 'true') must still pass MAIN's predicate — pubProps restores
      // main's governance below, so the audit has to evaluate it, or
      // main would land declaring an ENFORCED constraint its rows
      // violate. Colliding names alias-uniquify for the one-row agg;
      // the original name stays in the violation message.
      val union = (checksOf(m.props) ++ checksOf(b.props)).distinct
      val uniq = union.zipWithIndex.map { case ((n0, sql), i) =>
        if (union.count(_._1 == n0) > 1) (s"$n0~$i", sql) else (n0, sql) }
      validateChecks(readFiles(spark, dst, b, audit), uniq,
        s"publish of branch '$name' into $table")
    }
    // REBASE-only second gate: a constraint the branch ADDED or
    // REDEFINED since the fork was never checked against main's
    // INTERIM files — under fast-forward main could not have any, but
    // a rebase carries them into the published active set, and
    // landing the branch's new predicate beside rows it never
    // validated would declare an ENFORCED constraint the data
    // violates. Priced at main's interim delta.
    if (m.version != base.toLong) {
      val branchNew = checksOf(b.props).toSet -- checksOf(f.props).toSet
      if (branchNew.nonEmpty) {
        val fIds = f.active.map(_.contentId).toSet
        val interim = m.active.filterNot(a => fIds(a.contentId))
        if (interim.nonEmpty)
          validateChecks(readFiles(spark, table, m, interim),
            branchNew.toSeq.sortBy(_._1),
            s"publish of branch '$name' into $table (main's interim " +
              "files vs the branch-added constraints)")
      }
    }
    // rewrite to main-relative, adopting branch-born files by hard
    // link — in PARALLEL: the adoption is per-file unique-target
    // syscall work bounded by the branch delta, same shape as
    // [[deepClone]]'s loop
    val rewritten = {
      import scala.collection.parallel.CollectionConverters._
      val parFiles = b.active.par
      parFiles.tasksupport = adoptTaskSupport
      parFiles.map { a =>
        val rel = relOf(a)
        if (!rel.startsWith("_branches/")) a.copy(relPath = rel)
        else adoptByLink(table, table, rel, a, b.bloom)
      }.seq.toSeq
    }
    // three-way merge against the FORK snapshot: adds are what the
    // branch changed or created (fork-unchanged files ride as main
    // currently holds them — possibly compacted in the interim);
    // removes are exactly the fork files the branch touched, which
    // the disjointness gate proved still active and unchanged in m.
    // When main never moved (f == m) these reduce to the plain
    // fast-forward sets.
    val forkIds = f.active.map(_.contentId).toSet
    val branchIds = rewritten.map(_.contentId).toSet
    val adds = rewritten.filterNot(a => forkIds(a.contentId))
    val removes = f.active.filterNot(a => branchIds(a.contentId))
      .map(_.relPath)
    // published props are the branch's MINUS the branch markers and
    // MINUS every tag.* entry, PLUS main's constraint.* and tag.*
    // entries. Constraints: the documented bulk-load posture drops
    // the per-batch gate ON THE BRANCH, and the gate must return with
    // the publish — main's governance is never strippable through a
    // staging branch (branch-ADDED constraints land too; the audit
    // validated the union). Tags: a tag pins a version in ITS OWN
    // table's history — a branch-created tag pins a branch-local
    // version that means something else on main, so it must not
    // travel, while main's refs (fork-time or interim) survive.
    val pubProps = (b.props - "branch.of" - "branch.base")
      .filterNot(_._1.startsWith("tag.")) ++
      m.props.filter { case (k, _) =>
        k.startsWith("constraint.") || k.startsWith("tag.") }
    val v = commit(table, m.version, "publish", adds, removes,
      b.schemaDdl, b.keyCol, bloom = b.bloom, partCols = b.partCols,
      props = Some(pubProps),
      colMap = Some((b.colMap, b.droppedPhys)),
      defaults =
        if (b.defaults.isEmpty && m.defaults.isEmpty) None
        else Some(b.defaults),
      pspecs = if (b.partSpecs.length > 1 || m.partSpecs.length > 1)
        Some(b.partSpecs) else None)
    (v, adds.size, removes.size)
  }

  /** DROP BRANCH `name` — the verb that CLOSES the WAP loop: delete
    * the branch directory outright (its manifest chunks, commit log
    * and branch-born data files) and return the file count reclaimed.
    * Refuses while the branch holds UNPUBLISHED work — active files
    * main does not reference — unless `force`: abandoning a corpus
    * drop must be an explicit decision, never a typo. Safe against
    * main by construction: [[publish]] ADOPTS branch-born files into
    * main's own `data/` dir by hard link (published state never
    * references the branch directory — deleting the branch's link
    * leaves main's inode intact), and fork-inherited files are
    * base-relative references INTO main's directory that the branch
    * dir holds no bytes for. A freshly-forked branch (head still at
    * v1) always drops. */
  def dropBranch(table: String, name: String,
      force: Boolean = false): Int = {
    val dst = branchPath(table, name)
    require(latestVersion(dst) > 0L, s"$table has no branch '$name'")
    // the fork-point marker proves dst IS a branch of this table —
    // never delete a directory that merely looks like one (publish
    // has the same gate)
    require(state(dst).props.contains("branch.base"),
      s"$dst carries no branch.base marker — not a branch; refusing " +
        "to delete")
    if (!force) {
      val b = state(dst)
      if (b.version > 1L) {
        val mainP = Paths.get(table).toAbsolutePath.normalize
        val mainActive = state(table).active
        val mIds = mainActive.map(_.contentId).toSet
        // adopted branch-born files live under main's OWN data dir
        // with fresh names — path identity can't see them, but the
        // adoption is a HARD LINK: the filesystem fileKey (inode) is
        // shared, so "published" = main references the same bytes.
        // Inode identity alone is NOT enough: a DV edit keeps the
        // data file's inode (only the sidecar is new), so a branch
        // entry counts as published only when main references the
        // same bytes UNDER THE SAME deletion-vector token — otherwise
        // the branch's staged merge-on-read deletes/updates are
        // unpublished work and the drop must refuse without force.
        def keyOf(p: Path): Option[AnyRef] =
          if (!Files.exists(p)) None
          else Option(Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])
            .fileKey())
        lazy val mainKeyDv: Map[AnyRef, Set[Option[String]]] = mainActive
          .flatMap(a => keyOf(Paths.get(table, a.relPath))
            .map(k => k -> a.dv.map(_._1)))
          .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
        // A DV-LESS branch entry whose bytes main references is
        // published even when main's CURRENT entry carries a DV —
        // main DV-editing an adopted file AFTER the publish is main's
        // own work, not the branch's; only a branch-side token main
        // lacks marks unpublished staged deletes/updates.
        val unpublished = b.active.filterNot { a =>
          val rel = mainP.relativize(
            Paths.get(dst, a.relPath).toAbsolutePath.normalize).toString
          mIds((rel, a.dv.map(_._1))) ||
            (a.dv.isEmpty && mIds.exists(_._1 == rel)) ||
            keyOf(Paths.get(dst, a.relPath)).exists(k =>
              mainKeyDv.get(k).exists(s =>
                a.dv.isEmpty || s.contains(a.dv.map(_._1))))
        }
        require(unpublished.isEmpty,
          s"branch '$name' holds ${unpublished.size} active file(s) " +
            s"$table does not reference — unpublished work; publish " +
            "first, or drop with force")
      }
    }
    val root = Paths.get(dst)
    var n = 0
    import scala.jdk.CollectionConverters._
    // walk-then-delete is not atomic against a concurrent branch
    // writer: a file created AFTER the walk snapshot leaves its
    // parent non-empty and the directory delete throws — re-walk and
    // retry (bounded), so a racing writer loses cleanly instead of
    // leaving a half-deleted branch. A writer that keeps creating
    // files past the retries propagates the refusal loudly.
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      val walk = Files.walk(root)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      try {
        all.reverse.foreach { p =>
          if (Files.isRegularFile(p)) n += 1
          Files.deleteIfExists(p)
        }
        done = true
      } catch {
        case e: java.nio.file.DirectoryNotEmptyException =>
          if (attempts >= 3) throw new IllegalStateException(
            s"dropBranch $dst: a concurrent writer kept creating files " +
              s"during the delete ($attempts attempts) — stop the " +
              "branch's writers and re-run drop_branch", e)
      }
    }
    // reap the now-empty _branches dir so #branches folds clean
    val parent = root.getParent
    if (Files.isDirectory(parent)) {
      val s2 = Files.list(parent)
      val empty = try !s2.iterator().hasNext finally s2.close()
      if (empty) Files.deleteIfExists(parent)
    }
    n
  }

  /** The table's staging branches, name-sorted: (name, forkVersion,
    * headVersion, nFiles, liveRows) — folded from each branch's own
    * manifest, zero data files open (the `#branches` metadata table's
    * backing; the operational view of in-flight corpus drops). */
  def listBranches(table: String): Seq[(String, Long, Long, Int, Long)] = {
    val dir = Paths.get(table, "_branches")
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    val names = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq
    } finally s.close()
    names.sorted.flatMap { n =>
      val bp = dir.resolve(n).toString
      if (latestVersion(bp) == 0L) None
      else {
        val b = state(bp)
        Some((n, b.props.get("branch.base").fold(0L)(_.toLong),
          b.version, b.active.size, b.active.map(_.liveRows).sum))
      }
    }
  }

  /** PARTITION SPEC EVOLUTION (Iceberg's spec-evolution lineage) as
    * ONE metadata commit: the table's partitioning changes for FUTURE
    * writes while every existing file keeps its tuple stats under the
    * spec it was written with ([[AddFile.specId]] indexes the history
    * in [[Snapshot.partSpecs]]). Partition pruning interprets each
    * file under its OWN spec — old-era files are kept conservatively
    * against current-spec predicates (their stats cannot be
    * positionally reinterpreted) until a rewrite ([[compact]], any
    * COW op) migrates them to the current layout, which is exactly
    * the Iceberg migration story. An empty spec un-partitions future
    * writes. Metadata-bearing: a concurrent commit aborts loudly
    * rather than rebasing under the spec change. */
  def setPartitionSpec(table: String, newSpecs: Seq[String]): Long = {
    val snap = state(table)
    if (newSpecs.nonEmpty) checkPartCols(snap.schemaDdl, newSpecs)
    require(newSpecs != snap.partCols,
      s"$table already partitions by ${newSpecs.mkString(",")}")
    commit(table, snap.version, "partspec", Nil, Nil, "", "",
      pspecs = Some(snap.partSpecs :+ newSpecs))
  }

  /** Append with ADDITIVE schema evolution: new columns widen the
    * table schema (recorded in the manifest — readers null-fill them
    * in pre-evolution files via the explicit-schema parquet read);
    * existing columns must keep their exact type, and dropping
    * columns is rejected — renames/drops are a rewrite, not an
    * append (the Delta mergeSchema posture). */
  def appendEvolve(df0: DataFrame, table: String, numFiles: Int): Long = {
    val snap = state(table)
    requireNoIdentity(snap, s"appendEvolve into $table")
    // materialize write-defaults FIRST (same as append/appendTxn): a
    // frame omitting a defaulted column must stage files that
    // physically CARRY the default — post-declaration rows reading the
    // EXISTS_DEFAULT fill would break the era contract (they'd read as
    // the default even if the writer meant null)
    val df = withWriteDefaults(df0, snap)
    val old = StructType.fromDDL(snap.schemaDdl)
    val byName = df.schema.map(f => f.name -> f).toMap
    old.foreach { f =>
      byName.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"appendEvolve cannot drop column '${f.name}' — evolution is additive")
        case Some(g) if g.dataType != f.dataType =>
          throw new IllegalArgumentException(
            s"appendEvolve type conflict on '${f.name}': " +
              s"table ${f.dataType.sql} vs append ${g.dataType.sql}")
        case _ => ()
      }
    }
    val oldNames = old.map(_.name).toSet
    df.schema.filterNot(f => oldNames(f.name)).foreach(f =>
      checkPhysCollision(snap, f.name, "appendEvolve"))
    val merged = StructType(old ++ df.schema.filterNot(f => oldNames(f.name)))
    validateChecks(df, checksOf(snap.props), s"appendEvolve into $table")
    val adds = stageAs(snap, df, table, numFiles)
    commit(table, snap.version, "evolve", adds, Nil, merged.toDDL, "")
  }

  /** METADATA-ONLY additive schema evolution — the `ALTER TABLE ADD
    * COLUMN` image of [[appendEvolve]]: widen the declared schema by
    * `newCols` in one commit carrying ZERO data files. Existing files
    * are untouched; every reader null-fills the new columns through
    * the explicit-schema parquet scan until data arrives for them
    * (exactly appendEvolve's contract, minus the append). New columns
    * must not collide with existing ones, and the commit carries the
    * merged DDL, so a concurrent evolve loses the race loudly
    * (metadata commits never rebase — see [[commit]]). */
  def evolveSchema(table: String, newCols: StructType): Long = {
    val snap = state(table)
    val old = StructType.fromDDL(snap.schemaDdl)
    val oldNames = old.map(_.name).toSet
    newCols.foreach { f =>
      if (oldNames(f.name)) throw new IllegalArgumentException(
        s"evolveSchema: column '${f.name}' already exists — evolution is additive")
      checkPhysCollision(snap, f.name, "evolveSchema")
    }
    val merged = StructType(old ++ newCols)
    commit(table, snap.version, "evolve", Nil, Nil, merged.toDDL, "")
  }

  /** `ALTER TABLE … ADD COLUMN x T DEFAULT <literal>` as ONE
    * metadata-only commit (the Iceberg v3 initial-default shape;
    * Delta's metadata defaults are the same lineage): the schema
    * widens, the default SQL and its declaration version land in the
    * manifest's `defaults` map, and ZERO data files move. Files that
    * physically LACK the column — exactly those written before the
    * declaration — answer the default on every scan path via the
    * `EXISTS_DEFAULT` field metadata [[Snapshot.physSchema]] attaches
    * (Spark's parquet readers resolve it natively); new writes
    * MATERIALIZE the value (the append paths fill a missing column
    * with it, and explicit values — including NULL — are stored as
    * given). Time travel is era-exact: a snapshot before the
    * declaration replays without the `defaults` entry and reads
    * nulls. The default must be a non-null constant expression of the
    * column type, evaluated once at declaration to fail fast. */
  def evolveSchemaDefault(table: String, name: String,
      dt: org.apache.spark.sql.types.DataType, defaultSql: String): Long = {
    val snap = state(table)
    val old = StructType.fromDDL(snap.schemaDdl)
    if (old.fieldNames.contains(name)) throw new IllegalArgumentException(
      s"evolveSchemaDefault: column '$name' already exists")
    checkPhysCollision(snap, name, "evolveSchemaDefault")
    val spark = SparkSession.active
    val probe = try spark.range(1).select(expr(defaultSql).cast(dt))
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"evolveSchemaDefault: default '$defaultSql' does not " +
            s"evaluate as ${dt.sql}: ${e.getMessage}") }
    // the default re-evaluates at every read and write — a
    // non-deterministic expression (rand(), now()) would make
    // pre-declaration rows answer DIFFERENT values per query, on a
    // format whose whole contract is deterministic replay (the SQL
    // path is guarded by Spark's analyzer; the API must guard itself)
    require(probe.queryExecution.analyzed.expressions
        .forall(_.deterministic),
      s"evolveSchemaDefault: default '$defaultSql' is " +
        "non-deterministic — defaults must be constant expressions")
    val v = try probe.head.get(0)
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"evolveSchemaDefault: default '$defaultSql' does not " +
            s"evaluate as ${dt.sql}: ${e.getMessage}") }
    require(v != null,
      s"evolveSchemaDefault: default '$defaultSql' evaluates to NULL — " +
        "add a plain nullable column instead")
    val merged = StructType(old :+
      org.apache.spark.sql.types.StructField(name, dt, nullable = true))
    // metadata commits never rebase (see commit), so the declaration
    // version is exactly expected + 1 — the era boundary readers use
    commit(table, snap.version, "evolve", Nil, Nil, merged.toDDL, "",
      defaults = Some(snap.defaults + (name -> ((defaultSql, snap.version + 1L)))))
  }

  /** `ALTER TABLE … ALTER COLUMN x TYPE BIGINT` — TYPE WIDENING as
    * ONE metadata-only commit (the Delta type-widening feature,
    * riding Spark 4's parquet reader promotions): INT→BIGINT and
    * FLOAT→DOUBLE re-declare the column; existing files keep their
    * narrow physical bytes and every scan — batch, DV'd, streaming —
    * reads them widened through the explicit-schema parquet scan
    * (vectorized; spec-pinned), while new writes store the wide type.
    * Both widths share a stats domain ('l' / 'd'), so all recorded
    * column stats stay valid and file skipping keeps working across
    * mixed-width files. The key column refuses (its manifest stats
    * and DDL are the pruning contract) and the bloom column refuses
    * (hash domains differ by width — stale sidecars could then prune
    * wrongly); identity partition columns widen fine (both widths
    * stringify identically). */
  def widenColumn(table: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val snap = state(table)
    val old = StructType.fromDDL(snap.schemaDdl)
    val f = old.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn: no column '$name' in ${snap.schemaDdl}"))
    val ok = (f.dataType, to) match {
      case (IntegerType, LongType)  => true
      case (FloatType, DoubleType)  => true
      case _                        => false
    }
    require(ok, s"widenColumn: ${f.dataType.sql} → ${to.sql} is not a " +
      "supported widening (INT→BIGINT, FLOAT→DOUBLE)")
    require(name != snap.keyCol,
      s"widenColumn: '$name' is the table's key column; refusing")
    require(!snap.bloom.map(_._1).contains(name),
      s"widenColumn: '$name' is the bloom-indexed column — sidecar " +
        "hashes are width-specific; refusing")
    val widened = StructType(old.fields.map(x =>
      if (x.name == name) x.copy(dataType = to) else x))
    commit(table, snap.version, "widen", Nil, Nil, widened.toDDL, "")
  }

  /** Materialize write-defaults into an incoming batch: a defaulted
    * column ABSENT from the frame fills with its declared value (the
    * write half of the initial-default contract); present columns —
    * explicit NULLs included — pass through untouched. */
  private def withWriteDefaults(df: DataFrame, snap: Snapshot): DataFrame = {
    val gens = genColsOf(snap.props)
    if (snap.defaults.isEmpty && gens.isEmpty) return df
    val schema = StructType.fromDDL(snap.schemaDdl)
    val present = df.columns.toSet
    val d1 = snap.defaults.toSeq.sortBy(_._1).foldLeft(df) {
      case (d, (c, (sql, _))) =>
        if (present(c)) d
        else d.withColumn(c, expr(sql).cast(schema(c).dataType))
    }
    // generated columns: compute when omitted (supplied values are
    // audited by the synthetic CHECK in [[checksOf]] instead)
    gens.foldLeft(d1) { case (d, (c, sql)) =>
      if (present(c) || !schema.fieldNames.contains(c)) d
      else d.withColumn(c, expr(sql).cast(schema(c).dataType))
    }
  }

  /** A new logical name must not collide with a PHYSICAL name still
    * present in active files (a rename's old name, or a dropped
    * column's) — the explicit-schema read resolves by physical name,
    * so a collision would silently resurrect the old bytes. */
  private def checkPhysCollision(snap: Snapshot, name: String,
      op: String): Unit = {
    val physTaken = StructType.fromDDL(snap.schemaDdl).fieldNames
      .map(snap.physName).toSet ++ snap.droppedPhys
    if (physTaken(name)) throw new IllegalArgumentException(
      s"$op: '$name' is still a PHYSICAL column name of active files " +
        "(renamed-away or dropped) — choose another name, or compact " +
        "the table to materialize the column mapping away first")
  }

  /** RENAME COLUMN as ONE metadata commit (the Delta column-mapping
    * verb): the logical schema renames, a `colmap` entry points the
    * new name at the OLD physical name, and every data file stays
    * untouched — reads at this and later versions project through the
    * map; time travel before the rename replays the old map and reads
    * the old name. The key, partition-source and bloom columns are
    * structural (manifest stats, write routing and sidecar naming key
    * on them) and refuse to rename. */
  /** Refuse schema surgery that would WEDGE the write path: the
    * column itself carries a gencol/identity declaration (the
    * declaration would go stale — every later write would fail its
    * synthetic audit or silently lose ids), or some generation
    * expression stops analyzing against the post-change schema
    * because it references the dropped/renamed name. Zero-cost on
    * tables without declarations. */
  private def checkDerivedCols(snap: Snapshot, col0: String,
      newSchema: StructType, op: String): Unit = {
    require(!snap.props.contains(s"gencol.$col0"),
      s"$op: '$col0' is a GENERATED column — its declaration would go " +
        "stale; refusing")
    require(!snap.props.contains(s"identity.$col0"),
      s"$op: '$col0' is an IDENTITY column — its allocator would go " +
        "stale; refusing")
    genColsOf(snap.props).foreach { case (c, sql) =>
      if (newSchema.fieldNames.contains(c)) {
        val ok =
          try {
            SparkSession.active.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              newSchema).select(expr(sql)).schema
            true
          } catch { case scala.util.control.NonFatal(_) => false }
        require(ok, s"$op: the generation expression of '$c' ($sql) " +
          s"references '$col0' and would stop analyzing; refusing")
      }
    }
  }

  def renameColumn(table: String, from: String, to: String): Long = {
    val snap = state(table)
    val old = StructType.fromDDL(snap.schemaDdl)
    require(old.fieldNames.contains(from),
      s"renameColumn: no column '$from' in ${snap.schemaDdl}")
    require(!old.fieldNames.contains(to),
      s"renameColumn: column '$to' already exists")
    require(from != snap.keyCol,
      s"renameColumn: '$from' is the table's key column — the " +
        "manifest's file stats key on it; refusing")
    require(!snap.partCols.map(partSourceCol).contains(from),
      s"renameColumn: '$from' is a partition source column; refusing")
    require(!snap.bloom.map(_._1).contains(from),
      s"renameColumn: '$from' is the bloom-indexed column; refusing")
    // collision check EXCLUDES the renamed column's own physical name:
    // renaming back to it collapses the mapping, which is legal
    val physTaken = old.fieldNames.filterNot(_ == from)
      .map(snap.physName).toSet ++ snap.droppedPhys
    if (physTaken(to)) throw new IllegalArgumentException(
      s"renameColumn: '$to' is still a PHYSICAL column name of active " +
        "files (renamed-away or dropped) — choose another name, or " +
        "compact the table to materialize the column mapping away first")
    val phys = snap.physName(from)
    val newMap = (snap.colMap - from) ++
      (if (phys == to) Map.empty[String, String] else Map(to -> phys))
    val renamed = StructType(old.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    checkDerivedCols(snap, from, renamed, "renameColumn")
    // an initial default follows its column's NEW name — the defaults
    // map keys logical names, and a stale key would both lose the
    // default at read and inject a spurious old-name column at write
    val defaults =
      if (!snap.defaults.contains(from)) None
      else Some(snap.defaults - from + (to -> snap.defaults(from)))
    commit(table, snap.version, "rename", Nil, Nil, renamed.toDDL, "",
      colMap = Some((newMap, snap.droppedPhys)), defaults = defaults)
  }

  /** DROP COLUMN as ONE metadata commit: the logical schema narrows,
    * the physical column stays in old files (unread — the explicit-
    * schema scan never requests it) and its physical name is
    * TOMBSTONED so a later ADD COLUMN cannot resurrect the bytes;
    * compaction materializes the drop and clears the tombstone. Key,
    * partition-source and bloom columns refuse, as does dropping the
    * last non-key column (a table of only its key is still a table —
    * but the refusals guard the structural columns, not arity). */
  def dropColumn(table: String, name: String): Long = {
    val snap = state(table)
    val old = StructType.fromDDL(snap.schemaDdl)
    require(old.fieldNames.contains(name),
      s"dropColumn: no column '$name' in ${snap.schemaDdl}")
    require(name != snap.keyCol,
      s"dropColumn: '$name' is the table's key column; refusing")
    require(!snap.partCols.map(partSourceCol).contains(name),
      s"dropColumn: '$name' is a partition source column; refusing")
    require(!snap.bloom.map(_._1).contains(name),
      s"dropColumn: '$name' is the bloom-indexed column; refusing")
    val phys = snap.physName(name)
    val narrowed = StructType(old.fields.filterNot(_.name == name))
    checkDerivedCols(snap, name, narrowed, "dropColumn")
    // the dropped column's initial default dies with it — a stale
    // entry would resurrect on a later plain ADD COLUMN of the name
    val defaults =
      if (!snap.defaults.contains(name)) None
      else Some(snap.defaults - name)
    commit(table, snap.version, "drop", Nil, Nil, narrowed.toDDL, "",
      colMap = Some((snap.colMap - name, snap.droppedPhys + phys)),
      defaults = defaults)
  }

  /** CDC extract between two versions (q106's diff semantics read
    * straight off the log): emit (key, action, old_*, new_*) for
    * every row that changed. The manifest bounds the scan — files
    * ACTIVE IN BOTH versions cannot contribute a change and are
    * never read, so the cost is proportional to the rewritten
    * sliver, not the table (the decisive property at 100 TB where a
    * daily diff touches a fraction of files). Unchanged rows that
    * merely moved files during a rewrite are dropped by the
    * null-safe value compare. */
  def diffVersions(spark: SparkSession, table: String, vFrom: Long,
      vTo: Long): DataFrame = {
    val from = state(table, vFrom)
    val to = state(table, vTo)
    // identity includes the deletion-vector token: a DV-only delete
    // keeps the relPath but changes the file's logical content, and
    // the diff must read both sides of it (each side's read applies
    // its OWN deletion vector, so only genuinely dead rows surface)
    val fromSet = from.active.map(_.contentId).toSet
    val toSet = to.active.map(_.contentId).toSet
    val onlyFrom = from.active.filterNot(a => toSet(a.contentId))
    val onlyTo = to.active.filterNot(a => fromSet(a.contentId))
    val k = from.keyCol
    val cols = StructType.fromDDL(from.schemaDdl).map(_.name)
      .filter(c => c != k && StructType.fromDDL(to.schemaDdl).fieldNames.contains(c))
    val o = readFiles(spark, table, from, onlyFrom)
      .select(col(k) +: cols.map(c => col(c).as(s"old_$c")): _*)
      .withColumn("_in_old", lit(true))
    val n = readFiles(spark, table, to, onlyTo)
      .select(col(k) +: cols.map(c => col(c).as(s"new_$c")): _*)
      .withColumn("_in_new", lit(true))
    val changed = cols.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, Seq(k), "full_outer")
      .withColumn("action",
        when(col("_in_old").isNull, "insert")
          .when(col("_in_new").isNull, "delete")
          .when(changed, "update"))
      .where(col("action").isNotNull)
      .select(col(k) +: col("action") +:
        cols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Incremental append feed: the rows landed by append-shaped
    * commits in `(sinceVersion, upToVersion]` — what a downstream
    * micro-batch consumer reads to stay current WITHOUT rescanning
    * the table (the chained-ETL pattern; at 100 TB the feed is the
    * day's files, not the decade's). Valid only while the window
    * contains no rewrite: a delete/merge/compact re-adds OLD rows as
    * new files, so an appends-only reader would double-count — that
    * case fails fast and the consumer falls back to [[diffVersions]]
    * (which is change-exact through rewrites). */
  def readAppendsSince(spark: SparkSession, table: String,
      sinceVersion: Long, upToVersion: Long = Long.MaxValue): DataFrame = {
    val snap = state(table) // schema authority
    val upTo = math.min(latestVersion(table), upToVersion)
    val window = ((sinceVersion + 1L) to upTo).map { v =>
      parse(v, Files.readString(commitPath(table, v)))
    }
    val appendOps = Set("create", "append", "evolve")
    window.filterNot(c => appendOps(c.op)).foreach { c =>
      throw new IllegalStateException(
        s"$table: v${c.version} is a ${c.op} (rewrite) — an appends-only feed " +
          "over this window would double-count; consume diffVersions instead")
    }
    val files = window.flatMap(_.adds)
    readFiles(spark, table, snap, files)
  }

  // --------------------------------------------- copy-on-write core

  /** The files of `candidates` holding at least one row that `hit`
    * keeps — the touched-file discovery of every copy-on-write verb,
    * ONE `input_file_name()` scan of the candidates. `hit` is a
    * `where(cond)` for the predicate verbs and a broadcast key join
    * for [[merge]] and [[applyCdc]]; it must keep the `_file` column.
    * No candidates, no scan. */
  private def touchedFiles(spark: SparkSession, table: String,
      snap: Snapshot, candidates: Seq[AddFile])(
      hit: DataFrame => DataFrame): Seq[AddFile] =
    if (candidates.isEmpty) Nil
    else {
      val ids = hit(readFiles(spark, table, snap, candidates)
          .withColumn("_file", input_file_name()))
        .select("_file").distinct()
        .collect().map(r => fileIdOfUri(r.getString(0))).toSet
      candidates.filter(a => ids(fileIdOf(a.relPath)))
    }

  /** The commit of every copy-on-write verb: stage `rewritten` (the
    * touched files' survivors plus the verb's new rows) under the
    * snapshot's layout and replace `touched` with it in ONE manifest.
    * `schemaDdl` and `props` ride along for [[merge]]'s schema
    * evolution and identity mark. */
  private def cowCommit(snap: Snapshot, table: String, op: String,
      rewritten: DataFrame, numFiles: Int, touched: Seq[AddFile],
      schemaDdl: String = "",
      props: Option[Map[String, String]] = None): Long =
    commit(table, snap.version, op, stageAs(snap, rewritten, table, numFiles),
      touched.map(_.relPath), schemaDdl, "", props = props)

  /** Transactional CDC apply — the inverse of [[diffVersions]]: land
    * a change stream (rows tagged `action` ∈ insert/update/delete,
    * q106/q180's shape) as ONE atomic copy-on-write commit. Exactly
    * the files holding an updated-or-deleted key are rewritten
    * (change keys broadcast into one scan of the active set);
    * inserts ride in the same staged write, so a reader sees the
    * whole batch or none of it — the property the foreachBatch-MERGE
    * idiom needs for exactly-once CDC pipelines. An `update` whose
    * key is absent lands as an insert (upsert posture, disclosed).
    * `changes` carries the table's columns plus `action`; keys must
    * be unique within the batch. The copy-on-write core
    * ([[touchedFiles]], [[cowCommit]]) does the rewrite; an empty
    * batch still commits. */
  def applyCdc(spark: SparkSession, table: String, changes: DataFrame,
      numFiles: Int): Long = {
    val snap = state(table)
    val k = snap.keyCol
    validateChecks(changes.where(col("action") =!= "delete").drop("action"),
      checksOf(snap.props), s"cdc apply into $table")
    val touchKeys = changes
      .where(col("action").isin("update", "delete"))
      .select(col(k)).distinct()
    val touched = touchedFiles(spark, table, snap, snap.active)(
      _.join(broadcast(touchKeys), k))
    val survivors = readFiles(spark, table, snap, touched)
      .join(broadcast(touchKeys), Seq(k), "left_anti")
    val incoming = changes.where(col("action") =!= "delete")
      .drop("action")
    cowCommit(snap, table, "cdc", survivors.unionByName(incoming),
      numFiles, touched)
  }

  /** Copy-on-write DELETE: rewrite exactly the files holding ≥1
    * matching row, re-adding their survivors ([[touchedFiles]],
    * [[cowCommit]]). With key-column predicates, pass
    * `pruneCandidates = Some(prunedFiles(_, lo, hi))` so only
    * range-intersecting files are even read (stats-level skipping);
    * predicates on other columns scan the active set once (a
    * production table keeps stats per predicate-worthy column to skip
    * here too). No commit when nothing matches. */
  def deleteWhere(spark: SparkSession, table: String, cond: Column,
      numFiles: Int,
      pruneCandidates: Option[Snapshot => Seq[AddFile]] = None): Long = {
    val snap = state(table)
    val touched = touchedFiles(spark, table, snap,
      pruneCandidates.fold(snap.active)(_(snap)))(_.where(cond))
    if (touched.isEmpty) return snap.version // no-op: nothing matched
    // SQL DELETE semantics: only cond=TRUE rows go; NULL-cond rows stay
    cowCommit(snap, table, "delete", readFiles(spark, table, snap, touched)
      .where(!coalesce(cond, lit(false))), numFiles, touched)
  }

  /** Validate UPDATE assignments against `snap`'s schema and return
    * the full-width select list applying them SIMULTANEOUSLY against
    * the old row image (SQL UPDATE's semantics — sequential
    * withColumn would let one assignment observe another's new value,
    * and `SET x = x + 1, band = f(x)` would double-apply). An unknown
    * target refuses (silently dropping a typo'd column would report
    * success while updating nothing), case-duplicate targets refuse
    * (the lowercased fold would last-win silently), and every
    * assigned value CASTS to the column's declared type — staged
    * files otherwise take the expression's own type and poison later
    * reads. ONE definition for the DV and copy-on-write update
    * routes, so the two can never drift on assignment semantics. */
  private def updateSelectList(op: String, table: String,
      snap: Snapshot, set: Map[String, Column]): Seq[Column] = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    val schemaByLc = schema.fields.map(f => f.name.toLowerCase -> f).toMap
    set.keys.find(k => !schemaByLc.contains(k.toLowerCase)).foreach(k =>
      throw new IllegalArgumentException(
        s"$op into $table: no such column '$k' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})"))
    set.keys.groupBy(_.toLowerCase).find(_._2.size > 1).foreach {
      case (_, ks) => throw new IllegalArgumentException(
        s"$op into $table: duplicate assignment targets " +
          ks.mkString(", "))
    }
    val setLc = set.map { case (k, v) => k.toLowerCase -> v }
    schema.fieldNames.toSeq.map(c =>
      setLc.get(c.toLowerCase)
        .fold(col(c))(_.cast(schemaByLc(c.toLowerCase).dataType).as(c)))
  }

  /** Copy-on-write UPDATE — [[deleteWhere]]'s cost shape with
    * [[updateWhereDv]]'s assignment semantics: exactly the files
    * holding a matching row rewrite; matched rows re-stage with the
    * set-expressions applied simultaneously against their OLD image,
    * survivors carry verbatim, one atomic commit. The BULK complement
    * of the DV update — when a predicate matches past the
    * [[dvMaxMatched]] sidecar niche, this prices the restatement at
    * the touched files instead of collecting a fleet of positions to
    * the driver (the SQL routing's fallback). Identity columns are
    * safe by construction: the select list CARRIES the id for every
    * row (assignments may not target it — checked), so no id mints or
    * drifts and the allocator's mark never moves. CHECK constraints
    * gate the new images like every write surface. Same copy-on-write
    * core as [[deleteWhere]]; no commit when nothing matches. */
  def updateWhere(spark: SparkSession, table: String, cond: Column,
      set: Map[String, Column], numFiles: Int,
      pruneCandidates: Option[Snapshot => Seq[AddFile]] = None): Long = {
    val snap = state(table)
    val idTargets = identityOf(snap.props).map(_._1)
      .filter(c => set.keySet.exists(_.equalsIgnoreCase(c)))
    require(idTargets.isEmpty,
      s"updateWhere into $table: ${idTargets.mkString(", ")} is " +
        "GENERATED ALWAYS AS IDENTITY — its values cannot be updated")
    val touched = touchedFiles(spark, table, snap,
      pruneCandidates.fold(snap.active)(_(snap)))(_.where(cond))
    if (touched.isEmpty) return snap.version // no-op: nothing matched
    val sel = updateSelectList("updateWhere", table, snap, set)
    // the condition evaluates ONCE per row (hit bit stamped, frame
    // frozen) — matched and survivor sets then derive from the same
    // evaluation, so a nondeterministic cond cannot land a row in
    // both (duplicated) or neither (vanished). The freeze is bounded
    // by the touched files — the set this path rewrites anyway. The
    // dvSurvivorsFrame / mergeDv discipline, applied to the COW
    // update.
    val rows = readFiles(spark, table, snap, touched)
      .withColumn("__hit", coalesce(cond, lit(false)))
      .localCheckpoint(true)
    val updated = rows.where(col("__hit")).select(sel: _*)
    validateChecks(updated, checksOf(snap.props),
      s"updateWhere into $table")
    cowCommit(snap, table, "update",
      rows.where(!col("__hit")).drop("__hit").unionByName(updated),
      numFiles, touched)
  }

  /** The manifest half of [[dvCommit]], the end of all three DV verbs:
    * union the newly-dead positions into each touched file's bitset
    * sidecar and produce the manifest delta (removes, re-adds). On
    * PARTITIONED tables the per-(file, tuple) dead counts decrement
    * the file's tuple stats in the SAME manifest entry, so
    * `#partitions` and tuple-stat pruning stay EXACT through
    * merge-on-read DML: a DV'd file's [[PartStat]] rows are its LIVE
    * per-tuple counts (summing to `liveRows`), and a tuple whose rows
    * all die drops from the stats outright — pruning only ever
    * TIGHTENS. Dying rows render their tuple through the same
    * [[partValueCol]] the staged write used; a rendered
    * tuple the file's stats don't record refuses loudly (the two
    * renderings diverged — silent drift would rot pruning exactness).
    * `hits` maps fileId → (dead position, rendered tuple — Nil on
    * unpartitioned tables); positions are disjoint from any prior
    * DV's by the caller's anti-join, so deltas compose exactly across
    * repeated deletes. */
  private def dvCommitEntries(table: String, snap: Snapshot,
      hits: Map[String, Seq[(Long, Seq[String])]],
      candidates: Seq[AddFile],
      survivorStats: Map[String, (Long, Long, Seq[ColStat])] = Map.empty)
      : (Seq[String], Seq[AddFile]) = {
    val byId = candidates.map(a => fileIdOf(a.relPath) -> a).toMap
    val (removes, adds) = hits.toSeq.sortBy(_._1).map { case (id, hs) =>
      val a = byId(id)
      val bits = a.dv match {
        case Some(_) => java.util.BitSet.valueOf(
          Files.readAllBytes(dvSidecar(table, a)))
        case None => new java.util.BitSet()
      }
      hs.foreach { case (p, _) => bits.set(p.toInt) }
      val dead = bits.cardinality().toLong
      if (dead >= a.rows) (a.relPath, None) // fully dead: drop the file
      else {
        val newParts =
          if (snap.partCols.isEmpty) a.parts
          else {
            val perTuple = hs.groupBy(_._2)
              .map { case (t, xs) => t -> xs.size.toLong }
            perTuple.foreach { case (t, d) =>
              val rec = a.parts.find(_.values == t).getOrElse(
                throw new IllegalStateException(
                  s"$table: ${a.relPath}: $d dying rows render " +
                    s"partition tuple '${t.mkString("/")}' which the " +
                    "file's tuple stats do not record — the stage-time " +
                    "and delete-time renderings diverged"))
              require(d <= rec.rows,
                s"$table: ${a.relPath}: tuple '${t.mkString("/")}' " +
                  s"records ${rec.rows} live rows but $d are dying — " +
                  "tuple-stat underflow")
            }
            a.parts.flatMap { p =>
              val d = perTuple.getOrElse(p.values, 0L)
              if (p.rows - d <= 0L) None
              else Some(p.copy(rows = p.rows - d))
            }
          }
        val token = "dv" + java.util.UUID.randomUUID().toString.take(8)
        // survivor-derived bounds make the entry's min/max EXACT over
        // the live rows (item: stats-only aggregates keep answering
        // on MoR-heavy tables); without them the old bounds stay as
        // over-approximations and the entry drops out of exact
        // stats-answering (dvExact = false)
        val u = survivorStats.get(id) match {
          case Some((mn, mx, cs)) =>
            a.copy(dv = Some((token, dead)), parts = newParts,
              min = mn, max = mx, cols = cs, dvExact = true)
          case None =>
            a.copy(dv = Some((token, dead)), parts = newParts,
              dvExact = false)
        }
        Files.write(dvSidecar(table, u), bits.toByteArray)
        (a.relPath, Some(u))
      }
    }.unzip
    (removes, adds.flatten)
  }

  /** DV candidates on a partitioned table must carry CURRENT-spec
    * tuple stats — an older-era file's tuples are positional to ITS
    * spec and cannot be decremented under the current rendering. */
  private def requireDvPartStats(table: String, snap: Snapshot,
      candidates: Seq[AddFile]): Unit =
    if (snap.partCols.nonEmpty)
      candidates.find(a =>
        a.specId != snap.specId || (a.rows > 0L && a.parts.isEmpty))
        .foreach(a => throw new IllegalArgumentException(
          s"$table: ${a.relPath} predates the current partition spec " +
            s"(file era ${a.specId}, current ${snap.specId}) or carries " +
            "no tuple stats — merge-on-read DV keeps partition stats " +
            "exact only on a single-spec layout; CALL " +
            "graftlog.migrate_stats to re-render the stats (metadata-" +
            "only, no data movement), CALL graftlog.compact to rewrite " +
            "the layout, or use copy-on-write DML"))

  /** STATS-ONLY partition-spec migration — lift [[requireDvPartStats]]
    * WITHOUT the full-data rewrite `compact` is: for every active file
    * whose tuple stats predate the current spec (or are missing),
    * render the CURRENT spec's partition tuples over the file's LIVE
    * rows in ONE read-only scan of only those files and commit the
    * re-rendered [[PartStat]]s — same relPaths, same bytes, new
    * metadata. After it, merge-on-read DML routes on pre-evolution
    * files and current-spec predicates prune them exactly. At 100 TB
    * this is the difference between a table rewrite and a scan of the
    * stale sliver plus a manifest commit — Iceberg's migration story
    * priced at metadata. Hidden transforms render from the data
    * columns, so any era's file re-renders under any spec. Returns
    * (version, filesMigrated) — a no-op (0 stale files, or an
    * unpartitioned table) returns the current version unchanged. */
  def migrateStats(spark: SparkSession, table: String): (Long, Int) = {
    val snap = state(table)
    if (snap.partCols.isEmpty) return (snap.version, 0)
    val stale = snap.active.filter(a =>
      a.specId != snap.specId || (a.rows > 0L && a.parts.isEmpty))
    if (stale.isEmpty) return (snap.version, 0)
    // live rows only: a stale file may carry a deletion vector from a
    // pre-evolution MoR delete — its PartStat contract is LIVE
    // per-tuple counts, so the rendering subtracts dead positions
    val live = dvLiveFrame(spark, table, snap, stale)
    val byFile = live
      .groupBy(col("__graft_f"), dvTupleCol(snap).as("__graft_t"))
      .agg(count(lit(1)).as("rows"))
      .collect() // (stale files × tuples-per-file) cells, never data
      .groupBy(_.getString(0))
      .map { case (f, rs) =>
        f -> rs.map(r =>
            PartStat(r.getSeq[String](1).toList, r.getLong(2)))
          .sortBy(_.values.mkString("/")).toSeq
      }
    val updated = stale.map { a =>
      val parts = byFile.getOrElse(fileIdOf(a.relPath), Nil)
      require(parts.size <= maxPartTuplesPerFile,
        s"$table: ${a.relPath} renders ${parts.size} distinct tuples " +
          s"under the current spec (cap $maxPartTuplesPerFile) — the " +
          "partitioning is too fine for this file's row spread; " +
          "compact instead")
      require(parts.map(_.rows).sum == a.liveRows,
        s"$table: ${a.relPath} rendered ${parts.map(_.rows).sum} live " +
          s"rows but the manifest records ${a.liveRows} — refusing the " +
          "inconsistent migration")
      a.copy(parts = parts, specId = snap.specId)
    }
    val v = commit(table, snap.version, "stats", updated,
      stale.map(_.relPath), "", "")
    (v, stale.size)
  }

  /** The rendered-partition-tuple column of `snap`'s spec over a
    * LOGICAL frame — the same [[partValueCol]] rendering the
    * staged write records (partition source columns never
    * rename, so logical = physical for them). */
  private def dvTupleCol(snap: Snapshot): Column = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    array(snap.partCols.map(c =>
      coalesce(partValueCol(c, schema), lit(NullPartValue))): _*)
  }

  /** The LIVE rows of `candidates` with per-row provenance — logical
    * columns plus `__graft_f` (file id) and `__graft_p` (row
    * position), prior DV'd positions already subtracted. The shared
    * front half of every merge-on-read DML path (delete / update /
    * merge), factored so the three can never disagree on column
    * mapping or prior-DV subtraction. */
  private def dvLiveFrame(spark: SparkSession, table: String,
      snap: Snapshot, candidates: Seq[AddFile]): DataFrame = {
    val base = {
      val b = spark.read.schema(snap.physSchema)
        .parquet(candidates.map(a =>
          Paths.get(table, a.relPath).toString): _*)
        .withColumn("__graft_f", fileIdCol)
        .withColumn("__graft_p", col("_metadata.row_index"))
      if (snap.colMap.isEmpty) b
      else b.select(snap.physSchema.fieldNames
        .zip(StructType.fromDDL(snap.schemaDdl).fieldNames)
        .map { case (p, l) => col(p).as(l) } :+
        col("__graft_f") :+ col("__graft_p"): _*)
    }
    val priorDv = candidates.filter(_.dv.isDefined)
    if (priorDv.isEmpty) base
    else base.join(broadcast(deadPositionsDf(spark, table, priorDv)),
      col("__graft_f") === col("__graft_dv_file") &&
        col("__graft_p") === col("__graft_dv_pos"), "left_anti")
      .drop("__graft_dv_file", "__graft_dv_pos")
  }

  /** Cap on the TOTAL matched rows a merge-on-read DML may collect to
    * the driver (the bitset sidecars are driver-built — DVs suit the
    * SMALL-delete niche; a predicate matching 10⁹ rows at 100 TB
    * must refuse loudly with copy-on-write advice instead of OOMing
    * the driver). Tunable per session. */
  private def dvMaxMatched(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.maxMatchedRows")
      .map(_.toLong).getOrElse(10000000L)

  /** File count for STAGING a merge-on-read DML's image sliver on a
    * PARTITIONED table: the range-clustered writer packs whole tuple
    * runs per file, so a batch spanning many partitions (a CDC apply
    * touching months of `days(ts)`) needs enough files to stay under
    * [[maxPartTuplesPerFile]] — with the default 1 file a >64-day
    * batch would REFUSE at stage time. One distinct-count over the
    * sliver (KB-scale by the DV niche) sizes it; half the cap per
    * file keeps headroom for uneven tuple runs. Unpartitioned tables
    * keep the caller's count. */
  private def dvImageNumFiles(images: DataFrame, snap: Snapshot,
      numFiles: Int): Int =
    if (snap.partCols.isEmpty) numFiles
    else {
      val schema = StructType.fromDDL(snap.schemaDdl)
      val nTuples = images.select(snap.partCols.map(c =>
        partValueCol(c, schema)): _*).distinct().count()
      math.max(numFiles,
        math.ceil(nTuples.toDouble / (maxPartTuplesPerFile / 2)).toInt)
    }

  /** The bulk guard's limit-probe size: `maxM + 1` clamped into the
    * Int domain WITHOUT overflow — a user raising the cap to
    * Long.MaxValue (the refusal's own advice names the knob) must
    * not wrap the probe to a zero/negative limit that silently
    * collects NOTHING (a no-op delete, or a merge committing images
    * with no dead positions — duplicated rows). At/above 2^31−1 the
    * probe degenerates to the collect's own position-domain bound. */
  private def dvProbeN(maxM: Long): Int =
    if (maxM >= Int.MaxValue.toLong - 1L) Int.MaxValue
    else math.max(1L, maxM + 1L).toInt

  /** Thrown when a merge-on-read DML matches more rows than
    * [[dvMaxMatched]] — TYPED so the SQL routing layer can re-route
    * that one statement through the copy-on-write path (the bulk
    * restatement a 100-TB table wants anyway) instead of failing it,
    * while tables declaring `dv.strict = true` keep the hard
    * refusal. */
  final class DvBulkRefusalException(msg: String)
    extends IllegalArgumentException(msg)

  private def dvBulkRefusal(table: String, op: String, max: Long) =
    new DvBulkRefusalException(
      s"$op into $table: more than $max matching rows — bulk DML; " +
        "deletion vectors are driver-built and suit small slivers. " +
        "Use the copy-on-write route, or raise " +
        "spark.graft.dv.maxMatchedRows")

  /** Per-touched-file EXACT key/column bounds over the rows that
    * SURVIVE a merge-on-read DML — one aggregation over only the
    * touched files' live survivors, priced at the sliver like the
    * hit scan itself. Feeds [[dvCommitEntries]] so the re-added
    * entries keep exact stats ([[AddFile.dvExact]]): the bounds a
    * dead extremum row vacated tighten instead of rotting, and
    * stats-only aggregates keep answering on MoR-heavy tables. */
  private def dvSurvivorStats(snap: Snapshot, survivors: DataFrame,
      touched: Set[String])
      : Map[String, (Long, Long, Seq[ColStat])] = {
    if (touched.isEmpty) return Map.empty
    val schema = StructType.fromDDL(snap.schemaDdl)
    val sCols = statCols(schema, snap.keyCol, snap.partCols)
    val statExprs = sCols.flatMap { case (c, _) =>
      Seq(min(col(c)), max(col(c))) }
    val rows = survivors
      .where(col("__graft_f").isin(touched.toSeq.sorted: _*))
      .groupBy(col("__graft_f"))
      .agg(min(col(snap.keyCol)).cast("long").as("__mn"),
        max(col(snap.keyCol)).cast("long").as("__mx") +: statExprs: _*)
      .collect()
    rows.map { r =>
      val cols = sCols.zipWithIndex.flatMap { case ((c, t), j) =>
        mkColStat(snap.physName(c), t, r.get(3 + 2 * j),
          r.get(3 + 2 * j + 1)) }
      r.getString(0) -> ((r.getLong(1), r.getLong(2), cols))
    }.toMap
  }

  /** The rows of `live` that SURVIVE a merge-on-read DML — derived
    * from the SAME collected (file, pos) hit rows the bitset sidecars
    * are built from (one broadcast anti-join on the dead set), never
    * from a second evaluation of the matching predicate: a
    * nondeterministic condition (rand(), current_timestamp) could
    * make a re-evaluated survivor set disagree with the recorded dead
    * positions, and the dvExact bounds stamped from it would then
    * answer stats-only aggregates silently wrong instead of refusing.
    * Called only from [[dvCommit]], so no DV verb can regress alone. */
  private def dvSurvivorsFrame(spark: SparkSession, live: DataFrame,
      raw: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val deadDf = raw.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("__graft_dead_f", "__graft_dead_p")
    live.join(broadcast(deadDf),
      col("__graft_f") === col("__graft_dead_f") &&
        col("__graft_p") === col("__graft_dead_p"), "left_anti")
      .drop("__graft_dead_f", "__graft_dead_p")
  }

  // -------------------------------------------- deletion-vector core

  /** The shared front of the DV verbs: `candidates` may take deletion
    * vectors only with current-spec tuple stats on a partitioned table
    * ([[requireDvPartStats]]) and with row counts inside the bitset's
    * Int position domain — checked up front for the ROW COUNT, not
    * just the matched positions, because the read path indexes the
    * bitset by running position, which must stay in range for every
    * live row of a DV'd file. `cow` is the copy-on-write route the
    * refusal points at. Returns `candidates`. */
  private def dvCandidates(table: String, snap: Snapshot,
      candidates: Seq[AddFile], cow: String): Seq[AddFile] = {
    requireDvPartStats(table, snap, candidates)
    candidates.find(_.rows > Int.MaxValue).foreach(a =>
      throw new IllegalArgumentException(
        s"$table: ${a.relPath} holds ${a.rows} rows — beyond the DV " +
          s"bitset's 2^31 position domain; use $cow"))
    candidates
  }

  /** `(__graft_f, __graft_p[, __graft_t])` over a [[dvLiveFrame]] —
    * the hit rows [[dvHits]] collects; the tuple renders only on
    * partitioned tables. */
  private def dvHitCols(snap: Snapshot): Seq[Column] =
    Seq(col("__graft_f"), col("__graft_p")) ++
      (if (snap.partCols.isEmpty) Nil
       else Seq(dvTupleCol(snap).as("__graft_t")))

  /** Collect the dead positions of one DV DML: the rows of `hitRows`
    * (shaped as [[dvHitCols]]; None when the verb has nothing that can
    * die) behind the bulk-matched guard — one `limit(dvProbeN)` probe
    * bounds the driver collect, and a predicate matching more than
    * [[dvMaxMatched]] rows refuses with [[DvBulkRefusalException]]
    * (`op` names the verb) instead of OOMing the driver at collect
    * time. */
  private def dvHits(spark: SparkSession, table: String, op: String,
      hitRows: Option[DataFrame]): Array[org.apache.spark.sql.Row] = {
    val maxM = dvMaxMatched(spark)
    hitRows.fold(Array.empty[org.apache.spark.sql.Row]) { df =>
      val got = df.limit(dvProbeN(maxM)).collect()
      if (got.length > maxM) throw dvBulkRefusal(table, op, maxM)
      got
    }
  }

  /** The shared end of the DV verbs: the dead positions `hits` by file
    * id, survivor-exact bounds for the touched files
    * ([[dvSurvivorStats]] over `live` minus `hits` —
    * [[dvSurvivorsFrame]], never a second evaluation of the
    * predicate), the new DV entries ([[dvCommitEntries]]), and ONE
    * commit of them with `staged`, the verb's new row images. */
  private def dvCommit(spark: SparkSession, table: String, snap: Snapshot,
      op: String, live: DataFrame, candidates: Seq[AddFile],
      hits: Array[org.apache.spark.sql.Row], staged: Seq[AddFile] = Nil,
      props: Option[Map[String, String]] = None): Long = {
    val byFile = hits.map(r => (r.getString(0), r.getLong(1),
        if (snap.partCols.isEmpty) Nil else r.getSeq[String](2).toList))
      .groupBy(_._1)
      .map { case (f, xs) => f -> xs.toSeq.map(x => (x._2, x._3)) }
    val (removes, dvAdds) = dvCommitEntries(table, snap, byFile, candidates,
      dvSurvivorStats(snap, dvSurvivorsFrame(spark, live, hits),
        byFile.keySet))
    commit(table, snap.version, op, dvAdds ++ staged, removes, "", "",
      props = props)
  }

  /** MERGE-ON-READ delete via DELETION VECTORS (Delta/Iceberg-v2's
    * DV lineage): instead of rewriting every touched file, record the
    * matching rows' POSITIONS in a per-file bitset sidecar and commit
    * new manifest entries pointing at them — the data bytes never
    * move, so deleting 0.1% of a 100-TB table costs one scan of the
    * candidate files plus KB-scale sidecar writes, not a rewrite.
    * Readers subtract dead positions (one broadcast anti-join on
    * parquet's row-index metadata); a file whose rows ALL die leaves
    * the active set outright. Sidecars are immutable and uniquely
    * tokened — a re-delete unions the old bitset into a NEW sidecar,
    * and losing a concurrent-commit race leaves only an orphan
    * sidecar for vacuum. The dead set rides the driver: DVs suit
    * SMALL deletes (their real-world niche — GDPR erasure, dedup
    * kill-lists); bulk deletes should stay copy-on-write
    * ([[deleteWhere]]). On PARTITIONED tables (the standard 100-TB
    * `days(ts)` layout — exactly where a GDPR point-delete must NOT
    * pay a full file rewrite) the commit also decrements the touched
    * files' per-tuple row stats by the dying rows' rendered tuples
    * ([[dvCommitEntries]]), so `#partitions` and tuple-stat pruning
    * stay EXACT through the delete. Key/column min/max stats survive
    * as over-approximations: pruning stays sound, exact
    * stats-answering refuses DV'd files. The DV core
    * ([[dvCandidates]], [[dvHits]], [[dvCommit]]) does the work; no
    * commit when nothing matches. */
  def deleteWhereDv(spark: SparkSession, table: String, cond: Column,
      pruneCandidates: Option[Snapshot => Seq[AddFile]] = None): Long = {
    val snap = state(table)
    // candidate pruning — the SAME manifest stat layers the COW
    // delete takes: a key-ranged GDPR delete on a 100-TB table scans
    // the intersecting sliver, never the active set
    val candidates = dvCandidates(table, snap,
      pruneCandidates.fold(snap.active)(_(snap)),
      "the copy-on-write deleteWhere")
    if (candidates.isEmpty) return snap.version
    val live = dvLiveFrame(spark, table, snap, candidates)
    val hits = dvHits(spark, table, "deleteWhereDv",
      Some(live.where(cond).select(dvHitCols(snap): _*)))
    if (hits.isEmpty) return snap.version
    dvCommit(spark, table, snap, "delete", live, candidates, hits)
  }

  /** MERGE-ON-READ update — deletion vectors + fresh-file append in
    * ONE commit (Iceberg v2's position-delete update shape): the
    * matched rows' positions die via DV sidecars (their files never
    * rewrite) and the updated images land as new files in the same
    * atomic commit — an update of 0.1% of a 100-TB table writes KB of
    * sidecars plus only the changed rows. Same niche, same DV core and
    * same guarantees as [[deleteWhereDv]] — on partitioned tables the
    * DV side decrements per-tuple stats exactly and the updated images
    * stage under the table's partition spec, so `#partitions` stays
    * exact through the update. No commit when nothing matches. */
  def updateWhereDv(spark: SparkSession, table: String, cond: Column,
      set: Map[String, Column], numFiles: Int = 1,
      pruneCandidates: Option[Snapshot => Seq[AddFile]] = None): Long = {
    val snap = state(table)
    // a DV update of EXISTING rows keeps its assigned ids (same
    // rationale as DV deletes passing requireNoIdentity), but the
    // set-expressions must not TARGET the identity column — rewriting
    // it would mint arbitrary ids past the ALWAYS refusal without
    // touching the high-water mark, breaking the allocator's
    // uniqueness invariant every other write path enforces
    val idTargets = identityOf(snap.props).map(_._1)
      .filter(c => set.keySet.exists(_.equalsIgnoreCase(c)))
    require(idTargets.isEmpty,
      s"updateWhereDv into $table: ${idTargets.mkString(", ")} is " +
        "GENERATED ALWAYS AS IDENTITY — its values cannot be updated")
    val candidates = dvCandidates(table, snap,
      pruneCandidates.fold(snap.active)(_(snap)), "copy-on-write DML")
    if (candidates.isEmpty) return snap.version
    val live = dvLiveFrame(spark, table, snap, candidates)
    // frozen: the hit positions and the updated images derive from
    // ONE evaluation of the condition
    val matched = live.where(cond).localCheckpoint(true)
    val hits = dvHits(spark, table, "updateWhereDv",
      Some(matched.select(dvHitCols(snap): _*)))
    if (hits.isEmpty) return snap.version
    val updated = matched.drop("__graft_f", "__graft_p")
      .select(updateSelectList("updateWhereDv", table, snap, set): _*)
    // The set-expressions produce NEW row images; a table that reports
    // ENFORCED CHECK constraints must gate them like every other write
    // path (append/merge/replaceWhere) — a DV update is not a side door.
    validateChecks(updated, checksOf(snap.props),
      s"updateWhereDv into $table")
    // the updated images stage under the table's OWN partition spec —
    // their tuple stats land exact like any other partitioned write;
    // file count sized to the images' tuple spread (a broad update
    // across many days must not trip the per-file tuple cap)
    val staged =
      stageAs(snap, updated, table, dvImageNumFiles(updated, snap, numFiles))
    dvCommit(spark, table, snap, "update", live, candidates, hits, staged)
  }

  /** Atomic slice restatement (Delta `replaceWhere` / dynamic
    * partition overwrite): in ONE commit, delete every active row
    * matching `cond` and insert `incoming` in its place — the
    * backfill/restatement primitive (re-deliver a corrected day,
    * re-run one partition) that two separate commits can't give a
    * reader atomically. `incoming` must itself satisfy `cond`
    * (checked; Delta's contract) — otherwise the "replace THIS
    * slice" claim would silently widen into an upsert of unrelated
    * rows. Cost profile is deleteWhere's, through the same
    * copy-on-write core: only files holding a matching row rewrite;
    * the new slice lands as fresh files in the same commit, which
    * lands even when nothing matches. */
  def replaceWhere(spark: SparkSession, table: String, cond: Column,
      incoming0: DataFrame, numFiles: Int): Long = {
    val snap = state(table)
    val identityCols = identityOf(snap.props)
    require(identityCols.size <= 1,
      s"replaceWhere into $table: ${identityCols.size} identity columns " +
        "(max 1)")
    val incoming = withWriteDefaults(incoming0, snap)
    val violating = incoming.where(!coalesce(cond, lit(false))).count()
    if (violating > 0) throw new IllegalArgumentException(
      s"replaceWhere: $violating incoming rows do not satisfy the replace " +
        "predicate — restating a slice must not smuggle rows outside it")
    validateChecks(incoming, checksOf(snap.props), s"replaceWhere into $table")
    val touched =
      touchedFiles(spark, table, snap, snap.active)(_.where(cond))
    // IDENTITY tables: replaceWhere is admissible ONLY as an
    // ID-PRESERVING slice restatement — the MERGE rewrite's
    // carried-id audit, applied to the slice: incoming rows carry
    // the ids they restate (explicitly — this is the one surface
    // where carried values are the contract, not a smuggle), every
    // id must exist in the replaced slice's pre-image, none may be
    // null or repeat. A smuggled (new/changed) id refuses loudly —
    // minting ids is appendIdentity/merge's job, under the
    // allocator's freeze-then-assign discipline. The mark never
    // moves: no id is allocated here.
    identityCols.headOption.foreach { case (c, _, _) =>
      require(incoming.columns.exists(_.equalsIgnoreCase(c)),
        s"replaceWhere into $table: '$c' is GENERATED ALWAYS AS " +
          "IDENTITY — a slice restatement must CARRY the ids it " +
          "preserves (omit-and-allocate would re-key the slice)")
      val ids = incoming.select(col(c))
      require(ids.where(col(c).isNull).count() == 0L,
        s"replaceWhere into $table: NULL values for identity column " +
          s"'$c' — a restatement cannot allocate ids")
      val dup = ids.groupBy(col(c)).count()
        .where(col("count") > 1L).count()
      require(dup == 0L,
        s"replaceWhere into $table: incoming rows repeat $dup identity " +
          s"value(s) of '$c' — the restatement is not id-preserving")
      val pre = readFiles(spark, table, snap, touched)
        .where(coalesce(cond, lit(false))).select(col(c))
      val strays = ids.join(pre, Seq(c), "left_anti").count()
      require(strays == 0L,
        s"replaceWhere into $table: $strays incoming rows carry values " +
          s"of identity column '$c' absent from the replaced slice's " +
          "pre-image — a restatement preserves ids, never mints them")
    }
    val survivors = readFiles(spark, table, snap, touched)
      .where(!coalesce(cond, lit(false)))
    cowCommit(snap, table, "replace", survivors.unionByName(incoming),
      numFiles, touched)
  }

  /** Copy-on-write MERGE (upsert): rows of `changes` whose key
    * matches an active row REPLACE it; the rest INSERT. Exactly the
    * files containing a matched key are rewritten (changes' keys
    * broadcast into one scan of the active set — [[touchedFiles]],
    * then [[cowCommit]]); inserts land as fresh files. The q90
    * full-outer-join semantics, landed as a transactional commit,
    * which an empty change set commits too.
    *
    * `evolve = true` is Delta's `autoMerge` shape: UNSEEN source
    * columns widen the target schema IN THE SAME atomic merge commit
    * (the commit carries both the data files and the merged DDL, so
    * readers never see the schema without the data or vice versa);
    * survivors of rewritten files and all untouched files null-fill
    * the new columns through the explicit-schema read, exactly the
    * appendEvolve contract. Existing columns must keep their exact
    * type and must all be present (a merge replaces WHOLE rows —
    * an absent column would silently null matched rows' data);
    * columns declared with a DEFAULT may be omitted and fill per the
    * write-default contract. Without `evolve`, unseen columns refuse
    * loudly — schema drift in a pipeline should be an explicit
    * decision, not an accident. */
  def merge(spark: SparkSession, table: String, changes0: DataFrame,
      numFiles: Int, evolve: Boolean = false): Long = {
    val snap = state(table)
    val k = snap.keyCol
    // IDENTITY tables merge like Delta's: changes OMIT the column
    // (ALWAYS), matched rows inherit their existing id, insert rows
    // allocate under the freeze-then-assign discipline with the mark
    // advanced in the merge commit itself (metadata-bearing — a
    // racing allocator aborts instead of rebasing into duplicates)
    val identityCols = identityOf(snap.props)
    require(identityCols.size <= 1,
      s"merge into $table: ${identityCols.size} identity columns (max 1)")
    val idOpt = identityCols.headOption
    idOpt.foreach { case (c, _, _) =>
      require(!c.equalsIgnoreCase(k),
        s"merge into $table: the merge key '$k' is GENERATED ALWAYS AS " +
          "IDENTITY — changes cannot reference ids they don't know; " +
          "use appendIdentity for inserts and updateWhereDv for updates")
      require(!changes0.columns.exists(_.equalsIgnoreCase(c)),
        s"merge into $table: '$c' is GENERATED ALWAYS AS IDENTITY — " +
          "explicit values are refused; omit the column (matched rows " +
          "keep their ids, inserts allocate)")
    }
    val idNames = idOpt.map(_._1).toSeq
    val changes = withWriteDefaults(changes0, snap)
    val old = StructType.fromDDL(snap.schemaDdl)
    val byName = changes.schema.map(f => f.name -> f).toMap
    old.filterNot(f => idNames.exists(_.equalsIgnoreCase(f.name)))
      .foreach { f =>
        byName.get(f.name) match {
          case None => throw new IllegalArgumentException(
            s"merge into $table: changes omit column '${f.name}' — a merge " +
              "replaces whole rows, so every table column must be present")
          case Some(g) if g.dataType != f.dataType =>
            throw new IllegalArgumentException(
              s"merge into $table: type conflict on '${f.name}': " +
                s"table ${f.dataType.sql} vs changes ${g.dataType.sql}")
          case _ => ()
        }
      }
    val oldNames = old.map(_.name).toSet
    val extra = changes.schema.filterNot(f => oldNames(f.name))
    if (extra.nonEmpty && !evolve) throw new IllegalArgumentException(
      s"merge into $table: changes carry unknown column(s) " +
        s"${extra.map(_.name).mkString(", ")} — pass evolve = true to " +
        "widen the schema with the merge")
    extra.foreach(f => checkPhysCollision(snap, f.name, "merge(evolve)"))
    val merged = StructType(old ++ extra)
    if (idOpt.isEmpty)
      validateChecks(changes, checksOf(snap.props), s"merge into $table")
    val changeKeys = changes.select(col(k)).distinct()
    val touched = touchedFiles(spark, table, snap, snap.active)(
      _.join(broadcast(changeKeys), k))
    val touchedRows = readFiles(spark, table, snap, touched)
    // identity completion of the change rows: matched keys inherit the
    // pre-image's id (min per key — the whole-row replace collapses a
    // duplicate-keyed group to one row, and the smallest id surviving
    // is deterministic); unmatched (insert) rows allocate hwm + i*step
    val (changes1, nAlloc) = idOpt match {
      case None => (changes, 0L)
      case Some((c, hwm, step)) =>
        val oldIds = touchedRows.groupBy(col(k)).agg(min(col(c)).as(c))
        val joined = changes.join(broadcast(oldIds), Seq(k), "left")
          .localCheckpoint(true)
        val keep = joined.where(col(c).isNotNull)
        val nulls = joined.where(col(c).isNull).drop(c)
        val n = nulls.count()
        val out =
          if (n == 0L) keep
          else keep.unionByName(allocateIds(spark, nulls, c, hwm, step))
        validateChecks(out, checksOf(snap.props), s"merge into $table")
        (out, n)
    }
    // survivors of touched files + every change row (replaces +
    // inserts); under evolution the survivors null-fill the new cols
    val rewritten = touchedRows
      .join(broadcast(changeKeys), Seq(k), "left_anti")
      .unionByName(changes1, allowMissingColumns = extra.nonEmpty)
    val propsOpt = idOpt.collect { case (c, hwm, step) if nAlloc > 0L =>
      snap.props + (s"identity.$c" -> identityProp(hwm + nAlloc * step, step))
    }
    cowCommit(snap, table, "merge", rewritten, numFiles, touched,
      if (extra.nonEmpty) merged.toDDL else "", propsOpt)
  }

  /** One arm of a tri-clause MERGE for [[mergeDv]]. `kind` is
    * `update` / `delete` (matched and not-matched-by-source clauses)
    * or `insert` (not-matched clauses); `cond` the arm's optional
    * AND-condition; `set` the assignments (target column → value
    * expression). Expressions reference the merge frame through the
    * [[MergeTargetPrefix]]/[[MergeSourcePrefix]] naming contract. */
  final case class MergeArm(cond: Option[Column], kind: String,
      set: Map[String, Column] = Map.empty)

  /** Candidate files for an equality-pruned [[mergeDv]] — the ON
    * condition is a plain `target.tc = source.sc`, so a file whose
    * recorded bounds for `tc` provably miss the SOURCE's value
    * envelope can hold no matched pair, and the insert anti-join is
    * equally unaffected by dropping it. Two bound sources:
    *
    *  - `tc` is the table KEY and `sc` integral → the always-present
    *    per-file [min, max] key range ([[prunedFiles]]);
    *  - otherwise the per-file COLUMN stats, when source and target
    *    agree on the stat domain: integral ('l'), or STRING ('s' —
    *    binary collation, the SAME over-approximated bounds the
    *    file-skip layer trusts: the stored min is a prefix ≤ the true
    *    min, the stored max rounds up or is unbounded, so
    *    "keep iff min ≤ hi ∧ (max unbounded ∨ max ≥ lo)" never drops
    *    a file holding a real match). String-vs-string comparison is
    *    exactly what the old integral-only restriction forbade: the
    *    unsoundness there was CASTING lexicographic bounds to longs,
    *    not comparing strings as strings. Doubles never prune (an
    *    equality envelope on floats is a smell, not a plan).
    *
    * The envelope aggregates over the ALREADY-frozen source (one tiny
    * agg of the checkpointed CDC batch), so it can never disagree
    * with the frame the joins read. Stat-less files, all-null
    * envelopes and cross-domain stats keep everything — pruning only
    * ever narrows where bounds PROVE absence. */
  private def mergePruneCandidates(snap: Snapshot, source: DataFrame,
      tc: String, sc: String): Seq[AddFile] = {
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
    val sType: Option[DataType] =
      source.schema.fields.find(_.name == sc).map(_.dataType)
    val tType: Option[DataType] = StructType.fromDDL(snap.schemaDdl)
      .fields.find(_.name == tc).map(_.dataType)
    def intish(t: Option[DataType]) =
      t.exists(x => x == LongType || x == IntegerType)
    if (tc == snap.keyCol && intish(sType)) {
      val r = source.agg(min(col(sc)).cast("long"),
        max(col(sc)).cast("long")).collect().head
      if (r.isNullAt(0) || r.isNullAt(1)) snap.active
      else prunedFiles(snap, r.getLong(0), r.getLong(1))
    } else {
      val domain: Option[Char] =
        if (intish(tType) && intish(sType)) Some('l')
        else if (tType.contains(StringType) && sType.contains(StringType))
          Some('s')
        else None
      domain match {
        case None => snap.active
        case Some(typ) =>
          val r = source.agg(min(col(sc)), max(col(sc))).collect().head
          if (r.isNullAt(0) || r.isNullAt(1)) snap.active
          else {
            val (lo, hi) = (r.get(0), r.get(1))
            val phys = snap.physName(tc)
            snap.active.filter { a =>
              a.cols.find(_.col == phys) match {
                case None => true
                case Some(s) if s.typ != typ => true // domain drift: keep
                case Some(s) =>
                  val sMin: Any = if (s.typ == 'l') s.min.toLong else s.min
                  val sMaxOpt: Option[Any] =
                    if (s.typ == 's' && s.max == ColStatUnbounded) None
                    else Some(if (s.typ == 'l') s.max.toLong else s.max)
                  cmpStat(typ, sMin, hi) <= 0 &&
                    sMaxOpt.forall(mx => cmpStat(typ, mx, lo) >= 0)
              }
            }
          }
      }
    }
  }

  /** Column-name prefixes of the [[mergeDv]] frame: every target
    * column is exposed as `__graft_t_<col>`, every source column as
    * `__graft_s_<col>`, so the ON condition and arm expressions can
    * reference both sides of a self-named join unambiguously. */
  val MergeTargetPrefix = "__graft_t_"
  val MergeSourcePrefix = "__graft_s_"

  /** MERGE-ON-READ tri-clause MERGE — deletion vectors + fresh-file
    * append in ONE commit, the Iceberg-v2/Delta-DV shape for the
    * sparse 100-TB CDC apply: rows hit by a matched UPDATE/DELETE arm
    * (or a not-matched-by-source arm) die via per-file bitset
    * sidecars — their files NEVER rewrite — while the updated images
    * and insert-arm rows land as fresh files in the same atomic
    * manifest. A 0.1%-of-rows MERGE scattered across the fleet pays
    * KB-scale sidecars plus only the changed rows, not the full-file
    * rewrites the copy-on-write [[merge]] (and the group-based SQL
    * route) would.
    *
    * Semantics are SQL MERGE's: the ON condition pairs target and
    * source rows; FIRST matching arm wins per row; a target row
    * modified by MORE than one source row refuses (the Delta/Spark
    * cardinality violation — checked after arm resolution, so a pair
    * excluded by every arm condition never trips it); unassigned
    * columns of an UPDATE image carry the target's values, of an
    * INSERT image fill declared defaults then NULL. On IDENTITY
    * tables arms must omit the id column: update images CARRY the
    * matched row's id by construction, insert rows allocate under the
    * freeze-then-assign discipline with the mark advanced in this
    * commit. CHECK constraints (and the synthetic gencol audits) gate
    * every new image. Partition-tuple stats decrement per dying row
    * and key/column bounds re-derive over survivors
    * ([[dvCommitEntries]]), so `#partitions` and stats-only
    * aggregates stay EXACT through the merge.
    *
    * Scale shape: ONE scan of the live candidate set joined against
    * the source (broadcastable when small), dead positions bounded by
    * the [[dvMaxMatched]] driver guard (DVs suit sparse DML — a bulk
    * restatement should take the COW route), survivor stats priced at
    * the touched sliver, images staged distributed. */
  /** `pruneOn = (targetCol, sourceCol)`, passed when the ON condition
    * is a plain cross-side equality: mergeDv aggregates the source's
    * envelope itself over the frozen source (so the bounds can never
    * disagree with the join inputs) and never reads a candidate file
    * whose bounds provably miss it — the table-key range when
    * `targetCol` is the key (a key-ranged CDC batch on a 100-TB table
    * scans the intersecting sliver, the same layers the DV delete
    * prunes with), else the manifest's per-file COLUMN stats, integral
    * and STRING domains alike (binary collation, the same
    * over-approximated bounds the file-skip layer trusts) — see
    * [[mergePruneCandidates]]. SOUND only without not-matched-by-source
    * arms: those must see every target row, so the combination
    * refuses. Matched pairs and the insert anti-join are unaffected —
    * a pruned file holds no value in the source's range, hence no
    * possible match. */
  def mergeDv(spark: SparkSession, table: String, source0: DataFrame,
      on: Column, matched: Seq[MergeArm] = Nil,
      notMatched: Seq[MergeArm] = Nil,
      notMatchedBySource: Seq[MergeArm] = Nil,
      numFiles: Int = 1,
      pruneOn: Option[(String, String)] = None): Long = {
    val snap = state(table)
    require(pruneOn.isEmpty || notMatchedBySource.isEmpty,
      s"mergeDv into $table: key pruning cannot compose with " +
        "not-matched-by-source arms — they must see every target row")
    // the source plan evaluates ONCE, before any join: the matched
    // inner join, the not-matched-by-source anti-join, the insert
    // anti-join and the prune envelope all read this frozen frame —
    // a nondeterministic or concurrently-changing source must not be
    // able to hand them mutually inconsistent row sets (a row both
    // DV'd as matched AND re-inserted as a duplicate). Delta
    // materializes the merge source for exactly this reason; the DV
    // niche makes the checkpoint cheap (the source is the sparse CDC
    // batch, not the table).
    val source = source0.localCheckpoint(eager = true)
    matched.foreach(a => require(a.kind == "update" || a.kind == "delete",
      s"mergeDv into $table: matched arms are update/delete, got '${a.kind}'"))
    notMatched.foreach(a => require(a.kind == "insert",
      s"mergeDv into $table: not-matched arms are insert, got '${a.kind}'"))
    notMatchedBySource.foreach(a =>
      require(a.kind == "update" || a.kind == "delete",
        s"mergeDv into $table: not-matched-by-source arms are " +
          s"update/delete, got '${a.kind}'"))
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, s"mergeDv into $table: no arms")
    val schema = StructType.fromDDL(snap.schemaDdl)
    val byLc = schema.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    (matched ++ notMatched ++ notMatchedBySource).foreach(_.set.keys
      .foreach(k => require(byLc.contains(lc(k)),
        s"mergeDv into $table: no such column '$k' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")))
    val identityCols = identityOf(snap.props)
    require(identityCols.size <= 1,
      s"mergeDv into $table: ${identityCols.size} identity columns (max 1)")
    val idOpt = identityCols.headOption
    idOpt.foreach { case (c, _, _) =>
      (matched ++ notMatched ++ notMatchedBySource).foreach(a =>
        require(!a.set.keys.exists(_.equalsIgnoreCase(c)),
          s"mergeDv into $table: '$c' is GENERATED ALWAYS AS IDENTITY — " +
            "arms cannot assign it; omit it (matched rows keep their " +
            "ids, inserts allocate)"))
    }
    val candidates = dvCandidates(table, snap,
      pruneOn.fold(snap.active) { case (tc, sc) =>
        mergePruneCandidates(snap, source, tc, sc) },
      "the copy-on-write merge")
    // the live target frame, prefixed; rendered partition tuple and
    // provenance ride alongside (computed BEFORE prefixing — the
    // tuple renders from logical names)
    val live0 =
      if (candidates.nonEmpty) dvLiveFrame(spark, table, snap, candidates)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("__graft_f",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("__graft_p",
            org.apache.spark.sql.types.LongType)))
    val partitioned = snap.partCols.nonEmpty
    val live =
      if (partitioned) live0.withColumn("__graft_tuple", dvTupleCol(snap))
      else live0
    val provCols = Seq(col("__graft_f"), col("__graft_p")) ++
      (if (partitioned) Seq(col("__graft_tuple")) else Nil)
    val tgt = live.select(schema.fieldNames.toSeq.map(c =>
      col(c).as(MergeTargetPrefix + c)) ++ provCols: _*)
    val src = source.select(source.columns.toSeq.map(c =>
      col(c).as(MergeSourcePrefix + c)): _*)
    // first-matching-arm resolution: arm i applies iff its condition
    // is TRUE and no earlier arm's was (SQL MERGE's clause order)
    def armIdx(arms: Seq[MergeArm]): Column =
      arms.zipWithIndex.foldRight(lit(null).cast("int")) {
        case ((a, i), acc) =>
          when(coalesce(a.cond.getOrElse(lit(true)), lit(false)), lit(i))
            .otherwise(acc)
      }
    // ---- matched pairs: arm-resolved, frozen (cardinality check,
    // hit collection and image build must see ONE evaluation)
    val mArmed: Option[DataFrame] =
      if (matched.isEmpty) None
      else Some(tgt.join(src, on, "inner")
        .withColumn("__graft_arm", armIdx(matched))
        .where(col("__graft_arm").isNotNull)
        .localCheckpoint(true))
    mArmed.foreach { m =>
      val dups = m.groupBy(col("__graft_f"), col("__graft_p")).count()
        .where(col("count") > 1L).count()
      require(dups == 0L,
        s"mergeDv into $table: $dups target row(s) matched AND modified " +
          "by multiple source rows — MERGE cardinality violation")
    }
    // ---- not-matched-by-source rows: target side of the anti-join
    val nmbsArmed: Option[DataFrame] =
      if (notMatchedBySource.isEmpty) None
      else Some(tgt.join(src, on, "left_anti")
        .withColumn("__graft_arm", armIdx(notMatchedBySource))
        .where(col("__graft_arm").isNotNull)
        .localCheckpoint(true))
    // ---- insert rows: source side of the anti-join
    val insArmed: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else Some(src.join(tgt, on, "left_anti")
        .withColumn("__graft_arm", armIdx(notMatched)))
    // image of one UPDATE arm: assigned columns cast to the declared
    // type, the rest carried from the target (identity ids included —
    // the carry IS the id-preservation proof)
    def updateImage(frame: DataFrame, arm: MergeArm, i: Int): DataFrame = {
      val setLc = arm.set.map { case (k, v) => lc(k) -> v }
      frame.where(col("__graft_arm") === i)
        .select(schema.fields.toSeq.map(f =>
          setLc.get(lc(f.name)).fold(col(MergeTargetPrefix + f.name))(
            _.cast(f.dataType)).as(f.name)): _*)
    }
    // image of one INSERT arm: assigned columns cast, identity
    // omitted (allocated below), declared defaults fill, rest NULL
    def insertImage(frame: DataFrame, arm: MergeArm, i: Int): DataFrame = {
      val setLc = arm.set.map { case (k, v) => lc(k) -> v }
      val idLc = idOpt.map(x => lc(x._1)).toSet
      val cols = schema.fields.toSeq
        .filterNot(f => idLc(lc(f.name))).map { f =>
          setLc.get(lc(f.name))
            .orElse(snap.defaults.get(f.name).map(d => expr(d._1)))
            .getOrElse(lit(null))
            .cast(f.dataType).as(f.name)
        }
      frame.where(col("__graft_arm") === i).select(cols: _*)
    }
    def imagesOf(frame: Option[DataFrame], arms: Seq[MergeArm])
        : Seq[DataFrame] = frame match {
      case None => Nil
      case Some(fr) => arms.zipWithIndex.collect {
        case (a, i) if a.kind == "update" => updateImage(fr, a, i)
      }
    }
    val updateImages =
      imagesOf(mArmed, matched) ++ imagesOf(nmbsArmed, notMatchedBySource)
    // identity inserts: freeze-then-assign over ONLY the insert rows
    val (insertImages, nAlloc) = insArmed match {
      case None => (Nil, 0L)
      case Some(fr) =>
        val perArm = notMatched.zipWithIndex.map { case (a, i) =>
          insertImage(fr, a, i) }
        // frozen for EVERY table, not just identity: the insert frame
        // feeds the CHECK validation, the tuple-spread sizing and the
        // stage write — three evaluations of the same anti-join, and
        // a nondeterministic source would let committed rows diverge
        // from the validated ones (the freeze-then-assign doctrine)
        val frozen = perArm.reduce(_.unionByName(_)).localCheckpoint(true)
        idOpt match {
          case None => (Seq(frozen), 0L)
          case Some((c, hwm, step)) =>
            val n = frozen.count()
            if (n == 0L) (Nil, 0L)
            else (Seq(allocateIds(spark, frozen, c, hwm, step)
              .select(schema.fieldNames.toSeq.map(col): _*)), n)
        }
    }
    val images = (updateImages ++ insertImages)
      .map(_.select(schema.fieldNames.toSeq.map(col): _*))
      .reduceOption(_.unionByName(_))
    images.foreach(df =>
      validateChecks(df, checksOf(snap.props), s"mergeDv into $table"))
    // ---- dead positions: matched-modified ∪ nmbs-modified, bounded
    // by the bulk guard (the sidecars are driver-built)
    val hitSel = Seq(col("__graft_f"), col("__graft_p")) ++
      (if (partitioned) Seq(col("__graft_tuple")) else Nil)
    val hits = dvHits(spark, table, "mergeDv",
      (mArmed.toSeq ++ nmbsArmed.toSeq).map(_.select(hitSel: _*))
        .reduceOption(_.unionByName(_)))
    if (hits.isEmpty && images.isEmpty) return snap.version
    val staged = images.fold(Seq.empty[AddFile])(df =>
      stageAs(snap, df, table, dvImageNumFiles(df, snap, numFiles)))
    val propsOpt = idOpt.collect { case (c, hwm, step) if nAlloc > 0L =>
      snap.props + (s"identity.$c" -> identityProp(hwm + nAlloc * step, step))
    }
    dvCommit(spark, table, snap, "merge", live, candidates, hits, staged,
      propsOpt)
  }

  /** OPTIMIZE ZORDER: [[compact]] whose output files follow the
    * Morton interleave of TWO columns (q108's `zTerms` device —
    * shared, so the standalone layout and the transactional one
    * cannot drift) instead of the key's range order. Each rewritten
    * file covers a z-range ≈ a rectangle in (x, y) space, so
    * predicates on EITHER column prune row-groups via ordinary
    * parquet min/max — the locality a single-column sort gives only
    * its own column. Key stats and bloom sidecars are still
    * collected over the re-laid files, so manifest-level skipping
    * keeps working (key ranges per file widen — that is the trade:
    * z-order spends key-locality to buy second-column locality,
    * disclosed). Logically a no-op like compact; conflicts the same
    * way. */
  def compactZorder(spark: SparkSession, table: String, colX: String,
      colY: String, numFiles: Int): Long = {
    val snap = state(table)
    val data = readFiles(spark, table, snap, snap.active)
    // column bounds collected once (one 4-cell row — the driver cost
    // of the scale factors, same posture as IVF's centroid collect)
    // and inlined as literals, so the layout is a pure expression
    // over the data columns and the written schema stays untouched
    val b = data.agg(
      min(col(colX)).cast("long"), max(col(colX)).cast("long"),
      min(col(colY)).cast("long"), max(col(colY)).cast("long")).collect().head
    val (minx, maxx, miny, maxy) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val sx = s"((($colX) - $minx) * 65535) div ${math.max(1L, maxx - minx)}"
    val sy = s"((($colY) - $miny) * 65535) div ${math.max(1L, maxy - miny)}"
    val zExpr = expr(graft.ops.ExtOps.zTerms(
      (e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)",
      s"($sx)", s"($sy)"))
    val adds = stage(data, table, snap.keyCol, numFiles,
      snap.bloom, layout = Some(zExpr), partCols = snap.partCols,
      specId = snap.specId)
    commit(table, snap.version, "zorder", adds,
      snap.active.map(_.relPath), "", "", colMap = colMapReset(snap))
  }

  /** A FULL rewrite (compact/zorder replaces every active file) writes
    * logical names physically, so it also MATERIALIZES the column
    * mapping away: the commit clears map and tombstones, after which
    * re-using a renamed-away or dropped name becomes legal again.
    * None (not an empty replacement) when no mapping is active, so
    * plain compactions keep their rebase-over-appends behavior —
    * mapping-carrying commits never rebase (see [[commit]]). */
  private def colMapReset(
      snap: Snapshot): Option[(Map[String, String], Set[String])] =
    if (snap.colMap.isEmpty && snap.droppedPhys.isEmpty) None
    else Some((Map.empty, Set.empty))

  /** PARTIAL small-file compaction — Delta OPTIMIZE's binpack shape:
    * rewrite ONLY the active files below `smallBytes` into
    * `targetFiles` range-partitioned files, leaving the already-
    * compacted bulk untouched. At 100 TB this is the difference
    * between folding a day's small-file debt and rewriting the table:
    * the full [[compact]] is a table rewrite, correct but priced at
    * the table; this one is priced at the debt. Partial, so it keeps
    * the column mapping (only a FULL rewrite may clear it) and only
    * conflicts with rewrites touching ITS files — two disjoint
    * small-file folds commit concurrently under the file-disjoint
    * rule. DV'd small files materialize their deletion vectors in
    * the rewrite (their survivors re-stage without the dead rows).
    * No-op when the debt is at or below the target. */
  def compactSmall(spark: SparkSession, table: String,
      smallBytes: Long, targetFiles: Int,
      scope: Seq[AddFile] => Seq[AddFile] = identity): Long = {
    val snap = state(table)
    // `scope` narrows the candidate set BEFORE the size filter — the
    // `OPTIMIZE ... WHERE` shape: on a partitioned 100-TB table the
    // daily housekeeping folds ONE partition's debt (candidates chosen
    // from tuple stats), and two scopes over disjoint partitions
    // commit concurrently under the file-disjoint conflict rule
    val small = scope(snap.active).filter { a =>
      val p = Paths.get(table, a.relPath)
      Files.exists(p) && Files.size(p) < smallBytes
    }
    if (small.size <= math.max(1, targetFiles)) return snap.version
    val adds = stageAs(snap, readFiles(spark, table, snap, small), table,
      targetFiles)
    commit(table, snap.version, "compact", adds,
      small.map(_.relPath), "", "")
  }

  /** SCOPED compaction — rewrite exactly the active files `scope`
    * selects (manifest-grain selection; the caller decides from
    * partition-tuple stats, sizes, or ages) into `numFiles`
    * range-partitioned files, leaving every other file byte-identical.
    * The transactional core of `CALL graftlog.compact_where`: on a
    * 100-TB `days(ts)` table, folding ONE day's deletion-vector debt
    * must be priced at that day, not at the table — the full
    * [[compact]] rewrite is the one operation such a table cannot
    * afford for a partition's worth of debt. Selected files' DVs
    * MATERIALIZE in the rewrite ([[readFiles]] subtracts dead
    * positions, so survivors re-stage without them and the re-staged
    * tuple stats stay exact); logically a no-op like every
    * compaction. Partial, so the column mapping is KEPT (only a full
    * rewrite may clear it) and two scopes over disjoint files commit
    * concurrently under the file-disjoint conflict rule. Returns
    * (version, files rewritten) — (current, 0) when the scope is
    * empty.
    *
    * `zorder = Some(cols)` (2–4 columns) re-lays the SELECTED slice
    * along the multi-column Z-curve instead of the key range
    * (Delta's `OPTIMIZE … WHERE … ZORDER BY` — [[compactZorder]]
    * priced at the scope, not the table): bounds are collected over
    * the selected survivors only, so the curve is tight for the
    * slice, and column names resolve through the column mapping
    * (the scoped rewrite KEEPS the mapping, so the layout expression
    * must speak the physical dialect the staged frame is written
    * in — key, partition and bloom columns never rename, everything
    * else may). Bit budget: 16 interleave bits per column through 3
    * columns, 15 at 4 (N·bits must stay under the sign bit) — more
    * columns each get coarser locality, the standard Z-order trade,
    * disclosed. Same stat trade as the full z-order: per-file key
    * ranges widen to buy the extra columns' locality; when the
    * scope spans several partition tuples the z-clustering also
    * mixes tuples per file (a one-day scope — the OPTIMIZE-WHERE
    * use — has a single tuple, so its stats stay day-exact). */
  def compactScoped(spark: SparkSession, table: String, numFiles: Int,
      scope: Snapshot => Seq[AddFile],
      zorder: Option[Seq[String]] = None): (Long, Int) = {
    val snap = state(table)
    val sel = scope(snap)
    if (sel.isEmpty) return (snap.version, 0)
    val data = readFiles(spark, table, snap, sel)
    val layout = zorder.flatMap { zcols =>
      require(zcols.size >= 2 && zcols.size <= 4,
        s"compactScoped on $table: zorder takes two to four columns, " +
          s"got ${zcols.mkString(", ")}")
      val bits = if (zcols.size <= 3) 16 else 15
      val scaleMax = (1L << bits) - 1L
      // z-order columns must scale into an integer lattice: refuse
      // non-integral (and missing) columns with a real message — a
      // silent cast would null the bounds and NPE below
      val schema = StructType.fromDDL(snap.schemaDdl)
      zcols.foreach { c =>
        val ok = schema.fields.find(_.name == c).exists(_.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType => true
          case _ => false
        })
        require(ok, s"compactScoped on $table: z-order column '$c' " +
          "must be an integral table column — the Z-curve scales " +
          "values into a fixed-width integer lattice")
      }
      // bounds over the SELECTED slice only (one 2N-cell driver row,
      // compactZorder's posture) — logical names here, the frame is
      // still logical; the rendered expression below is physical
      // because stage applies it after the column-mapping rename
      val aggs = zcols.flatMap(c =>
        Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
      val b = data.agg(aggs.head, aggs.tail: _*).collect().head
      // a fully-DV-erased slice (zero live rows) or an all-NULL
      // column yields null bounds — there is no curve to fit, and
      // the fold itself is still exactly what the caller asked for
      // (a q519-style erasure wave often empties the scoped day):
      // fall back to the key layout instead of NPEing
      if ((0 until 2 * zcols.size).exists(b.isNullAt)) None
      else {
        val scaled = zcols.zipWithIndex.map { case (c, i) =>
          val (lo, hi) = (b.getLong(2 * i), b.getLong(2 * i + 1))
          val p = snap.physName(c)
          s"(((($p) - $lo) * $scaleMax) div ${math.max(1L, hi - lo)})"
        }
        Some(expr(graft.ops.ExtOps.zTermsN(
          (e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)",
          scaled, bits)))
      }
    }
    val adds = stageAs(snap, data, table, numFiles, layout)
    (commit(table, snap.version,
      if (layout.isDefined) "zorder" else "compact", adds,
      sel.map(_.relPath), "", ""), sel.size)
  }

  /** Rewrite the whole active set into `numFiles` range-partitioned
    * files — logically a no-op (the spec pins snapshot equality),
    * physically the small-file compaction a streaming-ingest table
    * needs (q133's planner decides WHEN; this is the transactional
    * HOW). Conflicts with concurrent rewrites, rebases over
    * concurrent appends. */
  def compact(spark: SparkSession, table: String, numFiles: Int): Long = {
    val snap = state(table)
    val data = readFiles(spark, table, snap, snap.active)
    val adds = stage(data, table, snap.keyCol, numFiles, snap.bloom,
      partCols = snap.partCols, specId = snap.specId)
    commit(table, snap.version, "compact", adds,
      snap.active.map(_.relPath), "", "", colMap = colMapReset(snap))
  }

  // ------------------------------------------------------------ reads

  /** Snapshot read at `version` (default latest): scan exactly the
    * active files. Plain `spark.read.parquet` underneath, so
    * vectorized scan / pushdown / pruning all apply. */
  def snapshot(spark: SparkSession, table: String,
      version: Long = Long.MaxValue): DataFrame = {
    val snap = state(table, version)
    readFiles(spark, table, snap, snap.active)
  }

  /** The active files whose `[min, max]` key range intersects
    * `[lo, hi]` — manifest-level file skipping, decided from
    * file-grain stats before Spark plans any scan. */
  def prunedFiles(snap: Snapshot, lo: Long, hi: Long): Seq[AddFile] =
    snap.active.filter(a => a.max >= lo && a.min <= hi)

  /** Key-range read: manifest-level skip via [[prunedFiles]], then
    * the residual predicate on the survivors (files can overhang the
    * range). The row-level filter also reaches the parquet scan as a
    * pushed filter — two independent skipping layers. */
  def snapshotWhereKey(spark: SparkSession, table: String, lo: Long,
      hi: Long, version: Long = Long.MaxValue): DataFrame = {
    val snap = state(table, version)
    readFiles(spark, table, snap, prunedFiles(snap, lo, hi))
      .where(col(snap.keyCol).between(lo, hi))
  }

  /** The active files that MIGHT contain any of `values` in the
    * bloom-indexed column — per-file bloom sidecars tested before
    * Spark plans any scan, the second manifest-level skipping layer
    * ([[prunedFiles]] skips by KEY range; this skips by a NON-key
    * point predicate, which range stats cannot help with). A file
    * without a sidecar is kept (bloom absence must never lose rows);
    * false positives only widen the read set. Probe positions are
    * computed by the SAME Spark expressions that built the sidecars
    * (one trivial job over the probe values), so builder and prober
    * cannot drift. Driver cost: one sidecar read per active file —
    * file-grain, like the manifest itself; a production table folds
    * sidecar digests into the checkpoint. */
  def prunedFilesBloom(spark: SparkSession, table: String, snap: Snapshot,
      values: Seq[Any]): Seq[AddFile] =
    prunedFilesBloomOf(spark, table, snap, values, snap.active)

  /** [[prunedFilesBloom]] over an explicit candidate set — composes
    * AFTER the chunk/key/partition layers so a bloom probe never
    * forces the full chunk parse those layers just avoided. */
  def prunedFilesBloomOf(spark: SparkSession, table: String,
      snap: Snapshot, values: Seq[Any],
      candidates: Seq[AddFile]): Seq[AddFile] = snap.bloom match {
    case None => candidates
    case Some((c, m)) =>
      val field = StructType.fromDDL(snap.schemaDdl)
        .find(_.name == c).getOrElse(throw new IllegalArgumentException(
          s"bloom column '$c' not in table schema"))
      import scala.jdk.CollectionConverters._
      val probe = spark.createDataFrame(
        values.map(v => org.apache.spark.sql.Row(v)).asJava,
        StructType(Seq(field)))
      // one k-position row per probe value; a file survives if ALL k
      // bits of AT LEAST ONE value are set
      val posPerValue = probe.select(array(bloomPosCols(c, m): _*).as("ps"))
        .collect().map(_.getSeq[Int](0))
      candidates.filter { a =>
        val sidecar = Paths.get(table, sidecarRel(a.relPath, c))
        if (!Files.exists(sidecar)) true
        else {
          val bits = java.util.BitSet.valueOf(Files.readAllBytes(sidecar))
          posPerValue.exists(ps => ps.forall(bits.get))
        }
      }
  }

  /** Point-lookup read on the bloom-indexed column: sidecar-pruned
    * file set, then the exact `IN` predicate on the survivors (bloom
    * false positives and co-resident rows filter out row-level; the
    * predicate also pushes into the parquet scan). */
  def snapshotWhereIn(spark: SparkSession, table: String,
      values: Seq[Any], version: Long = Long.MaxValue): DataFrame = {
    val snap = state(table, version)
    val c = snap.bloom.map(_._1).getOrElse(throw new IllegalArgumentException(
      s"$table declares no bloom-indexed column"))
    readFiles(spark, table, snap, prunedFilesBloom(spark, table, snap, values))
      .where(col(c).isin(values: _*))
  }

  /** (rows, minKey, maxKey) at `version`, answered PURELY from the
    * manifest — zero data files opened. Exact, not estimated: the
    * per-file stats are true bounds computed at commit time, so their
    * fold is the true table aggregate (the Iceberg metadata-table
    * trick; at 100 TB this turns a full scan into a driver fold over
    * file-grain metadata). */
  def statsOf(table: String, version: Long = Long.MaxValue): (Long, Long, Long) = {
    val snap = state(table, version)
    require(snap.active.nonEmpty, s"$table has no data at v$version")
    // rows subtract deletion vectors and stay EXACT; min/max accept a
    // DV'd file ONLY when its bounds were re-derived over the
    // survivors at DV-commit time (dvExact) — legacy DV entries'
    // bounds are over-approximations (a dead row may have carried
    // the bound) and refuse: the stats contract here is exactness
    require(snap.active.forall(a => a.dv.isEmpty || a.dvExact),
      s"$table v$version carries legacy deletion vectors — key bounds " +
        "are over-approximations; compact to materialize them exactly")
    (snap.active.map(_.liveRows).sum,
      snap.active.map(_.min).min, snap.active.map(_.max).max)
  }

  /** Exact live row count of a snapshot from the manifest alone —
    * physical rows minus deletion-vector dead rows. */
  def liveRowsOf(table: String, version: Long = Long.MaxValue): Long =
    state(table, version).active.map(_.liveRows).sum

  /** Commit history at logical grain: per version — operation, file
    * and row deltas, and running totals. Row counts come from the
    * manifests (removes are resolved against the replayed active
    * set), so history never touches data files. */
  def history(table: String): Seq[HistoryRow] = {
    // per-path LIVE rows (physical minus DV dead): a deletion-vector
    // commit re-adds the same path with a higher dead count, and the
    // ledger nets out to exactly the killed rows
    val rowsOf = scala.collection.mutable.Map.empty[String, Long]
    commits(table).map { c =>
      val removedRows = c.removes.map(rowsOf).sum
      c.removes.foreach(rowsOf -= _)
      c.adds.foreach(a => rowsOf(a.relPath) = a.liveRows)
      HistoryRow(c.version, c.op, c.adds.size, c.removes.size,
        c.adds.map(_.liveRows).sum, removedRows, rowsOf.values.sum)
    }
  }

  final case class HistoryRow(version: Long, op: String, nAdds: Int,
      nRemoves: Int, rowsAdded: Long, rowsRemoved: Long, totalRows: Long)

  /** Data files on disk no longer referenced by the LATEST snapshot
    * — compaction/delete leftovers and torn-writer orphans. Dry-run:
    * returns table-relative paths; deleting them trades away time
    * travel to earlier versions (a production vacuum takes a
    * retention horizon and keeps files referenced by any snapshot
    * inside it). */
  /** Grace horizon before an unreferenced file becomes vacuumable —
    * a concurrent writer's STAGED-but-not-yet-committed files look
    * unreferenced to vacuum (the stage write precedes the manifest
    * link), and deleting them would let the writer's subsequent
    * commit reference missing files: the one way a torn writer CAN
    * corrupt the table. The horizon must exceed the longest plausible
    * stage-to-commit gap (Delta's retention check, same reasoning).
    * Tests that own the only writer pass 0. */
  val defaultVacuumGraceMillis: Long = 15L * 60 * 1000

  /** A snapshot's on-disk footprint: data files plus their ACTIVE
    * deletion-vector sidecars (superseded DV generations are fair
    * vacuum game — each re-delete tokens a fresh sidecar). */
  private def footprint(active: Seq[AddFile]): Set[String] =
    active.flatMap(a =>
      a.relPath +: a.dv.map(d => a.relPath + "." + d._1).toSeq).toSet

  // ------------------------------------------------------------- tags

  /** TAG `name` → pin `version` (default: the current head) as an
    * IMMUTABLE named ref (the Iceberg tag lineage): one `tag.<name>`
    * property committed as metadata — O(1) at any table scale,
    * auditable in history. Two teeth: (a) `VERSION AS OF '<name>'`
    * resolves through the tag on the SQL read path, so "the corpus
    * we trained v3 on" is addressable without version-number
    * bookkeeping; (b) VACUUM PINNING — every vacuum variant keeps
    * the files active at every tagged version, so a tagged snapshot
    * stays readable past retention until [[dropTag]] releases it
    * (Iceberg's ref-reachability rule). Tags are immutable:
    * re-tagging an existing name refuses. All-digit names refuse —
    * `VERSION AS OF` must stay unambiguous between versions and
    * tags. */
  def tag(table: String, name: String, version: Long = -1L): Long = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"),
      s"tag name must be token-shaped: '$name'")
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — VERSION AS OF could not " +
        "distinguish it from a version number")
    val snap = state(table)
    val v = if (version < 0L) snap.version else version
    require(v >= 1L && v <= snap.version,
      s"tag '$name': version $v outside committed 1..${snap.version}")
    snap.props.get(s"tag.$name").foreach(old =>
      throw new IllegalArgumentException(
        s"tag '$name' already pins v$old — tags are immutable; " +
          "dropTag first"))
    commit(table, snap.version, "tag", Nil, Nil, "", "",
      props = Some(snap.props + (s"tag.$name" -> v.toString)))
  }

  /** Release tag `name` — its pinned version's files return to the
    * ordinary vacuum rules on the next sweep. */
  def dropTag(table: String, name: String): Long = {
    val snap = state(table)
    require(snap.props.contains(s"tag.$name"), s"no tag '$name' on $table")
    commit(table, snap.version, "droptag", Nil, Nil, "", "",
      props = Some(snap.props - s"tag.$name"))
  }

  /** Name-sorted (tag, pinned version) pairs of the current snapshot. */
  def listTags(table: String): Seq[(String, Long)] =
    state(table).props.toSeq.collect {
      case (k, v) if k.startsWith("tag.") =>
        (k.stripPrefix("tag."), v.toLong)
    }.sortBy(_._1)

  /** The union footprint of every TAGGED version — the keep-set the
    * vacuum variants add so tagged snapshots stay readable. One
    * historical state() per DISTINCT pinned version; zero data I/O. */
  private def taggedFootprint(table: String, s: Snapshot): Set[String] =
    s.props.collect { case (k, v) if k.startsWith("tag.") => v.toLong }
      .toSet.flatMap((v: Long) => footprint(state(table, v).active))

  def vacuumList(table: String,
      graceMillis: Long = defaultVacuumGraceMillis): Seq[String] = {
    val s = state(table)
    unreferencedOnDisk(table,
      footprint(s.active) ++ taggedFootprint(table, s), graceMillis)
  }

  /** On-disk data files / sidecars outside `keep`, age-gated. */
  private def unreferencedOnDisk(table: String, keep: Set[String],
      graceMillis: Long): Seq[String] = {
    val dataDir = Paths.get(table, "data")
    if (!Files.isDirectory(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - graceMillis
    val s = Files.walk(dataDir)
    val all = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        // data files and bloom sidecars — Spark's _SUCCESS markers and
        // .crc droppings are commit-scoped scratch, not table state
        .filter { p =>
          val n = p.getFileName.toString
          (n.endsWith(".parquet") || n.endsWith(".bloom") ||
            n.contains(".parquet.dv")) &&
            !n.startsWith(".") && !n.startsWith("_")
        }
        // in-flight stages are young by definition: age-gate first
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .map(p => Paths.get(table).relativize(p).toString).toSeq
    } finally s.close()
    // a bloom sidecar lives and dies with its data file; a DV sidecar
    // is its own keep entity (only the ACTIVE generation is kept)
    def keepEntity(rel: String): String =
      if (rel.contains(".parquet.dv")) rel
      else if (rel.endsWith(".bloom"))
        rel.substring(0, rel.indexOf(".parquet") + 8)
      else rel
    all.filterNot(rel => keep(keepEntity(rel))).sorted
  }

  /** Physically delete [[vacuumList]]'s files. Returns the count. */
  def vacuum(table: String,
      graceMillis: Long = defaultVacuumGraceMillis): Int = {
    val victims = vacuumList(table, graceMillis)
    victims.foreach(p => Files.deleteIfExists(Paths.get(table, p)))
    victims.size
  }

  /** [[vacuumList]] generalized to a RETENTION WINDOW: candidate
    * files are those referenced by NO snapshot among the last
    * `retainVersions` versions — a file reachable from any retained
    * version is structurally excluded, so in-window time travel
    * survives the vacuum by construction (the Delta retention rule;
    * the spec proves both directions). Versions older than the
    * window keep their manifests — history stays auditable — but
    * their reads fail loudly once their exclusive files are gone:
    * retention trades old-version readability for space, and says
    * so. `retainVersions = 1` degenerates to [[vacuumList]]. */
  def vacuumListRetain(table: String, retainVersions: Int,
      graceMillis: Long = defaultVacuumGraceMillis): Seq[String] = {
    require(retainVersions >= 1,
      s"retention must keep at least the latest version, got $retainVersions")
    val last = latestVersion(table)
    val fromV = math.max(1L, last - retainVersions + 1)
    val keep = (fromV to last)
      .flatMap(v => footprint(state(table, v).active)).toSet ++
      taggedFootprint(table, state(table)) // tags pin PAST retention
    unreferencedOnDisk(table, keep, graceMillis)
  }

  /** Reclaim checkpoint CHUNK files in `_log/` referenced by NO
    * on-disk checkpoint list — losers of checkpoint races and
    * generations superseded once a later checkpoint rewrote their
    * dirty chunks (checkpoint LISTS themselves are never deleted:
    * they are the recovery spine, file-grain small). Age-gated like
    * the data vacuum — an in-flight checkpoint writes its chunks
    * BEFORE linking its list. A separate verb from [[vacuum]] so
    * data-file accounting stays exact; run it on the same cadence.
    * Returns the count deleted. */
  def vacuumLogChunks(table: String,
      graceMillis: Long = defaultVacuumGraceMillis): Int = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return 0
    val referenced = logListing(table)._2.flatMap { v =>
      parseCheckpointList(table, v)._2.getOrElse(Nil).map(_.relName)
    }.toSet
    val cutoff = System.currentTimeMillis() - graceMillis
    val s = Files.list(dir)
    val victims = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("c-") && n.endsWith(".chunk") && !referenced(n) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff
      }.toSeq
    } finally s.close()
    victims.foreach(Files.deleteIfExists(_))
    victims.size
  }

  final case class VacuumReport(filesDeleted: Int, rowsReclaimed: Long)

  /** Execute the retention-checked vacuum. `rowsReclaimed` is folded
    * from the commit manifests (file-grain metadata, no data I/O);
    * a torn-writer orphan that never reached a manifest deletes as
    * 0 rows — it never held committed data. */
  def vacuumRetain(table: String, retainVersions: Int,
      graceMillis: Long = defaultVacuumGraceMillis): VacuumReport = {
    val victims = vacuumListRetain(table, retainVersions, graceMillis)
    val rowsOf = commits(table).flatMap(_.adds)
      .map(a => a.relPath -> a.rows).toMap
    val rows = victims.iterator.filter(_.endsWith(".parquet"))
      .map(p => rowsOf.getOrElse(p, 0L)).sum
    victims.foreach(p => Files.deleteIfExists(Paths.get(table, p)))
    VacuumReport(victims.size, rows)
  }
}
