package graft.sources

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.{ColumnBridge, SessionBridge}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType

import graft.tablelog.TableLog

/** SQL `INSERT INTO` on IDENTITY and GENERATED-column tables — the
  * reachability half of q494/q496: the allocator/generator semantics
  * exist on the TableLog API ([[TableLog.appendIdentity]],
  * `withWriteDefaults`), but the DSv2 staged-append path receives
  * already-written files, so it can only REFUSE an identity table and
  * must be handed generated columns precomputed. The reference's
  * users speak SQL over the loaded table (`terraform/outputs.tf:13-15`
  * exports the queryable table id), so the engine routes the
  * statement itself: an analyzer rule (HINTS batch, before
  * ResolveInsertInto turns the statement into a staged AppendData)
  * rewrites `INSERT INTO graftlog.t …` on a declaring table into a
  * command that runs the query and appends through the SAME TableLog
  * write path every API writer uses — identity ids assigned
  * `hwm + rowIndex` under the freeze-then-assign discipline with the
  * high-water mark advanced IN the commit (metadata-bearing, so a
  * racing allocator still aborts instead of rebasing into duplicate
  * ids), omitted generated columns computed on the write, supplied
  * ones audited by the synthetic CHECK. ALWAYS semantics hold on the
  * SQL path exactly as on the API: an INSERT naming the identity
  * column refuses loudly.
  *
  * Scale shape: the rewrite is plan-time; execution is ONE pass over
  * the inserted rows (identity adds the zipWithIndex job q496 prices)
  * staged into `max(1, input partitions)` files — the same
  * one-file-per-task shape as the DSv2 batch writer. Plain INSERTs on
  * tables declaring neither feature never match and keep the staged
  * DSv2 path untouched. */
class GraftGeneratedInsertRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  private def graftCatalog(name: String): Option[GraftLogCatalog] =
    try session.sessionState.catalogManager.catalog(name) match {
      case g: GraftLogCatalog => Some(g)
      case _ => None
    } catch { case NonFatal(_) => None }

  /** (tablePath, identityCols, genCols, props) when `parts` names a
    * LIVE graftlog table declaring identity or generated columns.
    * Memoized by (path, latestVersion): the analyzer's fixed-point
    * batch re-applies the rule several times per statement, and an
    * uncached lookup would replay the manifest (a full state() parse)
    * on every iteration — the version key keeps the cache exact under
    * concurrent commits, at one directory listing per probe. */
  private val declCache = scala.collection.mutable.HashMap.empty[
    (String, Long),
    Option[(String, Seq[String], Seq[String], Map[String, String],
      Boolean)]]

  private def declaring(parts: Seq[String])
      : Option[(String, Seq[String], Seq[String], Map[String, String],
        Boolean)] =
    if (parts.length < 2) None
    else graftCatalog(parts.head).flatMap(_.tablePathOf(parts.tail))
      .flatMap { tp =>
        val v = TableLog.latestVersion(tp)
        if (v <= 0L) None
        else declCache.synchronized {
          if (declCache.size > 256) declCache.clear()
          declCache.getOrElseUpdate((tp, v), {
            val snap = TableLog.state(tp)
            val props = snap.props
            val ids = props.keys.filter(_.startsWith("identity."))
              .map(_.stripPrefix("identity.")).toSeq.sorted
            val gens = props.keys.filter(_.startsWith("gencol."))
              .map(_.stripPrefix("gencol.")).toSeq.sorted
            // tables routing merge-on-read UPDATEs or MERGEs are
            // interesting too, even with no generated columns (the
            // update.mode/merge.mode twins of the catalog's
            // delete.mode gate), as are tables declaring
            // schema.autoMerge (the MERGE evolution opt-in); dvOk
            // says the partitioned-DV precondition holds
            // (current-spec tuple stats everywhere) so routing can
            // fall back to COW mid-spec-evolution instead of refusing
            if (ids.isEmpty && gens.isEmpty &&
                !GraftLogTable.morDeclared(props, "update.mode") &&
                !GraftLogTable.morDeclared(props, "merge.mode") &&
                !GraftLogTable.autoMergeDeclared(props)) None
            else Some((tp, ids, gens, props,
              GraftLogTable.dvSpecClean(snap)))
          })
        }
      }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // append-form only: INSERT OVERWRITE and static-partition inserts
    // keep their existing (refusing) paths — an overwrite on an
    // identity table smuggles arbitrary ids by construction
    case i @ InsertIntoStatement(r: UnresolvedRelation, partSpec,
        userCols, query, false, _, byName) if partSpec.isEmpty =>
      declaring(r.multipartIdentifier) match {
        case Some((path, ids, gens, _, _))
            if ids.nonEmpty || gens.nonEmpty =>
          GraftGeneratedInsertCommand(path, userCols, query, byName,
            ids, gens)
        case _ => i // mor-update-only tables keep the staged INSERT
      }
    // SQL UPDATE on a declaring table: recompute omitted generated
    // columns (with the NEW values of assigned source columns
    // substituted into the generation expression — Delta's UPDATE
    // semantics; assignments evaluate simultaneously against the old
    // row, so without substitution the audit would refuse every
    // source-column update), and on identity tables refuse an id
    // assignment loudly while routing id-preserving updates through
    // the merge-on-read DV path (the staged rewrite cannot prove ids
    // unchanged and refuses wholesale).
    case u @ UpdateTable(target, assignments, cond)
        if relationOf(target).isDefined =>
      val (rel, alias) = relationOf(target).get
      declaring(rel.multipartIdentifier) match {
        case None => u
        case Some((path, ids, _, props, dvOk)) =>
          def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
          def keyName(a: Assignment): Option[String] = a.key match {
            case att: UnresolvedAttribute => Some(lc(att.nameParts.last))
            case _ => None
          }
          // the rewrite runs BEFORE Spark's assignment resolution, so
          // its duplicate-target check never fires on this path — and
          // the identity route folds assignments Seq->Map, where a
          // duplicate would silently collapse last-wins. Refuse
          // (case-insensitively, exact dupes included) like SQL UPDATE.
          assignments.flatMap(keyName).groupBy(identity)
            .find(_._2.size > 1).foreach { case (k, _) =>
              throw new IllegalArgumentException(
                s"UPDATE on graftlog table $path: duplicate assignment " +
                  s"target '$k'")
            }
          val assigned = assignments.flatMap(keyName).toSet
          val idHit = ids.filter(c => assigned(lc(c)))
          if (idHit.nonEmpty) throw new IllegalArgumentException(
            s"UPDATE on graftlog table $path: ${idHit.mkString(", ")} " +
              "is GENERATED ALWAYS AS IDENTITY — its values cannot be " +
              "updated")
          val newValueOf = assignments
            .flatMap(a => keyName(a).map(_ -> a.value)).toMap
          val genAssigns = props.toSeq.collect {
            case (k, sql) if k.startsWith("gencol.") &&
                !assigned(lc(k.stripPrefix("gencol."))) =>
              val col = k.stripPrefix("gencol.")
              val parsed =
                session.sessionState.sqlParser.parseExpression(sql)
              // substitute assigned columns' NEW value expressions
              val subst = parsed.transformUp {
                case att: UnresolvedAttribute
                    if newValueOf.contains(lc(att.nameParts.last)) =>
                  newValueOf(lc(att.nameParts.last))
              }
              Assignment(UnresolvedAttribute.quoted(col), subst)
          }
          val full = assignments ++ genAssigns
          // routing: identity tables MUST take the merge-on-read path
          // (the staged rewrite can't prove ids unchanged without the
          // commit-time audit); plain tables take it when they DECLARE
          // update.mode = merge-on-read — the update.mode twin of the
          // catalog's delete.mode gate, small updates paying sidecar
          // KBs instead of file rewrites
          // mid-spec-evolution (!dvOk) the DV path would refuse on
          // stale-era tuple stats — fall back to the COW route, which
          // succeeds there (identity tables still route DV: their COW
          // path can't prove ids unchanged, and the loud compact
          // advice beats a silent wrong route)
          val morDeclared =
            GraftLogTable.morDeclared(props, "update.mode") && dvOk
          if (ids.isEmpty && !morDeclared) u.copy(assignments = full)
          else {
            // the DV-update path reads the bare table frame — strip
            // the statement alias's qualifier from assignment values
            // and the condition (`UPDATE t AS x SET v = upper(x.v)`)
            def strip(e: Expression): Expression = alias match {
              case None => e
              case Some(a) => e.transformUp {
                case att: UnresolvedAttribute
                    if att.nameParts.length > 1 &&
                      lc(att.nameParts.head) == lc(a) =>
                  UnresolvedAttribute(att.nameParts.tail)
              }
            }
            val set = full.map { a =>
              val name = a.key match {
                case att: UnresolvedAttribute => att.nameParts.last
                case other => throw new IllegalArgumentException(
                  s"UPDATE on graftlog identity table $path: " +
                    s"unsupported assignment target ${other.sql}")
              }
              name -> ExprBox(strip(a.value))
            }
            GraftIdentityUpdateCommand(path, set,
              cond.map(c => ExprBox(strip(c))))
          }
      }
    // SQL MERGE on a declaring table: finish the arms (identity NULL
    // injection + refusals, gencol compute/recompute). Under
    // TBLPROPERTIES('merge.mode' = 'merge-on-read') the statement
    // then routes through [[TableLog.mergeDv]] — dead positions land
    // as deletion-vector sidecars, images as fresh files, one atomic
    // commit, NO file rewrites (the sparse-CDC shape). Otherwise it
    // stays on Spark's own group-based copy-on-write rewrite — the
    // staged commit's completion pass allocates and audits ids.
    case m: MergeIntoTable if relationOf(m.targetTable).isDefined =>
      val (rel, alias) = relationOf(m.targetTable).get
      declaring(rel.multipartIdentifier) match {
        case None => m
        case Some((path, ids, _, props, dvOk)) =>
          val gens = props.toSeq.collect {
            case (k, sql) if k.startsWith("gencol.") =>
              (k.stripPrefix("gencol."), sql) }.sortBy(_._1)
          val completed =
            if (ids.isEmpty && gens.isEmpty) m
            else m.copy(
              matchedActions =
                completeMergeArms(path, ids, gens, alias, m.matchedActions),
              notMatchedActions =
                completeMergeArms(path, ids, gens, alias,
                  m.notMatchedActions),
              notMatchedBySourceActions = completeMergeArms(path, ids, gens,
                alias, m.notMatchedBySourceActions))
          // schema.autoMerge (Delta's autoMerge lineage): when the
          // table opts in and the SOURCE resolves with a column the
          // target lacks, the statement behaves as if written WITH
          // SCHEMA EVOLUTION — Spark's evolution rule then widens the
          // schema through this catalog's alterTable and re-plans the
          // merge against it (old files null-fill through the
          // explicit-schema read, the q166/q492 contract). Disclosed:
          // Spark's native path is an ALTER commit followed by the
          // merge commit, so a merge that subsequently fails leaves
          // the (additive, harmless) widened schema — the one-commit
          // form stays on the TableLog.merge(evolve = true) API. The
          // source-probe gate keeps evolution-free merges on their
          // normal (incl. merge-on-read) routes; an unresolvable
          // source changes nothing.
          val autoEvolve = !m.withSchemaEvolution &&
            GraftLogTable.autoMergeDeclared(props) && {
            def lcx(s: String) = s.toLowerCase(java.util.Locale.ROOT)
            try {
              val srcCols = SessionBridge
                .ofRows(session, m.sourceTable).columns
              val tgtCols = StructType
                .fromDDL(TableLog.state(path).schemaDdl)
                .fieldNames.map(lcx).toSet
              srcCols.exists(c => !tgtCols(lcx(c)))
            } catch { case NonFatal(_) => false }
          }
          // merge-on-read routing: mid-spec-evolution (!dvOk) and
          // WITH SCHEMA EVOLUTION fall back to the COW route, which
          // handles both — a silent wrong route beats nothing, a loud
          // right route beats both
          if (autoEvolve) completed.copy(withSchemaEvolution = true)
          else if (GraftLogTable.morDeclared(props, "merge.mode") &&
              dvOk && !m.withSchemaEvolution)
            mergeDvCommand(path, completed, rel, alias, ids)
          else completed
      }
  }

  /** Package a completed MergeIntoTable as a [[GraftMergeDvCommand]]:
    * arms flatten to (kind, cond, assignments, isStar) with raw
    * parsed expressions boxed — the command rewrites them against
    * the merge frame's prefixed names at run time, where both sides'
    * resolved column sets are known. The identity NULL markers
    * [[completeMergeArms]] injected are dropped here: on the DV route
    * "allocate" is the ABSENCE of the column (mergeDv omits it from
    * insert images and allocates transactionally). */
  private def mergeDvCommand(path: String, m: MergeIntoTable,
      rel: UnresolvedRelation, alias: Option[String],
      ids: Seq[String]): GraftMergeDvCommand = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val idSet = ids.map(lc).toSet
    def flat(a: MergeAction)
        : (String, Option[ExprBox], Seq[(String, ExprBox)], Boolean) =
      a match {
        case u: UpdateAction =>
          ("update", u.condition.map(ExprBox), u.assignments.map(x =>
            keyNameOf(path, x) -> ExprBox(x.value)), false)
        case d: DeleteAction => ("delete", d.condition.map(ExprBox), Nil, false)
        case i: InsertAction =>
          val assigns = i.assignments.filterNot(x => x.key match {
            // the completion pass's allocate marker: drop, never a value
            case att: UnresolvedAttribute =>
              idSet(lc(att.nameParts.last)) &&
                x.value.isInstanceOf[Literal] &&
                x.value.asInstanceOf[Literal].value == null
            case _ => false
          })
          ("insert", i.condition.map(ExprBox), assigns.map(x =>
            keyNameOf(path, x) -> ExprBox(x.value)), false)
        case u: UpdateStarAction => ("update", u.condition.map(ExprBox), Nil, true)
        case i: InsertStarAction => ("insert", i.condition.map(ExprBox), Nil, true)
        case other => throw new IllegalArgumentException(
          s"MERGE into graftlog table $path: unsupported action $other")
      }
    val srcQual: Seq[String] = m.sourceTable match {
      case org.apache.spark.sql.catalyst.plans.logical
          .SubqueryAlias(id, _) => Seq(id.name)
      case r: UnresolvedRelation => Seq(r.multipartIdentifier.last)
      case _ => Nil
    }
    val tgtQual: Seq[String] =
      alias.map(Seq(_)).getOrElse(Seq(rel.multipartIdentifier.last))
    GraftMergeDvCommand(path, m.sourceTable, ExprBox(m.mergeCondition),
      tgtQual, srcQual,
      m.matchedActions.map(flat), m.notMatchedActions.map(flat),
      m.notMatchedBySourceActions.map(flat))
  }

  private def keyNameOf(path: String, a: Assignment): String = a.key match {
    case att: UnresolvedAttribute => att.nameParts.last
    case other => throw new IllegalArgumentException(
      s"MERGE into graftlog table $path: unsupported assignment " +
        s"target ${other.sql}")
  }

  /** SQL MERGE arms on a declaring table — the third statement the
    * rule threads through the allocator/generator contracts (after
    * INSERT and UPDATE). The plan stays on Spark's own group-based
    * ReplaceData rewrite (arm semantics, cardinality check, runtime
    * group filter all Spark's); the rule only FINISHES the arms:
    *
    *  - identity: any arm assigning the column a non-NULL value
    *    refuses (ALWAYS); insert arms get an explicit NULL id
    *    assignment injected so Spark's alignment passes — the commit
    *    ([[graft.tablelog.TableLog.commitStagedRewrite]]'s completion
    *    pass) allocates real ids transactionally and audits every
    *    carried id against the rewritten files' pre-image;
    *  - generated columns: insert arms omitting the column get it
    *    computed from the arm's own assigned values (Delta's
    *    compute-on-omit contract); update arms omitting it get a
    *    recompute with assigned columns' NEW values substituted, so
    *    simultaneous-assignment semantics hold and the synthetic
    *    CHECK cannot refuse a consistent update.
    *
    * Idempotent under the analyzer's fixed-point re-application: an
    * arm already assigning a column is never re-injected, and the
    * injected NULL id literal is recognized as "allocate", not as an
    * explicit value. Star actions refuse on identity tables (they
    * would smuggle a source id column by name). */
  private def completeMergeArms(path: String, ids: Seq[String],
      gens: Seq[(String, String)], alias: Option[String],
      actions: Seq[MergeAction]): Seq[MergeAction] = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val idSet = ids.map(lc).toSet
    def keyName(a: Assignment): Option[String] = a.key match {
      case att: UnresolvedAttribute => Some(lc(att.nameParts.last))
      case _ => None
    }
    def qualify(e: Expression): Expression = alias match {
      case None => e
      case Some(a) => e.transformUp {
        case att: UnresolvedAttribute if att.nameParts.length == 1 =>
          UnresolvedAttribute(Seq(a) ++ att.nameParts)
      }
    }
    actions.map {
      case a @ (_: UpdateStarAction | _: InsertStarAction) =>
        if (idSet.nonEmpty) throw new IllegalArgumentException(
          s"MERGE into graftlog table $path: UPDATE */INSERT * on an " +
            "identity table would smuggle a source id column by name — " +
            "name the columns explicitly")
        a
      case d: DeleteAction => d
      case u: UpdateAction =>
        val assigns = u.assignments
        checkNoIdAssign(path, idSet, assigns, allowNullMarker = false)
        val newValueOf = assigns
          .flatMap(a => keyName(a).map(_ -> a.value)).toMap
        val assigned = newValueOf.keySet
        val genAssigns = gens.collect {
          case (g, sql) if !assigned(lc(g)) =>
            val parsed =
              session.sessionState.sqlParser.parseExpression(sql)
            val subst = parsed.transformUp {
              case att: UnresolvedAttribute
                  if newValueOf.contains(lc(att.nameParts.last)) =>
                newValueOf(lc(att.nameParts.last))
              case att: UnresolvedAttribute => qualify(att)
            }
            Assignment(UnresolvedAttribute.quoted(g), subst)
        }
        u.copy(assignments = assigns ++ genAssigns)
      case i: InsertAction =>
        val assigns = i.assignments
        checkNoIdAssign(path, idSet, assigns, allowNullMarker = true)
        val assigned = assigns.flatMap(keyName).toSet
        val valueOf = assigns
          .flatMap(a => keyName(a).map(_ -> a.value)).toMap
        val idAssigns = ids.collect {
          case c if !assigned(lc(c)) =>
            Assignment(UnresolvedAttribute.quoted(c),
              Literal(null, LongType))
        }
        val genAssigns = gens.collect {
          case (g, sql) if !assigned(lc(g)) =>
            val parsed =
              session.sessionState.sqlParser.parseExpression(sql)
            // insert-arm context: the generated value is a function of
            // the arm's OWN assignments (there is no target row); a
            // reference to an unassigned column folds to NULL — the
            // value that column lands as
            val subst = parsed.transformUp {
              case att: UnresolvedAttribute
                  if valueOf.contains(lc(att.nameParts.last)) =>
                valueOf(lc(att.nameParts.last))
              case _: UnresolvedAttribute =>
                Literal(null, org.apache.spark.sql.types.NullType)
            }
            Assignment(UnresolvedAttribute.quoted(g), subst)
        }
        i.copy(assignments = assigns ++ idAssigns ++ genAssigns)
      case other => other
    }
  }

  /** `allowNullMarker` is true only for INSERT arms — there a NULL id
    * is the rule's own allocate marker (re-seen idempotently under
    * the analyzer's fixed-point). An UPDATE arm assigning NULL must
    * refuse like any explicit value: letting it through would
    * re-allocate a FRESH id for an existing row at the staged commit,
    * silently changing a GENERATED ALWAYS id external references may
    * key on. */
  private def checkNoIdAssign(path: String, idSet: Set[String],
      assigns: Seq[Assignment], allowNullMarker: Boolean): Unit = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    assigns.foreach { a =>
      a.key match {
        case att: UnresolvedAttribute
            if idSet(lc(att.nameParts.last)) => a.value match {
          case Literal(null, _) if allowNullMarker => ()
          case _ => throw new IllegalArgumentException(
            s"MERGE into graftlog table $path: " +
              s"'${att.nameParts.last}' is GENERATED ALWAYS AS " +
              "IDENTITY — arms cannot assign it; omit it (matched rows " +
              "keep their ids, inserts allocate)")
        }
        case _ => ()
      }
    }
  }

  /** The statement target's relation, seen through an optional alias
    * (`UPDATE t AS x SET …` parses as SubqueryAlias over the
    * relation — without this, aliased updates on declaring tables
    * would silently fall through to the refusing staged path). */
  private def relationOf(p: LogicalPlan)
      : Option[(UnresolvedRelation, Option[String])] = p match {
    case r: UnresolvedRelation => Some((r, None))
    case org.apache.spark.sql.catalyst.plans.logical
        .SubqueryAlias(id, r: UnresolvedRelation) => Some((r, Some(id.name)))
    case _ => None
  }
}

/** Opaque expression holder: keeps a (possibly unresolved) parsed
  * expression as plain command STATE rather than a child expression —
  * CheckAnalysis must not demand resolution (the command resolves its
  * trees itself, against the target table's frame, at run time). */
case class ExprBox(e: Expression)

/** Executes a merge-on-read SQL UPDATE through
  * [[TableLog.updateWhereDv]] — the route for IDENTITY tables
  * (existing ids never rewrite, so the allocator invariant holds by
  * construction; the id-targeting guard inside updateWhereDv
  * backstops the analysis refusal) and for tables declaring
  * `update.mode = merge-on-read` (the update twin of the catalog's
  * delete.mode gate: small updates pay KB-scale sidecars, not file
  * rewrites — partitioned layouts included, their tuple stats
  * decrement exactly). Set-expressions evaluate simultaneously
  * against the old row — SQL UPDATE semantics. */
case class GraftIdentityUpdateCommand(path: String,
    set: Seq[(String, ExprBox)], cond: Option[ExprBox])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val condCol =
      cond.map(b => ColumnBridge.column(b.e)).getOrElse(lit(true))
    val setCols =
      set.map { case (n, b) => n -> ColumnBridge.column(b.e) }.toMap
    // over-cap matched set: the copy-on-write updateWhere is safe on
    // identity tables too — its select list CARRIES every row's id,
    // so no id mints or drifts
    GraftLogTable.dvOrCopyOnWrite(path, "UPDATE")(
      TableLog.updateWhereDv(session, path, condCol, setCols))(
      TableLog.updateWhere(session, path, condCol, setCols, _))
    Nil
  }
}

/** Executes a merge-on-read SQL MERGE through [[TableLog.mergeDv]] —
  * the `merge.mode = 'merge-on-read'` route: matched UPDATE/DELETE
  * (and not-matched-by-source) rows die via deletion-vector sidecars,
  * updated images and insert rows land as fresh files, ONE atomic
  * commit, zero file rewrites. Arm expressions arrive as raw parsed
  * trees; this command resolves them against the merge frame's
  * prefixed column names ([[TableLog.MergeTargetPrefix]]/
  * [[TableLog.MergeSourcePrefix]]) using SQL MERGE's reference
  * scoping: the ON condition and matched arms see both sides, insert
  * arms the source only, not-matched-by-source arms the target only;
  * unqualified names that exist on both visible sides refuse as
  * ambiguous. */
case class GraftMergeDvCommand(path: String, source: LogicalPlan,
    on: ExprBox, tgtQual: Seq[String], srcQual: Seq[String],
    matched: Seq[(String, Option[ExprBox], Seq[(String, ExprBox)], Boolean)],
    notMatched: Seq[(String, Option[ExprBox], Seq[(String, ExprBox)], Boolean)],
    nmbs: Seq[(String, Option[ExprBox], Seq[(String, ExprBox)], Boolean)])
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.Column
    def lc(s: String) = s.toLowerCase(Locale.ROOT)
    val snap = TableLog.state(path)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val tCols = schema.fieldNames.map(c => lc(c) -> c).toMap
    val srcDf = SessionBridge.ofRows(session, source)
    val sCols = srcDf.columns.map(c => lc(c) -> c).toMap
    val tQ = tgtQual.map(lc).toSet
    val sQ = srcQual.map(lc).toSet
    def tRef(name: String): Expression =
      UnresolvedAttribute.quoted(TableLog.MergeTargetPrefix +
        tCols.getOrElse(lc(name), throw new IllegalArgumentException(
          s"MERGE into graftlog table $path: no target column '$name' " +
            s"(columns: ${schema.fieldNames.mkString(", ")})")))
    def sRef(name: String): Expression =
      UnresolvedAttribute.quoted(TableLog.MergeSourcePrefix +
        sCols.getOrElse(lc(name), throw new IllegalArgumentException(
          s"MERGE into graftlog table $path: no source column '$name' " +
            s"(source columns: ${srcDf.columns.mkString(", ")})")))
    def rewrite(e: Expression, allowT: Boolean, allowS: Boolean)
        : Expression = e.transformUp {
      case att: UnresolvedAttribute =>
        val name = att.nameParts.last
        val qual =
          if (att.nameParts.length >= 2)
            Some(lc(att.nameParts(att.nameParts.length - 2)))
          else None
        qual match {
          case Some(q) if tQ(q) && sQ(q) && allowT && allowS =>
            throw new IllegalArgumentException(
              s"MERGE into graftlog table $path: qualifier '$q' names " +
                "both the target and the source — alias one side")
          case Some(q) if tQ(q) && allowT => tRef(name)
          case Some(q) if sQ(q) && allowS => sRef(name)
          case Some(q) => throw new IllegalArgumentException(
            s"MERGE into graftlog table $path: unknown or out-of-scope " +
              s"qualifier '$q' on '$name' (this clause sees " +
              s"${if (allowT && allowS) "target and source"
                 else if (allowT) "the target only"
                 else "the source only"})")
          case None =>
            val inT = allowT && tCols.contains(lc(name))
            val inS = allowS && sCols.contains(lc(name))
            if (inT && inS) throw new IllegalArgumentException(
              s"MERGE into graftlog table $path: reference '$name' is " +
                "ambiguous — qualify it with the target or source alias")
            else if (inT) tRef(name)
            else if (inS) sRef(name)
            else throw new IllegalArgumentException(
              s"MERGE into graftlog table $path: cannot resolve '$name' " +
                "in this clause's scope")
        }
    }
    def toArms(
        raw: Seq[(String, Option[ExprBox], Seq[(String, ExprBox)], Boolean)],
        allowT: Boolean, allowS: Boolean): Seq[TableLog.MergeArm] =
      raw.map { case (kind, cond, set, star) =>
        val assigns: Map[String, Column] =
          // star arms require the source to carry EVERY target column
          // — the SAME contract the copy-on-write route enforces
          // (Spark's own merge resolution fails UNRESOLVED_COLUMN on a
          // star arm whose source lacks a target column, verified
          // against 4.1 and pinned by GraftLogRowLevelSpec), so
          // flipping merge.mode changes the write shape, never which
          // statements are accepted. Refusal is loud; a partial
          // source names its columns explicitly on either route.
          if (star) schema.fieldNames.map { c =>
            require(sCols.contains(lc(c)),
              s"MERGE into graftlog table $path: UPDATE */INSERT * " +
                s"needs source column '$c', which the source lacks — " +
                "star arms require the full target width (the same " +
                "contract as the copy-on-write route); name the " +
                "columns explicitly for a partial-source merge")
            c -> ColumnBridge.column(sRef(c))
          }.toMap
          else set.map { case (k, b) =>
            k -> ColumnBridge.column(rewrite(b.e, allowT, allowS))
          }.toMap
        TableLog.MergeArm(
          cond.map(b => ColumnBridge.column(rewrite(b.e, allowT, allowS))),
          kind, assigns)
      }
    // candidate pruning: when the ON condition is a plain cross-side
    // equality and no not-matched-by-source arm needs the full
    // target, pass the (targetCol, sourceCol) pair and let mergeDv
    // aggregate the envelope over its OWN frozen source frame — the
    // command computing it here on a separate evaluation of the
    // source plan was both a double cost and a soundness hole (a
    // nondeterministic source could drift outside a pre-computed
    // envelope, silently pruning its match and re-inserting a
    // duplicate). Integral keys prune by manifest key range; other
    // integral and STRING columns by the per-file column stats —
    // binary collation, the file-skip layer's own semantics.
    val pruneOn: Option[(String, String)] =
      if (nmbs.nonEmpty) None
      else on.e match {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          def side(att: UnresolvedAttribute)
              : Option[Either[String, String]] = {
            val name = att.nameParts.last
            val qual =
              if (att.nameParts.length >= 2)
                Some(lc(att.nameParts(att.nameParts.length - 2)))
              else None
            qual match {
              case Some(q) if tQ(q) => tCols.get(lc(name)).map(Left(_))
              case Some(q) if sQ(q) => sCols.get(lc(name)).map(Right(_))
              case Some(_) => None
              case None =>
                val inT = tCols.contains(lc(name))
                val inS = sCols.contains(lc(name))
                if (inT && !inS) tCols.get(lc(name)).map(Left(_))
                else if (inS && !inT) sCols.get(lc(name)).map(Right(_))
                else None
            }
          }
          (side(a), side(b)) match {
            case (Some(Left(tc)), Some(Right(sc))) => Some((tc, sc))
            case (Some(Right(sc)), Some(Left(tc))) => Some((tc, sc))
            case _ => None
          }
        case _ => None
      }
    TableLog.mergeDv(session, path, srcDf,
      ColumnBridge.column(rewrite(on.e, allowT = true, allowS = true)),
      matched = toArms(matched, allowT = true, allowS = true),
      notMatched = toArms(notMatched, allowT = false, allowS = true),
      notMatchedBySource = toArms(nmbs, allowT = true, allowS = false),
      pruneOn = pruneOn)
    Nil
  }
}

/** Executes the rewritten INSERT: resolve the source query, map its
  * columns to the target (BY NAME, the explicit column list, or
  * positionally — full width, or the reduced width omitting the
  * identity + generated columns), then append through
  * [[TableLog.appendIdentity]] (identity tables) or
  * [[TableLog.append]] (generated-only tables). Both paths run
  * `withWriteDefaults` (omitted gencols/defaults computed) and
  * `validateChecks` (synthetic audits gate supplied gencol values). */
case class GraftGeneratedInsertCommand(path: String,
    userCols: Seq[String], query: LogicalPlan, byName: Boolean,
    idCols: Seq[String], genCols: Seq[String])
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val snap = TableLog.state(path)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val src = SessionBridge.ofRows(session, query)
    def lc(s: String): String = s.toLowerCase(Locale.ROOT)
    val named: DataFrame =
      if (byName) src
      else if (userCols.nonEmpty) {
        require(userCols.length == src.schema.length,
          s"INSERT into graftlog table $path: column list names " +
            s"${userCols.length} columns but the query produces " +
            s"${src.schema.length}")
        src.toDF(userCols: _*)
      } else {
        val omit = (idCols ++ genCols).map(lc).toSet
        val reduced = schema.fieldNames.filterNot(f => omit(lc(f)))
        if (src.schema.length == schema.length)
          src.toDF(schema.fieldNames.toIndexedSeq: _*)
        else if (src.schema.length == reduced.length)
          src.toDF(reduced.toIndexedSeq: _*)
        else throw new IllegalArgumentException(
          s"INSERT into graftlog table $path: positional insert must " +
            s"supply all ${schema.length} columns or the " +
            s"${reduced.length} non-generated ones " +
            s"(${reduced.mkString(", ")}); got ${src.schema.length}")
      }
    val provided = named.columns.map(lc).toSet
    val explicitIds = idCols.filter(c => provided(lc(c)))
    if (explicitIds.nonEmpty) throw new IllegalArgumentException(
      s"INSERT into graftlog table $path: " +
        s"${explicitIds.mkString(", ")} is GENERATED ALWAYS AS " +
        "IDENTITY — explicit values are refused; omit the column and " +
        "the table allocates ids transactionally")
    // the rewrite bypasses Spark's ResolveInsertInto, so it must do
    // that rule's two jobs itself: (a) refuse unknown and missing
    // columns loudly (a silent null-fill or a dropped typo both
    // corrupt), (b) CAST every provided column to its declared type —
    // stage() writes the frame verbatim, and an uncast INT literal
    // into a DOUBLE column would stage INT32 parquet that poisons
    // every later read of the table
    val byLc = schema.fields.map(f => lc(f.name) -> f).toMap
    named.columns.find(c => !byLc.contains(lc(c))).foreach(c =>
      throw new IllegalArgumentException(
        s"INSERT into graftlog table $path: unknown column '$c' " +
          s"(table columns: ${schema.fieldNames.mkString(", ")})"))
    val optional = (idCols ++ genCols).map(lc).toSet ++
      snap.defaults.keys.map(lc)
    schema.fieldNames
      .find(f => !provided(lc(f)) && !optional(lc(f))).foreach(f =>
        throw new IllegalArgumentException(
          s"INSERT into graftlog table $path: column '$f' has no " +
            "default and is not generated — it must be supplied"))
    val casted = named.select(named.columns.map { c =>
      val f = byLc(lc(c))
      org.apache.spark.sql.functions.col(c).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    // one file per input task, floor 1 — the DSv2 batch writer's shape
    val numFiles =
      math.max(1, casted.queryExecution.toRdd.getNumPartitions)
    if (idCols.nonEmpty) TableLog.appendIdentity(casted, path, numFiles)
    else TableLog.append(casted, path, numFiles)
    Nil
  }
}
