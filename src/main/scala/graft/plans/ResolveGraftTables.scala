package graft.plans

import graft.catalog.GraftCatalog
import graft.tables.ManagedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{AsOfTimestamp, AsOfVersion, NoSuchTableException, RelationTimeTravel, TimeTravelSpec, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal, Not}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Analyzer rule giving managed tables a first-class SQL identity against
  * `spark.graft.warehouse`, injected via [[graft.GraftExtensions]] (the
  * Catalyst-native seam the reference's CDI strategy injection maps to,
  * SURVEY §2.8). A `graft.<t>` READ, and the target of an INSERT, is the
  * DSv2 table: the rule loads it through [[GraftCatalog]] and resolves it
  * to the same `DataSourceV2Relation` a registered `<cat>.<t>` gets, so
  * one scan builder and one write builder serve both spellings.
  *
  * Identifier forms (Iceberg metadata-table style), parsed by the
  * catalog except where noted:
  *  - `graft.<table>`            — current snapshot (or the staged view
  *    of a live branch named by `spark.wap.branch`)
  *  - `graft.<table>$v<N>`       — time travel to version N
  *  - `graft.<table>$branch_<b>` — WAP branch audit view
  *  - `graft.<table>$files` / `$snapshots` / `$refs` / `$partitions`
  *  - `graft.<table>$changes`    — full changelog (seq + tombstone cols),
  *    resolved here: a changelog, not a table scan
  *  - `graft.<view>`             — a persisted view, expanded here
  *
  * DELETE, UPDATE and MERGE over `graft.<t>` become eager
  * [[GraftDmlCommand]]s: Spark's row-level protocol needs non-nullable
  * row ids, which keyless and nullable-key tables lack. Unknown tables
  * fall through unresolved so Spark's normal error (and temp-view/catalog
  * resolution for other names) is preserved.
  */
class ResolveGraftTables(session: SparkSession) extends Rule[LogicalPlan] {

  // top-down: DML statements and time travel must see their
  // still-unresolved relation before the bare-relation case rewrites it
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    // ---- SQL DML: DELETE / UPDATE / MERGE become eager
    // [[GraftDmlCommand]]s over the ManagedTable row-level DML API
    // (merge-on-read commits — the SQL spellings of deleteWhere /
    // updateWhere / mergeInto). Matched BEFORE the relation cases so the
    // target never resolves into a bare scan.
    case d @ DeleteFromTable(GraftMetaTarget(full), _) => readOnly(full, d)
    case u0 @ UpdateTable(GraftMetaTarget(full), _, _) => readOnly(full, u0)
    case i: InsertIntoStatement if GraftMetaTarget.unapply(i.table).isDefined =>
      readOnly(GraftMetaTarget.unapply(i.table).get, i)
    case m: MergeIntoTable if GraftMetaTarget.unapply(m.targetTable).isDefined =>
      readOnly(GraftMetaTarget.unapply(m.targetTable).get, m)
    case d @ DeleteFromTable(GraftTarget(name, alias), cond) =>
      loadTable(name).map { t =>
        val c = stripQualifier(cond, alias)
        // write-audit-publish: with spark.wap.branch naming a live branch
        // of this table, row-level DML STAGES onto the branch (Iceberg's
        // branch-targeted DML, round 9) — the live table is untouched
        // until CALL publish_branch
        GraftDmlCommand("DELETE", name,
          () => wapWriteBranch match {
            case Some(b) => t.deleteWhereOnBranch(GraftBridge.column(c), b)
            case None    => t.deleteWhere(GraftBridge.column(c))
          }): LogicalPlan
      }.getOrElse(refuseIfView(name, "DELETE", d))
    case u0 @ UpdateTable(GraftTarget(name, alias), assigns, cond) =>
      loadTable(name).map { t =>
        val set = assigns.map(a =>
          assignName(a.key) -> GraftBridge.column(stripQualifier(a.value, alias))).toMap
        val c = stripQualifier(cond.getOrElse(Literal.TrueLiteral), alias)
        GraftDmlCommand("UPDATE", name,
          () => wapWriteBranch match {
            case Some(b) => t.updateWhereOnBranch(GraftBridge.column(c), set, b)
            case None    => t.updateWhere(GraftBridge.column(c), set)
          }): LogicalPlan
      }.getOrElse(refuseIfView(name, "UPDATE", u0))
    // INSERT [OVERWRITE] [PARTITION (…)]: the target resolves to the
    // catalog relation reads get, and Spark's own INSERT resolution plans
    // AppendData / OverwriteByExpression / OverwritePartitionsDynamic onto
    // [[graft.catalog.GraftWriteBuilder]], as for `<cat>.<t>`. BY NAME
    // with a dynamic PARTITION column waits for its query's output names
    // (see requireDynamicColumns).
    case i: InsertIntoStatement if GraftTarget.unapply(i.table).isDefined &&
        (i.query.resolved || !(i.byName && dynamicColumns(i).nonEmpty)) =>
      val GraftTarget(name, _) = i.table: @unchecked
      resolve(name) match {
        case Some(SubqueryAlias(_, r: DataSourceV2Relation)) =>
          requireDynamicColumns(name, i)
          i.copy(table = r)
        case _ => refuseIfView(name, "INSERT", i)
      }
    case m: MergeIntoTable if (m.targetTable match {
        case GraftTarget(_, _) => true
        case _ => false
      }) =>
      val GraftTarget(name, tAlias) = m.targetTable: @unchecked
      loadTable(name).map(t => buildMerge(m, t, name, tAlias))
        .getOrElse(refuseIfView(name, "MERGE", m))
    // `VERSION AS OF '<ref>'` (snapshot number, tag or branch) and
    // `TIMESTAMP AS OF <expr>` — the catalog's versioned loads
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version) if isGraft(u) &&
        !u.multipartIdentifier(1).contains('$') &&
        ts.forall(e => e.resolved && e.foldable) =>
      resolve(u.multipartIdentifier(1),
        TimeTravelSpec.create(ts, version, conf.sessionLocalTimeZone)).getOrElse(tt)
    case u: UnresolvedRelation if isGraft(u) =>
      resolve(u.multipartIdentifier(1)).getOrElse(u)
  }

  private def isGraft(u: UnresolvedRelation): Boolean =
    u.multipartIdentifier.length == 2 &&
      u.multipartIdentifier.head.equalsIgnoreCase("graft")

  /** The session's `spark.wap.branch` for WRITE routing — writes under
    * the conf ALWAYS target the branch (created on first touch, like
    * INSERT's stageAppendInto): a misspelled or not-yet-staged branch
    * name must stage, never silently mutate the live table mid-audit.
    */
  private def wapWriteBranch: Option[String] =
    session.conf.getOption("spark.wap.branch").filter(_.nonEmpty)

  /** A `$`-suffixed graft identifier appearing as a DML target — always
    * a mistake; refuse with a precise message instead of letting the
    * metadata scan resolve and Spark die on an internal error.
    */
  private object GraftMetaTarget {
    def unapply(p: LogicalPlan): Option[String] = p match {
      case SubqueryAlias(_, u: UnresolvedRelation) if isGraft(u) &&
          u.multipartIdentifier(1).contains('$') => Some(u.multipartIdentifier(1))
      case u: UnresolvedRelation if isGraft(u) &&
          u.multipartIdentifier(1).contains('$') => Some(u.multipartIdentifier(1))
      case _ => None
    }
  }

  private def readOnly(full: String, stmt: LogicalPlan): Nothing =
    throw new IllegalArgumentException(
      s"graft.$full is a read-only view (time travel / metadata table); " +
        s"DML must target the base table (statement: ${stmt.nodeName})")

  /** `INSERT … PARTITION (k) (cols)` or `… PARTITION (k) BY NAME` whose
    * column list or query lacks the dynamic `k`: Spark fills a missing
    * nullable column with null, so the rows would land in the null
    * partition instead of taking `k` from the query as the statement says.
    */
  private def requireDynamicColumns(name: String, i: InsertIntoStatement): Unit = {
    val dynamic = dynamicColumns(i)
    val produced =
      if (dynamic.isEmpty) return
      else if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
      else if (i.byName) i.query.output.map(_.name)
      else return
    val resolver = session.sessionState.analyzer.resolver
    val missing = dynamic.filterNot(k => produced.exists(resolver(_, k)))
    require(missing.isEmpty,
      s"INSERT ... PARTITION graft.$name: dynamic partition column(s) " +
        s"${missing.mkString(", ")} must be provided by the query")
  }

  private def dynamicColumns(i: InsertIntoStatement): Seq[String] =
    i.partitionSpec.collect { case (k, None) => k }.toSeq

  /** DML target: a `graft.<t>` relation, optionally behind the
    * statement's alias. Metadata suffixes (`$files`…) are not writable.
    */
  private object GraftTarget {
    def unapply(p: LogicalPlan): Option[(String, Option[String])] = p match {
      case SubqueryAlias(id, u: UnresolvedRelation) if isGraft(u) &&
          !u.multipartIdentifier(1).contains('$') =>
        Some((u.multipartIdentifier(1), Some(id.name)))
      case u: UnresolvedRelation if isGraft(u) &&
          !u.multipartIdentifier(1).contains('$') =>
        Some((u.multipartIdentifier(1), None))
      case _ => None
    }
  }

  private def loadTable(name: String): Option[ManagedTable] =
    session.conf.getOption("spark.graft.warehouse")
      .flatMap(wh => ManagedTable.load(session, wh, name))

  /** DML whose graft target is a persisted VIEW: a precise refusal
    * instead of letting the relation case resolve the view body into a
    * scan and Spark die on an unwritable-relation internal error.
    */
  private def refuseIfView(name: String, stmt: String,
                           fallback: LogicalPlan): LogicalPlan =
    session.conf.getOption("spark.graft.warehouse") match {
      case Some(wh) if graft.tables.ViewStore.exists(session, wh, name) =>
        throw new IllegalArgumentException(
          s"graft.$name is a view: $stmt must target a managed table " +
            "(views are read-only)")
      case _ => fallback
    }

  /** Drop the statement alias qualifier so the expression resolves
    * against the bare table scan (`DELETE FROM graft.t AS x WHERE x.c`).
    */
  private def stripQualifier(e: Expression, alias: Option[String]): Expression =
    alias.map { a =>
      e.transform {
        case attr: UnresolvedAttribute if attr.nameParts.length > 1 &&
            attr.nameParts.head.equalsIgnoreCase(a) =>
          UnresolvedAttribute(attr.nameParts.tail)
      }
    }.getOrElse(e)

  private def assignName(key: Expression): String = key match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"unsupported assignment target $other (nested fields are not assignable)")
  }

  /** SQL MERGE → [[ManagedTable.mergeInto]]. Supported surface (errors
    * are raised at analysis, before anything runs):
    *  - ON: equality between target and source on exactly the table's
    *    identifier columns (mergeInto's join IS the identifier equality)
    *  - WHEN MATCHED: at most one UPDATE (SET … or SET *) and one DELETE,
    *    in either order — SQL's first-match-wins clause order is encoded
    *    into the conditions
    *  - WHEN NOT MATCHED: at most one INSERT * (column-list inserts would
    *    need a source projection — write it into the USING subquery)
    *  - WHEN NOT MATCHED BY SOURCE: at most one UPDATE SET … and one
    *    DELETE, either order (first-match-wins folded into conditions,
    *    like the matched branch); clauses may reference only the target —
    *    a source reference is rejected here with a precise error. This is
    *    the full-sync/re-snapshot shape: it pays one full target pass (a
    *    key anti-join, broadcast when the source is small) on top of the
    *    O(batch) matched branch; the write stays diff-sized.
    */
  private def buildMerge(m: MergeIntoTable, t: ManagedTable, name: String,
                         tAlias: Option[String]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction, InsertStarAction, UpdateAction, UpdateStarAction}
    val (sourcePlan, sAlias) = m.sourceTable match {
      case SubqueryAlias(id, child) => (child, Some(id.name))
      case other => (other, None)
    }
    // ONE pass over the attributes: sequential requalification would
    // capture when the user's aliases collide with the fixed names
    // (target AS p USING ... AS t: p→t then t→s corrupts the target
    // side) or are swapped. Target alias wins if both name one qualifier.
    def remap(e: Expression): Expression = e.transform {
      case attr: UnresolvedAttribute if attr.nameParts.length > 1 =>
        val q = attr.nameParts.head
        if (tAlias.exists(q.equalsIgnoreCase))
          UnresolvedAttribute("t" +: attr.nameParts.tail)
        else if (sAlias.exists(q.equalsIgnoreCase))
          UnresolvedAttribute("s" +: attr.nameParts.tail)
        else attr
    }
    // ON must be identifier equality: each conjunct equates one id column
    // across the two sides; together they cover the id set exactly
    val ids = t.meta.identifierFields
    require(ids.nonEmpty, s"MERGE INTO graft.$name: table has no identifier fields")
    def sideName(e: Expression): Option[(Option[String], String)] = e match {
      case a: UnresolvedAttribute =>
        val qual = if (a.nameParts.length > 1)
          Some(a.nameParts.head.toLowerCase) else None
        Some((qual, a.nameParts.last))
      case _ => None
    }
    val equated = splitConjuncts(remap(m.mergeCondition)).map {
      case eq @ EqualTo(l, r) =>
        (sideName(l), sideName(r)) match {
          case (Some((ql, a)), Some((qr, b))) if a.equalsIgnoreCase(b) =>
            // both sides carrying the SAME qualifier (t.id = t.id /
            // s.id = s.id) is a cross-side equality in name only — it
            // would silently execute as the identifier join
            require(ql.isEmpty || qr.isEmpty || ql != qr,
              s"MERGE INTO graft.$name: ON conjunct ${eq.sql} references one side twice")
            a.toLowerCase
          case _ => throw new IllegalArgumentException(
            s"MERGE INTO graft.$name: ON must equate same-named identifier columns, got ${eq.sql}")
        }
      case other => throw new IllegalArgumentException(
        s"MERGE INTO graft.$name: ON must be a conjunction of equalities, got ${other.sql}")
    }.toSet
    require(equated == ids.map(_.toLowerCase).toSet,
      s"MERGE INTO graft.$name: ON must equate exactly the identifier columns ${ids.mkString(", ")}")
    // matched clauses → (updateWhen, updateSet, deleteWhen) with SQL's
    // first-match-wins order folded into the conditions
    var updateWhen: Option[Expression] = None
    var updateSet: Map[String, Expression] = Map.empty
    var deleteWhen: Option[Expression] = None
    var updateSeen = false; var deleteSeen = false
    m.matchedActions.foreach {
      case UpdateAction(c, assigns, fromStar) =>
        require(!updateSeen, s"MERGE INTO graft.$name: at most one WHEN MATCHED UPDATE")
        updateSeen = true
        val cond = remap(c.getOrElse(Literal.TrueLiteral))
        updateWhen = Some(if (deleteSeen)
          And(cond, notTrue(deleteWhen.getOrElse(Literal.FalseLiteral))) else cond)
        updateSet =
          if (fromStar) Map.empty
          else assigns.map(a => assignName(a.key) -> remap(a.value)).toMap
      case UpdateStarAction(c) =>
        require(!updateSeen, s"MERGE INTO graft.$name: at most one WHEN MATCHED UPDATE")
        updateSeen = true
        val cond = remap(c.getOrElse(Literal.TrueLiteral))
        updateWhen = Some(if (deleteSeen)
          And(cond, notTrue(deleteWhen.getOrElse(Literal.FalseLiteral))) else cond)
      case DeleteAction(c) =>
        require(!deleteSeen, s"MERGE INTO graft.$name: at most one WHEN MATCHED DELETE")
        deleteSeen = true
        val cond = remap(c.getOrElse(Literal.TrueLiteral))
        // mergeInto checks DELETE before UPDATE; if SQL wrote UPDATE
        // first, a row matching both must update — mask the delete
        deleteWhen = Some(if (updateSeen)
          And(cond, notTrue(updateWhen.getOrElse(Literal.FalseLiteral))) else cond)
      case other => throw new IllegalArgumentException(
        s"MERGE INTO graft.$name: unsupported WHEN MATCHED action $other")
    }
    // BY SOURCE clauses act on target rows with no source row at all, so
    // any source reference is meaningless; catch the remapped s-qualifier
    // here with a precise error instead of letting resolution fail on a
    // missing attribute deep in the anti-join plan
    def remapTargetOnly(e: Expression): Expression = {
      val r = remap(e)
      r.foreach {
        case a: UnresolvedAttribute if a.nameParts.length > 1 &&
            a.nameParts.head.equalsIgnoreCase("s") =>
          throw new IllegalArgumentException(
            s"MERGE INTO graft.$name: WHEN NOT MATCHED BY SOURCE clauses " +
              s"cannot reference the source (${a.sql} — no source row exists)")
        case _ =>
      }
      r
    }
    var updateBsWhen: Option[Expression] = None
    var updateBsSet: Map[String, Expression] = Map.empty
    var deleteBsWhen: Option[Expression] = None
    var updateBsSeen = false; var deleteBsSeen = false
    m.notMatchedBySourceActions.foreach {
      case UpdateAction(c, assigns, fromStar) =>
        require(!fromStar,
          s"MERGE INTO graft.$name: WHEN NOT MATCHED BY SOURCE UPDATE SET * " +
            "is meaningless (no source row exists) — write an explicit SET list")
        require(!updateBsSeen,
          s"MERGE INTO graft.$name: at most one WHEN NOT MATCHED BY SOURCE UPDATE")
        updateBsSeen = true
        val cond = remapTargetOnly(c.getOrElse(Literal.TrueLiteral))
        updateBsWhen = Some(if (deleteBsSeen)
          And(cond, notTrue(deleteBsWhen.getOrElse(Literal.FalseLiteral))) else cond)
        updateBsSet = assigns.map(a =>
          assignName(a.key) -> remapTargetOnly(a.value)).toMap
      case DeleteAction(c) =>
        require(!deleteBsSeen,
          s"MERGE INTO graft.$name: at most one WHEN NOT MATCHED BY SOURCE DELETE")
        deleteBsSeen = true
        val cond = remapTargetOnly(c.getOrElse(Literal.TrueLiteral))
        deleteBsWhen = Some(if (updateBsSeen)
          And(cond, notTrue(updateBsWhen.getOrElse(Literal.FalseLiteral))) else cond)
      case other => throw new IllegalArgumentException(
        s"MERGE INTO graft.$name: unsupported WHEN NOT MATCHED BY SOURCE action $other")
    }
    var insertWhen: Option[Expression] = None
    m.notMatchedActions.foreach {
      case InsertStarAction(c) =>
        require(insertWhen.isEmpty, s"MERGE INTO graft.$name: at most one WHEN NOT MATCHED INSERT")
        insertWhen = Some(remap(c.getOrElse(Literal.TrueLiteral)))
      case _: InsertAction => throw new IllegalArgumentException(
        s"MERGE INTO graft.$name: only INSERT * is supported — project the " +
          "column list inside the USING subquery instead")
      case other => throw new IllegalArgumentException(
        s"MERGE INTO graft.$name: unsupported WHEN NOT MATCHED action $other")
    }
    val src = sourcePlan
    val updWhen = updateWhen; val updSet = updateSet
    val delWhen = deleteWhen; val insWhen = insertWhen
    val updBsWhen = updateBsWhen; val updBsSet = updateBsSet
    val delBsWhen = deleteBsWhen
    GraftDmlCommand("MERGE", name, () => {
      t.mergeInto(GraftBridge.dataFrame(session, src),
        updateWhen = updWhen.map(GraftBridge.column),
        updateSet = updSet.map { case (k, v) => k -> GraftBridge.column(v) },
        deleteWhen = delWhen.map(GraftBridge.column),
        insertWhen = insWhen.map(GraftBridge.column),
        deleteBySourceWhen = delBsWhen.map(GraftBridge.column),
        updateBySourceWhen = updBsWhen.map(GraftBridge.column),
        updateBySourceSet = updBsSet.map { case (k, v) => k -> GraftBridge.column(v) },
        stageToBranch = wapWriteBranch) // spark.wap.branch: stage, don't commit
    })
  }

  /** NOT(cond is true) — the clause-order mask. A bare `Not(cond)` is
    * NULL when `cond` is NULL and mergeInto coalesces NULL clause
    * conditions to false, which would skip the later clause for rows
    * where the earlier clause's condition was merely UNKNOWN — breaking
    * SQL's first-match-wins fall-through.
    */
  private def notTrue(cond: Expression): Expression =
    Not(org.apache.spark.sql.catalyst.expressions.Coalesce(
      Seq(cond, Literal.FalseLiteral)))

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** A `graft.<t>` read: the SAME DSv2 table `<cat>.<t>` resolves to,
    * loaded through a [[GraftCatalog]] over the session's CURRENT
    * `spark.graft.warehouse` (re-read per resolution, so a session may
    * switch warehouses), so filters, limits, top-N and manifest-answered
    * aggregates push into one [[graft.catalog.GraftScanBuilder]]. The
    * catalog owns the suffix grammar (`$v<N>`, `$branch_<b>`, `$files`,
    * `$snapshots`, `$refs`, `$partitions`) and `spark.wap.branch`
    * routing. Only the changelog (`$changes`, not a table scan) and
    * persisted views resolve here.
    */
  private def resolve(name: String, at: Option[TimeTravelSpec] = None): Option[LogicalPlan] = {
    val wh = session.conf.getOption("spark.graft.warehouse")
    if (wh.isEmpty) return None
    if (name.endsWith("$changes"))
      return ManagedTable.load(session, wh.get, name.stripSuffix("$changes"))
        .map(t => t.readChangesBetween(0L, t.meta.currentVersion).queryExecution.analyzed)
    val catalog = GraftCatalog.forWarehouse(session, wh.get)
    val ident = Identifier.of(Array.empty[String], name)
    val table =
      try Some(at match {
        case None                    => catalog.loadTable(ident)
        case Some(AsOfVersion(ref))  => catalog.loadTable(ident, ref)
        case Some(AsOfTimestamp(us)) => catalog.loadTable(ident, us)
      })
      catch { case _: NoSuchTableException => None }
    table.map(tb => SubqueryAlias(Seq("graft", name), DataSourceV2Relation.create(
        tb, Some(catalog), Some(ident), CaseInsensitiveStringMap.empty(), at)): LogicalPlan)
      .orElse(if (name.contains('$') || at.isDefined) None else expandView(wh.get, name))
  }

  /** Thread-local stack of views currently being expanded — expansion is
    * EAGER (the body is parsed and fully analyzed inside this call, so
    * nested views expand within the same stack), which makes a cyclic
    * definition a precise error instead of an analyzer max-iterations
    * blowup.
    */
  private val viewStack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  /** `graft.<name>` where no managed table exists: a persisted VIEW
    * ([[graft.tables.ViewStore]]) expands to its body's re-parsed,
    * re-analyzed plan — through the full parser seam, so time travel,
    * metadata suffixes and nested views inside the body all work, and
    * the view always sees the tables' current state and schema.
    */
  private def expandView(wh: String, name: String): Option[LogicalPlan] =
    graft.tables.ViewStore.load(session, wh, name).map { sql =>
      val stack = viewStack.get()
      if (stack.exists(_.equalsIgnoreCase(name)))
        throw new IllegalArgumentException(
          s"cyclic view reference: ${(name :: stack).reverse.mkString(" -> ")}")
      viewStack.set(name :: stack)
      try {
        val parsed = session.sessionState.sqlParser.parsePlan(sql)
        SubqueryAlias(name,
          GraftBridge.dataFrame(session, parsed).queryExecution.analyzed)
      } finally viewStack.set(stack)
    }
}
