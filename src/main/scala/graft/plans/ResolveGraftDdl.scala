package graft.plans

import graft.catalog.GraftCatalog
import graft.tables.ManagedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedTable}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** The `graft.<t>` SQL statements Spark's V2 execs cannot run through
  * [[GraftCatalog]] — next to [[ResolveGraftTables]]' reads and DML:
  *
  *   CREATE [OR REPLACE] VIEW / ALTER VIEW … AS / DROP VIEW graft.v
  *   SHOW TABLES IN graft, SHOW TBLPROPERTIES / SHOW CREATE TABLE /
  *     SHOW PARTITIONS / DESCRIBE graft.t
  *   TRUNCATE TABLE graft.t PARTITION (k=v, …)
  *   ALTER TABLE graft.t ADD|DROP|REPLACE PARTITION FIELD … — spec evolution
  *   ALTER TABLE graft.t SET IDENTIFIER FIELDS a, b  — re-key (plain-data gated)
  *   ALTER TABLE graft.t WRITE ORDERED BY … / WRITE UNORDERED — D5's SQL form
  *   ALTER TABLE graft.t CREATE|DROP BRANCH|TAG …
  *
  * CREATE / CTAS / DROP TABLE, the column and property ALTERs, `TRUNCATE
  * TABLE` and `CALL graft.system.<proc>(…)` are the catalog's own
  * statements ([[GraftSqlParser]] only resolves their identifier). The
  * verbs here execute as eager [[GraftDmlCommand]]s, like UPDATE, DELETE
  * and MERGE.
  */
class ResolveGraftDdl(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case st: org.apache.spark.sql.catalyst.plans.logical.ShowTables =>
      showTables(st).getOrElse(st)
    case d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation =>
      describeTable(d).getOrElse(d)
    case sc: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable =>
      showCreateTable(sc).getOrElse(sc)
    case sp: org.apache.spark.sql.catalyst.plans.logical.ShowPartitions =>
      showPartitions(sp).getOrElse(sp)
    // CREATE [OR REPLACE] VIEW graft.v AS <query> — the definition is the
    // body's ORIGINAL SQL TEXT, stored warehouse-adjacent
    // ([[graft.tables.ViewStore]]) and re-resolved at every reference
    // (standard view semantics: the view sees the tables' CURRENT state
    // and schema — Spark's SCHEMA EVOLUTION view mode). Time travel,
    // metadata suffixes and nested views all work inside the body because
    // expansion re-enters the full parser + rule stack. The body is
    // analyzed eagerly here so a broken definition fails at CREATE, not
    // at first use. TEMP views need nothing: Spark's session-local temp
    // view machinery already resolves graft relations in the body.
    case cv @ CreateView(UnresolvedIdentifier(Seq(g, name), _), userCols,
        _, _, _, originalText, _, allowExisting, replace, _)
        if g.equalsIgnoreCase("graft") =>
      val wh = warehouse(name)
      require(userCols.isEmpty,
        s"CREATE VIEW graft.$name: a column list is not supported — alias " +
          "the columns in the view body instead")
      val sql = originalText.getOrElse(throw new IllegalArgumentException(
        s"CREATE VIEW graft.$name: the view body must come from SQL text"))
      val (allowExist, repl) = (allowExisting, replace)
      GraftDmlCommand("CREATE VIEW", name, () => {
        require(ManagedTable.load(session, wh, name).isEmpty,
          s"CREATE VIEW graft.$name: a managed table with this name exists")
        val exists = graft.tables.ViewStore.exists(session, wh, name)
        if (exists && !repl && !allowExist) throw new IllegalArgumentException(
          s"view graft.$name already exists (use CREATE OR REPLACE VIEW)")
        if (!exists || repl) {
          // fail fast on a body that does not analyze
          org.apache.spark.sql.graftbridge.GraftBridge.dataFrame(session,
            session.sessionState.sqlParser.parsePlan(sql)).queryExecution.analyzed
          graft.tables.ViewStore.create(session, wh, name, sql, repl)
        }
      })
    case dv @ DropView(UnresolvedIdentifier(Seq(g, name), _), ifExists)
        if g.equalsIgnoreCase("graft") =>
      val wh = warehouse(name)
      GraftDmlCommand("DROP VIEW", name, () => {
        val dropped = graft.tables.ViewStore.drop(session, wh, name)
        if (!dropped && ManagedTable.load(session, wh, name).isDefined)
          throw new IllegalArgumentException(
            s"graft.$name is a managed table (use DROP TABLE)")
        require(dropped || ifExists, s"view graft.$name does not exist")
      })
    // ALTER VIEW graft.v AS <query> — replace the stored definition with
    // the new body's original SQL text (analyzed eagerly, like CREATE)
    case av @ AlterViewAs(child, originalText, _)
        if graftViewIdent(child).isDefined =>
      val name = graftViewIdent(child).get
      val wh = warehouse(name)
      GraftDmlCommand("ALTER VIEW", name, () => {
        if (!graft.tables.ViewStore.exists(session, wh, name)) {
          if (ManagedTable.load(session, wh, name).isDefined)
            throw new IllegalArgumentException(
              s"graft.$name is a managed table (ALTER VIEW applies to views)")
          throw new IllegalArgumentException(s"view graft.$name does not exist")
        }
        org.apache.spark.sql.graftbridge.GraftBridge.dataFrame(session,
          session.sessionState.sqlParser.parsePlan(originalText)).queryExecution.analyzed
        graft.tables.ViewStore.create(session, wh, name, originalText, replace = true)
      })
    // `TRUNCATE TABLE graft.t PARTITION (k=v, …)` — the static-region
    // machinery with an empty batch: keyless tables drop the named
    // region's groups at metadata cost (zero rewrite), keyed tables
    // tombstone it so the changelog stays precise. Spec keys must be
    // identity partition sources, like INSERT … PARTITION.
    case tp @ org.apache.spark.sql.catalyst.plans.logical.TruncatePartition(
        GraftAlterTarget(name),
        org.apache.spark.sql.catalyst.analysis.UnresolvedPartitionSpec(m, _)) =>
      withTable(tp, name) { t =>
        val resolver = session.sessionState.analyzer.resolver
        val spec = m.toSeq.map { case (k, v) =>
          t.meta.schema.fields.find(f => resolver(f.name, k)).getOrElse(
            throw new IllegalArgumentException(
              s"TRUNCATE ... PARTITION graft.$name: unknown column '$k'")).name -> v
        }
        GraftDmlCommand("TRUNCATE PARTITION", name, () => {
          val empty = session.createDataFrame(
            session.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.meta.schema)
          // overwriteStaticRegion owns the routing (keyed → tombstones,
          // keyless → metadata drop) and the identity/cast validation
          t.overwriteStaticRegion(spec, empty)
        })
      }
    // `SHOW TBLPROPERTIES graft.t [(key)]` — every live property (the
    // honest introspection surface: replication markers, refs, write
    // config all show; SHOW CREATE TABLE stays the curated round-trip
    // form). A named missing key fails precisely.
    case s: ShowTableProperties if (s.table match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
            u.multipartIdentifier.length == 2 &&
              u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
              !u.multipartIdentifier(1).contains('$')
          case _ => false
        }) => {
      val name = s.table
        .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView]
        .multipartIdentifier(1)
      session.conf.getOption("spark.graft.warehouse")
        .flatMap(wh => ManagedTable.load(session, wh, name))
        .map { t =>
          val props = s.propertyKey match {
            case Some(k) => Map(k -> t.meta.properties.getOrElse(k,
              throw new IllegalArgumentException(
                s"SHOW TBLPROPERTIES graft.$name: no property '$k'")))
            case None => t.meta.properties
          }
          LocalRelation(s.output, props.toSeq.sortBy(_._1).map { case (k, v) =>
            org.apache.spark.sql.catalyst.InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(k),
              org.apache.spark.unsafe.types.UTF8String.fromString(v))
          })
        }
        .getOrElse(s)
    }
  }

  /** Snapshot-ref DDL (round 8): `ALTER TABLE graft.t CREATE|DROP
    * BRANCH|TAG name [AS OF VERSION n]` — recognized from the SQL text
    * by [[GraftSqlParser]] (Spark's grammar has no production for it)
    * and executed eagerly over [[ManagedTable]]'s tag/branch layer. The
    * table loads inside the command body, so EXPLAIN never touches it.
    */
  def refDdlCommand(name: String, verb: String, kind: String, ref: String,
                    version: Option[Long]): LogicalPlan = {
    require(version.isEmpty || (verb, kind) == (("CREATE", "TAG")),
      s"ALTER TABLE graft.$name $verb $kind: AS OF VERSION applies only to " +
        "CREATE TAG (branches stage onto the current snapshot)")
    def t = ManagedTable.load(session, warehouse(name), name).getOrElse(
      throw new IllegalArgumentException(s"table graft.$name does not exist"))
    GraftDmlCommand(s"ALTER $verb $kind", name, () => (verb, kind) match {
      case ("CREATE", "BRANCH") => t.createBranch(ref)
      case ("DROP", "BRANCH")   => t.abandonBranch(ref)
      case ("CREATE", "TAG")    => version.fold(t.tag(ref))(v => t.tag(ref, v))
      case ("DROP", "TAG")      => t.dropTag(ref)
      case other => throw new IllegalStateException(s"unreachable ref DDL $other")
    })
  }

  /** SQL-form partition transform text → the spec grammar string the
    * strict parser validates: `day(ts)` / `days(ts)`, `bucket(4, id)`
    * (either argument order), `truncate(8, c)`, or a bare identity
    * column. The TEXT seam's analogue of [[GraftCatalog.transformToSpec]].
    */
  private def unq(id: String): String = {
    val t = id.trim
    if (t.startsWith("`") && t.endsWith("`") && t.length > 1)
      t.substring(1, t.length - 1).replace("``", "`")
    else t
  }

  private def sqlTransformToSpec(name: String, raw: String): String = {
    val Fn = """(?s)([A-Za-z_]+)\s*\(\s*(.+?)\s*\)""".r
    raw.trim match {
      case Fn(fn, argsRaw) =>
        val args = argsRaw.split(',').map(a => unq(a)).toSeq
        def one(): String = {
          require(args.length == 1,
            s"ALTER TABLE graft.$name: $fn takes one column, got '$raw'")
          args.head
        }
        fn.toLowerCase(java.util.Locale.ROOT) match {
          case "identity"         => one()
          case "years" | "year"   => s"year(${one()})"
          case "months" | "month" => s"month(${one()})"
          case "days" | "day"     => s"day(${one()})"
          case "hours" | "hour"   => s"hour(${one()})"
          case t @ ("bucket" | "truncate") =>
            require(args.length == 2,
              s"ALTER TABLE graft.$name: $t takes (N, column), got '$raw'")
            val (num, c) = args.head.toIntOption match {
              case Some(n) => (n, args(1))
              case None => (args(1).toIntOption.getOrElse(
                throw new IllegalArgumentException(
                  s"ALTER TABLE graft.$name: no numeric argument in '$raw'")), args.head)
            }
            s"$t($c,$num)"
          case other => throw new IllegalArgumentException(
            s"ALTER TABLE graft.$name: unsupported partition transform '$other'")
        }
      case bare => unq(bare)
    }
  }

  /** `ALTER TABLE graft.t ADD|DROP PARTITION FIELD <transform>` and
    * `REPLACE PARTITION FIELD <old> WITH <new>` — partition-spec
    * EVOLUTION through SQL ([[ManagedTable.replacePartitionField]]):
    * metadata-only, nothing rewritten; existing groups keep their epoch's
    * layout, future writes use the new spec. A dropped or replaced field
    * is named by its derived NAME or its transform, so `DROP PARTITION
    * FIELD bucket(4, id)` and `DROP PARTITION FIELD id_bucket` both
    * resolve.
    */
  def partitionFieldCommand(name: String, oldField: Option[String],
                            newField: Option[String]): LogicalPlan = {
    val verb = if (oldField.isEmpty) "ADD" else if (newField.isEmpty) "DROP" else "REPLACE"
    GraftDmlCommand(s"ALTER $verb PARTITION FIELD", name, () =>
      ManagedTable.load(session, warehouse(name), name).getOrElse(
        throw new IllegalArgumentException(s"table graft.$name does not exist"))
        .replacePartitionField(oldField.map(sqlTransformToSpec(name, _)),
          newField.map(sqlTransformToSpec(name, _))))
  }

  /** `ALTER TABLE graft.t SET IDENTIFIER FIELDS a, b` — re-key through
    * SQL ([[ManagedTable.setIdentifierFields]]; plain-data state gated
    * there: MoR artifacts scope on the old key).
    */
  def setIdentifierFieldsCommand(name: String, fields: String): LogicalPlan = {
    def t = ManagedTable.load(session, warehouse(name), name).getOrElse(
      throw new IllegalArgumentException(s"table graft.$name does not exist"))
    GraftDmlCommand("ALTER SET IDENTIFIER FIELDS", name, () => {
      val tbl = t
      val resolver = session.sessionState.analyzer.resolver
      val ids = fields.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { raw =>
        val id = raw.stripPrefix("`").stripSuffix("`")
        tbl.meta.schema.fields.find(f => resolver(f.name, id)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER TABLE graft.$name: identifier field '$id' is not a column")).name
      }
      tbl.setIdentifierFields(ids)
    })
  }

  /** `ALTER TABLE graft.t WRITE [LOCALLY] ORDERED BY c [ASC|DESC], …` /
    * `WRITE UNORDERED` — D5's SQL form: the order lands in the
    * `write.sort-order` property and replaces the default PK-ascending
    * within-partition write sort (no extra shuffle; file-level
    * clustering for manifest bounds + parquet row-group pruning).
    */
  def writeOrderedCommand(name: String, order: Option[String]): LogicalPlan = {
    def t = ManagedTable.load(session, warehouse(name), name).getOrElse(
      throw new IllegalArgumentException(s"table graft.$name does not exist"))
    GraftDmlCommand("ALTER WRITE ORDERED", name, () => {
      val tbl = t
      order match {
        case None => tbl.unsetProperties(Seq("write.sort-order"))
        case Some(o) =>
          val resolver = session.sessionState.analyzer.resolver
          val entries = o.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { tok =>
            val parts = tok.split("\\s+").toSeq
            require(parts.length <= 2,
              s"ALTER TABLE graft.$name WRITE ORDERED BY: cannot parse '$tok' " +
                "(expected `col [ASC|DESC]`; NULLS FIRST/LAST is not supported)")
            val id = parts.head.stripPrefix("`").stripSuffix("`")
            val colName = tbl.meta.schema.fields.find(f => resolver(f.name, id))
              .getOrElse(throw new IllegalArgumentException(
                s"ALTER TABLE graft.$name WRITE ORDERED BY: '$id' is not a column")).name
            val asc = parts.lift(1) match {
              case None => true
              case Some(d) if d.equalsIgnoreCase("asc")  => true
              case Some(d) if d.equalsIgnoreCase("desc") => false
              case Some(d) => throw new IllegalArgumentException(
                s"ALTER TABLE graft.$name WRITE ORDERED BY: expected ASC or " +
                  s"DESC after '$id', got '$d'")
            }
            s"$colName ${if (asc) "ASC" else "DESC"}"
          }
          require(entries.nonEmpty,
            s"ALTER TABLE graft.$name WRITE ORDERED BY: empty column list")
          tbl.setProperties(Map("write.sort-order" -> entries.mkString(",")))
      }
    })
  }

  /** `SHOW TABLES IN graft` — list the warehouse's managed tables
    * ([[ManagedTable.list]]) and persisted views, optionally LIKE-filtered with
    * the usual `*`/`|` glob. Answered at the parser seam as a local
    * relation shaped by the statement's own output attributes.
    */
  private def showTables(st: org.apache.spark.sql.catalyst.plans.logical.ShowTables)
      : Option[LogicalPlan] = st.namespace match {
    case org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace(Seq(g), _)
        if g.equalsIgnoreCase("graft") =>
      session.conf.getOption("spark.graft.warehouse").map { wh =>
        // distinct: a raced CREATE TABLE/VIEW can leave both objects
        // under one name (resolution prefers the table) — list it once
        val names = (ManagedTable.list(session, wh) ++
          graft.tables.ViewStore.list(session, wh)).distinct.sorted
        val kept = st.pattern match {
          case Some(p) =>
            // Spark's SHOW TABLES LIKE is case-insensitive glob
            val rx = "(?i)" + p.split('|').map(alt =>
              java.util.regex.Pattern.quote(alt).replace("*", "\\E.*\\Q")).mkString("|")
            names.filter(_.matches(rx))
          case None => names
        }
        import org.apache.spark.unsafe.types.UTF8String
        LocalRelation(st.output.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.AttributeReference]),
          kept.map(n => org.apache.spark.sql.catalyst.InternalRow(
            UTF8String.fromString("graft"), UTF8String.fromString(n), false)))
      }
    case _ => None
  }

  /** `SHOW PARTITIONS graft.t [PARTITION (k=v, …)]` — answered from the
    * manifest: live data tuples, one manifest read, ZERO data scan (the
    * Iceberg partitions-metadata-table answer; at 100 TB the difference
    * between milliseconds and a full listing). Output rows are Spark's
    * `k=v/k2=v2` strings in current-spec field order (old-epoch-only
    * keys trail, sorted). Filter keys must be identity partition
    * sources — bucket/truncate/date values are derived, so filtering on
    * them goes through `graft.t$partitions` where the tuple is a map.
    */
  private def showPartitions(sp: org.apache.spark.sql.catalyst.plans.logical.ShowPartitions)
      : Option[LogicalPlan] = sp.child match {
    case u: UnresolvedTable
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
          !u.multipartIdentifier(1).contains('$') =>
      val name = u.multipartIdentifier(1)
      session.conf.getOption("spark.graft.warehouse").flatMap { wh =>
        ManagedTable.load(session, wh, name).map { t =>
          val pf = t.v2PartitionFields
          require(pf.nonEmpty,
            s"SHOW PARTITIONS: graft.$name is not a partitioned table")
          val resolver = session.sessionState.analyzer.resolver
          val filter: Map[String, String] = sp.pattern match {
            case Some(org.apache.spark.sql.catalyst.analysis
                .UnresolvedPartitionSpec(m, _)) =>
              val keyed = m.toSeq.map { case (k, v) =>
                val f = pf.find(p =>
                    p.transform == "identity" && resolver(p.sourceColumn, k))
                  .getOrElse(throw new IllegalArgumentException(
                    s"SHOW PARTITIONS graft.$name: '$k' is not an identity " +
                      s"partition source (spec: ${t.meta.partitionBy.mkString(", ")}); " +
                      s"filter derived transforms via graft.$name$$partitions"))
                (f, v)
              }
              // canonicalize exactly like manifest tuples — typed cast,
              // then Spark's cast-to-string — in ONE job for all keys,
              // with ANSI cast failures wrapped precisely
              val canonRow =
                try session.range(1).select(keyed.map { case (f, v) =>
                  org.apache.spark.sql.functions.lit(v)
                    .cast(t.meta.schema(f.sourceColumn).dataType)
                    .cast(org.apache.spark.sql.types.StringType)
                }: _*).head()
                catch {
                  case e: org.apache.spark.SparkThrowable =>
                    throw new IllegalArgumentException(
                      s"SHOW PARTITIONS graft.$name: a PARTITION value does not " +
                        s"cast to its source column's type " +
                        s"(${keyed.map { case (f, v) => s"${f.sourceColumn}='$v'" }.mkString(", ")})",
                      e.asInstanceOf[Throwable])
                }
              keyed.zipWithIndex.map { case ((f, v), idx) =>
                require(!canonRow.isNullAt(idx),
                  s"SHOW PARTITIONS graft.$name: '$v' does not cast to " +
                    s"${f.sourceColumn}'s type " +
                    t.meta.schema(f.sourceColumn).dataType.simpleString)
                f.name -> canonRow.getString(idx)
              }.toMap
            case Some(other) => throw new IllegalArgumentException(
              s"SHOW PARTITIONS graft.$name: unsupported partition spec $other")
            case None => Map.empty
          }
          val order = pf.map(_.name).zipWithIndex.toMap
          val strs = t.partitionsMetadata().select("partition").collect()
            .map(_.getMap[String, String](0).toMap)
            .filter(tp => filter.forall { case (k, v) => tp.get(k).contains(v) })
            .map { tp =>
              val (inSpec, extra) = tp.toSeq.partition(kv => order.contains(kv._1))
              // escape through the same helper the path writer uses
              // (ManagedTable's getPartitionPathString staging): a value
              // containing '/' or '=' must not yield an ambiguous row —
              // this matches Spark/Hive SHOW PARTITIONS output exactly
              (inSpec.sortBy(kv => order(kv._1)) ++ extra.sortBy(_._1))
                .map { case (k, v) =>
                  org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                    .getPartitionPathString(k, v)
                }.mkString("/")
            }.distinct.sorted.toIndexedSeq
          import org.apache.spark.unsafe.types.UTF8String
          LocalRelation(sp.output.map(_.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.AttributeReference]),
            strs.map(s => org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(s)))): LogicalPlan
        }.orElse {
          if (graft.tables.ViewStore.exists(session, wh, name))
            throw new IllegalArgumentException(
              s"SHOW PARTITIONS: graft.$name is a view — views have no partitions")
          else None
        }
      }
    case _ => None
  }

  /** `SHOW CREATE TABLE graft.t` — a statement that, re-executed against
    * an empty warehouse, recreates an equivalent table (schema,
    * partition spec, identifier fields, user properties). Internal
    * bookkeeping properties (rename lineage, spec history, barriers,
    * branch pins) are excluded: they describe table HISTORY, not its
    * definition, and replaying them onto a fresh table would corrupt it.
    */
  private def showCreateTable(sc: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable)
      : Option[LogicalPlan] = sc.child match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
          !u.multipartIdentifier(1).contains('$') =>
      session.conf.getOption("spark.graft.warehouse").flatMap { wh =>
        val name = u.multipartIdentifier(1)
        def out(stmt: String): LogicalPlan = {
          import org.apache.spark.unsafe.types.UTF8String
          LocalRelation(sc.output.map(_.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.AttributeReference]),
            Seq(org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(stmt))))
        }
        ManagedTable.load(session, wh, name).map { t =>
          val m = t.meta
          val cols = m.schema.fields
            .map(f => s"  ${quoteIfNeeded(f.name)} ${f.dataType.sql}" +
              (if (f.nullable) "" else " NOT NULL"))
            .mkString(",\n")
          // stored spec grammar is `bucket(col,N)`/`truncate(col,W)`;
          // Spark's DDL transform grammar requires the parameter FIRST,
          // and column identifiers must re-quote
          val ParamTransform = """(bucket|truncate)\((.+),(\d+)\)""".r
          val TimeTransform = """(year|month|day|hour)\((.+)\)""".r
          val ddlSpec = m.partitionBy.map {
            case ParamTransform(fn, c, n) => s"$fn($n, ${quoteIfNeeded(c)})"
            case TimeTransform(fn, c)     => s"$fn(${quoteIfNeeded(c)})"
            case identityCol              => quoteIfNeeded(identityCol)
          }
          val partClause =
            if (ddlSpec.isEmpty) ""
            else s"\nPARTITIONED BY (${ddlSpec.mkString(", ")})"
          val internalPrefixes = Seq(
            ManagedTable.TagPrefix, ManagedTable.BranchPrefix,
            ManagedTable.RenamedPrefix, ManagedTable.DefaultPrefix,
            ManagedTable.DroppedPrefix, ManagedTable.SpecHistoryKey,
            ManagedTable.BarrierKey,
            // bare key AND dot-suffixed variants (nullkey/expect/per-table)
            graft.streaming.CdcPipeline.CdcBatchIdProp,
            // progress markers (round 9): replaying exactly-once /
            // refresh bookkeeping onto a fresh table would corrupt it —
            // a restarted stream's batch 0 hits a marker-ahead refusal,
            // a replica skips upstream versions it never applied
            "sink.last-batch-id.",
            "ingest.last-batch-id",
            graft.streaming.StreamingAgg.BatchIdProp,
            "replication.applied-upto.",
            graft.tables.MaterializedView.VersionKey)
          val userProps = m.properties.filterNot { case (k, _) =>
            internalPrefixes.exists(k.startsWith)
          }
          val props = (if (m.identifierFields.nonEmpty)
            Seq(GraftCatalog.IdsProp -> m.identifierFields.mkString(",")) else Seq.empty) ++
            userProps.toSeq.sortBy(_._1)
          val propClause =
            if (props.isEmpty) ""
            else "\nTBLPROPERTIES (" + props.map { case (k, v) =>
              s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'"
            }.mkString(",\n  ") + ")"
          out(s"CREATE TABLE graft.$name (\n$cols)$partClause$propClause\n")
        }.orElse {
          // views round-trip too: the definition IS the stored SQL text
          graft.tables.ViewStore.load(session, wh, name)
            .map(sql => out(s"CREATE VIEW graft.$name AS\n$sql\n"))
        }
      }
    case _ => None
  }

  private def quoteIfNeeded(n: String): String =
    if (n.matches("[a-zA-Z_][a-zA-Z0-9_]*")) n else s"`${n.replace("`", "``")}`"

  /** The `graft.<name>` identifier behind an ALTER VIEW target — the
    * parser wraps it as UnresolvedView (or UnresolvedIdentifier on some
    * statement shapes).
    */
  private def graftViewIdent(p: LogicalPlan): Option[String] = p match {
    case UnresolvedIdentifier(Seq(g, n), _) if g.equalsIgnoreCase("graft") => Some(n)
    case v: org.apache.spark.sql.catalyst.analysis.UnresolvedView
        if v.multipartIdentifier.length == 2 &&
          v.multipartIdentifier.head.equalsIgnoreCase("graft") =>
      Some(v.multipartIdentifier(1))
    case _ => None
  }

  /** `DESCRIBE [EXTENDED] graft.t` — columns, partitioning, and (under
    * EXTENDED) identifier fields + table properties, shaped by the
    * statement's own output attributes.
    */
  private def describeTable(d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation)
      : Option[LogicalPlan] = d.relation match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
          !u.multipartIdentifier(1).contains('$') =>
      session.conf.getOption("spark.graft.warehouse").flatMap { wh =>
        import org.apache.spark.unsafe.types.UTF8String
        def row(a: String, b: String, c: String) =
          org.apache.spark.sql.catalyst.InternalRow(
            UTF8String.fromString(a), UTF8String.fromString(b),
            if (c == null) null else UTF8String.fromString(c))
        def shaped(rows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =
          LocalRelation(d.output.map(_.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.AttributeReference]), rows)
        ManagedTable.load(session, wh, u.multipartIdentifier(1)).map { t =>
          require(d.partitionSpec.isEmpty,
            s"DESCRIBE ... PARTITION is not supported for graft tables " +
              s"(query graft.${u.multipartIdentifier(1)}$$partitions instead)")
          val cols = t.meta.schema.fields.toSeq.map(f =>
            row(f.name, f.dataType.simpleString, null))
          val parts =
            if (t.meta.partitionBy.forall(_.trim.isEmpty)) Seq.empty
            else row("# Partitioning", "", null) +:
              t.meta.partitionBy.zipWithIndex.map { case (p, i) =>
                row(s"Part $i", p, null)
              }
          val detail =
            if (!d.isExtended) Seq.empty
            else row("# Detailed Table Information", "", null) +:
              (row("Identifier Fields", t.meta.identifierFields.mkString(", "), null) +:
                t.meta.properties.toSeq.sortBy(_._1).map { case (k, v) =>
                  row(k, v, null)
                })
          shaped(cols ++ parts ++ detail)
        }.orElse {
          // DESCRIBE on a persisted view: the body's CURRENT resolved
          // schema (re-analyzed, like every reference), plus the stored
          // SQL text under EXTENDED
          graft.tables.ViewStore.load(session, wh, u.multipartIdentifier(1)).map { sql =>
            val schema = org.apache.spark.sql.graftbridge.GraftBridge
              .dataFrame(session, session.sessionState.sqlParser.parsePlan(sql)).schema
            val cols = schema.fields.toSeq.map(f =>
              row(f.name, f.dataType.simpleString, null))
            val detail =
              if (!d.isExtended) Seq.empty
              else Seq(row("# Detailed View Information", "", null),
                row("Type", "VIEW", null), row("View Text", sql, null))
            shaped(cols ++ detail)
          }
        }
      }
    case _ => None
  }

  private object GraftAlterTarget {
    def unapply(p: LogicalPlan): Option[String] = p match {
      case ut: UnresolvedTable if ut.multipartIdentifier.length == 2 &&
          ut.multipartIdentifier.head.equalsIgnoreCase("graft") &&
          !ut.multipartIdentifier(1).contains('$') =>
        Some(ut.multipartIdentifier(1))
      case _ => None
    }
  }

  /** ALTERs need the table to exist at analysis; unknown tables keep the
    * original node so Spark raises its normal error.
    */
  private def withTable(orig: LogicalPlan, name: String)(
      f: ManagedTable => LogicalPlan): LogicalPlan =
    session.conf.getOption("spark.graft.warehouse")
      .flatMap(wh => ManagedTable.load(session, wh, name))
      .map(f).getOrElse(orig)

  private[plans] def warehouse(name: String): String =
    session.conf.getOption("spark.graft.warehouse").getOrElse(
      throw new IllegalArgumentException(
        s"graft.$name: set spark.graft.warehouse before DDL"))
}
