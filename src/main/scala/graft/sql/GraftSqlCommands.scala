package graft.sql

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, CaseWhen, Coalesce, EqualTo, Expression, In, Literal, Not, Or}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.{AlterTableAddColumnsCommand, AlterTableSetPropertiesCommand, AlterTableUnsetPropertiesCommand, LeafRunnableCommand}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.graftglue.GraftSqlGlue
import org.apache.spark.sql.types.StringType

import graft.sources.GraftFileIndex
import graft.table.GraftTable

/** SQL `INSERT INTO <graft table>`, routed through the snapshot log.
  * Spark's generic path (InsertIntoHadoopFsRelationCommand) would write
  * parquet straight into the table directory with NO snapshot commit —
  * rows invisible to readers and swept by the orphan collector — so
  * [[GraftSqlRule]] swaps that command for this one, which appends (or
  * overwrites) through [[GraftTable]] with full commit semantics. The
  * inbound query already carries PreprocessTableInsertion's casts and
  * column alignment; `outputColumnNames` restores table column names. */
case class GraftInsertCommand(location: String, query: LogicalPlan,
    outputColumnNames: Seq[String], overwrite: Boolean,
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val table = GraftTable(spark, location)
    val df = GraftSqlGlue.ofRows(spark, query).toDF(outputColumnNames: _*)
    if (overwrite) table.overwrite(df) else table.append(df)
    refreshIdent.foreach(spark.sessionState.catalog.refreshTable)
    Seq.empty
  }
}

/** SQL `MERGE INTO <graft table>`. The reference executes the
  * bronze→silver upsert shape (its bronze-silver.py:249-286):
  *
  *   MERGE INTO t USING s ON t.k = s.k [AND ...]
  *   [WHEN MATCHED AND s.op IN (...) THEN DELETE]   -- CDC extension
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  *
  * and the full ANSI clause matrix compiles into the same command
  * ([[GraftSqlRule]]'s `toMergeCommand`): the fields below are the
  * engine primitives of [[graft.table.MergeInto.merge]], and a clause
  * list folds into them first-match-wins. Executes through
  * [[GraftTable.merge]] (COW/MOR/auto per the `graft.merge.mode` table
  * property). The source is expected unique per key, as ANSI MERGE
  * requires; duplicate keys resolve deterministically keep-one rather
  * than erroring. In the CDC shape (`opCol`/`deleteOps`), an unmatched
  * delete-op row is dropped (CDC semantics), not inserted. */
case class GraftMergeCommand(location: String, source: LogicalPlan,
    keys: Seq[String], opCol: Option[String], deleteOps: Seq[String],
    refreshIdent: Option[TableIdentifier],
    // column-level UPDATE SET assignments (None = full-row replace):
    // target column name -> expression whose attributes are name-based
    // (plain = matched TARGET row, MergeInto.SrcPrefix'd = source row),
    // re-resolved at run time against the merge's matched-rows join
    updateSet: Option[Seq[(String, ExprBox)]] = None,
    // WHEN NOT MATCHED BY SOURCE THEN DELETE (snapshot sync — one
    // overwrite commit; see MergeInto.merge)
    syncDelete: Boolean = false,
    // WHEN MATCHED AND <cond> THEN UPDATE — name-based like updateSet;
    // None = unconditional
    updateCond: Option[ExprBox] = None,
    // residual ANSI clause shapes, compiled first-match-wins by
    // GraftSqlRule (see MergeInto.MergeExtras for evaluation frames):
    // general WHEN MATCHED THEN DELETE
    deleteCond: Option[ExprBox] = None,
    // WHEN NOT MATCHED AND cond / column-level INSERT (plain src names)
    insertCond: Option[ExprBox] = None,
    insertSet: Option[Seq[(String, ExprBox)]] = None,
    // conditional WHEN NOT MATCHED BY SOURCE DELETE / UPDATE
    bySourceDeleteCond: Option[ExprBox] = None,
    bySourceUpdateCond: Option[ExprBox] = None,
    bySourceUpdateSet: Seq[(String, ExprBox)] = Seq.empty)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val table = GraftTable(spark, location)
    val src = GraftSqlGlue.ofRows(spark, source)
    val mode = table.properties.getOrElse("graft.merge.mode", "cow")
    def c(b: ExprBox) = GraftSqlGlue.column(b.e)
    table.merge(src, keys = keys, dedupKey = keys, orderCol = keys.head,
      opCol = opCol, deleteOps = deleteOps, mode = mode,
      updateSet = updateSet.map(_.map { case (k, b) => k -> c(b) }),
      syncDelete = syncDelete,
      updateCond = updateCond.map(c),
      extras = graft.table.MergeInto.MergeExtras(
        deleteCond = deleteCond.map(c),
        insertCond = insertCond.map(c),
        insertSet = insertSet.map(_.map { case (k, b) => k -> c(b) }),
        bySourceDeleteCond = bySourceDeleteCond.map(c),
        bySourceUpdateCond = bySourceUpdateCond.map(c),
        bySourceUpdateSet = bySourceUpdateSet.map {
          case (k, b) => k -> c(b) }))
    refreshIdent.foreach(spark.sessionState.catalog.refreshTable)
    Seq.empty
  }
}

/** Opaque expression holder: keeps a name-based (deliberately
  * unresolved) expression OUT of the command's visible expression set —
  * CheckAnalysis would otherwise reject the plan for carrying unresolved
  * attributes that only re-resolve against the command's fresh table
  * scan at run time. */
case class ExprBox(e: Expression)

/** SQL `DELETE FROM <graft table> WHERE ...` — copy-on-write rewrite of
  * only the files containing matching rows ([[GraftTable.delete]]). The
  * condition is stored with name-based attributes and re-resolved against
  * the table's fresh scan at run time. */
case class GraftDeleteCommand(location: String, condition: ExprBox,
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTable(spark, location).delete(GraftSqlGlue.column(condition.e))
    refreshIdent.foreach(spark.sessionState.catalog.refreshTable)
    Seq.empty
  }
}

/** SQL `UPDATE <graft table> SET ... [WHERE ...]` — file-bounded COW
  * rewrite applying the assignments to matching rows
  * ([[GraftTable.update]]). */
case class GraftUpdateCommand(location: String,
    set: Seq[(String, ExprBox)], condition: Option[ExprBox],
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTable(spark, location).update(
      set.map { case (k, v) => k -> GraftSqlGlue.column(v.e) }.toMap,
      condition.map(b => GraftSqlGlue.column(b.e)))
    refreshIdent.foreach(spark.sessionState.catalog.refreshTable)
    Seq.empty
  }
}

/** Shared helper: after a schema-changing commit, re-point the session
  * catalog's stored table schema at the table's new schema (a v1
  * datasource binding pins the schema recorded at registration — a
  * stale one fails relation re-resolution). */
private[sql] object CatalogSync {
  def schema(spark: SparkSession, ident: TableIdentifier,
      location: String): Unit = {
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ident)
    // store the RELAXED (all-nullable) form — the one the relation
    // reports — or re-resolution fails the user-specified-schema check
    cat.alterTable(meta.copy(schema =
      graft.sources.GraftDataSource.relaxNullability(
        GraftTable(spark, location).schema)))
    cat.refreshTable(ident)
  }
}

/** SQL `TRUNCATE TABLE <graft table>` — one snapshot-log commit
  * removing every live file ([[GraftTable.truncate]]). Spark's builtin
  * TruncateTableCommand would DELETE THE TABLE DIRECTORY, snapshot log
  * included — data loss, not a commit — so the rule must intercept. */
case class GraftTruncateCommand(location: String,
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTable(spark, location).truncate()
    refreshIdent.foreach(spark.sessionState.catalog.refreshTable)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <graft table> ADD COLUMNS (...)` — a zero-file
  * "evolve" commit through the snapshot log ([[GraftTable.addColumns]]);
  * Spark's v1 command would reject the graft provider outright. */
case class GraftAddColumnsCommand(location: String,
    cols: Seq[org.apache.spark.sql.types.StructField],
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTable(spark, location).addColumns(cols)
    refreshIdent.foreach(CatalogSync.schema(spark, _, location))
    Seq.empty
  }
}

/** SQL `ALTER TABLE <graft table> DROP COLUMN[S] ...` — zero-file
  * "evolve" commit ([[GraftTable.dropColumns]]); v1 session-catalog
  * tables have no DROP COLUMN at all (v2-only), so this is intercepted
  * before resolution refuses it. */
case class GraftDropColumnsCommand(location: String, names: Seq[String],
    ifExists: Boolean,
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTable(spark, location).dropColumns(names, ifExists)
    refreshIdent.foreach(CatalogSync.schema(spark, _, location))
    Seq.empty
  }
}

/** SQL `ALTER TABLE <graft table> RENAME COLUMN old TO new` — a
  * zero-file evolve commit via [[GraftTable.renameColumn]]; legal only
  * on tables born with field ids (reads resolve files by parquet field
  * id, so files written under the old name keep their column). */
case class GraftRenameColumnCommand(location: String, oldName: String,
    newName: String,
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTable(spark, location).renameColumn(oldName, newName)
    refreshIdent.foreach(CatalogSync.schema(spark, _, location))
    Seq.empty
  }
}

/** SQL `ALTER TABLE <graft table> ALTER COLUMN c TYPE <wider>` —
  * Iceberg type promotion via [[GraftTable.widenColumn]] (zero-file
  * evolve commit; Spark's parquet reader upcasts old files natively). */
case class GraftWidenColumnCommand(location: String,
    widens: Seq[(String, org.apache.spark.sql.types.DataType)],
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftTable(spark, location)
    widens.foreach { case (c, dt) => t.widenColumn(c, dt) }
    refreshIdent.foreach(CatalogSync.schema(spark, _, location))
    Seq.empty
  }
}

/** SQL `ALTER TABLE <graft table> SET/UNSET TBLPROPERTIES` — properties
  * live in the snapshot log (they gate engine behavior: merge mode,
  * Bloom columns), not in the session catalog, so the statement commits
  * a "set-properties" snapshot. */
case class GraftSetPropertiesCommand(location: String,
    set: Map[String, String], unset: Seq[String],
    refreshIdent: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftTable(spark, location)
    // graft.ref.* carries snapshot ids ([[GraftTable.refs]]) — refuse
    // garbage here rather than letting a raw property set plant a
    // never-resolvable tag
    if (set.keys.exists(_.startsWith("graft.ref."))) {
      val ids = t.snapshots.map(_.snapshotId).toSet
      set.foreach { case (k, v) =>
        if (k.startsWith("graft.ref."))
          require(GraftTable.isSnapshotIdString(v) && ids(v.toLong),
            s"$k must name an existing snapshot id, got '$v' — use " +
              "tag()/CALL or a valid id")
      }
    }
    if (set.nonEmpty) t.setProperties(set) else t.unsetProperties(unset)
    refreshIdent.foreach(spark.sessionState.catalog.refreshTable)
    Seq.empty
  }
}

/** SQL `SHOW TBLPROPERTIES <graft table>` — serves the SNAPSHOT LOG's
  * properties (the ones that gate engine behavior), not the session
  * catalog's registration-time copy. Preserves the builtin command's
  * output shape, including single-key lookup. */
case class GraftShowPropertiesCommand(location: String,
    propertyKey: Option[String],
    override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val props = GraftTable(spark, location).properties
    propertyKey match {
      case Some(k) =>
        val v = props.getOrElse(k,
          s"Table $location does not have property: $k")
        if (output.size == 2) Seq(Row(k, v)) else Seq(Row(v))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** Post-hoc resolution rule converting SQL writes against graft tables
  * into snapshot-log commands (and refusing shapes that would bypass the
  * log). Injected by [[graft.GraftExtensions]]. */
class GraftSqlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$what is not supported on graft tables; supported SQL writes are " +
        "INSERT INTO/OVERWRITE <name> SELECT ..., UPDATE, DELETE FROM, " +
        "TRUNCATE TABLE, and MERGE INTO <name> t USING <src> s ON " +
        "t.k = s.k [AND ...] (same-named keys) with any WHEN MATCHED / " +
        "NOT MATCHED / NOT MATCHED BY SOURCE [AND cond] clauses " +
        "(UPDATE SET * or c = expr, DELETE, INSERT * or (cols) VALUES)")

  /** Unwrap a MERGE target down to its graft relation, if any. */
  private def graftTarget(p: LogicalPlan)
      : Option[(GraftFileIndex, Option[TableIdentifier])] = p match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex =>
          Some((g, lr.catalogTable.map(_.identifier)))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** ON t.k = s.k AND ... → merge key names (target attr and source attr
    * must carry the same name — graft merges join by name). */
  private def mergeKeys(m: MergeIntoTable): Seq[String] = {
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if (tOut.contains(a) && sOut.contains(b)) ||
            (tOut.contains(b) && sOut.contains(a)) =>
        if (!a.name.equalsIgnoreCase(b.name))
          unsupported(s"MERGE ON ${a.name} = ${b.name} (differing key names)")
        a.name
      case other => unsupported(s"MERGE ON condition `${other.sql}`")
    }
  }

  /** A full-row copy (the analyzed form of UPDATE SET * / INSERT * and
    * of their spelled-out column lists): every assignment copies the
    * same-named SOURCE column, and every column of `cols` is assigned —
    * a partial list leaves the rest to keep the target value or insert
    * NULL. */
  private def isFullRow(m: MergeIntoTable, assignments: Seq[Assignment],
      cols: Seq[String]): Boolean = {
    val assigned = assignments.collect {
      case Assignment(k: AttributeReference, v: AttributeReference)
          if k.name.equalsIgnoreCase(v.name) &&
            m.sourceTable.outputSet.contains(v) => k.name.toLowerCase
    }
    assigned.size == assignments.size &&
      cols.forall(c => assigned.contains(c.toLowerCase))
  }

  /** WHEN MATCHED AND <cond> THEN DELETE in the CDC shape (source op
    * column = string literal(s)) → (opCol, deleteOps). The shape matters
    * for performance, not just familiarity: the opCol path evaluates on
    * the SOURCE frame alone, keeping pure-MOR merges read-free, where the
    * general `deleteCond` forces the matched join. */
  private def cdcDeleteSpec(m: MergeIntoTable,
      cond: Expression): Option[(String, Seq[String])] = {
    val sOut = m.sourceTable.outputSet
    cond match {
      case EqualTo(a: AttributeReference, Literal(v, StringType))
          if sOut.contains(a) => Some((a.name, Seq(v.toString)))
      case EqualTo(Literal(v, StringType), a: AttributeReference)
          if sOut.contains(a) => Some((a.name, Seq(v.toString)))
      case In(a: AttributeReference, vs)
          if sOut.contains(a) && vs.forall {
            case Literal(_, StringType) => true; case _ => false } =>
        Some((a.name, vs.map(_.asInstanceOf[Literal].value.toString)))
      case _ => None
    }
  }

  /** First-match-wins compilation (SQL evaluates WHEN clauses in order):
    * clause i's EFFECTIVE condition = its own condition AND NOT(any
    * earlier clause fired), where "fired" null-coalesces to false so an
    * earlier NULL condition cannot poison later clauses. The effective
    * conditions are mutually exclusive by construction, so the engine may
    * apply the compiled delete/update actions in either order. */
  private def effConds(conds: Seq[Option[Expression]]): Seq[Expression] = {
    val fired = conds.map(c => Coalesce(Seq(
      c.getOrElse(Literal.TrueLiteral), Literal.FalseLiteral)))
    conds.zipWithIndex.map { case (c, i) =>
      val own = c.getOrElse(Literal.TrueLiteral)
      if (i == 0) own else And(own, Not(fired.take(i).reduce(Or)))
    }
  }

  /** The SQL MERGE lowering — any number of WHEN MATCHED / NOT MATCHED /
    * NOT MATCHED BY SOURCE clauses, each optionally conditional, UPDATE
    * (full or column-level) / DELETE / INSERT (star or column-level),
    * evaluated with SQL's first-match-wins ordering. Multiple clauses
    * compile into SINGLE engine primitives: mutually exclusive effective
    * conditions ([[effConds]]) whose actions fold into per-column CASE
    * expressions, so [[graft.table.MergeInto]] applies the whole matrix
    * in one matched-join pass — no per-clause scans, no unions of the
    * join. Two shapes lower to the engine's cheaper primitives:
    *
    *  - CDC delete: a leading `WHEN MATCHED AND <s.op = / IN string
    *    literals> THEN DELETE`, then one update clause, an unconditional
    *    INSERT of source columns and at most a bare BY SOURCE DELETE,
    *    becomes `opCol`/`deleteOps` ([[cdcDeleteSpec]]). The op test runs
    *    on the source alone, so a MOR merge stays read-free; as CDC
    *    semantics, an unmatched delete-op row is dropped, not inserted.
    *  - a lone update clause keeps its own condition (None when
    *    unconditional) and bare assignments (None for a full-row copy),
    *    so an unconditional full-row update with INSERT * needs no
    *    matched-rows join at all. */
  private def toMergeCommand(m: MergeIntoTable,
      g: GraftFileIndex, ident: Option[TableIdentifier]): LogicalPlan = {
    val keys = mergeKeys(m)
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    val tCols = m.targetTable.output.map(_.name)
    val nonKeyCols = tCols.filterNot(keys.contains)
    def ua(n: String) =
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(n))

    // join-frame mapping: target plain, source SrcPrefix'd — except the
    // merge keys, which the join keeps under their plain (shared) names
    // and the ON condition makes equal on both sides anyway
    def nameBased(v: Expression): Expression = v.transform {
      case a: AttributeReference if sOut.contains(a) =>
        if (keys.exists(_.equalsIgnoreCase(a.name))) ua(a.name)
        else ua(graft.table.MergeInto.SrcPrefix + a.name)
      case a: AttributeReference if tOut.contains(a) => ua(a.name)
    }
    // source-frame mapping (NOT MATCHED clauses): plain source names
    def sourceOnly(v: Expression, where: String): Expression = v.transform {
      case a: AttributeReference if sOut.contains(a) => ua(a.name)
      case a: AttributeReference if tOut.contains(a) => unsupported(
        s"$where may reference only SOURCE columns, got target ${a.name}")
    }
    // target-frame mapping (NOT MATCHED BY SOURCE clauses)
    def targetOnly(v: Expression, where: String): Expression = v.transform {
      case a: AttributeReference if tOut.contains(a) => ua(a.name)
      case a: AttributeReference if sOut.contains(a) => unsupported(
        s"$where may reference only TARGET columns, got source ${a.name}")
    }
    def condOf(a: MergeAction): Option[Expression] = a.condition
    def assignPairs(assigns: Seq[Assignment], where: String)
        : Seq[(String, Expression)] = assigns.map { a =>
      val k = a.key match {
        case ar: AttributeReference => ar
        case other => unsupported(
          s"$where SET key `${other.sql}` (need a column)")
      }
      require(tOut.contains(k),
        s"$where must assign a target column, got ${k.name}")
      k.name -> a.value
    }

    // ---- CDC delete: lifted to opCol/deleteOps ----
    val cdcInsert = m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assigns)) => isFullRow(m, assigns, Nil)
      case _ => false
    }
    val cdcBySource = m.notMatchedBySourceActions match {
      case Seq() | Seq(DeleteAction(None)) => true
      case _ => false
    }
    val cdc: Option[(String, Seq[String])] = m.matchedActions match {
      case Seq(DeleteAction(Some(c)), _: UpdateAction | _: UpdateStarAction)
          if cdcInsert && cdcBySource => cdcDeleteSpec(m, c)
      case _ => None
    }
    val matched =
      if (cdc.isDefined) m.matchedActions.tail else m.matchedActions

    // ---- WHEN MATCHED: updates + deletes, first-match-wins ----
    val mEffs = effConds(matched.map(condOf))
    val deleteEffs = mEffs.zip(matched).collect {
      case (e, DeleteAction(_)) => e }
    // (eff, column -> raw value) per update clause; star = all non-key
    // columns from the source row by name
    val updatePairs: Seq[(Expression, Seq[(String, Expression)])] =
      mEffs.zip(matched).collect {
        case (e, UpdateStarAction(_)) =>
          e -> nonKeyCols.map(c =>
            c -> (ua(graft.table.MergeInto.SrcPrefix + c): Expression))
        case (e, UpdateAction(_, assigns, _)) =>
          e -> assignPairs(assigns, "MERGE UPDATE").flatMap {
            // merge-key assignment: the analyzer's SET * expansion emits
            // k = s.k, which the ON condition makes an identity — drop;
            // any OTHER key reassignment has no engine meaning
            case (k2, v: AttributeReference)
                if keys.contains(k2) && v.name.equalsIgnoreCase(k2) &&
                  (sOut.contains(v) || tOut.contains(v)) => None
            case (k2, _) if keys.contains(k2) => unsupported(
              s"MERGE UPDATE may not reassign merge key `$k2`")
            // identity no-op (c = t.c): the effective conditions are
            // mutually exclusive, so a row matching this clause falls to
            // the ELSE target value — identical outcome
            case (k2, v: AttributeReference)
                if tOut.contains(v) && v.name.equalsIgnoreCase(k2) => None
            case pair => Some(pair)
          }
      }
    val updates = matched.filter {
      case _: DeleteAction => false
      case _: UpdateAction | _: UpdateStarAction => true
      case other => unsupported(s"WHEN MATCHED action `$other`")
    }
    val deleteCond = deleteEffs.reduceOption(Or)
      .map(e => ExprBox(nameBased(e)))
    val (updateCond, updateSet)
        : (Option[ExprBox], Option[Seq[(String, ExprBox)]]) =
      updates match {
        // NO update clause keeps matched rows untouched
        case Seq() => (Some(ExprBox(Literal.FalseLiteral)), None)
        // a lone update clause: its own condition suffices — a matched
        // row an earlier clause claims is a delete, dropped before the
        // update condition is consulted, and a later delete's effective
        // condition already excludes this clause's rows
        case Seq(u) =>
          val fullRow = u match {
            case UpdateAction(_, assigns, _) =>
              isFullRow(m, assigns, nonKeyCols)
            case _ => true
          }
          (u.condition.map(c => ExprBox(nameBased(c))),
            if (fullRow) None
            else Some(updatePairs.head._2.map { case (c, v) =>
              c -> ExprBox(nameBased(v)) }))
        // several: OR of the effective conditions, and per column a CASE
        // across the clauses assigning it; ELSE = keep target value
        case _ =>
          val assignedCols = updatePairs.flatMap(_._2.map(_._1)).distinct
          (Some(ExprBox(nameBased(updatePairs.map(_._1).reduce(Or)))),
            Some(assignedCols.map { c =>
              val branches = updatePairs.collect {
                case (e, as) if as.exists(_._1 == c) =>
                  (nameBased(Coalesce(Seq(e, Literal.FalseLiteral))),
                    nameBased(as.find(_._1 == c).get._2))
              }
              c -> ExprBox(CaseWhen(branches, Some(ua(c))))
            }))
      }

    // ---- WHEN NOT MATCHED: inserts, first-match-wins ----
    val (insertCond, insertSet): (Option[ExprBox],
        Option[Seq[(String, ExprBox)]]) = m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => (None, None)
      case Seq(InsertAction(None, assigns))
          if isFullRow(m, assigns, tCols) => (None, None)
      case Seq() => // no insert clause: not-matched source rows drop
        (Some(ExprBox(Literal.FalseLiteral)), None)
      case actions =>
        val effs = effConds(actions.map(condOf))
        val perClause: Seq[Map[String, Expression]] = actions.map {
          case InsertStarAction(_) =>
            tCols.map(c => c -> (ua(c): Expression)).toMap
          case InsertAction(_, assigns) =>
            assignPairs(assigns, "MERGE INSERT").toMap
          case other => unsupported(s"WHEN NOT MATCHED action `$other`")
        }
        val set = tCols.flatMap { c =>
          val branches = effs.zip(perClause).collect {
            case (e, as) if as.contains(c) =>
              (sourceOnly(Coalesce(Seq(e, Literal.FalseLiteral)),
                "MERGE INSERT condition"),
                sourceOnly(as(c), "MERGE INSERT value"))
          }
          // a column no clause assigns inserts NULL (engine default)
          if (branches.isEmpty) None
          else Some(c -> ExprBox(CaseWhen(branches, None)))
        }
        (Some(ExprBox(sourceOnly(effs.reduce(Or),
          "MERGE INSERT condition"))), Some(set))
    }

    // ---- WHEN NOT MATCHED BY SOURCE: target-only rows ----
    val (syncDelete, bsDelete, bsUpdateCond, bsUpdateSet) =
      m.notMatchedBySourceActions match {
        case Seq() => (false, None, None, Seq.empty[(String, ExprBox)])
        case Seq(DeleteAction(None)) =>
          (true, None, None, Seq.empty[(String, ExprBox)])
        case actions =>
          val effs = effConds(actions.map(condOf))
          val delEffs = effs.zip(actions).collect {
            case (e, DeleteAction(_)) => e }
          val updPairs = effs.zip(actions).collect {
            case (e, UpdateAction(_, assigns, _)) =>
              e -> assignPairs(assigns, "MERGE BY SOURCE UPDATE")
          }
          actions.foreach {
            case _: DeleteAction | _: UpdateAction => ()
            case other => unsupported(
              s"WHEN NOT MATCHED BY SOURCE action `$other` " +
                "(UPDATE SET or DELETE — there is no source row)")
          }
          def tgt(e: Expression) =
            targetOnly(e, "WHEN NOT MATCHED BY SOURCE")
          val del = delEffs.reduceOption(Or).map(e => ExprBox(tgt(e)))
          val updCond = updPairs.map(_._1).reduceOption(Or)
            .map(e => ExprBox(tgt(e)))
          val assigned = updPairs.flatMap(_._2.map(_._1)).distinct
          val updSet = assigned.map { c2 =>
            val branches = updPairs.collect {
              case (e, as) if as.exists(_._1 == c2) =>
                (tgt(Coalesce(Seq(e, Literal.FalseLiteral))),
                  tgt(as.find(_._1 == c2).get._2))
            }
            c2 -> ExprBox(CaseWhen(branches, Some(ua(c2))))
          }
          (false, del, updCond, updSet)
      }

    GraftMergeCommand(g.location, m.sourceTable, keys,
      opCol = cdc.map(_._1), deleteOps = cdc.map(_._2).getOrElse(Seq.empty),
      refreshIdent = ident,
      updateSet = updateSet, syncDelete = syncDelete,
      updateCond = updateCond, deleteCond = deleteCond,
      insertCond = insertCond, insertSet = insertSet,
      bySourceDeleteCond = bsDelete, bySourceUpdateCond = bsUpdateCond,
      bySourceUpdateSet = bsUpdateSet)
  }

  /** Table path when `ident` is a catalog-registered graft table. */
  private def graftLoc(ident: TableIdentifier): Option[String] = {
    val cat = spark.sessionState.catalog
    if (!cat.tableExists(ident)) return None
    val m = cat.getTableMetadata(ident)
    if (!m.provider.exists(_.equalsIgnoreCase("graft"))) return None
    m.storage.properties.get("path")
      .orElse(m.storage.locationUri.map(_.toString))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // DataSourceAnalysis (a built-in post-hoc rule that runs before this
    // one) has already converted INSERT over our relation into the
    // HadoopFsRelation command — swap it for the snapshot-log commit
    case c: InsertIntoHadoopFsRelationCommand
        if c.fileIndex.exists(_.isInstanceOf[GraftFileIndex]) =>
      val g = c.fileIndex.get.asInstanceOf[GraftFileIndex]
      if (c.staticPartitions.nonEmpty)
        unsupported("partition-spec INSERT (partitioning is table-level)")
      GraftInsertCommand(g.location, c.query, c.outputColumnNames,
        c.mode == SaveMode.Overwrite, c.catalogTable.map(_.identifier))

    case m: MergeIntoTable if m.childrenResolved &&
        graftTarget(m.targetTable).isDefined =>
      val (g, ident) = graftTarget(m.targetTable).get
      toMergeCommand(m, g, ident)

    case d: DeleteFromTable if d.table.resolved &&
        graftTarget(d.table).isDefined =>
      val (g, ident) = graftTarget(d.table).get
      GraftDeleteCommand(g.location, ExprBox(nameBased(d.condition)),
        ident)

    case u: UpdateTable if u.table.resolved &&
        graftTarget(u.table).isDefined =>
      val (g, ident) = graftTarget(u.table).get
      val set = u.assignments.map {
        case Assignment(k: AttributeReference, v) =>
          k.name -> ExprBox(nameBased(v))
        case other => unsupported(s"UPDATE assignment `${other.sql}`")
      }
      GraftUpdateCommand(g.location, set,
        u.condition.map(c => ExprBox(nameBased(c))), ident)

    // TRUNCATE TABLE resolves to the v1 command, whose run() would rm
    // the TABLE DIRECTORY (snapshot log included) — swap for the
    // history-preserving zero-file commit
    case tc: org.apache.spark.sql.execution.command.TruncateTableCommand
        if graftLoc(tc.tableName).isDefined =>
      if (tc.partitionSpec.nonEmpty)
        unsupported("TRUNCATE with a partition spec")
      GraftTruncateCommand(graftLoc(tc.tableName).get, Some(tc.tableName))

    // ALTER TABLE ADD COLUMNS resolves to the v1 command (whose run()
    // would reject the graft provider) — swap for the evolve commit
    case a: AlterTableAddColumnsCommand if graftLoc(a.table).isDefined =>
      GraftAddColumnsCommand(graftLoc(a.table).get, a.colsToAdd,
        Some(a.table))

    case s: AlterTableSetPropertiesCommand
        if !s.isView && graftLoc(s.tableName).isDefined =>
      GraftSetPropertiesCommand(graftLoc(s.tableName).get, s.properties,
        Seq.empty, Some(s.tableName))

    case u: AlterTableUnsetPropertiesCommand
        if !u.isView && graftLoc(u.tableName).isDefined =>
      GraftSetPropertiesCommand(graftLoc(u.tableName).get, Map.empty,
        u.propKeys, Some(u.tableName))

    // SHOW TBLPROPERTIES stays a v2 plan (ResolvedTable over V1Table)
    // even for session-catalog tables — swap it for the snapshot-log
    // read. Guarded to the SESSION catalog with a plain namespace: a
    // same-named table in another v2 catalog (or a nested namespace)
    // must keep its own properties, not be shadowed by ours.
    case sp: ShowTableProperties =>
      sp.table match {
        case r: org.apache.spark.sql.catalyst.analysis.ResolvedTable
            if r.catalog.name == "spark_catalog" &&
              r.identifier.namespace.length <= 1 =>
          val ti =
            if (r.identifier.namespace.isEmpty)
              TableIdentifier(r.identifier.name)
            else TableIdentifier(r.identifier.name,
              Some(r.identifier.namespace.head))
          graftLoc(ti) match {
            case Some(loc) =>
              GraftShowPropertiesCommand(loc, sp.propertyKey, sp.output)
            case None => sp
          }
        case _ => sp
      }
  }

  /** Replace resolved attribute references with name-based ones so the
    * expression re-resolves against the command's fresh table scan (the
    * original exprIds die with this plan). */
  private def nameBased(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
        Seq(a.name))
  }
}
