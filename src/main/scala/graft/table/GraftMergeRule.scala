package graft.table

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, InsertAction, LogicalPlan, MergeIntoTable, Project, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

/** SQL `MERGE INTO` for graft tables (round-12 verdict task 3): the
  * reference's core mutation is a SQL upsert
  * (`upsert_athena_aggregates.py:87-110` — `INSERT ... ON CONFLICT DO
  * UPDATE`); this rule gives graft tables the standard lakehouse spelling:
  *
  * {{{
  *   MERGE INTO graft.db.t AS t USING batch AS s
  *   ON t.k1 = s.k1 AND t.k2 = s.k2
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * Spark parses MERGE natively; its own rewrite
  * (`RewriteMergeIntoTable`) only fires for tables implementing
  * `SupportsRowLevelOperations` — a group-replacement protocol whose
  * write half cannot ride the V1 fallback graft's writer uses. So this
  * resolution rule (injected via [[graft.GraftExtensions]]) intercepts
  * the RESOLVED `MergeIntoTable` whose target is a graft DSv2 relation
  * and lowers it to [[GraftMergeCommand]], which executes the merge
  * through the table format's own transactional path
  * ([[GraftTable.mergeUpsert]]) — merge-on-read by default (scattered
  * batches commit as deletion-vector swaps + the appended batch),
  * copy-on-write for dense ones — the same manifest-pruned plan the
  * programmatic API takes, so a SQL merge on a 100-TB table writes
  * O(batch), never the table.
  *
  * Supported shape (the upsert the reference runs): an equality-
  * conjunction ON clause, exactly `WHEN MATCHED THEN UPDATE SET *` and
  * `WHEN NOT MATCHED THEN INSERT *` (unconditional, full-row, the same
  * source value per column in both actions — the analyzer expands the
  * stars to explicit per-column assignments before this rule sees them).
  * Anything else on a graft target fails with an explicit error rather
  * than falling through to Spark's capability error.
  */
final class GraftMergeRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved && graftRelation(m.targetTable).isDefined =>
      lower(m, graftRelation(m.targetTable).get)
    case u: UpdateTable if u.resolved && graftRelation(u.table).isDefined =>
      lowerUpdate(u, graftRelation(u.table).get)
  }

  /** SQL `UPDATE t SET c = e WHERE cond` → [[GraftTable.updateWhere]]:
    * assigned values and the condition may reference any target column;
    * `updateWhere` derives its candidate-file filter from the condition
    * itself; a scattered update then commits merge-on-read (vector swaps
    * + post-image appends), a dense one copy-on-write — everything
    * unmatched carried by reference either way. */
  private def lowerUpdate(u: UpdateTable, rel: DataSourceV2Relation): LogicalPlan = {
    val tAttrs = AttributeSet(rel.output)
    val assigns = u.assignments.map {
      case Assignment(k: AttributeReference, v) if tAttrs.contains(k) =>
        if (!v.references.subsetOf(tAttrs))
          fail(s"UPDATE assigns ${k.name} from outside the table: $v")
        k.name -> v
      case a => fail(s"UPDATE assignment $a is not a plain target column")
    }
    u.condition.foreach { c =>
      if (!c.references.subsetOf(tAttrs))
        fail(s"UPDATE condition references non-table columns: $c")
    }
    val root = rel.table.asInstanceOf[GraftSparkTable].rootPath
    GraftUpdateCommand(root, assigns, u.condition)
  }

  private def graftRelation(target: LogicalPlan): Option[DataSourceV2Relation] =
    EliminateSubqueryAliases(target) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSparkTable] => Some(r)
      case _ => None
    }

  private def fail(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft MERGE INTO supports the upsert shape " +
        "(ON equality conjunction, WHEN MATCHED THEN UPDATE SET *, " +
        s"WHEN NOT MATCHED THEN INSERT *): $why")

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x => Seq(x)
  }

  private def lower(m: MergeIntoTable, rel: DataSourceV2Relation): LogicalPlan = {
    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported")
    val tAttrs = AttributeSet(rel.output)
    val sAttrs = AttributeSet(m.sourceTable.output)

    val updates: Seq[Assignment] = m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) => as
      case other => fail(s"matched actions: $other")
    }
    val inserts: Seq[Assignment] = m.notMatchedActions match {
      case Seq(InsertAction(None, as)) => as
      case other => fail(s"not-matched actions: $other")
    }
    def byTargetName(as: Seq[Assignment], what: String): Map[String, Expression] =
      as.map {
        case Assignment(k: AttributeReference, v) if tAttrs.contains(k) =>
          if (!v.references.subsetOf(sAttrs))
            fail(s"$what assigns ${k.name} from a non-source expression $v")
          k.name -> v
        case a => fail(s"$what assignment $a is not a plain target column")
      }.toMap
    val uMap = byTargetName(updates, "UPDATE")
    val iMap = byTargetName(inserts, "INSERT")
    val cols = rel.output.map(_.name)
    if (uMap.keySet != cols.toSet || iMap.keySet != cols.toSet)
      fail(s"both actions must assign every target column " +
        s"(update: ${uMap.keySet}, insert: ${iMap.keySet}, table: $cols)")
    for (c <- cols if !uMap(c).semanticEquals(iMap(c)))
      fail(s"column $c is assigned differently on match vs insert — " +
        "not an upsert")

    // ON clause: each conjunct equates one target column with a source
    // expression, and that expression must be exactly what the actions
    // assign to the column — then "replace matched rows with their source
    // row" is key-based replacement and lowers to the COW merge.
    val keys: Seq[String] = splitConj(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b)
          if tAttrs.contains(a) && b.references.subsetOf(sAttrs) => (a, b)
      case EqualTo(b, a: AttributeReference)
          if tAttrs.contains(a) && b.references.subsetOf(sAttrs) => (a, b)
      case other => fail(s"ON conjunct $other is not target-column = source-expr")
    }.map { case (a, b) =>
      if (!uMap(a.name).semanticEquals(b))
        fail(s"ON key ${a.name} is matched on $b but assigned ${uMap(a.name)} — " +
          "the merged row would not carry its own match key")
      a.name
    }
    if (keys.isEmpty) fail("no equality keys in the ON clause")

    // the batch: the source projected to the target's schema through the
    // (identical) assignment expressions
    val batch = Project(
      rel.output.map(o => Alias(uMap(o.name), o.name)()), m.sourceTable)
    val root = rel.table.asInstanceOf[GraftSparkTable].rootPath
    GraftMergeCommand(root, batch, keys)
  }
}

/** Eagerly-executed command a lowered MERGE INTO becomes: runs the
  * source plan, guards the MERGE multi-match precondition loudly, and
  * commits through [[GraftTable.mergeUpsert]] — transactional,
  * copy-on-write, conflict-rebasing like every other merge. */
final case class GraftMergeCommand(root: String, batch: LogicalPlan,
                                   keys: Seq[String]) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(batch)

  override def run(sparkSession: SparkSession): Seq[Row] = {
    val spark = sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val src = org.apache.spark.sql.GraftInternalAccess.ofRows(spark, batch)
    // ANSI MERGE errors when several source rows match one target row;
    // enforcing it keeps the lowering exactly equivalent (and catches the
    // classic bug of a non-deduplicated CDC batch) — one O(batch) agg.
    val dup = src.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalStateException(
        s"MERGE INTO $root: multiple source rows share the key " +
          s"${dup.head.toSeq.init.mkString("(", ",", ")")} — " +
          "deduplicate the source (ANSI MERGE cardinality violation)")
    GraftTable.forPath(spark, root).mergeUpsert(src, keys)
    Seq.empty
  }
}

/** Eagerly-executed command a lowered SQL UPDATE becomes: applies each
  * assignment as `CASE WHEN cond THEN new ELSE old` over ONLY the
  * candidate files ([[GraftTable.updateWhere]]), committing a new
  * version. Catalyst expressions travel by NAME (attribute refs rebound
  * as unresolved attributes), so they re-resolve against the table's
  * fresh read frame. */
final case class GraftUpdateCommand(
    root: String,
    assignments: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
    condition: Option[org.apache.spark.sql.catalyst.expressions.Expression])
    extends LeafRunnableCommand {

  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftSqlBridge.column(e.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      })
    GraftTable.forPath(sparkSession, root).updateWhere(
      assignments.map { case (n, e) => n -> toCol(e) },
      condition.map(toCol))
    Seq.empty
  }
}
