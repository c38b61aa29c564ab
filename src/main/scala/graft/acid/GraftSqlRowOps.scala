package graft.acid

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{col, lit}

/** SQL `UPDATE` / `MERGE INTO` for graft-catalog tables — the remaining
  * two row-level DML verbs next to the catalog's native DELETE.
  *
  * Spark's built-in path for these statements requires a connector-side
  * `SupportsRowLevelOperations` write machine; the lakehouse pattern
  * (what Delta ships) is instead a planner-level rewrite of the analyzed
  * `UpdateTable` / `MergeIntoTable` command into the table's own commit
  * path. That is what this rule does: it re-expresses the analyzed
  * assignments/conditions against [[GraftTable]]'s API and routes to
  * [[GraftTable.update]] / [[GraftTable.mergeIntoGeneral]] — so SQL DML
  * gets CHECK validation, partition clustering, stats/bloom indexing and
  * partition-SCOPED rewrites, one code path with the Scala API.
  *
  * Installed idempotently on the live session by [[GraftCatalog
  * .initialize]] via the public `spark.experimental` hooks (the same
  * mechanism as [[graft.plans.TopKPerKey]]) — a user who configures the
  * catalog gets SQL DML with no extra setup. The rule runs in the
  * user-provided optimizer batch, safely BEFORE the planner would reject
  * the command as unsupported; statements it cannot faithfully convert
  * (subqueries in conditions, nested-field assignments, unresolvable
  * references) are left untouched so Spark's own clear error surfaces
  * instead of a wrong rewrite.
  *
  * Scale shape: UPDATE auto-routes partition-pinned predicates to the
  * scoped rewrite (O(impacted files)); MERGE detects the canonical
  * upsert shape — `ON t.<partitionCol> = s.<x>` with inserts assigning
  * the partition column from `s.<x>` and no NOT MATCHED BY SOURCE — and
  * passes `distinct(s.x)` as the partition cover, so only impacted
  * partitions rewrite.
  */
/** Parse-time record of which MERGE actions were written as stars
  * (`UPDATE SET *` / `INSERT *`) — the analyzer expands star actions
  * into full assignment lists before [[GraftSqlRowOps]] runs, erasing
  * the one bit schema evolution needs (star actions assign the evolved
  * columns; explicit lists leave them NULL). [[GraftSqlParser]] stamps
  * every parsed [[MergeIntoTable]] with one Boolean per action, in
  * action order; tree tags survive the analyzer's rule rewrites
  * (`resolveOperators*`/`transform*` copy tags onto replaced nodes).
  * Read back per index; a missing tag or index falls back to the
  * identity-shape inference, so programmatically-built plans keep
  * working. */
private[acid] object MergeStarTag {
  import org.apache.spark.sql.catalyst.trees.TreeNodeTag
  val matched: TreeNodeTag[Seq[Boolean]] =
    TreeNodeTag[Seq[Boolean]]("graft.merge.matchedStars")
  val notMatched: TreeNodeTag[Seq[Boolean]] =
    TreeNodeTag[Seq[Boolean]]("graft.merge.notMatchedStars")

  /** Stamp every [[MergeIntoTable]] in a freshly PARSED plan with its
    * star-action bits (in-place tag mutation — no rebuild). */
  def stamp(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case m: MergeIntoTable =>
        m.setTagValue(matched,
          m.matchedActions.map(_.isInstanceOf[UpdateStarAction]))
        m.setTagValue(notMatched,
          m.notMatchedActions.map(_.isInstanceOf[InsertStarAction]))
      case _ => ()
    }
    plan
  }
}

object GraftSqlRowOps extends Rule[LogicalPlan] {

  /** The graft table behind `p` with the attribute output the statement's
    * expressions are bound to. Matches the relation both pre- and post-
    * optimization (scan pushdown rewrites DataSourceV2Relation into
    * DataSourceV2ScanRelation before planning — the strategy sees the
    * latter). */
  private def graftRel(p: LogicalPlan): Option[(Seq[Attribute], GraftTableV2)] =
    p.collectFirst {
      case d: DataSourceV2Relation if d.table.isInstanceOf[GraftTableV2] =>
        (d.output, d.table.asInstanceOf[GraftTableV2])
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if s.relation.table.isInstanceOf[GraftTableV2] =>
        (s.output, s.relation.table.asInstanceOf[GraftTableV2])
    }

  /** Rebind `e` by NAME against a target frame: every attribute reference
    * becomes `UnresolvedAttribute(rename(name))`, resolved later against
    * the frame the Column is applied to. None when the expression cannot
    * be faithfully rebound (unknown attribute, subquery). */
  private def rebind(e: Expression, names: Map[Long, String]): Option[Expression] = {
    if (e.exists(_.isInstanceOf[SubqueryExpression])) return None
    var ok = true
    val r = e.transform {
      case a: AttributeReference =>
        names.get(a.exprId.id) match {
          case Some(n) => UnresolvedAttribute.quoted(n)
          case None    => ok = false; a
        }
    }
    if (ok) Some(r) else None
  }

  private def rebindCol(e: Expression, names: Map[Long, String]): Option[Column] =
    rebind(e, names).map(GraftPlanBridge.column)

  /** Assignment list → target-column-name -> value-Column map. Keys must
    * be plain top-level target columns (no nested fields). */
  private def assigns(as: Seq[Assignment], targetNames: Map[Long, String],
                      names: Map[Long, String]): Option[Map[String, Column]] = {
    val pairs = as.map { a =>
      val key = a.key match {
        case ar: AttributeReference => targetNames.get(ar.exprId.id)
        case _                      => None
      }
      for (k <- key; v <- rebindCol(a.value, names)) yield k -> v
    }
    if (pairs.forall(_.nonEmpty)) Some(pairs.flatten.toMap) else None
  }

  /** Optimizer-rule face (the GraftExtensions packaging path). NOTE:
    * Spark's optimizer does not run user rules over top-level command
    * nodes in every execution mode, so the load-bearing conversion path
    * is [[GraftRowCommandStrategy]] at planning time; this rule is a
    * best-effort early rewrite where the optimizer does descend. */
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case u @ UpdateTable(target, assignments, condition) =>
      convertUpdate(target, assignments, condition).getOrElse(u)
    case m: MergeIntoTable =>
      convertMerge(m).getOrElse(m)
  }

  private[acid] def convertUpdate(target: LogicalPlan, assignments: Seq[Assignment],
                                  condition: Option[Expression]): Option[GraftRowLevelCommand] =
    graftRel(target).filter(_._2.writable).flatMap { case (out, v2) =>
      val names = out.map(a => a.exprId.id -> a.name).toMap
      for {
        sets <- assigns(assignments, names, names)
        pred <- condition.fold(Option(lit(true)))(rebindCol(_, names))
      } yield GraftRowLevelCommand(s"UPDATE ${v2.name}",
        // default path: a small match lands merge-on-read (DV commit);
        // SQL reads apply the mask via GraftDvScanRewrite
        () => { v2.underlying.update(pred, sets); () })
    }

  /** The pieces a MergeIntoTable conversion yields — shared between the
    * standalone command ([[convertMerge]]) and the COMMIT ATOMIC
    * participant ([[convertMergeAtomic]]). */
  private[acid] final case class ConvertedMerge(
      v2: GraftTableV2, sourceDf: org.apache.spark.sql.DataFrame,
      cond: Column,
      matched: Seq[(Option[Column], Option[Map[String, Column]])],
      inserts: Seq[(Option[Column], Map[String, Column])],
      nmbs: Seq[(Option[Column], Option[Map[String, Column]])],
      scopeSrcCol: Option[String],
      evolve: Boolean = false)

  private[acid] def convertMerge(m: MergeIntoTable): Option[GraftRowLevelCommand] =
    convertMergeParts(m).map { cm =>
      GraftRowLevelCommand(s"MERGE INTO ${cm.v2.name}", () => {
        val scoped =
          if (cm.nmbs.nonEmpty) None
          else cm.scopeSrcCol.map { sc =>
            cm.sourceDf.select(col(sc).cast("long")).distinct()
              .collect().toSeq.filterNot(_.isNullAt(0)).map(_.getLong(0))
          }
        cm.v2.underlying.mergeIntoGeneral(cm.sourceDf, cm.cond,
          cm.matched, cm.inserts, cm.nmbs, scoped,
          evolveSchema = cm.evolve)
        ()
      })
    }

  /** The SAME conversion, landing as a [[GraftTable.commitAtomic]]
    * participant: the staged-merge op publishes under the txn's shared
    * decision marker instead of committing standalone. */
  private[acid] def convertMergeAtomic(m: MergeIntoTable): Option[GraftTable.AtomicMergeInto] =
    // the atomic participant plans without the evolution columns — an
    // evolving merge must not silently drop the new columns there;
    // refuse the conversion (loud upstream error) instead
    convertMergeParts(m).filterNot(_.evolve).map { cm =>
      GraftTable.AtomicMergeInto(cm.v2.underlying, cm.sourceDf, cm.cond,
        cm.matched, cm.inserts, cm.nmbs, cm.scopeSrcCol)
    }

  private def convertMergeParts(m: MergeIntoTable): Option[ConvertedMerge] = {
    graftRel(m.targetTable).filter(_._2.writable).flatMap { case (tOut, v2) =>
      val src = m.sourceTable
      // one frame each side; duplicate names would make the __t_/__s_
      // disambiguation ambiguous — bail to Spark's error instead
      if (tOut.map(_.name.toLowerCase).distinct.size != tOut.size ||
          src.output.map(_.name.toLowerCase).distinct.size != src.output.size)
        return None
      val tNames = tOut.map(a => a.exprId.id -> a.name).toMap
      val names = tOut.map(a => a.exprId.id -> s"__t_${a.name}").toMap ++
        src.output.map(a => a.exprId.id -> s"__s_${a.name}").toMap

      // `WITH SCHEMA EVOLUTION` (the Delta star semantics): source
      // columns the target lacks become NEW target columns, assigned
      // from the source in STAR actions only (`UPDATE SET *` /
      // `INSERT *`). The analyzer resolves star actions against the
      // EXISTING target schema — the extra source columns never reach
      // the assignment lists (and an explicit `SET t.new = ...` is
      // rejected before this rule runs) — so the conversion re-attaches
      // them here; the table-side [[GraftTable.mergeIntoGeneral]]
      // evolveSchema machinery then adds + types the columns and keeps
      // carried files metadata-only. An EXPLICIT assignment list (e.g.
      // `WHEN MATCHED THEN UPDATE SET t.v = s.v`) leaves the evolved
      // columns unassigned — NULL/unchanged, exactly Delta's rule.
      // Star detection (r16 directive #7): the PARSER fact, carried as
      // a per-action tree tag ([[MergeStarTag]], stamped on the parsed
      // plan where `UPDATE SET *`/`INSERT *` are still distinct node
      // types) — no inference. A hand-written full identity list is an
      // explicit list: its evolved columns stay NULL, where the old
      // shape-matching heuristic had to call it star. The
      // identity-shape fallback below only serves plans that never
      // passed through [[GraftSqlParser]] (programmatically-built
      // MergeIntoTable commands).
      val evolveCols: Seq[String] =
        if (!m.withSchemaEvolution) Nil
        else src.output.map(_.name)
          .filterNot(n => tOut.exists(_.name.equalsIgnoreCase(n)))
      val srcByName = src.output.map(a => a.exprId.id -> a.name).toMap
      def isStarAction(as: Seq[Assignment]): Boolean =
        tOut.forall { a =>
          as.exists { asg =>
            val keyHits = asg.key match {
              case k: AttributeReference =>
                tNames.get(k.exprId.id).exists(_.equalsIgnoreCase(a.name))
              case _ => false
            }
            // see through EVERY coercion wrapper the analyzer's star
            // alignment can add, not just Cast: ANSI decimal targets
            // wrap in CheckOverflowInTableInsert, non-nullable targets
            // in AssertNotNull — matching by class name keeps this
            // total across Spark minor versions (r16 review fix: a
            // DECIMAL target column made a real SET * read as an
            // explicit list and silently nulled the evolved columns)
            val wrappers = Set("Cast", "AnsiCast", "TryCast",
              "CheckOverflow", "CheckOverflowInTableInsert",
              "AssertNotNull", "Alias")
            @annotation.tailrec
            def unwrap(e: Expression): Expression = e match {
              case u: org.apache.spark.sql.catalyst.expressions.UnaryExpression
                if wrappers.contains(u.getClass.getSimpleName) =>
                unwrap(u.child)
              case o => o
            }
            keyHits && (unwrap(asg.value) match {
              case v: AttributeReference =>
                srcByName.get(v.exprId.id).exists(_.equalsIgnoreCase(a.name))
              case _ => false
            })
          }
        }
      def withEvolved(s: Map[String, Column], star: Boolean): Map[String, Column] =
        if (star) s ++ evolveCols.map(n => n -> col(s"__s_$n")) else s

      // Some(None) = unconditional action; None = cannot convert
      def optCond(c: Option[Expression]): Option[Option[Column]] = c match {
        case None    => Some(None)
        case Some(x) => rebindCol(x, names).map(Some(_))
      }
      def action(a: MergeAction, evolve: Boolean, starHint: Option[Boolean])
          : Option[(Option[Column], Option[Map[String, Column]])] = {
        def star(as: Seq[Assignment]): Boolean =
          starHint.getOrElse(isStarAction(as))
        a match {
          case UpdateAction(c, as, _) =>
            for (cc <- optCond(c); s <- assigns(as, tNames, names))
              yield (cc, Some(if (evolve) withEvolved(s, star(as)) else s))
          case DeleteAction(c) =>
            optCond(c).map(cc => (cc, None))
          case InsertAction(c, as) =>
            for (cc <- optCond(c); s <- assigns(as, tNames, names))
              yield (cc, Some(if (evolve) withEvolved(s, star(as)) else s))
          case _ => None
        }
      }

      // the parser's per-action star bits, parallel to the action lists
      // (analysis rewrites actions in place, preserving count and
      // order); .lift keeps a count drift from mis-indexing — it just
      // falls back to inference for that action
      val matchedStars = m.getTagValue(MergeStarTag.matched)
      val notMatchedStars = m.getTagValue(MergeStarTag.notMatched)
      val matched = m.matchedActions.zipWithIndex.map { case (a, i) =>
        action(a, evolve = true, matchedStars.flatMap(_.lift(i))) }
      val notMatched = m.notMatchedActions.zipWithIndex.map { case (a, i) =>
        action(a, evolve = true, notMatchedStars.flatMap(_.lift(i))) }
      // not-matched-by-source rows HAVE no source row: an evolved
      // column stays at its (null) default there, never "assigned"
      val nmbs = m.notMatchedBySourceActions.map(
        action(_, evolve = false, starHint = None))
      if ((matched ++ notMatched ++ nmbs).exists(_.isEmpty)) return None
      // inserts must be assignment actions (DeleteAction can't appear in
      // NOT MATCHED; guard anyway)
      val inserts = notMatched.flatten
      if (inserts.exists(_._2.isEmpty)) return None

      for (cond <- rebindCol(m.mergeCondition, names)) yield {
        val spark = v2.underlying.spark
        val sourceDf = GraftPlanBridge.ofRows(spark, src)
        // canonical-upsert scope detection: ON pins the partition column
        // to a source column, and every insert assigns it from the same
        val scopeSrcCol: Option[String] = v2.underlying.partitionColName.flatMap { pc =>
          def conjuncts(e: Expression): Seq[Expression] = e match {
            case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
              conjuncts(l) ++ conjuncts(r)
            case o => Seq(o)
          }
          val sIds = src.output.map(a => a.exprId.id -> a.name).toMap
          val tIds = tOut.filter(_.name.equalsIgnoreCase(pc))
            .map(_.exprId.id).toSet
          conjuncts(m.mergeCondition).collectFirst {
            case EqualTo(a: AttributeReference, b: AttributeReference)
              if tIds.contains(a.exprId.id) && sIds.contains(b.exprId.id) =>
              sIds(b.exprId.id)
            case EqualTo(b: AttributeReference, a: AttributeReference)
              if tIds.contains(a.exprId.id) && sIds.contains(b.exprId.id) =>
              sIds(b.exprId.id)
          }.filter { sc =>
            // every insert's pc assignment is exactly __s_<sc>
            m.notMatchedActions.forall {
              case InsertAction(_, as) => as.exists { asg =>
                asg.key match {
                  case k: AttributeReference if k.name.equalsIgnoreCase(pc) =>
                    asg.value match {
                      case vr: AttributeReference => sIds.get(vr.exprId.id).contains(sc)
                      case _ => false
                    }
                  case _ => false
                }
              }
              case _ => false
            }
          }
        }
        ConvertedMerge(v2, sourceDf, cond, matched.flatten,
          inserts.map { case (c, s) => (c, s.get) }, nmbs.flatten,
          scopeSrcCol, evolve = evolveCols.nonEmpty)
      }
    }
  }
}

/** The rewritten row-level DML statement: a leaf command whose execution
  * runs one GraftTable commit. */
case class GraftRowLevelCommand(label: String, run: () => Unit)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
  override def simpleString(maxFields: Int): String = s"GraftRowLevelCommand $label"
}

/** A maintenance statement that RETURNS rows computed at EXECUTION time
  * — e.g. `VACUUM ... DRY RUN`'s would-delete listing. Deferring the
  * listing into the exec keeps EXPLAIN / plan-only paths side-effect-free
  * and makes the result reflect execution time, not parse time (a parse-
  * time LocalRelation would freeze a stale listing into a cached plan). */
case class GraftStringsCommand(label: String, colName: String,
                               strings: () => Seq[String])
    extends LeafNode with Command {
  override val output: Seq[Attribute] = Seq(AttributeReference(
    colName, org.apache.spark.sql.types.StringType, nullable = false)())
  override def simpleString(maxFields: Int): String =
    s"GraftStringsCommand $label"
}

/** The load-bearing conversion point: experimental/injected strategies
  * are consulted BEFORE Spark's built-in ones, so an `UpdateTable` /
  * `MergeIntoTable` over a graft table plans here instead of hitting
  * BasicOperators' unsupported-operation throw (the optimizer skips user
  * rules over top-level commands, so rewriting at planning is the only
  * hook a runtime-installed extension reliably owns). Non-graft tables
  * and unconvertible statements return Nil — Spark's own error stands. */
object GraftRowCommandStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftRowLevelCommand => GraftRowLevelCommandExec(c.label, c.run) :: Nil
    case c: GraftStringsCommand =>
      GraftStringsCommandExec(c.label, c.output, c.strings) :: Nil
    case UpdateTable(target, assignments, condition) =>
      GraftSqlRowOps.convertUpdate(target, assignments, condition)
        .map(c => GraftRowLevelCommandExec(c.label, c.run) :: Nil).getOrElse(Nil)
    case m: MergeIntoTable =>
      GraftSqlRowOps.convertMerge(m)
        .map(c => GraftRowLevelCommandExec(c.label, c.run) :: Nil).getOrElse(Nil)
    case _ => Nil
  }
}

/** Executes the commit exactly once however the engine drives the plan
  * (collect for eager commands, execute for composed plans). */
case class GraftRowLevelCommandExec(label: String, run: () => Unit)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Unit = run()
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD[InternalRow]
  }
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override def executeTake(n: Int): Array[InternalRow] = { done; Array.empty }
  override def executeTail(n: Int): Array[InternalRow] = { done; Array.empty }
}

/** Executes a [[GraftStringsCommand]]'s listing thunk exactly once, at
  * execution — the rows reflect the table state when the statement RUNS. */
case class GraftStringsCommandExec(label: String, output: Seq[Attribute],
                                   strings: () => Seq[String])
    extends LeafExecNode {
  private lazy val rows: Array[InternalRow] = {
    val proj = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(output, output)
    strings().map(s => proj(InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))).copy()
      : InternalRow).toArray
  }
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows.toIndexedSeq, 1)
  override def executeCollect(): Array[InternalRow] = rows
  override def executeTake(n: Int): Array[InternalRow] = rows.take(n)
  override def executeTail(n: Int): Array[InternalRow] = rows.takeRight(n)
}
