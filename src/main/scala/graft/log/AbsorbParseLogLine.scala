package graft.log

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{IntegerType, StringType}

/** `parse_log_line(line, p)` over a default `log` read, matched once per
  * line in the reader. The default read runs `(.*)` over every line, and
  * the SQL above it matched `p` again in each operator that computed the
  * call: in `sqlpath_app`'s plan, once in the filter and once or twice in
  * the projection (`dev/SCAN_PROFILE.md`). The reference matches one regex
  * per line (`LogRecordReader.java:224-225`); so does this rewrite.
  *
  * It fires on `Project(Filter*(relation))` when the relation is a batch
  * `log` read of the default pattern `(.*)` (one VARCHAR `line`,
  * PERMISSIVE, UTF-8, no `lineSep`, no `recordStartPattern`) and the
  * project and filters read `line` only as `parse_log_line(line, p)`, for
  * one `p`, and never read `unmatched_lines`; path and partition columns
  * may be read freely. The relation becomes a read of `p` with one
  * internal VARCHAR field per group, under the budget and error text the
  * call captured at analysis, matching `p` only inside the span `(.*)`
  * would have captured (`LinePattern`'s `dotSpan`). Then, with `g` the
  * call:
  *   - `isnotnull(g)` / `isnull(g)` become `unmatched_lines IS NULL` /
  *     `IS NOT NULL`, which the reader claims;
  *   - `g[i]`, for a literal `i` in range, becomes field `i + 1`, so the
  *     scan converts only the fields read;
  *   - any other `g` becomes `If(unmatched_lines IS NULL, array(f1..fn),
  *     null)` (an out-of-range `g[i]` keeps its ANSI error).
  * When the project's parent is a Project or an Aggregate, the same three
  * forms are rewritten there too, over the project's alias of `g`.
  *
  * Every row is the same: a `(.*)` read never leaves `line` null nor fills
  * `unmatched_lines`, a field of an unmatched line is null, and an
  * unparticipating group is null in both. Spark's own
  * `spark.sql.optimizer.excludedRules` switches it off.
  */
object AbsorbParseLogLine extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case parent @ (_: Project | _: Aggregate) if parent.children.head.isInstanceOf[Project] =>
      Absorb(parent.children.head.asInstanceOf[Project]).fold(parent)(_.under(parent))
    case p: Project => Absorb(p).fold[LogicalPlan](p)(_.project)
  }

  /** Internal field names of an absorbed read. */
  private def fieldName(i: Int): String = s"__g$i"

  private object Absorb {
    def apply(p: Project): Option[Absorb] = {
      def peel(plan: LogicalPlan): (Seq[Expression], LogicalPlan) = plan match {
        case Filter(c, child) => val (cs, leaf) = peel(child); (c +: cs, leaf)
        case leaf => (Nil, leaf)
      }
      val (conds, leaf) = peel(p.child)
      leaf match {
        case rel: DataSourceV2Relation if isDefaultRead(rel) =>
          val Seq(line, unmatched) = rel.output.take(2)
          val exprs = p.projectList ++ conds
          def onLine(x: ParseLogLine) = x.child.semanticEquals(line)
          val calls = exprs.flatMap(_.collect { case x: ParseLogLine if onLine(x) => x })
          val rest = exprs.map(_.transformDown {
            case x: ParseLogLine if onLine(x) => Literal(null, x.dataType)
          })
          val tbl = rel.table.asInstanceOf[LogTable]
          val n = calls.headOption.fold(0)(_.groupCount)
          val clash = tbl.opts.pathFields.exists { case (name, _) =>
            (1 to n).exists(i => fieldName(i).equalsIgnoreCase(name))
          }
          if (calls.map(_.pattern).distinct.size != 1 || n == 0 || clash ||
              rest.exists(e => e.references.contains(line) || e.references.contains(unmatched))) None
          else Some(new Absorb(p, conds, rel, tbl, line, calls.head, n))
        case _ => None
      }
    }

    private def isDefaultRead(rel: DataSourceV2Relation): Boolean = rel.table match {
      case t: LogTable if !rel.isStreaming =>
        val o = t.opts
        o.pattern == LogOptions.DefaultPattern && o.absorbedDesc.isEmpty &&
          t.schema() == o.schema && o.schema.head.dataType == StringType &&
          rel.output.map(_.name) == o.schema.fieldNames.toSeq &&
          !o.failFast && !o.dropMalformed && o.recordStartPattern.isEmpty &&
          o.lineSep.isEmpty && Charset.forName(o.encoding) == StandardCharsets.UTF_8
      case _ => false
    }
  }

  private final class Absorb(
      p: Project,
      conds: Seq[Expression],
      rel: DataSourceV2Relation,
      tbl: LogTable,
      line: Attribute,
      call: ParseLogLine,
      n: Int) {

    private val opts = tbl.opts.copy(
      pattern = call.pattern,
      fieldNames = (1 to n).map(fieldName),
      dataTypes = Seq.fill(n)("VARCHAR"),
      regexMaxSteps = call.maxSteps,
      regexBudgetExplicit = false,
      absorbedDesc = Some(call.desc))
    private val fields: Seq[AttributeReference] = opts.schema.take(n + 1)
      .map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    private val unmatched = fields.last
    private val groups = fields.init
    private val relation = rel.copy(
      table = new LogTable(opts.schema, opts, tbl.paths),
      output = fields ++ rel.output.drop(2)) // path columns keep their ids

    private def ours(e: Expression) = e match {
      case x: ParseLogLine => x.child.semanticEquals(line)
      case _ => false
    }

    /** `e` over the absorbed read, where `isG` tells a `g`; `bare` also
      * rewrites a `g` read in none of the three claimed forms. */
    private def rewrite(e: Expression, isG: Expression => Boolean, bare: Boolean): Expression =
      e.transformDown {
        case IsNotNull(g) if isG(g) => IsNull(unmatched)
        case IsNull(g) if isG(g) => IsNotNull(unmatched)
        case GetArrayItem(g, Literal(i: Int, IntegerType), _) if isG(g) && i >= 0 && i < n => groups(i)
        case g if bare && isG(g) => If(IsNull(unmatched), CreateArray(groups), Literal(null, g.dataType))
      }

    def project: Project = {
      def rw(e: Expression) = rewrite(e, ours, bare = true)
      val child = conds.foldRight[LogicalPlan](relation)((c, in) => Filter(rw(c), in))
      Project(p.projectList.map(rw(_).asInstanceOf[NamedExpression]), child)
    }

    /** `parent` of the project over the absorbed read, its reads of the
      * project's `g` aliases rewritten as the project's are. */
    def under(parent: LogicalPlan): LogicalPlan = {
      val aliases = p.projectList.collect { case a @ Alias(g, _) if ours(g) => a.exprId }.toSet
      val top = parent.mapExpressions(rewrite(_, {
        case a: Attribute => aliases(a.exprId)
        case _ => false
      }, bare = false))
      val below = project
      val extra = fields.filter(f => top.references.contains(f) && !below.outputSet.contains(f))
      top.withNewChildren(Seq(below.copy(projectList = below.projectList ++ extra)))
    }
  }
}
