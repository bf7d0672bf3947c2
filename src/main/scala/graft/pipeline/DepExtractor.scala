package graft.pipeline

import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.execution.SparkSqlParser

/** SQL dependency extraction via the Catalyst parser.
  *
  * The reference walks a sqlparser-rs AST collecting table names from
  * top-level FROM, joins, CTE bodies, and derived tables
  * (/root/reference/src/node.rs:211-272), then intersects with the set of
  * known model ids to drop CTE/alias false positives (src/node.rs:94-98).
  *
  * We parse with Spark's own SQL parser and collect every
  * `UnresolvedRelation` in the logical plan. This walks ALL nesting —
  * set-operation branches, correlated subqueries in WHERE/SELECT, joins
  * inside deeply nested CTEs — which the reference misses (its match arms
  * only descend into `SetExpr::Select`, src/node.rs:223,259,267). Documented
  * divergence: strictly more complete, never less.
  */
object DepExtractor {

  private lazy val parser = new SparkSqlParser()

  /** All table names referenced anywhere in `sql` (last identifier part,
    * lowercased). Unparseable SQL yields the empty set — scheduling then
    * treats the model as independent and surfaces the real error at
    * execution time with full context, like the reference does.
    */
  def tableRefs(sql: String): Set[String] = {
    val plan: LogicalPlan =
      try parser.parsePlan(sql)
      catch { case _: Exception => return Set.empty }
    refsScoped(plan, Set.empty)
  }

  /** Collect relation names, excluding names bound by an in-scope CTE:
    * `WITH x AS (…) SELECT … FROM x` must not depend on a *model* named x
    * that it shadows. Scoping matters — the exclusion applies only within
    * the WITH's own subtree (threaded via `bound`), so a CTE `x` inside a
    * nested subquery does NOT swallow a genuine outer reference to model
    * `x` elsewhere in the statement (a statement-global `refs -- cteNames`
    * did, silently dropping the edge and letting --parallel run the
    * referencer before the model). Multipart names (`db.x`) are never
    * CTE-shadowed. CTE definitions hang off UnresolvedWith.cteRelations,
    * which are innerChildren, not children — and subqueries hang off
    * expressions — so both are recursed explicitly.
    */
  private def refsScoped(plan: LogicalPlan, bound: Set[String]): Set[String] = {
    def exprRefs(p: LogicalPlan, b: Set[String]): Set[String] =
      p.expressions.flatMap(_.collect {
        case sq: SubqueryExpression => refsScoped(sq.plan, b)
      }).flatten.toSet
    plan match {
      case r: UnresolvedRelation =>
        val name = r.multipartIdentifier.last.toLowerCase
        if (r.multipartIdentifier.size == 1 && bound(name)) Set.empty
        else Set(name)
      case w: UnresolvedWith =>
        // all names in one WITH list are bound for every definition in it
        // (covers recursive self-reference and later-def references; the
        // slight over-exclusion for earlier defs matches SQL shadowing
        // close enough for dependency purposes)
        val inner = bound ++ w.cteRelations.map(_._1.toLowerCase)
        w.cteRelations.map(c => refsScoped(c._2, inner))
          .foldLeft(refsScoped(w.child, inner) ++ exprRefs(w, inner))(_ ++ _)
      case other =>
        other.children.map(refsScoped(_, bound))
          .foldLeft(exprRefs(other, bound))(_ ++ _)
    }
  }

  /** Model-level extraction, restricted to known model ids (the
    * reference's false-positive filter, src/node.rs:94-98). Statements
    * are split and LEXICALLY shimmed first, so a multi-statement model —
    * or one written in DuckDB dialect
    * (count(), read_parquet, ASOF JOIN) — still yields its edges instead
    * of failing the whole-source parse and silently scheduling as
    * independent. Statements only the session-aware shim can rewrite
    * (SUMMARIZE <table>) contribute their target via
    * [[DialectShim.statementRefHints]]; statements that stay unparseable
    * (CREATE MACRO, unknown DuckDB-isms) contribute nothing and surface
    * their real error at execution, reference-style.
    */
  def modelRefsInModel(rendered: String, modelIds: Set[String]): Set[String] =
    SqlText.splitStatements(rendered).flatMap { st =>
      val shimmed = try DialectShim.rewrite(st) catch { case _: Exception => st }
      // session-aware-only forms (UNION BY NAME, COLUMNS) survive the
      // lexical rewrite verbatim; parseNormalize flattens them into
      // Catalyst-parseable text that keeps their table references
      val normalized = DialectShim.parseNormalize(shimmed)
      DialectShim.statementRefHints(st) ++ copyQueryRefs(normalized) ++
        macroBodyRefs(st) ++ tableRefs(normalized)
    }.toSet.intersect(modelIds.map(_.toLowerCase))

  /** A table macro's body is a SELECT over other models — the defining
    * statement must contribute those edges even though CREATE MACRO itself
    * never parses. (Scalar macro bodies are expressions; a table name can
    * only appear inside a subquery, which `SELECT <body>` recovers.)
    */
  private def macroBodyRefs(st: String): Set[String] =
    (try DialectShim.macroDefinitionAny(st) catch { case _: Exception => None }) match {
      case Some((_, params, body, isTable)) =>
        val sql = if (isTable) body else s"SELECT $body"
        val shimmed = try DialectShim.rewrite(sql) catch { case _: Exception => sql }
        tableRefs(DialectShim.parseNormalize(shimmed)) -- params.map(_.toLowerCase)
      case None => Set.empty
    }

  /** `COPY (<query>) TO …` and `PIVOT (<query>) ON …` can't be parsed by
    * Catalyst whole, but their inner queries can — a model exporting or
    * pivoting another model's output must still get that edge. (The
    * table-ident forms are covered by statementRefHints; an IN-listed
    * PIVOT rewrites lexically so tableRefs(shimmed) already sees it, and
    * re-adding the same refs here is harmless.)
    */
  private def copyQueryRefs(st: String): Set[String] = {
    val copy = (try DialectShim.copyToTarget(st)
      catch { case _: Exception => None }) match {
      case Some(c) => c.source.fold(_ => Set.empty[String], q => tableRefs(q))
      case None    => Set.empty[String]
    }
    val pivot = (try DialectShim.pivotStatement(st)
      catch { case _: Exception => None }) match {
      case Some(Left(p))  => p.source.fold(_ => Set.empty[String], q => tableRefs(q))
      case Some(Right(u)) => u.source.fold(_ => Set.empty[String], q => tableRefs(q))
      case None           => Set.empty[String]
    }
    copy ++ pivot
  }
}
