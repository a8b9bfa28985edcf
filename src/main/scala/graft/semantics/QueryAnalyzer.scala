package graft.semantics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.json4s._

/** Decision-point query analysis — the legacy engine's `/v2/analysis/sql` surface
  * (`wren-core-legacy .../analyzer/decisionpoint/DecisionPointAnalyzer.java`,
  * served through `ibis-server/app/routers/v2/analysis.py`): decompose a query into
  * the decisions it makes — select items (with function/arithmetic flags), the
  * relation tree (tables, join types, criteria), the filter as an AND/OR tree,
  * group-by keys, and sort items — so a UI or agent can understand a query without
  * executing it.
  *
  * Runs on the PARSED (unresolved) Catalyst plan: analysis never touches data, and
  * table names are still the user-written model names. `exprSources` attribute each
  * column reference to the model it comes from, resolved through the FROM-tree's
  * alias scope (qualifier match, else unique-table fallback).
  */
object QueryAnalyzer {

  def analyze(spark: SparkSession, sql: String): JValue =
    queryAnalysis(spark.sessionState.sqlParser.parsePlan(sql))

  // ------------------------------------------------------------------ structure

  private def queryAnalysis(plan: LogicalPlan): JValue = {
    // collect the clause nodes from the single-query spine
    var sortings: JValue = JArray(Nil)
    var selectItems: JValue = JArray(Nil)
    var groupByKeys: JValue = JArray(Nil)
    var filter: JValue = JNull
    var isSubqueryOrCte = false
    var relation: JValue = JNull

    def aliasScope(p: LogicalPlan): Map[String, String] = p match {
      case SubqueryAlias(ident, child: UnresolvedRelation) =>
        Map(ident.name.toLowerCase -> child.multipartIdentifier.last)
      case r: UnresolvedRelation =>
        val n = r.multipartIdentifier.last
        Map(n.toLowerCase -> n)
      case j: Join => aliasScope(j.left) ++ aliasScope(j.right)
      case other => other.children.map(aliasScope).fold(Map.empty)(_ ++ _)
    }

    def walk(p: LogicalPlan, scope: Map[String, String]): Unit = p match {
      case GlobalLimit(_, child) => walk(child, scope)
      case LocalLimit(_, child) => walk(child, scope)
      case w: UnresolvedWith =>
        isSubqueryOrCte = true
        walk(w.child, scope)
      case Sort(order, _, child, _) =>
        val sc = scope ++ aliasScope(child)
        sortings = JArray(order.toList.map(so => JObject(
          "expression" -> JString(exprSql(so.child)),
          "ordering" -> JString(
            if (so.direction == Ascending) "ASCENDING" else "DESCENDING"),
          "exprSources" -> exprSources(so.child, sc))))
        walk(child, sc)
      case Distinct(child) => walk(child, scope)
      case Aggregate(grouping, aggs, child, _) =>
        val sc = scope ++ aliasScope(child)
        selectItems = JArray(aggs.toList.map(selectItem(_, sc)))
        groupByKeys = JArray(List(JArray(grouping.toList.map(g =>
          JString(exprSql(g))))))
        walk(child, sc)
      case Project(items, child) =>
        val sc = scope ++ aliasScope(child)
        selectItems = JArray(items.toList.map(selectItem(_, sc)))
        walk(child, sc)
      case Filter(cond, child) =>
        val sc = scope ++ aliasScope(child)
        filter = filterAnalysis(cond, sc)
        walk(child, sc)
      case other =>
        relation = relationAnalysis(other, scope ++ aliasScope(other))
    }
    walk(plan, Map.empty)
    JObject(
      "selectItems" -> selectItems,
      "relation" -> relation,
      "filter" -> filter,
      "groupByKeys" -> groupByKeys,
      "sortings" -> sortings,
      "isSubqueryOrCte" -> JBool(isSubqueryOrCte))
  }

  private def selectItem(e: Expression, scope: Map[String, String]): JValue = {
    val (aliasName, body) = e match {
      case Alias(child, name) => (JString(name): JValue, child)
      case UnresolvedAlias(child, _) => (JNull: JValue, child)
      case other => (JNull: JValue, other)
    }
    var hasFn = false
    var hasMath = false
    body.foreach {
      case _: UnresolvedFunction => hasFn = true
      case _: BinaryArithmetic => hasMath = true
      case _: UnaryMinus => hasMath = true
      case _ =>
    }
    JObject(
      "expression" -> JString(exprSql(body)),
      "aliasName" -> aliasName,
      "properties" -> JObject(
        "includeFunctionCall" -> JString(hasFn.toString),
        "includeMathematicalOperation" -> JString(hasMath.toString)),
      "exprSources" -> exprSources(body, scope))
  }

  private def relationAnalysis(p: LogicalPlan, scope: Map[String, String]): JValue =
    p match {
      case SubqueryAlias(ident, child: UnresolvedRelation) => JObject(
        "type" -> JString("TABLE"),
        "alias" -> JString(ident.name),
        "tableName" -> JString(child.multipartIdentifier.last))
      case r: UnresolvedRelation => JObject(
        "type" -> JString("TABLE"),
        "alias" -> JNull,
        "tableName" -> JString(r.multipartIdentifier.last))
      case SubqueryAlias(ident, child) => JObject(
        "type" -> JString("SUBQUERY"),
        "alias" -> JString(ident.name),
        "body" -> JArray(List(queryAnalysis(child))))
      case j: Join =>
        val t = j.joinType match {
          case Inner if j.condition.isEmpty => "IMPLICIT_JOIN"
          case Inner => "INNER_JOIN"
          case LeftOuter => "LEFT_JOIN"
          case RightOuter => "RIGHT_JOIN"
          case FullOuter => "FULL_JOIN"
          case Cross => "CROSS_JOIN"
          case other => other.sql.replace(' ', '_').toUpperCase
        }
        JObject(
          "type" -> JString(t),
          "left" -> relationAnalysis(j.left, scope),
          "right" -> relationAnalysis(j.right, scope),
          "criteria" -> j.condition.map(c =>
            JString(s"ON ${exprSql(c)}"): JValue).getOrElse(JNull),
          "exprSources" -> j.condition.map(exprSources(_, scope))
            .getOrElse(JArray(Nil)))
      case other if other.children.size == 1 =>
        // pass-through nodes (generators, hints, …): analyze the real source
        relationAnalysis(other.children.head, scope)
      case other =>
        // terminal: leaf relations (VALUES / one-row) and exotic multi-child nodes
        JObject("type" -> JString("OTHER"), "alias" -> JNull,
          "node" -> JString(other.nodeName))
    }

  private def filterAnalysis(e: Expression, scope: Map[String, String]): JValue =
    e match {
      case And(l, r) => JObject(
        "type" -> JString("AND"),
        "left" -> filterAnalysis(l, scope),
        "right" -> filterAnalysis(r, scope))
      case Or(l, r) => JObject(
        "type" -> JString("OR"),
        "left" -> filterAnalysis(l, scope),
        "right" -> filterAnalysis(r, scope))
      case other => JObject(
        "type" -> JString("EXPR"),
        "node" -> JString(exprSql(other)),
        "exprSources" -> exprSources(other, scope))
    }

  // ------------------------------------------------------------------ helpers

  /** Column references attributed to their source model via the alias scope. */
  private def exprSources(e: Expression, scope: Map[String, String]): JValue = {
    val refs = scala.collection.mutable.LinkedHashSet[(String, String)]()
    e.foreach {
      case a: UnresolvedAttribute =>
        val ds = a.nameParts.dropRight(1).lastOption.map(_.toLowerCase)
          .flatMap(scope.get)
          .orElse(if (scope.values.toSet.size == 1) scope.values.headOption else None)
        refs += ((a.name, ds.getOrElse("")))
      case _: UnresolvedStar => // star carries no single source column
      case _ =>
    }
    JArray(refs.toList.map { case (expr, ds) => JObject(
      "expression" -> JString(expr),
      "sourceDataset" -> (if (ds.isEmpty) JNull else JString(ds)))
    })
  }

  private def exprSql(e: Expression): String =
    try e.sql catch { case _: Throwable => e.toString }
}
