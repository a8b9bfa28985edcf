package graft.semantics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

import graft.mdl.Manifest
import graft.planner.GraftException

/** Model substitution (A13): rewrite SQL written against *physical* table names into
  * the corresponding model names, so BI SQL generated for the raw warehouse runs
  * against the governed models instead (`ibis-server/app/mdl/substitute.py:14-124`).
  *
  * Spark-first mechanism: parse with the session's SQL parser, transform
  * `UnresolvedRelation` nodes by a tableReference→model map, and hand the rewritten
  * logical plan back to the session — no string surgery on the SQL text.
  */
object Substitution {

  /** tableReference (dotted + bare) → model names; ambiguity is detected at use. */
  private def tableMap(manifest: Manifest): Map[String, List[String]] = {
    val pairs = manifest.models.flatMap { m =>
      m.tableReference.toList.flatMap { tr =>
        val keys = List(tr.dotted.toLowerCase) ++
          (if (tr.dotted != tr.table) List(tr.table.toLowerCase) else Nil)
        keys.map(_ -> m.name)
      }
    }
    pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct.toList }
  }

  /** Substitute physical names in `sql`; names that match no model (CTEs, model names
    * themselves, temp views) pass through untouched. Throws on ambiguity —
    * two models over the same physical table (substitute.py raises likewise).
    */
  def substitute(spark: SparkSession, manifest: Manifest, sql: String): LogicalPlan = {
    val byTable = tableMap(manifest)
    val modelNames = manifest.models.map(_.name.toLowerCase).toSet
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    // CTE names shadow physical tables in their scope; never rewrite them.
    val cteNames = parsed.collect { case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase) }
      .flatten.toSet
    parsed.transformUp {
      case r: UnresolvedRelation =>
        val key = r.multipartIdentifier.map(_.toLowerCase).mkString(".")
        val bare = r.multipartIdentifier.last.toLowerCase
        if (modelNames.contains(bare) || cteNames.contains(bare)) r
        else byTable.get(key).orElse(byTable.get(bare)) match {
          case Some(one :: Nil) => UnresolvedRelation(Seq(one))
          case Some(many) => throw new GraftException(
            s"table '$key' is ambiguous: models ${many.mkString(", ")} all reference it")
          case None => r
        }
    }
  }
}
