package graft.semantics

import scala.collection.mutable

import graft.mdl._

/** Prunes a manifest to the models/relationships/views transitively reachable from a
  * SQL statement — the reference's manifest extractor
  * (wren-core-py/src/extractor.rs, used at ibis-server/app/mdl/rewriter.py:77-85).
  * Identifier-level matching is sufficient here because model names are plain
  * identifiers; false positives only mean a slightly larger manifest.
  */
object ManifestExtractor {

  def extract(manifest: Manifest, sql: String): Manifest = {
    val idents: Set[String] =
      "[A-Za-z_][A-Za-z_0-9]*".r.findAllIn(sql).map(_.toLowerCase).toSet

    val keepModels = mutable.Set[String]()
    val keepViews = manifest.views.filter(v => idents.contains(v.name.toLowerCase))

    // Seed: models named in the SQL or in any kept view's statement.
    val seedTexts = sql :: keepViews.map(_.statement)
    val seedIdents = seedTexts.flatMap(t =>
      "[A-Za-z_][A-Za-z_0-9]*".r.findAllIn(t).map(_.toLowerCase)).toSet
    manifest.models.foreach(m => if (seedIdents.contains(m.name.toLowerCase)) keepModels += m.name.toLowerCase)

    // Close over relationships used by calculated columns of kept models.
    var changed = true
    while (changed) {
      changed = false
      manifest.models.filter(m => keepModels.contains(m.name.toLowerCase)).foreach { m =>
        m.columns.flatMap(_.relationship).foreach { relName =>
          manifest.relationship(relName).foreach { rel =>
            rel.models.foreach { mm =>
              if (!keepModels.contains(mm.toLowerCase)) { keepModels += mm.toLowerCase; changed = true }
            }
          }
        }
        m.baseObject.foreach { b =>
          if (!keepModels.contains(b.toLowerCase)) { keepModels += b.toLowerCase; changed = true }
        }
      }
    }

    val models = manifest.models.filter(m => keepModels.contains(m.name.toLowerCase))
    val rels = manifest.relationships.filter(r =>
      r.models.forall(m => keepModels.contains(m.toLowerCase)))
    manifest.copy(models = models, relationships = rels, views = keepViews)
  }
}
