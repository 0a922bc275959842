package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ConnectedComponents

/** Entity canonicalization (north_star: "canonicalized with a
  * connected-components union-find over the entity-mention graph";
  * reference SO4: merge mentions whose kb-id sets overlap,
  * `GLRE+KIRE/data_processing/tools.py:192-225`).
  *
  * Per document: mentions are nodes; two mentions are unioned when they
  * share a voted qid or a normalized surface form. The component
  * representative is the lexicographically smallest linked qid in the
  * component (or the NT id when none is linked). Triples are remapped
  * through the representative, then globally deduped (A2).
  *
  * Runs partition-local per document inside mapGroups — the per-doc graph
  * is tiny (≤ max_entity_size nodes, reference caps 42/100), so the union-
  * find never shuffles; only the final dedup does.
  *
  * It only changes a row when linking returns candidate SETS, as KIRE's
  * does. graft's linker resolves every alias to exactly one qid
  * (`Stages.resolveAliasEntries`), so each component holds one qid, the
  * mapping is the identity and `TripleExtraction.run` does not call this;
  * PipelineSpec pins `eid == canonical`, and it fails first if linking
  * ever returns candidate sets. Kept as the library operator for such a
  * linker.
  */
object Canonicalize {

  /** (doc_id, eid, canonical) mapping from the linked-mention table.
    * Mentions sharing (doc, alias) or (doc, qid) collapse to one node. */
  def mapping(linked: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    linked.select(col("doc_id"), col("alias"), col("qid"))
      .as[(Long, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (docId, it) =>
        val pairs = it.map(r => (r._2, r._3)).toSeq.distinct
        // nodes: alias-surface nodes ("a:x") and entity nodes ("q:x")
        val verts = (pairs.map("a:" + _._1) ++ pairs.map("q:" + _._2)).distinct
        val edges = pairs.map { case (a, q) => ("a:" + a, "q:" + q) }
        val comp = ConnectedComponents.unionFindLocal(verts, edges)
        // representative: min qid among the component's entity nodes
        val repByRoot = comp.toSeq.filter(_._1.startsWith("q:"))
          .groupBy(_._2).map { case (root, vs) => root -> vs.map(_._1.stripPrefix("q:")).min }
        pairs.map { case (_, q) => (docId, q, repByRoot(comp("q:" + q))) }.distinct
      }
      .toDF("doc_id", "eid", "canonical")
  }

  /** Remap triples through the canonical mapping, drop self-loops created
    * by merges, dedup. */
  def apply(triples: DataFrame, linked: DataFrame, spark: SparkSession): DataFrame = {
    val m = mapping(linked, spark)
    triples
      .join(m.select(col("doc_id"), col("eid").as("subj"), col("canonical").as("c_subj")),
        Seq("doc_id", "subj"))
      .join(m.select(col("doc_id"), col("eid").as("obj"), col("canonical").as("c_obj")),
        Seq("doc_id", "obj"))
      .filter(col("c_subj") =!= col("c_obj"))
      .select(col("doc_id"), col("c_subj").as("subj"), col("pred"), col("c_obj").as("obj"))
      .distinct()
  }
}
