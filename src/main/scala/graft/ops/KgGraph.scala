package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph queries over the constructed KG — the consumer-side operators a
  * corpus-scale triple store serves (neighborhood expansion, ontology
  * closure, sameAs canonicalization). The reference touches the KB only as
  * per-document one-hop context (`gen_kg_data.py` subgraph fetch); a
  * 10^12-document build also queries the FUSED graph it produced.
  *
  * All three operators share the repo's determinism contract: results are
  * pure functions of the edge set (set semantics, min-reductions, fixed or
  * fixpoint iteration counts), so the DuckDB oracles replay them exactly.
  */
object KgGraph {

  /** Default hop budget for [[kHop]] (mirrored in the oracle unroll). */
  val DefaultHops = 3

  /** The hierarchy relation the closure query runs on — 'part of'
    * (`kb.Gazetteer.relRules` MISC→MISC; a real DocRED/Wikidata pid). */
  val HierarchyPred = "P361"

  /** The KB merge-evidence relation — 'said to be the same as'
    * (`kb.Gazetteer.kgTriples` P460 edges). */
  val SameAsPred = "P460"

  /** Fixpoint guard for [[transitiveClosure]]: path DOUBLING squares the
    * reachable path length per round, so 16 rounds cover diameter 2^16 —
    * a graph that has not converged by then is not a hierarchy and the
    * caller must be told, not handed a silent underapproximation. */
  val MaxDoublings = 16

  /** Min-hop BFS from `seeds` (column `v`) over directed `edges`
    * (columns `src`, `dst`): returns (v, hop) with hop = the FIRST hop at
    * which v is reached (seeds at hop 0), up to `maxHops`.
    *
    * Scale shape per hop: one equi-join of the frontier against edges on
    * the uniform src key + one distinct + one left-anti against the
    * visited set — all key-partitioned, no windows; the frontier is
    * localCheckpoint'd so lineage stays flat. A hub vertex fans out
    * map-side; the visited anti-join keeps the frontier monotone shrinking
    * on re-reached vertices. */
  /** One-task edge ceiling for [[kHop]]'s exact local twin (the
    * ConnectedComponents.adaptive pattern; `SPARK_GRAFT_KHOP_LOCAL_LIMIT`).
    * Output is bounded by the vertex set, so an input-size guard bounds
    * the task. */
  val LocalHopLimit: Long =
    sys.env.get("SPARK_GRAFT_KHOP_LOCAL_LIMIT").map(_.toLong).getOrElse(1000000L)

  def kHop(edges0: DataFrame, seeds: DataFrame, maxHops: Int = DefaultHops,
           localLimit: Long = LocalHopLimit): DataFrame = {
    require(maxHops >= 0, s"KgGraph.kHop: maxHops must be >= 0, got $maxHops")
    val edges = edges0.select(col("src"), col("dst")).distinct().cache()
    try {
      // size-adaptive: a small graph runs the whole BFS in one task (same
      // min-hop semantics, KgGraphSpec-pinned) instead of maxHops ×
      // (join + distinct + anti-join + checkpoint) barriers
      if (edges.schema("src").dataType == org.apache.spark.sql.types.StringType
          && edges.count() <= localLimit)
        return kHopLocal(edges, seeds, maxHops)
      var visited = seeds.select(col("v")).distinct()
        .withColumn("hop", lit(0)).localCheckpoint()
      var frontier = visited.select(col("v"))
      for (h <- 1 to maxHops) {
        val next = edges.join(frontier.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("dst").as("v")).distinct()
          .join(visited.select(col("v")), Seq("v"), "left_anti")
          .withColumn("hop", lit(h))
        visited = visited.unionAll(next).localCheckpoint()
        frontier = next.select(col("v"))
      }
      visited
    } finally edges.unpersist()
  }

  /** The small-graph branch of [[kHop]]: edges and seeds into one task,
    * plain BFS with min-hop labels — identical rows to the iterative
    * frontier expansion. Eagerly checkpointed (the caller unpersists the
    * edge cache on return). Seed rows ride in the same union tagged by a
    * null dst. */
  private def kHopLocal(edges: DataFrame, seeds: DataFrame,
                        maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val tagged = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(seeds.select(col("v").cast("string").as("a"),
        lit(null).cast("string").as("b")))
      .as[(String, String)]
    tagged.groupByKey(_ => 0).flatMapGroups { (_, it) =>
      val adj = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[String]]
      val seedSet = scala.collection.mutable.LinkedHashSet.empty[String]
      it.foreach {
        case (a, null) => seedSet += a
        case (a, b) =>
          adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      }
      val hop = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      seedSet.foreach(v => hop.update(v, 0))
      var frontier: Iterable[String] = seedSet
      var h = 1
      while (h <= maxHops && frontier.nonEmpty) {
        val next = scala.collection.mutable.LinkedHashSet.empty[String]
        frontier.foreach(v => adj.get(v).foreach(_.foreach { d =>
          if (!hop.contains(d)) next += d
        }))
        next.foreach(v => hop.update(v, h))
        frontier = next
        h += 1
      }
      hop.iterator.map { case (v, hh) => (v, hh) }
    }.toDF("v", "hop").localCheckpoint(true)
  }

  /** Transitive closure of a directed edge set via PATH DOUBLING: each
    * round unions reach ∘ reach, squaring the covered path length, so a
    * depth-d hierarchy closes in O(log d) self-joins instead of d frontier
    * steps. Raises if `MaxDoublings` rounds do not reach the fixpoint.
    *
    * Intended for HIERARCHICAL relations (subclass-of / part-of ladders)
    * whose closure is |V|·depth-bounded; on a dense cyclic graph the
    * closure is O(|component|²) by definition — the caller chooses the
    * relation, the guard reports non-convergence. Cycles are legal: a
    * vertex on a cycle reaches itself and the pair (v, v) is emitted,
    * matching the relational closure semantics the oracle replays. */
  def transitiveClosure(edges0: DataFrame): DataFrame = {
    var reach = edges0.select(col("src"), col("dst")).distinct().localCheckpoint()
    var n = reach.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < MaxDoublings) {
      val composed = reach.select(col("src"), col("dst").as("mid"))
        .join(reach.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .select(col("src"), col("dst"))
      val next = reach.unionAll(composed).distinct().localCheckpoint()
      val m = next.count()
      converged = m == n // monotone union: equal cardinality == no new pairs
      reach = next; n = m; rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"transitiveClosure: no fixpoint after $MaxDoublings doublings " +
          "(path length 2^16) — the relation is not hierarchy-shaped")
    reach
  }

  /** Degree buckets are powers of two up to 2^MaxDegBucket — the same
    * log2-ladder family as the dis2idx buckets (M1), generated as an
    * explicit integer CASE ladder so NO floating log enters the contract
    * (libm rounding differs across engines; a threshold ladder cannot). */
  val MaxDegBucket = 40

  /** Degree at or above which an entity goes on the hot list — the seed
    * set for `ops.Skew.saltedJoin`'s salting and for review triage. */
  val HotDegreeThreshold = 16L

  /** Integer log2 bucket: 0 for deg 1, k for 2^k ≤ deg < 2^(k+1). */
  private def log2Bucket(deg: Column): Column =
    (1 to MaxDegBucket).foldLeft(lit(0)) { (acc, k) =>
      when(deg >= (1L << k), lit(k)).otherwise(acc)
    }

  /** Per-entity degree profile of the KG — the hub/skew census a corpus
    * build runs right after fusing: out/in/total degree, the log2 degree
    * bucket (histogram-ready), and the hot flag that seeds the salted
    * joins ("human", countries — the entities that would single-task a
    * shuffle). Two map-side-combinable groupBys + one full-outer SMJ on
    * the uniform vertex key; the hub itself is ONE row after partial
    * aggregation, which is the point. */
  def degreeProfile(edges0: DataFrame): DataFrame = {
    // eager checkpoint: the out- and in-degree aggregations are SEPARATE
    // plans over the edge set — sever the upstream lineage so the producer
    // runs once, not once per side of the full-outer join
    val edges = edges0.select(col("src"), col("dst")).distinct().localCheckpoint()
    val out = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("v")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("deg", col("out_deg") + col("in_deg"))
      .withColumn("bucket", log2Bucket(col("deg")))
      .withColumn("is_hot", (col("deg") >= HotDegreeThreshold).cast("int"))
  }

  /** The canonical mapping of owl:sameAs-style entity canonicalization:
    * (v, comp) for every entity in a sameAs clique (columns `a`, `b`,
    * undirected), comp = the component's MIN qid (deterministic total
    * order). Components come from [[ConnectedComponents.adaptive]]. */
  def sameAsCanon(sameAs: DataFrame): DataFrame = {
    val verts = sameAs.select(col("a").as("v")).union(sameAs.select(col("b").as("v")))
      .distinct().select(lit("g").as("scope"), col("v"))
    val edges = sameAs.select(lit("g").as("scope"), col("a").as("src"), col("b").as("dst"))
    // size-adaptive: sameAs cliques are KB-scale (dictionary-sized), so the
    // exact one-task union-find usually applies — identical min-qid labels,
    // none of the per-iteration join/checkpoint barriers; oversized graphs
    // fall back to the pointer-jumping propagation unchanged
    ConnectedComponents.adaptive(verts, edges)
      .select(col("v"), col("comp"))
  }

  /** Remap the `subj` and `obj` of every row through the [[sameAsCanon]]
    * mapping, keeping the row's other columns and their order, and drop
    * merge-created self-loops. The remap is two left equi-joins on the
    * uniform qid key — entities outside any sameAs clique pass through via
    * coalesce, so the mapping table stays |sameAs|-sized, never
    * |entities|-sized. The snapshot build and q_kg_pipeline remap
    * per-document rows BEFORE fusing: canonicalize-then-fuse merges the
    * evidence of aliases into one support count, the production order. */
  def sameAsRemap(rows: DataFrame, sameAs: DataFrame): DataFrame = {
    val canon = sameAsCanon(sameAs)
    rows
      .join(canon.select(col("v").as("subj"), col("comp").as("c_subj")), Seq("subj"), "left")
      .join(canon.select(col("v").as("obj"), col("comp").as("c_obj")), Seq("obj"), "left")
      .select(rows.columns.toSeq.map {
        case c @ ("subj" | "obj") => coalesce(col(s"c_$c"), col(c)).as(c)
        case c => col(c)
      }: _*)
      .filter(col("subj") =!= col("obj"))
  }

  /** Corpus-level entity canonicalization of a (subj, pred, obj) triple
    * table: [[sameAsRemap]], then duplicates collapsed. This is where
    * graft's union-find canonicalize does real work; the per-document
    * [[graft.pipeline.Canonicalize]] is the identity under graft's
    * one-qid-per-alias linker. */
  def sameAsMerge(triples: DataFrame, sameAs: DataFrame): DataFrame =
    sameAsRemap(triples.select("subj", "pred", "obj"), sameAs).distinct()
}
