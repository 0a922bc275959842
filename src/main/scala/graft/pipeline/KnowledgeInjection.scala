package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kb.Gazetteer

/** The knowledge-injection layer: KG structure (one-hop edges + shared
  * neighborhood), entity attributes, and coref statistics FUSED into the
  * relation classifier's features — one mapPartitions kernel
  * (`extractInjectedFused`) re-expressing KIRE's core thesis
  * (`ATLOP+KIRE/knowledge_injection_layer/aggregation.py:6-127` fuses
  * KG-attribute/KG-structure/coref encodings into the pair representation;
  * adjacency from `kg_data_loader.py:125-153`, attr encoder
  * `kg_encoder.py:68-116`, coref distillation `coref_triple_enc.py:8-88`).
  *
  * All feature weights are INTEGER milli-logits, so the adaptive-threshold
  * decode (logit > 0, top-4 by (−logit, relation)) is bit-exactly
  * reproducible by integer SQL — the DuckDB oracle replays the full
  * 96-relation logit computation, not a shortcut.
  *
  * PAIR ADMISSION (the reach model): a pair enters scoring if it co-occurs
  * in a sentence (n_cooc ≥ 1 — the rule path's textual reach) OR has a
  * direct KB edge (any distance — KIRE's long-range case: knowledge, and
  * only knowledge, extends reach beyond the sentence). The type-rule base
  * fires only on co-occurrence (the type pattern is textual evidence);
  * cross-sentence pairs can clear the threshold solely through the KB-edge
  * weight, with the distance buckets penalizing far pairs.
  *
  * Weight design (fixture): a rule-sanctioned (hType, tType, rel) with
  * co-occurrence scores +2000, everything else −2000. The soft features
  * (distance ≥ −450, co-occurrence ≤ 1000, neighbors ≤ 600, coref ≤ 160,
  * attrs ≤ 100) can never flip a base sign on their own (max soft sum
  * 1860 < 2000; the distance term only penalizes), while a DIRECT KB edge
  * contributes +4500 to its suggested relation (−2000 − 450 + 4500 > 0 at
  * any distance) — KG evidence, and only KG evidence, flips decodes.
  * Injected output = rule-path triples ∪ KB-evidenced triples, CAPPED at
  * top-4 logits per pair (the reference's unconditional decode cap,
  * `ATLOP+KIRE/losses.py:32-42`): a co-occurring pair with ≥4 distinct
  * KB-suggested relations (each +4500 > the rule's +2000 base margin)
  * evicts its rule triple from the top-4 — reference-faithful, and pinned
  * explicitly in InjectionSpec's eviction case. InjectionSpec also pins
  * each feature's weight with exact milli-logits on one-doc pages, and the
  * q_injected_triples oracle replays the decode over the whole corpus.
  */
object KnowledgeInjection {

  /** Version token for caches that bake in this kernel's SEMANTICS (e.g.
    * Scaling.materializedTriples): bump on any change to what the injected
    * kernel extracts, so stale /tmp materializations invalidate. */
  val KernelVersion = 1

  // integer milli-logit weights — shared verbatim with the oracle SQL
  val WBase = 2000
  val WDist = -50 // per log2 distance bucket (0..9)
  val WCoocUnit = 100; val CoocCap = 10
  val WDirect = 4500 // per suggested relation with a direct KB edge h→t
  val WNbrUnit = 150; val NbrCap = 4 // shared KB neighbors of (h, t)
  val WCorefUnit = 10; val CorefCap = 8 // coref partner counts (W1 top-8)
  val WAttr = 100 // same instance-of class (attr-encoder distillation)

  /** Hard ceiling on a per-(doc, entity) one-hop neighbor SET: the
    * MaxNbrSet lexicographically-smallest neighbors (deterministic, so
    * partition-invariant and SQL-replayable). A hub entity (a country,
    * "human") has 10⁵–10⁷ one-hop KB neighbors; an unbounded collect_set
    * would build that row in one agg buffer and carry it into every pair
    * of every doc mentioning the hub. The shared-neighbor feature is
    * capped at NbrCap = 4 anyway, so the bounded sets only need to witness
    * ≥ 4 shared elements; with both endpoints keeping their 1000 smallest,
    * an undercount requires > MaxNbrSet − NbrCap non-shared neighbors
    * lexicographically below a shared one on BOTH sides simultaneously —
    * and the DuckDB oracle replays the same bound, so the semantics are
    * pinned, not approximated away. */
  val MaxNbrSet = 1000

  case class InjectedFeature(doc_id: Long, h_qid: String, h_type: String,
                             t_qid: String, t_type: String,
                             min_sent_dist: Int, n_cooc: Long,
                             evidence: Seq[Int], sugg_rels: Seq[String],
                             shared_nbrs: Int, h_coref: Int, t_coref: Int,
                             same_inst: Int)

  case class InjScoredTriple(doc_id: Long, subj: String, pred: String,
                             obj: String, score_milli: Long, evidence: Seq[Int])

  /** Compiled integer weight tables: one base array per (hType, tType)
    * aligned with the relation vocabulary — the 96-class loop is a flat
    * integer array walk, not 96 tuple-keyed map probes per pair. */
  private[graft] case class CompiledInj(rels: Array[String],
      relIdx: Map[String, Int], base: Map[(String, String), Array[Long]],
      default: Array[Long], ruleIdx: Map[(String, String), Array[Int]])

  private[graft] def compileInj(): CompiledInj = {
    val relsArr = RelationScorer.relations.toArray
    val ruleSet = Gazetteer.relRules.toSet
    val types = graft.kb.DocREDVocab.nerTypes
    val baseMap: Map[(String, String), Array[Long]] =
      (for { h <- types; t <- types } yield (h, t) ->
        relsArr.map(r => if (ruleSet.contains((h, t, r))) WBase.toLong else -WBase.toLong)).toMap
    val ruleIdxMap = baseMap.map { case (k, b) =>
      k -> b.indices.filter(b(_) > 0L).toArray
    }
    CompiledInj(relsArr, relsArr.zipWithIndex.toMap, baseMap,
      relsArr.map(_ => -WBase.toLong), ruleIdxMap)
  }

  private val EmptyIdx = Array.empty[Int]

  /** The 96-class injected decode for one pair (soft features + direct-edge
    * bonus + adaptive threshold + top-4 cap).
    *
    * CANDIDATE PRUNING (exact, not approximate): a relation can clear the
    * adaptive threshold only through a +WBase rule base (requires n_cooc
    * ≥ 1) or a +WDirect suggested-edge bonus — every other logit is at most
    * −WBase + maxSoft, and maxSoft < WBase is a STATIC property of the
    * capped weight design (pinned in InjectionSpec "weight design"). So the
    * decode walks ruleIdx ∪ suggIdx (typically ≤ 3 entries) instead of all
    * 96 classes, emitting exactly the same triples. */
  private[graft] def decodeInjectedPair(cw: CompiledInj, p: InjectedFeature)
      : Seq[InjScoredTriple] = {
    val soft = (WDist * RelationScorer.disBucket(p.min_sent_dist) +
      WCoocUnit * math.min(p.n_cooc, CoocCap.toLong).toInt +
      WNbrUnit * math.min(p.shared_nbrs, NbrCap) +
      WCorefUnit * (math.min(p.h_coref, CorefCap) + math.min(p.t_coref, CorefCap)) +
      WAttr * p.same_inst).toLong
    // the type-rule base is textual evidence — it fires only when the
    // pair actually co-occurs in a sentence
    val coocOk = p.n_cooc >= 1
    val b = if (coocOk) cw.base.getOrElse((p.h_type, p.t_type), cw.default)
            else cw.default
    val ruleIs = if (coocOk) cw.ruleIdx.getOrElse((p.h_type, p.t_type), EmptyIdx)
                 else EmptyIdx
    // distinct: the kernel emits set-valued sugg_rels, but a hand-built
    // feature row may not — a duplicated suggestion must not emit twice
    // nor burn top-4 slots
    val suggIs = if (p.sugg_rels.isEmpty) EmptyIdx
                 else p.sugg_rels.iterator.flatMap(cw.relIdx.get).toArray.distinct
    // single-candidate fast path (one rule relation, no suggestion — the
    // common case): no buffer, no sort
    if (suggIs.isEmpty && ruleIs.length == 1) {
      val i = ruleIs(0)
      val s = b(i) + soft
      return if (s > 0L)
        Seq(InjScoredTriple(p.doc_id, p.h_qid, cw.rels(i), p.t_qid, s, p.evidence))
      else Nil
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var k = 0
    while (k < ruleIs.length) {
      val i = ruleIs(k)
      if (!suggIs.contains(i)) { // counted once; the sugg walk adds its bonus
        val s = b(i) + soft
        if (s > 0L) buf += ((cw.rels(i), s))
      }
      k += 1
    }
    k = 0
    while (k < suggIs.length) {
      val i = suggIs(k)
      val s = b(i) + soft + WDirect.toLong
      if (s > 0L) buf += ((cw.rels(i), s))
      k += 1
    }
    buf.sortBy { case (r, l) => (-l, r) }
      .take(RelationScorer.MaxLabels)
      .map { case (r, l) => InjScoredTriple(p.doc_id, p.h_qid, r, p.t_qid, l, p.evidence) }
      .toSeq
  }

  /** ZERO-SHUFFLE fused injected extraction: pages → mentions → link →
    * entity knowledge → pair features → 96-class injected decode, one
    * mapPartitions pass per document — the injected twin of
    * `RelationScorer.extractKernelFused`. q_injected_triples checks it
    * against the oracle; the job's only exchange is the sink's.
    *
    * The KB rides as THREE broadcast maps built from the Gazetteer
    * constants: undirected adjacency (one-hop neighbor sets), the directed
    * suggested-relation map (KB edges ∘ kbRel2rel), and the instance-of
    * attribute map. Per doc, `Enrich.oneHop`'s visibility rule (an edge
    * is in the subgraph iff either endpoint is a non-TIME doc entity)
    * reduces in-kernel to: a non-TIME entity keeps its FULL KB
    * neighborhood, a TIME entity only neighbors that are non-TIME doc
    * entities, and a pair sees its direct edges unless BOTH endpoints are
    * TIME. At 10^12 docs the same shape holds with the KB maps swapped from
    * plan literals to torrent-broadcast variables (the sort-merge path
    * `Enrich.attachAttributesLarge` covers the KB-too-big case).
    *
    * PRECONDITION (all fused kernels): unique doc_id per input row. */
  def extractInjectedFused(pages: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val byFirstB = spark.sparkContext.broadcast(Stages.kernelDict)
    val adj: Map[String, Set[String]] = {
      val m = scala.collection.mutable.Map.empty[String, Set[String]]
      Gazetteer.kgTriples.foreach { case (h, _, t) =>
        m(h) = m.getOrElse(h, Set.empty[String]) + t
        m(t) = m.getOrElse(t, Set.empty[String]) + h
      }
      m.toMap
    }
    val r2r = Gazetteer.kbRel2rel.toMap
    val sugg: Map[(String, String), Seq[String]] =
      Gazetteer.kgTriples
        .flatMap { case (h, r, t) => r2r.get(r).map(x => (h, t) -> x) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
    // instance-of resolution == Enrich.resolvedAttrs: MAX text per qid,
    // default 'entity'
    val instMap: Map[String, String] =
      Gazetteer.kgAttrs.filter(_._2 == "instance of")
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._3).max }
    val kbB = spark.sparkContext.broadcast((adj, sugg, instMap, compileInj()))
    pages.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val byFirst = byFirstB.value
        val (adjM, suggM, instM, cw) = kbB.value
        it.flatMap { case (docId, text) =>
          val ments = Stages.docMentions(text.split(" ", -1), byFirst)
          val arr = RelationScorer.docEntityTable(ments)
          val docents = arr.iterator.filter(_.tpe != "TIME").map(_.qid).toSet
          // per-entity knowledge, hoisted out of the k² pair loop; the
          // doc-scoped neighborhood gets the SAME MaxNbrSet smallest-first
          // bound as the oracle (and as `BoundedMinSet` in KgFusion), so
          // hub entities agree too
          val nbrs = arr.map { e =>
            val scoped = {
              val full = adjM.getOrElse(e.qid, Set.empty[String])
              if (e.tpe != "TIME") full else full.intersect(docents)
            }
            if (scoped.size <= MaxNbrSet) scoped
            else scoped.toArray.sorted.take(MaxNbrSet).toSet
          }
          // coref partner count (W1 distillation, ENTITY-keyed per
          // gen_coref_data.py:148-188): all positions of the qid's aliases
          // pair, so each mention has min(n_qid_mentions − 1, CorefCap)
          // partners — the sent-id multiset length IS the mention count
          val coref = arr.map(e => math.min(e.sents.length - 1, CorefCap))
          val instA = arr.map(e => instM.getOrElse(e.qid, "entity"))
          val out = scala.collection.mutable.ArrayBuffer.empty[InjScoredTriple]
          var i = 0
          while (i < arr.length) {
            val h = arr(i)
            var j = 0
            while (j < arr.length) {
              if (i != j) {
                val t = arr(j)
                val cooc = RelationScorer.coocCount(h.sents, t.sents)
                // direct edges are invisible only when BOTH endpoints are
                // TIME (neither endpoint in the one-hop docents set)
                val suggRels =
                  if (h.tpe == "TIME" && t.tpe == "TIME") Nil
                  else suggM.getOrElse((h.qid, t.qid), Nil)
                // candidate pre-gate (exact): an admitted pair with no rule
                // for its type pair and no suggested relation decodes
                // NOTHING (every logit ≤ −WBase + maxSoft < 0), so skip the
                // evidence/feature/decode allocations entirely — the common
                // case for non-rule type pairs
                val hasRule = cooc >= 1 &&
                  cw.ruleIdx.getOrElse((h.tpe, t.tpe), EmptyIdx).nonEmpty
                if (hasRule || suggRels.nonEmpty) {
                  val msd = RelationScorer.minSentDist(h.sents, t.sents)
                  val ev = RelationScorer.evidenceOf(h.sents, t.sents)
                  // membership count over the smaller set — no intersection
                  // Set allocated per pair
                  val (sm, bg) = if (nbrs(i).size <= nbrs(j).size) (nbrs(i), nbrs(j))
                                 else (nbrs(j), nbrs(i))
                  var shared = 0
                  sm.foreach(z =>
                    if (z != h.qid && z != t.qid && bg.contains(z)) shared += 1)
                  out ++= decodeInjectedPair(cw, InjectedFeature(
                    docId, h.qid, h.tpe, t.qid, t.tpe, msd, cooc, ev, suggRels,
                    shared, coref(i), coref(j),
                    if (instA(i) == instA(j)) 1 else 0))
                }
              }
              j += 1
            }
            i += 1
          }
          out.iterator
        }
      }.toDF()
  }
}
