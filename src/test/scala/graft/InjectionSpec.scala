package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kb.{DocREDVocab, Gazetteer}
import graft.pipeline.{KnowledgeInjection => KI, RelationScorer}
import graft.sources.Pages

/** The knowledge-injection kernel: KG/attr/coref features must actually
  * change decodes (no dataflow-dead enrichment) — each pinned with exact
  * milli-logits on a one-doc page — and the weight design must guarantee
  * that ONLY KB evidence can flip a base sign. */
class InjectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sfDir = "/root/testdata/sf0.001"

  lazy val pages = Pages.fromDocuments(spark, sfDir).cache()

  /** The injected kernel over ONE page: (subj, pred, obj, score_milli). */
  private def injected(text: String): Set[(String, String, String, Long)] =
    KI.extractInjectedFused(Seq((1L, text)).toDF("doc_id", "text"), spark)
      .select("subj", "pred", "obj", "score_milli").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

  test("vocabulary closure: kbRel2rel covers the KB predicates and lands in the 96") {
    assert(Gazetteer.kgTriples.map(_._2).toSet.subsetOf(Gazetteer.kbRel2rel.map(_._1).toSet),
      "every KB predicate needs a mapping")
    assert(Gazetteer.kbRel2rel.map(_._2).toSet.subsetOf(DocREDVocab.relations.toSet),
      "suggested relations must be in the output vocabulary")
    assert(Gazetteer.relRules.map(_._3).toSet.subsetOf(DocREDVocab.relations.toSet))
  }

  test("weight design: soft features alone can never flip a base sign") {
    val maxSoft = KI.WCoocUnit * KI.CoocCap + KI.WNbrUnit * KI.NbrCap +
      KI.WCorefUnit * 2 * KI.CorefCap + KI.WAttr
    assert(maxSoft < KI.WBase, s"soft sum $maxSoft must stay below base ${KI.WBase}")
    assert(KI.WDist <= 0, "distance can only penalize")
    // and a direct KB edge always flips: worst case −base + direct − 9·|dist|
    assert(-KI.WBase + KI.WDirect + KI.WDist * 9 > 0)
  }

  test("KG evidence flips decodes: injected = rule triples ∪ KB-evidenced triples") {
    val rule = RelationScorer.extractKernelFused(pages, spark)
      .select("doc_id", "subj", "pred", "obj").distinct().cache()
    val inj = KI.extractInjectedFused(pages, spark)
      .select("doc_id", "subj", "pred", "obj").distinct().cache()
    // injection never loses a rule triple (soft features can't flip down)
    assert(rule.exceptAll(inj).count() == 0, "injection must preserve rule decodes")
    val flips = inj.exceptAll(rule).cache()
    assert(flips.count() > 0, "KG evidence must flip at least one decode")
    // every flipped predicate is a KB-suggested relation
    val flipPreds = flips.select("pred").distinct().collect().map(_.getString(0)).toSet
    assert(flipPreds.nonEmpty && flipPreds.subsetOf(Gazetteer.kbRel2rel.map(_._2).toSet),
      s"unexpected flip predicates: $flipPreds")
    // and each flip is backed by a direct KB edge h→t whose mapped relation
    // is the flipped predicate (KG evidence, not feature noise)
    val kb = Gazetteer.kbRel2rel.toMap
    val edges = Gazetteer.kgTriples.map(t => (t._1, kb(t._2), t._3)).toSet
    val unexplained = flips.select("subj", "pred", "obj").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filterNot(edges.contains)
    assert(unexplained.isEmpty, s"flips without KB edge: ${unexplained.take(5).mkString(",")}")
  }

  test("controlled flip with exact milli-logits") {
    // one doc, customer(Q4 PER) + table(Q8 ORG) in one sentence. Rules have
    // (ORG,PER)→P488 but nothing for (PER,ORG); the KB edge Q4→P463→Q8
    // suggests P463 for the (Q4, Q8) direction.
    val got = injected("customer x table")
    // (Q4,P463,Q8): −2000 (no rule) + 100 cooc + 4500 direct = 2600
    // (Q8,P488,Q4): +2000 (rule) + 100 cooc = 2100
    assert(got == Set(("Q4", "P463", "Q8", 2600L), ("Q8", "P488", "Q4", 2100L)))
  }

  test("long-range: a KB edge reaches across sentences; only KB can") {
    // Q4 in sentence 0, Q8 in sentence 2 — no co-occurrence, so the rule
    // base never fires in either direction; the (Q4, Q8) direction is
    // admitted by the KB edge Q4→P463→Q8 and decodes through it alone,
    // paying the live distance penalty (msd 2 → bucket 2 → −100)
    val got = injected("customer x y. z. table")
    // (Q4,P463,Q8): −2000 (no co-occurrence → no rule base) − 100 dist + 4500 = 2400;
    // (Q8,*,Q4): no KB edge in that direction, not admitted — nothing decodes
    assert(got == Set(("Q4", "P463", "Q8", 2400L)))
  }

  test("decode cap: >=4 higher-scoring KB-suggested relations evict the rule triple") {
    // the reference's top-4 decode cap (ATLOP+KIRE/losses.py:32-42) is
    // UNCONDITIONAL: with 4 distinct KB-suggested relations each scoring
    // −2000 + 100 + 4500 = 2600, the rule triple (2000 + 100 = 2100) falls
    // to rank 5 and is evicted. The fixture KB never suggests 4 relations
    // per pair, so this decodes a constructed feature row directly —
    // pinning the cap semantics where the union property breaks.
    val sugg = DocREDVocab.relations.filter(_ != "P488").sorted.take(4)
    val f = KI.InjectedFeature(1L, "Q8", "ORG", "Q4", "PER",
      0, 1L, Seq(0), sugg, 0, 0, 0, 0)
    val kernel = KI.decodeInjectedPair(KI.compileInj(), f)
      .map(t => (t.subj, t.pred, t.obj, t.score_milli)).toSet
    assert(kernel == sugg.map(r => ("Q8", r, "Q4", 2600L)).toSet,
      s"expected exactly the 4 suggested relations at 2600, got $kernel")
    assert(!kernel.exists(_._2 == "P488"), "rule triple must be evicted by the cap")
  }

  test("hub entity: a 10^5-degree neighbor set stays bounded at MaxNbrSet") {
    // a country-like hub with 100k one-hop KB edges must NOT produce a
    // 100k-element row — the bounded aggregation (the UDAF KgFusion uses,
    // at the kernel's MaxNbrSet bound) keeps the MaxNbrSet
    // lexicographically-smallest neighbors, deterministically
    val hubDeg = 100000
    val hubEdges = spark.range(hubDeg).select(
      lit(1L).as("doc_id"), lit("QHUB").as("a"),
      concat(lit("N"), lpad(col("id").cast("string"), 7, "0")).as("b"))
    // a small entity sharing its whole 10-neighbor set with the hub; all 10
    // fall inside the hub's kept-smallest window, so the shared-neighbor
    // witness survives the cap
    val smallEdges = spark.range(10).select(
      lit(1L).as("doc_id"), lit("QX").as("a"),
      concat(lit("N"), lpad(col("id").cast("string"), 7, "0")).as("b"))
    val und = hubEdges.union(smallEdges)
    val bounded = udaf(new graft.functions.BoundedMinSet(KI.MaxNbrSet))
    def setsOf(df: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
      df.groupBy(col("doc_id"), col("a")).agg(bounded(col("b"))).collect()
        .map(r => r.getString(1) -> r.getSeq[String](2)).toMap
    val sets = setsOf(und)
    val hub = sets("QHUB")
    assert(hub.length == KI.MaxNbrSet, s"row not bounded: ${hub.length}")
    assert(hub == hub.sorted, "bounded set must arrive sorted")
    assert(hub.head == "N0000000" && hub.last == s"N${"%07d".format(KI.MaxNbrSet - 1)}",
      "must keep exactly the MaxNbrSet smallest")
    assert(sets("QX").length == 10)
    assert(sets("QX").toSet.subsetOf(hub.toSet),
      "shared-neighbor witnesses must survive the cap")
    // deterministic across partitionings (map-side partials merge to the
    // same smallest-K regardless of arrival order)
    assert(setsOf(und.repartition(17))("QHUB") == hub)
    assert(setsOf(und.orderBy(col("b").desc))("QHUB") == hub)
  }

  test("coref + neighborhood features are live dataflow (nonzero on fixture)") {
    // each soft feature adds exactly its weight on top of a one-sentence
    // pair (cooc 1 → +100); the direct-edge feature is the controlled flip
    // coref: a second "customer" mention (sentence 1, so n_cooc stays 1)
    // gives Q4 one partner, +10 on both directions of the flip pair
    assert(injected("customer table x. customer") ==
      Set(("Q4", "P463", "Q8", 2610L), ("Q8", "P488", "Q4", 2110L)))
    // shared neighbours: Q1 (software) and Q10 (no instance-of) both
    // neighbour Q2 in the KB and have no edge between them → +150
    assert(injected("spark x join") ==
      Set(("Q1", "P361", "Q10", 2250L), ("Q10", "P361", "Q1", 2250L)))
    // same instance-of: Q17 and Q5 both default to 'entity' → +100;
    // Q17 vs Q2 ('algorithm') gets nothing
    assert(injected("column x vector") ==
      Set(("Q17", "P361", "Q5", 2200L), ("Q5", "P361", "Q17", 2200L)))
    assert(injected("column x hash") ==
      Set(("Q17", "P361", "Q2", 2100L), ("Q2", "P361", "Q17", 2100L)))
  }
}
