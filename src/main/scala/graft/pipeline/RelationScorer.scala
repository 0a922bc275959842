package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kb.Gazetteer
import scala.collection.mutable.ArrayBuilder

/** The relation-classification kernel: a deterministic, featurized scorer
  * with the same I/O contract as the reference's model inference
  * (SURVEY §2.9): per entity pair → per-relation logits → adaptive-threshold
  * decode → emitted triples.
  *
  * Execution model (north_star): `mapPartitions` with pre-broadcast weights —
  * one weight-map deserialization per partition, not per row; rows stream
  * through without materializing the partition.
  *
  * Decode semantics are ATLOP's adaptive threshold
  * (`ATLOP+KIRE/losses.py:32-42`): the threshold class TH has logit 0;
  * predicted labels are those with logit > logit(TH), capped at top
  * `MaxLabels` by logit; none above TH ⇒ NA (no triple).
  *
  * The committed fixture weights make the decode agree exactly with the
  * rule table (`Gazetteer.relRules`): +2 for rule-sanctioned
  * (hType,tType,rel), −2 otherwise, plus sub-unit distance/co-occurrence
  * features that never flip the sign. That identity is the kernel's
  * correctness gate: q_scored_triples shares q_triples' rule-path oracle.
  */
object RelationScorer {

  val MaxLabels = 4 // ATLOP num_labels cap (losses.py:37)

  /** All relation labels (the "classes"): the REAL 96-relation DocRED
    * vocabulary (`GLRE+KIRE/data/loader.py:100-112`) — the web path and the
    * DocRED gold path classify into one shared space. The TH (NA) class is
    * implicit at logit 0. */
  val relations: Seq[String] = graft.kb.DocREDVocab.relations

  /** DocRED dis2idx ceiling: ≥256 → bucket 9
    * (`ATLOP+KIRE/knowledge_injection_layer/kg_data_loader.py:62-72`). */
  val MaxDisBucketDocRED = 9

  /** DWIE extends the ladder three rungs — 512→10, 1024→11, ≥2048→12
    * (`SSAN+KIRE/dataset.py:89-102`) — because its news articles run far
    * longer than DocRED abstracts. */
  val MaxDisBucketDwie = 12

  /** log2 distance bucketing `dis2idx` (M1): 1→1, 2-3→2, 4-7→3, 8-15→4, …,
    * capped at `maxBucket` (9 = DocRED, 12 = DWIE). */
  def disBucket(d: Int, maxBucket: Int = MaxDisBucketDocRED): Int = {
    if (d <= 0) 0
    else math.min(32 - Integer.numberOfLeadingZeros(d), maxBucket) // floor(log2(d)) + 1
  }

  /** Column-expression twin of disBucket: an exact integer when-ladder
    * (floor(log2(x)) via FP log2 is NOT exact at power-of-two boundaries). */
  def disBucketCol(d: org.apache.spark.sql.Column,
                   maxBucket: Int = MaxDisBucketDocRED): org.apache.spark.sql.Column =
    least(
      when(d <= 0, 0).when(d < 2, 1).when(d < 4, 2).when(d < 8, 3)
        .when(d < 16, 4).when(d < 32, 5).when(d < 64, 6)
        .when(d < 128, 7).when(d < 256, 8).when(d < 512, 9)
        .when(d < 1024, 10).when(d < 2048, 11).otherwise(12),
      lit(maxBucket)).cast("int")

  /** Fixture weights: (hType, tType, rel) → logit contribution. wPool scales
    * the pooled-vector dot product in the A9 vector path (0.0 in the fixture
    * so the decode stays provably identical to the rule table; real model
    * weights plug in here the day real mention encoders arrive). */
  case class Weights(typePair: Map[(String, String, String), Double],
                     wDist: Double, wCooc: Double, wPool: Double = 0.0)

  def fixtureWeights: Weights = {
    val ruleSet = Gazetteer.relRules.toSet
    val types = graft.kb.DocREDVocab.nerTypes
    val all = for {
      h <- types; t <- types; r <- relations
    } yield (h, t, r) -> (if (ruleSet.contains((h, t, r))) 2.0 else -2.0)
    Weights(all.toMap, wDist = -0.05, wCooc = 0.1, wPool = 0.0)
  }

  /** Weights compiled for the kernel hot loop: per (hType, tType) ONE array
    * of base logits aligned with `relations` — one hash probe per PAIR
    * instead of one tuple-keyed probe per (pair, relation); the 96-class
    * loop is then a flat array walk. Output-identical to scoring from the
    * raw Weights map (same getOrElse(-2.0) default). */
  private[pipeline] case class Compiled(rels: Array[String],
      base: Map[(String, String), Array[Double]], default: Array[Double],
      wDist: Double, wCooc: Double, wPool: Double,
      posIdx: Map[(String, String), Array[Int]], negGuard: Double)

  private[pipeline] def compile(w: Weights): Compiled = {
    val rels = relations.toArray
    val typePairs = w.typePair.keysIterator.map(k => (k._1, k._2)).toSet
    val base = typePairs.iterator.map { case (h, t) =>
      (h, t) -> rels.map(r => w.typePair.getOrElse((h, t, r), -2.0))
    }.toMap
    // candidate pruning support: per type pair the positive-base indices,
    // plus the smallest margin any NEGATIVE base needs to flip (the guard
    // below which the pruned walk is provably exact)
    val posIdx = base.map { case (k, b) => k -> b.indices.filter(b(_) > 0.0).toArray }
    val negGuard = base.valuesIterator.flatten.filter(_ <= 0.0)
      .foldLeft(2.0)((g, v) => math.min(g, -v))
    Compiled(rels, base, rels.map(_ => -2.0), w.wDist, w.wCooc, w.wPool,
      posIdx, negGuard)
  }

  /** Adaptive-threshold decode over a compiled base array: positives only
    * (few), ordered by (−logit, relation), capped at MaxLabels. */
  private[pipeline] def decode(cw: Compiled, base: Array[Double],
      soft: Double): Seq[(String, Double)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var i = 0
    while (i < cw.rels.length) {
      val s = base(i) + soft
      if (s > 0.0) buf += ((cw.rels(i), s))
      i += 1
    }
    buf.sortBy { case (r, s) => (-s, r) }.take(MaxLabels).toSeq
  }

  private val EmptyIdx = Array.empty[Int]

  /** `decode` with EXACT candidate pruning: when soft < negGuard, a
    * negative-base relation cannot clear the threshold, so only the type
    * pair's positive-base indices are walked (typically 1 instead of 96).
    * Falls back to the full walk when the guard does not hold (e.g.
    * pathological co-occurrence counts), so the output equals
    * `decode(cw, base, soft)` for EVERY input — pinned in DecodeSpec. */
  private[pipeline] def decodeFast(cw: Compiled, typePair: (String, String),
      base: Array[Double], soft: Double): Seq[(String, Double)] = {
    if (soft >= cw.negGuard) return decode(cw, base, soft)
    val cand = cw.posIdx.getOrElse(typePair, EmptyIdx)
    // single-candidate fast path (one positive-base relation — the common
    // case): no buffer, no sort
    if (cand.length == 1) {
      val s = base(cand(0)) + soft
      return if (s > 0.0) (cw.rels(cand(0)), s) :: Nil else Nil
    }
    if (cand.isEmpty) return Nil
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var k = 0
    while (k < cand.length) {
      val i = cand(k)
      val s = base(i) + soft
      if (s > 0.0) buf += ((cw.rels(i), s))
      k += 1
    }
    buf.sortBy { case (r, s) => (-s, r) }.take(MaxLabels).toSeq
  }

  /** One entity of a document: qid, NER type and its sentence-id
    * multiset, ascending (`docMentions` emits in sentence order). */
  private[pipeline] final case class DocEnt(qid: String, tpe: String, sents: Array[Int])

  /** Per-doc entity table from kernel mentions, in first-mention order —
    * the shared scaffolding of the fused scoring kernels (this one and
    * `KnowledgeInjection.extractInjectedFused`); qid→type is functional so
    * first-writer-wins is exact. */
  private[pipeline] def docEntityTable(
      ments: scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Stages.DictEntry)])
      : Array[DocEnt] = {
    val ents = new java.util.LinkedHashMap[String, (String, ArrayBuilder.ofInt)]
    ments.foreach { m =>
      var e = ents.get(m._4._3)
      if (e == null) { e = (m._4._4, new ArrayBuilder.ofInt); ents.put(m._4._3, e) }
      e._2 += m._1
    }
    val out = new Array[DocEnt](ents.size)
    var k = 0
    ents.forEach { (q, e) => out(k) = DocEnt(q, e._1, e._2.result()); k += 1 }
    out
  }

  // pairFeatures' per-pair statistics for both fused kernels: merge walks
  // over two ascending `DocEnt.sents`, no boxing, tuple or set per pair.

  /** Multiset co-occurrence count Σ_s c_h(s)·c_t(s) (`n_cooc`). */
  private[pipeline] def coocCount(hS: Array[Int], tS: Array[Int]): Long = {
    var n = 0L
    var i = 0
    var j = 0
    while (i < hS.length && j < tS.length) {
      if (hS(i) < tS(j)) i += 1
      else if (hS(i) > tS(j)) j += 1
      else { // this h copy meets every t copy of its sentence
        var k = j
        while (k < tS.length && tS(k) == hS(i)) k += 1
        n += k - j
        i += 1
      }
    }
    n
  }

  /** Minimum |a − b| over the two multisets (`min_sent_dist`). */
  private[pipeline] def minSentDist(hS: Array[Int], tS: Array[Int]): Int = {
    var msd = Int.MaxValue
    var i = 0
    var j = 0
    while (i < hS.length && j < tS.length && msd > 0) {
      msd = math.min(msd, math.abs(hS(i) - tS(j)))
      if (hS(i) < tS(j)) i += 1 else j += 1
    }
    msd
  }

  /** Sorted distinct co-occurring sentences (`evidence`). */
  private[pipeline] def evidenceOf(hS: Array[Int], tS: Array[Int]): Seq[Int] = {
    val out = new ArrayBuilder.ofInt
    var last = -1 // sentence ids are ≥ 0
    var i = 0
    var j = 0
    while (i < hS.length && j < tS.length) {
      if (hS(i) < tS(j)) i += 1
      else if (hS(i) > tS(j)) j += 1
      else {
        if (hS(i) != last) { last = hS(i); out += last }
        i += 1
        j += 1
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.result())
  }

  case class PairFeature(doc_id: Long, h_qid: String, h_type: String,
                         t_qid: String, t_type: String,
                         min_sent_dist: Int, n_cooc: Long,
                         evidence: Seq[Int])

  case class ScoredTriple(doc_id: Long, subj: String, pred: String,
                          obj: String, score: Double, evidence: Seq[Int])

  /** Pair features from the linked-mention table: minimum sentence distance
    * between any mentions of h and t (A7, `ATLOP+KIRE/prepro.py:145-154`)
    * and co-occurring-sentence count. Grouped per doc — one shuffle on
    * (doc_id, h_qid, t_qid), map-side combinable. */
  def pairFeatures(linked: DataFrame): DataFrame = {
    // aggregate to entity level FIRST (doc × qid × sent-list), then join:
    // the per-doc join is |entities|² rows, not |mentions|² (~100× smaller),
    // with the mention cross-product folded into array HOFs in-row
    // second groupBy folds the doc's entities into ONE row, so pair
    // formation is an in-row double explode — no self-join, the upstream
    // lineage (extraction UDFs, linking) executes exactly once
    val docEnts = linked.groupBy(col("doc_id"), col("qid"), col("ner_type"))
      .agg(collect_list(col("sent_id")).as("sents"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("qid"), col("ner_type"), col("sents"))).as("ents"))
    docEnts
      .select(col("doc_id"), explode(col("ents")).as("h"), col("ents"))
      .select(col("doc_id"), col("h"), explode(col("ents")).as("t"))
      .filter(col("h.qid") =!= col("t.qid"))
      .select(col("doc_id"),
        col("h.qid").as("h_qid"), col("h.ner_type").as("h_type"),
        col("h.sents").as("h_sents"),
        col("t.qid").as("t_qid"), col("t.ner_type").as("t_type"),
        col("t.sents").as("t_sents"))
      .withColumn("min_sent_dist", expr(
        "aggregate(h_sents, 2147483647, (acc, a) -> least(acc, " +
          "aggregate(t_sents, 2147483647, (acc2, b) -> least(acc2, abs(a - b)))))").cast("int"))
      .withColumn("n_cooc", expr(
        "aggregate(h_sents, 0L, (acc, a) -> acc + size(filter(t_sents, b -> b = a)))").cast("long"))
      // evidence = distinct co-occurrence sentences, sorted (SO2 input)
      .withColumn("evidence",
        array_sort(array_distinct(array_intersect(col("h_sents"), col("t_sents")))))
      .select("doc_id", "h_qid", "h_type", "t_qid", "t_type", "min_sent_dist", "n_cooc", "evidence")
  }

  /** The mapPartitions inference kernel. Weights are broadcast once;
    * each partition streams rows through the scorer. `maxDisBucket` selects
    * the distance ladder (DocRED 9 / DWIE 12). */
  def score(features: DataFrame, spark: SparkSession,
            maxDisBucket: Int = MaxDisBucketDocRED): DataFrame = {
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(compile(fixtureWeights))
    features.as[PairFeature].mapPartitions { it =>
      val w = bw.value // one fetch per partition
      it.flatMap { p =>
        val base = w.base.getOrElse((p.h_type, p.t_type), w.default)
        val soft = w.wDist * disBucket(p.min_sent_dist, maxDisBucket) +
          w.wCooc * math.log1p(p.n_cooc.toDouble)
        // adaptive-threshold decode: logit > 0 (TH logit), top MaxLabels
        decodeFast(w, (p.h_type, p.t_type), base, soft)
          .map { case (r, s) => ScoredTriple(p.doc_id, p.h_qid, r, p.t_qid, s, p.evidence) }
      }
    }.toDF()
  }

  /** ZERO-SHUFFLE scored extraction — the one per-document rule kernel:
    * pages → mentions → link → pair features → 96-class decode, all inside
    * one mapPartitions pass per document (`Stages.extractTriplesKernel` is
    * its (doc_id, subj, pred, obj) projection). Every step is per-doc
    * driver-free Scala over the broadcast dictionary (`dict`, the Gazetteer
    * by default; file-backed 63k-alias dictionaries ride the same way) and
    * compiled weights, so the job's only exchange is whatever the SINK
    * needs. Only pairs that co-occur in a sentence (n_cooc ≥ 1) are scored.
    * FusedSpec pins it row-identical to `score` over `pairFeatures` (the
    * relational feature path the eval queries use); q_scored_triples and
    * q_triples check it against the oracle.
    *
    * PRECONDITION: input pages must have UNIQUE doc_id. Each row is scored
    * on its own, so a duplicated doc_id emits every triple once per input
    * row (FusedSpec pins that), and `pairFeatures`, which groups mentions
    * ACROSS rows of a doc_id, would see different pairs. Callers that
    * cannot guarantee uniqueness must dedup upstream or append .distinct()
    * (the runner's one distinct before its sink does). */
  def extractKernelFused(pages: DataFrame, spark: SparkSession,
      dict: Map[String, Array[Stages.DictEntry]] = Stages.kernelDict): DataFrame = {
    import spark.implicits._
    val byFirstB = spark.sparkContext.broadcast(dict)
    val bw = spark.sparkContext.broadcast(compile(fixtureWeights))
    pages.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val byFirst = byFirstB.value
        val w = bw.value
        it.flatMap { case (docId, text) =>
          val arr = docEntityTable(Stages.docMentions(text.split(" ", -1), byFirst))
          val out = scala.collection.mutable.ArrayBuffer.empty[ScoredTriple]
          // each unordered pair once: its sentence statistics are symmetric,
          // only the type pair (hence the decode) depends on direction
          var i = 0
          while (i < arr.length) {
            val a = arr(i)
            var j = i + 1
            while (j < arr.length) {
              val b = arr(j)
              val cooc = coocCount(a.sents, b.sents)
              if (cooc >= 1) {
                // a co-occurring pair's minimum sentence distance is 0
                val soft = w.wDist * disBucket(0) + w.wCooc * math.log1p(cooc.toDouble)
                def decodeDir(tp: (String, String)) =
                  decodeFast(w, tp, w.base.getOrElse(tp, w.default), soft)
                val ab = decodeDir((a.tpe, b.tpe))
                val ba = decodeDir((b.tpe, a.tpe))
                // evidence only for pairs that emit
                if (ab.nonEmpty || ba.nonEmpty) {
                  val ev = evidenceOf(a.sents, b.sents)
                  ab.foreach { case (r, s) => out += ScoredTriple(docId, a.qid, r, b.qid, s, ev) }
                  ba.foreach { case (r, s) => out += ScoredTriple(docId, b.qid, r, a.qid, s, ev) }
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

  // ------------------------------------------------- A9 vector pooling path

  case class PooledPairFeature(doc_id: Long, h_qid: String, h_type: String,
                               t_qid: String, t_type: String,
                               min_sent_dist: Int, n_cooc: Long,
                               evidence: Seq[Int],
                               h_pool: Seq[Double], t_pool: Seq[Double])

  /** Deterministic per-mention pseudo-embedding from span geometry — the
    * stand-in carrying the SHAPE of real mention-encoder outputs. */
  def mentionVec: org.apache.spark.sql.Column =
    array(col("sent_id").cast("double"),
      log1p(col("pos_start").cast("double")),
      (col("pos_end") - col("pos_start") + 1).cast("double"))

  /** Element-wise logsumexp pooling as an untyped aggregate column. */
  val lsePool = udaf(graft.functions.VectorLogSumExp)

  /** pairFeatures + per-entity pooled mention vectors (A9's real shape: the
    * reference collapses mention embedding VECTORS into one entity vector
    * via logsumexp, `ATLOP+KIRE/model.py:74-98`). Pooling happens in the
    * same (doc, qid) aggregation as the sentence lists — map-side
    * combinable, merge-safe (VectorLogSumExpSpec). */
  def pooledPairFeatures(linked: DataFrame): DataFrame =
    pooledPairFeaturesFromMvec(linked.withColumn("mvec", mentionVec))

  /** Same pooling over a frame that ALREADY carries an `mvec` vector column
    * — the hook for real mention encoders (`VectorFeatures
    * .pooledPairFeaturesReal` feeds A10's pooled token vectors here). */
  private[pipeline] def pooledPairFeaturesFromMvec(linked: DataFrame): DataFrame = {
    val docEnts = linked
      .groupBy(col("doc_id"), col("qid"), col("ner_type"))
      .agg(collect_list(col("sent_id")).as("sents"), lsePool(col("mvec")).as("pool"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("qid"), col("ner_type"), col("sents"), col("pool"))).as("ents"))
    docEnts
      .select(col("doc_id"), explode(col("ents")).as("h"), col("ents"))
      .select(col("doc_id"), col("h"), explode(col("ents")).as("t"))
      .filter(col("h.qid") =!= col("t.qid"))
      .select(col("doc_id"),
        col("h.qid").as("h_qid"), col("h.ner_type").as("h_type"), col("h.sents").as("h_sents"),
        col("h.pool").as("h_pool"),
        col("t.qid").as("t_qid"), col("t.ner_type").as("t_type"), col("t.sents").as("t_sents"),
        col("t.pool").as("t_pool"))
      .withColumn("min_sent_dist", expr(
        "aggregate(h_sents, 2147483647, (acc, a) -> least(acc, " +
          "aggregate(t_sents, 2147483647, (acc2, b) -> least(acc2, abs(a - b)))))").cast("int"))
      .withColumn("n_cooc", expr(
        "aggregate(h_sents, 0L, (acc, a) -> acc + size(filter(t_sents, b -> b = a)))").cast("long"))
      .withColumn("evidence",
        array_sort(array_distinct(array_intersect(col("h_sents"), col("t_sents")))))
      .select("doc_id", "h_qid", "h_type", "t_qid", "t_type",
        "min_sent_dist", "n_cooc", "evidence", "h_pool", "t_pool")
  }

  /** Kernel over pooled features: adds w.wPool · ⟨h_pool, t_pool⟩ to every
    * logit. With the fixture weights (wPool = 0) the decode is identical to
    * `score` — pinned in VectorLogSumExpSpec. */
  def scorePooled(features: DataFrame, spark: SparkSession,
                  weights: Weights = fixtureWeights): DataFrame = {
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(compile(weights))
    features.as[PooledPairFeature].mapPartitions { it =>
      val w = bw.value
      it.flatMap { p =>
        val n = math.min(p.h_pool.length, p.t_pool.length)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += p.h_pool(i) * p.t_pool(i); i += 1 }
        val base = w.base.getOrElse((p.h_type, p.t_type), w.default)
        val soft = w.wDist * disBucket(p.min_sent_dist) +
          w.wCooc * math.log1p(p.n_cooc.toDouble) + w.wPool * dot
        decode(w, base, soft)
          .map { case (r, s) => ScoredTriple(p.doc_id, p.h_qid, r, p.t_qid, s, p.evidence) }
      }
    }.toDF()
  }

  /** M2: sigmoid on raw scores (`ATLOP+KIRE/data/gen_coref_data.py:30-31`). */
  def sigmoid(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(1.0) / (lit(1.0) + exp(-c))
}
