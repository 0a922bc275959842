package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kb.Gazetteer

/** The triple-extraction stages. Mention detection (`mentionsKernel`) is
  * a mapPartitions kernel over a broadcast dictionary, one pass per
  * document; the pages → triples rule path (`extractTriplesKernel`) is a
  * projection of the one rule kernel, `RelationScorer.extractKernelFused`,
  * which shares the matcher `docMentions`. The DuckDB oracle
  * (`SparkEntry.oracleSql`) is the independent second implementation of
  * every step.
  *
  * Scale notes (100 TB / 10^12 docs):
  *  - all per-document work stays inside one task — NO shuffle until a
  *    consumer needs one; the n·(n−1) pair blowup never hits the shuffle.
  *  - the alias dictionary rides as a broadcast variable keyed by first
  *    token (63k-alias file-backed dictionaries included), never as a plan
  *    literal.
  *  - `pairs`/`triples` keep the relational rule path over a linked-mention
  *    table for the eval queries that need per-pair statistics.
  */
object Stages {

  def ruleDict(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Gazetteer.relRules.toDF("h_type", "t_type", "pred")
  }

  /** Entity linking (`ATLOP+KIRE/data/gen_kg_data.py:76-87,272-304`): the
    * per-doc vote is doc-independent (every mention of an alias carries the
    * same candidate set — see `resolveAliasEntries`), so linking is ONE
    * broadcast hash join against the pre-resolved dictionary (`resolved`:
    * the Gazetteer by default, or a file-backed reference-scale one). The
    * q_linked oracle replays the per-(doc, alias) relational vote
    * independently. */
  def linkedFast(mentions: DataFrame, spark: SparkSession,
      resolved: Seq[(String, String, String)] = resolvedAliases): DataFrame = {
    import spark.implicits._
    val dict = broadcast(resolved.toDF("alias", "qid", "ner_type"))
    mentions.join(dict, Seq("alias"))
      .select("doc_id", "sent_id", "pos_start", "pos_end", "alias", "qid", "ner_type")
  }

  /** Per-sentence entity set then ordered-pair generation (J4,
    * `ATLOP+KIRE/prepro.py:137-143`: all ordered (h,t), h≠t). The pair
    * cross-product is generated from collected per-sentence arrays — stays
    * partition-local after the per-sentence collect. */
  def pairs(linked: DataFrame): DataFrame = {
    val sentEnts = linked
      .groupBy("doc_id", "sent_id")
      .agg(array_sort(collect_set(struct(col("qid"), col("ner_type")))).as("ents"))
    sentEnts
      .select(col("doc_id"), col("sent_id"), explode(col("ents")).as("h"), col("ents"))
      .select(col("doc_id"), col("sent_id"), col("h"), explode(col("ents")).as("t"))
      .filter(col("h.qid") =!= col("t.qid"))
      .select(col("doc_id"), col("sent_id"),
        col("h.qid").as("h_qid"), col("h.ner_type").as("h_type"),
        col("t.qid").as("t_qid"), col("t.ner_type").as("t_type"))
  }

  /** Rule-based relation classification (the deterministic decode surface of
    * the scoring kernel — see RelationScorer for the featurized path with
    * identical output contract). Emits canonical distinct triples per doc. */
  def triples(pairs: DataFrame, spark: SparkSession): DataFrame =
    pairs
      .join(broadcast(ruleDict(spark)), Seq("h_type", "t_type"), "inner")
      .select(col("doc_id"), col("h_qid").as("subj"), col("pred"), col("t_qid").as("obj"))
      .distinct()

  /** Scala-side dictionary resolution over ARBITRARY (alias, qid, prio)
    * entries — the Gazetteer constants and file-backed 63k-alias
    * dictionaries (`sources.DictFiles`) resolve through one rule. The
    * per-doc majority vote is doc-independent in the web path: every
    * mention of an alias carries the same candidate set, so the
    * per-(doc, alias) winner is the global (prio asc, qid asc) winner.
    * Entities outside the type table default to MISC (the reference's
    * dictionary carries no types either — types come from the dataset).
    * This is the only place the linking vote lives; PipelineSpec pins the
    * prio and tie rules on it directly.
    *
    * Intra-tier duplicate-label tie-break: min (prio, qid) — a DELIBERATE
    * determinism pin that diverges from the reference ingest
    * (ATLOP+KIRE/data/gen_kg_data.py:41-47, 66-70), where plain-dict
    * insertion makes the LAST file occurrence of a label win. The
    * reference's winner therefore depends on dump line order, which is
    * nondeterministic across dump regenerations; a content-ordered rule is
    * the only replayable choice, and the DuckDB oracle replays this same
    * rule, so the divergence is self-consistent and surfaced here. */
  def resolveAliasEntries(entries: Seq[(String, String, Int)],
      types: Map[String, String],
      defaultType: String = "MISC",
      strict: Boolean = false): Seq[(String, String, String)] =
    entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (a, cands) =>
      val qid = cands.minBy(c => (c._3, c._2))._2
      // strict: the Gazetteer oracle INNER-joins the type table, so a
      // type-less qid must fail loudly at dictionary build, not surface as
      // an opaque oracle row diff
      if (strict) require(types.contains(qid),
        s"resolveAliasEntries: qid $qid (alias '$a') missing from the type table")
      (a, qid, types.getOrElse(qid, defaultType))
    }

  /** The Gazetteer fixture dictionary, resolved (strict: every qid must
    * have a type — the q_linked oracle's inner join demands it). */
  def resolvedAliases: Seq[(String, String, String)] =
    resolveAliasEntries(Gazetteer.aliases, Gazetteer.entityTypes.toMap,
      strict = true)

  /** Resolved alias entry for the kernels: remaining tokens after the
    * first, full surface, qid, ner type. */
  type DictEntry = (Array[String], String, String, String)

  /** Dictionary keyed by FIRST token; candidates carry the remaining tokens
    * so multi-word matching is token-by-token comparison — no slice/concat
    * allocation per probe (the kernels are bandwidth-bound at high core
    * counts; string building was the dominant allocation). */
  def kernelDictFrom(resolved: Seq[(String, String, String)])
      : Map[String, Array[DictEntry]] =
    resolved
      .map { case (alias, qid, tpe) =>
        val ts = alias.split(" "); ts.head -> ((ts.drop(1), alias, qid, tpe)) }
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sortBy(-_._1.length).toArray }

  def kernelDict: Map[String, Array[DictEntry]] =
    kernelDictFrom(resolvedAliases)

  /** Sentence spans for one token array — the one sentence splitter, shared
    * by `docMentions` and the vector kernels (`VectorFeatures
    * .sentenceVectorsKernel`). Rule (T7 substitute, replacing GENIA in
    * `GLRE+KIRE/data_processing/tools.py:246-305`): a token ending in
    * terminal punctuation closes a sentence unless it is an abbreviation
    * ("dr.", "u.s."); segments longer than `SentenceChunk` tokens are
    * subdivided (run-on/punctuation-less guard). Returns inclusive global
    * token ranges (st, en); the index is the dense 0-based sent_id. */
  private[graft] def docSentenceSpans(toks: Array[String])
      : scala.collection.mutable.ArrayBuffer[(Int, Int)] = {
    val chunk = Gazetteer.SentenceChunk
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var segStart = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty && isBoundary(t.charAt(t.length - 1))
          && !(t.length <= maxAbbrevLen &&
               // Locale.ROOT: Spark's lower() and DuckDB's lower() are
               // locale-independent; default-locale toLowerCase would break
               // kernel==oracle parity on e.g. tr_TR JVMs ("I"→"ı")
               abbrevSet.contains(t.toLowerCase(java.util.Locale.ROOT)))) {
        var s = segStart
        while (s <= i) { spans += ((s, math.min(s + chunk - 1, i))); s += chunk }
        segStart = i + 1
      }
      i += 1
    }
    if (segStart <= toks.length - 1) {
      var s = segStart
      while (s <= toks.length - 1) {
        spans += ((s, math.min(s + chunk - 1, toks.length - 1))); s += chunk
      }
    }
    spans
  }

  /** Per-doc plain-Scala matcher shared by the mapPartitions kernels:
    * sentence spans (via `docSentenceSpans`) → per-sentence MAXIMAL
    * dictionary matches. Emits (sent_id, ps, pe, entry).
    *
    * Semantics (T9/J8, multi-token `find_position` of
    * `ATLOP+KIRE/data/gen_coref_data.py:163-169` plus longest-match-wins):
    *  - a candidate is any L-token window (L ∈ alias lengths) inside one
    *    sentence whose joined surface form is a dictionary alias — matches
    *    never cross sentence boundaries;
    *  - a match strictly contained in a longer match is suppressed
    *    ("sort merge join" beats its inner "merge join"/"sort"/"join");
    *    partially-overlapping maximal matches both survive. Containment
    *    implies same-sentence, so per-sentence suppression is exact per-doc.
    * Pinned in SentenceSpec and FusedSpec. */
  private[pipeline] def docMentions(toks: Array[String],
      byFirst: Map[String, Array[DictEntry]])
      : scala.collection.mutable.ArrayBuffer[(Int, Int, Int, DictEntry)] = {
    val spans = docSentenceSpans(toks)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, DictEntry)]
    val cands = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, DictEntry)]
    var sentId = 0
    spans.foreach { case (st, en) =>
      cands.clear()
      var p = st
      while (p <= en) {
        val hits = byFirst.getOrElse(toks(p), null)
        if (hits != null) hits.foreach { e =>
          val rest = e._1
          if (p + rest.length <= en) {
            var k = 0
            while (k < rest.length && rest(k) == toks(p + 1 + k)) k += 1
            if (k == rest.length) cands += ((p, p + rest.length, e))
          }
        }
        p += 1
      }
      cands.foreach { c =>
        val contained = cands.exists(o =>
          o._1 <= c._1 && o._2 >= c._2 && (o._2 - o._1) > (c._2 - c._1))
        if (!contained) out += ((sentId, c._1, c._2, c._3))
      }
      sentId += 1
    }
    out
  }

  private def isBoundary(c: Char): Boolean =
    c == '.' || c == '!' || c == '?' || c == ';'

  /** Abbreviation set for the kernel path (checked only on boundary-final
    * tokens — one lowercase allocation per boundary candidate, not per
    * token). Must stay identical to the oracle's NOT IN list — both derive
    * from Gazetteer.abbreviations. */
  private val abbrevSet: Set[String] = Gazetteer.abbreviations.toSet
  // length pre-filter: almost every boundary-final token is a full word
  // longer than any abbreviation — skip its toLowerCase allocation entirely
  private val maxAbbrevLen: Int = abbrevSet.iterator.map(_.length).max

  /** Mention detection (the north_star's "batched mention detection per
    * document-partition with pre-broadcast dictionaries"): one row per
    * maximal match, (doc_id, sent_id, pos_start, pos_end, alias). One
    * dictionary deserialization per partition, rows streamed, no join and
    * no shuffle (PipelineSpec pins the plan; q_mentions the rows). `dict`
    * may be a file-backed 63k+ alias one: a broadcast, never a literal. */
  def mentionsKernel(pages: DataFrame, spark: SparkSession,
      dict: Map[String, Array[DictEntry]] = kernelDict): DataFrame = {
    import spark.implicits._
    val byFirstB = spark.sparkContext.broadcast(dict)
    pages.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val byFirst = byFirstB.value
        it.flatMap { case (docId, text) =>
          docMentions(text.split(" ", -1), byFirst).iterator
            .map { case (sid, ps, pe, e) => (docId, sid, ps, pe, e._2) }
        }
      }
      .toDF("doc_id", "sent_id", "pos_start", "pos_end", "alias")
  }

  /** Pages → rule triples: the (doc_id, subj, pred, obj) projection of the
    * one per-document rule kernel, `RelationScorer.extractKernelFused`,
    * whose fixture-weight decode reproduces `Gazetteer.relRules` exactly —
    * no join, no shuffle (PipelineSpec pins the plan, q_triples the rows).
    * PRECONDITION (the kernel's): UNIQUE doc_id. A duplicated doc_id row
    * emits its triples once more (FusedSpec pins it); such callers dedup
    * upstream or append .distinct(), as the runner's sink does. */
  def extractTriplesKernel(pages: DataFrame, spark: SparkSession,
      dict: Map[String, Array[DictEntry]] = kernelDict): DataFrame =
    RelationScorer.extractKernelFused(pages, spark, dict)
      .select("doc_id", "subj", "pred", "obj")
}
