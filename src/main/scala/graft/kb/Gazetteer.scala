package graft.kb

/** Offline knowledge-base fixtures — the single source of truth shared by the
  * Spark pipeline and the DuckDB oracle SQL (generated from these Seqs so the
  * two can never drift).
  *
  * Mirrors the reference's offline entity-linking side tables:
  *   - two-tier alias dictionary (explicit map prio 0, label-dump fallback
  *     prio 1) — `ATLOP+KIRE/data/gen_kg_data.py:41-90`
  *   - Wikidata-style triple store for one-hop subgraph extraction —
  *     `ATLOP+KIRE/data/gen_kg_data.py:370-394`
  *   - entity attribute table (label/description/instance of/alias, with
  *     default-fill) — `ATLOP+KIRE/data/gen_kg_data.py:578-608`
  *
  * Aliases are drawn from the synthetic `documents` vocabulary so mention
  * detection has real hits. One deliberate collision ("scan" → Q11 tier-0,
  * Q12 tier-1) exercises the priority rule; one intra-tier collision
  * ("batch" → Q15/Q16, same prio) exercises the majority-vote tie rule
  * (stable: lexicographically-first qid wins, mirroring Python's stable sort
  * in `gen_kg_data.py:292-294`).
  */
object Gazetteer {

  /** (alias, qid, prio). prio 0 = explicit dictionary, 1 = label-dump fallback. */
  val aliases: Seq[(String, String, Int)] = Seq(
    ("spark", "Q1", 0),
    ("hash", "Q2", 0),
    ("merge", "Q3", 0),
    ("customer", "Q4", 0),
    ("vector", "Q5", 0),
    ("window", "Q6", 0),
    ("stream", "Q7", 0),
    ("table", "Q8", 0),
    ("query", "Q9", 0),
    ("join", "Q10", 0),
    ("scan", "Q11", 0),
    ("scan", "Q12", 1),   // cross-tier collision: prio rule keeps Q11
    ("filter", "Q13", 1),
    ("sort", "Q14", 1),
    ("batch", "Q15", 1),
    ("batch", "Q16", 1),  // intra-tier collision: tie → min(qid) = Q15
    ("column", "Q17", 1),
    ("group", "Q18", 1),
    // multi-token aliases (reference matches alias token SEQUENCES against
    // the document, `ATLOP+KIRE/data/gen_coref_data.py:163-169`); chosen to
    // overlap single-token aliases so maximal-match suppression is exercised
    // on real corpus hits: "hash join" ⊃ {"hash", "join"},
    // "sort merge join" ⊃ {"sort", "merge", "merge join", "join"}.
    ("hash join", "Q30", 0),
    ("sort merge join", "Q31", 0),
    ("merge join", "Q32", 1),
    ("table scan", "Q33", 0),
    // partially overlaps "merge join" (shares "join", neither contains the
    // other): both survive maximal-match suppression
    ("join order", "Q34", 1),
    // SECOND surface form of Q7 ("stream"): the cross-alias coref case —
    // the reference pairs positions across ALL aliases of one entity
    // (`gen_coref_data.py:148-175`), so "stream" and "data stream" mentions
    // of Q7 must corefer. Also exercises same-entity containment
    // suppression ("data stream" ⊃ "stream").
    ("data stream", "Q7", 1)
  )

  /** Distinct alias token lengths — drives the sliding-window widths of the
    * oracle's mention matcher (the kernel probes by first token instead). */
  def aliasLens: Seq[Int] = aliases.map(_._1.split(" ").length).distinct.sorted

  /** qid → NER type over the REAL 6-type DocRED vocabulary
    * (PER/ORG/LOC/TIME/NUM/MISC, `SSAN+KIRE/dataset.py:74`,
    * graft.kb.DocREDVocab.nerTypes): tech-ish entities are MISC, place-ish
    * ones LOC — the web path and the DocRED gold path share one type space. */
  val entityTypes: Seq[(String, String)] = Seq(
    "Q1" -> "MISC", "Q2" -> "MISC", "Q3" -> "MISC", "Q4" -> "PER",
    "Q5" -> "MISC", "Q6" -> "MISC", "Q7" -> "MISC", "Q8" -> "ORG",
    "Q9" -> "LOC", "Q10" -> "MISC", "Q11" -> "MISC", "Q12" -> "MISC",
    "Q13" -> "MISC", "Q14" -> "MISC", "Q15" -> "ORG", "Q16" -> "ORG",
    "Q17" -> "MISC", "Q18" -> "ORG",
    "Q30" -> "MISC", "Q31" -> "MISC", "Q32" -> "MISC", "Q33" -> "LOC",
    "Q34" -> "MISC"
  )

  /** Deterministic relation rules: (headType, tailType) → predicate, with
    * predicates drawn from the REAL 96-relation DocRED vocabulary
    * (graft.kb.DocREDVocab.relations — Wikidata property ids; the reference
    * classifies into exactly this space, `GLRE+KIRE/data/loader.py:100-112`).
    * Stands in for the reference's learned pair classifier at the fixture
    * level; the scored kernel (graft.pipeline.RelationScorer) refines these
    * with per-pair features + adaptive-threshold decode. Not all type pairs
    * produce a relation (NA class, `ATLOP+KIRE/prepro.py:126-143`). */
  val relRules: Seq[(String, String, String)] = Seq(
    ("MISC", "MISC", "P361"),  // part of
    ("PER", "MISC", "P800"),   // notable work
    ("MISC", "ORG", "P127"),   // owned by
    ("ORG", "PER", "P488"),    // chairperson
    ("LOC", "MISC", "P1441"),  // present in work
    ("ORG", "ORG", "P355")     // subsidiary
  )

  /** KB triple store (h, r, t) for one-hop subgraph extraction (J2).
    * KB-side predicates are Wikidata property ids too, but from the OPEN
    * Wikidata space — the KB vocabulary is independent of the 96-relation
    * output vocabulary (the reference's KG dumps carry arbitrary pids,
    * `gen_kg_data.py:370-394`); `kbRel2rel` maps the overlap. */
  val kgTriples: Seq[(String, String, String)] = Seq(
    ("Q1", "P178", "Q8"),    // developer
    ("Q1", "P366", "Q2"),    // has use
    ("Q2", "P460", "Q3"),    // said to be the same as
    ("Q4", "P463", "Q8"),    // member of
    ("Q5", "P361", "Q1"),    // part of
    ("Q6", "P361", "Q1"),
    ("Q7", "P361", "Q1"),
    ("Q9", "P400", "Q1"),    // platform
    ("Q10", "P2283", "Q2"),  // uses
    ("Q10", "P2283", "Q3"),
    ("Q11", "P1542", "Q10"), // has effect
    ("Q13", "P1542", "Q11"),
    ("Q14", "P1542", "Q3"),
    ("Q15", "P1056", "Q7"),  // product produced
    ("Q30", "P2283", "Q2"),  // multi-word-linked entity in the one-hop graph
    ("Q31", "P460", "Q30"),
    ("Q20", "P1545", "Q21")  // fully outside any document: must be pruned
  )

  /** KB-predicate → output-relation map for the knowledge-injection layer:
    * a direct KB edge (h, pid, t) is evidence for the mapped 96-vocabulary
    * relation between the pair (the relational distillation of the
    * reference's KG-adjacency injection,
    * `ATLOP+KIRE/knowledge_injection_layer/modules.py:23-185`,
    * `kg_data_loader.py:125-153`). Values MUST be DocREDVocab relations. */
  val kbRel2rel: Seq[(String, String)] = Seq(
    "P178" -> "P178",   // developer is itself a DocRED relation
    "P366" -> "P1056",  // has use → product or material produced
    "P460" -> "P361",   // same-as → part of
    "P463" -> "P463",   // member of is itself a DocRED relation
    "P361" -> "P361",   // part of
    "P400" -> "P361",   // platform → part of
    "P2283" -> "P737",  // uses → influenced by
    "P1542" -> "P737",  // has effect → influenced by
    "P1056" -> "P1056", // product produced
    "P1545" -> "P361"   // series ordinal → part of (KB-only, outside docs)
  )

  /** Entity attributes (qid, kind, text); kinds follow the reference's four
    * attribute strings. description/alias default to label when absent
    * (`gen_kg_data.py:578-608`) — Q9/Q10 intentionally lack them. */
  val kgAttrs: Seq[(String, String, String)] = Seq(
    ("Q1", "label", "spark engine"),
    ("Q1", "description", "distributed compute engine"),
    ("Q1", "instance of", "software"),
    ("Q1", "alias", "apache spark"),
    ("Q2", "label", "hash"),
    ("Q2", "description", "hash function"),
    ("Q2", "instance of", "algorithm"),
    ("Q3", "label", "merge"),
    ("Q3", "instance of", "algorithm"),
    ("Q4", "label", "customer"),
    ("Q4", "instance of", "person"),
    ("Q5", "label", "vector"),
    ("Q6", "label", "window"),
    ("Q7", "label", "stream"),
    ("Q8", "label", "table org"),
    ("Q8", "description", "an organization"),
    ("Q9", "label", "query"),
    ("Q10", "label", "join"),
    ("Q11", "label", "scan"),
    ("Q13", "label", "filter"),
    ("Q14", "label", "sort"),
    ("Q15", "label", "batch co"),
    ("Q17", "label", "column"),
    ("Q18", "label", "group org"),
    ("Q30", "label", "hash join"),
    ("Q30", "instance of", "algorithm"),
    ("Q31", "label", "sort merge join")
  )

  /** Cap on tokens per sentence: punctuation-delimited segments longer than
    * this are subdivided into fixed chunks (the T7 rule-based splitter's
    * run-on guard; on punctuation-less web text every doc is one segment and
    * this cap alone bounds the co-occurrence scope). */
  val SentenceChunk = 16

  /** Abbreviation tokens that end in '.' but do NOT close a sentence — the
    * T7 splitter's post-fix list (the reference's GENIA path carried ~20
    * such fixes, `GLRE+KIRE/data_processing/tools.py:246-305`). Compared
    * lowercase against the whole token. */
  val abbreviations: Seq[String] = Seq(
    "dr.", "mr.", "mrs.", "ms.", "prof.", "st.", "no.", "vs.", "etc.",
    "e.g.", "i.e.", "u.s.", "inc.", "co.", "jr.", "sr.", "fig.", "al.")

  // ---- SQL VALUES generation (DuckDB oracle side) ----

  private def lit(s: String) = "'" + s.replace("'", "''") + "'"

  def aliasValues: String =
    aliases.map { case (a, q, p) => s"(${lit(a)}, ${lit(q)}, $p)" }.mkString(", ")

  def typeValues: String =
    entityTypes.map { case (q, t) => s"(${lit(q)}, ${lit(t)})" }.mkString(", ")

  def ruleValues: String =
    relRules.map { case (h, t, p) => s"(${lit(h)}, ${lit(t)}, ${lit(p)})" }.mkString(", ")

  def kgTripleValues: String =
    kgTriples.map { case (h, r, t) => s"(${lit(h)}, ${lit(r)}, ${lit(t)})" }.mkString(", ")

  def kgAttrValues: String =
    kgAttrs.map { case (q, k, t) => s"(${lit(q)}, ${lit(k)}, ${lit(t)})" }.mkString(", ")

  /** DuckDB `IN (...)` list of abbreviation tokens. */
  def abbrevSqlList: String = abbreviations.map(lit).mkString("(", ", ", ")")

  def kbRel2relValues: String =
    kbRel2rel.map { case (k, r) => s"(${lit(k)}, ${lit(r)})" }.mkString(", ")
}
