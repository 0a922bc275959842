package graft.docred

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.kb.Gazetteer
import graft.core.Schemas.DocREDDoc

/** DocRED/DWIE-shaped document ingestion and the reference's preprocessing
  * semantics, re-expressed relationally:
  *
  *  - JSON scan with explicit schema (S1, `ATLOP+KIRE/prepro.py:30-51`)
  *  - pair generation: all ordered (h,t), h≠t, n·(n−1) per doc
  *    (J4, `ATLOP+KIRE/prepro.py:137-157`)
  *  - entity linking with majority vote over mention candidates, explicit
  *    in-doc `link` override, and NT-fallback ids
  *    (A1, `ATLOP+KIRE/data/gen_kg_data.py:272-304`)
  *  - gold-triple emission: labels mapped through voted entity ids, dedup
  *    (`gen_kg_data.py:306-326`)
  *
  * Tie semantics preserved from the reference: Python's Counter.most_common
  * uses the stable insertion order, i.e. the candidate first produced by the
  * earliest mention wins among equals — here: (count desc, first mention
  * index asc, prio asc, qid asc).
  */
object DocRED {

  val docSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("sents", ArrayType(ArrayType(StringType))),
    StructField("vertexSet", ArrayType(ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("pos", ArrayType(IntegerType)),
      StructField("sent_id", IntegerType),
      StructField("type", StringType),
      StructField("link", StringType),
      // DWIE variant: global token offsets precomputed by the corpus
      // (GLRE+KIRE/data_processing/dwieProcess.py:64-70)
      StructField("absolute_pos", ArrayType(IntegerType))))))),
    StructField("labels", ArrayType(StructType(Seq(
      StructField("h", IntegerType),
      StructField("t", IntegerType),
      StructField("r", StringType),
      StructField("evidence", ArrayType(IntegerType))))))))

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(docSchema).json(path)

  /** Exploded mention table: (title, vertex_id, mention_idx, name, sent_id,
    * pos_start, pos_end, ner_type, link). */
  def mentions(docs: DataFrame): DataFrame =
    docs
      .select(col("title"), posexplode(col("vertexSet")).as(Seq("vertex_id", "ms")))
      .select(col("title"), col("vertex_id"), posexplode(col("ms")).as(Seq("mention_idx", "m")))
      .select(col("title"), col("vertex_id"), col("mention_idx"),
        col("m.name").as("name"), col("m.sent_id").as("sent_id"),
        element_at(col("m.pos"), 1).as("pos_start"),
        element_at(col("m.pos"), 2).as("pos_end"),
        col("m.type").as("ner_type"), col("m.link").as("link"),
        element_at(col("m.absolute_pos"), 1).as("abs_pos_start"))

  /** Ordered pair table: one row per (h,t), h≠t — exactly n·(n−1) rows per
    * doc (asserted in tests, mirroring prepro.py:157). */
  def pairs(docs: DataFrame): DataFrame = {
    // n = 0 guard: sequence(0, -1) is a DESCENDING [0, -1] in Spark, which
    // would emit phantom pairs for empty vertexSets — empty docs emit none
    val ents = docs.select(col("title"), size(col("vertexSet")).as("n"))
      .filter(col("n") > 0)
      .select(col("title"), explode(sequence(lit(0), col("n") - 1)).as("h"), col("n"))
      .select(col("title"), col("h"), explode(sequence(lit(0), col("n") - 1)).as("t"))
      .filter(col("h") =!= col("t"))
    ents
  }

  /** Entity linking with reference vote semantics
    * (`ATLOP+KIRE/data/gen_kg_data.py:272-304`): each mention contributes
    * exactly ONE candidate — its in-doc `link` id when present, else the
    * RESOLVED dictionary id of its normalized name (the reference's
    * label2kgids is single-valued: the two dictionary tiers are collapsed
    * at build time, explicit map first — `gen_kg_data.py:74-87`; our
    * resolvedAliases pins the same collapse). Vote per (title, vertex):
    * Counter.most_common semantics — support desc, ties broken by first
    * insertion = earliest contributing mention (distinct candidates first
    * appear at distinct mentions, so this is total). Unlinked vertices get
    * NT ids numbered densely in (title, vertex_id) order — the reference's
    * global running counter in file order. Returns
    * (title, vertex_id, eid, linked). */
  def linkEntities(docs: DataFrame, spark: SparkSession): DataFrame = {
    import graft.text.Normalize
    import spark.implicits._
    val m = mentions(docs)
    val dict = broadcast(graft.pipeline.Stages.resolvedAliases
      .map(r => (r._1, r._2)).toDF("alias", "dict_qid"))
    val cands = m
      .withColumn("norm_name", Normalize.handleLabel(col("name")))
      .join(dict, col("norm_name") === dict("alias"), "left")
      .withColumn("qid", coalesce(col("link"), col("dict_qid")))
      .filter(col("qid").isNotNull)
      .select("title", "vertex_id", "mention_idx", "qid")
    val voted = cands
      .groupBy("title", "vertex_id", "qid")
      .agg(count(lit(1)).as("support"),
        min(col("mention_idx")).as("first_mention"))
    val w = Window.partitionBy("title", "vertex_id")
      .orderBy(col("support").desc, col("first_mention").asc)
    val winners = voted.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("title"), col("vertex_id"), col("qid"))
    // all vertices (including unlinked) in deterministic order for NT ids
    val allVerts = docs.select(col("title"),
        posexplode(col("vertexSet")).as(Seq("vertex_id", "ms")))
      .select("title", "vertex_id")
    val unlinked0 = allVerts.join(winners, Seq("title", "vertex_id"), "left_anti")
    // NT ids numbered densely in (title, vertex_id) order — two-phase
    // assignment, not a single-partition global window (the unlinked set
    // grows with the corpus)
    val unlinked = graft.ops.DenseIds.globalDenseId(unlinked0, "nt_idx",
        Seq(col("title").asc, col("vertex_id").asc))
      .withColumn("eid", concat(lit("NT"), col("nt_idx")))
      .withColumn("linked", lit(false))
    winners.select(col("title"), col("vertex_id"), col("qid").as("eid"),
        lit(true).as("linked"))
      .union(unlinked.select("title", "vertex_id", "eid", "linked"))
  }

  /** Gold triples: labels (h,t,r) mapped through voted entity ids, global
    * dedup (A2). Returns (title, subj, pred, obj). */
  def goldTriples(docs: DataFrame, entityIds: DataFrame): DataFrame = {
    val labels = docs.select(col("title"), explode(col("labels")).as("l"))
      .select(col("title"), col("l.h").as("h"), col("l.t").as("t"), col("l.r").as("r"))
    labels
      .join(entityIds.select(col("title"), col("vertex_id").as("h"), col("eid").as("subj")),
        Seq("title", "h"))
      .join(entityIds.select(col("title"), col("vertex_id").as("t"), col("eid").as("obj")),
        Seq("title", "t"))
      .select(col("title"), col("subj"), col("r").as("pred"), col("obj"))
      .distinct()
  }

  /** Adapter: a DocRED/DWIE-shaped annotated corpus → the web runner's page
    * contract (url, text, lang, doc_id), so DWIE flows through the SAME
    * TripleExtraction.run → lineage/manifest → triple sinks as web pages
    * (the reference runs DWIE through the same four models it runs DocRED,
    * switching only the vocabulary, `ATLOP+KIRE/prepro.py:15-27`). Text is
    * the token stream re-joined on single spaces; url is a stable synthetic
    * key so bucketing and resume behave exactly as in production.
    *
    * doc_id = xxhash64(title): DISTINCT titles are this adapter's
    * precondition (title is the document key in DocRED/DWIE — same-title
    * rows with different content are corpus corruption upstream of us).
    * The distinct() absorbs exact re-ingestions of a document, which would
    * otherwise violate the extraction kernels' unique-doc_id precondition
    * (a duplicated row emits every triple twice — FusedSpec);
    * a 64-bit hash collision between distinct titles remains a ~2⁻⁶⁴
    * residual per pair. */
  def asPages(docs: DataFrame): DataFrame =
    docs.select(
      concat(lit("dwie://"), col("title")).as("url"),
      concat_ws(" ", flatten(col("sents"))).as("text"),
      lit("en").as("lang"),
      xxhash64(col("title")).as("doc_id"))
      .distinct()

  /** Pair features for the scoring kernel from DocRED vertexSet geometry:
    * minimum sentence distance over the mention cross-product (A7) and
    * same-sentence co-occurrence count. */
  def pairFeatures(docs: DataFrame, entityIds: DataFrame): DataFrame = {
    val m = mentions(docs)
    val h = m.select(col("title"), col("vertex_id").as("h"),
      col("sent_id").as("h_sent"), col("ner_type").as("h_type"))
    val t = m.select(col("title"), col("vertex_id").as("t"),
      col("sent_id").as("t_sent"), col("ner_type").as("t_type"))
    h.join(t, Seq("title"))
      .filter(col("h") =!= col("t"))
      .groupBy("title", "h", "t")
      .agg(
        max(col("h_type")).as("h_type"), max(col("t_type")).as("t_type"),
        min(abs(col("h_sent") - col("t_sent"))).cast("int").as("min_sent_dist"),
        sum(when(col("h_sent") === col("t_sent"), 1L).otherwise(0L)).as("n_cooc"),
        // evidence = the co-occurrence sentences (the deterministic analog of
        // the reference's predicted evidence set, `evaluation.py:143-146`)
        sort_array(collect_set(when(col("h_sent") === col("t_sent"), col("h_sent"))))
          .as("evidence"))
      .join(entityIds.select(col("title"), col("vertex_id").as("h"), col("eid").as("h_qid")),
        Seq("title", "h"))
      .join(entityIds.select(col("title"), col("vertex_id").as("t"), col("eid").as("t_qid")),
        Seq("title", "t"))
  }
}
