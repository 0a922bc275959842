package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Stages
import graft.sources.Pages

/** Two-parallelism scaling benchmark — the sandbox proxy for the
  * north_rule's "N and 4N executors with ≥0.8 throughput scaling
  * efficiency": the same job on the same input at local[8] vs local[32].
  *
  * The corpus is the sf documents table replicated REPLICAS× in-plan
  * (deterministic cross join with a replica-id sequence) so the job is
  * compute-bound enough for parallelism to matter; each replica gets a
  * distinct doc_id so no stage can collapse the duplication.
  *
  * Prints one JSON line per parallelism level plus a final efficiency line:
  *   eff = (docs_per_sec@32 / docs_per_sec@8) / (32/8)
  */
object Scaling {

  def Replicas: Int = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "20").toInt

  def replicatedPages(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(spark.range(Replicas).select(col("id").as("replica")))
      .select((col("doc_id") * Replicas + col("replica")).as("doc_id"),
        col("text"), col("lang"))
      // the single-row-group input + broadcast NL join would otherwise put
      // ALL heavy per-doc work on one task
      .repartition(spark.sparkContext.defaultParallelism * 4)
      .withColumn("url", concat(lit("https://example.org/doc/"), col("doc_id")))
      .withColumn("html", Pages.wrapUdf(col("text"), col("url"), col("lang")))
      .withColumn("text", Pages.extractUdf(col("html")))
    docs.select("url", "html", "text", "lang", "doc_id")
  }

  def session(cpus: Int): SparkSession = {
    // shuffle partitions are a property of the DATA, not the core count:
    // fixing them keeps per-partition hash-agg state small at every level
    // and makes the N vs 4N comparison apples-to-apples.
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.shuffle.partitions", "96")
      // SPARK_GRAFT_AQE=off isolates what AQE's runtime re-planning (skew
      // split, coalesce) contributes vs explicit salting — the enrich jobs'
      // salted-vs-unsalted triangle needs both states measured
      .config("spark.sql.adaptive.enabled",
        (sys.env.getOrElse("SPARK_GRAFT_AQE", "on") != "off").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // split sizing is a property of the DATA too: the default 128 MB
      // bin-packing collapses the ~400 MB corpus into ~8 splits, starving
      // any level above 8 cores. 8 MB splits give every level the same
      // ~100-task scan — the cluster equivalent of Iceberg's split planning.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize the synthetic pages corpus to parquet ONCE (fixture
    * construction — wrap-HTML UDF — is not part of the engine being
    * measured; the production job reads pages from an Iceberg table). */
  def materializedCorpus(spark: SparkSession, sfDir: String): String = {
    // the layout version token invalidates corpora materialized by older
    // code (different file count / repartition scheme) that would otherwise
    // pass the _SUCCESS check and silently skew the comparison
    val layoutV = "v3_128f"
    val path = s"/tmp/graft_scaling_corpus_${layoutV}_r${Replicas}_${sfDir.replaceAll("[^a-z0-9.]", "_")}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      // fixed file count: the corpus layout must not depend on which
      // parallelism level happened to materialize it first
      replicatedPages(spark, sfDir)
        .select("doc_id", "url", "html", "lang")
        .repartition(128)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The job under measurement, selected by SPARK_GRAFT_JOB:
    *  - "rule" (default): pages scan → html→text (native expression) →
    *    the runner's mapPartitions mention/link/pair/decode kernel → count
    *    (`Stages.extractTriplesKernel`, the (doc_id, subj, pred, obj)
    *    projection of `RelationScorer.extractKernelFused`);
    *  - "injected": the same front end feeding the ZERO-SHUFFLE fused
    *    knowledge-injection kernel (broadcast-KB entity knowledge +
    *    96-class decode) — the complete KIRE-shaped pipeline;
    *  - "enrich": the big-KB attribute-enrichment join
    *    (`Enrich.attachAttributesLarge` — salted SMJ, the north_star
    *    "sort-merge join on canonical entity id" shape) over a Zipfian
    *    16M-mention table ⋈ 10M-row synthetic attr table;
    *  - "enrich_unsalted": the IDENTICAL join with an empty hot-key set
    *    (same code path, salt 0 everywhere) — isolates the salting delta;
    *  - "dedup": pages scan → html→text → exact-dedup canonical map +
    *    MinHash/LSH candidate pairs (counted together) — the LLM-pipeline
    *    dedup stage's own two-parallelism evidence; reported "triples"
    *    are candidate pairs + duplicate groups;
    *  - "pipeline": pages scan → html→text → the COMPOSED cleaning chain
    *    (`ops.TrainingData.survivors`: lang → quality → repetition →
    *    decontam → exact dedup; bench slice = doc_id %% 97) — the
    *    LLM-training-data policy end-to-end; reported "triples" are
    *    surviving documents;
    *  - "kg": the corpus-level KG-fusion stage over a MATERIALIZED
    *    per-document injected-triple table (built once from the replicated
    *    corpus by the injected kernel) — `KgFusion.fuse`'s
    *    countDistinct(doc_id) forces a real shuffle of every input row
    *    (each replica is a distinct supporting doc), then the capped
    *    confidence + argmax join; "docs" are input triple rows, "triples"
    *    fused KG rows;
    *  - "pagerank": `ops.PageRank.run` (5 fixed-point iterations) over a
    *    materialized synthetic Zipfian-in-degree graph
    *    (SPARK_GRAFT_EDGES, default 20M edges / 2M vertices — hub
    *    vertices hold ~7%% of in-edges, the "human"/country case) —
    *    iterative join+groupBy scaling evidence; "docs" are edges,
    *    "triples" ranked vertices. */
  // lazy val: the job/dict selection is read and validated exactly ONCE per
  // process — a mid-run env mutation can never mix kernels (or dictionaries)
  // within one sweep's output labels
  lazy val Job: String = {
    val j = sys.env.getOrElse("SPARK_GRAFT_JOB", "rule")
    // a typo must fail loudly, not silently bench the rule kernel under
    // the typo'd label
    require(Set("rule", "injected", "enrich", "enrich_unsalted", "dedup",
      "pipeline", "kg", "pagerank").contains(j),
      s"SPARK_GRAFT_JOB must be rule|injected|enrich|enrich_unsalted|dedup|pipeline|kg|pagerank, got: $j")
    j
  }

  /** SPARK_GRAFT_DICT=file63k benches the rule kernel with the 63k-alias
    * file-backed dictionary (SyntheticDict formats → DictFiles ingest →
    * broadcast), the reference's dictionary scale; default is the
    * Gazetteer fixture dict. */
  lazy val Dict: String = {
    val d = sys.env.getOrElse("SPARK_GRAFT_DICT", "gazetteer")
    require(d == "gazetteer" || d == "file63k",
      s"SPARK_GRAFT_DICT must be gazetteer|file63k, got: $d")
    require(d == "gazetteer" || Job == "rule",
      "file63k dictionary applies to the rule kernel only")
    d
  }

  private def ruleDict(spark: SparkSession)
      : Map[String, Array[Stages.DictEntry]] = Dict match {
    case "file63k" =>
      graft.kb.SyntheticDict.write()
      Stages.kernelDictFrom(Stages.resolveAliasEntries(
        graft.sources.DictFiles.loadAliasEntries(spark,
          graft.kb.SyntheticDict.tsvPath, graft.kb.SyntheticDict.nt3Path),
        graft.kb.Gazetteer.entityTypes.toMap))
    case _ => Stages.kernelDict
  }

  // enrich-job corpus: a Zipfian mention table and a ≥10M-row narrow attr
  // table. Zipf via inverse-CDF of the 1/rank law: rank = floor(Nq^u) for a
  // deterministic per-row uniform u — the head key holds ~|mentions|/ln(Nq)
  // rows (~1.1M), rank 10 ~110k, rank 100 ~11k: real KB-entity popularity.
  val EnrichMentions = 16000000L
  val EnrichQids = 2500000L // × 4 attr kinds = 10M attr rows
  val EnrichHotThreshold = 50000L
  val EnrichSaltFactor = 8

  /** SPARK_GRAFT_HEAD_PERMILLE routes that share of mentions onto ONE qid
    * (Q0) on top of the Zipf base — the parked-domain / "human" hub case.
    * 0 (default) = pure Zipf, whose natural head holds ~7% of mentions. */
  lazy val EnrichHeadPermille: Int = {
    val h = sys.env.getOrElse("SPARK_GRAFT_HEAD_PERMILLE", "0").toInt
    require(h >= 0 && h < 1000, s"SPARK_GRAFT_HEAD_PERMILLE in [0,1000), got $h")
    h
  }

  /** Materialize the enrich tables once (layout-tokened like the corpus). */
  def materializedEnrich(spark: SparkSession): (String, String) = {
    val layoutV = "v1_96f"
    val base = s"/tmp/graft_scaling_enrich_${layoutV}_m${EnrichMentions}_q${EnrichQids}_h$EnrichHeadPermille"
    val mPath = s"$base/mentions"; val aPath = s"$base/attrs"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(aPath, "_SUCCESS"))) {
      // independent per-row hash decides head membership; the Zipf
      // inverse-CDF fills the rest (multipliers sized so id×m stays far
      // under Long.MaxValue — a silent wrap would skew the distribution)
      val zipfQid = least(
        floor(pow(lit(EnrichQids.toDouble),
          (col("id") * 2654435761L % 1000003L) / 1000003.0)) - 1,
        lit(EnrichQids - 1)).cast("long")
      spark.range(EnrichMentions)
        .select(col("id").as("mention_id"),
          concat(lit("Q"),
            when((col("id") * 1499533L % 999983L) / 999983.0
                   < EnrichHeadPermille / 1000.0, lit(0L))
              .otherwise(zipfQid)).as("qid"))
        .repartition(96).write.mode("overwrite").parquet(mPath)
      spark.range(EnrichQids)
        .select(concat(lit("Q"), col("id")).as("qid"),
          explode(typedLit(Seq("label", "description", "instance of", "alias")))
            .as("kind"))
        .select(col("qid"), col("kind"),
          concat(col("qid"), lit("_"), col("kind")).as("text"))
        .repartition(96).write.mode("overwrite").parquet(aPath)
    }
    (mPath, aPath)
  }

  /** One timed enrich join: hot-key detection (part of the production job)
    * + salted SMJ attribute attach + a checksum aggregate that forces the
    * fill columns to materialize (a bare count could prune the join output).
    * The unsalted twin passes an EMPTY hot set through the same code path. */
  private def runEnrichOnce(spark: SparkSession): (Long, Long, Double) = {
    val (mPath, aPath) = materializedEnrich(spark)
    val nMentions = spark.read.parquet(mPath).count()
    val t0 = System.nanoTime()
    val mentions = spark.read.parquet(mPath)
    val attrs = spark.read.parquet(aPath)
    val hot =
      if (Job == "enrich") graft.ops.Skew.hotKeys(mentions, "qid", EnrichHotThreshold)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid",
            org.apache.spark.sql.types.StringType))))
    val joined = graft.pipeline.Enrich.attachAttributesLarge(
      mentions, attrs, hot, EnrichSaltFactor)
    val out = joined.agg(count(lit(1)).as("n"),
      sum(length(col("instance_of"))).as("chk")).head()
    val secs = (System.nanoTime() - t0) / 1e9
    (nMentions, out.getLong(0), secs)
  }

  /** Materialize the per-document injected-triple table once (built by the
    * injected kernel over the replicated corpus — the extraction cost is
    * the "injected" job's measurement, not this one's; the KG stage of a
    * production build reads the triple table its extraction stage wrote). */
  def materializedTriples(spark: SparkSession, sfDir: String): String = {
    val layoutV = "v1_96f"
    // kernel-version token: this cache bakes in the injected-kernel
    // SEMANTICS, not just layout — bump KnowledgeInjection.KernelVersion
    // alongside any extraction-semantics change or the sweep silently
    // benches a stale triple table (ADVICE r5)
    val kernelV = graft.pipeline.KnowledgeInjection.KernelVersion
    val path = s"/tmp/graft_scaling_triples_${layoutV}_k${kernelV}_r${Replicas}_${sfDir.replaceAll("[^a-z0-9.]", "_")}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val corpus = materializedCorpus(spark, sfDir)
      val pages = spark.read.parquet(corpus)
        .withColumn("text", graft.functions.ExtractHtmlText(col("html")))
      graft.pipeline.KnowledgeInjection.extractInjectedFused(pages, spark)
        .select("doc_id", "subj", "pred", "obj", "score_milli")
        .repartition(96).write.mode("overwrite").parquet(path)
    }
    path
  }

  // pagerank-job graph: Zipfian in-degree via the same inverse-CDF 1/rank
  // law as the enrich qids — hub vertices (countries, "human") collect the
  // head of the in-edge mass; sources are uniform.
  lazy val PagerankEdges: Long =
    sys.env.getOrElse("SPARK_GRAFT_EDGES", "20000000").toLong
  lazy val PagerankVertices: Long = math.max(PagerankEdges / 10L, 1000L)

  /** Materialize the synthetic graph once (layout-tokened). */
  def materializedGraph(spark: SparkSession): String = {
    val layoutV = "v1_96f"
    val path = s"/tmp/graft_scaling_graph_${layoutV}_e$PagerankEdges"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val nV = PagerankVertices
      val zipfDst = least(
        floor(pow(lit(nV.toDouble),
          (col("id") * 2654435761L % 1000003L) / 1000003.0)) - 1,
        lit(nV - 1)).cast("long")
      spark.range(PagerankEdges)
        // Knuth multiplier keeps id·m below Long.Max at any edge count the
        // sandbox can hold (ANSI mode makes a silent wrap a hard error)
        .select(concat(lit("V"), col("id") * 2654435761L % nV).as("src"),
          concat(lit("V"), zipfDst).as("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(96).write.mode("overwrite").parquet(path)
    }
    path
  }

  /** One timed KG-fusion pass: triple table scan → fuse → checksum agg
    * (forces support/confidence/argmax columns to materialize). */
  private def runKgOnce(spark: SparkSession, sfDir: String): (Long, Long, Double) = {
    val path = materializedTriples(spark, sfDir)
    val nTriples = spark.read.parquet(path).count()
    val t0 = System.nanoTime()
    val fused = graft.pipeline.KgFusion.fuse(spark.read.parquet(path))
    val out = fused.agg(count(lit(1)).as("n"),
      sum(col("support") + col("fused_milli") + col("is_best")).as("chk")).head()
    val secs = (System.nanoTime() - t0) / 1e9
    (nTriples, out.getLong(0), secs)
  }

  /** One timed PageRank pass over the materialized graph: 5 fixed-point
    * iterations + a mass checksum (rank correctness rides on the oracle;
    * here the sum pins that every iteration actually ran). */
  private def runPagerankOnce(spark: SparkSession): (Long, Long, Double) = {
    val path = materializedGraph(spark)
    val nEdges = spark.read.parquet(path).count()
    val t0 = System.nanoTime()
    val ranked = graft.ops.PageRank.run(spark.read.parquet(path))
    val out = ranked.agg(count(lit(1)).as("n"), sum(col("mass")).as("chk")).head()
    val secs = (System.nanoTime() - t0) / 1e9
    (nEdges, out.getLong(0), secs)
  }

  /** One timed end-to-end extraction over the selected production path.
    * Dictionary load/resolve happens OUTSIDE the timed section — it is
    * per-job setup (the reference loads its pickled dict once too), and
    * the measurement target is per-document throughput. */
  def runOnce(spark: SparkSession, sfDir: String): (Long, Long, Double) = {
    if (Job.startsWith("enrich")) return runEnrichOnce(spark)
    if (Job == "kg") return runKgOnce(spark, sfDir)
    if (Job == "pagerank") return runPagerankOnce(spark)
    val corpus = materializedCorpus(spark, sfDir)
    val nDocs = spark.read.parquet(corpus).count()
    val dict = if (Job == "rule") ruleDict(spark) else null
    val t0 = System.nanoTime()
    val pages = spark.read.parquet(corpus)
      .withColumn("text", graft.functions.ExtractHtmlText(col("html")))
    val nTriples = Job match {
      case "injected" =>
        graft.pipeline.KnowledgeInjection.extractInjectedFused(pages, spark).count()
      case "dedup" =>
        // both dedup families in one timed pass: the exact canonical map
        // (the most-executed operator of any corpus pipeline) and the
        // MinHash→bands→capped-bucket candidate pairs (the near-dup front)
        val corpus = pages.select(col("doc_id"), col("text"))
        val exactGroups = graft.ops.Dedup.exact(corpus)
          .filter(col("group_size") > 1).count()
        val candPairs = graft.ops.Dedup.lshCandidates(
          graft.ops.Dedup.lshBands(graft.ops.Dedup.minhash(corpus, spark)))
          .count()
        exactGroups + candPairs
      case "pipeline" =>
        val c = pages.select(col("doc_id"), col("text"))
        graft.ops.TrainingData.survivors(
          c.filter(col("doc_id") % 97 =!= 0),
          c.filter(col("doc_id") % 97 === 0), spark).count()
      case _ => Stages.extractTriplesKernel(pages, spark, dict).count()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    (nDocs, nTriples, secs)
  }

  def main(args: Array[String]): Unit = {
    // force both lazy selections NOW: a typo'd SPARK_GRAFT_DICT (or the
    // disallowed file63k+injected combo) must fail before minutes of
    // benchmark work run under a wrong label — the injected branch never
    // touches Dict on its own
    locally { val _ = (Job, Dict) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val levels = sys.env.getOrElse("SPARK_GRAFT_LEVELS", "8,32")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    // interleave full level sweeps and keep the best run per level: a
    // transient host-load spike (this box is multi-tenant) then penalizes
    // at most one sweep instead of silently skewing one level
    val best = scala.collection.mutable.Map[Int, (Long, Long, Double)]()
    for (_ <- 1 to rounds; cpus <- levels) {
      val spark = session(cpus)
      runOnce(spark, sfDir) // warm-up (JIT + codegen caches)
      val runs = (1 to reps).map(_ => runOnce(spark, sfDir))
      val r = runs.minBy(_._3)
      if (!best.contains(cpus) || r._3 < best(cpus)._3) best(cpus) = r
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val results = levels.map { cpus =>
      val (docs, triples, secs) = best(cpus)
      val dps = docs / secs
      val tps = triples / secs
      println(f"""{"job":"$Job","dict":"$Dict","cpus":$cpus,"docs":$docs,"triples":$triples,"secs":$secs%.2f,"docs_per_sec":$dps%.0f,"triples_per_sec":$tps%.0f}""")
      cpus -> dps
    }
    for (Seq((c1, d1), (c2, d2)) <- results.sliding(2)) {
      val eff = (d2 / d1) / (c2.toDouble / c1)
      println(f"""{"metric":"scaling_efficiency","from_cores":$c1,"to_cores":$c2,"value":$eff%.3f}""")
    }
    val lo = results.head; val hi = results.last
    val eff = (hi._2 / lo._2) / (hi._1.toDouble / lo._1)
    println(f"""{"metric":"scaling_efficiency","from_cores":${lo._1},"to_cores":${hi._1},"value":$eff%.3f}""")
  }
}
