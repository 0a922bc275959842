package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The end-to-end production job: pages → triples, with the north_rule's
  * operational contract:
  *
  *  - **dataflow**: one scoring-kernel pass over the cached pages (mention
  *    match, link, pair-gen and decode in-row), each row joined back to its
  *    page's bucket, one distinct, then the per-bucket sink. The kernel's
  *    rows are written as they are: the linker resolves every alias to ONE
  *    qid, so the per-document union-find of [[Canonicalize]] would map
  *    every entity to itself (PipelineSpec pins that invariant).
  *  - **bucketed partitioning**: work is split by pmod(xxhash64(url), N) —
  *    the parquet stand-in for Iceberg's bucket(url) partition transform
  *    (no Iceberg runtime ships in this sandbox; the manifest logic below
  *    is exactly what Iceberg snapshot metadata would give us for free).
  *  - **per-partition lineage rows**: one row per bucket with status +
  *    exact count + its own wall time, appended to a JSON-lines manifest
  *    ([[CommitLog]]) immediately after that bucket commits.
  *  - **metrics**: doc count from the cache-materializing `count()` action
  *    (exactly-once — accumulators in transformations over-count on retry);
  *    per-bucket triple counts via `Dataset.observe` on the write action
  *    itself (zero extra job, exactly-once by contract).
  *  - **resume from checkpoint**: each bucket is written with `overwrite`
  *    to its own partition path BEFORE its manifest row is appended, so a
  *    crash at any point leaves every bucket either (a) absent from the
  *    manifest — replayed idempotently by overwrite — or (b) fully
  *    committed. A re-run replays ONLY buckets not yet marked done.
  *
  * Scale note: the per-bucket loop re-scans the input once per pending
  * bucket; at production scale `bucket` is the Iceberg partition key, so
  * each scan partition-prunes to exactly that bucket's files — total read
  * volume equals the single-job plan, with checkpoint granularity gained.
  * In this sandbox the cached DataFrames make the loop equally cheap.
  */
object TripleExtraction {

  case class RunMetrics(buckets: Seq[Int], docs: Long, triples: Long, wallMillis: Long)

  val NumBuckets = 16

  def bucketOf = pmod(xxhash64(col("url")), lit(NumBuckets)).cast("int")

  private def manifestPath(outDir: String) = Paths.get(outDir, "_lineage.jsonl")

  /** Full-record shape of a bucket's commit line (the writer below owns the
    * field order); a torn line does not match, so its bucket replays. */
  private val DoneLine =
    """\{"bucket":(\d+),"status":"done","n_triples":(\d+),"wall_ms":(\d+)\}""".r

  /** Buckets already marked done in the lineage manifest. */
  def doneBuckets(outDir: String): Set[Int] =
    CommitLog.read(manifestPath(outDir), DoneLine).map(_.head.toInt).toSet

  /** Run (or resume) the extraction job. `lang` applies the P10 language
    * predicate (input_hint lang column) — partition-prunable at the Iceberg
    * scan in production. `inject = true` scores through the
    * knowledge-injection kernel (KIRE's actual configuration: KG structure,
    * attributes, and coref fused into the decode) instead of the base
    * scorer — same sinks, lineage, and resume semantics.
    *
    * `gold` (a labeled slice — dev set, audit sample) turns on post-run
    * eval telemetry: after the last bucket commits, the job appends ONE
    * `"status":"metrics"` line to the lineage manifest carrying the
    * distributed theta sweep's best operating point (W2's `thetaSweepBinned`
    * — bounded at ≤ nBins rows driver-side, never the exact row sweep) and
    * recall per sentence-distance bucket (A13) — the production job's own
    * PR/recall telemetry, not a separate eval run. Returns metrics for the
    * buckets processed in THIS invocation (empty if everything was
    * already done). */
  def run(pages: DataFrame, outDir: String, spark: SparkSession,
          lang: Option[String] = None, inject: Boolean = false,
          gold: Option[DataFrame] = None): RunMetrics = {
    Files.createDirectories(Paths.get(outDir))
    val done = doneBuckets(outDir)
    val pending = (0 until NumBuckets).filterNot(done)
    if (pending.isEmpty) return RunMetrics(Nil, 0, 0, 0)

    val t0 = System.currentTimeMillis()
    val work = lang.foldLeft(pages)((df, l) => df.filter(col("lang") === l))
      .withColumn("bucket", bucketOf)
      .filter(col("bucket").isin(pending: _*))
      .cache()
    // materializes the cache deterministically AND yields the exact
    // docs-read-this-run metric in one action
    val nDocs = work.count()

    // production path: scoring runs the ZERO-SHUFFLE fused kernels over the
    // cached work set (rule: RelationScorer.extractKernelFused; injected:
    // KnowledgeInjection.extractInjectedFused — each checked against its
    // oracle, q_scored_triples / q_injected_triples). The injected kernel
    // scores in fixed-point millis; normalize so the telemetry sweep sees
    // one double `score` column from either kernel.
    val scoredFull =
      (if (inject) KnowledgeInjection.extractInjectedFused(work, spark)
         .withColumn("score", col("score_milli") / lit(1000.0))
       else RelationScorer.extractKernelFused(work, spark))
    // each row joins back to its page's bucket; the one distinct collapses
    // the per-row copies a duplicated doc_id makes the kernels emit
    val routed = scoredFull.select("doc_id", "subj", "pred", "obj")
      .join(work.select("doc_id", "bucket"), Seq("doc_id"))
      .distinct()
      .cache()

    var totalTriples = 0L
    pending.foreach { b =>
      val tb = System.currentTimeMillis()
      val obs = Observation(s"graft.bucket.$b.${t0}")
      routed.filter(col("bucket") === b).drop("bucket")
        .observe(obs, count(lit(1)).as("n_triples"))
        .write.mode("overwrite").parquet(s"$outDir/triples/bucket=$b")
      val n = obs.get("n_triples").asInstanceOf[Long]
      totalTriples += n
      val wallB = System.currentTimeMillis() - tb
      // commit point: the bucket's data is fully written before this line
      CommitLog.append(manifestPath(outDir),
        s"""{"bucket":$b,"status":"done","n_triples":$n,"wall_ms":$wallB}""")
    }
    // post-run eval telemetry (only with a labeled slice): best operating
    // point from the BINNED sweep (driver sees ≤ nBins rows) + per-distance
    // recall (≤ 13 bucket rows) — appended after every bucket's commit so a
    // crash mid-metrics never loses lineage
    gold.foreach { g =>
      val sweep = graft.eval.Evaluator.thetaSweepBinned(
        scoredFull.select(col("doc_id"), col("subj"), col("pred"), col("obj"),
          col("score")), g)
      val bestOpt = sweep.filter(col("is_best")).collect().headOption
      val linked = Stages.linkedFast(Stages.mentionsKernel(work, spark), spark)
      val rec = graft.eval.Evaluator.recallByDistanceBucket(
          routed.select("doc_id", "subj", "pred", "obj"), g,
          RelationScorer.pairFeatures(linked))
        .orderBy(col("bucket")).collect()
        .map(r => s"""{"bucket":${r.getInt(0)},"n_gold":${r.getLong(1)},""" +
          s""""recall_permille":${r.getLong(3)}}""")
        .mkString("[", ",", "]")
      val head = bestOpt.map { b =>
        f""""best_theta":${b.getDouble(1)}%.6f,"p_permille":${b.getLong(5)},""" +
          s""""r_permille":${b.getLong(6)},"f1_permille":${b.getLong(7)},"""
      }.getOrElse("")
      CommitLog.append(manifestPath(outDir),
        s"""{"status":"metrics",$head"recall_by_dist":$rec}""")
    }
    work.unpersist()
    routed.unpersist()
    RunMetrics(pending, nDocs, totalTriples, System.currentTimeMillis() - t0)
  }
}
