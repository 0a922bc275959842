package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.Stages
import graft.sources.Pages

/** Incremental KG construction over a continuous crawl feed — the
  * Structured Streaming twin of the batch extraction path.
  *
  * The reference is batch-only (its corpora are static dumps; SURVEY §2.10),
  * but the engine's input is a crawl: pages arrive forever, and a production
  * deployment re-runs extraction per crawl increment. This module expresses
  * that as a streaming job instead of scheduled batches:
  *
  *   readStream(pages) → mapPartitions extraction kernel → first-seen upsert
  *
  * Scale design:
  *  - The extraction kernel (`Stages.extractTriplesKernel`, the
  *    projection of the runner's `RelationScorer.extractKernelFused`) is a
  *    stateless per-partition transform, so the stream runs the batch
  *    kernel as is — same broadcast dictionaries, zero shuffle per batch.
  *    Stream rows are pinned identical to the batch kernel in StreamingSpec.
  *  - Doc-level triples (doc_id in the key) need NO cross-batch state: the
  *    kernel emits each (pair, relation) once per document, so with unique
  *    doc_id (the kernel's documented precondition) the output is already
  *    globally distinct.
  *  - KB-level triples (doc_id dropped) DO need cross-batch state — the same
  *    (subj, pred, obj) re-extracted from a later crawl batch must not be
  *    re-emitted. `netNewTriples` keeps one boolean state entry per distinct
  *    triple via flatMapGroupsWithState and emits each triple exactly once,
  *    in the first micro-batch that produces it: each batch's output is the
  *    KG delta, ready for an append-only sink or a MERGE via foreachBatch.
  *    State size is |KG|, not |input| — at 100 TB back it with the RocksDB
  *    state store (spark.sql.streaming.stateStore.providerClass) and shard
  *    via spark.sql.shuffle.partitions; the alternative with bounded state,
  *    dropDuplicatesWithinWatermark on warc_ts, trades exactness for a
  *    retention horizon and is the right call when the sink itself dedups.
  */
object StreamingExtraction {

  case class KbTriple(subj: String, pred: String, obj: String)

  /** ceil(inputBytes / targetBytes) clamped to [1, prevPartitions] — the
    * pure clamp behind [[withDerivedStatePartitions]], factored out so the
    * scale behavior (small feed → 1, production feed → the configured
    * count, never 0, never above it) is spec-pinnable without a stream. */
  private[graft] def derivedStatePartitions(prevPartitions: Int,
                                                inputBytes: Long,
                                                targetBytes: Long): Int =
    math.max(1L, math.min(prevPartitions.toLong,
      (inputBytes + targetBytes - 1) / math.max(1L, targetBytes))).toInt

  /** Run `f` (a bounded stream lifecycle: start → processAllAvailable →
    * stop) with `spark.sql.shuffle.partitions` — which fixes the stream's
    * STATE-STORE partition count at first batch — DERIVED from the feed's
    * input bytes instead of inherited as-is: ceil(inputBytes /
    * advisoryPartitionSizeInBytes), clamped to [1, current shuffle
    * partitions]. Guide §2.2 (partitions sized by the data, not a constant
    * tuned for either local mode or the cluster) applied to the one shuffle
    * AQE cannot coalesce — stateful streaming disables AQE, so a bounded
    * feed of a few MB otherwise pays `shuffle.partitions` state-store
    * opens + commits PER MICRO-BATCH of pure fixed cost (measured at
    * local[32]/sf0.1: 32→4 partitions halves each stateful stream query
    * with bit-identical terminal state — the running aggregates are
    * partitioning-invariant, spec-pinned). The clamp ceiling keeps cluster
    * behavior unchanged: any input ≥ partitions × advisory bytes (every
    * production crawl) derives ≥ the configured count and is capped to it.
    * Override: SPARK_GRAFT_STREAM_STATE_PARTITIONS. The conf is restored
    * after the stream stops, so the caller's terminal batch aggregation
    * runs at the session's own setting; state-partition count is
    * per-checkpoint, so the temp-checkpoint streams never mix counts. */
  private def withDerivedStatePartitions[T](spark: SparkSession,
                                            dirs: Seq[String])(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val target = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")))
    val bytes = dirs.map { d =>
      Option(new java.io.File(d).listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(fl => fl.isFile && !fl.getName.startsWith("_") &&
          !fl.getName.startsWith("."))
        .map(_.length).sum
    }.sum
    val derived = sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
      .map(_.toInt)
      .getOrElse(derivedStatePartitions(prev.toInt, bytes, target))
    spark.conf.set("spark.sql.shuffle.partitions", derived.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Streaming pages source over a directory of documents-schema parquet
    * files. `maxFilesPerTrigger` bounds each micro-batch (a crawl increment
    * in the sandbox); the column derivation is byte-identical to the batch
    * `Pages.fromDocuments`. */
  def pagesStream(spark: SparkSession, docsDir: String,
                  maxFilesPerTrigger: Int = Int.MaxValue): DataFrame = {
    val schema = spark.read.parquet(docsDir).schema
    Pages.derive(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(docsDir))
  }

  /** Per-batch doc-level extraction: the batch mapPartitions kernel applied
    * to the stream. Stateless — no watermark, no shuffle. */
  def triples(pages: DataFrame, spark: SparkSession): DataFrame =
    Stages.extractTriplesKernel(pages, spark)

  /** First-seen KB upsert: emits each distinct (subj, pred, obj) exactly
    * once across the whole stream, in the micro-batch that first extracts
    * it. One boolean state entry per distinct triple (see scale note above). */
  def netNewTriples(docTriples: DataFrame, spark: SparkSession): Dataset[KbTriple] = {
    import spark.implicits._
    docTriples.select(col("subj"), col("pred"), col("obj")).as[KbTriple]
      .groupByKey(identity)
      .flatMapGroupsWithState[Boolean, KbTriple](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (triple: KbTriple, _: Iterator[KbTriple], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(triple) }
      }
  }

  /** Full streaming path over a bounded documents dir, driven to completion
    * into a memory sink (test/sandbox harness; production uses a parquet /
    * foreachBatch-MERGE sink). Returns the collected table. */
  def runBoundedDocLevel(spark: SparkSession, docsDir: String, name: String,
                         maxFilesPerTrigger: Int = Int.MaxValue): DataFrame = {
    val q = triples(pagesStream(spark, docsDir, maxFilesPerTrigger), spark)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  /** Bounded run of the stateful KB upsert (memory sink). */
  def runBoundedKbUpsert(spark: SparkSession, docsDir: String, name: String,
                         maxFilesPerTrigger: Int = Int.MaxValue): DataFrame =
    withDerivedStatePartitions(spark, Seq(docsDir)) {
      val q = netNewTriples(
          triples(pagesStream(spark, docsDir, maxFilesPerTrigger), spark), spark)
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }

  /** STREAMING EXACT DEDUP — canonicalize the crawl feed before batch
    * processing: a streaming aggregation keeps the running MIN(doc_id) per
    * content hash; each micro-batch emits the changed (hash, min) rows in
    * Update mode, and the terminal min over all emitted updates IS the
    * batch answer. Because min is order-insensitive, the result is
    * SPLIT-INVARIANT: any assignment of files to micro-batches yields the
    * same canonical map (unlike first-seen-wins, whose winner depends on
    * arrival order). State: one (hash, long) entry per distinct content —
    * RocksDB-backed at crawl scale, like `netNewTriples`. Production sinks
    * the per-batch deltas via foreachBatch MERGE; the sandbox harness uses
    * a memory sink and takes the terminal min. */
  def runBoundedDedup(spark: SparkSession, docsDir: String, name: String,
                      maxFilesPerTrigger: Int = Int.MaxValue): DataFrame =
    withDerivedStatePartitions(spark, Seq(docsDir)) {
      val schema = spark.read.parquet(docsDir).schema
      val updates = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(docsDir)
        .select(md5(col("text").cast("binary")).as("content_md5"), col("doc_id"))
        .groupBy("content_md5").agg(min(col("doc_id")).as("keep_doc"))
      val q = updates.writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      // the memory sink accumulates every per-batch update row; the running
      // mins are monotone, so the terminal min per hash is the global min
      spark.table(name).groupBy("content_md5").agg(min(col("keep_doc")).as("keep_doc"))
    }

  /** STREAMING KG FUSION — the corpus-KG snapshot aggregate
    * ([[graft.pipeline.KgFusion.fuse]]) as a RUNNING streaming aggregation:
    * per (subj, pred, obj) the support count and first evidence doc update
    * as crawl files arrive, so the fused KG is continuously current
    * instead of rebuilt per snapshot.
    *
    * One stateful aggregation (same shape as [[runBoundedDedup]]):
    * groupBy(triple).agg(count, min(doc_id)) in Update mode. Support
    * counts doc witnesses under the crawl-feed contract that each document
    * arrives EXACTLY ONCE and its kernel emission is per-doc-distinct —
    * count then equals countDistinct(doc_id), which streaming cannot
    * express directly. A feed with re-deliveries needs the keyed-state
    * dedup in front (the `netNewTriples` pattern on (triple, doc)), at one
    * boolean state entry per (triple, doc) — the documented trade.
    *
    * Split-invariance: count and min are order-insensitive, so the
    * terminal row per triple equals the batch fuse whatever the
    * file-to-micro-batch assignment (pinned in StreamingSpec). The rule
    * kernel carries no per-doc score, so max_milli is the kernel's
    * 1000-milli constant and fused confidence is the support-capped bonus
    * on top — exactly `KgBuild.buildSnapshot(inject = false)`'s fusion
    * input normalization. */
  def runBoundedFusion(spark: SparkSession, docsDir: String, name: String,
                       maxFilesPerTrigger: Int = Int.MaxValue): DataFrame =
    withDerivedStatePartitions(spark, Seq(docsDir)) {
      import graft.pipeline.KgFusion
      val updates = triples(pagesStream(spark, docsDir, maxFilesPerTrigger), spark)
        .groupBy(col("subj"), col("pred"), col("obj"))
        .agg(count(lit(1)).as("support"), min(col("doc_id")).as("first_doc"))
      val q = updates.writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      // per-batch update rows are monotone (support grows, first_doc shrinks):
      // the terminal state per triple is max(support), min(first_doc)
      spark.table(name).groupBy(col("subj"), col("pred"), col("obj"))
        .agg(max(col("support")).as("support"), min(col("first_doc")).as("first_doc"))
        .withColumn("max_milli", lit(1000L))
        .withColumn("fused_milli", col("max_milli") +
          lit(KgFusion.WSupportMilli) * least(col("support") - 1, lit(KgFusion.SupportCap)))
    }

  /** BOUNDED-STATE streaming dedup — the `dropDuplicatesWithinWatermark`
    * twin the exact running-min dedup's scale note promises. Dedup key =
    * content hash, event time = `warc_ts`: the state entry for a hash is
    * EVICTED once the watermark passes its first-seen event time + `delay`,
    * so state size is bounded by the horizon's distinct-content count
    * instead of growing with |distinct content over the whole crawl|.
    *
    * The trade (documented AND spec-pinned in StreamingSpec): a duplicate
    * arriving more than `delay` after the watermark passes its original is
    * treated as NEW content and re-emitted. Right when the sink dedups
    * idempotently (MERGE on content hash) or downstream tolerates horizon
    * re-crawls; wrong for an append-only sink needing global exactness —
    * use [[runBoundedDedup]]'s running-min aggregation there (unbounded
    * state, RocksDB-backed). Unlike the running min, output here is
    * FIRST-SEEN-WINS and therefore arrival-order-dependent — inherent to
    * any bounded-horizon dedup (a global order-insensitive min needs the
    * full key history). */
  def dedupWithinHorizon(docs: DataFrame, delay: String): DataFrame =
    docs
      .select(md5(col("text").cast("binary")).as("content_md5"),
        col("doc_id"), col("warc_ts"))
      .withWatermark("warc_ts", delay)
      .dropDuplicatesWithinWatermark("content_md5")

  /** Stage the exact-duplicate-planted corpus (normalized docs + copies of
    * docs 0..19, `Corpora.withExactDups`) into an n-file feed directory —
    * positives for the streaming dedup. Same source-fingerprint keying as
    * [[stageDocsDir]]. */
  /** Streaming INCREMENTAL dedup — the snapshot-delta ingestion loop as a
    * stream: new pages arrive continuously, the PREVIOUS snapshot's
    * content-md5 and LSH-band index tables join in as STATIC sides
    * (stream-static joins re-read a static plan per micro-batch; on a real
    * deployment they are the previous Iceberg snapshot).
    *
    * Same three levels as the batch `Dedup.incrementalDedup`, re-shaped
    * for the one-aggregation-per-stream rule:
    *   - vs-index exact: stream-static LEFT-ANTI on the content hash;
    *   - vs-index near: band signatures computed IN-ROW
    *     (`Dedup.inRowBandSigs` — the batch form's two groupBys would be a
    *     second and third aggregation), exploded and left-joined against
    *     the static band index (distinct'd once at query start);
    *   - within-delta exact: THE one streaming aggregation — running
    *     (min doc_id, max near_hit) per content hash, Update mode; both
    *     running values are monotone, so the terminal min/max per key is
    *     the global answer (split-invariant, same argument as
    *     `runBoundedDedup`).
    * Output rows: (content_md5, keep_doc, near_hit) — identical DATA to
    * the batch operator's (md5, doc_id, near_hit), spec-pinned. */
  def runBoundedIncrementalDedup(spark: SparkSession, deltaDir: String,
                                 indexMd5: DataFrame, indexBands: DataFrame,
                                 name: String,
                                 maxFilesPerTrigger: Int = Int.MaxValue): DataFrame =
    withDerivedStatePartitions(spark, Seq(deltaDir)) {
    val schema = spark.read.parquet(deltaDir).schema
    // a stream-static join re-executes the static PLAN every micro-batch;
    // if the caller passes a derived index (as the demo does: exact +
    // minhash over the standing corpus), that derivation would re-run per
    // trigger. Materialize both static sides ONCE — the production
    // equivalent is reading the previous snapshot's already-written index
    // TABLE, so the eager pin is the honest model, not an optimization.
    val md5Idx = indexMd5.withColumnRenamed("md5", "content_md5")
      .localCheckpoint(true)
    val bandsIdx = indexBands.select(col("band"), col("band_sig")).distinct()
      .withColumn("hit", lit(1))
      .localCheckpoint(true)
    val updates = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(deltaDir)
      .select(col("doc_id"), col("text"), md5(col("text")).as("content_md5"))
      .join(md5Idx, Seq("content_md5"), "left_anti")
      .select(col("doc_id"), col("content_md5"),
        explode_outer(graft.ops.Dedup.inRowBandSigs(col("text"))).as("b"))
      .select(col("doc_id"), col("content_md5"),
        col("b.band").as("band"), col("b.band_sig").as("band_sig"))
      .join(bandsIdx, Seq("band", "band_sig"), "left_outer")
      .groupBy("content_md5")
      .agg(min(col("doc_id")).as("keep_doc"),
        max(coalesce(col("hit"), lit(0))).as("near_hit"))
    val q = updates.writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    spark.table(name).groupBy("content_md5")
      .agg(min(col("keep_doc")).as("keep_doc"),
        max(col("near_hit")).as("near_hit"))
  }

  /** Stage the incremental-split DELTA feed (derived content — versioned
    * like the dupdocs stage). */
  def stageDeltaDocsDir(spark: SparkSession, sfDir: String, n: Int): String = {
    val out = stagePathFor(sfDir, n,
      s"deltadocs_v${graft.ops.Corpora.IncrSplitVersion}")
    val done = new java.io.File(out, "_SUCCESS")
    if (!done.exists()) {
      graft.ops.Corpora.incrementalSplit(
          graft.ops.Corpora.normDocs(spark, sfDir))._2
        .repartition(n).write.mode("overwrite").parquet(out)
    }
    out
  }

  def stageDupDocsDir(spark: SparkSession, sfDir: String, n: Int): String = {
    // v-token: unlike stageDocsDir (a pure copy, source fingerprint alone
    // suffices), this stage DERIVES content — bump the version whenever
    // Corpora.withExactDups / normDocs semantics change, or the stale
    // staged corpus would silently diverge from the freshly-built oracle
    val out = stagePathFor(sfDir, n, s"dupdocs_v${graft.ops.Corpora.DupPlantVersion}")
    val done = new java.io.File(out, "_SUCCESS")
    if (!done.exists()) {
      graft.ops.Corpora.withExactDups(graft.ops.Corpora.normDocs(spark, sfDir))
        .repartition(n).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Stage a single documents.parquet into an n-file directory — the sandbox
    * stand-in for a crawl feed directory (each file ≈ one crawl increment).
    * Deterministic content; idempotent per (sfDir, n, source content) via
    * marker file. The staged path is keyed on a fingerprint of the SOURCE
    * file listing (names + sizes + mtimes), so regenerating the testdata
    * invalidates the stage instead of silently replaying stale documents
    * against a fresh oracle (the same stale-cache class `Scaling`'s layout
    * token guards against). */
  def stageDocsDir(spark: SparkSession, sfDir: String, n: Int): String = {
    val out = stagePathFor(sfDir, n, "docs")
    val done = new java.io.File(out, "_SUCCESS")
    if (!done.exists()) {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(n).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Staged-feed path keyed on a fingerprint of the SOURCE file listing
    * (names + sizes + mtimes): regenerating the testdata invalidates the
    * stage instead of silently replaying stale documents. */
  private def stagePathFor(sfDir: String, n: Int, tag: String): String = {
    val src = new java.io.File(s"$sfDir/documents.parquet")
    val listing = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    val srcTok = java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"/tmp/graft_stream_${tag}_${n}f_${srcTok}_" +
      sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
  }
}
