package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The INCREMENTAL corpus-KG build — the snapshot loop a 10^12-document
  * engine actually runs (`TripleExtraction.run` is the per-crawl extraction
  * job; this is the KG-table lifecycle around it):
  *
  *   crawl N pages → per-doc scored triples → [[KgFusion.fuse]] →
  *   snapshot table `snapshots/snap=N` + delta table `deltas/snap=N`
  *   ([[KgFusion.snapshotDelta]] vs the previous committed snapshot) +
  *   one lineage line in `_kg_manifest.jsonl`.
  *
  * Operational contract (the parquet stand-in for Iceberg snapshots, same
  * justification as TripleExtraction's manifest):
  *
  *  - **commit point**: a snapshot's manifest line is appended only after
  *    BOTH its fused parquet and its delta parquet are fully written; a
  *    crash before that leaves a partial directory that the re-run
  *    overwrites idempotently (`mode=overwrite` to the same paths).
  *  - **resume**: re-invoking with an already-committed snapId is a no-op
  *    (returns the manifest's recorded metrics), so a driver retry loop
  *    can call blindly — the snapshot chain replays only missing links.
  *  - **delta chaining**: the previous snapshot is located from the
  *    manifest (max committed snapId < this one), NOT from directory
  *    listing — an uncommitted partial write can never become a delta
  *    base. Snapshot 0's delta is fuse-vs-empty: every triple 'added'.
  *
  * Scale shape: fuse is the map-side-combinable groupBy family
  * (KgFusion scaladoc); the delta is one full-outer SMJ on the uniform
  * triple key; the triple and status counts are `Dataset.observe`d on the
  * two writes (exactly once per write action) — no extra job, no windows.
  */
object KgBuild {

  case class SnapshotMetrics(snapId: Long, nTriples: Long, added: Long,
                             removed: Long, changed: Long, wallMillis: Long)

  private def manifestPath(outDir: String) = Paths.get(outDir, "_kg_manifest.jsonl")

  /** Full-record shape of one manifest line (we own the writer, so the
    * exact field order is a contract): a TORN line is treated as
    * uncommitted ([[CommitLog]]), so the snapshot is rebuilt idempotently
    * and can never become a bogus delta base. */
  private val DoneLine =
    ("""\{"snap":(-?\d+),"status":"done","n_triples":(-?\d+),""" +
      """"added":(-?\d+),"removed":(-?\d+),"changed":(-?\d+),""" +
      """"wall_ms":(-?\d+)\}""").r

  /** Committed snapshots: snapId → its manifest metrics line. */
  def committed(outDir: String): Map[Long, SnapshotMetrics] =
    CommitLog.read(manifestPath(outDir), DoneLine).map { g =>
      val Seq(id, n, a, r, c, w) = g.map(_.toLong)
      id -> SnapshotMetrics(id, n, a, r, c, w)
    }.toMap

  /** Build (or skip, if committed) snapshot `snapId` from `pages`.
    * `inject` selects the knowledge-injection kernel (KIRE's production
    * configuration) vs the rule kernel — both zero-shuffle fused forms.
    * `sameAs` (columns a, b) turns on cross-document entity
    * canonicalization BEFORE fusing ([[graft.ops.KgGraph.sameAsRemap]]):
    * alias assertions of one fact merge into one support count, and
    * merge-created self-loops are dropped — the q_kg_pipeline order. */
  def buildSnapshot(pages: DataFrame, outDir: String, snapId: Long,
                    spark: SparkSession, inject: Boolean = true,
                    sameAs: Option[DataFrame] = None): SnapshotMetrics = {
    Files.createDirectories(Paths.get(outDir))
    val done = committed(outDir)
    done.get(snapId) match {
      case Some(m) => return m // already committed: resume is a no-op
      case None =>
    }
    require(!done.keys.exists(_ > snapId),
      s"KgBuild: snapshot $snapId is older than committed ${done.keys.max} — " +
        "snapshots commit in order (the delta base is the previous snapshot)")

    val t0 = System.currentTimeMillis()
    val scored0 =
      (if (inject) KnowledgeInjection.extractInjectedFused(pages, spark)
       else RelationScorer.extractKernelFused(pages, spark)
         .withColumn("score_milli", lit(1000L)))
        .select("doc_id", "subj", "pred", "obj", "score_milli")
    val scored = sameAs.fold(scored0)(graft.ops.KgGraph.sameAsRemap(scored0, _))
    val snapObs = Observation(s"graft.kg.snap.$snapId.$t0")
    KgFusion.fuse(scored)
      .observe(snapObs, count(lit(1)).as("n_triples"))
      .write.mode("overwrite").parquet(s"$outDir/snapshots/snap=$snapId")

    // delta base: previous COMMITTED snapshot (manifest, not ls)
    val written = spark.read.parquet(s"$outDir/snapshots/snap=$snapId")
    val prev = done.keys.filter(_ < snapId).maxOption.map(p =>
      spark.read.parquet(s"$outDir/snapshots/snap=$p"))
      .getOrElse(written.filter(lit(false)))
    val deltaObs = Observation(s"graft.kg.delta.$snapId.$t0")
    def nStatus(s: String) = count_if(col("status") === s).as(s)
    KgFusion.snapshotDelta(prev, written)
      .observe(deltaObs, nStatus("added"), nStatus("removed"), nStatus("support_changed"))
      .write.mode("overwrite").parquet(s"$outDir/deltas/snap=$snapId")
    def n(obs: Observation, k: String) = obs.get(k).asInstanceOf[Long]
    val m = SnapshotMetrics(snapId, n(snapObs, "n_triples"), n(deltaObs, "added"),
      n(deltaObs, "removed"), n(deltaObs, "support_changed"), System.currentTimeMillis() - t0)
    // commit point: everything above is durable before this line
    CommitLog.append(manifestPath(outDir),
      s"""{"snap":${m.snapId},"status":"done","n_triples":${m.nTriples},""" +
        s""""added":${m.added},"removed":${m.removed},"changed":${m.changed},""" +
        s""""wall_ms":${m.wallMillis}}""")
    m
  }
}
