package perfbench

import graft.ops.{Buckets, Corpora, Dedup, KgGraph}
import graft.pipeline._
import graft.sources.Pages
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run inside one JVM: set-up, a timed closed loop of the
  * workload's entry point (one caller, one run at a time, local[4]), and with
  * `--trace 1` the traced run, the layer prefix chain and a local[1] pass.
  * It writes its raw measurements as JSON; `run.py` checks the outputs and
  * derives the metrics.
  *
  * Usage: Harness --workload W --input DIR --work DIR --seconds S --trace 0|1
  *          --result FILE
  */
object Harness {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(opt("workload"))
    val in = opt("input")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val counters = new Counters

    // set-up: JVM start, session start and one untimed warm-up run. A cold
    // JVM spends most of it on one-time class loading, reflection and code
    // generation, so it is done once per process.
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis() - jvmStart
    val spark = session(work, Cores, counters)
    workload.run(spark, in, s"$work/warmup")
    val setupS = (System.nanoTime() - t0) / 1e9 + startMs / 1e3

    // timed closed loop
    val reps = ArrayBuffer.empty[String]
    val walls = ArrayBuffer.empty[Double]
    val loopStart = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val out = s"$work/rep-$i"
      ListenerBus.drain(spark.sparkContext)
      val s0 = counters.snapshot
      val t0 = System.nanoTime()
      val err = try { workload.run(spark, in, out); None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(spark.sparkContext)
      val d = counters.snapshot - s0
      if (err.isEmpty) walls += wall
      reps += Json.obj("dir" -> Json.str(out), "wall_s" -> Json.num(wall),
        "cpu_s" -> Json.num(d.cpuS), "gc_s" -> Json.num(d.gcS),
        "tasks" -> Json.num(d.tasks), "jobs" -> Json.num(d.jobs),
        "shuffle_mb" -> Json.num(d.shuffleMb), "spill_mb" -> Json.num(d.spillMb),
        "out_bytes" -> Json.num(dirBytes(out)),
        "error" -> err.map(Json.str).getOrElse("null"))
      i += 1
    }
    val peakRssKb = vmHwmKb()

    val traceJson = if (!trace) "null" else {
      val sorted = walls.sorted
      val median = if (sorted.isEmpty) Double.NaN else sorted(sorted.size / 2)
      Tracing.run(spark, counters, workload, in, work, median)
    }
    spark.stop()

    val json = Json.obj(
      "workload" -> Json.str(workload.name),
      "setup_s" -> Json.num(setupS),
      "reps" -> Json.arr(reps.toSeq),
      "peak_rss_kb" -> Json.num(peakRssKb),
      "trace" -> traceJson)
    Files.writeString(Paths.get(opt("result")), json)
  }

  def session(work: String, cores: Int, counters: Counters): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(counters)
    s
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

/** The workloads, each a call into graft's public entry points over the
  * generated input directory `in`. */
sealed trait Workload {
  def name: String
  def run(spark: SparkSession, in: String, out: String): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "docred_dense" => DocredDense
    case "kg_increment" => KgIncrement
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The production runner, rule scoring, over `in/documents.parquet`. */
case object DocredDense extends Workload {
  val name = "docred_dense"
  def run(spark: SparkSession, in: String, out: String): Unit =
    TripleExtraction.run(Pages.fromDocuments(spark, in), out, spark)
}

/** The incremental KG build over two crawls, `in/snap0` and `in/snap1`. Each
  * crawl is near-dup clustered first (committed under `out/clusters`); only
  * the kept canonical pages enter `KgBuild.buildSnapshot` (injected scoring,
  * the fixture sameAs table of q_kg_pipeline), so mirror copies do not add
  * support to the fused KG. */
case object KgIncrement extends Workload {
  val name = "kg_increment"
  val MinPermille = 600

  def crawl(in: String, snap: Int): String = s"$in/snap$snap"

  def sameAs(spark: SparkSession, in: String): DataFrame =
    spark.read.parquet(s"$in/sameas.parquet")

  def run(spark: SparkSession, in: String, out: String): Unit = {
    val sa = sameAs(spark, in)
    for (snap <- 0 to 1) {
      val clusters = s"$out/clusters/snap=$snap"
      Dedup.nearDupClusters(Corpora.normDocs(spark, crawl(in, snap)), MinPermille, spark)
        .write.parquet(clusters)
      KgBuild.buildSnapshot(keptPages(spark, in, snap, clusters), out, snap, spark,
        inject = true, sameAs = Some(sa))
    }
  }

  def keptPages(spark: SparkSession, in: String, snap: Int, clusters: String): DataFrame =
    Pages.fromDocuments(spark, crawl(in, snap))
      .join(spark.read.parquet(clusters).filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")

  /** `KgBuild.buildSnapshot`'s sameAs remap in front of the fuse. */
  def sameAsRemap(scored: DataFrame, sameAs: DataFrame): DataFrame = {
    val canon = KgGraph.sameAsCanon(sameAs)
    scored
      .join(canon.select(col("v").as("subj"), col("comp").as("cs")), Seq("subj"), "left")
      .join(canon.select(col("v").as("obj"), col("comp").as("co")), Seq("obj"), "left")
      .select(col("doc_id"),
        coalesce(col("cs"), col("subj")).as("subj"), col("pred"),
        coalesce(col("co"), col("obj")).as("obj"), col("score_milli"))
      .filter(col("subj") =!= col("obj"))
  }
}

/** The traced run: one full run with task intervals recorded, then each
  * layer's public call forced with a `noop` write over its cached input, in
  * pipeline order. Caching the input of each layer makes the layer's action
  * time the difference between consecutive cumulative prefixes. `verify_cc`
  * is `nearDupClusters` minus the sketch and candidate layers it contains;
  * the layer not called on its own (sink, kg_write) is the full run minus
  * all the others. */
object Tracing {
  case class Span(name: String, parent: String, runId: String, startMs: Long, endMs: Long)

  class Tracer(spark: SparkSession, counters: Counters, runId: String) {
    val spans = ArrayBuffer.empty[Span]
    val self = mutable.LinkedHashMap.empty[String, Double]
    val snaps = mutable.LinkedHashMap.empty[String, Snapshot]
    val rows = mutable.LinkedHashMap.empty[String, Long]
    val skew = mutable.LinkedHashMap.empty[String, Double]
    private val last = mutable.Map.empty[String, (Double, Snapshot)]
    private var obsId = 0

    /** Runs `body` as one span; returns its wall seconds, counter delta and
      * task intervals. */
    def timed(name: String, parent: String)(body: => Unit): (Double, Snapshot, Seq[(Long, Long)]) = {
      ListenerBus.drain(spark.sparkContext)
      counters.takeIntervals()
      val s0 = counters.snapshot
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      ListenerBus.drain(spark.sparkContext)
      spans += Span(name, parent, runId, w0, w1)
      (wall, counters.snapshot - s0, counters.takeIntervals())
    }

    /** Writes `df` (noop, or parquet at `path`) and returns its row count. */
    def write(df: DataFrame, path: Option[String] = None): Long = {
      obsId += 1
      val obs = Observation(s"perfbench.$runId.$obsId")
      val w = df.observe(obs, count(lit(1)).as("n")).write
      path.fold(w.format("noop").mode("overwrite").save())(w.parquet)
      obs.get("n").asInstanceOf[Long]
    }

    /** Runs `action`, which returns its row count, as (part of) layer `name`,
      * minus the latest self time and counters of the layers in `minus`
      * that it recomputes. */
    def layer(name: String, minus: Seq[String] = Nil)(action: => Long): Long = {
      var n = 0L
      val (wall, d, iv) = timed(name, "prefix_chain") { n = action }
      val (selfS, selfD) = minus.map(last).foldLeft((wall, d)) {
        case ((w, x), (lw, lx)) => (w - lw, x - lx)
      }
      last(name) = (selfS, selfD)
      self(name) = self.getOrElse(name, 0.0) + selfS
      snaps(name) = snaps.getOrElse(name, Snapshot.zero) + selfD
      rows(name) = rows.getOrElse(name, 0L) + n
      skew(name) = math.max(skew.getOrElse(name, 0.0), Counters.skew(iv))
      n
    }

    /** Forces `df` with a noop write as layer `name`. */
    def force(name: String, df: DataFrame): Long = layer(name)(write(df))
  }

  def run(spark: SparkSession, counters: Counters, w: Workload, in: String,
          work: String, untracedMedian: Double): String = {
    val runId = s"${w.name}-${System.currentTimeMillis()}"
    val tr = new Tracer(spark, counters, runId)
    counters.intervals = true

    // 1. one full run with task intervals recorded
    val fullDir = s"$work/traced"
    val (fullS, fullD, fullIv) = tr.timed("run", "") { w.run(spark, in, fullDir) }
    val root = tr.spans.last
    val idleS = (root.endMs - root.startMs - Counters.busyMs(fullIv, root.startMs, root.endMs)) / 1e3

    // 2. the layer prefix chain
    val extra = mutable.LinkedHashMap.empty[String, Double]
    val chain = tr.timed("prefix_chain", "") {
      w match {
        case DocredDense =>
          val pages = Pages.fromDocuments(spark, in).cache()
          val nDocs = tr.force("pages", pages)
          val ments = Stages.mentionsKernel(pages, spark).cache()
          val nMent = tr.force("mentions", ments)
          val linked = Stages.linkedFast(ments, spark).cache()
          val nLinked = tr.force("link", linked)
          val scored = RelationScorer.extractKernelFused(pages, spark)
            .select("doc_id", "subj", "pred", "obj").cache()
          val nScored = tr.force("score", scored)
          val canon = Canonicalize(scored, linked, spark).cache()
          tr.force("canonicalize", canon)
          val kept = tr.write(scored.join(canon, Seq("doc_id", "subj", "pred", "obj"), "left_semi"))
          extra("link.hit_ratio") = nLinked.toDouble / math.max(nMent, 1L)
          extra("score.triples_per_doc") = nScored.toDouble / math.max(nDocs, 1L)
          extra("canonicalize.useful_ratio") = (nScored - kept).toDouble / math.max(nScored, 1L)
          Seq(canon, scored, linked, ments, pages).foreach(_.unpersist())
        case KgIncrement =>
          val sa = KgIncrement.sameAs(spark, in)
          var nKept, nScored, nCand, nRaw = 0L
          for (snap <- 0 to 1) {
            val docs = Corpora.normDocs(spark, KgIncrement.crawl(in, snap)).cache()
            tr.force("pages", docs)
            val sk = Dedup.docSketches(docs, spark).cache()
            tr.force("sketch", sk)
            val bands = sk.select(col("doc_id"), explode(col("bands")).as("b"))
              .select(col("doc_id"), col("b.band").as("band"), col("b.band_sig").as("band_sig"))
            val cands = Dedup.lshCandidates(bands).cache()
            nCand += tr.force("candidates", cands)
            nRaw += tr.write(Buckets.pairsWithin(bands, Seq("band", "band_sig"), "doc_id",
              Dedup.MaxBandDf, dedup = false))
            // the benchmark verifies these pairs itself for candidates.verify_ratio
            cands.coalesce(1).write.parquet(s"$work/trace-candidates/snap=$snap")
            val clusters = s"$work/trace-clusters/snap=$snap"
            tr.layer("verify_cc", minus = Seq("sketch", "candidates")) {
              tr.write(Dedup.nearDupClusters(docs, KgIncrement.MinPermille, spark), Some(clusters))
            }
            val pages = KgIncrement.keptPages(spark, in, snap, clusters).cache()
            nKept += tr.force("pages", pages)
            val scored = KnowledgeInjection.extractInjectedFused(pages, spark)
              .select("doc_id", "subj", "pred", "obj", "score_milli").cache()
            nScored += tr.force("inject", scored)
            tr.force("fuse", KgFusion.fuse(KgIncrement.sameAsRemap(scored, sa)))
            Seq(scored, pages, cands, sk, docs).foreach(_.unpersist())
          }
          extra("inject.triples_per_doc") = nScored.toDouble / math.max(nKept, 1L)
          extra("candidates.dup_ratio") = nRaw.toDouble / math.max(nCand, 1L)
      }
    }

    // the layer not called on its own: the full run minus all the others
    val residual = w match {
      case DocredDense => "sink"
      case KgIncrement => "kg_write"
    }
    tr.self(residual) = fullS - tr.self.values.sum
    tr.snaps(residual) = fullD - tr.snaps.values.foldLeft(Snapshot.zero)(_ + _)
    tr.rows(residual) = 0L // filled in from the expected output
    val layerSum = tr.self.values.sum
    val layerJson = tr.self.keys.toSeq.map { l =>
      val d = tr.snaps(l)
      l -> Json.obj("self_s" -> Json.num(tr.self(l)), "cpu_s" -> Json.num(d.cpuS),
        "gc_s" -> Json.num(d.gcS), "tasks" -> Json.num(d.tasks),
        "shuffle_mb" -> Json.num(d.shuffleMb), "spill_mb" -> Json.num(d.spillMb),
        "rows_out" -> Json.num(tr.rows(l)), "jobs" -> Json.num(d.jobs),
        "stages" -> Json.num(d.stages), "task_skew" -> Json.num(tr.skew.getOrElse(l, 0.0)))
    }
    counters.intervals = false
    counters.takeIntervals()

    // 3. N -> 4N efficiency of the runner: one local[1] pass, JIT already
    // warm. The KG workload reports none, to keep a traced run short.
    val local1S = if (w != DocredDense) Double.NaN else {
      spark.stop()
      val spark1 = Harness.session(work, 1, counters)
      try {
        val t1 = System.nanoTime()
        w.run(spark1, in, s"$work/local1")
        (System.nanoTime() - t1) / 1e9
      } finally spark1.stop()
    }

    Json.obj(
      "run_id" -> Json.str(runId),
      "full_run_s" -> Json.num(fullS),
      "untraced_median_s" -> Json.num(untracedMedian),
      "overhead_s" -> Json.num(fullS - untracedMedian),
      "layer_sum_s" -> Json.num(layerSum),
      "prefix_chain_s" -> Json.num(chain._1),
      "local1_s" -> Json.num(local1S),
      "eff_1to4" -> Json.num(local1S / (Harness.Cores * untracedMedian)),
      "driver" -> Json.obj("self_s" -> Json.num(fullS), "cpu_s" -> Json.num(fullD.cpuS),
        "gc_s" -> Json.num(fullD.gcS), "tasks" -> Json.num(fullD.tasks),
        "shuffle_mb" -> Json.num(fullD.shuffleMb), "spill_mb" -> Json.num(fullD.spillMb),
        "jobs" -> Json.num(fullD.jobs), "stages" -> Json.num(fullD.stages),
        "idle_s" -> Json.num(idleS), "out_bytes" -> Json.num(Harness.dirBytes(fullDir)),
        "dir" -> Json.str(fullDir)),
      "layers" -> Json.obj(layerJson: _*),
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> Json.arr(tr.spans.toSeq.map { s =>
        Json.obj("name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
          "run_id" -> Json.str(s.runId), "start_ms" -> Json.num(s.startMs),
          "end_ms" -> Json.num(s.endMs))
      }))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
