package graft

import org.apache.spark.sql.SparkSession

/** Side benchmark harness (guide §1.4): isolate individual declared queries
  * without touching the frozen `Bench` main. Runs each named query
  * `SPARK_GRAFT_REPS` times with the SAME action as the driver bench
  * (.count()), prints per-rep seconds, and optionally dumps
  * `.explain("formatted")` to a file per query.
  *
  *   SPARK_GRAFT_QUERIES=q_dedup_clusters,q_coded_triples \
  *   SPARK_GRAFT_REPS=2 SPARK_GRAFT_PLAN_DIR=plans/r06 \
  *   sbt "runMain graft.BenchExtra"
  *
  * Plan files are named `<query>_<SPARK_GRAFT_PLAN_TAG>.txt` (tag defaults
  * to "before").
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // load-independent structural counters: jobs / stages / tasks /
    // shuffle bytes per timed query (the wall clock on this multi-tenant
    // host is noise; the job structure is the signal)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    })
    def snap() = (jobs.get, stages.get, tasks.get, shufW.get, shufR.get)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      planDir.foreach { dir =>
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(dir, s"${name}_$planTag.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, txt)
        spark.catalog.clearCache()
        graft.ops.DenseIds.releasePersisted()
      }
      var struct = ""
      val times = (1 to reps).map { rep =>
        val s0 = snap()
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(name)
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (rep == reps) {
          val s1 = snap()
          struct = f"jobs=${s1._1 - s0._1} stages=${s1._2 - s0._2} " +
            f"tasks=${s1._3 - s0._3} shufW=${(s1._4 - s0._4) / 1024}KB " +
            f"shufR=${(s1._5 - s0._5) / 1024}KB"
        }
        spark.catalog.clearCache()
        graft.ops.DenseIds.releasePersisted()
        dt
      }
      println(f"[extra] $name%-24s " +
        times.map(t => f"$t%7.2f").mkString(" ") +
        f"  min=${times.min}%7.2f  load=${loadavg()}  $struct")
    }
    spark.stop()
  }

  private def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ").take(1).mkString
    catch { case _: Throwable => "?" }
}
