package perfbench

/** Calls each given workload once in a cold JVM, so that the JVM started with
  * `-XX:ArchiveClassesAtExit` writes a class-data sharing archive of the
  * classes a benchmark run loads. Benchmark JVMs start from that archive.
  *
  * Usage: Train WORK (WORKLOAD INPUT)... */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Harness.session(work, Harness.Cores, new Counters)
    try args.drop(1).grouped(2).foreach { case Array(w, in) =>
      Workload(w).run(spark, in, s"$work/$w")
    } finally spark.stop()
  }
}
