package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --workdir <dir>`.
  * Prints report lines, then `PERFBENCH_RESULT <json>` with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1). */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val workDir = new java.io.File(opt("workdir"))
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new Run(workload, opt("seed").toLong, opt("seconds").toInt, traced, workDir, spark)
    try {
      val subject = Workloads.run(r)
      if (traced) {
        Probes.run(r, subject)
        r.trace.writeJson(new java.io.File(workDir.getParentFile, s"traces/$workload-${r.seed}.jsonl"))
        r.trace.all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
          r.report(f"span $name n=${ss.size} total_ms=${ss.map(_.ms).sum}%.1f " +
            f"self_ms=${ss.map(r.trace.selfMs).sum}%.1f")
        }
      }
      r.finish()
      r.report(s"attempted=${r.attempted} failed=${r.failed} " +
        f"error_rate=${r.failed.toDouble / math.max(1L, r.attempted)}%.4f")
      println("PERFBENCH_RESULT " + r.resultJson())
    } finally spark.stop()
  }
}
