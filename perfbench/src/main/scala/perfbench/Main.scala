package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: `perfbench.Main <plan.json>`.
  * `run.py` writes the plan (workload, inputs, seconds, trace) and
  * checks the report this writes to the plan's `out` path. */
object Main {
  def main(args: Array[String]): Unit = {
    // exit explicitly: the program's HTTP edge and relay leave
    // non-daemon threads behind
    val code = try { run(Plan.load(args(0))); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(plan: Plan): Unit = {
    val report = new Report
    val (spark, sessionS) = Sys.timed(session(plan))
    report.m("setup.session_s", sessionS)
    report.i("nproc", plan.cpus)
    report.i("heap_max_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    report.i("spark_master", spark.sparkContext.master)
    report.i("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    val tasks = if (plan.trace) Some(new SparkTrace(spark)) else None
    tasks.foreach(spark.sparkContext.addSparkListener)
    val streams = if (plan.trace) Some(new StreamTrace) else None
    streams.foreach(spark.streams.addListener)
    if (plan.trace) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFs], s"request counter not installed: ${fs.getClass}")
    }
    val ctx = new Ctx(spark, plan, report, tasks, streams)
    try {
      plan.workload match {
        case "queries_cold" => QueriesCold.run(ctx)
        case "ingest_loop" => IngestLoop.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      report.m("peak_rss_mb", Sys.peakRssMb())
      val setup = Seq("setup.session_s", "setup.warmup_s", "setup.fixture_s")
        .map(k => report.metrics.get(k).asInstanceOf[Double]).sum
      report.m("setup_s", setup)
      report.write(plan.out)
      Sys.log("report written")
    } finally spark.stop()
  }

  private def session(plan: Plan): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .appName(s"perfbench-${plan.workload}")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${plan.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${plan.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${plan.work}/tmp")
    if (plan.trace) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      CountingFs.root = plan.str("lake_root")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // a `file` FileSystem cached during start-up from a conf without the
    // counter would bypass it; drop the cache so lookups rebuild from
    // the session's conf
    if (plan.trace) org.apache.hadoop.fs.FileSystem.closeAll()
    s
  }
}
