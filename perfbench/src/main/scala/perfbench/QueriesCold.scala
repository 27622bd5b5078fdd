package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** `queries_cold`: one closed-loop SQL client. It runs the plan's
  * `SparkEntry.queries`, in the plan's (seeded) order, against a fresh
  * artifact root, then the lake DML script ([[LakeDml]]). Each query's
  * rows are all collected inside its timed region; they are written
  * out for the hash check only after the clock stops. */
object QueriesCold {

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val plan = ctx.plan
    val r = ctx.report
    val data = plan.data
    val artifactRoot = graft.ops.Similarity.OracleExportRoot
    require(artifactRoot.startsWith(plan.work),
      s"artifact root $artifactRoot is not this run's fresh directory")

    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
    // fixture, three times: resolve every base table's schema and
    // CREATE the lake table on a fresh root; the last one is measured
    val fixture = (1 to 3).map { k =>
      Sys.timed {
        tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
        LakeDml.create(ctx, k)
      }._2
    }
    // untimed warm-up: seeding the lake table from the events input is
    // the first scan and the first write of the session
    val lake = 3
    val (_, seedS) = Sys.timed(LakeDml.seed(ctx, lake))
    r.m("setup.warmup_s", seedS)
    r.m("setup.fixture_s", Stats.median(fixture))
    Sys.log(s"seed $seedS, fixtures ${fixture.mkString(", ")}")

    val names = plan.strs("queries")
    val registry = SparkEntry.queries
    val modules = plan.node.get("modules")
    val resultsDir = s"${plan.work}/results"
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failures = new java.util.LinkedHashMap[String, Any]()
    val modS = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    var planS, releaseS, buildQueryS = 0.0
    var built = 0
    var known = artifactDirs(artifactRoot)

    names.foreach { name =>
      if (ctx.trace) SparkTrace.label(spark, name)
      try {
        val t0 = System.nanoTime()
        val df = registry(name)(spark, data)
        val rows = df.collect()
        val t = Sys.secs(t0)
        Sys.log(f"$name $t%.3f s")
        times(name) = t
        if (ctx.trace) {
          modS(modules.get(name).asText()) += t
          planS += df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1000.0
          SparkTrace.label(spark, null)
        }
        writeResult(ctx, s"$resultsDir/$name", rows, df.schema)
      } catch {
        case e: Exception =>
          failures.put(name, s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      SparkTrace.label(spark, null)
      if (ctx.trace) {
        val now = artifactDirs(artifactRoot)
        val fresh = now -- known
        if (fresh.nonEmpty && times.contains(name)) buildQueryS += times(name)
        built += fresh.size
        known = now
        releaseS += Sys.timed(graft.ops.Truncate.release())._2
      } else graft.ops.Truncate.release()
    }

    Sys.log("queries done")
    val stmts = LakeDml.run(ctx, lake)
    val ts = times.values.toSeq ++ stmts
    val wall = ts.sum
    val (tail, tailPct) = Stats.tail(ts)
    r.m("wall_s", wall)
    r.m("op_p50_s", Stats.median(ts))
    r.m("op_tail_s", tail)
    r.m("ops_per_s", ts.length / wall)
    r.m("stored_mb", (Sys.duBytes(new java.io.File(artifactRoot)) +
      Sys.duBytes(new java.io.File(s"${plan.str("lake_root")}/r$lake"))) / 1e6)
    r.i("op_tail_pct", tailPct)
    r.i("op_n", ts.length)
    r.i("query_s", times.asJava)
    r.check.put("attempted", names.length)
    r.check.put("failures", failures)
    r.check.put("results_dir", resultsDir)
    val oracle = SparkEntry.oracleSql
    r.check.put("oracle_sql", names.map(n => n -> oracle(n)).toMap.asJava)

    if (ctx.trace) {
      val tt = ctx.tasks.get
      Thread.sleep(500) // let the listener bus deliver the last task ends
      val per = names.flatMap(n => Option(tt.byOp.get(n)))
      def sum(f: TaskTotals => java.util.concurrent.atomic.AtomicLong) = per.map(f(_).get).sum.toDouble
      modules.fieldNames().asScala.map(n => modules.get(n).asText()).toSet
        .foreach((m: String) => r.m(s"q.mod.${m}_s", modS(m)))
      r.m("q.plan_s", planS)
      r.m("q.jobs_per_query_p50", Stats.median(names.map(n =>
        Option(tt.byOp.get(n)).map(_.jobs.get.toDouble).getOrElse(0.0))))
      r.m("q.tasks", sum(_.tasks))
      r.m("q.sched_delay_s", sum(_.schedDelayMs) / 1000.0)
      r.m("q.task_run_s", sum(_.runMs) / 1000.0)
      r.m("q.shuffle_write_mb", sum(_.shuffleWrite) / 1e6)
      r.m("q.shuffle_read_mb", sum(_.shuffleRead) / 1e6)
      r.m("q.spill_mb", sum(_.spill) / 1e6)
      r.m("q.gc_s", sum(_.gcMs) / 1000.0)
      r.m("q.result_mb", sum(_.resultBytes) / 1e6)
      r.m("artifacts.built", built)
      r.m("artifacts.mb", Sys.duBytes(new java.io.File(artifactRoot)) / 1e6)
      r.m("artifacts.build_query_s", buildQueryS)
      r.m("truncate.release_s", releaseS)
    }
  }

  /** Committed artifact directories (`<family>[/v<n>]/k=<key>`). */
  private def artifactDirs(root: String): Set[String] = {
    def walk(f: java.io.File, depth: Int): Seq[String] =
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .filter(d => d.isDirectory && !d.getName.contains(".tmp-")).flatMap { d =>
          if (d.getName.startsWith("k=")) Seq(d.getPath)
          else if (depth < 4) walk(d, depth + 1) else Seq.empty
        }
    walk(new java.io.File(root), 0).toSet
  }

  private def writeResult(ctx: Ctx, dir: String, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType): Unit =
    ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir)
}
