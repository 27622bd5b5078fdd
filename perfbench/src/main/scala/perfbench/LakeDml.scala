package perfbench

import graft.lake.{Catalog, Layout}
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** The lake DML phase of `queries_cold`: the client runs the plan's
  * seeded SQL script — INSERT, MERGE and DELETE interleaved with point,
  * range, aggregate and `VERSION AS OF` reads — against one
  * `GraftCatalog` table created `PARTITIONED BY (source)` with the
  * checkpoint and skipping TBLPROPERTIES. */
object LakeDml {

  final case class Stmt(kind: String, sql: String, userBytes: Long)
  val writes = Set("insert", "merge", "delete")

  private def register(ctx: Ctx, cat: String, root: String): Unit = {
    ctx.spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
    ctx.spark.conf.set(s"spark.sql.catalog.$cat.root", root)
  }
  private def sub(sql: String, table: String) = sql.replace("{T}", table)

  /** One fixture set-up: register the catalog on fresh root `k` and
    * CREATE the table with its properties. */
  def create(ctx: Ctx, k: Int): Unit = {
    register(ctx, s"pb$k", s"${ctx.plan.str("lake_root")}/r$k")
    ctx.spark.sql(sub(ctx.plan.str("create_sql"), s"pb$k.lake"))
  }

  /** Seed table `k` from the events input (untimed warm-up). */
  def seed(ctx: Ctx, k: Int): Unit = {
    graft.Events.events(ctx.spark, ctx.plan.data).createOrReplaceTempView("perfbench_events")
    ctx.spark.sql(sub(ctx.plan.str("seed_sql"), s"pb$k.lake"))
  }

  /** Run the script on table `k`; returns each statement's seconds. */
  def run(ctx: Ctx, k: Int): Seq[Double] = {
    val spark = ctx.spark
    val plan = ctx.plan
    val r = ctx.report
    val lakeRoot = plan.str("lake_root")
    val script = scala.io.Source.fromFile(plan.str("statements"), "UTF-8").getLines().map { l =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
      Stmt(n.get("kind").asText(), n.get("sql").asText(), n.get("user_bytes").asLong())
    }.toIndexedSeq
    val asofBack = plan.int("asof_back")
    r.i("table_properties", plan.str("table_properties"))
    val table = s"pb$k.lake"
    val layout = Layout(s"$lakeRoot/r$k")
    val logDir = new java.io.File(s"${layout.catalogDir}/_log")
    def logNames = Option(logDir.list()).getOrElse(Array.empty[String]).toSeq
    def checkpoints = logNames.count(_.endsWith(".checkpoint"))
    def tailLen = {
      val names = logNames
      val cp = names.filter(_.endsWith(".checkpoint"))
        .map(_.stripSuffix(".checkpoint").toLong).foldLeft(0L)(math.max)
      names.count(n => n.endsWith(".commit") && n.stripSuffix(".commit").toLong > cp)
    }

    final class Done(val i: Int, val stmt: Stmt, val s: Double, val planMs: Double,
        val fs: Map[String, Long], val bytes: Long, val fold: Boolean,
        val opened: Int, val live: Int)
    val done = scala.collection.mutable.ArrayBuffer[Done]()
    val readResults = new java.util.ArrayList[Any]()
    var tailMax = tailLen
    var folds = 0
    val bytesStart = CountingFs.bytesWritten()
    var i = 0
    while (i < script.length) {
      val st = script(i)
      val sql = sub(st.sql, table)
        .replace("{V}", math.max(1L, Catalog.headVersion(spark, layout) - asofBack).toString)
      val label = s"stmt$i"
      if (ctx.trace) { SparkTrace.label(spark, label); CountingFs.openedData.clear() }
      val fsBefore = if (ctx.trace) CountingFs.snapshot() else Map.empty[String, Long]
      val bBefore = CountingFs.bytesWritten()
      val cpBefore = if (ctx.trace) checkpoints else 0
      val t0 = System.nanoTime()
      val df: DataFrame = spark.sql(sql)
      val rows = if (writes(st.kind)) Array.empty[org.apache.spark.sql.Row] else df.collect()
      val t = Sys.secs(t0)
      Sys.log(f"$label ${st.kind} $t%.3f s")
      if (ctx.trace) SparkTrace.label(spark, null)
      if (!writes(st.kind))
        readResults.add(Map("i" -> i, "kind" -> st.kind,
          "rows" -> rows.map(_.toSeq.map(v => if (v == null) null else v.toString).asJava).toSeq.asJava).asJava)
      if (ctx.trace) {
        val fsAfter = CountingFs.snapshot()
        val delta = (fsAfter.keySet ++ fsBefore.keySet).map(k =>
          k -> (fsAfter.getOrElse(k, 0L) - fsBefore.getOrElse(k, 0L))).toMap
        val fold = writes(st.kind) && checkpoints > cpBefore
        if (fold) folds += 1
        tailMax = math.max(tailMax, tailLen)
        val opened = CountingFs.openedData.asScala.count(p => p.contains("/lake/source="))
        val live = if (writes(st.kind)) 0 else Catalog.lakeFilesAsOf(spark, layout).size
        done += new Done(i, st, t, df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble,
          delta, CountingFs.bytesWritten() - bBefore, fold, opened, live)
      } else done += new Done(i, st, t, 0.0, Map.empty, 0L, false, 0, 0)
      i += 1
    }
    val bytesRun = CountingFs.bytesWritten() - bytesStart

    val finalRows = spark.sql(s"SELECT source, count(*) AS n, sum(cents) AS cents " +
      s"FROM $table GROUP BY source ORDER BY source").collect()
      .map(x => Seq(x.getString(0), x.getLong(1).toString, x.getLong(2).toString).asJava).toSeq

    val reads = done.filterNot(d => writes(d.stmt.kind)).map(_.s).toSeq
    val (readTail, readTailPct) = Stats.tail(reads)
    r.m("read_p50_s", Stats.median(reads))
    r.m("read_tail_s", readTail)
    r.i("read_tail_pct", readTailPct)
    r.i("read_n", reads.length)
    r.i("statements_by_kind", done.groupBy(_.stmt.kind).view.mapValues(_.length).toMap.asJava)
    r.check.put("executed", done.length)
    r.check.put("final", finalRows.asJava)
    r.check.put("reads", readResults)

    if (ctx.trace) {
      val tt = ctx.tasks.get
      Thread.sleep(500) // let the listener bus deliver the last task ends
      val w = done.filter(d => writes(d.stmt.kind)).toSeq
      def p50(kind: String) = Stats.median(done.filter(_.stmt.kind == kind).map(_.s).toSeq)
      def perCommit(f: Done => Double) = if (w.isEmpty) 0.0 else w.map(f).sum / w.length
      r.m("dml.insert_s_p50", p50("insert"))
      r.m("dml.merge_s_p50", p50("merge"))
      r.m("dml.delete_s_p50", p50("delete"))
      r.m("dml.plan_ms_p50", Stats.median(w.map(_.planMs)))
      r.m("dml.jobs_per_commit", perCommit(d =>
        Option(tt.byOp.get(s"stmt${d.i}")).map(_.jobs.get.toDouble).getOrElse(0.0)))
      r.m("dml.fold_commit_s", Stats.median(w.filter(_.fold).map(_.s)))
      r.m("dml.plain_commit_s", Stats.median(w.filterNot(_.fold).map(_.s)))
      CountingFs.ops.foreach(o => r.m(s"fs.commit.$o", perCommit(d => CountingFs.total(d.fs, o).toDouble)))
      r.m("fs.commit.log_requests", perCommit(d => CountingFs.logTotal(d.fs).toDouble))
      r.m("fs.commit.mb_written", perCommit(_.bytes / 1e6))
      Seq("point", "range", "agg", "asof").foreach(k => r.m(s"read.${k}_s_p50", p50(k)))
      val rd = done.filter(d => !writes(d.stmt.kind) && d.live > 0)
      r.m("read.prune_frac", if (rd.isEmpty) 0.0 else rd.map(d => d.opened.toDouble / d.live).sum / rd.length)
      r.m("log.commits_end", Catalog.headVersion(spark, layout))
      r.m("log.checkpoints", folds)
      r.m("log.tail_max", tailMax)
      r.m("lake.files_live", Catalog.lakeFilesAsOf(spark, layout).size)
      r.m("lake.dv_files", Catalog.dvFilesAsOf(spark, layout).size)
      r.m("lake.write_amp", bytesRun.toDouble / math.max(1L, w.map(_.stmt.userBytes).sum))
    }
    done.map(_.s).toSeq
  }
}
