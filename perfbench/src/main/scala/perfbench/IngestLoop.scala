package perfbench

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.lake.{Access, Catalog, Distribution, Layout, Replay}
import graft.streaming.{HttpIngestFront, SocketIngest, SocketRelay, StreamIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.jdk.CollectionConverters._

/** `ingest_loop`: an open-loop HTTP load generator, with one sender
  * thread and keep-alive connection per core, drives the reference's
  * own path — `POST /{source}` → `HttpIngestFront` →
  * `SocketRelay` → `SocketIngest.startGated` → bronze →
  * `StreamIngest.start` → `Distribution.pushSubscribe` (one subscriber
  * per source) — through a ladder of fixed rates, then replays one
  * source over the run's interval with `Replay.replay`. */
object IngestLoop {

  final case class Post(id: Long, source: String, body: String)
  /** One sent request: when it was due, sent and answered (nanoTime). */
  final class Sent(val post: Post, val step: Int, val due: Long) {
    @volatile var sent = 0L
    @volatile var acked = 0L
    @volatile var status = 0
    /** its connection was free when it fell due */
    @volatile var onTime = false
  }

  private val IdPattern = "\"event_id\":(-?\\d+)".r.unanchored

  /** One keep-alive HTTP/1.1 connection to the edge, owned by one
    * sender thread: it writes a request whole, then reads its answer. */
  final class Conn(port: Int) {
    private var sock: java.net.Socket = _
    private var in: java.io.InputStream = _
    private var out: java.io.OutputStream = _

    private def open(): Unit = {
      sock = new java.net.Socket("localhost", port)
      sock.setTcpNoDelay(true)
      in = new java.io.BufferedInputStream(sock.getInputStream)
      out = new java.io.BufferedOutputStream(sock.getOutputStream)
    }
    open()

    /** The answer's status, or -1 if the connection failed (it is
      * then reopened for the next request). */
    def post(p: Post, key: String): Int = try {
      val b = p.body.getBytes(UTF_8)
      out.write((s"POST /${p.source} HTTP/1.1\r\nHost: localhost\r\nx-api-key: $key\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n").getBytes(UTF_8))
      out.write(b)
      out.flush()
      val status = line().split(' ')(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        if (h.toLowerCase.startsWith("content-length:")) len = h.substring(15).trim.toInt
        h = line()
      }
      in.readNBytes(len)
      status
    } catch {
      case _: java.io.IOException =>
        close()
        open()
        -1
    }

    private def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("edge closed the connection")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }

    def close(): Unit = try sock.close() catch { case _: java.io.IOException => () }
  }

  /** A running loop over one fresh lake layout. */
  final class Loop(ctx: Ctx, val layout: Layout, sources: Seq[String]) {
    private val spark = ctx.spark
    private val plan = ctx.plan
    private val trig = plan.node.get("trigger_ms")
    private def every(k: String) = Trigger.ProcessingTime(trig.get(k).asLong(), TimeUnit.MILLISECONDS)

    /** (subscribed source, event id, nanoTime seen) */
    val delivered = new ConcurrentLinkedQueue[(String, Long, Long)]()
    // negative control for the self-test: lose one delivered record
    private val dropOne = new AtomicBoolean(plan.node.path("drop_delivery").asBoolean(false))

    sources.foreach { s =>
      Access.register(spark, layout, s, key(s), quota = 1000000000L,
        registeredMs = System.currentTimeMillis())
      new java.io.File(layout.bronzeSourceDir(s)).mkdirs()
      new java.io.File(Distribution.topicPath(layout, s)).mkdirs()
    }
    val relay = new SocketRelay(clientPort = 0, servePort = 0)
    private val (reg, used) = HttpIngestFront.snapshot(spark, layout, System.currentTimeMillis())
    val front = new HttpIngestFront(0, "localhost", relay.clientPortBound, reg, used)
    val socketQ: StreamingQuery = SocketIngest.startGated(spark, layout, "localhost",
      relay.servePortBound, every("socket"))
    val ingestQ: StreamingQuery = StreamIngest.start(spark, layout, every("ingest"))
    val subQs: Seq[StreamingQuery] = sources.map { s =>
      Distribution.pushSubscribe(spark, layout, s, "perfbench", every("sub")) { (b: DataFrame) =>
        val seen = System.nanoTime()
        b.select("json").collect().foreach { r =>
          r.getString(0) match {
            case IdPattern(id) if id.toLong >= 0 && dropOne.compareAndSet(true, false) => ()
            case IdPattern(id) => delivered.add((s, id.toLong, seen))
            case other => delivered.add((s, Long.MinValue, seen))
          }
        }
      }
    }
    def queries: Seq[StreamingQuery] = Seq(socketQ, ingestQ) ++ subQs

    def awaitFirstProgress(timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (queries.exists(_.lastProgress == null)) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        require(System.nanoTime() < deadline, "streams did not start")
        Thread.sleep(10)
      }
    }

    def stopStreams(): Unit = {
      subQs.foreach(_.stop())
      socketQ.stop()
      ingestQ.stop()
      front.close()
      relay.close()
    }
  }

  def key(source: String): String = s"perfbench-key-$source"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val plan = ctx.plan
    val r = ctx.report
    val lakeRoot = plan.str("lake_root")
    val sources = plan.strs("sources")
    val posts = scala.io.Source.fromFile(plan.str("posts"), "UTF-8").getLines().map { l =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
      Post(n.get("id").asLong(), n.get("source").asText(), n.get("body").asText())
    }.toIndexedSeq
    val rates = plan.dbls("rates")
    val stepS = plan.dbl("step_s")
    val tailLimitS = plan.dbl("tail_limit_s")
    r.i("trigger_ms", plan.node.get("trigger_ms").toString)
    r.i("rates_per_s", rates.mkString(","))
    r.i("step_s", stepS)
    r.i("tail_limit_s", tailLimitS)

    def send(c: Conn, s: Sent): Unit = {
      s.sent = System.nanoTime()
      s.status = c.post(s.post, key(s.post.source))
      s.acked = System.nanoTime()
    }
    var loop: Loop = null
    def awaitDelivered(ids: Set[Long], timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (System.nanoTime() < deadline &&
        !ids.subsetOf(loop.delivered.asScala.iterator.map(_._2).toSet)) {
        loop.queries.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(20)
      }
    }

    // fixture: register keys, start the edge and every stream and wait
    // for each stream's first trigger. The untimed warm-up (one record
    // per source through the whole loop) is posted as soon as the edge
    // answers, so the cold start and the warm-up overlap; the warm-up
    // is the time from the last first trigger to the last delivery.
    val t0Setup = System.nanoTime()
    loop = new Loop(ctx, Layout(s"$lakeRoot/r1"), sources)
    val warm = sources.zipWithIndex.map { case (s, i) =>
      new Sent(Post(-1L - i, s, s"""{"event_id":${-1L - i},"warmup":true}"""), -1, System.nanoTime())
    }
    val warmConn = new Conn(loop.front.portBound)
    warm.foreach(send(warmConn, _))
    warmConn.close()
    loop.awaitFirstProgress(120)
    val fixtureS = Sys.secs(t0Setup)
    awaitDelivered(warm.map(_.post.id).toSet, 120)
    val warmS = Sys.secs(t0Setup) - fixtureS
    r.m("setup.fixture_s", fixtureS)
    r.m("setup.warmup_s", warmS)
    Sys.log(s"fixture $fixtureS, warm-up $warmS")
    val layout = loop.layout
    loop.delivered.clear()
    ctx.streams.foreach(_.recording = true)

    // the open-loop ladder: request j of step i is due at its fixed time
    val runStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime() + 50000000L
    val schedule = {
      var at = t0
      var next = 0
      rates.zipWithIndex.flatMap { case (rate, step) =>
        val n = math.round(rate * stepS).toInt
        val gap = (1e9 / rate).toLong
        val start = at
        at += (stepS * 1e9).toLong
        (0 until n).map { j =>
          val p = posts(next % posts.length); next += 1
          new Sent(p, step, start + j * gap)
        }
      }
    }
    require(schedule.map(_.post.id).distinct.length == schedule.length, "too few distinct posts")
    val pending = new ConcurrentLinkedQueue[Int]()
    val sampling = new AtomicBoolean(true)
    val sampler = new Thread(() => {
      while (sampling.get()) {
        pending.add(loop.relay.pending)
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val fsBefore = if (ctx.trace) CountingFs.snapshot() else Map.empty[String, Long]
    // nproc senders, each on its own connection, take every nproc-th
    // request in due order; a request whose connection is still busy
    // goes out late, and its latencies still count from its due time
    val conns = (0 until plan.cpus).map(_ => new Conn(loop.front.portBound))
    val senders = conns.zipWithIndex.map { case (c, k) =>
      val t = new Thread(() => {
        (k until schedule.length by conns.length).foreach { j =>
          val s = schedule(j)
          val wait = s.due - System.nanoTime()
          s.onTime = wait >= 0
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
          send(c, s)
        }
      }, s"perfbench-sender-$k")
      t.start()
      t
    }
    senders.foreach(_.join())
    conns.foreach(_.close())
    Sys.log(s"ladder sent and answered ${schedule.length}")
    val accepted = schedule.filter(s => s.status / 100 == 2)
    Sys.log(s"answered, ${accepted.length} accepted")
    awaitDelivered(accepted.map(_.post.id).toSet, plan.dbl("drain_s"))
    Sys.log(s"delivered ${loop.delivered.size}")
    sampling.set(false)
    sampler.join()
    val fsAfter = if (ctx.trace) CountingFs.snapshot() else Map.empty[String, Long]
    ctx.streams.foreach(_.recording = false)
    loop.stopStreams()
    Sys.log("streams stopped")

    // delivery accounting: each accepted request exactly once, to its
    // own source's subscriber
    val byId = loop.delivered.asScala.toSeq.groupBy(_._2)
    val failed = schedule.count { s =>
      s.status / 100 != 2 || (byId.get(s.post.id) match {
        case Some(Seq((src, _, _))) => src != s.post.source
        case _ => true
      })
    }
    val strays = byId.keySet -- schedule.map(_.post.id).toSet
    def fresh(s: Sent): Double = (byId(s.post.id).head._3 - s.due) / 1e9
    val ok = accepted.filter(s => byId.get(s.post.id).exists(_.length == 1))
    // freshness, the latency a user sees, is taken below the top step:
    // that step is there to find where the edge stops keeping up
    val freshness = ok.filter(_.step < rates.length - 1).map(fresh)
    val (tail, tailPct) = Stats.tail(freshness)
    val lastSeen = if (ok.isEmpty) t0 else ok.map(s => byId(s.post.id).head._3).max
    val wall = (lastSeen - t0) / 1e9
    val acks = schedule.filter(_.acked > 0).map(s => (s.acked - s.due) / 1e6)
    val (ackTail, ackTailPct) = Stats.tail(acks)

    // sustained rate: the highest step whose records all arrived once,
    // whose tail freshness meets the limit and whose backlog did not
    // grow (the edge answered the step within 10% of its span)
    val stepStats = rates.indices.map { i =>
      val mine = schedule.filter(_.step == i)
      val got = mine.filter(s => s.status / 100 == 2 && byId.get(s.post.id).exists(_.length == 1))
      val f = got.map(fresh)
      val span = (mine.last.due - mine.head.due) / 1e9 + 1.0 / rates(i)
      val answered = (mine.map(_.acked).max - mine.head.due) / 1e9
      val passes = got.length == mine.length && f.nonEmpty &&
        Stats.tail(f)._1 <= tailLimitS && answered <= 1.1 * span
      (passes, got.length / span, if (f.isEmpty) Double.NaN else Stats.median(f), mine.length / answered)
    }
    val sustained = stepStats.filter(_._1).lastOption.map(_._2).getOrElse(0.0)
    r.i("step_freshness_p50_s", stepStats.map(_._3).mkString(","))
    r.i("step_answered_per_s", stepStats.map(_._4).mkString(","))
    r.i("step_passes", stepStats.map(_._1).mkString(","))

    // replay one source over the run's interval; the catalog must not
    // grow and the count must equal the records of the matched objects
    val rs = plan.str("replay_source")
    val lo = new java.sql.Timestamp(runStartMs - 1000L)
    val hi = new java.sql.Timestamp(System.currentTimeMillis() + 1000L)
    val catalogBefore = Catalog.load(spark, layout).count()
    val (rangeKeys, rangeS) = Sys.timed(
      Catalog.rangeQuery(spark, layout, rs, lo, hi).select("key").distinct()
        .collect().map(_.getString(0)).toSeq)
    val (replayed, replayS) = Sys.timed(Replay.replay(spark, layout, rs, lo, hi))
    val catalogAfter = Catalog.load(spark, layout).count()
    val expectedReplay = rangeKeys.map(countRecords).sum

    r.m("wall_s", wall)
    r.m("op_p50_s", Stats.median(freshness))
    r.m("op_tail_s", tail)
    r.m("ops_per_s", ok.length / wall)
    r.m("stored_mb", Sys.duBytes(new java.io.File(layout.root)) / 1e6)
    r.i("op_tail_pct", tailPct)
    r.i("op_n", freshness.length)
    r.i("ack_tail_pct", ackTailPct)
    r.i("ack_n", acks.length)
    r.m("sustained_rps", sustained)
    r.m("ack_p50_ms", Stats.median(acks))
    r.m("ack_tail_ms", ackTail)
    r.m("replay_s", replayS)
    r.check.put("attempted", schedule.length)
    r.check.put("failed", failed)
    r.check.put("stray_deliveries", strays.size)
    r.check.put("replayed", replayed)
    r.check.put("replay_expected", expectedReplay)
    r.check.put("catalog_before_replay", catalogBefore)
    r.check.put("catalog_after_replay", catalogAfter)

    if (ctx.trace) {
      val st = ctx.streams.get
      def nonEmpty(q: StreamingQuery) = st.batches(q.id).filter(_.rows > 0)
      def dur(b: Seq[st.Batch], k: String*) = b.map(x => k.map(x.durations.getOrElse(_, 0L)).sum.toDouble)
      val sock = nonEmpty(loop.socketQ)
      val ingAll = st.batches(loop.ingestQ.id)
      val ing = ingAll.filter(_.rows > 0)
      val subs = loop.subQs.flatMap(nonEmpty)
      val samples = pending.asScala.map(_.toDouble).toSeq
      val bronze = Option(new java.io.File(layout.bronzeDir).listFiles()).getOrElse(Array.empty)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(f => f.getName.endsWith(".gz") && !f.getName.startsWith("."))
      val requests = CountingFs.ops.map(o => CountingFs.total(fsAfter, o) - CountingFs.total(fsBefore, o)).sum
      r.m("edge.requests", schedule.length)
      r.m("edge.non2xx", schedule.count(_.status / 100 != 2))
      r.m("relay.pending_max", if (samples.isEmpty) 0.0 else samples.max)
      r.m("relay.pending_mean", if (samples.isEmpty) 0.0 else samples.sum / samples.length)
      r.m("socket.batches", sock.length)
      r.m("socket.add_batch_ms_p50", Stats.median(dur(sock, "addBatch")))
      r.m("socket.rows_per_batch", sock.map(_.rows).sum.toDouble / math.max(1, sock.length))
      r.m("bronze.objects", bronze.length)
      r.m("bronze.mb", bronze.map(_.length).sum / 1e6)
      r.m("ingest.batches", ing.length)
      r.m("ingest.discovery_ms_p50", Stats.median(dur(ing, "latestOffset", "getBatch")))
      r.m("ingest.add_batch_ms_p50", Stats.median(dur(ing, "addBatch")))
      r.m("ingest.add_batch_ms_p99", Stats.pct(dur(ing, "addBatch"), 99))
      r.m("ingest.empty_batch_frac", (ingAll.length - ing.length).toDouble / math.max(1, ingAll.length))
      r.m("sub.discovery_ms_p50", Stats.median(dur(subs, "latestOffset", "getBatch")))
      r.m("sub.add_batch_ms_p50", Stats.median(dur(subs, "addBatch")))
      r.m("gen.late_ms_p99", Stats.pct(schedule.filter(_.onTime).map(s => (s.sent - s.due) / 1e6), 99))
      r.m("replay.range_query_s", rangeS)
      r.m("replay.keys", rangeKeys.length)
      r.m("replay.records", replayed)
      r.m("fs.ingest.requests_per_batch", requests.toDouble / math.max(1, ing.length))
    }
  }

  /** Records in one bronze object, counted with Jackson's streaming
    * parser — independent of the program's own splitter. */
  private def countRecords(key: String): Long = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(new java.io.File(new URI(key).getPath)))
    try {
      val p = new com.fasterxml.jackson.databind.ObjectMapper().getFactory.createParser(in)
      var n = 0L
      while (p.nextToken() != null) { p.skipChildren(); n += 1 }
      n
    } finally in.close()
  }
}
