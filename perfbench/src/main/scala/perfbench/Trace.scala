package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Storage-request counter for the traced run. It keeps the `file`
  * scheme and the `LocalFileSystem` class, so the program takes the
  * same code path as untraced (the manifest log's hard-link claim is
  * chosen by that class). Only requests for paths under `root` count,
  * split into `_log` (manifest log) and data. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted[T](op: String, p: Path)(body: => T): T = {
    if (!nested.get()) record(op, p)
    val was = nested.get(); nested.set(true)
    try body finally nested.set(was)
  }

  override def listStatus(p: Path): Array[FileStatus] = counted("list", p)(super.listStatus(p))
  override def getFileStatus(p: Path): FileStatus = counted("stat", p)(super.getFileStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    counted("open", p)(super.open(p, bufferSize))
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", p)(super.create(p, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted("rename", src)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted("delete", p)(super.delete(p, recursive))
}

object CountingFs {
  @volatile var root: String = "/nonexistent"
  val ops = Seq("list", "stat", "open", "create", "rename", "delete")
  private val nested = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  /** (op, isLog) -> count */
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  /** distinct data files opened since the last `openedDataFiles` reset */
  val openedData: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  private def record(op: String, p: Path): Unit = {
    val s = p.toUri.getPath
    if (s != null && s.startsWith(root)) {
      val isLog = s.contains("/_log")
      counts.computeIfAbsent(s"$op.${if (isLog) "log" else "data"}", _ => new LongAdder).increment()
      if (op == "open" && !isLog) openedData.add(s)
    }
  }

  def snapshot(): Map[String, Long] = {
    val m = scala.collection.mutable.Map[String, Long]()
    counts.forEach((k, v) => m(k) = v.sum())
    m.toMap
  }

  def total(s: Map[String, Long], op: String): Long =
    s.getOrElse(s"$op.log", 0L) + s.getOrElse(s"$op.data", 0L)

  def logTotal(s: Map[String, Long]): Long = ops.map(o => s.getOrElse(s"$o.log", 0L)).sum

  /** Bytes written through the `file` scheme, from Hadoop's own
    * per-scheme statistics. */
  def bytesWritten(): Long = {
    var n = 0L
    org.apache.hadoop.fs.FileSystem.getAllStatistics.forEach { st =>
      if (st.getScheme == "file") n += st.getBytesWritten
    }
    n
  }
}

/** Per-operation Spark job/task totals, attributed through a local
  * property the benchmark sets on its own thread before each operation
  * (listener events arrive asynchronously, so attribution cannot use
  * a "current operation" variable). */
class TaskTotals {
  val jobs, tasks, schedDelayMs, runMs, shuffleWrite, shuffleRead, spill, gcMs, resultBytes =
    new AtomicLong(0L)
}

class SparkTrace(spark: SparkSession) extends SparkListener {
  val byOp = new ConcurrentHashMap[String, TaskTotals]()
  private val stageOp = new ConcurrentHashMap[Int, String]()

  def totals(op: String): TaskTotals = byOp.computeIfAbsent(op, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkTrace.OpKey)))
    op.foreach { o =>
      totals(o).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageOp.put(id, o))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null || e.taskMetrics == null) return
    val t = totals(op)
    val m = e.taskMetrics
    val info = e.taskInfo
    t.tasks.incrementAndGet()
    t.runMs.addAndGet(m.executorRunTime)
    val overhead = info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime
    t.schedDelayMs.addAndGet(math.max(0L, overhead))
    t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    t.gcMs.addAndGet(m.jvmGCTime)
    t.resultBytes.addAndGet(m.resultSize)
  }
}

object SparkTrace {
  val OpKey = "perfbench.op"
  def label(spark: SparkSession, op: String): Unit =
    spark.sparkContext.setLocalProperty(OpKey, op)
}

/** Streaming micro-batch progress, keyed by the query ids the
  * benchmark got back from the program's `start` functions. */
class StreamTrace extends StreamingQueryListener {
  case class Batch(rows: Long, durations: Map[String, Long])
  val progress = new ConcurrentHashMap[java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[Batch]]()
  @volatile var recording = false

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    if (!recording) return
    val p = e.progress
    val d = scala.collection.mutable.Map[String, Long]()
    p.durationMs.forEach((k, v) => d(k) = v.longValue())
    progress.computeIfAbsent(p.id, _ => new java.util.concurrent.ConcurrentLinkedQueue[Batch]())
      .add(Batch(p.numInputRows, d.toMap))
  }

  def batches(id: java.util.UUID): Seq[Batch] = {
    val q = progress.get(id)
    if (q == null) Seq.empty else q.toArray(Array.empty[Batch]).toSeq
  }
}
