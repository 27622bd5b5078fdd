package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Metrics and facts one run reports back to `run.py`. */
final class Report {
  val metrics = new java.util.LinkedHashMap[String, Any]()
  val info = new java.util.LinkedHashMap[String, Any]()
  val check = new java.util.LinkedHashMap[String, Any]()
  def m(name: String, v: Double): Unit = metrics.put(name, v)
  def i(name: String, v: Any): Unit = info.put(name, v)

  def write(path: String): Unit = {
    val om = new ObjectMapper()
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("metrics", metrics); root.put("info", info); root.put("check", check)
    om.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), toJava(root))
  }

  private def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case m: scala.collection.Map[_, _] => toJava(m.asJava)
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case x => x
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  private val ladder = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
  /** The highest percentile of the ladder with at least ten samples
    * beyond it (falls back to the median for fewer than 20 samples). */
  def tailPct(n: Int): Double =
    ladder.filter(q => n * (1 - q / 100.0) >= 10.0 - 1e-9).lastOption.getOrElse(50.0)

  /** (value, percentile) of the tail rule. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = tailPct(xs.length)
    (pct(xs, q), q)
  }
}

object Sys {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def duBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(duBytes).sum

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  /** Progress line on stderr (the run's log), stamped from JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(started)}%7.2f s] $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }
}

/** The run's parameters, written by `run.py` as JSON. */
final class Plan(val node: JsonNode) {
  def str(k: String): String = node.get(k).asText()
  def int(k: String): Int = node.get(k).asInt()
  def dbl(k: String): Double = node.get(k).asDouble()
  def bool(k: String): Boolean = node.get(k).asBoolean()
  def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
  def dbls(k: String): Seq[Double] = node.get(k).elements().asScala.map(_.asDouble()).toSeq

  val workload: String = str("workload")
  val trace: Boolean = bool("trace")
  val cpus: Int = int("cpus")
  val work: String = str("work")
  val data: String = str("data")
  val out: String = str("out")
}

object Plan {
  def load(path: String): Plan = new Plan(new ObjectMapper().readTree(new java.io.File(path)))
}

/** What every workload gets: the session, its traces and the report. */
final class Ctx(val spark: SparkSession, val plan: Plan, val report: Report,
    val tasks: Option[SparkTrace], val streams: Option[StreamTrace]) {
  def trace: Boolean = plan.trace
}
