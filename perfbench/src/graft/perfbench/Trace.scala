package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counters of one span name, summed over all its calls. */
final class LayerStats {
  var calls = 0
  var s = 0.0
  var busyS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcS = 0.0
  var tasks = 0L
  var rows = 0L
  val latencies: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()

  def copy(): LayerStats = synchronized {
    val c = new LayerStats
    c.calls = calls; c.s = s; c.busyS = busyS; c.shuffleBytes = shuffleBytes
    c.spillBytes = spillBytes; c.gcS = gcS; c.tasks = tasks; c.rows = rows
    c.latencies ++= latencies
    c
  }
}

/** Span recorder for the traced run.
  *
  * `span(name)` times one public call of a layer. Jobs the call submits
  * carry the span name as a Spark local property; a listener maps their
  * stages to the span and sums each finished task's run time, shuffle
  * write, spill, GC time and count into it. Spans are flat: a job is
  * attributed to the innermost open span only. Disabled, `span` just
  * runs its body and the listener is not registered, so untraced runs
  * measure the engine alone.
  */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val layers: mutable.LinkedHashMap[String, LayerStats] = mutable.LinkedHashMap[String, LayerStats]()
  private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(Key)).orNull
      if (span != null) e.stageIds.foreach(id => stageSpan.put(id, span))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != null && m != null) {
        val st = stats(span)
        st.synchronized {
          st.busyS += m.executorRunTime / 1000.0
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.diskBytesSpilled
          st.gcS += m.jvmGCTime / 1000.0
          st.tasks += 1
        }
      }
    }
  }

  def enabled: Boolean = on

  /** Turns tracing on or off; the listener is attached only while on. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) sc.addSparkListener(listener) else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    on = flag
  }

  /** Layer numbers that are not span counters (cold/incremental split,
    * tracing overhead), summed with `add` or set with `put`. */
  private val extra = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = extra.synchronized(extra(name) = (value, unit))
  def add(name: String, value: Double, unit: String): Unit =
    extra.synchronized(extra(name) = (extra.get(name).map(_._1).getOrElse(0.0) + value, unit))
  def get(name: String): Double = extra.synchronized(extra.get(name).map(_._1).getOrElse(0.0))

  /** Tracing overhead: traced over untraced median pass time, minus 1. */
  def overhead(plain: Seq[Double], traced: Seq[Double]): Unit =
    if (plain.nonEmpty && traced.nonEmpty)
      put("trace.overhead_share", Stats.median(traced) / Stats.median(plain) - 1, "ratio")

  /** Runs `body` traced, then drops every counter it added: the traced
    * half of an overhead replay must not count twice. */
  def discarding[T](body: => T): T = {
    val saved = layers.synchronized(layers.map { case (k, v) => k -> v.copy() })
    val savedExtra = extra.synchronized(extra.clone())
    try body
    finally {
      PerfbenchBus.drain(sc)
      layers.synchronized { layers.clear(); layers ++= saved }
      extra.synchronized { extra.clear(); extra ++= savedExtra }
    }
  }

  def stats(name: String): LayerStats = layers.synchronized(layers.getOrElseUpdate(name, new LayerStats))

  /** Times `body` as one call of layer `name`; `rows` is the call's
    * natural row count, when it has one. */
  def span[T](name: String, rows: Long = 0L)(body: => T): T = {
    if (!on) return body
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Key, prev)
      PerfbenchBus.drain(sc)
      val st = stats(name)
      st.synchronized {
        st.calls += 1
        st.s += dt
        st.rows += rows
        st.latencies += dt
      }
    }
  }

  /** `<layer>.<counter>` metrics of every recorded layer. */
  def metrics: Seq[(String, Double, String)] = layers.synchronized(layers.toSeq).flatMap {
    case (name, st) => st.synchronized {
      val base = Seq(
        (s"$name.s", st.s, "s"),
        (s"$name.busy_s", st.busyS, "s"),
        (s"$name.busy_frac", if (st.s > 0) st.busyS / (st.s * cores) else 0.0, "ratio"),
        (s"$name.shuffle_mb", st.shuffleBytes / 1e6, "MB"),
        (s"$name.spill_mb", st.spillBytes / 1e6, "MB"),
        (s"$name.gc_s", st.gcS, "s"),
        (s"$name.tasks", st.tasks.toDouble, "count"),
        (s"$name.calls", st.calls.toDouble, "count"),
        (s"$name.p50_ms", Stats.quantile(st.latencies.toSeq, 0.5) * 1000, "ms"),
        (s"$name.p95_ms", Stats.quantile(st.latencies.toSeq, 0.95) * 1000, "ms"))
      if (st.rows > 0)
        base ++ Seq((s"$name.rows", st.rows.toDouble, "count"),
          (s"$name.rows_per_s", if (st.s > 0) st.rows / st.s else 0.0, "1/s"))
      else base
    }
  } ++ extra.synchronized(extra.toSeq).map { case (k, (v, u)) => (k, v, u) }
}

object Stats {
  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Host CPU steal over an interval, from the aggregate `cpu` line of
  * `/proc/stat` (0 where the file is absent). */
object Steal {
  private def read(): Option[(Long, Long)] = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu ")).map { line =>
        val xs = line.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]:
        // guest time is already counted in user, so the total stops at steal
        val total = xs.take(8).sum
        (if (xs.length > 7) xs(7) else 0L, total)
      } finally src.close()
    }
  }

  final class Window {
    private val start = read()
    def frac(): Double = (start, read()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => 0.0
    }
  }
}
