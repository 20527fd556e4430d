package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark run inside the JVM: `Main <workload> <workDir> <trace 0|1>`.
  *
  * The inputs (and their `expected.json`) are already under `workDir`;
  * the run sets up, times one pass, checks every answer against the
  * expected record and writes `workDir/result.json` for `run.py`.
  * Cores come from `SPARK_GRAFT_CPUS`, as for `graft.Bench`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, trace) = args
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = session(cores, workDir)
    val ctx = new Ctx(spark, new Tracer(spark, cores), workDir, trace == "1")
    val heap = new HeapPeak
    val steal = new Steal.Window
    try workload match {
      case "import" => ImportWorkload.run(ctx)
      case "harness" => HarnessWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check("run completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        ctx.failed += 1
    } finally {
      val peakHeap = heap.stop()
      ctx.record("peak_heap_mb", peakHeap, "MB")
      ctx.tracer.put("host.peak_heap_mb", peakHeap, "MB")
      ctx.record("host_steal_frac", steal.frac(), "ratio")
      ctx.tracer.put("host.steal_frac", steal.frac(), "ratio")
      ctx.writeResult(s"$workDir/result.json")
      spark.stop()
    }
  }

  /** The session `graft.Bench` builds, fitted to the given core count,
    * with one departure: Bench puts `spark.local.dir` on `/dev/shm` when
    * it exists, while the benchmark keeps all its scratch under the run's
    * own directory, so that a run writes nothing outside its checkout. */
  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Shared state of one run: clock, tracer, checks and the result record. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val workDir: String,
    val traced: Boolean) {
  val cores: Int = tracer.cores
  var attempted = 0L
  var failed = 0L
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** End-to-end numbers and the workload's own breakdown. */
  private val values = mutable.LinkedHashMap[String, (Double, String)]()
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def json(path: String): Map[String, Any] =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")).values.asInstanceOf[Map[String, Any]]

  /** The record of the generated inputs the run measures. */
  lazy val expected: Map[String, Any] = json(s"$workDir/in/expected.json")

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  def record(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)

  /** Ends set-up: from JVM start to here is the JVM's share of `setup_s`. */
  def startMeasuring(): Unit =
    record("jvm_setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")

  /** The operation latency median and 95th percentile of the pass. */
  def recordOps(ops: Seq[Double]): Unit = {
    record("op_p50_ms", Stats.quantile(ops, 0.5) * 1000, "ms")
    record("op_p95_ms", Stats.quantile(ops, 0.95) * 1000, "ms")
    record("ops", ops.size.toDouble, "count")
  }

  /** One counted operation; a throw counts as failed and is rethrown. */
  def op[T](body: => T): T = {
    attempted += 1
    try body
    catch { case e: Throwable => failed += 1; throw e }
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Every output column materialized, nothing written (Bench's sink). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def writeResult(path: String): Unit = {
    def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    def obj(xs: Seq[(String, Double, String)]) = JObject(xs.map { case (k, v, u) =>
      k -> JObject("value" -> num(v), "unit" -> JString(u)) }.toList)
    val json = JObject(
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "checks" -> JArray(checks.map { case (n, ok, d) =>
        JObject("name" -> JString(n), "ok" -> JBool(ok), "detail" -> JString(d)) }.toList),
      "values" -> obj(values.toSeq.map { case (k, (v, u)) => (k, v, u) }),
      "layers" -> obj(if (traced) tracer.metrics else Nil))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      JsonMethods.pretty(JsonMethods.render(json)).getBytes("UTF-8"))
  }

  // typed views of expected.json
  def expMap(m: Any, k: String): Map[String, Any] = m.asInstanceOf[Map[String, Any]](k).asInstanceOf[Map[String, Any]]
  def expLong(m: Any, k: String): Long = m.asInstanceOf[Map[String, Any]](k) match {
    case b: BigInt => b.toLong
    case n: Number => n.longValue
    case other => throw new IllegalArgumentException(s"$k: not a number: $other")
  }
  def expSeq(m: Any, k: String): Seq[Any] = m.asInstanceOf[Map[String, Any]](k).asInstanceOf[Seq[Any]]
}

/** Peak live heap of this JVM (driver and executor in local mode): the
  * largest heap occupancy left after a garbage collection. Occupancy
  * before a collection depends on when the collector happens to run;
  * what survives one is the memory the run actually holds. */
final class HeapPeak {
  import scala.jdk.CollectionConverters._
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, handback: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: javax.management.NotificationEmitter => b }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Double = {
    beans.foreach(_.removeNotificationListener(listener))
    peak.get / 1e6
  }
}
