package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.collection.parallel.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, xxhash64}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.{GenData, SparkEntry}

/** `harness`: a fixed subset of the 164 `SparkEntry.queries`, timed the
  * way `graft.Bench` times them (noop sink, cached blocks dropped after
  * every query), over `GenData` tables at a small scale.
  *
  * `GenData` takes no seed, so the seed sets each table's row order: the
  * same rows, laid out differently per seed. The warm-up pass writes
  * every query's result as `graft.Verify` does, with `oracle_sql.json`,
  * for the DuckDB oracle (`tools/check.py`) that `run.py` runs after.
  */
object HarnessWorkload {

  /** Five of the six slowest queries of a full pass on a 4-core host
    * (the sixth, q81_restore_audit, would add a fifth to every run), plus
    * the Datalog engine's basic query and one multimodal query. */
  val Slowest: Seq[String] = Seq("q73_tuple_maintenance", "q75_incremental_hybrid",
    "d65_classifier_train", "q49_retract_entity", "q82_schema_alter")
  val Queries: Seq[String] = Slowest ++ Seq("q29_datalog_engine", "mm1_binary_meta")

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def family(q: String): String = q.takeWhile(_.isLetter)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val exp = ctx.expected
    val sf = exp("sf").toString.toDouble
    val seed = ctx.expLong(exp, "seed")
    val raw = s"${ctx.workDir}/gendata"
    val data = s"${ctx.workDir}/in/tables"
    val (_, genS) = ctx.time(GenData.generate(spark, sf, raw))
    val (_, reorderS) = ctx.time {
      Tables.par.foreach(t => reorder(spark, s"$raw/$t.parquet", data, t, seed))
      Workloads.delete(raw)
    }
    System.err.println(f"[perfbench] tables generated in $genS%.2f s, reordered in $reorderS%.2f s")

    // Warm-up, which is also graft.Verify's dump for the oracle: two
    // queries at a time (set-up is not measured), blocks dropped after.
    val verifyOut = s"${ctx.workDir}/verify"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val (_, verifyS) = ctx.time {
      Queries.map { q =>
        pool.submit(new Runnable {
          def run(): Unit =
            try SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$verifyOut/$q")
            catch { case e: Throwable => failures.add(s"$q: $e") }
        })
      }.foreach(_.get())
    }
    pool.shutdown()
    cleanup(spark)
    failures.forEach(f => ctx.check("verify", ok = false, f))
    System.err.println(f"[perfbench] warm-up and verify dump in $verifyS%.2f s")
    writeOracleSql(s"$verifyOut/oracle_sql.json")

    // one timed pass; a traced run traces the pass the untraced runs time
    ctx.startMeasuring()
    tr.enable(ctx.traced)
    val (perQuery, passS) = ctx.time(Queries.map { q =>
      val (ok, secs) = ctx.time(
        try {
          ctx.op(tr.span(s"queries.${family(q)}") {
            ctx.noop(SparkEntry.queries(q)(spark, data))
          })
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q FAILED: ${e.getMessage}")
          false
        })
      System.err.println(f"[perfbench] $q%-26s $secs%7.2f s")
      ctx.check(s"harness $q", ok, "query failed")
      cleanup(spark)
      if (tr.enabled && Slowest.contains(q)) tr.add(s"queries.$q.s", secs, "s")
      secs
    })
    if (ctx.traced) overhead(ctx, data)
    tr.enable(false)
    ctx.record("pass_s", passS, "s")
    ctx.recordOps(perQuery)
    ctx.record("harness_total_s", perQuery.sum, "s")
    ctx.record("harness_geomean_s", Stats.geomean(perQuery), "s")
  }

  /** Tracing overhead of a traced run: two queries of the warmed pass
    * replayed untraced, traced and untraced; traced over untraced median,
    * minus 1. */
  private val Replay = Seq("q49_retract_entity", "q29_datalog_engine")

  private def overhead(ctx: Ctx, data: String): Unit = {
    val tr = ctx.tracer
    def replay(): Double = ctx.time(Replay.foreach { q =>
      tr.span(s"queries.${family(q)}")(ctx.noop(SparkEntry.queries(q)(ctx.spark, data)))
      cleanup(ctx.spark)
    })._2
    val (plain, traced) = (ArrayBuffer[Double](), ArrayBuffer[Double]())
    (0 until 3).foreach { i =>
      if (i == 1) traced += tr.discarding(replay())
      else {
        tr.enable(false)
        plain += replay()
        tr.enable(true)
      }
    }
    tr.overhead(plain.toSeq, traced.toSeq)
  }

  /** Bench's per-query hygiene: queries are independent, so cached plans
    * and leftover blocks are dropped between them. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Rewrites one table as a single parquet file in a seeded row order. */
  private def reorder(spark: SparkSession, src: String, outDir: String, name: String, seed: Long): Unit = {
    val df = spark.read.parquet(src)
    val tmp = s"$outDir/__tmp_$name"
    df.orderBy(xxhash64((df.columns.map(col) :+ lit(seed)).toIndexedSeq: _*))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$outDir/$name.parquet"))
    Workloads.delete(tmp)
  }

  private def writeOracleSql(path: String): Unit = {
    val sql = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
      .map { case (k, v) => k -> (JString(v): JValue) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      JsonMethods.compact(JsonMethods.render(JObject(sql.toList))))
  }
}
