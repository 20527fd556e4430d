package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col
import graft.model.{Mbrainz, SchemaRegistry}
import graft.ops.{Batching, EdnRender, Transform}
import graft.pipeline.{Batcher, DatomRow, Loader}
import graft.query.Explore
import graft.sources.EdnSource
import graft.store.{Datoms, Store}

/** `import`: the paper's bulk-write path, E1 batcher → E2 loader → E3
  * queries, as one cold pass over the generated inputs.
  *
  * The pass batches every type, loads them into a fresh store, times the
  * first Explore answer (cold `current()` included), runs the other two
  * Explore queries, then one block of the read/write query mix with a
  * delta append (`QueryMix`), and re-loads the largest type (resume: 0
  * batches apply). A run is exactly one pass, which outlasts the run's
  * seconds; it is cold, as every run of the importer's CLI is.
  */
object ImportWorkload {

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val basedir = s"${ctx.workDir}/in"
    val exp = ctx.expected
    val dir = s"${ctx.workDir}/pass"
    val batchDir = s"$dir/batches"
    val types = ctx.expMap(exp, "types")
    def expected(t: String, k: String) = ctx.expLong(types(t), k)
    val registry = SchemaRegistry.load(s"$basedir/entities/schema.edn")
    val ops = ArrayBuffer[Double]()
    def timedOp[T](name: String)(body: => T): T = {
      val (r, s) = ctx.time(ctx.op(body))
      System.err.println(f"[perfbench] $name%-30s $s%7.2f s")
      ops += s
      r
    }
    ctx.startMeasuring()
    // a traced run traces the same pass the untraced runs time
    tr.enable(ctx.traced)

    val batcher = new Batcher(spark, basedir, batchDir)
    val (_, batchS) = ctx.time(Mbrainz.importOrder.foreach { t =>
      val n = timedOp(s"batch $t")(tr.span(s"pipeline.batcher.$t")(batcher.createBatchFile(t)))
      ctx.check(s"batches $t", n == expected(t, "batches"), s"$n batches, expected ${expected(t, "batches")}")
    })

    val store = new Store(spark, s"$dir/store")
    val loader = new Loader(spark, registry, store, concurrency = ctx.cores)
    val (_, loadS) = ctx.time {
      timedOp("import-schema")(loader.ensureImportSchema())
      Mbrainz.importOrder.foreach { t =>
        val st = timedOp(s"load $t")(tr.span(s"pipeline.loader.$t")(loader.loadBatchFile(t, s"$batchDir/$t.edn")))
        ctx.check(s"load $t", st.txes == expected(t, "batches") && st.datoms == expected(t, "datoms"),
          s"${st.txes} txes / ${st.datoms} datoms, expected ${expected(t, "batches")} / ${expected(t, "datoms")}")
      }
    }

    val (counts, firstS) = ctx.time(timedOp("first query") {
      Workloads.current(ctx, store, registry)
      tr.span("query.explore")(Explore.entityCountsByUniqueAttr(store, registry).collect())
    })
    val got = counts.map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ctx.expMap(exp, "unique_attr_entities").map { case (k, _) =>
      k -> ctx.expLong(ctx.expMap(exp, "unique_attr_entities"), k) } +
      (Mbrainz.batchIdAttr -> (Mbrainz.importOrder.map(expected(_, "batches")).sum + 1))
    ctx.check("explore entity counts", want.forall { case (k, v) => got.get(k).contains(v) },
      s"got $got, expected $want")

    val uniques = timedOp("unique attrs")(tr.span("query.explore")(Explore.uniqueAttrs(store).collect()))
    ctx.check("explore unique attrs", uniques.length == ctx.expLong(exp, "unique_attrs"),
      s"${uniques.length} unique attrs")
    val freqs = timedOp("batch frequencies")(tr.span("query.explore")(Explore.batchFrequencies(store).collect()))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantFreqs = ctx.expMap(exp, "batch_prefixes").keys.map(k =>
      k -> ctx.expLong(ctx.expMap(exp, "batch_prefixes"), k)).toMap
    ctx.check("explore batch frequencies", freqs == wantFreqs, s"got $freqs, expected $wantFreqs")

    val mix = new QueryMix(ctx, store, registry, exp)
    val (_, mixS) = ctx.time(ops ++= mix.block())

    val eavRows = store.eav.count()
    // resume re-loads the largest type only: every type's re-load costs
    // about the same fixed ~0.8 s of Spark jobs
    val (_, resumeS) = ctx.time {
      val st = timedOp("resume media")(tr.span("pipeline.resume")(loader.loadBatchFile("media", s"$batchDir/media.edn")))
      ctx.check("resume media", st.txes == 0, s"resume applied ${st.txes} batches")
    }
    val after = store.eav.count()
    ctx.check("resume leaves eav unchanged", after == eavRows, s"eav $eavRows -> $after rows")

    ctx.record("pass_s", batchS + loadS + firstS + mixS + resumeS, "s")
    ctx.recordOps(ops.toSeq)
    ctx.record("batch_s", batchS, "s")
    ctx.record("load_s", loadS, "s")
    ctx.record("first_query_s", firstS, "s")
    ctx.record("mix_s", mixS, "s")
    ctx.record("resume_s", resumeS, "s")
    ctx.record("query_p50_ms", Stats.quantile(mix.queries.toSeq, 0.5) * 1000, "ms")
    ctx.record("query_p95_ms", Stats.quantile(mix.queries.toSeq, 0.95) * 1000, "ms")
    ctx.record("refresh_s", Stats.median(mix.refreshes.toSeq), "s")
    if (ctx.traced) {
      overhead(ctx, mix)
      tr.enable(false)
      // the layer chains reuse the pass's batch files
      Workloads.delete(s"$dir/store")
      layerChains(ctx, basedir, batchDir, exp)
    }
    Workloads.delete(dir)
  }

  /** Tracing overhead of a traced run: the same mix block (same ops and
    * arguments, fresh deltas) untraced, traced, untraced, after the pass
    * has warmed the path; traced over untraced median, minus 1. */
  private def overhead(ctx: Ctx, mix: QueryMix): Unit = {
    val tr = ctx.tracer
    val (plain, traced) = (ArrayBuffer[Double](), ArrayBuffer[Double]())
    (0 until 3).foreach { i =>
      if (i == 1) traced += tr.discarding(mix.block().sum)
      else {
        tr.enable(false)
        plain += mix.block().sum
        tr.enable(true)
      }
    }
    tr.overhead(plain.toSeq, traced.toSeq)
  }

  /** Layer-by-layer chains (traced run only). Each span is a prefix of
    * the batcher's or loader's work, so a layer's self time is its span
    * minus the shorter chain before it: `ops.transform − sources.edn`,
    * `ops.batching − ops.transform`, `store.append − store.datoms`.
    * `ops.batching` covers the six entity types; media's assembly and
    * `GlobalIndex` numbering are inside `pipeline.batcher.media`. */
  private def layerChains(ctx: Ctx, basedir: String, batchDir: String, exp: Map[String, Any]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = s"${ctx.workDir}/chains"
    val entities = s"$basedir/entities"
    val types = ctx.expMap(exp, "types")
    tr.enable(true)
    val dims = Transform.Dims.load(spark, entities)
    Mbrainz.importOrder.filter(Mbrainz.byName.contains).foreach { t =>
      val tpe = Mbrainz.byName(t)
      val path = s"$entities/$t.edn"
      val rows = ctx.expLong(types(t), "input_rows")
      val keep = if (t == "media") Seq("id") else Nil
      def transformed = Transform.requireStrict(
        Transform.transform(EdnSource.readEntities(spark, path, tpe), tpe, dims, keep), tpe, keep)
      tr.span("sources.edn", rows)(ctx.noop(EdnSource.readEntities(spark, path, tpe)))
      tr.span("ops.transform", rows)(ctx.noop(transformed))
      if (t != "media") tr.span("ops.batching", rows) {
        val mappings = tpe.mappings
        val rendered = transformed.map { r =>
          (r.getLong(r.fieldIndex("row_idx")), EdnRender.renderEntity(r, mappings))
        }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING)).toDF("row_idx", "edn")
        Batching.writeLines(Batching.batchLines(rendered, 100, t, Mbrainz.batchIdAttr), s"$dir/$t.edn")
      }
    }
    // datoms from the pass's batch files, appended to a scratch store
    val reg = SchemaRegistry.load(s"$entities/schema.edn")
    val store = new Store(spark, s"$dir/store")
    Mbrainz.importOrder.foreach { t =>
      val typeIdx = Mbrainz.importOrder.indexOf(t)
      val n = ctx.expLong(types(t), "datoms") - ctx.expLong(types(t), "batches") // no txInstant datoms
      def datoms = spark.read.textFile(s"$batchDir/$t.edn").filter(col("value") =!= "")
        .flatMap { line =>
          Datoms.batchDatoms(line, reg, typeIdx)._2.map(d => DatomRow(d.e, d.a, d.v, d.vLong, d.isRef, d.tx))
        }(Encoders.product[DatomRow]).toDF()
      tr.span("store.datoms", n)(ctx.noop(datoms))
      tr.span("store.append", n)(store.append(datoms))
    }
    tr.enable(false)
    Workloads.delete(dir)
  }
}
