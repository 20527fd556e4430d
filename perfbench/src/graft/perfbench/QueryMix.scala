package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import graft.edn.Edn
import graft.model.SchemaRegistry
import graft.pipeline.DatomRow
import graft.query.{Datalog, Explore, Pull}
import graft.store.Store

/** Small writes beside reads on one loaded store: the read/write phase
  * of an `import` pass.
  *
  * A closed-loop client runs blocks of the fixed step list in
  * `expected.json` (an artist's releases or tracks through
  * `Datalog.runCurrent`, `Pull.pullMany` over an artist's releases, the
  * Explore entity counts), each step on its seeded probe artist; every
  * block ends with a refresh, which appends one new release for a probe
  * artist (`Store.append`) and asks for that artist's releases at once,
  * which must include it. Every answer is checked against the record.
  * This is a coverage mix, not a traffic model.
  */
final class QueryMix(ctx: Ctx, store: Store, registry: SchemaRegistry, exp: Map[String, Any]) {
  import QueryMix._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private val probes = ctx.expSeq(exp, "artists").map { a =>
    val m = a.asInstanceOf[Map[String, Any]]
    Probe(m("gid").toString,
      ctx.expSeq(m, "releases").map { case Seq(g, n) => g.toString -> n.toString }.toMap,
      ctx.expLong(m, "tracks"))
  }.toIndexedSeq
  private val deltas = ctx.expSeq(exp, "deltas").map { d =>
    val m = d.asInstanceOf[Map[String, Any]]
    Delta(m("release_gid").toString, m("name").toString, ctx.expLong(m, "artist").toInt)
  }.toIndexedSeq
  private val steps = ctx.expSeq(exp, "mix").map { m =>
    m.asInstanceOf[Map[String, Any]]("op").toString -> ctx.expLong(m, "artist").toInt
  }
  private val nArtists = ctx.expLong(ctx.expMap(exp, "unique_attr_entities"), "artist/gid")
  private val nReleases = ctx.expLong(ctx.expMap(exp, "unique_attr_entities"), "release/gid")

  // releases appended so far, per probe artist
  private val added = mutable.Map[Int, Map[String, String]]().withDefaultValue(Map.empty)
  private var nDeltas = 0
  val queries: ArrayBuffer[Double] = ArrayBuffer[Double]()
  val refreshes: ArrayBuffer[Double] = ArrayBuffer[Double]()

  private def releasesOf(i: Int): Map[String, String] = probes(i).releases ++ added(i)

  private def askReleases(i: Int, tag: String): Unit = {
    val rows = tr.span("query.datalog")(Datalog.runCurrent(store, registry, Releases,
      Map("gid" -> Edn.EUuid(probes(i).gid))).collect())
    val got = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    val want = releasesOf(i).map { case (g, n) => s"release/gid|$g" -> n }
    ctx.check(s"$tag releases", got == want, s"artist ${probes(i).gid}: got ${got.size} releases, expected ${want.size}")
  }

  private def query(kind: String, i: Int): Unit = kind match {
    case "releases" => askReleases(i, "query")
    case "tracks" =>
      val rows = tr.span("query.datalog")(Datalog.runCurrent(store, registry, Tracks,
        Map("gid" -> Edn.EUuid(probes(i).gid))).collect())
      val n = rows.map(_.getString(0)).distinct.length
      ctx.check("query tracks", n == probes(i).tracks, s"artist ${probes(i).gid}: $n tracks, expected ${probes(i).tracks}")
    case "pull" =>
      val rel = releasesOf(i).toSeq.sortBy(_._1).take(5)
      val rows = tr.span("query.pull")(Pull.pullMany(store, registry, "[:release/name]",
        rel.map(r => s"release/gid|${r._1}")).collect())
      val got = rows.map(r => r.getString(r.fieldIndex("release_name"))).toSeq
      ctx.check("query pull", got == rel.map(_._2), s"pulled $got, expected ${rel.map(_._2)}")
    case "explore" =>
      val got = tr.span("query.explore")(Explore.entityCountsByUniqueAttr(store, registry).collect())
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      ctx.check("query explore", got.get("artist/gid").contains(nArtists) &&
        got.get("release/gid").contains(nReleases + nDeltas),
        s"got $got, expected $nArtists artists, ${nReleases + nDeltas} releases")
  }

  /** Appends the next delta release, then asks for its artist's releases. */
  private def refresh(): Unit = {
    require(nDeltas < deltas.size, "the generated delta list is exhausted")
    val d = deltas(nDeltas)
    val e = s"release/gid|${d.gid}"
    val tx = DeltaTxBase + nDeltas
    val rows = Seq(
      DatomRow(e, "release/gid", d.gid, None, is_ref = false, tx),
      DatomRow(e, "release/name", d.name, None, is_ref = false, tx),
      DatomRow(e, "release/artists", s"artist/gid|${probes(d.artist).gid}", None, is_ref = true, tx))
    tr.span("store.append.delta")(store.append(spark.createDataFrame(rows)))
    nDeltas += 1
    added(d.artist) = added(d.artist) + (d.gid -> d.name)
    if (tr.enabled) Workloads.current(ctx, store, registry, force = false)
    askReleases(d.artist, "refresh")
  }

  /** One block: every query step, then a refresh; returns the latency
    * of each. Blocks repeat the same steps, each with a fresh delta. */
  def block(): Seq[Double] = {
    val qs = steps.map { case (kind, i) => ctx.time(ctx.op(query(kind, i)))._2 }
    val r = ctx.time(ctx.op(refresh()))._2
    queries ++= qs
    refreshes += r
    qs :+ r
  }
}

object QueryMix {
  private val Releases = Datalog.parse(
    """[:find ?r ?title :in $ ?gid
      | :where [?a :artist/gid ?gid] [?r :release/artists ?a] [?r :release/name ?title]]""".stripMargin)
  private val Tracks = Datalog.parse(
    """[:find ?t ?name :in $ ?gid
      | :where [?a :artist/gid ?gid] [?t :track/artists ?a] [?t :track/name ?name]]""".stripMargin)
  // above every loader tx (type index * 1e6 + batch number)
  private val DeltaTxBase = 1000000000L

  final case class Probe(gid: String, releases: Map[String, String], tracks: Long)
  final case class Delta(gid: String, name: String, artist: Int)
}
