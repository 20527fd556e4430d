package graft.perfbench

import graft.model.SchemaRegistry
import graft.store.Store

/** Calls shared by the workloads. */
object Workloads {

  /** `Store.current`, spanned as `store.current`; `force` materializes a
    * cold rebuild (which is lazy) so its cost lands in the span. Traced,
    * it also splits the time into cold and incremental calls. */
  def current(ctx: Ctx, store: Store, registry: SchemaRegistry, force: Boolean = true): Unit = {
    val tr = ctx.tracer
    val (_, s) = ctx.time(tr.span("store.current") {
      val df = store.current(registry)
      if (force) df.count()
    })
    if (tr.enabled) {
      val incr = store.lastCurrentIncremental
      tr.add(if (incr) "store.current.incr_s" else "store.current.cold_s", s, "s")
      tr.add("store.current.incr_calls", if (incr) 1 else 0, "count")
      tr.add("store.current.all_calls", 1, "count")
      tr.put("store.current.incremental_share",
        tr.get("store.current.incr_calls") / tr.get("store.current.all_calls"), "ratio")
    }
  }

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}
