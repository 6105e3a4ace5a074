package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel
import graft.spatial.CountryLag

/** Pins the GeoCache/OpCache ownership contract: GeoCache's frames
  * and OpCache's request-lifetime persists live in ONE registry with
  * one owner per plan, so a geometry read of a plan an `OpCache.persist`
  * already cached promotes that entry to the session lifetime. A
  * foreign `OpCache.release` (Bench runs one per query, a service one
  * per request) therefore never unpersists geometry a memo still
  * serves — no stranded memo, no re-persist on read.
  */
class GeoCacheSpec extends SparkSpec {
  import spark.implicits._

  private def freshPanel() = {
    // a unit universe no other suite uses, so this spec's GeoCache
    // key cannot collide with entries another suite memoized
    val units = Seq(7701L, 7702L, 7703L, 7740L, 7741L, 7742L)
    (1L to 3L).flatMap(m => units.map(u => (m, u, (m + u).toDouble)))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
  }

  test("a foreign OpCache.release leaves the memoized adjacency cached") {
    val panel = freshPanel()

    // step 1 — OpCache persists the adjacency plan FIRST, for the request
    val foreign = OpCache.persist(CountryLag.gridAdjacency(panel))
    assert(foreign.storageLevel != StorageLevel.NONE)

    // step 2 — GeoCache memoizes an equal plan: the registry promotes
    // the request entry to the session lifetime instead of leaning on it
    val adj1 = GeoCache.adjacency(panel)
    assert(adj1.storageLevel != StorageLevel.NONE)
    val rows = adj1.count() // materialize the blocks

    // step 3 — the foreign release: the promoted entry is not freed
    OpCache.release(spark)
    assert(adj1.storageLevel != StorageLevel.NONE,
      "a release must not unpersist a plan a geometry memo owns")

    // step 4 — the memo read after the release is persisted, gives the
    // same count, and resolves through CacheManager to the in-memory
    // relation, so consumers scan cached blocks instead of re-deriving
    // the adjacency
    val adj2 = GeoCache.adjacency(panel)
    assert(adj2.storageLevel != StorageLevel.NONE)
    assert(adj2.count() === rows)
    // (a fresh plan over the frame, so the lookup happens after the release)
    assert(adj2.select("*").queryExecution.withCachedData.exists(
      _.isInstanceOf[InMemoryRelation]),
      "memoized reads must resolve to the in-memory relation")
  }

  test("ring sets survive the same foreign-release interleaving") {
    val panel = freshPanel()
    val ring1 = GeoCache.ring(panel, 1, 1)
    assert(ring1.storageLevel != StorageLevel.NONE)
    ring1.count()
    OpCache.release(spark)
    // the ring is a session-lifetime entry: the release leaves it cached
    assert(ring1.storageLevel != StorageLevel.NONE)
    val ring2 = GeoCache.ring(panel, 1, 1)
    assert(ring2.storageLevel != StorageLevel.NONE,
      "ring read after a foreign release must be persisted")
    assert(ring2.count() === ring1.count())
  }
}
