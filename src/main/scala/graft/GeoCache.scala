package graft

import graft.spatial.{CountryLag, TreeLag}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Value-independent spatial geometry, cached for the session in
  * [[OpCache]]: the quadtree embedding, the country adjacency, and the
  * BFS ring sets.
  *
  * All three are pure functions of the panel's unit/month universe —
  * not of the value columns — yet each derivation costs a distinct
  * pass over the panel (and, for rings, a chain of BFS self-joins).
  * At 100 TB a pipeline that re-derives them per operator invocation
  * spends more on geometry than on the lag itself, so every caller —
  * the direct operator API and the JSON wire-format dispatch alike —
  * shares one copy per (session, unit universe).
  *
  * Keying: two inputs share geometry iff their panels' (time, unit)
  * projections optimise to equal canonicalized plans. Using the
  * OPTIMISED plan makes the key blind to value-column transforms:
  * `panel.select(T, U, f(value))` prunes back to the same
  * `Project(T, U, scan)` as the raw panel, so a pipeline step that
  * runs after pointwise/temporal transforms still hits the cache
  * built by a direct query. A miss is only a recompute — never an
  * incorrect reuse.
  *
  * Lifetime: session — entries survive `OpCache.release` and are freed
  * by [[clear]]; the adjacency and ring frames own their persisted
  * plans (a request-lifetime persist of an equal plan is promoted).
  */
object GeoCache {

  private def universe(panel: DataFrame) =
    panel.select(col(Panel.TimeCol), col(Panel.UnitCol))
      .queryExecution.optimizedPlan.canonicalized

  /** Quadtree cell embedding of `gridPanel` (must carry the grid's cell
    * columns, named `lonCol`/`latCol`) — one distinct+collect per unit
    * universe, shared across the tree/grid/fourier/mesh operators.
    */
  def embedding(gridPanel: DataFrame, lonCol: String = "lon",
                latCol: String = "lat"): TreeLag.Embedding =
    OpCache.memo(gridPanel.sparkSession, ("embedding", universe(gridPanel)))(
      TreeLag.embedOf(gridPanel, lonCol, latCol))

  /** Month-replicated queen adjacency of the panel's unit grid,
    * persisted for the session.
    */
  def adjacency(panel: DataFrame): DataFrame =
    OpCache.memoPersisted(panel.sparkSession, ("adjacency", universe(panel)))(
      CountryLag.gridAdjacency(panel))

  /** Unit centroids (country_id, lon, lat) for the country lag — a plan
    * with no job to derive it, so nothing is cached.
    */
  def centroids(panel: DataFrame): DataFrame = CountryLag.gridCentroids(panel)

  /** BFS ring set for a (inner, width) kernel shape, persisted for the
    * session. The cached geometry is the derived GRID adjacency —
    * month-invariant by construction — so the BFS runs on the driver
    * over the static (a_id, b_id) pair list and the finished ring is
    * replicated per month (`ringSetStatic`), instead of expanding a
    * months-replicated frontier through `months ×` the join work. A
    * truly month-varying adjacency must go through
    * `CountryLag.ringSet` instead.
    */
  def ring(panel: DataFrame, inner: Int, width: Int): DataFrame = {
    val s = panel.sparkSession
    val u = universe(panel)
    OpCache.memoPersisted(s, ("ring", u, inner, width)) {
      val pairs = OpCache.memo(s, ("pairs", u))(CountryLag.gridAdjacencyPairsLocal(panel))
      CountryLag.ringSetStatic(panel, pairs, inner, width)
    }
  }

  /** Free every cached value of `session` — geometry and the rest of
    * the session's [[OpCache]] entries.
    */
  def clear(session: SparkSession): Unit = OpCache.clear(session)
}
