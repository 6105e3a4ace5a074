package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** The session-scoped registry of everything the library caches:
  * persisted DataFrames (operator intermediates, the harness panels,
  * the spatial geometry), broadcasts (the projection matrices, the
  * geometry tables of the tree and Fourier lags, the spacetime event
  * set) and driver-side values (the quadtree embedding, the adjacency
  * pairs, the corpus scan's partition count).
  * An operator never fire-and-forgets a `persist` or a broadcast — in
  * a long-lived session those blocks would accumulate with no way to
  * free them — it registers here instead.
  *
  * Two lifetimes:
  *  - request: [[persist]] and [[broadcast]]; freed by [[release]],
  *    which a service calls between requests (a plan carrying a request
  *    broadcast must run before it);
  *  - session: [[memo]] and [[memoPersisted]]; survive [[release]] and
  *    are freed by [[clear]].
  *
  * One owner per plan. A persisted plan has exactly one entry, keyed on
  * (session, canonicalized plan) — the plan CacheManager itself matches
  * cached data on, so the registry and CacheManager agree on which
  * frames share blocks. A session-lifetime request for a plan a request
  * entry already cached promotes that entry, so a [[release]] never
  * unpersists blocks a session entry still serves; a request-lifetime
  * request for a session plan leaves it session-lifetime.
  *
  * Racing first callers of a [[memo]] may both compute; one value is
  * installed and the loser's is freed.
  */
object OpCache {

  /** `free` gives back what the value holds: a plan entry unpersists its
    * frame, a memoized broadcast is destroyed, other memoized values
    * (a memoized frame's blocks belong to its plan entry) hold nothing.
    */
  private final class Entry(val value: Any, val free: () => Unit, var forSession: Boolean)

  // mutations (and their frees) under the object's lock; hits read lock-free
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Any), Entry]

  private def own(df: DataFrame, forSession: Boolean): DataFrame = {
    val k = (df.sparkSession, df.queryExecution.normalized.canonicalized)
    synchronized {
      entries.get(k) match {
        case Some(e) => e.forSession ||= forSession
        // a plan cached outside the registry stays its owner's
        case None if df.storageLevel != StorageLevel.NONE => ()
        case None =>
          entries(k) = new Entry(df, () => df.unpersist(), forSession)
          df.persist(StorageLevel.MEMORY_AND_DISK)
      }
    }
    df
  }

  /** Persist `df` for the current request (until [[release]]).
    * Idempotent on the plan: operators re-request shared intermediates
    * through fresh DataFrame objects, and an equal plan is persisted
    * and owned once.
    */
  def persist(df: DataFrame): DataFrame = own(df, forSession = false)

  /** Broadcast `value` for the current request (destroyed by
    * [[release]]).
    */
  def broadcast[V: ClassTag](session: SparkSession, value: V): Broadcast[V] = {
    val b = session.sparkContext.broadcast(value)
    synchronized { entries((session, b)) = new Entry(b, () => b.destroy(), forSession = false) }
    b
  }

  /** The value of `compute` for (`session`, `key`), computed on first
    * use and kept until [[clear]].
    */
  def memo[V](session: SparkSession, key: Any)(compute: => V): V = {
    val k = (session, key)
    entries.get(k).getOrElse {
      val v = compute
      val fresh = new Entry(v, () => v match {
        case b: Broadcast[_] => b.destroy()
        case _ => ()
      }, forSession = true)
      synchronized {
        entries.get(k) match {
          case Some(winner) => fresh.free(); winner
          case None => entries(k) = fresh; fresh
        }
      }
    }.value.asInstanceOf[V]
  }

  /** [[memo]] of a key in `family` that keeps at most `bound` keys of
    * the family per session: a new key past the bound first frees the
    * family's other entries. For memos whose keys grow with the inputs a
    * long-lived session sees, not with its geometry.
    */
  def memo[V](session: SparkSession, family: String, bound: Int, key: Any)(
      compute: => V): V = {
    val k = (family, key)
    if (!entries.contains((session, k))) synchronized {
      val kin = entries.keys.filter {
        case (s, (f, _)) => s == session && f == family
        case _ => false
      }
      if (kin.size >= bound) kin.foreach(entries.remove(_).foreach(_.free()))
    }
    memo(session, k)(compute)
  }

  /** [[memo]] of a frame whose plan stays persisted until [[clear]]. */
  def memoPersisted(session: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    memo(session, key)(own(build, forSession = true))

  private def drop(session: SparkSession, all: Boolean): Unit = synchronized {
    entries.foreach { case (k, e) =>
      if (k._1 == session && (all || !e.forSession)) {
        entries.remove(k)
        e.free()
      }
    }
  }

  /** Free `session`'s request-lifetime entries (other sessions' and
    * session-lifetime entries are untouched).
    */
  def release(session: SparkSession): Unit = drop(session, all = false)

  /** Free every entry of `session`, both lifetimes (other sessions'
    * entries are untouched). Plans built before the clear must not run
    * after it: the broadcasts they carry are destroyed.
    */
  def clear(session: SparkSession): Unit = drop(session, all = true)
}
