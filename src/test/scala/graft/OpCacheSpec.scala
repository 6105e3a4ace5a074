package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.spatial.CountryLag

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Pins the registry contract of [[OpCache]]: one owner per plan, two
  * lifetimes (request: freed by `release`; session: freed by `clear`),
  * per-session isolation, and one installed value per memo key. Each
  * test works in its own session over the shared SparkContext, so its
  * `clear` cannot touch entries other suites hold.
  */
class OpCacheSpec extends SparkSpec {

  private def panelIn(s: SparkSession): DataFrame = {
    import s.implicits._
    val units = Seq(8801L, 8802L, 8841L, 8842L)
    (1L to 2L).flatMap(m => units.map(u => (m, u, 1.0)))
      .toDF(Panel.TimeCol, Panel.UnitCol, "value")
  }

  private def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE

  /** The cache a fresh plan over `df` resolves to, if any. */
  private def cacheOf(df: DataFrame): Option[AnyRef] =
    df.select("*").queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder
    }

  private def destroyed(b: Broadcast[_]) =
    intercept[SparkException](b.value).getMessage.contains("destroyed")

  test("a request persist is promoted by a geometry read of an equal plan") {
    val s = spark.newSession()
    val panel = panelIn(s)
    val req = OpCache.persist(CountryLag.gridAdjacency(panel))
    val geo = GeoCache.adjacency(panel)
    val rows = geo.count()
    val before = cacheOf(geo)
    assert(before.isDefined)
    OpCache.release(s)
    assert(cached(geo) && cached(req))
    assert(cacheOf(geo).exists(_ eq before.get), "the same blocks, not a re-persist")
    assert(GeoCache.adjacency(panel).count() === rows)
    OpCache.clear(s)
    assert(!cached(geo))
  }

  test("a request persist of a geometry plan leaves it session-lifetime") {
    val s = spark.newSession()
    val panel = panelIn(s)
    val geo = GeoCache.adjacency(panel)
    val rows = geo.count()
    val before = cacheOf(geo)
    assert(before.isDefined)
    val req = OpCache.persist(CountryLag.gridAdjacency(panel))
    assert(cacheOf(req).exists(_ eq before.get), "the equal plan shares the blocks")
    OpCache.release(s)
    assert(cached(geo))
    assert(cacheOf(geo).exists(_ eq before.get), "the same blocks, not a re-persist")
    assert(geo.count() === rows)
    OpCache.clear(s)
    assert(!cached(geo))
  }

  test("clear unpersists the session's frames and destroys its broadcasts") {
    val s = spark.newSession()
    val req = OpCache.persist(s.range(40).withColumn("y", col("id") * 3))
    val kept = OpCache.memoPersisted(s, "kept")(s.range(50).withColumn("y", col("id") * 5))
    val bc = OpCache.memo(s, "bc")(s.sparkContext.broadcast(Array(1, 2, 3)))
    OpCache.release(s)
    assert(!cached(req))
    assert(cached(kept) && bc.value.sameElements(Array(1, 2, 3)))
    OpCache.clear(s)
    assert(!cached(kept))
    assert(destroyed(bc))
  }

  test("release destroys request broadcasts; a memo family past its bound starts over") {
    val s = spark.newSession()
    val req = OpCache.broadcast(s, Array(7, 8))
    val kept = OpCache.memo(s, "bc")(s.sparkContext.broadcast(Array(9)))
    assert(req.value.sameElements(Array(7, 8)))
    OpCache.release(s)
    assert(destroyed(req) && kept.value.sameElements(Array(9)))
    val computed = new java.util.concurrent.atomic.AtomicInteger
    def probe(k: Int): Int = OpCache.memo(s, "family", 2, k) { computed.incrementAndGet(); k * 10 }
    assert(probe(1) == 10 && probe(2) == 20 && probe(1) == 10 && computed.get == 2)
    // a third key frees the family's two entries first
    assert(probe(3) == 30 && computed.get == 3)
    assert(probe(1) == 10 && computed.get == 4)
    assert(probe(3) == 30 && computed.get == 4)
    assert(kept.value.sameElements(Array(9)), "other memos are untouched")
    OpCache.clear(s)
    assert(destroyed(kept))
  }

  test("release and clear leave another session's entries untouched") {
    val a = spark.newSession()
    val b = spark.newSession()
    def entries(s: SparkSession, n: Int) = (
      OpCache.persist(s.range(n).withColumn("y", col("id") * 7)),
      OpCache.memoPersisted(s, "kept")(s.range(n).withColumn("y", col("id") * 11)),
      OpCache.memo(s, "bc")(s.sparkContext.broadcast(Array(n))))
    val (reqA, keptA, bcA) = entries(a, 60)
    val (reqB, keptB, bcB) = entries(b, 70)
    OpCache.release(a)
    assert(!cached(reqA) && cached(keptA))
    assert(cached(reqB) && cached(keptB))
    OpCache.clear(a)
    assert(!cached(keptA) && destroyed(bcA))
    assert(cached(reqB) && cached(keptB) && bcB.value.sameElements(Array(70)))
    OpCache.clear(b)
    assert(!cached(reqB) && !cached(keptB) && destroyed(bcB))
  }

  test("racing first callers install one value and free the loser") {
    val s = spark.newSession()
    val bothIn = new CountDownLatch(2)
    val made = new ConcurrentLinkedQueue[Broadcast[Array[Int]]]
    def call(): Broadcast[Array[Int]] = OpCache.memo(s, "race") {
      bothIn.countDown()
      assert(bothIn.await(60, TimeUnit.SECONDS), "the callers never overlapped")
      val fresh = s.sparkContext.broadcast(Array(4, 5))
      made.add(fresh)
      fresh
    }
    val results = Seq(Future(call()), Future(call())).map(Await.result(_, 2.minutes))
    assert(results.head eq results(1), "both callers get the installed value")
    val (winner, loser) = made.asScala.toSeq.partition(_ eq results.head)
    assert(winner.size == 1 && loser.size == 1)
    assert(destroyed(loser.head))
    assert(OpCache.memo[AnyRef](s, "race")(fail("recomputed")) eq results.head)
    OpCache.clear(s)
    assert(destroyed(results.head))
  }
}
