package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. Every value is a pure function of the seed,
  * so one seed always gives the same frames. They are written as parquet
  * directories of four files (the layout a Spark writer leaves) with the
  * plain parquet writer, so generating needs no Spark session and leaves
  * the measured JVM cold.
  */
object Gen {

  /** A frame to write: parquet message type and its rows. */
  final case class Frame(schema: String, rows: Iterator[Group => Unit])

  /** SplitMix64 finaliser: the per-cell random source. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) draw keyed by (seed, a, b, salt). */
  def u01(seed: Long, a: Long, b: Long, salt: Long): Double =
    (mix(seed ^ mix(a ^ mix(b ^ mix(salt)))) >>> 11) * (1.0 / (1L << 53))

  /** Dense (month_id, unit_id, value) panel: `units` contiguous unit ids
    * (so they fill Grid's 40-column block), months 1..`months`, month-major
    * like a feed partitioned by month. A cell is an event with probability
    * `eventShare` (an integer fatality count, geometric with mean ~6), NaN
    * with probability `nanShare`, else 0.
    */
  def panel(units: Int, months: Int, eventShare: Double, nanShare: Double,
            seed: Long): Frame =
    Frame("message panel { optional int64 month_id; optional int64 unit_id; optional double value; }",
      (0L until units.toLong * months).iterator.map { id =>
        val m = id / units + 1
        val u = id % units
        val r = u01(seed, m, u, 1)
        val v =
          if (r < eventShare) 1.0 + math.floor(-math.log1p(-u01(seed, m, u, 2)) * 5.0)
          else if (r < eventShare + nanShare) Double.NaN
          else 0.0
        (g: Group) => { g.add("month_id", m); g.add("unit_id", u); g.add("value", v) }
      })

  private val Stop = Array("the", "a", "and", "of", "is", "to", "in", "that")
  private val Syll = Array("ka", "ro", "mi", "tes", "lun", "dor", "vi", "sa",
    "pel", "qua", "ne", "tor", "bri", "os", "fen", "gal")
  /** 4,096 synthetic content words built from syllables. */
  private val Vocab: Array[String] = Array.tabulate(4096) { i =>
    Syll(i & 15) + Syll((i >> 4) & 15) + Syll((i >> 8) & 15)
  }
  private val Boiler =
    "subscribe to the weekly newsletter and follow the official channel for more updates today"

  private def words(rnd: java.util.SplittableRandom, n: Int): Array[String] =
    Array.fill(n) {
      if (rnd.nextDouble() < 0.25) Stop(rnd.nextInt(Stop.length))
      else {
        // Zipf-like: squaring a uniform skews draws to low ranks
        val x = rnd.nextDouble()
        Vocab((x * x * Vocab.length).toInt)
      }
    }

  /** Synthetic documents (doc_id, text). Shares of the output:
    * `nearDupShare` are copies of an earlier document with ~5% of the
    * tokens replaced, another 5% are exact copies, `piiShare` carry an
    * e-mail / phone / IP probe, 20% carry a shared boilerplate sentence
    * (the repeated-span target), and 5% are punctuation-heavy low-quality
    * fragments.
    */
  def docs(count: Int, nearDupShare: Double, piiShare: Double, seed: Long): Frame = {
    val rnd = new java.util.SplittableRandom(seed)
    val texts = new Array[String](count)
    for (i <- 0 until count) {
      val r = rnd.nextDouble()
      val body =
        if (i > 10 && r < nearDupShare)
          texts(rnd.nextInt(i)).split(" ")
            .map(w => if (rnd.nextDouble() < 0.05) Vocab(rnd.nextInt(Vocab.length)) else w)
            .mkString(" ")
        else if (i > 10 && r < nearDupShare + 0.05) texts(rnd.nextInt(i))
        else if (r > 0.95)
          Array.fill(3 + rnd.nextInt(6))(Vocab(rnd.nextInt(Vocab.length)) + "!?").mkString(" ")
        else {
          val w = words(rnd, 40 + rnd.nextInt(200)).mkString(" ")
          if (rnd.nextDouble() < 0.2) s"$w $Boiler" else w
        }
      texts(i) =
        if (rnd.nextDouble() >= piiShare) body
        else body + (rnd.nextInt(3) match {
          case 0 => s" contact ${Vocab(rnd.nextInt(Vocab.length))}@example.com for details"
          case 1 => f" call +1 (555) ${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d after noon"
          case _ => s" server at 10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)} was patched"
        })
    }
    Frame("message docs { optional int64 doc_id; optional binary text (STRING); }",
      texts.iterator.zipWithIndex.map { case (t, i) =>
        (g: Group) => { g.add("doc_id", i.toLong); g.add("text", t) }
      })
  }

  private val EventTypes = Array("view", "click", "cart", "purchase", "error")

  /** User event log (event_id, ts, user_id, event_type, value) over 14
    * days; each user walks view → click → cart → purchase with drop-off,
    * so funnels and sessions have structure.
    */
  def events(users: Int, perUser: Int, seed: Long): Frame = {
    val rnd = new java.util.SplittableRandom(seed)
    val t0 = 1704067200L // 2024-01-01T00:00:00Z
    val rows = for {
      u <- 0 until users
      start = t0 + rnd.nextLong(14L * 86400L)
      k <- 0 until perUser
    } yield {
      val ty = if (rnd.nextDouble() < 0.6) EventTypes(math.min(k % 6, 4))
        else EventTypes(rnd.nextInt(3))
      val ts = (start + k * (60L + rnd.nextLong(7200L))) * 1000000L
      val v = math.round(rnd.nextDouble() * 10000.0) / 100.0
      (g: Group) => {
        g.add("event_id", u.toLong * perUser + k); g.add("ts", ts)
        g.add("user_id", u.toLong); g.add("event_type", ty); g.add("value", v)
      }
    }
    Frame("message events { optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,true)); " +
      "optional int64 user_id; optional binary event_type (STRING); optional double value; }",
      rows.iterator)
  }

  /** Undirected pair list (id_a < id_b, distinct), clustered in blocks of
    * 25 ids so components and communities are non-trivial.
    */
  def pairs(nodes: Int, edges: Int, seed: Long): Frame = {
    val rnd = new java.util.SplittableRandom(seed)
    val set = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    while (set.size < edges) {
      val a = rnd.nextInt(nodes)
      val b = if (rnd.nextDouble() < 0.85) (a / 25) * 25 + rnd.nextInt(25) else rnd.nextInt(nodes)
      if (a != b) set += ((math.min(a, b).toLong, math.max(a, b).toLong))
    }
    Frame("message pairs { optional int64 id_a; optional int64 id_b; }",
      set.iterator.map { case (a, b) => (g: Group) => { g.add("id_a", a); g.add("id_b", b) } })
  }

  /** Embeddings (vec_id, embedding array<float>, label): `clusters`
    * Gaussian blobs in `dim` dimensions.
    */
  def embeddings(n: Int, dim: Int, clusters: Int, seed: Long): Frame = {
    val rnd = new java.util.SplittableRandom(seed)
    val centres = Array.fill(clusters, dim)(rnd.nextDouble() * 2 - 1)
    def gauss(): Double =
      math.sqrt(-2 * math.log(1.0 - rnd.nextDouble())) * math.cos(2 * math.Pi * rnd.nextDouble())
    val rows = (0 until n).map { i =>
      val c = i % clusters
      val v = centres(c).map(x => (x + 0.15 * gauss()).toFloat)
      (g: Group) => {
        g.add("vec_id", i.toLong)
        val e = g.addGroup("embedding")
        v.foreach(x => e.addGroup("list").append("element", x))
        g.add("label", c)
      }
    }
    Frame("message emb { optional int64 vec_id; optional group embedding (LIST) " +
      "{ repeated group list { optional float element; } } optional int32 label; }",
      rows.iterator)
  }

  /** Write `f` as `dir/part-0000{0..3}.parquet`; returns the row count. */
  def write(f: Frame, dir: String): Long = {
    val schema = MessageTypeParser.parseMessageType(f.schema)
    val factory = new SimpleGroupFactory(schema)
    val rows = f.rows.toIndexedSeq
    val conf = new Configuration()
    val per = (rows.size + 3) / 4
    rows.grouped(math.max(1, per)).zipWithIndex.foreach { case (chunk, i) =>
      val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0000$i.parquet"))
        .withType(schema).withConf(conf).build()
      try chunk.foreach { fill => val g = factory.newGroup(); fill(g); w.write(g) }
      finally w.close()
    }
    rows.size.toLong
  }
}
