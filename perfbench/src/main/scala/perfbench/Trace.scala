package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters that Spark's scheduler and Catalyst report for one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var peakExecMem = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** One timed call into a layer, opened and closed on the driver thread. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val phase: String, val t0Ns: Long, val t0Ms: Long) {
  var t1Ns = 0L
  var t1Ms = 0L
  val c = new Counters
  def durS: Double = (t1Ns - t0Ns) / 1e9
}

/** Spans around every call the benchmark makes into a layer. Spans live
  * in memory; [[Tracer.dump]] writes them when the run ends.
  *
  * Attribution: while a span is open its id is the driver thread's
  * `perfbench.span` local property, so every job Spark starts carries it.
  * The listener maps job → span and stage → span at job start, and each
  * task's metrics land on its stage's span. Catalyst phase times come from
  * each finished QueryExecution's tracker and land on the innermost span
  * whose interval holds the query's first phase.
  */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

final class Tracer(spark: SparkSession) extends Spans {
  val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  private val unattributed = new Span(-1, "(unattributed)", -1, "none", 0L, 0L)
  /** Label recorded on each span opened from now on (warmup/timed/probe). */
  var phase = "timed"

  def apply[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      phase, System.nanoTime(), System.currentTimeMillis())
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(byId.get(id.toInt))).getOrElse(unattributed)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      s.c.synchronized { s.c.jobs += 1 }
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = Option(stageSpan.get(e.stageInfo.stageId)).getOrElse(spanOf(e.properties))
      s.c.synchronized { s.c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val s = Option(stageSpan.get(e.stageId)).getOrElse(unattributed)
      val info = e.taskInfo
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      s.c.synchronized {
        val c = s.c
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedMs += math.max(0L, sched)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      queries.add((start, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for the listener bus to deliver this interval's events. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Attribute the Catalyst phases collected while started. */
  def finish(): Unit = {
    val it = queries.iterator()
    while (it.hasNext) {
      val (start, a, o, p) = it.next()
      val holder = spans.filter(s => s.t0Ms <= start && start <= s.t1Ms)
        .sortBy(s => s.t1Ms - s.t0Ms).headOption.getOrElse(unattributed)
      holder.c.analysisMs += a
      holder.c.optimizationMs += o
      holder.c.planningMs += p
    }
    queries.clear()
  }

  def all: Seq[Span] = spans.toSeq

  /** Duration minus the time covered by direct children. */
  def selfS(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(_.durS).sum
    math.max(0.0, s.durS - kids)
  }

  /** Counters of `s` and every span below it. */
  def subtree(s: Span): Counters = {
    val acc = new Counters
    acc.add(s.c)
    spans.iterator.filter(_.parent == s.id).foreach(k => acc.add(subtree(k)))
    acc
  }

  def dump(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val c = s.c
      sb ++= f"""{"id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent},""" +
        f""""phase":"${s.phase}","start_ms":${s.t0Ms},"dur_s":${s.durS}%.6f,""" +
        f""""self_s":${selfS(s)}%.6f,"jobs":${c.jobs},"stages":${c.stages},""" +
        f""""tasks":${c.tasks},"task_run_s":${c.runMs / 1e3}%.3f,""" +
        f""""shuffle_write_b":${c.shuffleWrite},"shuffle_read_b":${c.shuffleRead}}"""
      sb ++= (if (i + 1 < spans.size) ",\n" else "\n")
    }
    sb ++= "]\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes("UTF-8"))
  }
}
