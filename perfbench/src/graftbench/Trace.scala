package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.BenchShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call into a layer. `op` numbers the operation (pipeline
  * pass or catalog query) the span belongs to; `parent` is the enclosing
  * span (-1 at the root). */
final class Span(
    val id: Int,
    val parent: Int,
    val name: String,
    val op: Int,
    val label: String,
    val startNs: Long
) {
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = -1L
  var endNs: Long = -1L
  var compileNs: Long = 0L
  var compiles: Long = 0L
  val c = new Counters
  def durNs: Long = endNs - startNs
}

/** Spark-side counters of the jobs a span submitted. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes, peakMem = 0L
  var bytesRead, recordsRead = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** task run times per stage, for the skew ratio */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    peakMem = math.max(peakMem, o.peakMem)
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    o.stageTasks.foreach { case (k, v) =>
      stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v
    }
  }

  /** max ÷ median task run time of the worst stage with at least two
    * tasks; 1.0 when no stage qualifies. */
  def skew: Double = {
    val ratios = stageTasks.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = Stats.median(s.map(_.toDouble).toIndexedSeq)
      if (med <= 0) 1.0 else s.last / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** In-memory span recorder plus the Spark listeners that attribute job,
  * stage, task and query-planning counters to spans. Jobs are tagged
  * with their span through the job description; tasks follow their
  * stage's job. When disabled, `span` runs its body and records nothing
  * and no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  /** (planning-phase start ms, analysis, optimization, planning ms) of
    * every finished query execution; attributed to spans by time */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
  private val Tag = "graftbench span=(\\d+).*".r
  var op: Int = 0

  private def spanOfDescription(d: String): Option[Span] = d match {
    case null => None
    case Tag(id) => Option(byId.get(id.toInt))
    case _ => None
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties)
        .flatMap(p => spanOfDescription(p.getProperty("spark.job.description")))
        .foreach { s =>
          s.c.synchronized { s.c.jobs += 1 }
          e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.c.synchronized { s.c.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.c.synchronized {
          val c = s.c
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
            c.bytesRead += m.inputMetrics.bytesRead
            c.recordsRead += m.inputMetrics.recordsRead
            c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
              m.executorRunTime
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs).getOrElse(0L)
      plans.add(Array(at, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, op, label,
        System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"graftbench span=${s.id} $name")
      val c0 = CodeGenerator.compileTime
      val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.compileNs = CodeGenerator.compileTime - c0
        s.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
        stack = stack.tail
        sc.setJobDescription(prevDesc)
      }
    }

  /** Wait for the listener bus so every counter of finished work is in. */
  def drain(): Unit = if (enabled) BenchShim.drainListenerBus(sc)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    // a query execution belongs to the innermost span open when it planned
    plans.forEach { p =>
      val open = spans.filter(s => s.startMs <= p(0) && p(0) <= s.endMs)
      if (open.nonEmpty) {
        val c = open.maxBy(_.startNs).c
        c.analysisMs += p(1); c.optimizationMs += p(2); c.planningMs += p(3)
      }
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = s.durNs - children(s).map(_.durNs).sum

  /** Spans of one operation with the given name. */
  def named(op: Int, name: String): Seq[Span] =
    spans.filter(s => s.op == op && s.name == name).toSeq

  /** Counters of every span of one operation. */
  def opCounters(op: Int): Counters = {
    val c = new Counters
    spans.filter(_.op == op).foreach(s => c.add(s.c))
    c
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    val c = s.c
    Json(mutable.LinkedHashMap[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "label" -> s.label, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> selfNs(s), "compile_ns" -> s.compileNs, "compiles" -> s.compiles,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "run_ms" -> c.runMs, "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
      "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
      "fetch_wait_ms" -> c.fetchWaitMs, "spill_bytes" -> c.spillBytes,
      "peak_mem_bytes" -> c.peakMem, "bytes_read" -> c.bytesRead,
      "records_read" -> c.recordsRead, "analysis_ms" -> c.analysisMs,
      "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
      "skew" -> c.skew))
  }
}

object Stats {
  def median(xs: IndexedSeq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted sample (numpy's default). */
  def quantile(xs: IndexedSeq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
