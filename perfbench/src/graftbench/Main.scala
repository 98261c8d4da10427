package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Command-line options; `perfbench/run.py` passes all of them. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    data: String,
    out: String,
    startMs: Long,
    failOp: Int
)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      work = get("work"),
      data = m.getOrElse("data", ""),
      out = get("out"),
      startMs = m.get("start-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      failOp = m.get("fail-op").map(_.toInt).getOrElse(-1)
    )
  }
}

object Files {
  def list(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
  }
  def sizeOf(dir: String): Long = list(dir).map(_.length).sum
  def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

/** One timed operation. */
final case class OpRecord(op: Int, k: Int, label: String, startMs: Long, wallNs: Long,
    traced: Boolean, failures: Seq[String]) {
  def ok: Boolean = failures.isEmpty
}

/** Input rows read by all tasks; the catalog's document-shaped throughput
  * (an untraced run registers only this counter). */
final class InputRows extends SparkListener {
  @volatile var rows = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized { rows += e.taskMetrics.inputMetrics.recordsRead }
}

object Main {
  val Cpus: Int = 4
  /** untraced/traced operation pairs behind `trace.overhead_share` */
  val OverheadPairs: Int = 4

  /** The session settings of `graft.Bench`, with every directory kept
    * inside the benchmark's work dir. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "prep_pipeline" => new PrepWorkload(spark, o)
    case "neardup_dedup" => new NearDupWorkload(spark, o)
    case "catalog_small" => new CatalogWorkload(spark, o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The set-up: session, the `graft.Bench` warm-up, and the workload's
    * inputs. */
  def setUp(o: Opts): (SparkSession, Workload) = {
    val spark = session(o)
    log("session")
    spark.range(1000000).select(sum(col("id"))).collect()
    val w = workload(spark, o)
    log("warm-up")
    w.prepare()
    log("inputs")
    (spark, w)
  }

  /** Progress line on stderr (it goes to the run's JVM log). */
  def log(msg: String): Unit = System.err.println(
    f"[graftbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%8.2f s $msg")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val (spark, w) = setUp(o)
    w.warmUp()
    // from the JVM's launch to the first timed operation: start-up, class
    // loading, the session, input generation and the fixed warm-up
    val setupS = (System.currentTimeMillis() - o.startMs) / 1000.0
    log(s"set-up and warm-up done: $setupS s")
    val inputRows = new InputRows
    spark.sparkContext.addSparkListener(inputRows)

    val records = mutable.ArrayBuffer.empty[OpRecord]
    val checkMetrics = mutable.Map.empty[String, Double]
    var opIndex = 0

    /** One operation, timed; its output checked after the clock stops. */
    def runOne(k: Int, tr: Tracer): OpRecord = {
      tr.op = opIndex
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      val out = try {
        Right(tr.span(w.rootSpan, w.label(k)) {
          if (opIndex == o.failOp) throw new IllegalStateException("injected failure")
          w.run(k, tr)
        })
      } catch { case e: Throwable => Left(e) }
      val wall = System.nanoTime() - start
      tr.drain()
      val failures = out match {
        case Right(r) =>
          try w.check(k, r, checkMetrics)
          catch { case e: Throwable => Seq(s"check failed: $e") }
        case Left(e) => Seq(s"${w.label(k)}: ${e.getClass.getName}: ${e.getMessage}")
      }
      w.cleanup()
      val rec = OpRecord(opIndex, k, w.label(k), startMs, wall, tr.enabled, failures)
      records += rec
      opIndex += 1
      rec
    }

    /** Whole rounds of operations until `seconds` have passed. */
    def measure(tr: Tracer, seconds: Double): Seq[OpRecord] = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val recs = mutable.ArrayBuffer.empty[OpRecord]
      var rounds = 0
      while (rounds == 0 || System.nanoTime() < deadline) {
        (0 until w.round).foreach(k => recs += runOne(k, tr))
        rounds += 1
      }
      recs.toSeq
    }

    /** Traced wall ÷ untraced wall − 1 over the same operations, run
      * warm and alternately, the order flipped every pair; a traced
      * operation gets its own tracer, so listener set-up is counted. */
    def overheadShare(): Double = {
      val pairs = (0 until OverheadPairs).map(i => (i % w.round, i % 2 == 0))
      val sums = pairs.map { case (k, plainFirst) =>
        def plain() = runOne(k, new Tracer(spark, enabled = false))
        def traced() = {
          val t = new Tracer(spark, enabled = true)
          try runOne(k, t) finally t.close()
        }
        val (p, t) = if (plainFirst) { val p = plain(); (p, traced()) }
                     else { val t = traced(); (plain(), t) }
        (p.wallNs.toDouble, t.wallNs.toDouble)
      }
      sums.map(_._2).sum / sums.map(_._1).sum - 1.0
    }

    val result = mutable.LinkedHashMap.empty[String, Any]
    result("workload") = w.name
    result("trace") = o.trace
    if (!o.trace) {
      val rows0 = inputRows.rows
      val tr = new Tracer(spark, enabled = false)
      measure(tr, o.seconds)
      result("input_rows") = inputRows.rows - rows0
    } else {
      val tr = new Tracer(spark, enabled = true)
      val traced = measure(tr, o.seconds)
      tr.close()
      val extra = w.extraLayerMetrics(tr) + ("trace.overhead_share" -> overheadShare())
      result("per_layer") = Layers.metrics(tr, traced, checkMetrics.toMap ++ extra)
      result("self_ms_per_op") = Layers.selfTimes(tr, traced)
      val tracePath = s"${o.work}/trace.jsonl"
      Files.writeLines(tracePath, tr.toJsonLines)
      result("trace_file") = tracePath
    }
    log(s"measured ${records.size} operations")
    val all = records.toSeq
    result("attempted") = all.size
    result("failed") = all.count(!_.ok)
    result("failures") = all.flatMap(_.failures).take(20)
    result("ops") = all.map(r => mutable.LinkedHashMap[String, Any](
      "op" -> r.op, "label" -> r.label, "start_ms" -> r.startMs, "wall_ms" -> r.wallNs / 1e6,
      "traced" -> r.traced, "ok" -> r.ok, "docs" -> w.docsPerOp(r.k)))
    result("setup_s") = setupS
    result("peak_rss_mb") = peakRssMb
    result("check_metrics") = checkMetrics.toMap
    result("methodology") = mutable.LinkedHashMap[String, Any](
      "seed" -> o.seed, "run_seconds" -> o.seconds, "cpus" -> Cpus,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "local_dirs" -> spark.sparkContext.getConf.get("spark.local.dir"),
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "setup_s" -> setupS,
      "ops" -> all.size, "rounds_of" -> w.round,
      "closed_loop" -> "one driver thread; next operation starts after the previous one ends",
      "timing" -> "every operation timed once; no retime, no min-of-N"
    ) ++ w.stamp
    Files.writeLines(o.out, Iterator(Json(result)))
    spark.stop()
    log("stopped")
  }

  /** High-water resident set of this JVM, from /proc (0 if unavailable). */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}

/** Per-layer metrics of a traced run, normalized per operation. */
object Layers {
  val Names: Seq[String] = Seq(
    "mapper.apply_ms", "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "kernel.word_shingles_ns_row", "kernel.minhash_sig_ns_row",
    "kernel.intersect_size_ns_row", "kernel.pair_combos_ns_row", "kernel.fused_share",
    "codegen.compile_ms", "codegen.classes",
    "op.tokenize_ms", "op.stride_pad_ms", "op.template_ms", "op.batch_collate_ms",
    "prep.tokens", "prep.windows", "collate.pad_share",
    "op.signature_ms", "op.candidates_ms", "op.verify_ms", "op.components_ms",
    "op.survivors_ms", "op.prefix_join_ms",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.verify_yield",
    "op.sink_write_ms", "sink.bytes_per_input_byte", "sink.files", "scan.bytes_read",
    "sched.jobs", "sched.stages", "sched.tasks",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.busy_share", "task.skew",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.bytes", "exec.peak_mem_bytes", "trace.overhead_share")

  private val OpSpans = Seq("tokenize", "stride_pad", "template", "batch_collate",
    "sink_write", "signature", "candidates", "verify", "components", "survivors",
    "prefix_join")

  def metrics(tr: Tracer, traced: Seq[OpRecord], measured: Map[String, Double]): Map[String, Double] = {
    val ops = traced.map(_.op)
    val n = ops.size.toDouble
    val c = new Counters
    ops.foreach(op => c.add(tr.opCounters(op)))
    val roots = tr.spans.filter(s => s.parent == -1 && ops.contains(s.op)).toSeq
    val wallMs = roots.map(_.durNs).sum / 1e6
    def selfMs(op: Int, name: String): Double = tr.named(op, name).map(tr.selfNs).sum / 1e6
    val m = mutable.LinkedHashMap.empty[String, Double]
    Names.foreach(k => m(k) = 0.0)
    m("mapper.apply_ms") =
      ops.map(op => selfMs(op, "mapper.apply") + selfMs(op, "catalog.build")).sum / n
    m("plan.analysis_ms") = c.analysisMs / n
    m("plan.optimization_ms") = c.optimizationMs / n
    m("plan.planning_ms") = c.planningMs / n
    m("codegen.compile_ms") = roots.map(_.compileNs).sum / 1e6 / n
    m("codegen.classes") = roots.map(_.compiles).sum / n
    OpSpans.foreach { s =>
      m(s"op.${s}_ms") = Stats.median(ops.map(op => selfMs(op, s"op.$s")).toIndexedSeq)
    }
    m("scan.bytes_read") = c.bytesRead / n
    m("sched.jobs") = c.jobs / n
    m("sched.stages") = c.stages / n
    m("sched.tasks") = c.tasks / n
    m("exec.run_ms") = c.runMs / n
    m("exec.cpu_ms") = c.cpuNs / 1e6 / n
    m("exec.gc_ms") = c.gcMs / n
    m("exec.busy_share") = c.runMs / (Main.Cpus * wallMs)
    m("task.skew") = Stats.median(ops.map(op => tr.opCounters(op).skew).toIndexedSeq)
    m("shuffle.write_bytes") = c.shuffleWrite / n
    m("shuffle.read_bytes") = c.shuffleRead / n
    m("shuffle.fetch_wait_ms") = c.fetchWaitMs / n
    m("spill.bytes") = c.spillBytes / n
    m("exec.peak_mem_bytes") = c.peakMem.toDouble
    measured.foreach { case (k, v) => if (m.contains(k)) m(k) = v }
    m.toMap
  }

  /** Self time per layer (span name), in ms per operation. */
  def selfTimes(tr: Tracer, traced: Seq[OpRecord]): Map[String, Double] = {
    val ops = traced.map(_.op).toSet
    val n = ops.size.toDouble
    tr.spans.filter(s => ops.contains(s.op)).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(tr.selfNs).sum / 1e6 / n
    }.toMap
  }
}
