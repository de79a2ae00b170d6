package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.graftbench.{SpanStats, Tracer}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** One benchmark operation: `construct` is the graft call that returns a
  * DataFrame (or, for an append, nothing), `execute` is the action. */
final case class Op(name: String, kind: String, construct: () => DataFrame,
    execute: DataFrame => Unit = Harness.noop)

final case class Check(name: String, ok: Boolean, detail: String, covers: Seq[Int])

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, out: String, scale: String, cores: Int, setups: Int,
    prewarmSeconds: Double)

/** Closed-loop driver: one client, the next operation starts when the
  * previous one has returned. Every operation is timed from outside graft
  * in two parts (construct, execute). With `trace` on, even-numbered
  * operations run under the [[Tracer]] listeners and odd ones without, so
  * one run yields both the per-layer counters and the tracing overhead. */
final class Harness(val opts: Opts) {
  val mainStart: Long = System.nanoTime()
  var spark: SparkSession = _
  var tracer: Tracer = _
  val ops = ArrayBuffer.empty[Json.Obj]
  val checks = ArrayBuffer.empty[Check]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val spans = ArrayBuffer.empty[Json.Obj]

  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = graft.Graft.configure(SparkSession.builder()
        .master(s"local[${opts.cores}]").appName("graftbench"))
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${opts.out}/warehouse")
      .config("spark.local.dir", s"${opts.out}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def ms(ns: Long): Double = ns / 1e6
  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, WholeStageCodegenExec.codeGenTime)

  /** Runs `op` untimed (warm-up and checks). */
  def runUntimed(op: Op): Unit = op.execute(op.construct())

  /** Runs `op` in the measured loop and records its timings. */
  def measure(op: Op): Unit = {
    val id = ops.length
    val traced = opts.trace && id % 2 == 0
    val sc = spark.sparkContext
    if (traced) tracer.attach()
    val (cc0, cn0) = codegen
    val tOuter0 = System.nanoTime()
    var ok = true; var err = ""
    var tc0, tc1, te0, te1 = 0L
    var cc1, cn1 = 0L
    try {
      sc.setLocalProperty(Tracer.SpanProp, s"op$id/construct")
      if (traced) tracer.currentSpan = s"op$id/construct"
      tc0 = System.nanoTime()
      val df = op.construct()
      tc1 = System.nanoTime()
      val cg = codegen; cc1 = cg._1; cn1 = cg._2
      sc.setLocalProperty(Tracer.SpanProp, s"op$id/execute")
      if (traced) tracer.currentSpan = s"op$id/execute"
      te0 = System.nanoTime()
      op.execute(df)
      te1 = System.nanoTime()
    } catch {
      case NonFatal(e) =>
        ok = false; err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        val now = System.nanoTime()
        if (tc1 == 0L) { tc1 = now; val cg = codegen; cc1 = cg._1; cn1 = cg._2 }
        if (te0 == 0L) te0 = now
        te1 = now
    } finally sc.setLocalProperty(Tracer.SpanProp, null)
    val tOuter1 = System.nanoTime()
    val (cc2, cn2) = codegen
    val rec = Json.Obj(
      "id" -> id, "name" -> op.name, "kind" -> op.kind, "ok" -> ok, "error" -> err,
      "traced" -> traced, "start_ms" -> ms(tOuter0 - mainStart),
      "latency_ms" -> ms(tOuter1 - tOuter0),
      "construct_ms" -> ms(tc1 - tc0), "execute_ms" -> ms(te1 - te0),
      "codegen_compiles" -> (cc2 - cc0), "codegen_compile_ms" -> ms(cn2 - cn0))
    if (traced) {
      tracer.detach()
      val cs = tracer.spans.getOrElse(s"op$id/construct", new SpanStats)
      val es = tracer.spans.getOrElse(s"op$id/execute", new SpanStats)
      rec("storage_mem_mb") = storageMemMb
      rec("construct") = Harness.spanJson(cs, ms(tc1 - tc0), cc1 - cc0, ms(cn1 - cn0))
      rec("execute") = Harness.spanJson(es, ms(te1 - te0), cc2 - cc1, ms(cn2 - cn1))
      spans += Json.Obj("id" -> s"op$id", "name" -> op.name, "kind" -> op.kind,
        "start_ms" -> ms(tOuter0 - mainStart), "end_ms" -> ms(tOuter1 - mainStart),
        "children" -> Seq(
          Json.Obj("id" -> s"op$id/construct", "parent" -> s"op$id",
            "start_ms" -> ms(tc0 - mainStart), "end_ms" -> ms(tc1 - mainStart),
            "jobs" -> Harness.windows(cs, mainStart)),
          Json.Obj("id" -> s"op$id/execute", "parent" -> s"op$id",
            "start_ms" -> ms(te0 - mainStart), "end_ms" -> ms(te1 - mainStart),
            "jobs" -> Harness.windows(es, mainStart))))
    }
    ops += rec
  }

  def storageMemMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  def check(name: String, covers: Seq[Int])(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    checks += Check(name, ok, detail, covers)
  }

  def run(w: Workload): Unit = {
    val setupS = ArrayBuffer.empty[Double]
    for (k <- 0 until opts.setups) {
      val t0 = if (k == 0) mainStart else System.nanoTime()
      newSession()
      w.setup(this, s"${opts.out}/data")
      w.warmup(this)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    info("setup_s") = setupS.toSeq
    val p0 = System.nanoTime()
    var p = 0
    while (p == 0 || System.nanoTime() - p0 < opts.prewarmSeconds * 1e9) { w.prewarm(this, p); p += 1 }
    info("prewarm_units") = p
    info("storage_pool_mb") =
      spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    if (opts.trace) tracer = new Tracer(spark)
    // whole units only, and none that would on average end past the
    // deadline, so a run measures about `seconds` whatever a unit costs
    val t0 = System.nanoTime()
    val deadline = t0 + (opts.seconds * 1e9).toLong
    var unit = 0
    while (unit == 0 || System.nanoTime() + (System.nanoTime() - t0) / unit <= deadline) {
      w.unit(this, unit).foreach(measure)
      unit += 1
    }
    info("measure_s") = (System.nanoTime() - t0) / 1e9
    info("units") = unit
    info("storage_mem_end_mb") = storageMemMb
    w.check(this)
    if (opts.trace) {
      info("unattributed_jobs") = tracer.unattributedJobs
      write("spans.json", Json.render(Json.Obj("workload" -> opts.workload,
        "seed" -> opts.seed, "spans" -> spans.toSeq)))
    }
    info("rss_peak_mb") = Harness.vmHwmMb
  }

  def write(name: String, text: String): Unit =
    Files.write(Paths.get(opts.out, name), text.getBytes(StandardCharsets.UTF_8))

  def result: String = Json.render(Json.Obj(
    "workload" -> opts.workload, "seed" -> opts.seed, "cores" -> opts.cores,
    "scale" -> opts.scale, "seconds" -> opts.seconds, "trace" -> opts.trace,
    "info" -> info, "ops" -> ops.toSeq,
    "checks" -> checks.toSeq.map(c => Json.Obj("name" -> c.name, "ok" -> c.ok,
      "detail" -> c.detail, "covers" -> c.covers)),
    "spark_version" -> spark.version))
}

object Harness {
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def spanJson(s: SpanStats, wallMs: Double, compiles: Long, compileMs: Double): Json.Obj =
    Json.Obj("wall_ms" -> wallMs, "jobs" -> s.jobs, "stages" -> s.stages,
      "tasks" -> s.tasks, "task_cpu_ms" -> s.taskCpuNs / 1e6,
      "task_run_ms" -> s.taskRunMs, "gc_ms" -> s.gcMs,
      "scan_bytes" -> s.scanBytes, "scan_rows" -> s.scanRows,
      "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "shuffle_read_bytes" -> s.shuffleReadBytes, "fetch_wait_ms" -> s.fetchWaitMs,
      "spill_bytes" -> s.spillBytes, "queries" -> s.queries,
      "analysis_ms" -> s.analysisMs, "optimization_ms" -> s.optimizationMs,
      "planning_ms" -> s.planningMs, "sort_fallback_tasks" -> s.sortFallbackTasks,
      "blocks_written" -> s.blocksWritten, "bytes_written" -> s.bytesWritten,
      "codegen_compiles" -> compiles, "codegen_compile_ms" -> compileMs)

  /** Job windows relative to the run start (epoch → monotonic offset). */
  def windows(s: SpanStats, mainStart: Long): Seq[Json.Obj] = {
    val offsetMs = System.currentTimeMillis() - (System.nanoTime() - mainStart) / 1e6
    s.jobWindows.toSeq.map { case (a, b) =>
      Json.Obj("start_ms" -> (a - offsetMs), "end_ms" -> (b - offsetMs)) }
  }

  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

object Main {
  /** `--workload a,b` runs several workloads one after another in this JVM
    * (the build's class-data recording run); each writes under out/<name>. */
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = kv("workload").split(",").toSeq
    for (name <- names) {
      val out = if (names.size == 1) kv("out") else s"${kv("out")}/$name"
      new java.io.File(out).mkdirs()
      val opts = Opts(name, kv("seed").toLong, kv("seconds").toDouble,
        kv.getOrElse("trace", "0") == "1", out, kv.getOrElse("scale", "bench"),
        kv.getOrElse("cores", "4").toInt, kv.getOrElse("setups", "3").toInt,
        kv.getOrElse("prewarm", "0").toDouble)
      val w: Workload = name match {
        case "olap"      => new Olap(opts)
        case "ann_mixed" => new AnnMixed(opts)
        case "corpus"    => new Corpus(opts)
        case other       => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val h = new Harness(opts)
      try {
        h.run(w)
        h.write("result.json", h.result)
      } finally if (h.spark != null) h.spark.stop()
    }
  }
}
