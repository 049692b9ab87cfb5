package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one workload, one seed, one closed-loop client.
  *
  *   graftbench.Run --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Untraced (--trace 0): set up several times (median = setup_s), warm
  * up, then run ops for --seconds (and at least the workload's minOps)
  * with no benchmark listener attached.
  * Traced (--trace 1): the same, but the window's ops alternate untraced
  * and traced, so the per-layer metrics and the tracing overhead come
  * from one process. The last stdout line is the JSON result.
  */
object Run {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"--$k is required"))
    val workload = arg("workload")
    require(Workloads.Names.contains(workload),
      s"unknown workload $workload (one of ${Workloads.Names.mkString(", ")})")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = new File(arg("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = graft.GraftSession.builder(cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        val r = run(spark, workload, seed, seconds, trace, work, cores)
        r.lines.foreach(println)
        println(r.json)
        0
      } finally spark.stop()
    sys.exit(code)
  }

  final case class Result(lines: Seq[String], json: String)

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, cores: Int): Result = {
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, work, tracer)
    val w = Workloads(workload, ctx)
    val guard = new Guard(spark)

    def phase(what: String): Unit = System.err.println(
      f"[graftbench] $what done at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s of JVM uptime")
    phase("session")
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    var attempted = 0
    var failed = 0
    phase("setup")
    w.setupChecks().foreach { ok => attempted += 1; if (!ok) failed += 1 }
    phase("setup checks")

    val samples = mutable.ArrayBuffer.empty[Sample]
    /** Run op i; a correct result is returned as a sample. */
    def runOp(i: Int, traced: Boolean): Option[Sample] = {
      val op = w.next(i)
      tracer.foreach(_.enable(traced))
      attempted += 1
      val res = guard.run(w.timeoutMs) {
        ctx.span(s"op.${op.cls}.${op.name}", i)(op.body())
      } match {
        case Guard.Done(check, ms) =>
          if (scala.util.Try(check()).getOrElse(false)) Some(Sample(op.cls, op.name, ms, traced, i))
          else {
            failed += 1
            System.err.println(s"[graftbench] op $i ${op.cls}/${op.name}: output mismatch")
            None
          }
        case Guard.TimedOut =>
          failed += 1
          System.err.println(s"[graftbench] op $i ${op.cls}/${op.name}: timed out after ${w.timeoutMs} ms")
          None
        case Guard.Failed(e) =>
          failed += 1
          System.err.println(s"[graftbench] op $i ${op.cls}/${op.name}: failed: $e")
          None
      }
      if (traced) tracer.foreach(_.drain())
      res
    }
    (0 until w.warmupOps).foreach(runOp(_, traced = false))
    w.parts.clear()
    phase("warm-up")
    val loopStart = System.nanoTime()
    var i = w.warmupOps
    while ((System.nanoTime() - loopStart) / 1e9 < seconds || i - w.warmupOps < w.minOps) {
      // alternate within a cycle of op kinds and flip every cycle, so each
      // kind runs both traced and untraced
      samples ++= runOp(i, traced = trace && (i + i / 10) % 2 == 1)
      i += 1
    }
    phase(s"window of $i ops")
    tracer.foreach(_.enable(false))
    guard.close()

    val untraced = samples.filterNot(_.traced).toSeq
    val busyS = untraced.map(_.ms).sum / 1000
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("ops_per_s", Workloads.perSecond(untraced.size, busyS), "1/s"),
      Metric("op_p50_ms", if (untraced.isEmpty) Double.NaN else Stats.median(untraced.map(_.ms)), "ms"),
      Metric("peak_rss_mb", peakRssMb, "MB"),
      Metric("out_bytes_per_in_byte", w.outBytesPerInByte, "ratio"))

    val lines = mutable.ArrayBuffer.empty[String]
    def line(m: Metric, tag: String) = lines += f"[$tag] ${m.name}%-48s ${fmt(m.value)} ${m.unit}"
    e2e.foreach(line(_, "e2e"))
    val untracedOps = untraced.map(_.op).toSet
    val classSamples =
      if (w.parts.isEmpty) untraced
      else w.parts.filter(p => untracedOps.contains(p.op)).map(p => Sample(p.cls, p.name, p.ms, traced = false, p.op)).toSeq
    classMetrics(classSamples).foreach(line(_, "e2e"))
    line(Metric("failed_frac", if (attempted == 0) 0 else failed.toDouble / attempted, "ratio"), "e2e")
    line(Metric("ops_attempted", attempted.toDouble, "count"), "e2e")
    w.extra(untraced).foreach(line(_, "e2e"))

    val reported: Seq[Metric] = tracer match {
      case None => e2e
      case Some(tr) =>
        val layers = Layers.compute(tr, w, samples.toSeq, cores)
        val tracedS = samples.filter(_.traced).toSeq
        val overhead =
          if (untraced.isEmpty || tracedS.isEmpty) 0.0
          else Stats.median(tracedS.map(_.ms)) / Stats.median(untraced.map(_.ms)) - 1
        line(Metric("trace.overhead_frac", overhead, "ratio"), "trace")
        line(Metric("trace.traced_op_p50_ms", if (tracedS.isEmpty) Double.NaN else Stats.median(tracedS.map(_.ms)), "ms"), "trace")
        layers.foreach(line(_, "layer"))
        val spanFile = new File(work.getParentFile, s"trace-$workload-$seed.jsonl")
        tr.write(spanFile)
        lines += s"[trace] spans written to ${spanFile.getPath}"
        layers
    }
    val metrics = reported.map(m => s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""")
    val json = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${metrics.mkString(",")}}}"""
    Result(lines.toSeq, json)
  }

  /** Per-class median and tail (highest percentile with >= 10 samples
    * beyond it), named as the workload's op classes. */
  def classMetrics(samples: Seq[Sample]): Seq[Metric] = {
    val names = Map("point" -> "point", "scan" -> "scan", "commit" -> "commit", "read" -> "read",
      "cdc" -> "cdc_drain", "ingest" -> "ingest", "step" -> "step")
    samples.groupBy(_.cls).toSeq.sortBy(_._1).flatMap { case (cls, ss) =>
      val n = names.getOrElse(cls, cls)
      val ms = ss.map(_.ms)
      Seq(Metric(s"${n}_p50_ms", Stats.median(ms), "ms"), Metric(s"${n}_samples", ms.size.toDouble, "count")) ++
        Stats.tail(ms).toSeq.flatMap(t => Seq(Metric(s"${n}_tail_ms", t.value, "ms"),
          Metric(s"${n}_tail_pct", t.pct.toDouble, "%")))
    }
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
      finally src.close()
    }
  }
}

/** Per-op watchdog: cancels the op's Spark jobs and active streams when
  * its limit passes. A late timer cannot touch the next op: each op has
  * its own job group and `done` flag, and the interrupt status is
  * cleared on exit. A timed-out op is never a sample. */
final class Guard(spark: SparkSession) {
  private val timer = new java.util.Timer("graftbench-watchdog", true)
  private var n = 0L

  def run(limitMs: Long)(body: => (() => Boolean)): Guard.Outcome = {
    n += 1
    val group = s"graftbench-op-$n"
    val sc = spark.sparkContext
    val done = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    val task = new java.util.TimerTask {
      def run(): Unit = if (!done.get) {
        fired.set(true)
        sc.cancelJobGroup(group)
        spark.streams.active.foreach(_.stop())
      }
    }
    Thread.interrupted()
    sc.setJobGroup(group, group, interruptOnCancel = true)
    timer.schedule(task, limitMs)
    val t0 = System.nanoTime()
    try {
      val check = body
      val ms = (System.nanoTime() - t0) / 1e6
      done.set(true)
      if (fired.get) Guard.TimedOut else Guard.Done(check, ms)
    } catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        done.set(true)
        if (fired.get) Guard.TimedOut else Guard.Failed(e)
    } finally {
      task.cancel()
      sc.clearJobGroup()
      Thread.interrupted()
    }
  }

  def close(): Unit = timer.cancel()
}

object Guard {
  sealed trait Outcome
  final case class Done(check: () => Boolean, ms: Double) extends Outcome
  case object TimedOut extends Outcome
  final case class Failed(e: Throwable) extends Outcome
}
