package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up with every op checked, run the
  * timed closed loop, check the end state, and print one JSON object of
  * every metric (end-to-end and per-layer) as the last stdout line.
  * `perfbench/run.py` builds this, stages the data and selects the
  * metrics the run reports. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, dataset: String,
      fixtures: String, pins: String, cores: Int,
      traceOut: Option[String], regenScale: Double)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), get("data"), get("dataset"),
      get("fixtures"), get("pins"),
      m.get("cores").map(_.toInt).getOrElse(4), m.get("trace-out"),
      m.get("regen-scale").map(_.toDouble).getOrElse(0.0))
  }

  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3
  /** Timed cycles per phase: at least MinCycles, more while they fit in
    * the run's seconds and the workload's inputs last. */
  val MinCycles = 2

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class Phase(cycles: Seq[Double], wall: Double, from: Int,
      until: Int, root: Int, startMs: Long, endMs: Long)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.max(1, math.min(a.cores, Runtime.getRuntime.availableProcessors))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = new Tracer(spark, a.trace)
    tracer.attach()
    val ctx = Ctx(spark, a.seed, a.data, a.dataset, a.work, a.fixtures, tracer,
      new Pins(a.pins, a.dataset))
    val w: Workload = a.workload match {
      case "olap_mix" => new OlapMix(ctx)
      case "mart_refresh" => new MartRefresh(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    var setupTimes = Seq.empty[Double]
    var checkSeconds = 0.0
    var phases = Seq.empty[Phase]
    var regen = 0.0

    /** Whole cycles of the op deck: MinCycles, then whole groups more
      * while the next group is expected to end within the run's seconds. */
    def timed(first: Int): Phase = {
      val from = ctx.rec.outcomes.size
      val cycles = mutable.ArrayBuffer.empty[Double]
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val limit = w.maxCycles - first
      def fits = secs(t0) + w.cycleGroup * cycles.sum / cycles.size <= a.seconds
      tracer.span("timed", "bench") {
        var i = first
        while (cycles.size < math.min(MinCycles, limit) ||
            cycles.size % w.cycleGroup != 0 ||
            (fits && cycles.size + w.cycleGroup <= limit)) {
          val c0 = System.nanoTime()
          w.cycle(i)
          cycles += secs(c0)
          i += 1
        }
      }
      Phase(cycles.toSeq, secs(t0), from, ctx.rec.outcomes.size,
        if (a.trace) tracer.spans.lastIndexWhere(_.name == "timed") else -1,
        startMs, System.currentTimeMillis())
    }

    val phaseTimes = mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally phaseTimes(name) = secs(t0)
    }
    try {
      phase("prepare")(w.prepare())
      setupTimes = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime(); w.setup(rep); secs(t0)
      }
      val t0 = System.nanoTime()
      tracer.span("warmup", "bench")(w.warmup())
      checkSeconds = secs(t0)
      if (a.trace) {
        // untraced, traced, untraced again: the traced phase against the
        // mean of the two around it is the overhead of tracing, with the
        // drift of a warming JVM cancelled to first order
        def untraced(first: Int) = {
          tracer.detach(); tracer.paused = true
          try timed(first) finally { tracer.paused = false; tracer.attach() }
        }
        val before = untraced(0)
        val traced = timed(before.cycles.size)
        val after = untraced(before.cycles.size + traced.cycles.size)
        phases = Seq(before, traced, after)
      } else phases = Seq(timed(0))
      phase("finish")(w.finish())
      if (a.regenScale > 0) {
        val dir = s"${a.work}/regen"
        val t1 = System.nanoTime()
        graft.tools.SfGen.generate(spark, dir, a.regenScale, cores)
        regen = secs(t1)
        MartRefresh.del(Paths.get(dir))
      }
      tracer.drain()
    } catch {
      case NonFatal(e) =>
        ctx.problems += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    }

    // ---- end-to-end metrics (from the untraced phase) ---------------------
    val main = phases.headOption
    val inPhase = main.map(p => ctx.rec.outcomes.slice(p.from, p.until).toSeq).getOrElse(Nil)
    val reads = inPhase.filter(o => o.ok && o.kind == "read").map(_.seconds)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    metrics("setup_s") = med(setupTimes)
    metrics("run_s") = main.map(p => med(p.cycles)).getOrElse(0.0)
    metrics("ops_per_s") = main.map(p => inPhase.count(_.ok) / p.wall).getOrElse(0.0)
    metrics("read_mean_s") = if (reads.isEmpty) 0.0 else reads.sum / reads.size

    // ---- per-layer metrics (from the traced phase) ------------------------
    if (a.trace && phases.size == 3) {
      val p = phases(1)
      val ids = tracer.subtree(p.root)
      val sp = ids.map(tracer.spans)
      def total(f: Counters => Long) = tracer.total(ids)(f).toDouble
      def spanSum(name: String) = sp.filter(_.name == name).map(_.seconds).sum
      val builds = sp.filter(_.name == "build")
      metrics("session.start_s") = sessionStart
      metrics("sfgen.gen_s") = regen
      metrics("queries.build_s") = builds.map(_.seconds).sum
      metrics("queries.build_jobs") = builds.map(b => tracer.total(tracer.subtree(b.id))(_.jobs.get)).sum.toDouble
      metrics("plans.plan_s") = spanSum("plan")
      Tracer.Operators.foreach(op => metrics(s"plans.${op}_n") = tracer.totalOp(ids, op).toDouble)
      metrics("spark.exec_s") = tracer.jobBusySeconds(p.startMs, p.endMs)
      metrics("spark.jobs") = total(_.jobs.get)
      metrics("spark.stages") = total(_.stages.get)
      metrics("spark.tasks") = total(_.tasks.get)
      val cpu = total(_.cpuNs.get) / 1e9
      metrics("spark.task_cpu_s") = cpu
      metrics("spark.cpu_util") = cpu / (p.wall * cores)
      metrics("spark.gc_s") = total(_.gcMs.get) / 1e3
      metrics("spark.shuffle_write_mb") = total(_.shuffleWrite.get) / 1e6
      metrics("spark.shuffle_read_mb") = total(_.shuffleRead.get) / 1e6
      metrics("spark.spill_mb") = total(_.spill.get) / 1e6
      metrics("tables.input_mb") = total(_.inputBytes.get) / 1e6
      metrics("tables.input_rows") = total(_.inputRows.get)
      w.opNames.foreach { op =>
        metrics(s"op.$op.p50_s") = med(sp.filter(s => s.layer == "op" && s.name == op && s.ok).map(_.seconds))
      }
      metrics ++= w.layerMetrics(ids)
      metrics("jvm.peak_rss_mb") = peakRssMb()
      metrics("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1e6
      metrics("bench.check_s") = checkSeconds
      metrics("bench.trace_overhead") = med(phases(1).cycles) /
        math.max(1e-9, (med(phases(0).cycles) + med(phases(2).cycles)) / 2) - 1
      a.traceOut.foreach(f => Files.write(Paths.get(f),
        tracer.toJson.getBytes(StandardCharsets.UTF_8)))
    }
    val tail = Stats.tail(reads)
    metrics("bench.read_p50_s") = med(reads)
    metrics("bench.failed_ratio") =
      if (ctx.rec.attempted == 0) 1.0 else ctx.rec.failed.toDouble / ctx.rec.attempted

    spark.stop()

    val problems = ctx.problems.toSeq ++
      ctx.rec.outcomes.filterNot(_.ok).map(o => s"${o.op}: ${o.failure.get}")
    problems.foreach(p => System.err.println(s"[perfbench] problem: $p"))
    info("nproc") = Runtime.getRuntime.availableProcessors.toString
    info("cores") = cores.toString
    info("heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    info("spark") = spark.version
    info("jdk") = System.getProperty("java.version")
    info("seed") = a.seed.toString
    info("setup_reps") = setupTimes.map(x => f"$x%.3f").mkString(",")
    info("session_s") = f"$sessionStart%.3f"
    info("check_s") = f"$checkSeconds%.3f"
    phaseTimes.foreach { case (k, v) => info(s"${k}_s") = f"$v%.3f" }
    info("cycle_s") = main.map(_.cycles.map(x => f"$x%.3f").mkString(",")).getOrElse("")
    info("samples") = inPhase.map(o => f"${o.op}=${o.seconds}%.3f").mkString(" ")
    info("cycles") = main.map(_.cycles.size).getOrElse(0).toString
    info("read_samples") = reads.size.toString
    info("write_samples") = inPhase.count(o => o.ok && o.kind == "write").toString
    info("read_tail") = tail.map { case (p, v) => f"p$p%s=$v%.3f" }
      .getOrElse(s"none (${reads.size} samples; a tail needs 20)")
    val correct = problems.isEmpty && main.nonEmpty
    val metricJson = metrics.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString(",")
    val infoJson = info.map { case (k, v) => s""""$k":"${Json.esc(v)}"""" }.mkString(",")
    val problemJson = problems.take(20).map(p => s""""${Json.esc(p)}"""").mkString(",")
    println(s"""{"correct":$correct,"attempted":${ctx.rec.attempted},"failed":${ctx.rec.failed},""" +
      s""""metrics":{$metricJson},"info":{$infoJson},"problems":[$problemJson]}""")
  }

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
