package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Quiet-box baselines (externalized, r9 ADVICE): the canary
  * expectations and per-key quiet medians live in
  * bench-baselines.properties (checked in, box fingerprint recorded), not
  * in source. SPARK_GRAFT_BASELINES=<path> points elsewhere; =off
  * disables the comparison entirely — drift blocks empty, contended flags
  * forced false, and "baselines":"off" recorded so the record says the
  * adjudication surface was intentionally dark, not clean. A missing or
  * unreadable file behaves like =off, loudly. */
final class BenchBaselines(val setting: String, props: java.util.Properties) {
  val on: Boolean = !props.isEmpty

  def apply(key: String, default: Double): Double = {
    val v = props.getProperty(key)
    if (v == null) default
    else try v.trim.toDouble catch { case _: NumberFormatException =>
      System.err.println(s"[bench] baseline '$key=$v' not a number; " +
        "using default"); default
    }
  }

  /** Every `prefix<key>=<value>` entry as key -> value. */
  def quiet(prefix: String): Map[String, Double] =
    props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith(prefix))
      .flatMap { k =>
        try Some(k.stripPrefix(prefix) -> props.getProperty(k).trim.toDouble)
        catch { case _: NumberFormatException =>
          System.err.println(s"[bench] baseline '$k' not a number; skipped")
          None
        }
      }.toMap
}

object BenchBaselines {
  def load(): BenchBaselines = {
    val env = sys.env.get("SPARK_GRAFT_BASELINES")
    val off = env.exists(v => Seq("off", "none", "disabled").contains(v.toLowerCase))
    // The DEFAULT checked-in file is resolved against the repo root, not
    // the process CWD (r10 ADVICE: a bench launched from another
    // directory silently degraded to baselines=off) — walk up from CWD
    // until the file appears, stopping at the first .git directory so the
    // walk cannot adopt a stray file from outside the repo. An explicit
    // SPARK_GRAFT_BASELINES=<path> stays CWD-relative as given.
    val setting = env.getOrElse {
      val name = "bench-baselines.properties"
      Iterator.iterate(java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
        .takeWhile(_ != null)
        .flatMap { dir =>
          val f = dir.resolve(name)
          if (java.nio.file.Files.isReadable(f)) Some(Some(f.toString))
          else if (java.nio.file.Files.exists(dir.resolve(".git"))) Some(None)
          else None // keep walking
        }
        .nextOption().flatten
        .getOrElse(name)
    }
    val p = new java.util.Properties()
    if (!off) {
      try {
        val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(setting))
        try p.load(in) finally in.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] baselines '$setting' " +
          s"unreadable (${e.getMessage}): drift/contention comparison off")
      }
    }
    new BenchBaselines(setting, p)
  }
}

/** Host telemetry (/proc readings) and the contention canaries: fixed
  * workloads whose wall-clock is a pure machine-state read. Each canary
  * reports the median of 3 so one GC pause can't false-flag. */
final class BenchHost(spark: SparkSession) {

  /** Device-level I/O-busy ms summed over whole PHYSICAL devices:
    * /sys/block lists whole devices (never partitions), and layered
    * devices (dm-*, md*, loop, ram, zram) are excluded by name — their
    * I/O re-appears on the underlying disks and would double-count. */
  def ioBusyMs(): Long =
    try {
      val wholeDevs = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get("/sys/block"))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filterNot(n => Seq("loop", "ram", "zram", "dm-", "md").exists(n.startsWith))
          .toSet
        finally s.close()
      }
      Bench.parseDiskBusyMs(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/diskstats")).asScala.toSeq, wholeDevs)
    } catch { case _: Throwable => -1L }

  def cpuStat(): (Long, Long, Long) =
    try Bench.parseCpuStat(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat")).asScala.toSeq)
    catch { case _: Throwable => (-1L, -1L, -1L) }

  def processCpuNs(): Long =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    } catch { case _: Throwable => -1L }

  val nCores: Int = Runtime.getRuntime.availableProcessors()

  private def medianOf3(run: => Unit): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)

  /** Shuffle canary: the gen canary (SfGen wall-clock) is CPU/write-bound
    * and stayed quiet in r7 while shuffle-heavy sf10 probes ran 3-5x over
    * the quiet-box curve. A fixed exchange + sort: 20M longs hashed to 1M
    * keys, repartitioned 64-way, sorted within partitions — ~300 MB
    * through shuffle write + fetch + sort. */
  def shuffleCanarySec(): Double = medianOf3 {
    import org.apache.spark.sql.functions._
    spark.range(0, 20000000L, 1, 32)
      .select(col("id"), pmod(col("id") * 2654435761L, lit(1000003L)).as("k"))
      .repartition(64, col("k"))
      .sortWithinPartitions("k", "id")
      .write.format("noop").mode("overwrite").save()
  }

  /** Memory/CPU-pressure canary — the mode the shuffle canary can't see
    * (r8's graph_triangle_sketch read 3x quiet with a clean shuffle
    * canary): 8M longs md5-hashed into a 200k-group ObjectHashAggregate
    * carrying TopKAgg's O(k) object state per group, under the same
    * scoped fallback-threshold raise the sketch runs with. */
  def memCanarySec(): Double = medianOf3 {
    import org.apache.spark.sql.functions._
    graft.Tables.withConf(spark,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 21).toString) {
      spark.range(0, 8000000L, 1, 32)
        .select(pmod(col("id") * 2654435761L, lit(200003L)).as("p"),
          col("id").as("c"))
        .repartition(col("p"))
        .groupBy("p")
        .agg(graft.functions.TopKAgg.top_k(
          -graft.Tables.md5Bucket(col("c"), 13).cast("double"),
          col("c"), 16).as("topk"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  // Memory-bandwidth/latency canary (r17, VERDICT item 1) — the mode none
  // of the probes above can see: r16's graph_pagerank sf10 read 5x quiet
  // with every CPU witness and canary identical to the healthy profile
  // (host NUMA/THP state degrading random access). A 64M-slot (256 MiB —
  // 4-8x any L3, far past the TLB) shared cycle, chased data-dependently
  // by 16 threads from spread starts: pure DRAM/TLB latency, no
  // allocation in the timed window, zero Spark machinery. The cycle is
  // built once and kept (building it is itself seconds of random writes).
  // One-directional: it has read green while pagerank was degraded.
  private val BwSlots = 1 << 26
  private val BwThreads = 16
  private val BwHops = 1 << 21
  private lazy val bwCycleArr: Array[Int] = Bench.bwCycle(BwSlots, 42L)
  private val bwSink = new java.util.concurrent.atomic.AtomicLong

  def bwCanarySec(): Double = {
    val arr = bwCycleArr
    medianOf3 {
      val ts = (0 until BwThreads).map { t =>
        val th = new Thread(() => bwSink.addAndGet(
          Bench.bwChase(arr, t * (BwSlots / BwThreads), BwHops)))
        th.setDaemon(true); th.start(); th
      }
      ts.foreach(_.join())
    }
  }
}

object BenchRig {
  /** One gated phase: waits slept, still hot after them, and the FIRST
    * readings before any wait (the recovered readings are the ones the
    * phase reports as its canaries). */
  final case class Gate(waits: Int, unusable: Boolean,
      preShuffle: Double, preMem: Double, preBw: Double)

  /** One scale tier's record. `samples` are the fully merged readings
    * (post rerun and second pass); `brackets` are the ORIGINAL per-key
    * (pre, post) mem-canary readings; `bwBracket` is the bandwidth pair
    * around the bw-bracketed key, (-1, -1) when none ran. */
  final case class TierRun(tier: String, genSec: Double, gate: Gate,
      shuffle: Double, mem: Double, bw: Double,
      samples: Seq[(String, Seq[Double])],
      brackets: Seq[(String, (Double, Double))],
      reruns: Seq[Bench.Rerun], pass2: Seq[String],
      bwBracket: (Double, Double), midWaits: Int)
}

/** The timing core — one measurement discipline behind every tier — and
  * the scale-tier runner with its canary gates, per-key brackets and
  * adjudication passes. */
final class BenchRig(spark: SparkSession, val baselines: BenchBaselines) {
  import BenchRig._

  val host = new BenchHost(spark)
  val genExpected: Double = baselines("canary.gen_sec", 8.3)
  val shufExpected: Double = baselines("canary.shuffle_sec", 1.8)
  val memExpected: Double = baselines("canary.mem_sec", 1.2)
  val bwExpected: Double = baselines("canary.bw_sec", 1.2)

  // per-key host telemetry of every isolated probe, keyed "<tier>.<key>":
  // disk busy = I/O-busy ms over wall ms (all system I/O, ours and anyone
  // else's); cpu busy/steal = /proc/stat deltas over the whole box; cpu
  // ours = this JVM's share of the box's CPU time. A slow key with busy
  // ~1.0 and ours well below it names external CPU load from the record
  // alone.
  val diskBusy = scala.collection.mutable.LinkedHashMap[String, Double]()
  val cpuBusy = scala.collection.mutable.LinkedHashMap[String, Double]()
  val cpuSteal = scala.collection.mutable.LinkedHashMap[String, Double]()
  val cpuOurs = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Scale-tier probe isolation: r5's in-suite sf1 numbers ran up to 4x
    * above standalone runs of the same key because a memory-heavy probe
    * inherited the heap pressure of everything measured before it. Drop
    * cached relations, then two GCs with a beat between them so the
    * ContextCleaner can unregister the newly unreachable broadcasts and
    * shuffles before the timer starts. Scoped to the sf1/sf10 tiers: on
    * the sf0.1 tier the post-full-GC heap taxes every sub-second probe
    * ~0.1s while its numbers were never pressure-inflated. */
  def quiesce(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** Noop-write wall-clock over `reps` samples per key. A crashed query
    * is logged and reports its crash-time sample rather than killing the
    * bench line. Samples stay in REP ORDER (not sorted): rep-over-rep
    * degradation is itself diagnostic evidence. */
  def probeTier(tier: String, dir: String, names: Seq[String],
      reps: Int, isolate: Boolean = false): Seq[(String, Seq[Double])] =
    names.map { name =>
      if (isolate) quiesce()
      val io0 = host.ioBusyMs()
      val c0 = host.cpuStat()
      val p0 = host.processCpuNs()
      val t00 = System.nanoTime()
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $tier $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      val io1 = host.ioBusyMs()
      val c1 = host.cpuStat()
      val p1 = host.processCpuNs()
      val wallMs = (System.nanoTime() - t00) / 1e6
      if (isolate && io0 >= 0 && io1 >= 0)
        diskBusy(s"$tier.$name") = if (wallMs > 0) (io1 - io0) / wallMs else 0.0
      if (isolate && c0._3 >= 0 && c1._3 > c0._3) {
        val dt = (c1._3 - c0._3).toDouble
        cpuBusy(s"$tier.$name") = (c1._1 - c0._1) / dt
        cpuSteal(s"$tier.$name") = (c1._2 - c0._2) / dt
      }
      if (isolate && p0 >= 0 && p1 >= p0 && wallMs > 0)
        cpuOurs(s"$tier.$name") = (p1 - p0) / 1e6 / (wallMs * host.nCores)
      name -> samples
    }

  // Each gate wait sleeps 120s then re-probes; at most 3 waits per gate
  // (<= 6 min), then the phase runs regardless and the record carries
  // box_unusable.
  private val GateWaits = 3
  private val GateSleepMs = 120000L

  /** Canary-gated phase start: hot = shuffle OR mem canary above 2x its
    * quiet expectation. The bandwidth canary reads at every gate point and
    * rides in the evidence but does not feed `hot`: the bw mode is
    * persistent host state (NUMA/THP), so sleeping on it burns the wait
    * budget for nothing; `bw_contended` and the bw bracket adjudicate the
    * keys it touches instead. Returns the gate and the readings the
    * phase actually started under (shuffle, mem, bw). */
  def gateTier(measure: () => (Double, Double, Double))
      : (Gate, Double, Double, Double) = {
    var (shuf, mem, bw) = measure()
    val (preShuf, preMem, preBw) = (shuf, mem, bw)
    def hot = shuf > 2 * shufExpected || mem > 2 * memExpected
    val (waits, stillHot) = Bench.canaryGate(hot,
      () => { val m = measure(); shuf = m._1; mem = m._2; bw = m._3; hot },
      baselines.on, GateWaits, () => Thread.sleep(GateSleepMs))
    if (waits > 0) System.err.println(s"[bench] canary gate: $waits " +
      s"wait(s), shuffle $preShuf -> $shuf, mem $preMem -> $mem, " +
      s"bw $preBw -> $bw" +
      (if (stillHot) " — BOX UNUSABLE, phase runs flagged" else " — recovered"))
    (Gate(waits, stillHot, preShuf, preMem, preBw), shuf, mem, bw)
  }

  /** Mid-tier boundary gate: the boundary canary between keys doubles as
    * a re-gating point. When the reading before the NEXT key is hot and
    * the tier's wait budget remains, sleep and re-probe; the re-probed
    * value becomes the next key's PRE, while the original reading stays
    * the previous key's POST. Only the mem canary is watched here. */
  private final class MidGate {
    var waits = 0
    def gate(last: Double): Double = {
      val (v, w) = Bench.midGate(last, memExpected, baselines.on,
        GateWaits - waits, () => host.memCanarySec(),
        () => Thread.sleep(GateSleepMs))
      if (w > 0) System.err.println(f"[bench] mid-tier gate: boundary " +
        f"canary $last%.2f hot, $w wait(s), re-probed $v%.2f")
      waits += w
      v
    }
  }

  /** One generated scale tier, end to end: quiesce and gate on the
    * canaries, generate the tables (the gen wall-clock is itself the gen
    * canary), then probe every key isolated at reps=2 with a mem-canary
    * bracket on each side. The boundary canary between keys i and i+1 is
    * key i's post AND key i+1's pre, so a churned key arrives with the
    * machine state that adjudicates it. Hot-bracketed or drift-flagged
    * keys re-run once ([[Bench.rerunFlagged]]); a key still drifting
    * after that forces one whole-tier second pass
    * ([[Bench.tierSecondPass]]). Keys in `bwBracketed` also get a
    * bandwidth-canary pair around their probe. */
  def scaleTier(tier: String, scale: Double, files: Int, keys: Seq[String],
      bwBracketed: Set[String] = Set.empty): TierRun = {
    val dir = graft.matview.Materializer.defaultScratch + "/" + tier
    quiesce()
    val (gate, shuf, mem, bw) = gateTier(() =>
      (host.shuffleCanarySec(), host.memCanarySec(), host.bwCanarySec()))
    val g0 = System.nanoTime()
    graft.tools.SfGen.generate(spark, dir, scale, files)
    val genSec = (System.nanoTime() - g0) / 1e9
    def probe(label: String, key: String) =
      probeTier(label, dir, Seq(key), reps = 2, isolate = true).head
    val mid = new MidGate
    var bwBracket = (-1.0, -1.0)
    quiesce()
    var boundary = host.memCanarySec()
    val runs = keys.map { k =>
      val pre = mid.gate(boundary)
      val bwPre = if (bwBracketed(k)) host.bwCanarySec() else -1.0
      val r = probe(tier, k)
      if (bwBracketed(k)) bwBracket = (bwPre, host.bwCanarySec())
      boundary = host.memCanarySec()
      (r, k -> ((pre, boundary)))
    }
    val probed = runs.map(_._1)
    val brackets = runs.map(_._2)
    val quiet = baselines.quiet(s"$tier.")
    // drift criterion (r13 VERDICT item 3): the same >1.5x bar the drift
    // block reports at, so no drift row arrives without its re-run
    val driftHot = probed.collect { case (k, s)
      if quiet.get(k).exists(q => Bench.median(s) > 1.5 * q) => k }.toSet
    val (adjudicated, reruns) = Bench.rerunFlagged(tier, probed, brackets,
      memExpected, baselines.on, (t, k) => probe(t, k)._2,
      () => host.memCanarySec(), () => quiesce(), driftHot)
    val (merged, pass2) = Bench.tierSecondPass(adjudicated, quiet,
      Bench.median, baselines.on,
      () => { quiesce(); keys.map(probe(s"$tier.pass2", _)) })
    TierRun(tier, genSec, gate, shuf, mem, bw, merged, brackets, reruns,
      pass2, bwBracket, mid.waits)
  }
}
