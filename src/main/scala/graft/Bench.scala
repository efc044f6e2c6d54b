package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — the legacy per-round BENCH harness.
  *
  * Methodology (mirrors the reference's EXPLAIN ANALYZE loop, SURVEY §6,
  * adapted to JVM reality):
  *   - one shared session (the reference also reuses one backend);
  *   - an untimed warmup query absorbs JVM/codegen/classloading cost;
  *   - each headline query materializes fully through the `noop` sink, so
  *     column pruning can't skip computing the result values the way a
  *     bare count() would;
  *   - timed iterations, best-of taken — matching how the reference
  *     re-runs each EXPLAIN ANALYZE after VACUUM (steady-state number).
  *
  * The run is split four ways: the timing core and scale tiers
  * ([[BenchRig]]), host telemetry and contention canaries ([[BenchHost]]),
  * the scoreboards ([[BenchBoards]]) and the emitter ([[BenchRecord]]).
  *
  * Output is two channels. stdout carries exactly one fixed-shape
  * contract line ([[contractLine]]); every other reading — tier maps,
  * medians, samples, brackets, reruns, drift, gates, scoreboards, plan
  * nodes — goes to target/bench_full.json at 4 decimals.
  */
object Bench {

  /** The `bracket_contended` predicate (r11 VERDICT item 3), extracted so
    * a spec can flip it synthetically: any per-key mem-canary bracket
    * reading — either side of any sf1/sf10 key — above 2x the quiet mem
    * floor marks the record box-churned, even when the TIER-level
    * canaries (which sample only a few instants) happened to read quiet. */
  def bracketContendedFlag(brackets: Seq[(String, (Double, Double))],
      memExpected: Double, baselinesOn: Boolean): Boolean =
    baselinesOn && brackets.exists { case (_, (a, b)) =>
      math.max(a, b) > 2 * memExpected
    }

  /** Which key's bracket triggers a self-adjudicating re-run (r12 VERDICT
    * item 1) — the same >2x-floor criterion as [[bracketContendedFlag]],
    * per key. */
  def bracketHot(bracket: (Double, Double), memExpected: Double): Boolean =
    math.max(bracket._1, bracket._2) > 2 * memExpected

  /** The re-run adjudication kernel, extracted for specs: a CLEAN re-run
    * bracket supplies the reported reading even when slower (it is the
    * in-record quiet-box number); a hot re-run bracket condemns the box
    * twice, and the record keeps whichever run read better. */
  def rerunChoice(origBest: Double, rerunBest: Double, pre: Double,
      post: Double, memExpected: Double): String =
    if (!bracketHot((pre, post), memExpected) || rerunBest < origBest) "rerun"
    else "orig"

  /** One adjudicated re-run record (see [[rerunFlagged]]). */
  final case class Rerun(key: String, origBest: Double, rerunBest: Double,
      pre: Double, post: Double, used: String)

  /** Bracket self-adjudication (r12 VERDICT item 1), the whole selection
    * + probe + replacement pass — object-level so a spec can drive it
    * with synthetic probe/canary functions (a quiet box never exercises
    * the path in a real run). Any key whose mem-canary bracket read >2x
    * the quiet floor — or (r13 VERDICT item 3) whose this-run median the
    * caller found >1.5x its quiet baseline (`driftHot`) — is re-probed
    * ONCE via `probe(tier.rerun, key)` bracketed by `canary()` readings;
    * [[rerunChoice]] picks the reported samples. The drift criterion
    * exists because r13's events_rfm drifted to 1.51x quiet under
    * warm-NOT-hot brackets [1.60, 1.37] and escaped the bracket-only
    * selection. The ORIGINAL brackets stay on record (they describe box
    * state and feed bracket_contended); the returned [[Rerun]] rows carry
    * the adjudication. */
  def rerunFlagged(tier: String,
      probed: Seq[(String, Seq[Double])],
      brackets: Seq[(String, (Double, Double))],
      memExpected: Double, baselinesOn: Boolean,
      probe: (String, String) => Seq[Double],
      canary: () => Double,
      quiesce: () => Unit = () => (),
      driftHot: Set[String] = Set.empty): (Seq[(String, Seq[Double])], Seq[Rerun]) = {
    val bmap = brackets.toMap
    val flagged = if (!baselinesOn) Nil else probed.map(_._1).filter(k =>
      bmap.get(k).exists(bracketHot(_, memExpected)) || driftHot(k))
    if (flagged.isEmpty) (probed, Nil)
    else {
      val redone = flagged.map { k =>
        // quiesce ONLY before the pre-canary (the tier discipline: the
        // probe's own isolate quiesces again; the post-canary reads the
        // post-key machine state un-scrubbed, like tier boundaries)
        quiesce()
        val pre = canary()
        val s = probe(s"$tier.rerun", k)
        val post = canary()
        k -> (s, pre, post)
      }.toMap
      val reruns = scala.collection.mutable.ArrayBuffer[Rerun]()
      val adjudicated = probed.map { case (k, s) =>
        redone.get(k) match {
          case Some((s2, pre, post)) =>
            val used = rerunChoice(s.min, s2.min, pre, post, memExpected)
            reruns += Rerun(k, s.min, s2.min, pre, post, used)
            k -> (if (used == "rerun") s2 else s)
          case None => k -> s
        }
      }
      (adjudicated, reruns.toSeq)
    }
  }

  /** Whole-tier second pass (r15 VERDICT item 1): the per-key re-run
    * fires while the box may STILL be churned. When, AFTER per-key
    * adjudication, any key's median still exceeds 1.5x its quiet
    * baseline, the rig re-probes the WHOLE tier once (one quiesce, every
    * key, fresh samples), and each key reports whichever of its two
    * sample sets has the LOWER median — contention only ever inflates a
    * reading, so min-median is the honest merge. At most one extra tier
    * pass per bench; a quiet box never triggers it. Returns the merged
    * tier and the keys that forced the pass (empty = no pass ran). */
  def tierSecondPass(
      adjudicated: Seq[(String, Seq[Double])],
      quiet: Map[String, Double],
      median: Seq[Double] => Double,
      baselinesOn: Boolean,
      probeAll: () => Seq[(String, Seq[Double])])
      : (Seq[(String, Seq[Double])], Seq[String]) = {
    val unresolved =
      if (!baselinesOn) Nil
      else adjudicated.collect { case (k, s)
        if quiet.get(k).exists(q => median(s) > 1.5 * q) => k }
    if (unresolved.isEmpty) (adjudicated, Nil)
    else {
      val second = probeAll().toMap
      val merged = adjudicated.map { case (k, s) =>
        k -> second.get(k).filter(s2 => median(s2) < median(s)).getOrElse(s)
      }
      (merged, unresolved)
    }
  }

  /** Canary-gated tier start (r16, VERDICT item 1): when the opening
    * canary reads hot (>2x expectation), sleep and re-probe, bounded at
    * `maxWaits`; if the box never quiets, the tier still runs but the
    * record self-classifies `box_unusable` with the canary evidence,
    * instead of carrying silently inflated readings as if clean.
    * Object-level so a spec drives it with synthetic probes; a quiet box
    * pays nothing (hot0 false -> zero waits, zero sleeps). Returns
    * (waits taken, still hot after the last re-probe). */
  def canaryGate(hot0: Boolean, reprobeHot: () => Boolean,
      baselinesOn: Boolean, maxWaits: Int, sleep: () => Unit): (Int, Boolean) =
    if (!baselinesOn || !hot0) (0, false)
    else {
      var waits = 0
      var hot = true
      while (hot && waits < maxWaits) {
        sleep(); waits += 1; hot = reprobeHot()
      }
      (waits, hot)
    }

  /** Drift-row selection kernel: given a tier's (key, samples) pairs — by
    * the emission contract these are the FULLY MERGED samples, post
    * per-key rerun AND post tier second pass, i.e. the exact samples the
    * queries_* maps report — keep every key whose median exceeds 1.5x
    * its quiet baseline as (key, best, median, quiet), ordered
    * worst-ratio first. A key with no baseline does not participate. */
  def driftRowsOf(tier: Seq[(String, Seq[Double])],
      quiet: Map[String, Double], best: Seq[Double] => Double,
      median: Seq[Double] => Double): Seq[(String, Double, Double, Double)] =
    tier.flatMap { case (k, s) =>
      quiet.get(k).flatMap { q =>
        val m = median(s)
        if (m > 1.5 * q) Some((k, best(s), m, q)) else None
      }
    }.sortBy { case (_, _, m, q) => -(m / q) }

  /** Mid-tier boundary re-gate kernel (r16, extending [[canaryGate]] to
    * the window it cannot see: the start gate samples one instant, and
    * churn arriving MID-tier previously ran every remaining key hot).
    * Given the boundary canary reading taken after the previous key,
    * sleep-and-re-probe while it reads hot (>2x the quiet expectation)
    * and budget remains; the returned reading is the state the NEXT key
    * actually starts under. Returns (reading, waits consumed). */
  def midGate(last: Double, memExpected: Double, baselinesOn: Boolean,
      budget: Int, canary: () => Double, sleep: () => Unit): (Double, Int) = {
    var v = last
    var w = 0
    while (baselinesOn && v > 2 * memExpected && w < budget) {
      sleep(); w += 1; v = canary()
    }
    (v, w)
  }

  /** /proc/stat aggregate-cpu parse, extracted for specs (a rig bug here
    * silently corrupts every future record). Returns (busy, steal, total)
    * jiffies or (-1,-1,-1) when the text is missing/malformed. busy =
    * non-idle non-steal; idle includes iowait when the kernel reports it
    * (field 5); guest/guest_nice are double-counted inside user on
    * modern kernels, so `total` deliberately stops at steal (first 8
    * fields). A pre-2.6.11 kernel reporting fewer fields still parses
    * (missing fields read 0); non-numeric text returns the sentinel. */
  def parseCpuStat(lines: Seq[String]): (Long, Long, Long) =
    try {
      lines.find(_.startsWith("cpu ")).map { l =>
        val v = l.trim.split("\\s+").drop(1).map(_.toLong)
        if (v.length < 4) (-1L, -1L, -1L)
        else {
          val total = v.take(8).sum
          val idle = v(3) + (if (v.length > 4) v(4) else 0L)
          val steal = if (v.length > 7) v(7) else 0L
          (total - idle - steal, steal, total)
        }
      }.getOrElse((-1L, -1L, -1L))
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** /proc/diskstats io-ticks (ms doing I/O, field 13) summed over the
    * named whole devices, extracted for specs. A single malformed line
    * skips THAT line instead of zeroing the whole reading. Returns -1
    * only when the text itself is unreadable. */
  def parseDiskBusyMs(lines: Seq[String], wholeDevs: Set[String]): Long =
    try {
      lines.map(_.trim.split("\\s+"))
        .filter(f => f.length > 12 && wholeDevs.contains(f(2)))
        .flatMap(f => scala.util.Try(f(12).toLong).toOption)
        .sum
    } catch { case _: Throwable => -1L }

  /** Memory-bandwidth canary structure (r17, VERDICT item 1): a
    * deterministic FULL-CYCLE permutation — Sattolo's algorithm over a
    * SplitMix64 stream (both public algorithms) — so a pointer chase
    * starting anywhere visits every slot before repeating. The chase is
    * data-DEPENDENT (each load's address is the previous load's value),
    * which is what makes it a latency probe: the CPU cannot overlap the
    * misses, so the reading is ~hops × (DRAM + TLB miss cost).
    * Deterministic by construction so the spec can pin the cycle
    * property and the chase checksum. */
  def bwCycle(slots: Int, seed: Long): Array[Int] = {
    require(slots > 1, s"bwCycle needs > 1 slots, got $slots")
    val a = Array.tabulate(slots)(identity)
    var state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // Sattolo: swap i with j < i (strictly) — yields a single cycle
    var i = slots - 1
    while (i > 0) {
      val j = java.lang.Math.floorMod(next(), i.toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** One thread's pointer chase over the shared cycle: `hops`
    * data-dependent loads from `start`. Returns the fold of visited
    * indices so the loads cannot be dead-code-eliminated. */
  def bwChase(cycle: Array[Int], start: Int, hops: Int): Long = {
    var cur = start
    var acc = 0L
    var i = 0
    while (i < hops) { cur = cycle(cur); acc += cur; i += 1 }
    acc
  }

  /** The `bw_contended` predicate, extracted for specs like its three
    * siblings: any bandwidth-canary reading of the run — tier gates,
    * board gate, or the graph-key bracket — above 2x the quiet
    * expectation marks the record. Sentinel readings (< 0 — bracket not
    * run) never flag. */
  def bwContendedFlag(readings: Seq[Double], expected: Double,
      baselinesOn: Boolean): Boolean =
    baselinesOn && readings.exists(v => v > 2 * expected)

  def best(s: Seq[Double]): Double = s.min

  /** True median: even-n tiers (sf1/sf10 run reps=2) average the two
    * middle samples — s(n/2) alone would report the MAX for n=2, letting
    * a single load burst fully determine the "median". */
  def median(s0: Seq[Double]): Double = {
    val s = s0.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Headline subset: one per operator family, weighted toward the
    * scale-critical paths (shuffle-heavy joins/windows, LSH dedup, ANN).
    * Its best-of sum is the contract `value`. */
  val headline: Seq[String] = Seq(
    "agg_sum_group3",        // TPC-H Q1 shape: scan + 2-key agg
    "filter_conjunct",       // pushdown-dominated scan
    "join_natural_5way",     // fact-fact shuffle + broadcast dims
    "topk_order_limit",      // agg + TakeOrderedAndProject
    "window_cumulative",     // shuffle + in-partition running sum
    "agg_count_distinct",    // distinct aggregation expansion
    "dedup_ngram_jaccard",   // inverted-index self-join
    "dedup_minhash_lsh",     // signature + banded candidate join
    "similarity_topk_bruteforce", // dot-product scoring loop
    "text_quality",          // per-row lambda pipeline
    "events_sessionize",     // user-keyed window + session agg
    "events_window_tumbling",// event-time bucketing
    "lookup_bucket_pruned",  // index-analog point lookup (incl. build)
    "text_bpe_train",        // driver-iterated BPE merge loop
    "events_stream_heavy_hitters") // CMS state across micro-batches

  /** The true-sf1 tier (graft.tools.SfGen at scale 1: 6M-row lineitem,
    * 150k custkeys, 50k documents — every cardinality grows with the
    * data, unlike a replicated sf0.1). Order is part of the measurement:
    * a key's quiet baseline is only valid at its tier position, so new
    * keys are appended last.
    *   - graph_triangle_sketch runs FIRST (r9 verdict item 3): its rep 2
    *     degraded 3-6x with clean canaries when it inherited the tier
    *     state of preceding keys; first position removes that, and its
    *     bracket is emitted as the tri_mem pair.
    *   - the memory-heavy dedup keys follow, on the freshest heap. */
  val sf1Keys: Seq[String] = Seq("graph_triangle_sketch",
    "dedup_ngram_jaccard", "dedup_containment", "dedup_simhash",
    "dedup_minhash_lsh", "dedup_block_ratio", "dedup_span_coverage",
    "text_tfidf_cosine", "join_natural_5way", "window_cumulative",
    "agg_sum_group3", "agg_count_distinct", "similarity_ann_lsh",
    "similarity_ivf", "similarity_ivf_pq", "text_quality",
    "text_repetition", "text_bm25", "text_contamination", "events_funnel",
    "events_retention", "text_line_dedup", "text_nb_classifier",
    "dedup_semantic", "text_keywords", "events_attribution", "events_rfm",
    "table_partition_overwrite", "stat_power_analysis",
    "agg_quantile_sketch", "dedup_edit_distance", "similarity_ivf_scaled",
    "similarity_filtered_ann", "similarity_filtered_ann_conj",
    "similarity_filtered_ann_scaled")

  /** The sf10 tier (scale 10: 60M-row lineitem, 500k docs). The default
    * subset keeps the scaling curve in every record at ~2.5 min of
    * budget; SPARK_GRAFT_SF10=1 widens it to the full tier, adding
    * graph_pagerank (~200s/rep) last. Memory-heavy corpus keys keep the
    * dedup-first discipline (dedup_ngram_jaccard read 11.3s in 4th
    * position vs 7.4s first). */
  def sf10Keys(full: Boolean): Seq[String] = {
    val corpus = Seq("dedup_semantic", "text_line_dedup",
      "text_nb_classifier", "events_attribution")
    if (full)
      Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash") ++
        corpus ++ Seq("join_natural_5way", "window_cumulative",
          "agg_sum_group3", "similarity_ann_lsh", "text_quality",
          "text_contamination", "events_stream_heavy_hitters",
          "graph_pagerank")
    else Seq("dedup_ngram_jaccard") ++ corpus ++
      Seq("join_natural_5way", "agg_sum_group3", "events_stream_heavy_hitters")
  }

  /** The five adjudication verdicts. Any true flag means: read the
    * medians and per-rep samples in bench_full.json, not the bests. */
  final case class Flags(contended: Boolean, memContended: Boolean,
      bracketContended: Boolean, bwContended: Boolean, boxUnusable: Boolean) {
    def fields: Seq[(String, String)] = Seq(
      "contended" -> contended.toString,
      "mem_contended" -> memContended.toString,
      "bracket_contended" -> bracketContended.toString,
      "bw_contended" -> bwContended.toString,
      "box_unusable" -> boxUnusable.toString)
  }

  /** A JSON string literal; escapes the two characters that can break the
    * record (free text such as paths from env vars reaches it). */
  private[graft] def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A JSON object from already-rendered values, in the given order. */
  private[graft] def jobj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** The stdout contract line: metric/value/unit, the headline per-key
    * bests (the per-query map a PERF comparison reads), the five
    * adjudication flags, and sf. Its shape is fixed — 15 headline keys at
    * 2 decimals plus five booleans — so it stays far under a ~1,870 B
    * stdout tail capture, whatever the run measured. */
  def contractLine(total: Double, queries: Seq[(String, Double)],
      flags: Flags, sf: String): String = {
    def num(v: Double) = "%.2f".format(v)
    jobj(Seq("metric" -> jstr("total"), "value" -> num(total),
      "unit" -> jstr("sec"),
      "queries" -> jobj(queries.map { case (k, v) => k -> num(v) }),
      "contention_canary" -> jobj(flags.fields), "sf" -> jstr(sf)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sf10Full = sys.env.get("SPARK_GRAFT_SF10") match {
      case Some(v) if v == "1" || v.equalsIgnoreCase("true") => true
      case Some(v) =>
        // a misspelled opt-in must not silently shrink the tier
        System.err.println(s"[bench] SPARK_GRAFT_SF10='$v' not " +
          "recognized (use 1/true); running the default sf10 subset")
        false
      case None => false
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's 64 MB default advisory target over-coalesces post-shuffle
      // stages at bench scale (a 1.5M-row join shuffle is ~40 MB -> one
      // partition on 32 cores); 8 MB keeps the machine busy while still
      // merging tiny partitions. Same knob class as shuffle.partitions:
      // sized to the deployment (Prof5Way10x: 5-way 1.61s -> 1.28s).
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rig = new BenchRig(spark, BenchBaselines.load())

    // warmup: touch codegen, parquet footers, shuffle machinery. Guarded —
    // the bench must emit its JSON line even if a query can't run.
    try SparkEntry.queries("agg_sum_group3")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // n=3 best-of: two reps can't tell a 10% regression from noise. The
    // headline tier is not isolated (see BenchRig.quiesce).
    val queries = headline.filter(SparkEntry.queries.contains)
    val results = rig.probeTier("sf0.1", sfDir, queries, reps = 3)
    val sf1 = rig.scaleTier("sf1", scale = 1.0, files = 32, sf1Keys)
    // graph_pagerank is the one key whose r16 5x drift only the bandwidth
    // canary's resource explains, so it gets a bw bracket of its own
    val sf10 = rig.scaleTier("sf10", scale = 10.0, files = 64,
      sf10Keys(sf10Full), bwBracketed = Set("graph_pagerank"))
    val planNodes = BenchBoards.planNodes(spark, sfDir, queries)
    // board-phase bracket (r13 VERDICT item 3): one mem-canary sample on
    // each side of the whole board phase, so a board_drift row arrives
    // with machine state alongside it. The opening side doubles as the
    // board phase's canary gate; it has no shuffle reading (-1 is never
    // hot), so it gates on the mem canary alone.
    val (boardGate, _, boardMem, boardBw) = rig.gateTier(() =>
      (-1.0, rig.host.memCanarySec(), rig.host.bwCanarySec()))
    val boards = BenchBoards.all(spark, sfDir)
    val boardMemPost = rig.host.memCanarySec()

    val record = BenchRecord(rig, sfDir, results, sf1, sf10, planNodes,
      boardGate, (boardMem, boardMemPost), boardBw, boards)
    val fullPath = java.nio.file.Paths.get("target/bench_full.json")
    try {
      java.nio.file.Files.createDirectories(fullPath.getParent)
      java.nio.file.Files.write(fullPath,
        (record.fullJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full record: $fullPath")
    } catch { case e: Throwable =>
      // the file is best-effort; the stdout line is the contract
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    println(record.contractLine)
    spark.stop()
  }
}
