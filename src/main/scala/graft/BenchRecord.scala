package graft

import graft.Bench.{jobj, jstr}
import graft.BenchRig.{Gate, TierRun}

/** One bench run's readings and its two renderings: the fixed-shape
  * stdout contract line and the full record (target/bench_full.json, 4
  * decimals). `boardMem` is the (pre, post) mem-canary pair around the
  * board phase; `boardBw` the board gate's bandwidth reading. */
final case class BenchRecord(rig: BenchRig, sf: String,
    results: Seq[(String, Seq[Double])], sf1: TierRun, sf10: TierRun,
    planNodes: Seq[(String, Int)], boardGate: Gate,
    boardMem: (Double, Double), boardBw: Double,
    boards: Seq[(String, Seq[(String, Double)])]) {

  private val on = rig.baselines.on

  val total: Double = results.map { case (_, s) => Bench.best(s) }.sum

  /** A flagged run means: read medians, not bests, and distrust ~2x
    * outliers. `contended` covers the CPU/write side (the SfGen wall-clock
    * — a byte-identical workload every round) and the shuffle canaries of
    * both tiers, so contention arising BETWEEN the tiers still flips it;
    * `mem_contended` is the hash-agg mode, kept apart so it adjudicates
    * its own key population; `bracket_contended` fires on any per-key
    * bracket reading, since tier-level canaries sample only a few
    * instants; `bw_contended` on any bandwidth reading; `box_unusable`
    * when a gated phase was still hot after its waits. */
  val flags: Bench.Flags = Bench.Flags(
    contended = on && (sf1.genSec > 2 * rig.genExpected ||
      Seq(sf1, sf10).exists(_.shuffle > 2 * rig.shufExpected)),
    memContended = on && Seq(sf1, sf10).exists(_.mem > 2 * rig.memExpected),
    bracketContended = Bench.bracketContendedFlag(
      sf1.brackets ++ sf10.brackets, rig.memExpected, on),
    bwContended = Bench.bwContendedFlag(boardBw +: Seq(sf1, sf10).flatMap(t =>
      Seq(t.bw, t.bwBracket._1, t.bwBracket._2)), rig.bwExpected, on),
    boxUnusable = Seq(sf1.gate, sf10.gate, boardGate).exists(_.unusable))

  def contractLine: String = Bench.contractLine(total,
    results.map { case (k, s) => k -> Bench.best(s) }, flags, sf)

  def fullJson: String = {
    def num(v: Double) = "%.4f".format(v)
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    def nums(xs: Seq[(String, Double)]) = jobj(xs.map { case (k, v) => k -> num(v) })
    def bests(t: Seq[(String, Seq[Double])]) =
      nums(t.map { case (k, s) => k -> Bench.best(s) })
    def medians(t: Seq[(String, Seq[Double])]) =
      nums(t.map { case (k, s) => k -> Bench.median(s) })
    def tier(t: TierRun) = Seq(
      s"queries_${t.tier}" -> bests(t.samples),
      s"queries_${t.tier}_median" -> medians(t.samples),
      // per-rep samples in REP ORDER: degradation within a key's own reps
      // is the memory-mode signature the canaries adjudicate
      s"queries_${t.tier}_samples" ->
        jobj(t.samples.map { case (k, s) => k -> arr(s.map(num)) }),
      s"${t.tier}_brackets" ->
        jobj(t.brackets.map { case (k, (a, b)) => k -> arr(Seq(num(a), num(b))) }))
    // drift rows are computed on the fully merged tiers, so a row always
    // describes the samples the queries maps report; the rerun rows'
    // bests predate any second pass (they log the per-key step)
    def drift(t: TierRun) = jobj(Bench.driftRowsOf(t.samples,
      rig.baselines.quiet(s"${t.tier}."), Bench.best, Bench.median)
      .map { case (k, b, m, q) => k -> arr(Seq(b, m, q).map(num)) })
    // [waits, still_hot, pre_shuffle, pre_mem, pre_bw] per gated phase
    def gate(g: Gate) = arr(Seq(g.waits.toString, if (g.unusable) "1" else "0",
      num(g.preShuffle), num(g.preMem), num(g.preBw)))
    // [orig_best, rerun_best, rerun_pre, rerun_post, used(1=rerun)]
    val reruns = Seq(sf1, sf10).flatMap(t => t.reruns.map(r =>
      s"${t.tier}.${r.key}" -> arr(Seq(r.origBest, r.rerunBest, r.pre, r.post).map(num) :+
        (if (r.used == "rerun") "1" else "0"))))
    val canary = Seq(
      "sf1_gen_sec" -> sf1.genSec, "sf10_gen_sec" -> sf10.genSec,
      "expected_sec" -> rig.genExpected,
      "shuffle_sec" -> sf1.shuffle, "shuffle_expected_sec" -> rig.shufExpected,
      "shuffle_sf10_sec" -> sf10.shuffle,
      "mem_sec" -> sf1.mem, "mem_expected_sec" -> rig.memExpected,
      "mem_sf10_sec" -> sf10.mem,
      // graph_triangle_sketch runs first in sf1: its bracket is this pair
      "tri_mem_pre_sec" -> sf1.brackets.head._2._1,
      "tri_mem_post_sec" -> sf1.brackets.head._2._2,
      "board_mem_pre_sec" -> boardMem._1, "board_mem_post_sec" -> boardMem._2,
      "bw_sec" -> sf1.bw, "bw_sf10_sec" -> sf10.bw,
      "bw_expected_sec" -> rig.bwExpected, "bw_board_sec" -> boardBw,
      "pr_bw_pre_sec" -> sf10.bwBracket._1, "pr_bw_post_sec" -> sf10.bwBracket._2)
      .map { case (k, v) => k -> num(v) }
    jobj(Seq("metric" -> jstr("total"), "value" -> num(total),
      "unit" -> jstr("sec"), "queries" -> bests(results),
      "queries_median" -> medians(results)) ++ tier(sf1) ++ tier(sf10) ++ Seq(
      "tier_second_pass" -> jobj(Seq(sf1, sf10).map(t => t.tier -> arr(t.pass2.map(jstr)))),
      "disk_busy" -> nums(rig.diskBusy.toSeq), "cpu_busy" -> nums(rig.cpuBusy.toSeq),
      "cpu_steal" -> nums(rig.cpuSteal.toSeq), "cpu_ours" -> nums(rig.cpuOurs.toSeq),
      "reruns" -> jobj(reruns),
      // the mid-tier boundary gate watches the mem canary only: shuffle-
      // or bw-only churn arriving mid-tier is adjudicated after the fact
      "canary_gate" -> jobj(Seq("sf1" -> gate(sf1.gate), "sf10" -> gate(sf10.gate),
        "board" -> gate(boardGate),
        "mid" -> arr(Seq(sf1.midWaits.toString, sf10.midWaits.toString)),
        "mid_watch" -> jstr("mem"))),
      "drift" -> drift(sf1), "drift_sf10" -> drift(sf10),
      "board_drift" -> jobj(BenchBoards.drift(boards, rig.baselines).map {
        case (k, v, q) => k -> arr(Seq(num(v), num(q))) }),
      "baselines" -> jstr(if (on) rig.baselines.setting else "off"),
      "sf1_gen_sec" -> num(sf1.genSec), "sf10_gen_sec" -> num(sf10.genSec),
      "contention_canary" -> jobj(canary ++ flags.fields),
      "plan_nodes" -> jobj(planNodes.map { case (k, n) => k -> n.toString })) ++
      boards.map { case (k, v) => k -> nums(v) } :+ ("sf" -> jstr(sf)))
  }
}
