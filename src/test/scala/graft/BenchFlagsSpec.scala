package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bracket_contended predicate (r11 VERDICT item 3): synthetic
  * readings must flip it exactly when any bracket side crosses 2x the
  * quiet mem floor — and never with baselines off (adjudication
  * intentionally dark is not "clean"). */
class BenchFlagsSpec extends AnyFunSuite {

  private val quiet = Seq(
    "a" -> ((1.1, 1.2)), "b" -> ((1.0, 1.3)), "c" -> ((1.2, 1.1)))

  test("quiet brackets stay unflagged; one hot reading on EITHER side " +
      "flips the flag") {
    assert(!Bench.bracketContendedFlag(quiet, 1.2, baselinesOn = true))
    // hot POST (the r11 tri_mem_post shape: 4.96 vs floor ~1.2)
    val hotPost = quiet :+ ("d" -> ((1.1, 4.96)))
    assert(Bench.bracketContendedFlag(hotPost, 1.2, baselinesOn = true))
    // hot PRE only — the key itself may still read clean, the BOX isn't
    val hotPre = quiet :+ ("d" -> ((8.7, 1.1)))
    assert(Bench.bracketContendedFlag(hotPre, 1.2, baselinesOn = true))
    // exactly at the bar does not flip (strict >)
    assert(!Bench.bracketContendedFlag(
      Seq("e" -> ((2.4, 2.4))), 1.2, baselinesOn = true))
  }

  test("baselines off forces the flag dark, never false-clean-true") {
    assert(!Bench.bracketContendedFlag(
      Seq("d" -> ((1.1, 99.0))), 1.2, baselinesOn = false))
  }

  test("rerunFlagged end to end: selects exactly the hot-bracketed keys, " +
      "probes each once, replaces readings per the adjudication kernel") {
    val floor = 1.2
    val probed = Seq(
      "quiet_key" -> Seq(3.0, 3.1),   // clean bracket: untouched
      "hot_fast"  -> Seq(18.0, 17.98), // hot bracket; clean re-run wins
      "hot_slow"  -> Seq(9.0, 9.2))    // hot bracket; hot re-run, orig better
    val brackets = Seq(
      "quiet_key" -> ((1.1, 1.2)),
      "hot_fast"  -> ((1.2, 4.9)),
      "hot_slow"  -> ((12.7, 1.2)))
    var probes = List.empty[(String, String)]
    var quiesces = 0
    // canary schedule: hot_fast re-runs under a CLEAN bracket (1.1, 1.2);
    // hot_slow under a HOT one (1.1, 4.0) with a slower reading
    val canaries = Iterator(1.1, 1.2, 1.1, 4.0)
    val rerunSamples = Map(
      "hot_fast" -> Seq(5.2, 5.12), "hot_slow" -> Seq(17.98, 18.5))
    val (adj, reruns) = Bench.rerunFlagged("sf10", probed, brackets,
      memExpected = floor, baselinesOn = true,
      probe = (t, k) => { probes ::= (t, k); rerunSamples(k) },
      canary = () => canaries.next(),
      quiesce = () => quiesces += 1)
    // exactly the two hot keys probed, once each, under the rerun label
    assert(probes.reverse == List(("sf10.rerun", "hot_fast"),
      ("sf10.rerun", "hot_slow")))
    assert(quiesces == 2)
    val byKey = adj.toMap
    assert(byKey("quiet_key") == Seq(3.0, 3.1)) // untouched
    assert(byKey("hot_fast") == Seq(5.2, 5.12)) // clean re-run reported
    assert(byKey("hot_slow") == Seq(9.0, 9.2))  // box condemned twice; orig
    assert(reruns.map(r => (r.key, r.used)) ==
      Seq(("hot_fast", "rerun"), ("hot_slow", "orig")))
    // baselines off: nothing re-runs even with hot brackets
    val (adj2, rr2) = Bench.rerunFlagged("sf10", probed, brackets,
      memExpected = floor, baselinesOn = false,
      probe = (_, _) => fail("must not probe with baselines off"),
      canary = () => fail("must not canary with baselines off"))
    assert(adj2 == probed && rr2.isEmpty)
  }

  test("drift-flagged keys re-run even under warm-not-hot brackets " +
      "(r13 VERDICT item 3: the events_rfm escape)") {
    val floor = 1.2
    // the r13 shape: median 1.51x quiet, brackets [1.60, 1.37] — warm
    // (above floor) but under the 2x hot bar, so bracket-only selection
    // skipped it and the round's one open reading went rig-unadjudicated
    val probed = Seq("events_rfm" -> Seq(3.64, 4.72, 3.12))
    val brackets = Seq("events_rfm" -> ((1.60, 1.37)))
    assert(!Bench.bracketHot((1.60, 1.37), floor)) // the escape, pinned
    var probes = 0
    val canaries = Iterator(1.1, 1.2)
    val (adj, reruns) = Bench.rerunFlagged("sf1", probed, brackets,
      memExpected = floor, baselinesOn = true,
      probe = (_, _) => { probes += 1; Seq(3.1, 3.2) },
      canary = () => canaries.next(),
      driftHot = Set("events_rfm"))
    assert(probes == 1)
    assert(adj.toMap.apply("events_rfm") == Seq(3.1, 3.2)) // clean rerun
    assert(reruns.map(r => (r.key, r.used)) == Seq(("events_rfm", "rerun")))
    // not in driftHot and not bracket-hot: untouched (no spurious re-runs)
    val (adj2, rr2) = Bench.rerunFlagged("sf1", probed, brackets,
      memExpected = floor, baselinesOn = true,
      probe = (_, _) => fail("must not probe"),
      canary = () => fail("must not canary"))
    assert(adj2 == probed && rr2.isEmpty)
  }

  test("parseCpuStat: modern line, old short line, malformed text, " +
      "missing aggregate line") {
    // modern kernel: user nice system idle iowait irq softirq steal ...
    val (busy, steal, total) = Bench.parseCpuStat(Seq(
      "cpu  100 5 50 800 40 3 7 10 2 1",
      "cpu0 50 2 25 400 20 1 3 5 1 0"))
    assert(total == 1015L) // first 8 fields; guest double-counts in user
    assert(steal == 10L)
    assert(busy == 165L) // total - (idle 800 + iowait 40) - steal
    // pre-2.6.11 kernel: only user nice system idle — still parses
    assert(Bench.parseCpuStat(Seq("cpu  100 5 50 800")) ==
      ((155L, 0L, 955L)))
    // malformed numeric field: sentinel, not a crash mid-bench
    assert(Bench.parseCpuStat(Seq("cpu  abc 5 50 800")) ==
      ((-1L, -1L, -1L)))
    // per-core lines only (no aggregate): sentinel
    assert(Bench.parseCpuStat(Seq("cpu0 1 2 3 4 5")) == ((-1L, -1L, -1L)))
    assert(Bench.parseCpuStat(Nil) == ((-1L, -1L, -1L)))
    // truncated aggregate (fewer than 4 fields): sentinel, not an
    // ArrayIndexOutOfBounds swallowed as one
    assert(Bench.parseCpuStat(Seq("cpu  1 2")) == ((-1L, -1L, -1L)))
  }

  test("parseDiskBusyMs: sums io-ticks over named whole devices only; " +
      "a malformed line skips itself, not the whole reading") {
    val lines = Seq(
      "   8       0 sda 1 2 3 4 5 6 7 8 9 5000 11",
      "   8       1 sda1 1 2 3 4 5 6 7 8 9 9999 11", // partition: not named
      " 253       0 dm-0 1 2 3 4 5 6 7 8 9 7777 11", // layered: not named
      "   8      16 sdb 1 2 3 4 5 6 7 8 9 xx 11",    // malformed: skipped
      " 259       0 nvme0n1 1 2 3 4 5 6 7 8 9 250 11")
    val devs = Set("sda", "sdb", "nvme0n1")
    assert(Bench.parseDiskBusyMs(lines, devs) == 5250L)
    // short line (fewer than 13 fields) is ignored, not an exception
    assert(Bench.parseDiskBusyMs(Seq("8 0 sda 1 2 3"), devs) == 0L)
  }

  test("re-run adjudication (r12 VERDICT item 1): a clean re-run bracket " +
      "supplies the reading even when slower; a hot one condemns the box " +
      "and keeps the better reading") {
    val floor = 1.2
    // the r12 driver shape: orig read 17.98 with a hot bracket, re-run
    // reads 5.12 under a clean bracket -> the clean reading reports
    assert(Bench.rerunChoice(17.98, 5.12, 1.1, 1.2, floor) == "rerun")
    // clean re-run bracket but SLOWER re-run: still the re-run — it is
    // the in-record quiet-box number, not the lucky one
    assert(Bench.rerunChoice(4.0, 5.0, 1.1, 1.2, floor) == "rerun")
    // hot re-run bracket, re-run faster anyway: better evidence wins
    assert(Bench.rerunChoice(17.98, 9.0, 4.9, 1.2, floor) == "rerun")
    // hot re-run bracket, re-run slower: box condemned twice, the
    // original (better) reading stays on record
    assert(Bench.rerunChoice(9.0, 17.98, 1.2, 4.9, floor) == "orig")
    // which keys re-run at all: strictly >2x floor on either side
    assert(Bench.bracketHot((1.1, 2.5), floor))
    assert(Bench.bracketHot((2.5, 1.1), floor))
    assert(!Bench.bracketHot((2.4, 2.4), floor))
  }

  test("tierSecondPass (r15 VERDICT item 1): an unresolved drift key " +
      "forces one whole-tier re-probe; min-median merge; quiet box or " +
      "baselines-off never fire it") {
    def med(s: Seq[Double]): Double = {
      val x = s.sorted
      if (x.size % 2 == 1) x(x.size / 2)
      else (x(x.size / 2 - 1) + x(x.size / 2)) / 2.0
    }
    val quiet = Map("a" -> 1.0, "b" -> 2.0)
    // the r14 shape: key a adjudicated but STILL 2.2x quiet; b is fine
    val tier = Seq("a" -> Seq(2.2, 2.3), "b" -> Seq(1.9, 2.0))
    var probes = 0
    val (merged, keys) = Bench.tierSecondPass(tier, quiet, med,
      baselinesOn = true, () => {
        probes += 1
        Seq("a" -> Seq(1.0, 1.1), "b" -> Seq(2.5, 2.6))
      })
    assert(keys == Seq("a") && probes == 1)
    // a takes the quiet second reading; b keeps its ORIGINAL (its
    // second-pass median was worse — min-median merge per key)
    assert(merged.toMap.apply("a") == Seq(1.0, 1.1))
    assert(merged.toMap.apply("b") == Seq(1.9, 2.0))
    // quiet tier: no probe at all
    var p2 = 0
    val (same, none) = Bench.tierSecondPass(
      Seq("a" -> Seq(1.0, 1.1)), quiet, med, baselinesOn = true,
      () => { p2 += 1; Nil })
    assert(none.isEmpty && p2 == 0 && same == Seq("a" -> Seq(1.0, 1.1)))
    // baselines off: adjudication dark by declaration, never a re-probe
    var p3 = 0
    val (_, none3) = Bench.tierSecondPass(tier, quiet, med,
      baselinesOn = false, () => { p3 += 1; Nil })
    assert(none3.isEmpty && p3 == 0)
    // a key with no baseline does not participate
    var p4 = 0
    val (_, none4) = Bench.tierSecondPass(
      Seq("new_key" -> Seq(9.0, 9.0)), quiet, med, baselinesOn = true,
      () => { p4 += 1; Nil })
    assert(none4.isEmpty && p4 == 0)
  }

  test("canaryGate (r16 VERDICT item 1): a quiet box pays nothing; a hot " +
      "box sleeps-and-reprobes bounded; a never-quiet box self-classifies " +
      "unusable; baselines off never gates") {
    // quiet: no sleep, no re-probe, usable
    var sleeps = 0; var probes = 0
    val (w0, hot0) = Bench.canaryGate(hot0 = false,
      () => { probes += 1; false }, baselinesOn = true, maxWaits = 3,
      () => sleeps += 1)
    assert(w0 == 0 && !hot0 && sleeps == 0 && probes == 0)
    // hot, recovers on the second re-probe: 2 waits, usable
    var s1 = 0; var p1 = 0
    val (w1, hot1) = Bench.canaryGate(hot0 = true,
      () => { p1 += 1; p1 < 2 }, baselinesOn = true, maxWaits = 3,
      () => s1 += 1)
    assert(w1 == 2 && !hot1 && s1 == 2 && p1 == 2)
    // never quiets: exactly maxWaits sleeps, then unusable — the tier
    // still runs, but the record carries the verdict
    var s2 = 0
    val (w2, hot2) = Bench.canaryGate(hot0 = true, () => true,
      baselinesOn = true, maxWaits = 3, () => s2 += 1)
    assert(w2 == 3 && hot2 && s2 == 3)
    // baselines off: the gate is declared dark — no sleep, never
    // "unusable" (the adjudication surface is off, not clean)
    var s3 = 0
    val (w3, hot3) = Bench.canaryGate(hot0 = true, () => true,
      baselinesOn = false, maxWaits = 3, () => s3 += 1)
    assert(w3 == 0 && !hot3 && s3 == 0)
  }

  test("midGate (r16): quiet boundary passes through untouched; a hot " +
      "boundary sleeps-and-reprobes within budget; an exhausted budget " +
      "returns the hot reading (brackets then adjudicate); off is dark") {
    val memExpected = 1.2
    // quiet boundary: no sleep, no probe, value unchanged
    var s0 = 0; var p0 = 0
    val (v0, w0) = Bench.midGate(1.3, memExpected, baselinesOn = true,
      budget = 3, () => { p0 += 1; 1.0 }, () => s0 += 1)
    assert(v0 == 1.3 && w0 == 0 && s0 == 0 && p0 == 0)
    // hot boundary, recovers on the second re-probe: the NEXT key's pre
    // is the recovered reading, two waits consumed
    var p1 = 0
    val (v1, w1) = Bench.midGate(5.0, memExpected, baselinesOn = true,
      budget = 3, () => { p1 += 1; if (p1 < 2) 4.0 else 1.1 }, () => ())
    assert(v1 == 1.1 && w1 == 2)
    // budget exhausted while hot: the hot reading is returned (the key
    // runs; its hot PRE bracket feeds the rerun/second-pass machinery)
    val (v2, w2) = Bench.midGate(5.0, memExpected, baselinesOn = true,
      budget = 2, () => 4.0, () => ())
    assert(v2 == 4.0 && w2 == 2)
    // zero budget (an earlier boundary spent it): pure passthrough
    var s3 = 0
    val (v3, w3) = Bench.midGate(5.0, memExpected, baselinesOn = true,
      budget = 0, () => 1.0, () => s3 += 1)
    assert(v3 == 5.0 && w3 == 0 && s3 == 0)
    // baselines off: dark, passthrough
    val (v4, w4) = Bench.midGate(5.0, memExpected, baselinesOn = false,
      budget = 3, () => 1.0, () => ())
    assert(v4 == 5.0 && w4 == 0)
  }

  test("driftRowsOf (r16): rows come from the GIVEN (merged) samples, " +
      "worst ratio first, every row kept; no-baseline keys do not " +
      "participate") {
    def best(s: Seq[Double]) = s.min
    def med(s: Seq[Double]) = s.sorted.apply(s.size / 2)
    val quiet = Map("a" -> 1.0, "b" -> 2.0, "c" -> 1.0, "d" -> 1.0)
    val tier = Seq(
      "a" -> Seq(1.4, 1.6, 1.7),   // med 1.6 = 1.6x -> drift
      "b" -> Seq(2.1, 2.2, 2.3),   // med 2.2 = 1.1x -> quiet
      "c" -> Seq(4.0, 5.0, 6.0),   // med 5.0 = 5.0x -> drift, worst
      "d" -> Seq(2.0, 2.0, 2.0),   // med 2.0 = 2.0x -> drift
      "new_key" -> Seq(9.0, 9.0, 9.0)) // no baseline: absent
    val rows = Bench.driftRowsOf(tier, quiet, best, med)
    // each row is (key, best, median, quiet) OF THE SAMPLES GIVEN — the
    // emission contract: callers pass the fully merged tier, so a drift
    // row always describes the reported samples (r15 ADVICE ordering)
    assert(rows.head == (("c", 4.0, 5.0, 1.0)))
    // all three drift keys, worst ratio first
    assert(rows.map(_._1) == Seq("c", "d", "a"))
  }

  test("bwCycle (r17, VERDICT item 1): a single full cycle — every slot " +
      "visited exactly once before the chase repeats — and deterministic") {
    val slots = 4096
    val cycle = Bench.bwCycle(slots, 42L)
    // permutation: every value in [0, slots) exactly once
    assert(cycle.sorted.toSeq == (0 until slots))
    // SINGLE cycle (Sattolo's guarantee): walking from slot 0 returns to
    // 0 only after visiting all slots — the property that makes a chase
    // of `hops` loads touch min(hops, slots) DISTINCT lines, so the
    // probe measures memory, not a short loop in cache
    var cur = 0
    var steps = 0
    do { cur = cycle(cur); steps += 1 } while (cur != 0 && steps <= slots)
    assert(steps == slots)
    // no fixed point anywhere (a cycle of length n > 1 has none)
    assert(cycle.zipWithIndex.forall { case (v, i) => v != i })
    // deterministic: the canary's reading differences are machine state,
    // never structure
    assert(Bench.bwCycle(slots, 42L).toSeq == cycle.toSeq)
  }

  test("bwChase: deterministic checksum, hop count honored, distinct " +
      "starts chase distinct segments of the shared cycle") {
    val cycle = Bench.bwCycle(1 << 12, 42L)
    val a = Bench.bwChase(cycle, 0, 1000)
    assert(a == Bench.bwChase(cycle, 0, 1000)) // pure
    assert(Bench.bwChase(cycle, 0, 0) == 0L)   // zero hops fold nothing
    // different starts read different prefixes (same cycle, spread
    // segments — the multi-thread layout of the canary)
    assert(Bench.bwChase(cycle, 2048, 1000) != a)
  }

  test("bwContendedFlag: strict 2x bar, sentinel readings never flag, " +
      "baselines off forces dark") {
    val expected = 1.2
    assert(!Bench.bwContendedFlag(Seq(1.1, 1.3, 2.4), expected, true))
    // the r16 box mode shape: ~5x the quiet expectation
    assert(Bench.bwContendedFlag(Seq(1.1, 6.1), expected, true))
    // -1 sentinels (tier not reached / bracket not run) are not readings
    assert(!Bench.bwContendedFlag(Seq(-1.0, -1.0), expected, true))
    // exactly at the bar does not flip (strict >, like its siblings)
    assert(!Bench.bwContendedFlag(Seq(2.4), expected, true))
    assert(!Bench.bwContendedFlag(Seq(99.0), expected, false))
  }
}
