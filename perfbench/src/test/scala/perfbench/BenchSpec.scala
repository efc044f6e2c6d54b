package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val pool = (1 to 12).map(i => s"key$i")

  test("same seed gives the same op sequence; another seed another") {
    def seq(seed: Long) = (0 until 5).flatMap(Deck.cycle(pool, seed, _))
    assert(seq(7) == seq(7))
    assert(seq(7) != seq(8))
    // every cycle is the whole pool once
    (0 until 5).foreach(i => assert(Deck.cycle(pool, 7, i).sorted == pool.sorted))
  }

  test("same seed gives the same delta sets and corrections; another seed another") {
    def deltas(seed: Long) = Deck.assign(seed, 240, 24)
    def fixes(seed: Long) = (1 to 24).map(r => Deck.pick(seed, 7000L + r, 15000, 16))
    assert(deltas(3) == deltas(3))
    assert(deltas(3) != deltas(4))
    assert(fixes(3) == fixes(3))
    assert(fixes(3) != fixes(4))
    val byRound = deltas(3).groupBy(identity).map { case (r, bs) => r -> bs.size }
    assert(byRound(0) == 168, "70 % of the buckets are the base")
    assert((1 to 24).forall(byRound(_) == 3), "every round gets three buckets")
  }

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    Seq(20, 40, 100, 200, 1000, 10000).foreach { n =>
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) >= 10)
    }
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some(90.0 -> Stats.quantile(xs, 0.9)))
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
  }

  test("a throwing op and a wrong-output op count as failed and leave no sample") {
    val rec = new Recorder
    assert(rec.attempt("good", "read") { Thread.sleep(1) })
    assert(!rec.attempt("throws", "read") { throw new IllegalStateException("boom") })
    assert(!rec.attempt("wrong", "read") { Check.equal(41, 42, "answer") })
    assert(rec.attempted == 3)
    assert(rec.failed == 2)
    assert(rec.outcomes.filter(_.ok).map(_.op) == Seq("good"))
    assert(rec.outcomes(1).failure.exists(_.startsWith("threw")))
    assert(rec.outcomes(2).failure.exists(_.startsWith("wrong output")))
  }

  test("a missing pin fails the check and names the line to pin") {
    val pins = new Pins("no-such-pins-file", "ds1")
    val d = Digest(3, 42)
    val e = intercept[CheckFailed](pins.check("olap_mix", "k", d))
    assert(e.getMessage.endsWith(s"ds1 olap_mix k $d"))
  }

  test("digests ignore row order and partitioning, and add over disjoint parts") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 3).getOrCreate()
    try {
      import spark.implicits._
      val rows = (1 to 500).map(i => (i.toLong, s"s$i", i / 7.0, Seq(i, i + 1)))
      val df = rows.toDF("a", "b", "c", "d")
      val d = Digest.of(df)
      assert(d.rows == 500)
      assert(Digest.of(rows.reverse.toDF("a", "b", "c", "d").repartition(5)) == d)
      assert(Digest.of(df.filter($"a" <= 200)) + Digest.of(df.filter($"a" > 200)) == d)
      assert(Digest.of(df.withColumn("c", $"c" + 1)) != d)
      val g = Digest.grouped(df.withColumn("g", ($"a" % 3).cast("int")), "g")
      assert(g.values.reduce(_ + _) == d)
      assert(Digest.parse(d.toString) == d)
    } finally spark.stop()
  }
}
