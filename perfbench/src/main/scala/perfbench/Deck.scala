package perfbench

/** Seeded input plans. Everything a workload draws from `--seed` comes
  * from here, so "same seed, same inputs" is one testable property. */
object Deck {

  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)

  /** `xs` in the seeded order of stream `salt` (Fisher-Yates). */
  def shuffle[A](xs: IndexedSeq[A], seed: Long, salt: Long): IndexedSeq[A] = {
    val rnd = new java.util.Random(mix(seed, salt))
    val a = xs.toArray[Any]
    var j = a.length - 1
    while (j > 0) {
      val k = rnd.nextInt(j + 1)
      val t = a(j); a(j) = a(k); a(k) = t
      j -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Cycle `i` of the op deck: the whole pool in a seeded order. Each
    * cycle holds every key once (a shuffled deck, not draws with
    * replacement), so every run weighs every key equally and a median
    * does not depend on which keys the draw happened to favour. */
  def cycle(pool: IndexedSeq[String], seed: Long, i: Int): IndexedSeq[String] =
    shuffle(pool, seed, i.toLong)

  /** Which mart_refresh round each of `buckets` input buckets arrives in:
    * round 0 is the base (`baseShare` of the buckets), and the rest are
    * dealt round-robin to rounds 1..`rounds`, all in a seeded order. */
  def assign(seed: Long, buckets: Int, rounds: Int,
      baseShare: Double = 0.7): IndexedSeq[Int] = {
    val order = shuffle(0 until buckets, seed, -1L)
    val base = math.round(buckets * baseShare).toInt
    val out = Array.fill(buckets)(0)
    order.drop(base).zipWithIndex.foreach { case (b, i) => out(b) = 1 + i % rounds }
    out.toIndexedSeq
  }

  /** Seeded pick of `k` distinct values from [0, n), sorted. */
  def pick(seed: Long, salt: Long, n: Int, k: Int): IndexedSeq[Int] = {
    val rnd = new java.util.Random(mix(seed, salt))
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (chosen.size < math.min(k, n)) chosen += rnd.nextInt(n)
    chosen.toIndexedSeq.sorted
  }

  /** Uniform draw from [0, n) for step `i` of stream `salt`. */
  def draw(seed: Long, salt: Long, i: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(mix(seed, salt), i.toLong), n.toLong).toInt
}
