package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** The bench scoreboards: the reference's shape invariants (BASELINE.md)
  * and the approximate operators' quality contracts, measured at bench
  * scale. Each board is a list of (name, value) pairs; a crashed probe
  * reports -1 sentinels where noted. */
object BenchBoards {

  private val Reps = 3

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(run: => Unit): Double = {
    val t0 = System.nanoTime()
    run
    (System.nanoTime() - t0) / 1e9
  }

  /** Physical plan node counts — the reference's secondary metric
    * ("loops" per query, BASELINE.md). Read from sparkPlan (pre-AQE): the
    * adaptive wrapper hides its subtree from collect. -1 = failed. */
  def planNodes(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[(String, Int)] =
    names.map { name =>
      name -> (try SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.sparkPlan.collect { case p => p }.size
      catch { case _: Throwable => -1 })
    }

  /** Every board, in record order. */
  def all(spark: SparkSession, sfDir: String): Seq[(String, Seq[(String, Double)])] =
    Seq("mv_speedup" -> mvSpeedup(spark, sfDir),
      "skew_join" -> skewJoin(spark, sfDir),
      "ann_recall" -> annRecall(spark, sfDir),
      "triangle_sketch" -> triangleSketch(spark, sfDir),
      "lookup" -> lookup(spark, sfDir),
      "join_reorder" -> joinReorder(spark))

  /** Scoreboard drift (r10 VERDICT item 2): timing boards flag at the
    * per-key >1.5x rule; the quality boards (recalls/ratios in [0,1])
    * flag when they DROP more than 0.05 below quiet. Quiet values live
    * under board.<block>.<key>; a missing entry and a -1 crash sentinel
    * don't participate. Rows are ("<block>.<key>", value, quiet). */
  def drift(boards: Seq[(String, Seq[(String, Double)])],
      baselines: BenchBaselines): Seq[(String, Double, Double)] =
    boards.flatMap { case (block, vals) =>
      val quality = block == "ann_recall" || block == "triangle_sketch"
      val quiet = baselines.quiet(s"board.$block.")
      vals.flatMap { case (k, v) =>
        quiet.get(k).collect {
          // reordered is a 0/1 plan fact, not a timing
          case q if v >= 0 && k != "reordered" &&
            (if (quality) v < q - 0.05 else v > 1.5 * q) => (s"$block.$k", v, q)
        }
      }
    }

  /** The reference's Q4 ordering invariant at bench scale: the same
    * question (top-10 spenders with names) against raw base tables, the
    * joined mart, and a pre-aggregated MV (builds excluded, as in the
    * reference where MVs pre-exist). raw > mart > view is the
    * headline shape invariant, so it gets the most contention-robust
    * discipline in the file: 5 reps, INTERLEAVED round-robin (a load
    * burst degrades all three variants' same-index sample), median taken.
    * r6's mart-over-raw inversion was a best-of-3 sequential artifact. */
  def mvSpeedup(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val m = new graft.matview.Materializer(spark,
      graft.matview.Materializer.defaultScratch + "/bench_mv")
    def topk(df: DataFrame) =
      df.orderBy(col("spend").desc, col("o_custkey")).limit(10)
    def joined = load(spark, sfDir, "orders")
      .join(broadcast(load(spark, sfDir, "customer")),
        col("o_custkey") === col("c_custkey"))
    def spend(df: DataFrame) = df.groupBy("o_custkey")
      .agg(min(col("c_name")).as("name"), exactSum(col("o_totalprice")).as("spend"))
    m.create("bench_fact", joined.select("o_custkey", "c_name", "o_totalprice"))
    m.create("bench_preagg", spend(joined))
    val variants: Seq[(String, () => DataFrame)] = Seq(
      "raw" -> (() => topk(spend(joined))),
      "mart" -> (() => topk(spend(m.table("bench_fact")))),
      "view" -> (() => topk(m.table("bench_preagg"))))
    val samples = (1 to 5).map(_ => variants.map { case (_, mk) => timed(noop(mk())) })
    variants.map(_._1).zipWithIndex.map { case (name, i) =>
      name -> Bench.median(samples.map(_(i)))
    }
  }

  /** Skew-join board: one hot key holds ~80% of the fact rows; compare an
    * unmitigated shuffle join, AQE's skew split (thresholds scaled to
    * bench SF), and explicit salting (graft.operators.SaltedJoin).
    * Broadcast is disabled throughout — at 100 TB neither side fits, and
    * the point is reducer balance, not join-strategy selection. */
  def skewJoin(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    // x8 amplification so the hot reducer's share dominates wall-clock at
    // bench SF (at production scale the raw fact already does)
    val skewed = load(spark, sfDir, "lineitem")
      .withColumn("rep", explode(sequence(lit(0), lit(7))))
      .select(
        when(col("l_orderkey") % 100 < 80, 0L)
          .otherwise(col("l_orderkey") % 10000 + col("rep") * 10000).as("k"),
        col("l_extendedprice").as("v"))
    val dim = spark.range(80000).select(col("id").as("dk"),
      (col("id") % 97).cast("double").as("w"))
    def agg(j: DataFrame) = j.groupBy(col("k") % 7)
      .agg(count(lit(1)).as("n"), sum(col("v") * col("w")).as("s"))
    // save/restore every config the board touches, so the 1 MB advisory
    // partitions and skew thresholds don't leak into later measurements
    val aqeConfs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = ("spark.sql.autoBroadcastJoinThreshold" +: aqeConfs.map(_._1))
      .map(k => k -> spark.conf.getOption(k))
    def restore(k: String): Unit =
      saved.toMap.get(k).flatten.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    val variants: Seq[(String, () => DataFrame)] = Seq(
      "plain" -> (() => agg(skewed.join(dim, col("k") === col("dk")))),
      "aqe_split" -> (() => agg(skewed.join(dim, col("k") === col("dk")))),
      "salted" -> (() => agg(
        graft.operators.SaltedJoin.saltedInner(skewed, dim, "k", "dk", 32))),
      // salts = 0 derives the replication factor from the measured
      // hottest-key share instead of a hardcoded 32
      "salted_auto" -> (() => agg(
        graft.operators.SaltedJoin.saltedInner(skewed, dim, "k", "dk", 0))))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // each variant runs under exactly its own configs (the skew thresholds
    // apply ONLY to the aqe variant), and reps are INTERLEAVED round-robin
    // so a load burst degrades every variant's sample equally
    val samples = (1 to Reps).map { _ =>
      variants.map { case (name, mk) =>
        if (name == "aqe_split") aqeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        else {
          aqeConfs.foreach { case (k, _) => restore(k) }
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        }
        timed(noop(mk()))
      }
    }
    saved.foreach { case (k, _) => restore(k) }
    variants.map(_._1).zipWithIndex.map { case (name, i) =>
      name -> samples.map(_(i)).min
    }
  }

  /** A query's (a, b) id pairs, or None (logged) when it fails — a crashed
    * query must be distinguishable from a bad-recall one. */
  private def pairs(label: String, df: => DataFrame, a: String,
      b: String): Option[Set[(Long, Long)]] =
    try Some(df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    catch { case e: Throwable =>
      System.err.println(s"[bench] $label failed: ${e.getMessage}")
      None
    }

  private def recall(exact: Option[Set[(Long, Long)]],
      approx: Option[Set[(Long, Long)]]): Double = (exact, approx) match {
    case (Some(ex), Some(ap)) if ex.nonEmpty => ap.intersect(ex).size.toDouble / ex.size
    case _ => -1.0
  }

  /** ANN quality: recall of each approximate path against the exact
    * brute-force top-k over the same (query, neighbor) pairs, plus the
    * LSH-bucketed embedding dedup against its exact all-pairs baseline
    * (deliberately not a registered key). -1 = a side failed. */
  def annRecall(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def nn(name: String) = pairs(name, SparkEntry.queries(name)(spark, sfDir),
      "query_id", "neighbor_id")
    val exact = nn("similarity_topk_bruteforce")
    def dedup(df: => DataFrame) = pairs("embedding dedup", df, "a", "b")
    val dedupRecall = recall(
      dedup(graft.ext.Dedup.dedupEmbeddingCosineExact(spark, sfDir)),
      dedup(graft.ext.Dedup.dedupEmbeddingCosine(spark, sfDir)))
    Seq("lsh" -> recall(exact, nn("similarity_ann_lsh")),
      "ivf" -> recall(exact, nn("similarity_ivf")),
      "quantized" -> recall(exact, nn("similarity_ann_quantized")),
      "ivf_pq" -> recall(exact, nn("similarity_ivf_pq")),
      "embedding_dedup" -> dedupRecall)
  }

  /** Sketched-triangle error contract, measured: node recall (share of
    * exact triangle participants the sketch finds) and total-triangle
    * ratio vs the exact key, both <= 1 by the one-sided contract.
    * Measured at sf0.01 (the sibling of the bench SF's directory), NOT
    * the bench SF: the co-purchase graph at sf0.1 has no >= 4-shared
    * pairs at all, so sf0.01 is where triangle structure exists. The
    * exact key stays out of the timed sf1 tier (24s standalone); this
    * quantifies what the candidate cap gives up. */
  def triangleSketch(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val dir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    def counts(name: String): Option[Map[Long, Long]] =
      try Some(SparkEntry.queries(name)(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    (counts("graph_triangle_count"), counts("graph_triangle_sketch")) match {
      case (Some(ex), Some(sk)) if ex.nonEmpty =>
        Seq("node_recall" -> ex.keySet.intersect(sk.keySet).size.toDouble / ex.size,
          "triangle_ratio" -> sk.values.sum.toDouble / math.max(1L, ex.values.sum))
      case _ => Seq("node_recall" -> -1.0, "triangle_ratio" -> -1.0)
    }
  }

  /** Access-path asymmetry: build the bucketed table once untimed, then
    * time the pruned 3-key lookup against the same lookup as a full scan
    * over the raw parquet — the index-scan-vs-seq-scan asymmetry the
    * reference gets from its B-tree. Median of 5 (sub-second probes). */
  def lookup(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    try {
      val m = graft.matview.Materializer(spark)
      val t = "bench_lookup_orders"
      def orders = load(spark, sfDir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      m.createBucketed(t, orders, Seq("o_orderkey"), 16)
      def keys(df: DataFrame) = df.filter(col("o_orderkey").isin(7L, 500L, 997L))
      def time(run: => Unit) = (1 to 5).map(_ => timed(run)).sorted.apply(2)
      // the conf override must hold while the scan PLANS (at save())
      val pruned = time(graft.queries.Lifecycle.withAutoBucketedScanDisabled(spark) {
        noop(keys(m.table(t)))
      })
      Seq("bucket_pruned" -> pruned, "full_scan" -> time(noop(keys(orders))))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] lookup pair failed: ${e.getMessage}")
      Seq("bucket_pruned" -> -1.0, "full_scan" -> -1.0)
    }

  /** ANALYZE-driven join reorder: the same 3-table query written in the
    * worst left-deep order (fact ⋈ fact-sized ⋈ selective dim) over the
    * generated sf1 tables, ANALYZEd FOR ALL COLUMNS, with CBO join
    * reorder off vs on — only the optimizer flag differs. With
    * cbo.joinReorder the dim's filter selectivity moves it innermost and
    * orders collapse ~25x before the fact join. `reordered` pins the plan
    * fact (deepest join touches the dim only under CBO). Needs the sf1
    * tier's tables, so it runs after that tier. */
  def joinReorder(spark: SparkSession): Seq[(String, Double)] =
    try {
      val scratch = graft.matview.Materializer.defaultScratch
      val sf1Dir = scratch + "/sf1"
      def mkTable(name: String, df: DataFrame): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        df.write.mode("overwrite").option("path", s"$scratch/$name").saveAsTable(name)
      }
      mkTable("br_li", load(spark, sf1Dir, "lineitem")
        .select("l_orderkey", "l_extendedprice"))
      mkTable("br_ord", load(spark, sf1Dir, "orders")
        .select("o_orderkey", "o_custkey"))
      mkTable("br_cust", load(spark, sf1Dir, "customer")
        .select("c_custkey", "c_nationkey"))
      Seq("br_li", "br_ord", "br_cust").foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      def query = spark.table("br_li")
        .join(spark.table("br_ord"), col("l_orderkey") === col("o_orderkey"))
        .join(spark.table("br_cust").filter(col("c_nationkey") === 5),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("rev"))
      val touched = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      val saved = touched.map(k => k -> spark.conf.getOption(k))
      def setCbo(on: Boolean): Unit = touched.foreach(k => spark.conf.set(k, on.toString))
      def deepestJoinHasDim: Boolean = {
        import org.apache.spark.sql.catalyst.plans.logical.Join
        query.queryExecution.optimizedPlan
          .collect { case j: Join => j }.lastOption
          .exists(_.collectLeaves().exists(_.toString.contains("br_cust")))
      }
      // restore in finally: a throw mid-probe must not leave CBO flipped
      // for the rest of the run
      try {
        setCbo(true)
        val withCbo = deepestJoinHasDim
        setCbo(false)
        val without = deepestJoinHasDim
        val samples = (1 to Reps).map { _ =>
          Seq(false, true).map { on => setCbo(on); timed(noop(query)) }
        }
        Seq("as_written_sec" -> samples.map(_(0)).min,
          "cbo_sec" -> samples.map(_(1)).min,
          "reordered" -> (if (withCbo && !without) 1.0 else 0.0))
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] join reorder failed: ${e.getMessage}")
      Seq("as_written_sec" -> -1.0, "cbo_sec" -> -1.0, "reordered" -> -1.0)
    }
}
