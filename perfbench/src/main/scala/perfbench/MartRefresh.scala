package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.ingest.Constraints
import graft.matview.{Materializer, Merge, Snapshots}
import graft.matview.Materializer.Measure
import graft.streaming.StreamingOps

/** mart_refresh: writes beside reads over one private root. Set-up commits
  * a seeded 70 % of the orders to a snapshot table and builds two
  * aggregate MVs (one a star join with the customer dimension) with
  * auto-rewrite on, plus a long-lived tumbling-window stream over an
  * events directory. Each round is one write op — validate the delta's
  * keys, commit it, refresh both MVs incrementally and re-assert their
  * definitions, upsert seeded customer corrections, land the round's
  * events and advance the stream, and every second round compact — and
  * then reads: both MVs (answerable from MV storage), a time-travel read
  * and a delta read at seeded versions, and the stream's answer. */
final class MartRefresh(ctx: Ctx) extends Workload {
  val name = "mart_refresh"
  import MartRefresh._

  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val root = s"${ctx.work}/mart_refresh"
  private val watch = s"$root/stream_in"

  override val opNames: Seq[String] = Reads :+ "round"
  /** One round per cycle; warm-up takes round 1. */
  override def maxCycles: Int = Rounds - CompactEvery
  /** Rounds alternate with and without compaction. */
  override def cycleGroup: Int = CompactEvery

  // ---- inputs ------------------------------------------------------------

  private var staged: String = _
  /** Input buckets of each round (0 is the base), from the seed. */
  private var roundBuckets: Map[Int, Seq[Int]] = Map.empty
  private var roundDigest: Map[Int, Digest] = Map.empty
  private var statusAgg: Map[Int, Map[Seq[String], (BigDecimal, Long)]] = Map.empty
  private var segmentAgg: Map[Int, Map[Seq[String], (BigDecimal, Long)]] = Map.empty
  private var roundEvents: Map[Int, Long] = Map.empty
  private var roundBytes: Map[Int, Long] = Map.empty
  private var customerBase: DataFrame = _
  private var customerCount = 0
  private var eventsSchema: org.apache.spark.sql.types.StructType = _

  private def ordersOf(r: Int): DataFrame =
    spark.read.parquet(roundBuckets(r).map(b => s"$staged/orders/bucket=$b"): _*)

  /** Seed-independent staging, done once per dataset: the orders in
    * `Buckets` hash buckets and the events in time slices (slice 0 the
    * first 70 % of the span, then one in-time-order slice per round), one
    * file each, plus every bucket's digest, size and aggregates at
    * (status, priority, segment) grain. */
  private def stage(dir: String): Unit = {
    val tmp = s"$dir.tmp"
    del(Paths.get(tmp))
    Tables.load(spark, ctx.data, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .withColumn("bucket", pmod(xxhash64(col("o_orderkey")), lit(Buckets)).cast("int"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(s"$tmp/orders")
    val events = Tables.load(spark, ctx.data, "events")
      .withColumn("us", unix_micros(col("ts")))
    val Row(lo: Long, hi: Long) = events.agg(min("us"), max("us")).head()
    val cut = lo + ((hi - lo + 1) * BaseShare).toLong
    val step = math.max(1L, (hi + 1 - cut + Rounds - 1) / Rounds)
    events.withColumn("slice", when(col("us") < cut, lit(0))
        .otherwise(least(((col("us") - cut) / step).cast("int") + 1, lit(Rounds))))
      .drop("us").repartition(col("slice"))
      .write.partitionBy("slice").parquet(s"$tmp/events")
    val orders = spark.read.parquet(s"$tmp/orders")
    val customers = Tables.load(spark, ctx.data, "customer")
    val fine = orders.join(dimOf(customers), Seq("o_custkey"))
      .groupBy((("bucket" +: StatusKeys) ++ SegmentKeys).map(col): _*)
      .agg(sum(Tables.dec(col("o_totalprice"))), count(lit(1)))
      .collect().toSeq
    val lines = Digest.grouped(orders, "bucket").toSeq.sortBy(_._1).map { case (b, d) =>
        s"bucket\t$b\t$d\t${treeBytes(Paths.get(s"$tmp/orders/bucket=$b"))}" } ++
      fine.map(r => (0 to 3).map(r.get).mkString("agg\t", "\t", "\t") +
        s"${r.getDecimal(4).toPlainString}\t${r.getLong(5)}") ++
      spark.read.parquet(s"$tmp/events").groupBy("slice").count().collect()
        .map(r => s"events\t${r.getInt(0)}\t${r.getLong(1)}") :+
      s"customers\t${customers.count()}"
    Files.write(Paths.get(s"$tmp/meta.tsv"),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(Paths.get(tmp), Paths.get(dir))
  }

  /** Deal the staged buckets to base and rounds by the seed, and derive
    * what the checks compare against from the staged metadata — no Spark
    * work per run once the dataset is staged. */
  override def prepare(): Unit = {
    staged = s"${ctx.work}/mart_refresh_inputs/${ctx.dataset}-b$Buckets-r$Rounds"
    if (!Files.exists(Paths.get(s"$staged/meta.tsv"))) stage(staged)
    val meta = Files.readAllLines(Paths.get(s"$staged/meta.tsv")).asScala.toSeq
      .map(_.split("\t"))
    val roundOf = Deck.assign(ctx.seed, Buckets, Rounds, BaseShare)
    roundBuckets = (0 until Buckets).groupBy(roundOf).map { case (r, bs) => r -> bs.sorted }
    val buckets = meta.collect { case Array("bucket", b, d, bytes) =>
      b.toInt -> (Digest.parse(d), bytes.toLong) }.toMap
    roundDigest = roundBuckets.map { case (r, bs) => r -> bs.map(buckets(_)._1).reduce(_ + _) }
    roundBytes = roundBuckets.map { case (r, bs) => r -> bs.map(buckets(_)._2).sum }
    val fine = meta.collect { case Array("agg", b, st, pr, seg, total, n) =>
      (roundOf(b.toInt), Seq(st, pr), Seq(seg), BigDecimal(total), n.toLong) }
    def rollup(key: ((Int, Seq[String], Seq[String], BigDecimal, Long)) => Seq[String]) =
      fine.groupBy(_._1).map { case (r, rows) =>
        r -> rows.groupBy(key).map { case (k, xs) => k -> (xs.map(_._4).sum, xs.map(_._5).sum) }
      }
    statusAgg = rollup(_._2)
    segmentAgg = rollup(_._3)
    roundEvents = meta.collect { case Array("events", sl, n) => sl.toInt -> n.toLong }.toMap
    customerCount = meta.collectFirst { case Array("customers", n) => n.toInt }.get
    customerBase = Tables.load(spark, ctx.data, "customer")
    eventsSchema = spark.read.parquet(s"$staged/events/slice=0").schema
  }

  private def dimOf(customers: DataFrame): DataFrame =
    customers.select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))

  private def dim: DataFrame = dimOf(customerBase)

  private val measures = Seq(
    Measure.sumOf(Tables.dec(col("o_totalprice")), "total"),
    Measure.countAll("n"))

  private def statusQuery(orders: DataFrame): DataFrame =
    orders.groupBy(StatusKeys.map(col): _*)
      .agg(sum(Tables.dec(col("o_totalprice"))).as("total"), count(lit(1)).as("n"))

  private def segmentQuery(orders: DataFrame): DataFrame =
    orders.join(dim, Seq("o_custkey")).groupBy(SegmentKeys.map(col): _*)
      .agg(sum(Tables.dec(col("o_totalprice"))).as("total"), count(lit(1)).as("n"))

  // ---- state -------------------------------------------------------------

  private var snap: Snapshots = _
  private var mat: Materializer = _
  private var query: StreamingQuery = _
  /** Expected digest of each committed version of the orders table. */
  private val versions = mutable.ArrayBuffer.empty[Digest]
  /** Append version -> the round it committed. */
  private val appended = mutable.LinkedHashMap.empty[Int, Int]
  private val corrections = mutable.LinkedHashMap.empty[Long, Double]
  private var applied = 0
  private var violations = 0L
  private var mvEligible = 0
  private var mvHits = 0

  def setup(rep: Int): Unit = {
    if (query != null) query.stop()
    if (mat != null) mat.deregisterAll()
    del(Paths.get(root))
    tr.span("mart.setup", "matview") {
      snap = new Snapshots(spark, s"$root/snap")
      mat = new Materializer(spark, s"$root/mv").enableAutoRewrite()
      snap.commitAppend("orders", ordersOf(0))
      snap.commitAppend("customer", customerBase)
      mat.createAggregated("mv_status", snap.readLatest("orders"), StatusKeys, measures)
      mat.createJoinAggregated("mv_segment", snap.readLatest("orders"), dim,
        Seq("o_custkey"), SegmentKeys, measures)
      Files.createDirectories(Paths.get(watch))
      arrive(0)
      query = StreamingOps.tumblingAgg(
          spark.readStream.schema(eventsSchema).parquet(watch))
        .writeStream.outputMode("complete").format("memory")
        .queryName(StreamTable)
        .option("checkpointLocation", s"$root/checkpoint")
        .start()
      advanceStream()
    }
    versions.clear(); versions += roundDigest(0)
    appended.clear(); appended(0) = 0
    corrections.clear()
    applied = 0; violations = 0; mvEligible = 0; mvHits = 0
  }

  /** A round's events land: copied aside, then moved into the watched
    * directory in one rename, so the stream never sees a partial file. */
  private def arrive(r: Int): Unit = {
    val files = Files.list(Paths.get(s"$staged/events/slice=$r"))
    val parts =
      try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally files.close()
    val tmp = Paths.get(s"$root/stream_tmp")
    Files.createDirectories(tmp)
    parts.zipWithIndex.foreach { case (p, i) =>
      val t = tmp.resolve(f"r$r%04d-$i.parquet")
      Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      Files.move(t, Paths.get(watch).resolve(t.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def advanceStream(): Unit = {
    tr.streamSpan = tr.current
    try query.processAllAvailable()
    finally tr.streamSpan = -1
  }

  private def redefine(): Unit = {
    mat.redefine("mv_status", statusQuery(snap.readLatest("orders")))
    mat.redefine("mv_segment", segmentQuery(snap.readLatest("orders")))
  }

  /** The write op of round `r`: arrival of the delta until both MVs and
    * the stream answer with it. */
  private def round(r: Int): Unit = ctx.rec.attempt("round", "write") {
    require(r <= Rounds, s"round $r beyond the $Rounds staged rounds")
    tr.span("round", "op", tr.newOp()) {
      val delta = ordersOf(r)
      val v = tr.span("validate", "ingest") {
        Constraints.primaryKeyViolations(delta, Seq("o_orderkey")) +
          Constraints.foreignKeyViolations(delta, Seq("o_custkey"),
            customerBase, Seq("c_custkey"))
      }
      violations += v
      Check.equal(v, 0L, s"round $r constraint violations")
      val ver = tr.span("commit", "matview")(snap.commitAppend("orders", delta))
      Check.equal(ver, versions.size, "committed version")
      versions += versions.last + roundDigest(r)
      appended(ver) = r
      tr.span("refresh", "matview") {
        mat.refreshIncremental("mv_status", delta)
        mat.refreshJoinDelta("mv_segment", delta)
        redefine()
      }
      tr.span("upsert", "matview")(upsert(r))
      tr.span("stream", "streaming") {
        arrive(r)
        advanceStream()
      }
      // odd rounds compact, so the warm-up round (1) runs compaction too
      if (r % CompactEvery == 1) tr.span("compact", "matview") {
        val cv = snap.compact("orders", Seq("o_orderkey"))
        Check.equal(cv, versions.size, "compacted version")
        versions += versions.last
        redefine()
      }
      applied = r
    }
  }

  /** MERGE seeded acctbal corrections into the customer table. */
  private def upsert(r: Int): Unit = {
    import spark.implicits._
    val fix = Deck.pick(ctx.seed, 7000L + r, customerCount, 16).map { k =>
      k.toLong -> (java.lang.Long.remainderUnsigned(
        Deck.mix(ctx.seed, r * 1000003L + k), 2000000L) - 1000000L) / 100.0
    }
    val current = snap.readLatest("customer")
    val source = current.join(fix.toDF("c_custkey", "new_bal"), "c_custkey")
      .withColumn("c_acctbal", col("new_bal"))
      .select(current.columns.toIndexedSeq.map(col): _*)
    snap.commitOverwrite("customer", Merge.replace(current, source, Seq("c_custkey")))
    fix.foreach { case (k, b) => corrections(k) = b }
  }

  private def expected(aggs: Map[Int, Map[Seq[String], (BigDecimal, Long)]]) =
    (0 to applied).flatMap(aggs.getOrElse(_, Map.empty).toSeq)
      .groupBy(_._1).map { case (k, vs) =>
        k -> (vs.map(_._2._1).sum, vs.map(_._2._2).sum) }

  private def mvRead(op: String, q: DataFrame => DataFrame,
      aggs: Map[Int, Map[Seq[String], (BigDecimal, Long)]], keys: Int): Unit =
    read(op) {
      val df = tr.span("build", "queries")(q(snap.readLatest("orders")))
      mvEligible += 1
      if (tr.span("plan", "plans")(scansMv(df, op))) mvHits += 1
      val rows = tr.span("exec", "spark")(df.collect())
      val got = rows.map(x => (0 until keys).map(x.getString).toSeq ->
        (BigDecimal(x.getDecimal(keys)), x.getLong(keys + 1))).toMap
      Check.equal(got, expected(aggs), s"$op after round $applied")
    }

  /** Whether the optimized plan of `df` reads MV `name`'s storage, i.e.
    * the rewrite answered it from the MV. */
  private def scansMv(df: DataFrame, name: String): Boolean = {
    val storage = Paths.get(s"$root/mv/$name").toUri.getPath.stripSuffix("/")
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == storage)
        case _ => false
      }
      case _ => false
    }
  }

  private def read(op: String)(body: => Unit): Unit =
    ctx.rec.attempt(op, "read")(tr.span(op, "op", tr.newOp())(body))

  private def runRead(op: String, i: Int): Unit = op match {
    case "mv_status" => mvRead(op, statusQuery, statusAgg, StatusKeys.size)
    case "mv_segment" => mvRead(op, segmentQuery, segmentAgg, SegmentKeys.size)
    case "time_travel" => read(op) {
      val v = Deck.draw(ctx.seed, 11, i, versions.size)
      val d = tr.span("exec", "spark")(Digest.of(snap.read("orders", v)))
      Check.equal(d, versions(v), s"orders as of version $v")
    }
    case "read_delta" => read(op) {
      val vs = appended.keys.toIndexedSeq
      val v = vs(Deck.draw(ctx.seed, 13, i, vs.size))
      val d = tr.span("exec", "spark")(Digest.of(snap.readDelta("orders", v)))
      Check.equal(d, roundDigest(appended(v)), s"delta of version $v")
    }
    case "stream_answer" => read(op) {
      val n = tr.span("exec", "spark")(
        spark.table(StreamTable).agg(sum("n")).head().getLong(0))
      Check.equal(n, (0 to applied).map(roundEvents.getOrElse(_, 0L)).sum,
        s"events counted by the stream after round $applied")
    }
  }

  def warmup(): Unit = {
    round(applied + 1)
    Reads.zipWithIndex.foreach { case (op, i) => runRead(op, -1 - i) }
  }

  def cycle(i: Int): Unit = {
    round(applied + 1)
    Deck.cycle(Reads.toIndexedSeq, ctx.seed, i).zipWithIndex
      .foreach { case (op, j) => runRead(op, i * Reads.size + j) }
  }

  /** Untimed end-of-run checks: each MV equals its full recompute from
    * the latest snapshot, the latest orders version equals base plus its
    * deltas, the customer table equals base plus the last correction per
    * key, the stream equals the batch aggregate of every landed event,
    * and no delta violated a constraint. */
  override def finish(): Unit = {
    mat.deregisterAll() // recomputes must not be answered from the MVs
    def same(what: String, got: DataFrame, want: DataFrame): Unit = {
      val (g, w) = (Digest.of(got), Digest.of(want))
      if (g != w) ctx.problems += s"$what: $g != $w"
    }
    val latest = snap.readLatest("orders")
    same("mv_status vs recompute", mat.table("mv_status"), statusQuery(latest))
    same("mv_segment vs recompute", mat.table("mv_segment"), segmentQuery(latest))
    if (Digest.of(latest) != versions.last)
      ctx.problems += "latest orders version differs from base plus deltas"
    import spark.implicits._
    val fix = corrections.toSeq.toDF("c_custkey", "new_bal")
    val want = customerBase.join(fix, Seq("c_custkey"), "left_anti")
      .unionByName(customerBase.join(fix, "c_custkey")
        .withColumn("c_acctbal", col("new_bal"))
        .select(customerBase.columns.toIndexedSeq.map(col): _*))
    same("customer vs base plus corrections", snap.readLatest("customer"), want)
    val landed = spark.read.parquet(s"$staged/events")
      .filter(col("slice") <= applied).drop("slice")
    same("stream vs batch aggregate", spark.table(StreamTable),
      StreamingOps.tumblingAgg(landed))
    if (violations != 0) ctx.problems += s"$violations constraint violations"
    query.stop()
  }

  override def layerMetrics(timed: Seq[Int]): Map[String, Double] = {
    val in = timed.toSet
    val sp = tr.spans.filter(s => in(s.id))
    def sum(name: String) = sp.filter(_.name == name).map(_.seconds).sum
    val live = Seq(s"$root/snap", s"$root/mv").map(p => treeBytes(Paths.get(p))).sum
    val deltaBytes = (1 to applied).map(roundBytes.getOrElse(_, 0L)).sum
    val roundIds = sp.filter(_.name == "round").map(_.id)
    val writeBytes = tr.total(roundIds.flatMap(tr.subtree).toSeq)(_.outputBytes.get)
    Map(
      "matview.commit_s" -> sum("commit"),
      "matview.refresh_s" -> sum("refresh"),
      "matview.upsert_s" -> sum("upsert"),
      "matview.compact_s" -> sum("compact"),
      "matview.bytes_written_mb" -> writeBytes / 1e6,
      "matview.files_live" -> Seq(s"$root/snap", s"$root/mv")
        .map(p => treeFiles(Paths.get(p))).sum.toDouble,
      "matview.mv_read_s" -> (sum("mv_status") + sum("mv_segment")),
      "matview.snapshot_read_s" -> (sum("time_travel") + sum("read_delta")),
      "matview.rewrite_hit_ratio" ->
        (if (mvEligible == 0) 0.0 else mvHits.toDouble / mvEligible),
      "matview.write_amp" -> (if (deltaBytes == 0) 0.0 else live.toDouble / deltaBytes),
      "ingest.validate_s" -> sum("validate"),
      "ingest.violations" -> violations.toDouble,
      "streaming.advance_s" -> sum("stream"),
      "streaming.microbatches" -> tr.microbatches.toDouble,
      "streaming.state_rows" -> tr.stateRows.toDouble)
  }
}

object MartRefresh {
  val Rounds = 24
  /** Hash buckets the orders are staged in; 70 % form the base. */
  val Buckets = 240
  val CompactEvery = 2
  val BaseShare = 0.7
  val StatusKeys = Seq("o_orderstatus", "o_orderpriority")
  val SegmentKeys = Seq("c_mktsegment")
  val StreamTable = "perfbench_stream"
  val Reads: Seq[String] =
    Seq("mv_status", "mv_segment", "time_travel", "read_delta", "stream_answer")

  def del(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally w.close()
  }

  private def regularFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }

  def treeBytes(p: Path): Long = regularFiles(p).map(Files.size).sum

  def treeFiles(p: Path): Int =
    regularFiles(p).count(_.getFileName.toString.endsWith(".parquet"))
}
