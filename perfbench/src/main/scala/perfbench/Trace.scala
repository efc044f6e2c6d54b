package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work counters of one span, filled from the listener buses. */
final class Counters {
  val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead,
    spill, inputBytes, inputRows, outputBytes = new AtomicLong
  /** Final adaptive-plan operator counts of the SQL executions. */
  val ops = new ConcurrentHashMap[String, AtomicLong]()

  def op(name: String): Long = Option(ops.get(name)).map(_.get).getOrElse(0L)
}

final case class Span(id: Int, name: String, layer: String, parent: Int,
    opId: Int, start: Long, var end: Long = -1L, var ok: Boolean = true) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder plus the Spark and streaming listeners
  * whose counters it attributes to spans. Spans nest (op -> build / plan /
  * exec, round -> validate / commit / ...); Spark work is attributed to
  * the innermost span open on the driver thread when its job started,
  * carried as a local property so the listener bus's lag cannot misplace
  * it. When disabled, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, enabledAtStart: Boolean) {
  /** While paused, spans only run their bodies. */
  @volatile var paused = false
  def enabled: Boolean = enabledAtStart && !paused
  private val Prop = "perfbench.span"
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private val open = scala.collection.mutable.Stack.empty[Span]
  private var nextOp = 0
  val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  /** Span that stream micro-batches run under (they start on the
    * stream's own thread, which never sees the driver's local property). */
  @volatile var streamSpan: Int = -1
  /** Wall intervals of Spark jobs, for the union "some job running" time. */
  val jobIntervals = new ConcurrentHashMap[Int, Array[Long]]()
  @volatile var microbatches = 0L
  @volatile var stateRows = 0L

  def newOp(): Int = { nextOp += 1; nextOp }

  /** Id of the innermost open span, or -1. */
  def current: Int = open.headOption.map(_.id).getOrElse(-1)

  def span[A](name: String, layer: String, opId: Int = 0)(f: => A): A =
    if (!enabled) f
    else {
      val parent = open.headOption
      val s = Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1),
        if (opId != 0) opId else parent.map(_.opId).getOrElse(0),
        System.nanoTime())
      spans += s
      open.push(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      catch { case e: Throwable => s.ok = false; throw e }
      finally {
        s.end = System.nanoTime()
        open.pop()
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
      }
    }

  def countersOf(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private def addOps(id: Int, plan: SparkPlanInfo): Unit = {
    val c = countersOf(id)
    Tracer.operatorCounts(plan).foreach { case (k, n) =>
      c.ops.computeIfAbsent(k, _ => new AtomicLong).addAndGet(n)
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    if (props == null || props.getProperty("sql.streaming.queryId") != null) streamSpan
    else Option(props.getProperty(Prop)).map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      jobIntervals.put(e.jobId, Array(e.time, -1L))
      if (id >= 0) {
        countersOf(id).jobs.incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, id))
        Option(e.properties).flatMap(p => Option(p.getProperty(
          org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)))
          .foreach(x => execSpan.putIfAbsent(x.toLong, id))
      }
    }
    /** Final adaptive-plan operator counts of every SQL execution (Dataset
      * actions and [[Digest.of]] alike): the plan of the last adaptive
      * update before the execution's end event. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
      case end: SparkListenerSQLExecutionEnd =>
        Option(plans.remove(end.executionId)).foreach { plan =>
          Option(execSpan.get(end.executionId)).foreach(id => addOps(id, plan))
        }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobIntervals.get(e.jobId)).foreach(_(1) = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId))
        .foreach(id => countersOf(id).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = countersOf(id)
        c.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.spill.addAndGet(m.diskBytesSpilled)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.inputRows.addAndGet(m.inputMetrics.recordsRead)
          c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      microbatches += 1
      stateRows = e.progress.stateOperators.map(_.numRowsTotal).sum
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (enabledAtStart) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = if (enabledAtStart) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every started job has ended and the task counts have
    * stopped moving — the listener bus is asynchronous. */
  def drain(): Unit = if (enabledAtStart) {
    def tasks = counters.values().asScala.map(_.tasks.get).sum
    val deadline = System.nanoTime() + 10e9.toLong
    var last = -1L
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = tasks
      settled = now == last && jobIntervals.values().asScala.forall(_(1) >= 0)
      last = now
    }
  }

  /** Span ids of `root` and everything under it. */
  def subtree(root: Int): Seq[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id)).toSeq
    walk(root)
  }

  /** Sum of a counter over spans. */
  def total(ids: Seq[Int])(f: Counters => Long): Long =
    ids.flatMap(i => Option(counters.get(i))).map(f).sum

  def totalOp(ids: Seq[Int], op: String): Long =
    ids.flatMap(i => Option(counters.get(i))).map(_.op(op)).sum

  /** Wall seconds within [from, to] during which some Spark job ran. */
  def jobBusySeconds(fromMs: Long, toMs: Long): Double = {
    val iv = jobIntervals.values().asScala.map(a => (math.max(a(0), fromMs),
      math.min(if (a(1) < 0) toMs else a(1), toMs))).filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy / 1e3
  }

  def toJson: String = spans.map { s =>
    val c = Option(counters.get(s.id))
    val counts = c.map(x => s""","jobs":${x.jobs.get},"stages":${x.stages.get},"tasks":${x.tasks.get},"cpu_ms":${x.cpuNs.get / 1000000},"shuffle_write":${x.shuffleWrite.get},"shuffle_read":${x.shuffleRead.get},"spill":${x.spill.get},"input_bytes":${x.inputBytes.get},"output_bytes":${x.outputBytes.get}""").getOrElse("")
    s"""{"id":${s.id},"name":"${Json.esc(s.name)}","layer":"${s.layer}","parent":${s.parent},"op":${s.opId},"start_ns":${s.start},"end_ns":${s.end},"ok":${s.ok}$counts}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val Operators: Seq[String] = Seq("exchange", "sort", "smj", "shj", "bhj",
    "bnlj", "hash_agg", "sort_agg", "window")

  /** Operator counts of a plan, by node name, through adaptive plans,
    * query stages and subqueries (all children of a SparkPlanInfo). */
  def operatorCounts(plan: SparkPlanInfo): Map[String, Long] = {
    val names = Map(
      "Exchange" -> "exchange", "Sort" -> "sort", "SortMergeJoin" -> "smj",
      "ShuffledHashJoin" -> "shj", "BroadcastHashJoin" -> "bhj",
      "BroadcastNestedLoopJoin" -> "bnlj", "HashAggregate" -> "hash_agg",
      "ObjectHashAggregate" -> "hash_agg", "SortAggregate" -> "sort_agg",
      "Window" -> "window")
    def walk(p: SparkPlanInfo): Seq[String] =
      names.get(p.nodeName).toSeq ++ p.children.flatMap(walk)
    walk(plan).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
