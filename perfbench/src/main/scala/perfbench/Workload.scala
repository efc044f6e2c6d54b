package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload shares: the session, the seeded inputs, the
  * tracer, the failure recorder and the pinned output digests. */
final case class Ctx(spark: SparkSession, seed: Long, data: String,
    dataset: String, work: String, fixtures: String, tracer: Tracer,
    pins: Pins) {
  val rec = new Recorder
  /** Check failures outside the op loop (set-up and end-of-run checks). */
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]
}

/** A closed-loop workload with one client. The harness calls [[prepare]]
  * once, then [[setup]]
  * several times (each from scratch), then [[warmup]] once — which runs
  * and checks every op — then [[cycle]] until the run's time is spent,
  * then [[finish]] for the untimed end-of-run checks. */
trait Workload {
  def name: String
  /** Stage the seeded inputs (untimed, once per run). */
  def prepare(): Unit = ()
  def setup(rep: Int): Unit
  def warmup(): Unit
  def cycle(i: Int): Unit
  def finish(): Unit = ()
  /** Per-layer metrics this workload adds to the shared ones. */
  def layerMetrics(timed: Seq[Int]): Map[String, Double] = Map.empty
  /** Timed cycles the staged inputs can feed. */
  def maxCycles: Int = Int.MaxValue
  /** Cycles differ in a period of this many (a timed phase runs whole
    * periods), so that the cycle mix does not change with the count. */
  def cycleGroup: Int = 1
  /** Op names whose median latency is reported per op. */
  def opNames: Seq[String] = Nil
}

object Workload {

  /** Run one query op the way a user would see it: build the DataFrame
    * (eager key work happens here), plan it, execute it and digest its
    * output, then compare the digest with the pinned one. */
  def queryOp(ctx: Ctx, workload: String, op: String,
      dataset: Option[String] = None)(build: => DataFrame): Unit = {
    val tr = ctx.tracer
    ctx.rec.attempt(op, "read") {
      tr.span(op, "op", tr.newOp()) {
        val df = tr.span("build", "queries")(build)
        tr.span("plan", "plans")(df.queryExecution.executedPlan)
        val d = tr.span("exec", "spark")(Digest.of(df))
        dataset match {
          case Some(ds) => ctx.pins.check(workload, op, d, ds)
          case None => ctx.pins.check(workload, op, d)
        }
      }
    }
  }
}
