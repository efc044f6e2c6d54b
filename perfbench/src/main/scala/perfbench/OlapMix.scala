package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkEntry
import graft.bookorders.BookOrdersMart
import graft.functions.SqlFunctions
import graft.queries.BookOrdersKeys

/** olap_mix: the reference-shaped star-schema reads. Registered keys run
  * on the generated sf0.1 tables; the reference's own Q4a/Q4b run in
  * their raw and view formulations over the Book Orders mart that set-up
  * builds. At this size a read's latency is driver-side key construction,
  * planning and per-job overhead, not task work. Two curation steps ride
  * along — the `ext/` MinHash-LSH dedup key, and a kernel step that calls
  * the engine's native SQL functions over the whole generated corpus — so
  * the LLM-data layers are measured too (`op.dedup_minhash_lsh.p50_s` and
  * the per-layer `functions.*` metrics). */
final class OlapMix(ctx: Ctx) extends Workload {
  val name = "olap_mix"

  private val entries = SparkEntry.queries
  private var mart: BookOrdersMart = _

  /** The reference's own reads: Q4a raw (the 5-way join recomputed
    * inline) and Q4b over View3, the two ends of raw > mart > view. */
  private val martQueries: Seq[(String, BookOrdersMart => DataFrame)] = Seq(
    "bo_q4a_raw" -> (_.q4aRaw),
    "bo_q4b_view3" -> (_.q4bView3))

  private val pool: IndexedSeq[String] = (OlapMix.RegisteredKeys ++
    martQueries.map(_._1) :+ OlapMix.Kernel).toIndexedSeq
  override def opNames: Seq[String] = pool

  /** Ingest the Book Orders dump and build the MVs the pool reads (the
    * time dimension, the sales fact and View3), checking each against its
    * assignment-5.md row count. */
  def setup(rep: Int): Unit = ctx.tracer.span("bookorders.build", "bookorders") {
    registerKernels()
    mart = new BookOrdersMart(ctx.spark, ctx.fixtures, s"${ctx.work}/bookorders$rep")
    val built = Seq("time" -> mart.time, "sales" -> mart.sales,
      "View3" -> mart.view3)
      .map { case (n, df) => n -> df.count() }
    val golden = BookOrdersKeys.goldenCounts.toMap
    built.foreach { case (n, c) =>
      if (golden(n) != c) ctx.problems += s"Book Orders MV $n has $c rows, want ${golden(n)}"
    }
  }

  /** Register the four kernels the kernel step calls — only those, not
    * the planner rules of GraftExtensions, so every key plans as it does
    * under Verify. */
  private def registerKernels(): Unit = {
    val registry = ctx.spark.sessionState.functionRegistry
    SqlFunctions.all.foreach { case (id, info, builder) =>
      if (OlapMix.KernelSql.exists(k => s"graft_${k._1}" == id.funcName))
        registry.registerFunction(id, info, builder)
    }
    Seq("documents", "embeddings").foreach { t =>
      ctx.spark.read.parquet(s"${ctx.data}/$t.parquet").createOrReplaceTempView(s"pb_$t")
    }
    OlapMix.KernelSql.foreach { case (k, _) =>
      if (!registry.functionExists(FunctionIdentifier(s"graft_$k")))
        ctx.problems += s"graft_$k failed to register"
    }
  }

  /** The kernel step: each native function over the whole corpus, timed
    * as its own span and checked against its own pin. */
  private def kernel(): Unit = {
    val tr = ctx.tracer
    ctx.rec.attempt(OlapMix.Kernel, "read") {
      tr.span(OlapMix.Kernel, "op", tr.newOp()) {
        OlapMix.KernelSql.foreach { case (fn, sql) =>
          val d = tr.span(s"fn.$fn", "functions") {
            val df = ctx.spark.sql(sql)
            df.queryExecution.executedPlan
            Digest.of(df)
          }
          ctx.pins.check(name, s"${OlapMix.Kernel}.$fn", d)
        }
      }
    }
  }

  private def run(op: String): Unit = martQueries.find(_._1 == op) match {
    case Some((_, q)) =>
      Workload.queryOp(ctx, name, op, Some("bookorders"))(q(mart))
    case None if op == OlapMix.Kernel => kernel()
    case None =>
      Workload.queryOp(ctx, name, op)(entries(op)(ctx.spark, ctx.data))
  }

  def warmup(): Unit = {
    pool.foreach(run)
    goldens()
  }

  def cycle(i: Int): Unit = Deck.cycle(pool, ctx.seed, i).foreach(run)

  /** The published result sets of assignment-5.md that GoldenSpec
    * asserts: Q4a's top five with customer 1 first, and Q4b's top country
    * New Zealand. */
  private def goldens(): Unit = {
    val q4a = mart.q4aRaw.collect().toSeq
    if (q4a.size != 5 || q4a.head.getAs[Int]("customer_id") != 1)
      ctx.problems += s"Q4a top five differ from the golden: $q4a"
    val q4b = mart.q4bView3.collect().toSeq
    if (q4b.map(_.getAs[String]("country")) != Seq("New Zealand"))
      ctx.problems += s"Q4b top country differs from the golden: $q4b"
  }

  override def layerMetrics(timed: Seq[Int]): Map[String, Double] = {
    val tr = ctx.tracer
    val in = timed.toSet
    val builds = tr.spans.filter(_.name == "bookorders.build")
    val functions = OlapMix.KernelSql.map { case (fn, _) =>
      s"functions.${fn}_s" -> tr.spans
        .filter(s => in(s.id) && s.name == s"fn.$fn").map(_.seconds).sum
    }
    if (builds.isEmpty) functions.toMap
    else functions.toMap ++ Map(
      "bookorders.build_s" -> Stats.median(builds.map(_.seconds).toSeq),
      "bookorders.stages" ->
        tr.total(tr.subtree(builds.last.id))(_.stages.get).toDouble)
  }
}

object OlapMix {
  /** Registered keys of the pool: the reference's star-schema shapes
    * (the 5-way natural join, a rank window), the keys whose plans this
    * repo rewrites (functional-dependency grouping and the range join),
    * and one curation key of `ext/` (MinHash-LSH near-duplicate search
    * over the documents). */
  val RegisteredKeys: Seq[String] = Seq(
    "join_natural_5way", "window_rank", "agg_group_fd", "join_range_auto",
    "dedup_minhash_lsh")

  val Kernel = "kernel_functions"

  /** (function, query) pairs of the kernel step. */
  val KernelSql: Seq[(String, String)] = Seq(
    "word_gram_hashes" ->
      "SELECT doc_id, graft_word_gram_hashes(text, 3) AS h FROM pb_documents",
    "minhash" ->
      """SELECT doc_id, graft_minhash(g, 64) AS sig FROM (
        |  SELECT doc_id, explode(graft_word_gram_hashes(text, 3)) AS g
        |  FROM pb_documents) GROUP BY doc_id""".stripMargin,
    "simhash_sig" ->
      "SELECT doc_id, graft_simhash_sig(text) AS sig FROM pb_documents",
    "vector_dot" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  graft_vector_dot(a.embedding, b.embedding) AS dot
        |FROM pb_embeddings a CROSS JOIN
        |  (SELECT vec_id, embedding FROM pb_embeddings WHERE vec_id < 32) b""".stripMargin)
}
