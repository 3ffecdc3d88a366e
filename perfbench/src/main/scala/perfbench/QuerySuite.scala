package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** `query_suite`: a fixed set of SparkEntry queries, one pass per
  * operation, timed as graft.Bench times them: noop sink, and between
  * queries a cache clear, a GC and an untimed settle. It is the only
  * workload that runs the query modules (ops, text, dedup, sim, mm); the
  * copy workloads never reach them.
  *
  * The whole suite takes minutes at any corpus size on a small machine,
  * so a pass is the named target queries plus one or two queries of every
  * module that has no target, at the corpus's sf0.01. The seed orders them. */
object QuerySuite extends Workload {
  val tables: Seq[String] = Seq("documents", "embeddings", "lineitem", "orders", "part", "events")
    .map(n => s"sf0.01/$n.parquet")

  val Queries: Seq[String] =
    Layers.Targets.map(_._2) ++ Seq("q42_fingerprint", "q182_image_dhash")

  /** graft.Bench's untimed settle after each query. */
  private val SettleMs = 400L

  val moduleOf: Map[String, String] = Seq(
    "ops" -> (graft.ops.Relational.queries.keySet ++ graft.ops.Extended.queries.keySet),
    "text" -> graft.text.TextAnalysis.queries.keySet,
    "dedup" -> graft.dedup.Dedup.queries.keySet,
    "sim" -> graft.sim.Similarity.queries.keySet,
    "mm" -> graft.mm.Multimodal.queries.keySet).flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  def prepare(ctx: Ctx, rep: Int): Unit = {
    val missing = Queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: $missing")
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val order = new scala.util.Random(ctx.seed).shuffle(Queries)
    val expected = ctx.expected.path("query_rows")
    val observed = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    warmup(spark, ctx.corpus)

    /** One pass: per query its seconds (None if it failed). */
    def pass(tracer: Option[Tracer]): Seq[(String, Option[Double])] = order.map { q =>
      val obs = Observation(s"rows_$q")
      def body(): Unit = SparkEntry.queries(q)(spark, ctx.corpus)
        .observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      val ok = ctx.op(q) {
        tracer.fold(body())(_.span(s"${moduleOf(q)}.$q")(body()))
      }(_ => true).isDefined
      val dt = (System.nanoTime() - t0) / 1e9
      if (ok) {
        val rows = Await.result(obs.future, 60.seconds).getLong(0)
        observed(q) = rows
        ctx.check(s"$q returns ${expected.path(q)} rows (as recorded), got $rows") {
          expected.path(q).isIntegralNumber && expected.path(q).asLong == rows
        }
      }
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(SettleMs)
      ctx.collectAfterOp()
      q -> (if (ok) Some(dt) else None)
    }

    val passes = Seq.newBuilder[Seq[(String, Option[Double])]]
    val cpus = Seq.newBuilder[Double]
    def untracedPass(): Unit = {
      val c0 = Main.processCpuS()
      passes += pass(None)
      cpus += Main.processCpuS() - c0
    }
    val tr = if (ctx.traced) Some(new Tracer(spark.sparkContext)) else None
    val tracedPasses = Seq.newBuilder[Seq[(String, Option[Double])]]
    tr match {
      case None =>
        val start = System.nanoTime()
        var n = 0
        while (n < 1 || !ctx.deadlinePassed(start)) { untracedPass(); n += 1 }
      case Some(t) =>
        // untraced, traced, untraced: later passes run warmer, so the
        // traced pass is compared with the mean of the two around it
        untracedPass()
        t.attach()
        t.newOp()
        tracedPasses += pass(Some(t))
        t.detach()
        untracedPass()
    }

    val ps = passes.result()
    def total(p: Seq[(String, Option[Double])]) = p.flatMap(_._2).sum
    ctx.report("query_suite_s") = Report.samples(ps.map(total))
    ctx.report("query_s") = Json.obj(Layers.QueryModules.map { m =>
      m -> Json.num(Stats.median(ps.map(p => p.filter(q => moduleOf(q._1) == m).flatMap(_._2).sum)))
    })
    ctx.report("observed_rows") = Json.obj(observed.toSeq.map { case (q, n) => q -> n.toString })
    ctx.report("queries") = Json.obj(order.map { q =>
      val xs = ps.flatMap(_.find(_._1 == q).flatMap(_._2))
      q -> (if (xs.isEmpty) "null" else Json.num(Stats.median(xs)))
    })
    tr match {
      case None =>
        ctx.metrics("op_s.p50") = (Stats.median(ps.map(total)), "s")
        ctx.metrics("cpu_s.p50") = (Stats.median(cpus.result()), "s")
      case Some(t) =>
        val all = t.all
        val ops = all.groupBy(_.op).values.toSeq
        val inModule: (String, Span) => Boolean = (name, s) =>
          if (name.endsWith(".queries")) s.name.startsWith(name.stripSuffix("queries")) else s.name == name
        val m = Layers.spanMetrics(Layers.QuerySpans, ops, all, inModule) ++ Map(
          "trace.overhead_s" -> (Stats.median(tracedPasses.result().map(total)) -
            ps.map(total).sum / ps.size))
        Layers.emit(ctx, m)
        val querySpans = Layers.QueryModules.flatMap(mod => order.filter(moduleOf(_) == mod)
          .map(q => s"$mod.$q"))
        Report.trace(ctx, "trace", all, 0.0, m("trace.overhead_s"), querySpans)
    }
  }

  /** graft.Bench's warm-up: scan, aggregate, shuffle, broadcast join and
    * sort, and first use of the sketch aggregates on 256 documents. */
  private def warmup(spark: SparkSession, dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand").agg(sum("l_quantity").as("s"))
      .orderBy("p_brand").count()
    spark.read.parquet(s"$dir/documents.parquet").select(xxhash64(col("text"))).count()
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(256)
    graft.dedup.Dedup.simHashNearDups(docs, "text", "doc_id")
      .write.format("noop").mode("overwrite").save()
    graft.dedup.Dedup.minHashSignatures(docs, "text", "doc_id")
      .write.format("noop").mode("overwrite").save()
  }
}
