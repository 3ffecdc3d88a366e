package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}
import graft.pipeline.{CopyJob, Publish}
import graft.pipeline.CopyJob._
import graft.sources.Tables

/** `copy_full`: back-to-back full copy jobs with JobConfig defaults
  * (ViewSwitch publish, keepVersions = 2, tableParallelism = 1) over the
  * ten corpus tables plus one A3 query table and one A2 projection. It is
  * the product's main path: staging and publish write every byte, and the
  * retention GC runs from the third job on. The seed orders the tables. */
object CopyFull extends Workload {
  val tables: Seq[String] = Tables.names.map(n => s"sf0.01/$n.parquet")

  /** Two untimed warm-up jobs run first, so the JIT has compiled the
    * copy path and the retention GC deletes a version in every timed job.
    * With one, the JIT still compiles during the timed job, and its CPU
    * seconds spread twice as wide across runs. */
  private val WarmupJobs = 2
  private val MinJobs = 1

  private val A3 = FromSpec("orders_by_priority", query = Some(
    """SELECT o_orderpriority, o_orderstatus, count(*) AS lines,
      |  count(DISTINCT o_orderkey) AS orders,
      |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority, o_orderstatus""".stripMargin))
  private val A2 = FromSpec("lineitem",
    columns = Some(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_shipdate")))

  def specs(seed: Long): Seq[TableSpec] = {
    val all = Tables.names.map(n => TableSpec(n, FromSpec(n), n)) ++ Seq(
      TableSpec("a3", A3, "orders_by_priority"),
      TableSpec("a2", A2, "lineitem_slim"))
    new scala.util.Random(seed).shuffle(all)
  }

  def config(ctx: Ctx, root: String): JobConfig =
    JobConfig(specs(ctx.seed), ctx.corpus, ctx.dir(s"$root/staging"),
      ctx.dir(s"$root/target"), ctx.dir(s"$root/state"))

  /** Set-up: resolve every source's schema (the A1-A3 scan surface). */
  def prepare(ctx: Ctx, rep: Int): Unit = {
    val cfg = config(ctx, "untraced")
    cfg.tables.foreach(t => resolveSource(ctx.spark, cfg, t.from).schema)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val cfg = config(ctx, "untraced")
    var jobsRun = 0
    def job(): Double = {
      val t0 = System.nanoTime()
      ctx.op("CopyJob.run")(CopyJob.run(spark, cfg))(_ == Copied)
      jobsRun += 1
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: the same tables, four at a time, so the cold first job
    // costs less of the run
    (1 to WarmupJobs).foreach { _ =>
      ctx.op("CopyJob.run warm-up")(CopyJob.run(spark, cfg.copy(tableParallelism = 4)))(_ == Copied)
      jobsRun += 1
    }

    val walls = Seq.newBuilder[Double]
    val cpus = Seq.newBuilder[Double]
    val start = System.nanoTime()
    if (!ctx.traced) {
      var n = 0
      while (n < MinJobs || !ctx.deadlinePassed(start)) {
        val c0 = Main.processCpuS()
        walls += job()
        cpus += Main.processCpuS() - c0
        ctx.collectAfterOp()
        n += 1
      }
      val w = walls.result()
      ctx.metrics("op_s.p50") = (Stats.median(w), "s")
      ctx.metrics("cpu_s.p50") = (Stats.median(cpus.result()), "s")
      ctx.report("copy_job_s") = Report.samples(w)
    } else traced(ctx, cfg, job _)

    checkPublished(ctx, cfg, jobsRun)
    ctx.report("stored_bytes_ratio") = Json.num(storedBytesRatio(ctx, cfg))
  }

  /** Traced run: an untraced job, then a traced replay on its own roots,
    * compared with it (the replay's GC has nothing to delete, the job's
    * has one version); then the incremental segment, which gives the
    * Watermark and JDBC sink layers their metrics. */
  private def traced(ctx: Ctx, cfg: JobConfig, job: () => Double): Unit = {
    val spark = ctx.spark
    val replayCfg = config(ctx, "traced")
    val tr = new Tracer(spark.sparkContext)
    val runS = job()
    ctx.collectAfterOp()
    tr.attach()
    val t0 = System.nanoTime()
    ctx.op("replayed CopyJob.run")(Replay.run(spark, tr, replayCfg))(_ == Copied)
    val replayS = (System.nanoTime() - t0) / 1e9
    tr.detach()
    ctx.collectAfterOp()
    checkPublished(ctx, replayCfg, 1)

    val all = tr.all
    val ops = all.groupBy(_.op).values.toSeq
    val phaseS = ops.map(op => Replay.phases(op).map(_.wallS).sum)
    val m = Layers.spanMetrics(Layers.PipelineSpans, ops, all) ++ Map(
      "publish.stored_bytes_ratio" -> storedBytesRatio(ctx, cfg),
      "copyjob.unattributed_s" -> (runS - Stats.median(phaseS)),
      "trace.overhead_s" -> (replayS - runS))
    Report.trace(ctx, "trace", all, m("copyjob.unattributed_s"), m("trace.overhead_s"),
      Layers.PipelineSpans.map(_._1))
    Layers.emit(ctx, m ++ Incremental.traced(ctx))
  }

  /** Every table's published snapshot equals its source, exactly
    * `keepVersions` versions remain (fewer before the GC has run), and
    * CURRENT names the newest. */
  private def checkPublished(ctx: Ctx, cfg: JobConfig, jobs: Int): Unit = {
    val spark = ctx.spark
    val expected = ctx.expected.path("copy_full")
    val observed = cfg.tables.map { t =>
      val versions = Publish.listVersions(cfg.targetRoot, t.to)
      ctx.check(s"${t.to}: ${versions.size} versions kept, expected ${math.min(jobs, t.keepVersions)}") {
        versions.size == math.min(jobs, t.keepVersions)
      }
      val current = Publish.currentVersion(cfg.targetRoot, t.to)
      ctx.check(s"${t.to}: CURRENT $current names the newest of $versions") {
        current.contains(versions.max)
      }
      val got = fingerprint(Publish.readCurrent(spark, cfg.targetRoot, t.to))
      val want = expected.path(t.to)
      ctx.check(s"${t.to}: snapshot (rows, hash) $got equals the recorded source $want") {
        want.size == 2 && got == ((want.get(0).asLong, BigDecimal(want.get(1).asText)))
      }
      t.to -> Json.arr(Seq(got._1.toString, Json.str(got._2.toString)))
    }
    ctx.report("observed_snapshots") = Json.obj(observed)
  }

  /** The expected snapshot fingerprints, computed from the sources
    * independently of CopyJob; `perfbench.Record` writes them into
    * expected.json. */
  def sourceFingerprints(spark: SparkSession, corpus: String): Seq[(String, (Long, BigDecimal))] = {
    Tables.names.foreach(n => Tables(spark, corpus, n).createOrReplaceTempView(n))
    specs(0).sortBy(_.to).map { t =>
      val df = t.from.query match {
        case Some(q) => spark.sql(q)
        case None =>
          val d = Tables(spark, corpus, t.from.name)
          t.from.columns.fold(d)(cs => d.select(cs.map(col): _*))
      }
      t.to -> fingerprint(trimmed(df))
    }
  }

  /** autoTrim is on by default: string columns are published trimmed. */
  private def trimmed(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == StringType) trim(col(f.name)).as(f.name) else col(f.name)
    }: _*)

  /** Row count and an order-independent content hash. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Bytes under the target root ÷ bytes of the source files the specs
    * read (A3 reads lineitem and orders). */
  private def storedBytesRatio(ctx: Ctx, cfg: JobConfig): Double = {
    def file(n: String) = Paths.get(cfg.sourceDir, s"$n.parquet")
    val sourceBytes = cfg.tables.map { t =>
      val read = if (t.from.query.isDefined) Seq("lineitem", "orders") else Seq(t.from.name)
      read.map(n => Main.bytesUnder(file(n))).sum
    }.sum
    Main.bytesUnder(Paths.get(cfg.targetRoot)).toDouble / sourceBytes
  }
}
