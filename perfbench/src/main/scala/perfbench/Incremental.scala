package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.{DriverManager, Timestamp}
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{CopyJob, Watermark}
import graft.pipeline.CopyJob._
import graft.sources.Tables

/** The incremental path, measured in copy_full's traced run: a
  * watermark-triggered job over the benchmark's own copy of `events`,
  * loading embedded Derby through the graft-jdbc writer. After each
  * consumer's first copy, every cycle runs no-change jobs (each must return
  * NoNewData), appends a seeded batch, and runs once more (must return
  * Copied). An untraced consumer runs CopyJob.run and a traced one replays
  * it (on its own roots and Derby table), so the segment gives Watermark
  * and the JDBC row sink their per-layer metrics and reports the untraced
  * poll and copy seconds. It is not a timed workload of its own: a
  * separate workload would pay a JVM, three set-ups and a warm-up in every
  * one of its runs, which the benchmark's run budget does not hold.
  *
  * Each new batch replaces the previous one, so every copy moves the same
  * number of rows however many cycles run. */
object Incremental {
  val table: String = "sf0.01/events.parquet"

  /** The spans only this segment reaches; the copy spans it shares with
    * copy_full are taken from copy_full's own replay. */
  val IncrementalSpans: Set[String] = Set("watermark.poll", "watermark.state", "sinks.jdbc_load")

  private val PollsPerCycle = 4
  /** the first cycle warms the poll and copy paths and is not reported */
  private val Cycles = 3
  /** batch size as a share of the base table */
  private val BatchShare = 20

  private final case class Base(rows: Long, maxId: Long, maxTs: LocalDateTime,
      maxUser: Long, types: Seq[String])

  private val Ddl = "(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
    "event_type VARCHAR(32), value DOUBLE, props VARCHAR(256))"

  /** The source copy, the Derby database and the base table's shape. */
  private final class Env(ctx: Ctx) {
    val srcDir: Path = Paths.get(ctx.dir("incremental/source"))
    Files.copy(ctx.dataDir.resolve(table),
      Files.createDirectories(srcDir.resolve("events.parquet")).resolve("part-00000-base.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val url = "jdbc:derby:memory:perfbench;create=true"
    Seq("EVENTS", "EVENTS_TRACED").foreach(t => jdbc(_.executeUpdate(s"CREATE TABLE $t $Ddl")))
    val base: Base = {
      val r = Tables(ctx.spark, srcDir.toString, "events")
        .agg(count(lit(1)), max("event_id"), max("ts"), max("user_id"),
          sort_array(collect_set("event_type"))).head()
      Base(r.getLong(0), r.getLong(1), r.getAs[LocalDateTime](2), r.getLong(3),
        r.getSeq[String](4))
    }

    def jdbc[A](f: java.sql.Statement => A): A = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try f(st) finally st.close()
      } finally c.close()
    }

    def config(consumer: String, table: String): JobConfig =
      JobConfig(
        Seq(TableSpec("events", FromSpec("events"), table, publishMode = JdbcLoad(url))),
        srcDir.toString, ctx.dir(s"incremental/$consumer/staging"),
        ctx.dir(s"incremental/$consumer/target"), ctx.dir(s"incremental/$consumer/state"),
        trigger = Some(TriggerSpec("events", "ts")))
  }

  /** One consumer of the source: the untraced CopyJob.run, or the traced
    * replay. Tracks what its next job must return. */
  private final class Consumer(ctx: Ctx, env: Env, val cfg: JobConfig,
      runJob: JobConfig => JobResult) {
    var expectedRows: Long = env.base.rows
    var expectedMax: LocalDateTime = env.base.maxTs
    var changed = true // the first run always copies (no state yet)
    var copies = 0
    var usefulCopies = 0

    def job(): Double = {
      val want = if (changed) Copied else NoNewData
      val t0 = System.nanoTime()
      val r = ctx.op(s"CopyJob.run on ${cfg.tables.head.to}")(runJob(cfg))(_ == want)
        .getOrElse(Failed("threw"))
      val dt = (System.nanoTime() - t0) / 1e9
      if (r == Copied) {
        copies += 1
        if (changed) usefulCopies += 1
        checkCopy()
      }
      changed = false
      dt
    }

    /** Derby holds the source's rows and the state file holds max(ts). */
    private def checkCopy(): Unit = {
      val table = cfg.tables.head.to
      val rows = env.jdbc { st =>
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next()
        rs.getLong(1)
      }
      ctx.check(s"$table holds $rows rows, source has $expectedRows")(rows == expectedRows)
      val state = Watermark.readState(Replay.statePath(cfg))
      ctx.check(s"state $state holds max(ts) $expectedMax") {
        state.exists(_.value == Watermark.TimestampV(Timestamp.valueOf(expectedMax)))
      }
    }
  }

  /** Run the segment; returns its per-layer metrics (the Watermark and
    * sink spans, and the useful-copy ratio). */
  def traced(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val env = new Env(ctx)
    val t = new Tracer(spark.sparkContext)
    val plain = new Consumer(ctx, env, env.config("untraced", "EVENTS"), CopyJob.run(spark, _))
    val replay = new Consumer(ctx, env, env.config("traced", "EVENTS_TRACED"), c => {
      t.attach()
      try Replay.run(spark, t, c) finally t.detach()
    })
    val consumers = Seq(plain, replay)
    consumers.foreach(_.job())

    /** Per consumer: its poll seconds and its copy seconds. */
    val cycles = (0 until Cycles).map { n =>
      val pollS = consumers.map(c => (1 to PollsPerCycle).map(_ => c.job()))
      appendBatch(ctx, env, n, consumers)
      val copyS = consumers.map(_.job())
      (pollS, copyS)
    }.drop(1)
    def samples(i: Int) = (cycles.flatMap(_._1(i)), cycles.map(_._2(i)))
    val (plainPolls, plainCopies) = samples(0)
    val (_, replayCopies) = samples(1)
    val cycleS = (i: Int) => cycles.map(c => c._1(i).sum + c._2(i))

    val all = t.all
    val ops = all.groupBy(_.op).values.toSeq
    val copyOps = ops.filter(_.exists(_.name == "staging.stage"))
    val phaseS = copyOps.map(op => Replay.phases(op).map(_.wallS).sum)
    val unattributed = Stats.median(plainCopies) - Stats.median(phaseS)
    val overhead = Stats.median(cycleS(1)) - Stats.median(cycleS(0))
    ctx.report("incremental") = Json.obj(Seq(
      "poll_s" -> Report.samples(plainPolls),
      "incremental_copy_s" -> Report.samples(plainCopies),
      "cycle_s" -> Report.samples(cycleS(0)),
      "replayed_copy_s" -> Report.samples(replayCopies)))
    Report.trace(ctx, "trace_incremental", all, unattributed, overhead,
      Layers.PipelineSpans.map(_._1))

    val useful = consumers.map(_.usefulCopies).sum.toDouble / consumers.map(_.copies).sum
    Layers.spanMetrics(Layers.PipelineSpans.filter(s => IncrementalSpans(s._1)), ops, all) +
      ("watermark.useful_copy_ratio" -> useful)
  }

  /** Replace the previous batch with a new seeded one whose timestamps
    * all lie beyond the current watermark. The new file must keep the base
    * file's physical `ts` type. */
  private def appendBatch(ctx: Ctx, env: Env, cycle: Int, consumers: Seq[Consumer]): Unit = {
    val spark = ctx.spark
    import env.{base, srcDir}
    val rnd = new scala.util.Random(ctx.seed * 1000003L + cycle)
    val n = (base.rows / BatchShare).toInt
    val prevMax = consumers.head.expectedMax
    var ts = prevMax
    val rows = (0 until n).map { j =>
      ts = ts.plusSeconds(1 + rnd.nextInt(120)).plusNanos(rnd.nextInt(1000000) * 1000L)
      Row(base.maxId + 1 + cycle.toLong * n + j, ts, rnd.nextLong(base.maxUser + 1),
        base.types(rnd.nextInt(base.types.size)), math.rint(rnd.nextDouble() * 10000) / 100,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val tmp = srcDir.resolve(s"batch-$cycle")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    val events = srcDir.resolve("events.parquet")
    Files.list(events).iterator.asScala.filter(_.getFileName.toString.startsWith("part-batch"))
      .foreach(Files.delete)
    val dest = events.resolve(s"part-batch-$cycle.parquet")
    Files.move(part, dest)
    graft.pipeline.Staging.cleanup(tmp.toString)
    ctx.check(s"appended file keeps the physical ts type ${tsType(events.resolve("part-00000-base.parquet"))}") {
      tsType(dest) == tsType(events.resolve("part-00000-base.parquet"))
    }
    consumers.foreach { c =>
      c.expectedRows = base.rows + n
      c.expectedMax = ts
      c.changed = true
    }
  }

  private def tsType(file: Path): String = {
    val schema = Main.footer(file).getFileMetaData.getSchema
    val t = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
    s"${t.getPrimitiveTypeName} ${t.getLogicalTypeAnnotation}"
  }
}
