package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.NullNode
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** What one run shares with its workload: the session, the arguments, and
  * the result being built. */
final class Ctx(val seed: Long, val seconds: Double, val traced: Boolean,
    val dataDir: Path, val workDir: Path, expectedFile: Path, val traceOut: Path) {
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** end-to-end metrics (untraced run) or per-layer metrics (traced run) */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** the workload's own named metrics and self-description, as JSON */
  val report = mutable.LinkedHashMap.empty[String, String]

  def corpus: String = dataDir.resolve("sf0.01").toString

  /** Outputs recorded with the baseline (perfbench/expected.json). */
  lazy val expected: JsonNode =
    if (Files.exists(expectedFile)) new ObjectMapper().readTree(expectedFile.toFile)
    else NullNode.getInstance

  /** One operation the workload attempts; it fails if it throws or if
    * its result is wrong (`ok` false). */
  def op[A](what: String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    try {
      val a = body
      if (!ok(a)) fail(s"$what: wrong result $a")
      Some(a)
    } catch {
      case e: Exception => fail(s"$what: ${e.getClass.getName}: ${e.getMessage}"); None
    }
  }

  /** An output check run outside the timed region. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    try { if (!ok) fail(s"check failed: $what") }
    catch { case e: Exception => fail(s"check failed: $what: $e") }
  }

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Largest live heap seen after an operation: a full collection at a
    * quiet point outside the timed region leaves only what the program
    * still holds. */
  var heapLiveMb = 0.0
  def collectAfterOp(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapLiveMb = math.max(heapLiveMb, used)
  }

  def deadlinePassed(startNs: Long): Boolean = (System.nanoTime() - startNs) / 1e9 >= seconds

  def dir(name: String): String = {
    val p = workDir.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** A workload: `prepare` is its set-up (repeated and timed as setup_s),
  * `run` warms up, measures and checks. */
trait Workload {
  def tables: Seq[String]
  def prepare(ctx: Ctx, rep: Int): Unit
  def run(ctx: Ctx): Unit
}

object Main {
  val Workloads: Map[String, Workload] = Map(
    "copy_full" -> CopyFull,
    "query_suite" -> QuerySuite)

  /** Set-up repetitions: the first includes class loading, so the median
    * is the steady cost a restart pays. */
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val ctx = new Ctx(a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Paths.get(a("data")), Paths.get(a("work")), Paths.get(a("expected")),
      Paths.get(a("trace-out")))
    val cores = Runtime.getRuntime.availableProcessors

    val setupS = (0 until SetupReps).map { rep =>
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = session(ctx, cores)
      workload.prepare(ctx, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark

    val cpu0 = processCpuS()
    val t0 = System.nanoTime()
    workload.run(ctx)
    val runS = (System.nanoTime() - t0) / 1e9
    val runCpuS = processCpuS() - cpu0
    if (!ctx.traced) {
      ctx.metrics("setup_s") = (Stats.median(setupS), "s")
      ctx.metrics("heap_live_mb") = (ctx.heapLiveMb, "MB")
    }

    ctx.report("setup_s_samples") = Json.arr(setupS.map(Json.num))
    ctx.report("run_wall_s") = Json.num(runS)
    ctx.report("run_cpu_s") = Json.num(runCpuS)
    ctx.report("error_rate") = Json.num(ctx.failed.toDouble / math.max(1L, ctx.attempted))
    ctx.report("failures") = Json.arr(ctx.failures.toSeq.map(Json.str))
    ctx.report("self") = Json.obj(Seq(
      "cores" -> cores.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "driver_heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "seed" -> ctx.seed.toString,
      "seconds" -> Json.num(ctx.seconds),
      "inputs" -> Json.obj(inputs(ctx, workload.tables))))

    val metrics = Json.obj(ctx.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val line = Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> metrics) ++ ctx.report.toSeq)
    spark.stop()
    println("PERFBENCH_REPORT " + line)
    System.out.flush()
  }

  /** The session graft.Bench runs with, at the machine's core count. */
  private def session(ctx: Ctx, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
      .config("spark.local.dir", ctx.dir("spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the partition rule graft.Bench applies: derived from the fact
    // table's footer row count through ops.Skew
    val factRows = spark.read.parquet(s"${ctx.corpus}/lineitem.parquet").count()
    spark.conf.set("spark.sql.shuffle.partitions",
      graft.ops.Skew.suggestedShufflePartitions(factRows, avgRowBytes = 128L, cores = cores).toString)
    spark
  }

  /** Rows (from the parquet footer) and bytes on disk of each input file. */
  private def inputs(ctx: Ctx, tables: Seq[String]): Seq[(String, String)] =
    tables.map { path =>
      val p = ctx.dataDir.resolve(path)
      val rows = footer(p).getBlocks.asScala.map(_.getRowCount).sum
      path -> Json.obj(Seq("rows" -> rows.toString, "bytes" -> bytesUnder(p).toString))
    }

  def footer(file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), new Configuration()))
    try r.getFooter finally r.close()
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(Files.isRegularFile(_)).toLong
      finally s.close()
    }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}
