package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sim.{IvfIndex, PqIndex}
import graft.sources.Tables
import scala.util.control.NonFatal

/** Scratch instrumentation for the optimization round: phase timings of
  * the expensive queries (dev-only; not part of the driver contract). */
object OptProbe {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[probe] $name%-38s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup identical to Bench (tolerant: ladder corpora carry only
    // embeddings.parquet)
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val p = spark.read.parquet(s"$sfDir/part.parquet")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand").agg(sum("l_quantity").as("s"))
        .orderBy("p_brand").count()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(xxhash64(col("text"))).count()
    } catch { case NonFatal(_) => () }

    val which = if (args.isEmpty) "q177" else args(0)

    // per-job telemetry: id, wall ms, stage count — the evidence for the
    // "N sequential driver jobs × local job floor" accounting
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet()
          starts.put(js.jobId, (System.nanoTime(), js.stageInfos.size))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(je.jobId)
          if (s != null) System.err.println(
            f"[job] id=${je.jobId}%-4d ${(System.nanoTime() - s._1) / 1e6}%8.1f ms  stages=${s._2}")
        }
      })
    def jobsIn[A](name: String)(f: => A): A = {
      val before = jobCount.get()
      val r = t(name)(f)
      System.err.println(s"[jobs] $name: ${jobCount.get() - before} jobs")
      r
    }

    which match {
      case "q119" =>
        val docs = Tables(spark, sfDir, "documents")
        val path = s"/tmp/graft_probe_q119_${System.nanoTime()}"
        t("q119 total") {
          t("saveLshIndex") {
            graft.dedup.Dedup.saveLshIndex(
              docs.filter(col("doc_id") % 10 =!= 0), "text", "doc_id", path)
          }
          t("probeLshIndex+noop") {
            graft.dedup.Dedup.probeLshIndex(spark, path,
              docs.filter(col("doc_id") % 10 === 0), "text", "doc_id", threshold = 0.3)
              .orderBy("new_id", "ref_id")
              .write.format("noop").mode("overwrite").save()
          }
        }

      case "q119x" =>
        import spark.implicits._
        val docs = Tables(spark, sfDir, "documents")
        val ref = docs.filter(col("doc_id") % 10 =!= 0)
        val path = s"/tmp/graft_probe_q119x_${System.nanoTime()}"
        val sigs = graft.dedup.Dedup.minHashSignatures(ref, "text", "doc_id")
        t("sigs compute+write") {
          sigs.write.mode("overwrite").parquet(s"$path/sigs")
        }
        val persisted = spark.read.parquet(s"$path/sigs")
        t("bands write") {
          persisted.select(
              col("doc_id"),
              posexplode(array((0 until 16).map(b =>
                xxhash64(lit("band"), lit(b), slice(col("signature"), b * 4 + 1, 4))): _*)))
            .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
            .select(col("doc_id"), col("band_idx"), col("band_hash"))
            .write.partitionBy("band_idx").mode("overwrite").parquet(s"$path/bands")
        }
        t("meta write") {
          Seq((64, 16, 4)).toDF("num_perm", "bands", "rows")
            .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
        }
        t("sigs compute only (noop)") {
          graft.dedup.Dedup.minHashSignatures(ref, "text", "doc_id")
            .write.format("noop").mode("overwrite").save()
        }

      case "q177" =>
        t("q177 total") {
          val emb = Tables(spark, sfDir, "embeddings")
          val (rot, cb) = t("trainOpq") {
            PqIndex.trainOpq(emb, "vec_id", "embedding",
              m = 8, ksub = 16, opqIters = 1, nsIters = 60, rotSeed = 7L)
          }
          val r = PqIndex.rotate(emb, "vec_id", "embedding", rot)
          val codes = PqIndex.encode(r, "vec_id", "embedding", cb)
          t("searchADC+noop") {
            PqIndex.searchADC(cb, codes, r.filter(col("vec_id") < 6),
              "vec_id", "embedding", k = 3)
              .orderBy("query_id", "rnk")
              .write.format("noop").mode("overwrite").save()
          }
        }
      case "q177x" =>
        // trainOpq internals, phase-timed (mirrors PqIndex.trainOpq)
        val emb = Tables(spark, sfDir, "embeddings")
        val clean = emb.filter(col("embedding").isNotNull)
        val dim = t("dim probe") { clean.select(size(col("embedding"))).head().getInt(0) }
        val m = 8; val ksub = 16
        var rot = PqIndex.seededRotation(dim, 7L)
        val rotated = t("rotate plan") { PqIndex.rotate(clean, "vec_id", "embedding", rot) }
        val cb = t("train(rotated)") { PqIndex.train(rotated, "vec_id", "embedding", m, ksub) }
        val codes = PqIndex.encode(rotated, "vec_id", "embedding", cb)
        t("crossCovFp") {
          val assigned = codes.select(col("vec_id"),
            posexplode(col("codes")).as(Seq("sub", "cell")))
          clean.select(col("vec_id"), col("embedding"))
            .join(assigned, Seq("vec_id"))
            .select(col("sub"), col("cell"),
              explode(sequence(lit(0), lit(dim - 1))).as("i"),
              col("embedding"))
            .groupBy("i", "sub", "cell")
            .agg(sum(floor(element_at(col("embedding"), col("i") + 1).cast("double")
              * lit(1e9)).cast("long")).as("s"))
            .collect()
        }
        t("train(final rotate)") {
          PqIndex.train(PqIndex.rotate(clean, "vec_id", "embedding", rot),
            "vec_id", "embedding", m, ksub)
        }

      case "trainx" =>
        // PqIndex.train internals on the raw (unrotated) relation
        val emb = Tables(spark, sfDir, "embeddings")
        val clean = emb.filter(col("embedding").isNotNull)
        val m = 8; val ksub = 16
        for (round <- 1 to 2) {
          jobsIn(s"train round$round") {
            PqIndex.train(clean, "vec_id", "embedding", m, ksub)
          }
        }

      case "q85" =>
        val li = Tables(spark, sfDir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_quantity").cast("double").as("qty"),
            col("l_extendedprice").cast("double").as("price"))
        jobsIn("scan+melt noop") {
          li.selectExpr("flag",
              "stack(2, 'qty', cast(qty as double), 'price', cast(price as double)) as (vc, v)")
            .filter(col("v").isNotNull)
            .write.format("noop").mode("overwrite").save()
        }
        jobsIn("compressed agg noop") {
          li.selectExpr("flag",
              "stack(2, 'qty', cast(qty as double), 'price', cast(price as double)) as (vc, v)")
            .filter(col("v").isNotNull)
            .groupBy(col("flag"), col("vc"), col("v"))
            .agg(count(lit(1)).as("cnt"))
            .write.format("noop").mode("overwrite").save()
        }
        jobsIn("distinct groups noop") {
          li.select(col("flag")).distinct()
            .write.format("noop").mode("overwrite").save()
        }
        for (rep <- 1 to 2) {
          jobsIn(s"q85 full rep$rep") {
            graft.ops.Extended.groupedQuantiles(li, "flag", Seq(
                "qty" -> Seq("p50_qty" -> 0.5, "p90_qty" -> 0.9),
                "price" -> Seq("p25_price" -> 0.25)))
              .select(col("flag").as("l_returnflag"),
                round(col("p50_qty"), 6).as("p50_qty"),
                round(col("p90_qty"), 6).as("p90_qty"),
                round(col("p25_price"), 6).as("p25_price"))
              .orderBy("l_returnflag")
              .write.format("noop").mode("overwrite").save()
          }
        }

      case "jobs" =>
        // job-structure accounting for the Lloyd-loop queries
        val emb = Tables(spark, sfDir, "embeddings")
        jobsIn("q133 full") {
          val cb = jobsIn("  PqIndex.train") {
            PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8)
          }
          val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
          jobsIn("  searchADC+noop") {
            PqIndex.searchADC(cb, codes, emb.filter(col("vec_id") < 6),
              "vec_id", "embedding", k = 3)
              .orderBy("query_id", "rnk")
              .write.format("noop").mode("overwrite").save()
          }
        }
        jobsIn("q134 build") {
          IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
        }
        jobsIn("q173 full") {
          val ivf = jobsIn("  IvfIndex.build") {
            IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
          }
          val cb = jobsIn("  trainResidual") {
            PqIndex.trainResidual(ivf, "vec_id", "embedding", m = 4, ksub = 8)
          }
          jobsIn("  searchIvfAdcResidual+noop") {
            PqIndex.searchIvfAdcResidual(ivf, cb, emb.filter(col("vec_id") < 6),
              "vec_id", "embedding", k = 3, nprobe = 3)
              .orderBy("query_id", "rnk")
              .write.format("noop").mode("overwrite").save()
          }
        }
        jobsIn("q177 trainOpq") {
          PqIndex.trainOpq(emb, "vec_id", "embedding",
            m = 8, ksub = 16, opqIters = 1, nsIters = 60, rotSeed = 7L)
        }

      case "q176" =>
        t("q176 total") {
          val emb = Tables(spark, sfDir, "embeddings")
          val rot = PqIndex.seededRotation(64, seed = 7L)
          val r = PqIndex.rotate(emb, "vec_id", "embedding", rot)
          val ivf = t("IvfIndex.build") { IvfIndex.build(r, "vec_id", "embedding", nlist = 8) }
          val cb = t("trainResidual") { PqIndex.trainResidual(ivf, "vec_id", "embedding", m = 4, ksub = 8) }
          t("searchIvfAdcResidual+noop") {
            PqIndex.searchIvfAdcResidual(ivf, cb, r.filter(col("vec_id") < 6),
              "vec_id", "embedding", k = 3, nprobe = 3)
              .orderBy("query_id", "rnk")
              .write.format("noop").mode("overwrite").save()
          }
        }
      case "q134" =>
        t("q134 total") {
          val emb = Tables(spark, sfDir, "embeddings")
          val ivf = t("IvfIndex.build") { IvfIndex.build(emb, "vec_id", "embedding", nlist = 8) }
          val cb = t("PqIndex.train") { PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8) }
          t("searchIvfAdc+noop") {
            PqIndex.searchIvfAdc(ivf, cb, emb.filter(col("vec_id") < 6),
              "vec_id", "embedding", k = 3, nprobe = 3)
              .orderBy("query_id", "rnk")
              .write.format("noop").mode("overwrite").save()
          }
        }
      case _ => System.err.println(s"unknown probe: $which")
    }
    spark.stop()
  }
}
