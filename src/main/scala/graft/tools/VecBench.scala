package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.{CellStore, IvfIndex, PqIndex, Similarity, SqIndex}

/** ANN decade benchmark (dev tool, NOT library surface): measures the
  * full similarity-search stack — brute-force truth, hyperplane LSH,
  * persisted IVF, persisted IVF∘PQ with exact re-rank — on ONE corpus
  * dir, with geometry SIZED TO THE CORPUS rather than frozen at the
  * sf0.01 oracle constants:
  *
  *  - LSH `bits` = [[Similarity.suggestedLshBits]] (bucket population
  *    held ~constant as the corpus grows);
  *  - IVF `nlist` = [[IvfIndex.suggestedNlist]] (≈√n, the FAISS rule),
  *    `nprobe` = nlist/16 (a fixed ~6% corpus fraction per query);
  *  - quantizer training on a hash-sample that SHRINKS as the corpus
  *    grows (full ≤20k, 1/4 ≤200k, 1/16 beyond — production sizing);
  *  - PQ serves the q163-proven recipe: unit-normalized corpus,
  *    m=8/ksub=16 codebook, ADC shortlist, exact cosine re-rank.
  *
  * Every approximate stack is scored with [[Similarity.recallAtK]]
  * against the same brute-force truth, so each decade reports BOTH
  * cost and quality — a fast index that lost its neighbors is not
  * "scaling". Queries are the 32 lowest `vec_id` rows: GenVecs keeps
  * copy-0 ids stable across decades, so these are the SAME 32 base
  * vectors at every scale.
  *
  * Index builds go through the persisted layouts (`CellStore.save` with
  * the raw and PQ codecs under `.vecbench/`) and searches through the
  * `CellStore.searchIndexed` partition-pruned path — the cost measured is the
  * 100 TB shape (build once, serve from a cell-pruned scan), not an
  * in-memory shortcut.
  *
  * One JSON line to stdout (+ SPARK_GRAFT_BENCH_OUT file):
  * `{"n":…,"geometry":{…},"timings":{…},"recall":{…}}`.
  */
object VecBench {

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val k = 10
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = corpus.count()
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val queries = corpus.filter(col("vec_id") < 32)

    val bits = Similarity.suggestedLshBits(n)
    val nlist = IvfIndex.suggestedNlist(n)
    val nprobe = math.max(1, nlist / 16)
    val sixteenths = if (n <= 20000L) 16 else if (n <= 200000L) 4 else 1

    // untimed warmup: scan + the codegen'd vector expression paths
    queries.select(sum(graft.sim.Similarity.l2Norm(col("embedding")))).head()
    Similarity.bruteForceTopK(queries, corpus.limit(256), "vec_id", "embedding", k).count()

    // brute truth — timed, then pinned locally (320 rows) so the recall
    // joins never recompute the corpus pass
    val (exactRows, tBrute) = timed {
      Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k).collect()
    }
    val exactSchema = Similarity.bruteForceTopK(
      queries, corpus.limit(1), "vec_id", "embedding", k).schema
    val exact = spark.createDataFrame(
      java.util.Arrays.asList(exactRows: _*), exactSchema)

    def meanRecall(approx: DataFrame): Double = ToolWork.meanRecall(approx, exact)

    // LSH — single table, then the OR-amplified multi-table form (the
    // recall-recovery knob: suggestedLshBits holds bucket population
    // constant, so single-table recall falls every decade by design)
    val (lshRows, tLsh) = timed {
      Similarity.lshTopK(queries, corpus, "vec_id", "embedding", k, dim, bits).collect()
    }
    val lshDf = spark.createDataFrame(java.util.Arrays.asList(lshRows: _*), exactSchema)
    val rLsh = meanRecall(lshDf)

    val lshTables = 4
    val (lshMRows, tLshM) = timed {
      Similarity.lshTopKTables(queries, corpus, "vec_id", "embedding", k, dim,
        bits, tables = lshTables).collect()
    }
    val lshMDf = spark.createDataFrame(java.util.Arrays.asList(lshMRows: _*), exactSchema)
    val rLshM = meanRecall(lshMDf)

    // IVF: build+persist (the cell-partitioned layout), then the
    // partition-pruned indexed search; pid-scoped + cleaned on exit
    // (ToolWork.pidScopedDir — the r12c concurrent-JVM lesson)
    val idxRoot = ToolWork.pidScopedDir(".vecbench")
    val ivfPath = s"$idxRoot/ivf_$n"
    val (_, tIvfBuild) = timed {
      val m = IvfIndex.build(corpus, "vec_id", "embedding", nlist,
        trainSixteenths = sixteenths)
      CellStore.save(m, CellStore.Raw, "vec_id", "embedding", ivfPath)
    }
    val (ivfRows, tIvfSearch) = timed {
      CellStore.searchIndexed(spark, ivfPath, queries, "vec_id", "embedding",
        k, nprobe).collect()
    }
    val ivfDf = spark.createDataFrame(java.util.Arrays.asList(ivfRows: _*), exactSchema)
    val rIvf = meanRecall(ivfDf)

    // optional `sweep` mode: walk nprobe across a 16× range around the
    // default — the measured recall-vs-scan-fraction curve for THIS
    // corpus size, i.e. the number a deployment reads before picking its
    // latency/recall point. Reuses the persisted index; each point is an
    // independent partition-pruned search.
    // the default nlist/16 point is re-measured inside the sweep on
    // purpose: all five points then share one methodology (same warm
    // JVM, same cache state), so the curve is internally comparable
    // one CLI convention for ALL optional modes: the flag is recognized
    // anywhere after the dir arg (`args.tail.contains`) — positional
    // parsing made `VecBench dir lshsweep sweep` silently skip this one
    val sweepJson: Option[String] = if (args.tail.contains("sweep")) {
      val points = Seq(nlist / 64, nlist / 32, nlist / 16, nlist / 8, nlist / 4)
        .map(math.max(1, _)).distinct
      val rows = points.map { np =>
        val (r, t) = timed {
          CellStore.searchIndexed(spark, ivfPath, queries, "vec_id", "embedding",
            k, np).collect()
        }
        val rec = meanRecall(spark.createDataFrame(
          java.util.Arrays.asList(r: _*), exactSchema))
        f"""{"nprobe":$np,"frac":${np.toDouble / nlist}%.4f,"sec":$t%.3f,"recall":$rec%.4f}"""
      }
      val line = s"""{"metric":"vecbench_nprobe_sweep","n":$n,"nlist":$nlist,"points":[${rows.mkString(",")}]}"""
      println(line)
      Some(line)
    } else None

    // optional `lshsweep` mode: the q169 sizing rule at THIS corpus
    // size — lshRecallCurve walks table counts 1..8 from ONE candidate
    // scan at 8 band families, and the chosen row is suggestedLshTables'
    // min step reaching 0.9 (possibly none: the LSH family has no
    // exactness endpoint, and at corpora where constant-population
    // buckets hold a vanishing fraction of the true top-k, the honest
    // answer IS "no L ≤ 8 qualifies — escalate to IVF's total rule").
    // The timing includes the rule's own brute-force calibration pass:
    // the number reported is what a deployment actually pays to SIZE
    // the geometry, not just to run the sized geometry once.
    val lshSweepJson: Option[String] = if (args.tail.contains("lshsweep")) {
      val maxT = 8
      val (curve, tCurve) = timed {
        Similarity.lshRecallCurve(queries, corpus, "vec_id", "embedding",
          k, dim, bits, maxTables = maxT).orderBy("tables").collect()
      }
      val chosen = curve.filter(_.getAs[Double]("recall") >= 0.9)
        .map(_.getAs[Int]("tables")).sorted.headOption
      val pts = curve.map { r =>
        f"""{"tables":${r.getAs[Int]("tables")},"recall":${r.getAs[Double]("recall")}%.4f}"""
      }
      val line = s"""{"metric":"vecbench_lsh_tables","n":$n,"bits":$bits,""" +
        f""""sec":$tCurve%.3f,"target":0.9,""" +
        s""""chosen":${chosen.getOrElse(-1)},"points":[${pts.mkString(",")}]}"""
      println(line)
      Some(line)
    } else None

    // optional `shortsweep` mode: the q171 sizing rule at THIS corpus
    // size — the flat-ADC shortlist ladder (doubling from k, ending
    // exactly at n: the TOTAL rule, endpoint == brute force) with
    // pooled recall per step and the 0.9 choice. Runs on the
    // unit-normalized corpus with the m=8/ksub=16 serve codebook (the
    // q163 recipe), so the curve prices the production two-stage serve,
    // not the toy oracle geometry. One ADC ranking + one exact scoring
    // of |queries|×n rows — the rule's own calibration cost, included.
    val shortSweepJson: Option[String] = if (args.tail.contains("shortsweep")) {
      val normed = Similarity.unitNormalize(corpus, "vec_id", "embedding")
        .localCheckpoint(true)
      val qN = normed.filter(col("vec_id") < 32)
      val cbS = PqIndex.train(normed, "vec_id", "embedding", m = 8, ksub = 16,
        trainSixteenths = sixteenths)
      val codesS = PqIndex.encode(normed, "vec_id", "embedding", cbS)
      val ladder = PqIndex.shortlistLadder(k, normed.count())
      val (curve, tCurve) = timed {
        PqIndex.shortlistRecallCurve(cbS, codesS, normed, qN, "vec_id",
          "embedding", k, ladder).orderBy("shortlist").collect()
      }
      val chosen = curve.filter(_.getAs[Double]("recall") >= 0.9)
        .map(_.getAs[Int]("shortlist")).sorted.headOption
      val pts = curve.map { r =>
        f"""{"shortlist":${r.getAs[Int]("shortlist")},"recall":${r.getAs[Double]("recall")}%.4f}"""
      }
      val line = s"""{"metric":"vecbench_shortlist","n":$n,"pq_m":8,"pq_ksub":16,""" +
        f""""sec":$tCurve%.3f,"target":0.9,""" +
        s""""chosen":${chosen.getOrElse(-1)},"points":[${pts.mkString(",")}]}"""
      println(line)
      Some(line)
    } else None

    // optional `residual` mode: FAISS by_residual=true vs false at the
    // SAME m=8/ksub=16 budget and the same corpus-sized nprobe — the
    // recall payoff of quantizing residuals (most between-cell variance
    // already explained by the coarse quantizer) measured at this scale.
    val residualJson: Option[String] = if (args.tail.contains("residual")) {
      val normed = Similarity.unitNormalize(corpus, "vec_id", "embedding")
        .localCheckpoint(true)
      val qN = normed.filter(col("vec_id") < 32)
      val ivfN = IvfIndex.build(normed, "vec_id", "embedding", nlist,
        trainSixteenths = sixteenths)
      val exactN = Similarity.bruteForceTopK(qN, normed, "vec_id",
        "embedding", k).localCheckpoint(true)
      val cbRaw = PqIndex.train(normed, "vec_id", "embedding", m = 8,
        ksub = 16, trainSixteenths = sixteenths)
      val (rawRows, tRaw) = timed {
        PqIndex.searchIvfAdc(ivfN, cbRaw, qN, "vec_id", "embedding", k,
          nprobe).collect()
      }
      val cbRes = PqIndex.trainResidual(ivfN, "vec_id", "embedding", m = 8,
        ksub = 16, trainSixteenths = sixteenths)
      val (resRows, tRes) = timed {
        PqIndex.searchIvfAdcResidual(ivfN, cbRes, qN, "vec_id", "embedding",
          k, nprobe).collect()
      }
      val rRaw = ToolWork.meanRecall(ToolWork.idPairs(spark, rawRows), exactN)
      val rRes = ToolWork.meanRecall(ToolWork.idPairs(spark, resRows), exactN)
      val line = s"""{"metric":"vecbench_residual","n":$n,"nlist":$nlist,""" +
        s""""nprobe":$nprobe,"pq_m":8,"pq_ksub":16,""" +
        f""""raw":{"sec":$tRaw%.3f,"recall":$rRaw%.4f},""" +
        f""""residual":{"sec":$tRes%.3f,"recall":$rRes%.4f}}"""
      println(line)
      Some(line)
    } else None

    // optional `opq` mode: the seeded orthogonal rotation
    // (PqIndex.seededRotation — sign∘Hadamard∘permutation) before the
    // SAME m=8/ksub=16 flat-ADC budget, vs no rotation. Rotation is
    // orthogonal, so the brute truth is computed once on the unrotated
    // normalized corpus and both stacks are scored against it. The gain
    // exists exactly when per-subspace variance is unbalanced (the
    // anisotropic clustered corpora); on isotropic corpora the honest
    // expectation is ~no change — measure, don't assume.
    val opqJson: Option[String] = if (args.tail.contains("opq")) {
      val normed = Similarity.unitNormalize(corpus, "vec_id", "embedding")
        .localCheckpoint(true)
      val qN = normed.filter(col("vec_id") < 32)
      val exactN = Similarity.bruteForceTopK(qN, normed, "vec_id",
        "embedding", k).localCheckpoint(true)
      def adcAt(rel: DataFrame): (Double, Double) = {
        val relQ = rel.filter(col("vec_id") < 32)
        val cb = PqIndex.train(rel, "vec_id", "embedding", m = 8, ksub = 16,
          trainSixteenths = sixteenths)
        val codes = PqIndex.encode(rel, "vec_id", "embedding", cb)
        val (rows, t) = timed {
          PqIndex.searchADC(cb, codes, relQ, "vec_id", "embedding", k).collect()
        }
        (t, ToolWork.meanRecall(ToolWork.idPairs(spark, rows), exactN))
      }
      val (tRaw, rRaw) = adcAt(normed)
      val rot = PqIndex.seededRotation(dim, seed = 7L)
      val rotated = PqIndex.rotate(normed, "vec_id", "embedding", rot)
        .localCheckpoint(true)
      val (tRot, rRot) = adcAt(rotated)
      // the composed q176 stack at the same budget: rotation, coarse
      // IVF in the rotated space, residual PQ — the two knobs address
      // different structure (per-subspace imbalance vs between-cell
      // variance), so the composition is where both should stack
      val ivfR = IvfIndex.build(rotated, "vec_id", "embedding", nlist,
        trainSixteenths = sixteenths)
      val cbRR = PqIndex.trainResidual(ivfR, "vec_id", "embedding", m = 8,
        ksub = 16, trainSixteenths = sixteenths)
      val qR = rotated.filter(col("vec_id") < 32)
      val (rrRows, tRR) = timed {
        PqIndex.searchIvfAdcResidual(ivfR, cbRR, qR, "vec_id", "embedding",
          k, nprobe).collect()
      }
      val rRR = ToolWork.meanRecall(ToolWork.idPairs(spark, rrRows), exactN)
      val line = s"""{"metric":"vecbench_opq","n":$n,"nlist":$nlist,"nprobe":$nprobe,"pq_m":8,"pq_ksub":16,""" +
        f""""raw":{"sec":$tRaw%.3f,"recall":$rRaw%.4f},""" +
        f""""rotated":{"sec":$tRot%.3f,"recall":$rRot%.4f},""" +
        f""""rotated_residual":{"sec":$tRR%.3f,"recall":$rRR%.4f}}"""
      println(line)
      Some(line)
    } else None

    // optional `topq` mode: the TRAINED OPQ rotation (q177 —
    // alternating Lloyd/Procrustes, Newton–Schulz polar factor) vs the
    // r13 baselines it must beat on anisotropic corpora: the seeded
    // rotation's flat ADC and, composed with by_residual IVF-PQ, the
    // flat-residual stack. Same m=8/ksub=16 budget, same exact set.
    val topqJson: Option[String] = if (args.tail.contains("topq")) {
      val normed = Similarity.unitNormalize(corpus, "vec_id", "embedding")
        .localCheckpoint(true)
      val qN = normed.filter(col("vec_id") < 32)
      val exactN = Similarity.bruteForceTopK(qN, normed, "vec_id",
        "embedding", k).localCheckpoint(true)
      val ((rot, cbT), tTrain) = timed {
        PqIndex.trainOpq(normed, "vec_id", "embedding", m = 8, ksub = 16,
          opqIters = 2, trainSixteenths = sixteenths)
      }
      val rotated = PqIndex.rotate(normed, "vec_id", "embedding", rot)
        .localCheckpoint(true)
      val codesT = PqIndex.encode(rotated, "vec_id", "embedding", cbT)
      val (flatRows, tFlat) = timed {
        PqIndex.searchADC(cbT, codesT, rotated.filter(col("vec_id") < 32),
          "vec_id", "embedding", k).collect()
      }
      val rFlat = ToolWork.meanRecall(ToolWork.idPairs(spark, flatRows), exactN)
      // the composition: trained rotation, coarse IVF in the rotated
      // space, residual PQ — vs r13's flat-residual and seeded∘residual
      val ivfR = IvfIndex.build(rotated, "vec_id", "embedding", nlist,
        trainSixteenths = sixteenths)
      val cbRR = PqIndex.trainResidual(ivfR, "vec_id", "embedding", m = 8,
        ksub = 16, trainSixteenths = sixteenths)
      val (rrRows, tRR) = timed {
        PqIndex.searchIvfAdcResidual(ivfR, cbRR,
          rotated.filter(col("vec_id") < 32), "vec_id", "embedding",
          k, nprobe).collect()
      }
      val rRR = ToolWork.meanRecall(ToolWork.idPairs(spark, rrRows), exactN)
      val line = s"""{"metric":"vecbench_topq","n":$n,"nlist":$nlist,"nprobe":$nprobe,"pq_m":8,"pq_ksub":16,"opq_iters":2,""" +
        f""""train_sec":$tTrain%.3f,""" +
        f""""trained":{"sec":$tFlat%.3f,"recall":$rFlat%.4f},""" +
        f""""trained_residual":{"sec":$tRR%.3f,"recall":$rRR%.4f}}"""
      println(line)
      Some(line)
    } else None

    // optional `sq` mode: the two non-PQ compression families at the
    // same corpus and the same brute truth — SQ8 (4× smaller store,
    // near-exact byte ranking) flat and composed with the corpus-sized
    // IVF, and binary sign-bit quantization (16× smaller scan stage)
    // at two hamming-shortlist depths. Together with the PQ numbers in
    // the main line this is the measured memory/recall ladder:
    // float32 → SQ8 (4×) → PQ m=8 (32×) → binary (16×, shortlist-bound).
    val sqJson: Option[String] = if (args.tail.contains("sq")) {
      val normed = Similarity.unitNormalize(corpus, "vec_id", "embedding")
        .localCheckpoint(true)
      val qN = normed.filter(col("vec_id") < 32)
      val exactN = Similarity.bruteForceTopK(qN, normed, "vec_id",
        "embedding", k).localCheckpoint(true)
      val (mSq, tSqTrain) = timed { SqIndex.train(normed, "vec_id", "embedding") }
      val (codesSq, tSqEnc) = timed {
        SqIndex.encode(normed, "vec_id", "embedding", mSq).localCheckpoint(true)
      }
      val (sqRows, tSqFlat) = timed {
        SqIndex.searchSqAdc(mSq, codesSq, qN, "vec_id", "embedding", k).collect()
      }
      val rSqFlat = ToolWork.meanRecall(ToolWork.idPairs(spark, sqRows), exactN)
      val ivfN = IvfIndex.build(normed, "vec_id", "embedding", nlist,
        trainSixteenths = sixteenths)
      val (ivfSqRows, tIvfSq) = timed {
        SqIndex.searchIvfSq(ivfN, mSq, qN, "vec_id", "embedding", k, nprobe).collect()
      }
      val rIvfSq = ToolWork.meanRecall(ToolWork.idPairs(spark, ivfSqRows), exactN)
      val (mu, tBinTrain) = timed { SqIndex.binaryMeans(normed, "vec_id", "embedding") }
      val (bcodes, tBinEnc) = timed {
        SqIndex.encodeBinary(normed, "vec_id", "embedding", mu).localCheckpoint(true)
      }
      def binAt(shortlist: Int): (Double, Double) = {
        val (rows, t) = timed {
          SqIndex.searchBinaryRerank(mu, bcodes, normed, qN, "vec_id",
            "embedding", k, shortlist).collect()
        }
        (t, ToolWork.meanRecall(ToolWork.idPairs(spark, rows), exactN))
      }
      val (tBin100, rBin100) = binAt(100)
      val (tBin1k, rBin1k) = binAt(1000)
      val line = s"""{"metric":"vecbench_sq","n":$n,"nlist":$nlist,"nprobe":$nprobe,""" +
        f""""sq8":{"train_sec":$tSqTrain%.3f,"encode_sec":$tSqEnc%.3f,"flat_sec":$tSqFlat%.3f,"flat_recall":$rSqFlat%.4f,"ivf_sec":$tIvfSq%.3f,"ivf_recall":$rIvfSq%.4f},""" +
        f""""binary":{"train_sec":$tBinTrain%.3f,"encode_sec":$tBinEnc%.3f,"s100_sec":$tBin100%.3f,"s100_recall":$rBin100%.4f,"s1000_sec":$tBin1k%.3f,"s1000_recall":$rBin1k%.4f}}"""
      println(line)
      Some(line)
    } else None

    // IVF∘PQ on the unit-normalized corpus (q163 recipe), persisted
    // codes layout, ADC shortlist + exact cosine re-rank
    val normPath = s"$idxRoot/norm_$n"
    val pqPath = s"$idxRoot/ivfpq_$n"
    val (_, tPqBuild) = timed {
      Similarity.unitNormalize(corpus, "vec_id", "embedding")
        .write.mode("overwrite").parquet(normPath)
      val normed = spark.read.parquet(normPath)
      val ivfN = IvfIndex.build(normed, "vec_id", "embedding", nlist,
        trainSixteenths = sixteenths)
      val cb = PqIndex.train(normed, "vec_id", "embedding", m = 8, ksub = 16,
        trainSixteenths = sixteenths)
      CellStore.save(ivfN, CellStore.Pq(cb), "vec_id", "embedding", pqPath)
    }
    // incremental maintenance at the decade: assign+append a 1%-of-corpus
    // batch (max 2000 vectors) under the EXISTING centroids — the cost a
    // standing 100 TB index pays per arriving batch instead of a rebuild
    val nApp = math.max(1L, math.min(2000L, n / 100)).toInt
    val (_, tAppend) = timed {
      val batch = corpus.orderBy(desc("vec_id")).limit(nApp)
        .withColumn("vec_id", col("vec_id") + lit(1000000000L))
      CellStore.append(spark, ivfPath, batch, "vec_id", "embedding")
    }

    // shortlist sweep: the ADC shortlist must scale with the probed
    // candidate pool (nprobe cells × cell population) or the coarse
    // m=8/ksub=16 ranking can't keep the true neighbors inside it —
    // measured at 2M/nprobe=88: shortlist 100 → recall 0.08
    def pqSearchAt(shortlist: Int): (Double, Double) = {
      val (pqRows, t) = timed {
        val normed = spark.read.parquet(normPath)
        val qN = normed.filter(col("vec_id") < 32)
        // the library's two-stage serve, not a hand-rolled rerank — the
        // bench must measure the q163-proven path itself: the pruned
        // ADC shortlist, then the shared exact-cosine re-rank
        PqIndex.rerankExact(
          CellStore.searchIndexed(spark, pqPath, qN, "vec_id", "embedding",
            shortlist, nprobe).select("query_id", "neighbor_id"),
          normed, qN, "vec_id", "embedding", k).collect()
      }
      val pqDf = spark.createDataFrame(java.util.Arrays.asList(pqRows: _*), exactSchema)
      (t, meanRecall(pqDf))
    }
    val (tPq100, rPq100) = pqSearchAt(100)
    val (tPq1k, rPq1k) = pqSearchAt(1000)

    val json =
      s"""{"metric":"vecbench","unit":"sec","n":$n,"dim":$dim,"dir":"$dir",""" +
      s""""geometry":{"k":$k,"bits":$bits,"lsh_tables":$lshTables,"nlist":$nlist,"nprobe":$nprobe,"train_sixteenths":$sixteenths,"pq_m":8,"pq_ksub":16},""" +
      f""""timings":{"brute":$tBrute%.3f,"lsh":$tLsh%.3f,"lsh_multi":$tLshM%.3f,"ivf_build":$tIvfBuild%.3f,"ivf_search":$tIvfSearch%.3f,"ivf_append_$nApp%d":$tAppend%.3f,"ivfpq_build":$tPqBuild%.3f,"ivfpq_search_s100":$tPq100%.3f,"ivfpq_search_s1000":$tPq1k%.3f},""" +
      f""""recall":{"lsh":$rLsh%.4f,"lsh_multi":$rLshM%.4f,"ivf":$rIvf%.4f,"ivfpq_rerank_s100":$rPq100%.4f,"ivfpq_rerank_s1000":$rPq1k%.4f}}"""
    println(json)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      // sweep line rides in the same artifact (one JSON object per line)
      // — the recall-vs-nprobe curve is the point of the mode, so it
      // must land in the pinned file, not just scroll past on stdout
      val payload = (json +: (sweepJson.toSeq ++ lshSweepJson.toSeq ++
        shortSweepJson.toSeq ++ residualJson.toSeq ++ opqJson.toSeq ++
        topqJson.toSeq))
        .mkString("", "\n", "\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[vecbench] wrote $p")
    }
    spark.stop()
  }
}
