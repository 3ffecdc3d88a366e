package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The cell-partitioned index store behind IVF, IVF∘PQ and IVF∘SQ8 —
  * one layout, one write discipline, one probe-and-prune path; a
  * [[Codec]] carries the only thing that differs between the three
  * indexes (what a stored row holds and how a candidate is ranked). The
  * FAISS `index_factory` shape: quantizers composed over ONE inverted-
  * file layout.
  * {{{
  *   <path>/centroids/            coarse quantizer (cell, centroid)
  *   <path>/<dataDir>/cell=<c>/   one parquet file per cell per write: (id, payload)
  *   <path>/<modelDir>/           codec model, absent for raw vectors
  * }}}
  * At scale the "index" is just this directory layout: a probe is a
  * statically partition-pruned scan that never opens the other cells'
  * files (`PartitionFilters` in the plan), and a compressed codec reads
  * only its code column. [[load]] derives the codec from which model
  * directory exists, so nothing but the path is needed to append to or
  * search a persisted index.
  */
object CellStore {

  /** What a stored row holds and how a probed candidate is ranked. The
    * probe rows are `(query_id, q_vec, cell)` ([[IvfIndex.probesFor]]);
    * the candidates handed to [[topK]] are those rows joined on `cell`
    * to `(neighbor_id, cell, payload)` cell rows, self-pairs dropped. */
  sealed trait Codec {
    /** Store subdirectory holding the cell-partitioned rows. */
    def dataDir: String = "codes"
    /** Name of the stored per-vector column. */
    def payload(vecCol: String): String = "codes"
    /** The stored column for vector column `vec`; `append` marks vectors
      * the codec model was not trained on. */
    def encode(vec: Column, append: Boolean): Column
    /** The probe side as the ranking reads it. */
    def probeSide(probes: DataFrame): DataFrame = probes
    /** Per-query top-k over the joined candidates. */
    def topK(cand: DataFrame, vecCol: String, k: Int): DataFrame
    /** Persist the codec model under the store root. */
    def writeModel(spark: SparkSession, path: String): Unit = ()
  }

  /** Full float vectors (IVF): ranked by exact cosine, descending. */
  case object Raw extends Codec {
    override def dataDir: String = "cells"
    override def payload(vecCol: String): String = vecCol
    def encode(vec: Column, append: Boolean): Column = vec
    def topK(cand: DataFrame, vecCol: String, k: Int): DataFrame = {
      val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
      cand.withColumn("cos", Similarity.cosine(col("q_vec"), col(vecCol)))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .select("query_id", "rnk", "neighbor_id", "cos")
    }
  }

  /** PQ codes (IVF∘PQ, FAISS `IndexIVFPQ` with `by_residual=false`): each
    * probe row carries its per-query ADC table, so a candidate costs `m`
    * lookups; ranked by the exact fixed-point distance. */
  final case class Pq(cb: PqIndex.Codebook) extends Codec {
    def encode(vec: Column, append: Boolean): Column = PqIndex.codesExpr(cb, vec)
    override def probeSide(probes: DataFrame): DataFrame =
      probes.select(col("query_id"), col("cell"),
        PqIndex.dtabFp(cb, col("q_vec")).as("dtab"))
    def topK(cand: DataFrame, vecCol: String, k: Int): DataFrame =
      PqIndex.topKByAdc(cand.withColumn("adist_fp", PqIndex.adcDistCol(cb)), k)
    override def writeModel(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      (for (j <- 0 until cb.m; c <- 0 until cb.ksub)
        yield (j, c, cb.centroids(j)(c).toSeq, cb.dim))
        .toDF("sub", "cell", "c", "dim")
        .write.mode("overwrite").parquet(s"$path/${Pq.dir}")
    }
  }
  object Pq {
    val dir = "codebook"
    def read(spark: SparkSession, path: String): Pq = {
      val rows = spark.read.parquet(s"$path/$dir").collect()
      val dim = rows.head.getAs[Int]("dim")
      val m = rows.map(_.getAs[Int]("sub")).max + 1
      val ksub = rows.map(_.getAs[Int]("cell")).max + 1
      val cents = Array.ofDim[Array[Double]](m, ksub)
      rows.foreach { r =>
        cents(r.getAs[Int]("sub"))(r.getAs[Int]("cell")) =
          r.getSeq[Double](r.fieldIndex("c")).toArray
      }
      Pq(PqIndex.Codebook(dim, m, ksub, cents))
    }
  }

  /** SQ8 byte codes (IVF∘SQ8, FAISS `IndexIVFScalarQuantizer`). The
    * reconstruction is GLOBAL, so the dropped `|q|²` stays constant per
    * query across cells. Appended vectors may fall outside the trained
    * ranges, where only the saturating encode stays in [0, 255]. */
  final case class Sq(m: SqIndex.Model) extends Codec {
    def encode(vec: Column, append: Boolean): Column =
      if (append) SqIndex.clampedCodesExpr(m, vec) else SqIndex.codesExpr(m, vec)
    def topK(cand: DataFrame, vecCol: String, k: Int): DataFrame =
      PqIndex.topKByAdc(cand.withColumn("adist_fp", SqIndex.sqDistCol(m)), k)
    override def writeModel(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      (0 until m.dim).map(d => (d, m.vmin(d), m.vdiff(d)))
        .toDF("d", "vmin", "vdiff")
        .write.mode("overwrite").parquet(s"$path/${Sq.dir}")
    }
  }
  object Sq {
    val dir = "ranges"
    def read(spark: SparkSession, path: String): Sq = {
      val rows = spark.read.parquet(s"$path/$dir").collect()
      val vmin = new Array[Double](rows.length)
      val vdiff = new Array[Double](rows.length)
      rows.foreach { r =>
        val d = r.getAs[Int]("d")
        vmin(d) = r.getAs[Double]("vmin"); vdiff(d) = r.getAs[Double]("vdiff")
      }
      Sq(SqIndex.Model(rows.length, vmin, vdiff))
    }
  }

  /** A persisted store: its cell rows `(id, payload, cell)`, the coarse
    * centroids, and the codec derived from the layout. */
  final case class Store(cells: DataFrame, centroids: DataFrame, codec: Codec)

  /** THE cell-partitioned write, shared by every layout writer so none
    * can lose the discipline independently: the `repartition(cell)`
    * before `partitionBy` is load-bearing at scale — cell assignment is a
    * map stage over corpus splits, so every write task holds rows of
    * ~every cell and a bare `partitionBy` would emit one file PER TASK
    * PER CELL, tasks × nlist files (measured: 45,248 files for 2M
    * vectors / nlist=1414 / 32 tasks; at 10k tasks × 65k cells a dead
    * filesystem). One shuffle keyed on the cell column lands each cell
    * wholly inside one task → exactly one file per cell (spec-pinned in
    * IvfIndexSpec; the LSH index writes its bands keyed on `band_idx`). */
  private[graft] def writeByCell(df: DataFrame, path: String, mode: SaveMode,
      cellCol: String = "cell"): Unit =
    df.repartition(col(cellCol))
      .write.partitionBy(cellCol).mode(mode).parquet(path)

  /** The `(id, payload, cell)` rows a codec stores for `(id, vec, cell)`
    * rows — null vectors drop (a NULL payload would rank FIRST in every
    * ascending-distance ranking). */
  private def encoded(rows: DataFrame, codec: Codec, idCol: String,
      vecCol: String, append: Boolean): DataFrame =
    rows.filter(col(vecCol).isNotNull)
      .select(col(idCol), codec.encode(col(vecCol), append).as(codec.payload(vecCol)),
        col("cell"))

  /** Persist a built IVF model under `codec`. */
  def save(ivf: IvfIndex.Model, codec: Codec, idCol: String, vecCol: String,
      path: String): Unit = {
    writeByCell(encoded(ivf.cells, codec, idCol, vecCol, append = false),
      s"$path/${codec.dataDir}", SaveMode.Overwrite)
    ivf.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    codec.writeModel(ivf.cells.sparkSession, path)
  }

  /** Open a persisted store; the codec is derived from which model
    * directory exists (none → [[Raw]]). */
  def load(spark: SparkSession, path: String): Store = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    def has(dir: String) = fs.exists(new org.apache.hadoop.fs.Path(hp, dir))
    // a second index saved over the path would leave the first one's
    // model or rows behind, and the derived codec could pair stale rows
    // with the wrong model — a silently wrong ranking
    require(!(has(Pq.dir) && has(Sq.dir)) && !(has(Raw.dataDir) && has("codes")),
      s"$path mixes index layouts; save each index to its own path")
    val codec =
      if (has(Pq.dir)) Pq.read(spark, path)
      else if (has(Sq.dir)) Sq.read(spark, path)
      else Raw
    Store(spark.read.parquet(s"$path/${codec.dataDir}"),
      spark.read.parquet(s"$path/centroids"), codec)
  }

  /** Incremental maintenance: assign NEW vectors to their nearest cell
    * under the EXISTING centroids, encode them under the EXISTING codec
    * model, and append them to the cell-partitioned layout — no
    * retraining, no rewrite of the standing rows (FAISS's `add` in
    * directory form; at a 100 TB embedding store, rebuilding the index
    * per arriving batch is a non-starter). Appended vectors are
    * immediately visible to [[searchIndexed]]. The quantizers slowly
    * staleness-drift as the distribution moves — the standard IVF trade,
    * watched by [[IvfIndex.occupancyStats]]; retrain when recall decays. */
  def append(spark: SparkSession, path: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val store = load(spark, path)
    val centroids = IvfIndex.centroidMatrix(store.centroids)
    writeByCell(
      encoded(newVectors.withColumn("cell",
          graft.functions.VectorFunctions.nearest_cell(col(vecCol), centroids)),
        store.codec, idCol, vecCol, append = true),
      s"$path/${store.codec.dataDir}", SaveMode.Append)
  }

  /** The one probe scan: cell rows `(neighbor_id, cell, payload)` joined
    * on `cell` to the BROADCAST probe side, so each query reads only its
    * probed cells' rows — corpus fraction ≈ nprobe/nlist. */
  private def scan(cells: DataFrame, probes: DataFrame, codec: Codec,
      vecCol: String, k: Int): DataFrame =
    codec.topK(
      cells.join(broadcast(codec.probeSide(probes)), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id")), vecCol, k)

  /** Top-k per query over an in-memory IVF model, probing `nprobe`
    * cells; the payload is encoded in the same map stage that assigned
    * the cells, without re-touching the corpus. */
  def search(ivf: IvfIndex.Model, codec: Codec, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    scan(
      ivf.cells.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("neighbor_id"), col("cell"),
          codec.encode(col(vecCol), append = false).as(codec.payload(vecCol))),
      IvfIndex.probesFor(ivf.centroids, queries, idCol, vecCol, nprobe),
      codec, vecCol, k)

  /** Search a persisted store with STATIC partition pruning: the union of
    * all queries' probe cells (≤ nlist values, independent of query
    * count) is collected and pushed as a literal IN filter, so the
    * parquet scan lists only the probed cell directories — the 100 TB
    * path where nprobe/nlist of the store is read, verifiable as
    * `PartitionFilters` in the plan. */
  def searchIndexed(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val store = load(spark, path)
    val probesPlan = IvfIndex.probesFor(store.centroids, queries, idCol, vecCol, nprobe)
    // materialize the probe set driver-side ONCE — it is bounded by
    // |queries| × nprobe (the probe side is broadcast anyway, so queries
    // are small by contract) and feeds both the static IN filter and the
    // broadcast join input; a local list avoids the persist-without-
    // unpersist leak a cached two-consumer plan would carry
    val probeRows = probesPlan.collect()
    val probedCells = probeRows.map(_.getAs[Int]("cell")).distinct.toSeq
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    scan(
      store.cells.filter(col("cell").isin(probedCells.map(Int.box): _*))
        .withColumnRenamed(idCol, "neighbor_id"),
      probes, store.codec, vecCol, k)
  }
}
