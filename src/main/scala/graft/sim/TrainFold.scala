package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Single-stage sufficient-statistics folds for the quantizer training
  * loops (IVF / PQ Lloyd rounds, the OPQ cross-covariance pass).
  *
  * Each Lloyd round used to be `groupBy(cell).agg(count, sum...)
  * .collect()` — logically one map-side-combined aggregation, but
  * physically TWO jobs per round under AQE (shuffle-map materialization,
  * then the re-planned result stage) plus a full analyze/optimize/plan
  * cycle of the aggregate per round. The collected state is KiB
  * regardless of corpus size, so the exchange moves nothing the driver
  * could not merge itself: these folds run the codegen'd keyed
  * projection once per partition, accumulate flat long arrays, and merge
  * the per-partition arrays on the driver — ONE job, ONE stage, zero
  * shuffle per round (guide §2.4 "remove shuffles outright"; measured
  * r15: PqIndex.train 5 jobs → 3, wall 1.99 s → sub-second at sf0.1).
  *
  * Determinism: identical values to the aggregates they replace — the
  * per-element term is `floor(double(x_i) · 1e9)` as a long (same
  * truncation/NaN/±Inf semantics as Spark's non-ANSI double→long cast:
  * floor output is integral, NaN folds to 0, ±Inf saturates), and long
  * addition is commutative/associative, so any partition layout or merge
  * order produces the same sums — the same order-independence argument
  * the fixed-point aggregation itself was chosen for.
  *
  * Each partition's partial is added into the driver's arrays as it
  * arrives (`runJob`'s result handler), so the driver holds one result
  * array, not one per partition. Input a caller should have filtered
  * fails the job: a null key or vector row, or a code outside
  * `0 ≤ cell < ksub` — either would otherwise be skipped or land
  * silently in a wrong slot.
  */
private[graft] object TrainFold {

  /** `counts(k)` and `sums(k·dim + i) = Σ floor(double(vec_i) · 1e9)`
    * over rows with key `k`, in one single-stage job. `df` must project
    * exactly `(k: int, vec: array<float>)` with `0 ≤ k < nKeys` and no
    * null key or vector (callers filter null vectors); null elements
    * contribute nothing (SQL `sum` semantics) while the row still counts
    * (`count(lit(1))`). */
  def keyedFixedPointSums(df: DataFrame, nKeys: Int,
      dim: Int): (Array[Long], Array[Long]) = {
    require(nKeys > 0 && dim > 0, s"nKeys=$nKeys dim=$dim out of range")
    val counts = new Array[Long](nKeys)
    val sums = new Array[Long](nKeys * dim)
    df.sparkSession.sparkContext.runJob(
      df.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => {
        val counts = new Array[Long](nKeys)
        val sums = new Array[Long](nKeys * dim)
        while (it.hasNext) {
          val row = it.next()
          requireRow(row)
          val k = row.getInt(0)
          val arr = row.getArray(1)
          counts(k) += 1L
          val n = math.min(dim, arr.numElements())
          var i = 0
          while (i < n) {
            if (!arr.isNullAt(i)) {
              sums(k * dim + i) +=
                math.floor(arr.getFloat(i).toDouble * 1e9).toLong
            }
            i += 1
          }
        }
        (counts, sums)
      },
      (_: Int, p: (Array[Long], Array[Long])) => {
        addInto(counts, p._1)
        addInto(sums, p._2)
      })
    (counts, sums)
  }

  /** The OPQ cross-covariance statistics
    * `s((i·m + sub)·ksub + cell) = Σ_{rows: codes(sub)=cell}
    * floor(double(x_i) · 1e9)` in one single-stage job. `df` must
    * project exactly `(codes: array<int>, x: array<float>)`. Replaces a
    * posexplode(codes) × explode(0..dim−1) relation — an m·dim× row
    * blowup (512× at dim 64 / m 8) shuffled onto dim·m·ksub keys — with
    * a direct fold over the un-exploded rows; the (i, sub, cell) groups
    * and their exact long sums are identical. */
  def codesCrossSums(df: DataFrame, m: Int, ksub: Int,
      dim: Int): Array[Long] = {
    require(m > 0 && ksub > 0 && dim > 0, s"m=$m ksub=$ksub dim=$dim out of range")
    val s = new Array[Long](dim * m * ksub)
    df.sparkSession.sparkContext.runJob(
      df.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => {
        val s = new Array[Long](dim * m * ksub)
        while (it.hasNext) {
          val row = it.next()
          requireRow(row)
          val codes = row.getArray(0)
          val x = row.getArray(1)
          val nSub = math.min(m, codes.numElements())
          val n = math.min(dim, x.numElements())
          var j = 0
          while (j < nSub) {
            if (!codes.isNullAt(j)) {
              val cell = codes.getInt(j)
              if (cell < 0 || cell >= ksub)
                throw new IllegalArgumentException(
                  s"TrainFold: code $cell of sub-space $j outside [0, $ksub)")
              var i = 0
              while (i < n) {
                if (!x.isNullAt(i)) {
                  s((i * m + j) * ksub + cell) +=
                    math.floor(x.getFloat(i).toDouble * 1e9).toLong
                }
                i += 1
              }
            }
            j += 1
          }
        }
        s
      },
      (_: Int, p: Array[Long]) => addInto(s, p))
    s
  }

  private def requireRow(row: InternalRow): Unit =
    if (row.isNullAt(0) || row.isNullAt(1))
      throw new IllegalArgumentException(
        "TrainFold: null key or vector row (filter null vectors before training)")

  /** `acc += part`, element-wise. Called by the scheduler's result
    * handler, one partition result at a time. */
  private def addInto(acc: Array[Long], part: Array[Long]): Unit = {
    var i = 0
    while (i < acc.length) { acc(i) += part(i); i += 1 }
  }
}
