package perfbench

import org.apache.spark.sql.SparkSession

/** Prints the `copy_full` part of perfbench/expected.json: each published
  * table's row count and content hash, computed from the corpus.
  *
  *   java -cp <classpath> perfbench.Record perfbench/data/sf0.01
  */
object Record {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    val fps = CopyFull.sourceFingerprints(spark, args(0))
    println(Json.obj(fps.map { case (t, (n, h)) => t -> Json.arr(Seq(n.toString, Json.str(h.toString))) }))
    spark.stop()
  }
}
