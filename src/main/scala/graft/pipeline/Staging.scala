package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, trim}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import graft.LocalDirs

/** Durable staging between extract and load (SURVEY.md §2.B, §2.F3).
  *
  * The reference stages CSV + serialized schema + count file
  * (`CopyTool.java:659-747`); here the staged dataset is partitioned
  * parquet (schema travels in the footer) plus a tiny JSON manifest with
  * the row count and schema snapshot — the durable phase-1→phase-2
  * hand-off survives a crash between phases (§3.1).
  *
  * Only the extract itself is a Spark job. The manifest count and the F3
  * check come from the written files' parquet footers, read on the
  * driver, and the load side reads with the manifest schema, so no
  * schema-inference job runs either.
  */
object Staging {

  final case class Manifest(count: Long, schemaJson: String) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** autoTrim (§1.3, default ON in the reference `CopyTable.java:72`):
    * trim string-typed columns. The reference trims *all* types after
    * stringification; with typed columns only strings can carry padding,
    * so this is semantics-preserving. */
  def applyAutoTrim(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == StringType) d.withColumn(f.name, trim(col(f.name))) else d
    }

  private def manifestPath(dir: String): Path = Paths.get(dir, "_manifest.json")

  /** The staged parquet dataset of staging dir `dir` (what a publish links). */
  def dataDir(dir: String): Path = Paths.get(dir, "data")

  /** Stage an extract. Writes parquet (schema even for 0 rows — the B4
    * zero-row short-circuit is the loader skipping, not schema loss) and
    * the manifest. Returns the staged row count, summed from the written
    * files' footers. */
  def stage(df: DataFrame, dir: String, autoTrim: Boolean = true): Long = {
    val out = if (autoTrim) applyAutoTrim(df) else df
    out.write.mode("overwrite").parquet(dataDir(dir).toString)
    val count = footers(dir, out.sparkSession).map(_.rows).sum
    val json = s"""{"count":$count,"schema":${out.schema.json}}"""
    Files.createDirectories(Paths.get(dir))
    Files.writeString(manifestPath(dir), json)
    count
  }

  def readManifest(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else {
      val s = Files.readString(p)
      // minimal parse: {"count":N,"schema":{...}}
      val countR = """\{"count":(\d+),"schema":""".r
      countR.findPrefixMatchOf(s).map { m =>
        Manifest(m.group(1).toLong, s.substring(m.end, s.length - 1))
      }
    }
  }

  private def manifest(dir: String): Manifest = readManifest(dir).getOrElse(
    throw new IllegalStateException(s"staging dir '$dir' has no manifest"))

  /** F3 staged-files validation, from the footers alone (no Spark job):
    * manifest present, every data file's schema matches the snapshot and
    * the files hold exactly the manifest's row count — a lost or
    * truncated part file fails here instead of publishing fewer rows.
    * Throws with a precise reason on failure. */
  def validate(spark: SparkSession, dir: String): Manifest = {
    val m = manifest(dir)
    val fs = footers(dir, spark)
    fs.foreach { f =>
      val s = f.schema.getOrElse(throw new IllegalStateException(
        s"staged file '${f.file}' has no Spark schema in its footer"))
      require(shape(s) == shape(m.schema),
        s"staged schema drift in '${f.file}': ${s.simpleString} vs manifest ${m.schema.simpleString}")
    }
    val rows = fs.map(_.rows).sum
    if (rows != m.count) throw new IllegalStateException(
      s"staging dir '$dir' holds $rows rows in ${fs.size} data files, its manifest says ${m.count}")
    m
  }

  /** Read the staged dataset back (load-phase input), with the manifest's
    * schema. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(manifest(dir).schema).parquet(dataDir(dir).toString)

  /** E7 staging cleanup. */
  def cleanup(dir: String): Unit = LocalDirs.deleteRecursively(Paths.get(dir))

  /** One staged data file's footer: its row count and the schema Spark's
    * writer stored in it. */
  private final case class Footer(file: Path, rows: Long, schema: Option[StructType])

  /** The key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The footers of the staged data files (Spark's hidden `_`/`.` files
    * skipped), read on the driver. */
  private def footers(dir: String, spark: SparkSession): Seq[Footer] = {
    val data = dataDir(dir)
    val files =
      if (!Files.isDirectory(data)) Seq.empty
      else LocalDirs.list(data).filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.sorted
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try {
        val schema = Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
        Footer(f, r.getRecordCount, schema)
      } finally r.close()
    }
  }

  /** Names and types: nullability is not schema drift. */
  private def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
}
