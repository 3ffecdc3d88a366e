package perfbench

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.pipeline.{Publish, Staging, Watermark}
import graft.pipeline.CopyJob._
import graft.sources.Tables

/** The traced form of one `CopyJob.run`: the same public functions in the
  * same order (trigger → F1 probe → stage → validate and load → switch →
  * GC → cleanup → state), each inside a span. It covers the paths the copy
  * workloads use: ViewSwitch and JdbcLoad, no resume, no switch-only.
  * Staging and state paths follow CopyJob's layout, under the roots of the
  * config the replay is given, so a replay never shares state with the
  * untraced jobs it is compared with. */
object Replay {
  def stagingDir(cfg: JobConfig, t: TableSpec): String =
    Paths.get(cfg.stagingRoot, s"table_${t.from.name}_${t.to}").toString

  def statePath(cfg: JobConfig): Path =
    Paths.get(cfg.stateDir, s"job-${cfg.hash.take(12)}_lastrun.txt")

  def run(spark: SparkSession, tr: Tracer, cfg: JobConfig): JobResult = {
    tr.newOp()
    tr.span("copyjob.run") {
      val polled = cfg.trigger.map { trig =>
        val v = tr.span("watermark.poll") {
          Watermark.poll(Tables(spark, cfg.sourceDir, trig.table), trig.column)
        }
        val go = tr.span("watermark.state") {
          Watermark.hasNewData(v, Watermark.readState(statePath(cfg)), cfg.hash)
        }
        (v, go)
      }
      if (polled.exists(!_._2)) NoNewData
      else copy(spark, tr, cfg, polled.flatMap(_._1))
    }
  }

  private def copy(spark: SparkSession, tr: Tracer, cfg: JobConfig,
      watermark: Option[Watermark.Value]): JobResult = {
    val version = Publish.newVersion()
    val empties = cfg.tables.filterNot(_.allowEmpty).filter { t =>
      tr.span("sources.probe")(resolveSource(spark, cfg, t.from).isEmpty)
    }
    if (empties.nonEmpty) return Failed(s"empty source tables: ${empties.map(_.id)}")

    cfg.tables.foreach { t =>
      tr.span("staging.stage") {
        Staging.stage(resolveSource(spark, cfg, t.from), stagingDir(cfg, t), t.autoTrim)
      }
      tr.addToLast("files", Main.filesUnder(Paths.get(stagingDir(cfg, t))).toDouble)
    }

    cfg.tables.foreach { t =>
      val m = tr.span("staging.validate")(Staging.validate(spark, stagingDir(cfg, t)))
      if (m.count > 0 || t.allowEmpty) t.publishMode match {
        case ViewSwitch =>
          tr.span("publish.snapshot") {
            Publish.writeSnapshot(Staging.read(spark, stagingDir(cfg, t)), cfg.targetRoot, t.to, version)
          }
          tr.addToLast("files",
            Main.filesUnder(Paths.get(Publish.snapshotDir(cfg.targetRoot, t.to, version))).toDouble)
        case j: JdbcLoad =>
          tr.span("sinks.jdbc_load") {
            Staging.read(spark, stagingDir(cfg, t)).write.format("graft-jdbc")
              .option("url", j.url).option("dbtable", t.to)
              .option("batchsize", j.batchSize.toString)
              .mode(SaveMode.Overwrite).save()
          }
          tr.addToLast("rows", m.count.toDouble)
        case other => throw new IllegalArgumentException(s"replay does not cover $other")
      }
    }

    cfg.tables.filter(_.publishMode == ViewSwitch).foreach { t =>
      tr.span("publish.switch")(Publish.publishVersion(cfg.targetRoot, t.to, version))
    }
    cfg.tables.filter(_.publishMode == ViewSwitch).foreach { t =>
      tr.span("publish.gc")(Publish.gcOldVersions(cfg.targetRoot, t.to, t.keepVersions))
    }
    cfg.tables.foreach(t => tr.span("staging.cleanup")(Staging.cleanup(stagingDir(cfg, t))))
    watermark.foreach { v =>
      tr.span("watermark.state")(Watermark.writeState(statePath(cfg), Watermark.State(v, cfg.hash)))
    }
    Copied
  }

  /** The phase spans of one replayed operation (the children of its
    * `copyjob.run` span). */
  def phases(op: Seq[Span]): Seq[Span] = {
    val root = op.filter(_.name == "copyjob.run").map(_.id).toSet
    op.filter(s => root(s.parent))
  }
}
