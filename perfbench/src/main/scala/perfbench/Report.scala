package perfbench

import java.nio.file.Files

/** Report parts shared by the workloads. */
object Report {
  /** A timing's samples: count, median, and the tail percentile the sample
    * supports (choosing-metrics §1), or null when it supports none. */
  def samples(xs: Seq[Double]): String = {
    val tail = Stats.tail(xs)
    Json.obj(Seq(
      "n" -> xs.size.toString,
      "p50" -> Json.num(Stats.median(xs)),
      "tail_percentile" -> tail.fold("null")(_._1.toString),
      "tail" -> tail.fold("null")(t => Json.num(t._2)),
      "values" -> Json.arr(xs.map(Json.num))))
  }

  /** Write the spans out and summarise them under `key` in the report:
    * per-span self time summed by name (median over operations), and the
    * phase with the most of it. The spans of the report's "trace" go to
    * the run's trace file, any other key's to a file named after it. */
  def trace(ctx: Ctx, key: String, all: Seq[Span], unattributedS: Double, overheadS: Double,
      phases: Seq[String]): Unit = {
    val name = ctx.traceOut.getFileName.toString.stripSuffix(".jsonl")
    val out = ctx.traceOut.resolveSibling(if (key == "trace") s"$name.jsonl" else s"$name.$key.jsonl")
    Files.createDirectories(out.getParent)
    Files.write(out, Tracer.jsonLines(all).mkString("", "\n", "\n").getBytes("UTF-8"))
    val ops = all.groupBy(_.op).values.toSeq
    val selfByName = all.map(_.name).distinct.map { name =>
      name -> Stats.median(ops.map(_.filter(_.name == name)).filter(_.nonEmpty)
        .map(_.map(Tracer.selfS(_, all)).sum))
    }
    val dominant = selfByName.filter(p => phases.contains(p._1)).sortBy(-_._2).headOption
    ctx.report(key) = Json.obj(Seq(
      "file" -> Json.str(out.getFileName.toString),
      "spans" -> all.size.toString,
      "operations" -> ops.size.toString,
      "self_s" -> Json.obj(selfByName.map { case (n, v) => n -> Json.num(v) }),
      "dominant_phase" -> dominant.fold("null")(d => Json.str(d._1)),
      "copyjob.unattributed_s" -> Json.num(unattributedS),
      "trace.overhead_s" -> Json.num(overheadS)))
  }
}
