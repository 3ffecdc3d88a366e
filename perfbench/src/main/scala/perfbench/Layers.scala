package perfbench

/** The per-layer metric catalogue, `<layer>.<span>.<field>`. Every traced
  * run prints all of them; a layer the workload does not run reads 0.
  * `perfbench/run.py` checks the names and units against BENCHMARK.json. */
object Layers {
  val QueryModules: Seq[String] = Seq("ops", "text", "dedup", "sim", "mm")

  /** The slowest or most-watched queries, named so a one-query change is
    * visible on its own. */
  val Targets: Seq[(String, String)] = Seq(
    "dedup" -> "q179_incremental_components_delta",
    "dedup" -> "q119_lsh_index_probe",
    "dedup" -> "q181_duplicate_spans_ladder",
    "dedup" -> "q178_simhash_wide_against",
    "ops" -> "q96_asof_presplit",
    "sim" -> "q133_ann_pq_adc",
    "sim" -> "q134_ann_ivfpq")

  private val AllFields = Seq("wall_s", "jobs", "tasks", "exec_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "files", "driver_s")
  private val SparkFields = Seq("wall_s", "jobs", "tasks", "exec_cpu_s", "driver_s")

  /** Pipeline spans in the order CopyJob.run reaches them. */
  val PipelineSpans: Seq[(String, Seq[String])] = Seq(
    "watermark.poll" -> SparkFields,
    "watermark.state" -> Seq("wall_s"),
    "sources.probe" -> SparkFields,
    "staging.stage" -> AllFields,
    "staging.validate" -> Seq("wall_s", "jobs", "driver_s"),
    "publish.snapshot" -> AllFields,
    "sinks.jdbc_load" -> (SparkFields ++ Seq("rows", "rows_per_s")),
    "publish.switch" -> Seq("wall_s"),
    "publish.gc" -> Seq("wall_s"),
    "staging.cleanup" -> Seq("wall_s"))

  val QuerySpans: Seq[(String, Seq[String])] =
    QueryModules.map(m => s"$m.queries" -> Seq("wall_s", "jobs", "tasks", "exec_cpu_s",
      "shuffle_write_bytes", "spill_bytes", "driver_s", "driver_share")) ++
      Targets.map { case (m, q) => s"$m.$q" -> Seq("wall_s", "jobs") }

  val Singles: Seq[String] = Seq("publish.stored_bytes_ratio",
    "watermark.useful_copy_ratio", "copyjob.unattributed_s", "trace.overhead_s")

  def unit(name: String): String = name.split('.').last match {
    case "rows_per_s" => "1/s"
    case f if f.endsWith("_s") => "s"
    case f if f.endsWith("_bytes") => "bytes"
    case "jobs" | "tasks" | "files" | "rows" => "count"
    case _ => "ratio"
  }

  def names: Seq[String] =
    (PipelineSpans ++ QuerySpans).flatMap { case (s, fs) => fs.map(f => s"$s.$f") } ++ Singles

  /** Record every per-layer metric: the measured ones, 0 for the rest. */
  def emit(ctx: Ctx, measured: Map[String, Double]): Unit = {
    val unknown = measured.keySet -- names
    require(unknown.isEmpty, s"metrics outside the catalogue: $unknown")
    names.foreach(n => ctx.metrics(n) = (measured.getOrElse(n, 0.0), unit(n)))
  }

  /** Per-layer values of the named spans: each field summed over one
    * operation's spans of that name, then the median over operations. */
  def spanMetrics(spans: Seq[(String, Seq[String])], ops: Seq[Seq[Span]],
      all: Seq[Span], member: (String, Span) => Boolean = _ == _.name): Map[String, Double] =
    spans.flatMap { case (name, fields) =>
      val perOp = ops.map(_.filter(member(name, _))).filter(_.nonEmpty)
        .map(ss => Tracer.aggregate(ss, all))
      if (perOp.isEmpty) Nil
      else fields.map { f =>
        val v = if (f == "rows_per_s")
          Stats.median(perOp.map(a => if (a.wallS > 0) a.field("rows") / a.wallS else 0.0))
        else Stats.median(perOp.map(_.field(f)))
        s"$name.$f" -> v
      }
    }.toMap
}
