package graft.perfbench

/** The per-layer metrics of a traced run. Every traced run prints all of
  * them; a layer the workload does not exercise reads 0.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "pipeline.detect.self_s" -> "s",
    "pipeline.detect.rows_out" -> "rows",
    "pipeline.detect.cached_mb" -> "MB",
    "pipeline.detect.gc_s" -> "s",
    "pipeline.detect.task_cpu_s" -> "s",
    "ed.samples.self_s" -> "s",
    "ed.samples.shuffle_mb" -> "MB",
    "ed.samples.rows_out" -> "rows",
    "ed.blocking.self_s" -> "s",
    "ed.blocking.pairs_scored" -> "count",
    "ed.blocking.edges_out" -> "count",
    "ed.blocking.useful_ratio" -> "ratio",
    "ed.blocking.shuffle_mb" -> "MB",
    "ed.blocking.capped_keys" -> "count",
    "ed.blocking.capped_rows" -> "count",
    "ed.blocking.route" -> "route",
    "ed.cc.self_s" -> "s",
    "ed.cc.jobs" -> "count",
    "ed.cc.shuffle_mb" -> "MB",
    "pipeline.triples.self_s" -> "s",
    "pipeline.triples.rows_out" -> "rows",
    "pipeline.triples.shuffle_mb" -> "MB",
    "pipeline.checkpoints.write_s" -> "s",
    "pipeline.checkpoints.bytes_written_mb" -> "MB",
    "pipeline.checkpoints.resume_s" -> "s",
    "streaming.jobs_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count",
    "streaming.state_mb" -> "MB",
    "streaming.bytes_written_mb" -> "MB",
    "ops.dedup.exact_s" -> "s",
    "ops.dedup.minhash_s" -> "s",
    "ops.dedup.simhash_s" -> "s",
    "ops.dedup.candidates" -> "count",
    "ops.dedup.useful_ratio" -> "ratio",
    "ops.ann.lsh_s" -> "s",
    "ops.ann.cosine_s" -> "s",
    "ops.ann.candidates" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  /** Median of each metric over the traced passes, plus the tracing
    * overhead: median traced over median untraced operation time.
    */
  def summarize(passes: Seq[Map[String, Double]], traced: Seq[Double], plain: Seq[Double])
      : Map[String, M] = {
    val overhead = Main.median(traced) / Main.median(plain)
    val withOverhead = passes.map(_ + ("trace.overhead_ratio" -> overhead))
    Units.map { case (name, unit) =>
      val xs = withOverhead.flatMap(_.get(name))
      name -> M(if (xs.isEmpty) 0.0 else Main.median(xs), unit)
    }.toMap
  }
}
