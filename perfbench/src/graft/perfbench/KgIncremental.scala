package graft.perfbench

import graft.core.Turn
import graft.dicts.Dicts
import graft.pipeline.{Checkpoints, Pipeline}
import graft.streaming.StreamingPipeline
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** `kg_incremental`: the KG layers used as writes. One round commits a
  * fixed sequence of micro-batches through StreamingPipeline.processBatch
  * into fresh state; rounds repeat until the time is up, so every round
  * does the same work whatever the program's speed. After the loop the
  * union of the micro-batches runs through Checkpoints.runPipeline (fresh,
  * then resumed) and Pipeline.run, and all three triple sets must agree.
  */
final class KgIncremental(seed: Long, work: java.nio.file.Path) extends Workload {
  private val Batches = 4
  private val BatchTurns = 1875L
  private val gaz = Gazetteer.generate(seed, nGroups = 700, hotShare = 0.0)
  private val spec = TurnSpec(gaz.surfaces, TurnSpec.zipfCum(gaz.surfaces.length, 0.5), seed = seed)
  private val dicts = gaz.dicts
  private val unionTurns = Batches * BatchTurns

  private var spark: SparkSession = _
  private var bc: Broadcast[Dicts] = _
  private var batches: IndexedSeq[Dataset[Turn]] = IndexedSeq.empty
  private var union: Dataset[Turn] = _
  private var rounds = 0

  private def dir(name: String): String = work.resolve("incremental").resolve(name).toString

  private def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
  }

  private def sizeMb(path: String): Double = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum / 1e6
      finally s.close()
    }
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    bc = Dicts.broadcast(spark, dicts)
    batches = (0 until Batches).map { b =>
      val ds = Transcripts.turns(spark, spec, b * BatchTurns, (b + 1) * BatchTurns)
        .persist(StorageLevel.MEMORY_ONLY)
      ds.count()
      ds
    }
    union = Transcripts.turns(spark, spec, 0, unionTurns).persist(StorageLevel.MEMORY_ONLY)
    union.count()
    // warm-up: the first two commits of a round, into scratch state, so
    // both the fresh-state and the grown-state paths are compiled
    val warm = dir("warm")
    for (b <- 0 until 2)
      StreamingPipeline.processBatch(batches(b), bc, s"$warm/state", s"$warm/out", b.toLong)
    delete(warm)
  }

  /** Nothing to settle: after the two warm-up commits, the first timed
    * round ran as fast as the later ones.
    */
  def settle(rec: Record): Unit = ()

  def release(): Unit = {
    batches.foreach(_.unpersist())
    if (union != null) union.unpersist()
    delete(work.resolve("incremental").toString)
  }

  /** One round of commits; returns the committed-triples digest. Traced,
    * each commit is a span, and the state size after it lands in `stateMb`.
    */
  private def round(rec: Record, times: mutable.Buffer[Double], keep: Boolean,
      tracer: Option[Tracer] = None, stateMb: mutable.Buffer[Double] = mutable.Buffer.empty)
      : Option[(String, String)] = {
    val base = dir(s"round-$rounds")
    rounds += 1
    val ok = (0 until Batches).forall { b =>
      rec.job("processBatch") {
        def commit(): Unit = StreamingPipeline.processBatch(
          batches(b), bc, s"$base/state", s"$base/out", b.toLong)
        times += Main.time(tracer.fold(commit())(_.span("streaming.commit")(commit())))._2
        if (tracer.isDefined) stateMb += sizeMb(s"$base/state")
      }.isDefined
    }
    val out =
      if (!ok) None
      else rec.job("committedTriples")(
        Main.tripleDigest(StreamingPipeline.committedTriples(spark, s"$base/state", s"$base/out")))
    if (!keep) delete(base)
    out.map(_ -> base)
  }

  /** Pair F1 of the canonical surfaces the committed triples give each
    * object surface, taking each surface's latest micro-batch.
    */
  private def committedF1(base: String): Double = {
    val t = StreamingPipeline.committedTriples(spark, s"$base/state", s"$base/out")
    val latest = t.groupBy("obj").agg(max_by(col("obj_canon"), col("batch_id")).as("canon"))
    KgBatch.pairF1(latest, KgBatch.gold(spark, gaz))
  }

  /** Checkpointed (fresh, then resumed) and batch runs over the union of
    * the micro-batches; every digest must equal the streaming one.
    */
  private def crossCheck(rec: Record, streamed: String, tracer: Option[Tracer])
      : Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    val ck = dir("checkpoints")
    def span[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))
    rec.job("Checkpoints.runPipeline fresh") {
      val (dg, s) = Main.time(span("pipeline.checkpoints.write")(
        Main.tripleDigest(Checkpoints.runPipeline(spark, union, dicts, ck))))
      m("ckpt_run_s") = s
      rec.check(s"checkpointed triples $dg != streamed $streamed", dg == streamed)
    }
    rec.job("Checkpoints.runPipeline resumed") {
      val (dg, s) = Main.time(span("pipeline.checkpoints.resume")(
        Main.tripleDigest(Checkpoints.runPipeline(spark, union, dicts, ck))))
      m("ckpt_resume_s") = s
      rec.check(s"resumed triples $dg != streamed $streamed", dg == streamed)
    }
    delete(ck)
    rec.job("Pipeline.run over the union") {
      val dg = tracer match {
        case Some(tr) =>
          val (dg, layers) = KgBatch.tracedPipeline(spark, union, dicts, tr)
          m ++= layers
          dg
        case None =>
          val r = Pipeline.run(spark, union, dicts)
          try Main.tripleDigest(r.triples.toDF()) finally r.unpersist()
      }
      rec.check(s"batch triples $dg != streamed $streamed", dg == streamed)
    }
    m.toMap
  }

  def measure(seconds: Double, rec: Record): Map[String, M] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.Set.empty[String]
    var last = ""
    Main.loop(seconds, minOps = 1) { _ =>
      if (last.nonEmpty) delete(last)
      round(rec, times, keep = true).foreach { case (dg, base) =>
        digests += dg; last = base
      }
    }
    // every round does the same work from fresh state, so the heap after
    // the last one stands for all of them
    val heap = Main.liveHeapMb()
    rec.job("committed triples stable across rounds")(rec.check(s"digests $digests", digests.size == 1))
    val f1 = rec.job("ED quality")(committedF1(last)).getOrElse(0.0)
    val cross = digests.headOption.map(crossCheck(rec, _, None)).getOrElse(Map.empty)
    val p50 = Main.median(times.toSeq)
    rec.report("commit_s_p50") = M(p50, "s")
    rec.report("commit_s_each") = times.toSeq
    Main.tail(times.toSeq) match {
      case Some((p, v)) => rec.report("commit_s_tail") = Map("value" -> v, "unit" -> "s",
        "percentile" -> p, "n" -> times.length)
      case None => rec.report("commit_s_tail") = Map("value" -> "n/a", "n" -> times.length)
    }
    cross.get("ckpt_run_s").foreach(v => rec.report("ckpt_run_s") = M(v, "s"))
    cross.get("ckpt_resume_s").foreach(v => rec.report("ckpt_resume_s") = M(v, "s"))
    // throughput of the median round: a round's turns over the sum of its
    // commit times, so each figure covers a fresh-state commit and the
    // commits into grown state in their fixed proportion
    val perS = unionTurns / Main.median(times.toSeq.grouped(Batches).map(_.sum).toSeq)
    rec.report("turns_per_s") = M(perS, "turns/s")
    rec.report("ed_pair_f1") = M(f1, "ratio")
    Map(
      "items_per_s" -> M(perS, "1/s"),
      "op_s_p50" -> M(p50, "s"),
      "live_heap_mb" -> M(heap, "MB"),
      "quality" -> M(f1, "ratio"))
  }

  def traced(seconds: Double, rec: Record, tracer: Tracer): Map[String, M] = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val commits = mutable.ArrayBuffer.empty[Map[String, Double]]
    val digests = mutable.Set.empty[String]
    Main.loop(seconds, minOps = 2) { i =>
      if (i % 2 == 0) round(rec, plain, keep = false).foreach(r => digests += r._1)
      else {
        val stateMb = mutable.ArrayBuffer.empty[Double]
        round(rec, tracedS, keep = false, Some(tracer), stateMb).foreach(r => digests += r._1)
        tracer.settle()
        val spans = tracer.closed.filter(_.name == "streaming.commit").takeRight(stateMb.length)
        spans.zip(stateMb).foreach { case (s, mb) =>
          commits += Map("streaming.jobs_per_batch" -> s.work.jobs.toDouble,
            "streaming.tasks_per_batch" -> s.work.tasks.toDouble,
            "streaming.bytes_written_mb" -> s.work.outputB / 1e6,
            "streaming.state_mb" -> mb)
        }
      }
    }
    rec.job("committed triples stable across rounds")(rec.check(s"digests $digests", digests.size == 1))
    val cross = digests.headOption.map(crossCheck(rec, _, Some(tracer))).getOrElse(Map.empty)
    tracer.settle()
    val write = tracer.closed.filter(_.name == "pipeline.checkpoints.write").lastOption
    val ckpt = Map(
      "pipeline.checkpoints.write_s" -> cross.getOrElse("ckpt_run_s", 0.0),
      "pipeline.checkpoints.resume_s" -> cross.getOrElse("ckpt_resume_s", 0.0),
      "pipeline.checkpoints.bytes_written_mb" -> write.map(_.work.outputB / 1e6).getOrElse(0.0))
    val batchLayers = cross -- Seq("ckpt_run_s", "ckpt_resume_s", "kg.pipeline.s")
    // both sides are whole rounds of commits, each starting from fresh state
    Layers.summarize(commits.toSeq.map(_ ++ batchLayers ++ ckpt),
      tracedS.toSeq, plain.toSeq)
  }
}
