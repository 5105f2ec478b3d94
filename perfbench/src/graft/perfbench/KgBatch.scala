package graft.perfbench

import graft.core.{Edge, LinkingSample, Turn}
import graft.dicts.Dicts
import graft.ed.{Blocking, ConnectedComponents, EdEval, Linking, PairScorer}
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

object KgBatch {
  /** ~10⁴ surfaces in planted variant groups, every surface present: the
    * distributed blocking / scoring / CC / canon path, with one blocking
    * key past the block cap.
    */
  def wide(seed: Long): KgBatch = {
    val gaz = Gazetteer.generate(seed, nGroups = 3000, hotShare = 0.17)
    val spec = TurnSpec(gaz.surfaces, TurnSpec.zipfCum(gaz.surfaces.length, 0.5), seed = seed)
    new KgBatch(gaz, spec, nTurns = 40000L, minOps = 3)
  }

  /** Block cap the program applies (Blocking.edges' default maxBlockSize). */
  val BlockCap = 1000

  /** Bytes held by cached RDDs, memory and disk. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum

  /** (surface, gold_id) of a gazetteer's planted groups. */
  def gold(spark: SparkSession, gaz: Gazetteer): DataFrame = {
    import spark.implicits._
    gaz.surfaces.toSeq.zip(gaz.group.toSeq).toDF("surface", "gold_id")
  }

  /** Pair F1 (EdEval.pairMetrics) of the canonical ids a triple set gives
    * its object surfaces, against the planted groups.
    */
  def pairF1(objCanon: DataFrame, gold: DataFrame): Double = {
    val comps = objCanon.select(xxhash64(col("obj")).as("id"),
      xxhash64(col("canon").cast("string")).as("component")).distinct()
    val g = gold.select(xxhash64(col("surface")).as("sample_id"), col("gold_id").cast("long"))
    val r = EdEval.pairMetrics(comps, g).select("tp", "fp", "fn").head()
    val (tp, fp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
  }

  /** Blocking keys past the cap and the sample-key rows the cap drops,
    * counted from outside with the program's public key function.
    */
  def cappedKeys(samples: Dataset[LinkingSample], d: Dicts): (Long, Long) = {
    val spark = samples.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(d)
    val over = samples.flatMap(s => Blocking.keysFor(s, bc.value)).toDF("key")
      .groupBy("key").count().filter(col("count") > BlockCap)
      .agg(count(lit(1)), coalesce(sum(col("count") - BlockCap), lit(0L))).head()
    (over.getLong(0), over.getLong(1))
  }

  /** The traced mirror of Pipeline.run: the same calls in the same order
    * and through the same size-gated route, with a span around each layer
    * (as BenchExtra.stages does). Returns the triple digest and the
    * per-layer numbers of this pass.
    */
  def tracedPipeline(spark: SparkSession, turns: Dataset[Turn], d: Dicts, tr: Tracer)
      : (String, Map[String, Double]) = {
    import spark.implicits._
    val m = mutable.LinkedHashMap.empty[String, Double]
    val threshold = PairScorer.Threshold
    var det: Dataset[Pipeline.DetectedRow] = null
    var samples: Dataset[LinkingSample] = null
    var edges: Dataset[Edge] = null
    var digest = ""
    tr.span("kg.pipeline") {
      val bc = Dicts.broadcast(spark, d)
      val cached0 = cachedBytes(spark)
      tr.span("pipeline.detect") {
        det = Pipeline.detectFlat(turns, bc).persist(StorageLevel.MEMORY_AND_DISK)
        m("pipeline.detect.rows_out") = det.count().toDouble
      }
      m("pipeline.detect.cached_mb") = (cachedBytes(spark) - cached0) / 1e6
      val detDF = det.toDF()
      val relations = Pipeline.relationsView(detDF)
      val mentions = Pipeline.mentionsView(detDF)
      tr.span("ed.samples") {
        samples = Linking.samples(mentions, relations).persist(StorageLevel.MEMORY_AND_DISK)
        m("ed.samples.rows_out") = samples.count().toDouble
      }
      val scored = spark.sparkContext.longAccumulator("perfbench.scoredPairs")
      val driver = m("ed.samples.rows_out") <= Blocking.DriverSampleCutoff
      m("ed.blocking.route") = if (driver) 1 else 2
      val canon: DataFrame =
        if (driver) {
          val (local, ev) = tr.span("ed.blocking") {
            val local = samples.collect()
            (local, Blocking.edgesLocal(local, d, threshold, BlockCap, Some(scored)))
          }
          m("ed.blocking.edges_out") = ev.length.toDouble
          val comp = tr.span("ed.cc")(ConnectedComponents.unionFindLocal(ev.map(e => (e.src, e.dst))))
          edges = spark.createDataset(ev).persist(StorageLevel.MEMORY_AND_DISK)
          spark.createDataset(local.toSeq.map(s => (s.mention, comp.getOrElse(s.sample_id, s.sample_id))))
            .toDF("mention", "canonical")
        } else {
          tr.span("ed.blocking") {
            edges = Blocking.edges(samples, bc, threshold, scoredCounter = Some(scored))
              .persist(StorageLevel.MEMORY_AND_DISK)
            m("ed.blocking.edges_out") = edges.count().toDouble
          }
          val c = tr.span("ed.cc")(
            ConnectedComponents.run(samples.select($"sample_id".as[java.lang.Long]), edges))
          Linking.canonicalMap(samples, c)
        }
      m("ed.blocking.pairs_scored") = scored.value.toDouble
      digest = tr.span("pipeline.triples")(
        Main.tripleDigest(Pipeline.backJoinTriples(relations.toDF(), canon)))
      m("pipeline.triples.rows_out") = digest.takeWhile(_ != ':').toDouble
    }
    val root = tr.closed.last
    val (capped, dropped) = cappedKeys(samples, d)
    m("ed.blocking.capped_keys") = capped.toDouble
    m("ed.blocking.capped_rows") = dropped.toDouble
    det.unpersist(); samples.unpersist(); edges.unpersist()

    tr.settle()
    val spans = tr.closed.filter(s => s.startNs >= root.startNs && s.endNs <= root.endNs)
    def layer(name: String) = spans.find(_.name == name).get
    def mb(b: Long) = b / 1e6
    val detect = layer("pipeline.detect")
    m("pipeline.detect.self_s") = tr.selfSeconds(detect)
    m("pipeline.detect.gc_s") = detect.gcS
    m("pipeline.detect.task_cpu_s") = detect.work.cpuNs / 1e9
    val samplesSpan = layer("ed.samples")
    m("ed.samples.self_s") = tr.selfSeconds(samplesSpan)
    m("ed.samples.shuffle_mb") = mb(samplesSpan.work.shuffleWriteB)
    val blocking = layer("ed.blocking")
    m("ed.blocking.self_s") = tr.selfSeconds(blocking)
    m("ed.blocking.shuffle_mb") = mb(blocking.work.shuffleWriteB)
    m("ed.blocking.useful_ratio") =
      if (m("ed.blocking.pairs_scored") == 0) 0.0 else m("ed.blocking.edges_out") / m("ed.blocking.pairs_scored")
    val cc = layer("ed.cc")
    m("ed.cc.self_s") = tr.selfSeconds(cc)
    m("ed.cc.jobs") = cc.work.jobs.toDouble
    m("ed.cc.shuffle_mb") = mb(cc.work.shuffleWriteB)
    val triples = layer("pipeline.triples")
    m("pipeline.triples.self_s") = tr.selfSeconds(triples)
    m("pipeline.triples.shuffle_mb") = mb(triples.work.shuffleWriteB)
    val all = tr.workUnder(root)
    m("spark.jobs") = all.jobs.toDouble
    m("spark.stages") = all.stages.toDouble
    m("spark.gc_s") = root.gcS
    m("spark.shuffle_write_mb") = mb(all.shuffleWriteB)
    m("spark.spill_mb") = mb(all.spillB)
    m("kg.pipeline.s") = root.seconds
    (digest, m.toMap)
  }
}

/** `kg_wide_vocab`: Pipeline.run over generated
  * transcripts; one operation is a run to the complete, checked triple set.
  */
final class KgBatch(gaz: Gazetteer, spec: TurnSpec, nTurns: Long, minOps: Int) extends Workload {
  private var spark: SparkSession = _
  private var turns: Dataset[Turn] = _
  private val dicts = gaz.dicts

  def setup(s: SparkSession): Unit = {
    spark = s
    turns = Transcripts.turns(spark, spec, 0, nTurns).persist(StorageLevel.MEMORY_ONLY)
    turns.count()
    // warm-up: one operation as timed below (with a smaller warm-up, the
    // timed operations of a run still grew faster one after another)
    val r = Pipeline.run(spark, turns, dicts)
    Main.tripleDigest(r.triples.toDF())
    r.unpersist()
  }

  /** One untimed operation: after the set-ups and the full collection,
    * the first Pipeline.run ran 10–20% slower than the next ones.
    */
  def settle(rec: Record): Unit = run(rec).foreach(_._3.unpersist())

  def release(): Unit = if (turns != null) turns.unpersist()

  /** One untraced Pipeline.run, timed to the digested triple set; the
    * caller releases the result.
    */
  private def run(rec: Record): Option[(Double, String, Pipeline.Result)] =
    rec.job("Pipeline.run") {
      val ((r, digest), secs) = Main.time {
        val r = Pipeline.run(spark, turns, dicts)
        (r, Main.tripleDigest(r.triples.toDF()))
      }
      (secs, digest, r)
    }

  /** Checks made once per run, on the last result: every planted mention
    * detected, and the ED quality against the planted groups.
    */
  private def lastChecks(rec: Record, r: Pipeline.Result): Unit = {
    val planted = Transcripts.planted(spark, spec, 0, nTurns)
    val missed = planted.toDF()
      .join(r.mentions.toDF(), Seq("conv_id", "turn_idx", "beg", "surface"), "left_anti").count()
    rec.report("planted_mentions_missed") = missed
    rec.check(s"$missed planted mentions not detected", missed == 0)
    val objCanon = r.triples.toDF().select(col("obj"), col("obj_canonical").as("canon"))
    rec.report("ed_pair_f1") = M(KgBatch.pairF1(objCanon, KgBatch.gold(spark, gaz)), "ratio")
  }

  def measure(seconds: Double, rec: Record): Map[String, M] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.Set.empty[String]
    var last: Option[Pipeline.Result] = None
    Main.loop(seconds, minOps) { _ =>
      last.foreach(_.unpersist())
      last = None
      last = run(rec).map { case (secs, digest, r) =>
        times += secs; digests += digest; r
      }
    }
    // after the last operation, its cached result still held
    val heap = Main.liveHeapMb()
    last.foreach { r =>
      rec.job("last-result checks")(lastChecks(rec, r))
      r.unpersist()
    }
    rec.job("triple digest stable across runs")(rec.check(s"digests $digests", digests.size == 1))
    val f1 = rec.report.get("ed_pair_f1").collect { case m: M => m.value }.getOrElse(0.0)
    // throughput at the median operation: one slow operation in a run
    // does not move it
    val perS = nTurns / Main.median(times.toSeq)
    rec.report("turns_per_s") = M(perS, "turns/s")
    rec.report("op_s_each") = times.toSeq
    Map(
      "items_per_s" -> M(perS, "1/s"),
      "op_s_p50" -> M(Main.median(times.toSeq), "s"),
      "live_heap_mb" -> M(heap, "MB"),
      "quality" -> M(f1, "ratio"))
  }

  def traced(seconds: Double, rec: Record, tracer: Tracer): Map[String, M] = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val digests = mutable.Set.empty[String]
    Main.loop(seconds, minOps = 4) { i =>
      if (i % 2 == 0) run(rec).foreach { case (s, dg, r) => plain += s; digests += dg; r.unpersist() }
      else rec.job("traced pipeline") {
        val (dg, m) = KgBatch.tracedPipeline(spark, turns, dicts, tracer)
        digests += dg; tracedS += m("kg.pipeline.s"); layers += m
      }
    }
    rec.job("traced triples equal untraced")(rec.check(s"digests $digests", digests.size == 1))
    Layers.summarize(layers.toSeq, tracedS.toSeq, plain.toSeq)
  }
}
