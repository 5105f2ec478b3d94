package graft.perfbench

import graft.ops.{Dedup, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

object NearDup {
  /** What one operation returns: the five collected results. */
  final case class Out(exact: Set[(Long, Long)], minhash: Set[(Long, Long)],
      simhash: Set[(Long, Long)], lsh: Set[(Long, Long)], cosine: Set[(Long, Long)]) {
    def digest: Int = (exact, minhash, simhash, lsh, cosine).hashCode
  }
}

/** `near_dup_corpus`: the five dedup / similarity operators over a
  * generated corpus with planted exact and near-duplicate clusters. One
  * operation runs all five to collected, checked outputs.
  */
final class NearDup(seed: Long) extends Workload {
  import NearDup.Out

  private val spec = CorpusSpec(nBase = 2000, nClusters = 200, nExact = 100, docLen = 40,
    vocab = 5000, dim = 32, seed = seed)
  private val warmSpec = spec.copy(nBase = 1000, nClusters = 100, nExact = 50)
  private val QueryStride = 30
  private val CosineThreshold = 0.9

  private val nearPairs = spec.nearPairs.toSet
  private val exactPairs = spec.exactPairs.toSet

  private var docs: DataFrame = _

  private def embeddings(d: DataFrame): DataFrame = d.select(col("doc_id").as("vec_id"), col("embedding"))
  private def queries(d: DataFrame): DataFrame =
    embeddings(d).filter(col("vec_id") % QueryStride === 0)

  private def pairs(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long")).collect()
      .iterator.map(r => (r.getLong(0), r.getLong(1))).toSet

  /** One pass over the five operators; `span` wraps each call. */
  private def pass(d: DataFrame, span: String => (=> Set[(Long, Long)]) => Set[(Long, Long)]): Out = {
    val exact = span("ops.dedup.exact")(
      pairs(Dedup.exact(d).filter(col("n_copies") > 1), "keeper", "n_copies"))
    val minhash = span("ops.dedup.minhash")(pairs(Dedup.minhashDupes(d), "src", "dst"))
    val simhash = span("ops.dedup.simhash")(pairs(Dedup.simhashDupes(d), "src", "dst"))
    val lsh = span("ops.ann.lsh")(pairs(SimilaritySearch.lshTopK(embeddings(d), queries(d), 5),
      "query_id", "neighbor_id"))
    val cosine = span("ops.ann.cosine")(pairs(SimilaritySearch.cosineDupes(embeddings(d), CosineThreshold),
      "src", "dst"))
    Out(exact, minhash, simhash, lsh, cosine)
  }

  private val untraced: String => (=> Set[(Long, Long)]) => Set[(Long, Long)] = _ => f => f

  def setup(spark: SparkSession): Unit = {
    docs = spec.docs(spark).persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    val warm = warmSpec.docs(spark).persist(StorageLevel.MEMORY_ONLY)
    pass(warm, untraced)
    warm.unpersist()
  }

  /** One untimed pass: the warm-up runs on a smaller corpus, and the
    * first full-size pass of a run was up to 30% slower than the next ones.
    */
  def settle(rec: Record): Unit = rec.job("near-dup pass")(checkOut(rec, pass(docs, untraced)))

  def release(): Unit = if (docs != null) docs.unpersist()

  private def checkOut(rec: Record, o: Out): Unit = {
    val planted = nearPairs ++ exactPairs ++ spec.copyPairs
    rec.check(s"exact groups ${o.exact.size} != planted ${exactPairs.size}",
      o.exact == exactPairs.map { case (k, _) => (k, 2L) })
    rec.check("minhash pair outside the planted clusters", o.minhash.subsetOf(planted))
    rec.check("simhash pair outside the planted clusters", o.simhash.subsetOf(planted))
    rec.check("cosine pair outside the planted clusters", o.cosine.subsetOf(planted))
    rec.check("lsh top-k returned no neighbours", o.lsh.nonEmpty)
  }

  private def recall(found: Set[(Long, Long)]): Double =
    nearPairs.count(found).toDouble / nearPairs.size

  def measure(seconds: Double, rec: Record): Map[String, M] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.Set.empty[Int]
    var last: Out = null
    Main.loop(seconds, minOps = 3) { _ =>
      rec.job("near-dup pass") {
        val (o, s) = Main.time(pass(docs, untraced))
        times += s; digests += o.digest; last = o
        checkOut(rec, o)
      }
    }
    val heap = Main.liveHeapMb()
    rec.job("outputs stable across passes")(rec.check(s"digests $digests", digests.size == 1))
    val dedupRecall = if (last == null) 0.0 else recall(last.minhash)
    // throughput at the median pass
    val perS = spec.nDocs / Main.median(times.toSeq)
    rec.report("docs_per_s") = M(perS, "docs/s")
    rec.report("dedup_recall") = M(dedupRecall, "ratio")
    if (last != null) {
      rec.report("simhash_recall") = M(recall(last.simhash), "ratio")
      rec.report("cosine_dupes_recall") = M(recall(last.cosine), "ratio")
      rec.job("ann recall") {
        val exact = SimilaritySearch.bruteForceTopK(embeddings(docs), queries(docs), 5)
        val r = SimilaritySearch.recallAtK(
          SimilaritySearch.lshTopK(embeddings(docs), queries(docs), 5), exact)
        rec.report("ann_recall_at_5") = M(r, "ratio")
      }
    }
    rec.report("op_s_each") = times.toSeq
    Map(
      "items_per_s" -> M(perS, "1/s"),
      "op_s_p50" -> M(Main.median(times.toSeq), "s"),
      "live_heap_mb" -> M(heap, "MB"),
      "quality" -> M(dedupRecall, "ratio"))
  }

  def traced(seconds: Double, rec: Record, tracer: Tracer): Map[String, M] = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val digests = mutable.Set.empty[Int]
    val traceSpan: String => (=> Set[(Long, Long)]) => Set[(Long, Long)] = n => f => tracer.span(n)(f)
    Main.loop(seconds, minOps = 4) { i =>
      rec.job("near-dup pass") {
        if (i % 2 == 0) {
          val (o, s) = Main.time(pass(docs, untraced))
          plain += s; digests += o.digest; checkOut(rec, o)
        } else {
          val o = tracer.span("ops.pass")(pass(docs, traceSpan))
          tracer.settle()
          val root = tracer.closed.last
          val spans = tracer.closed.filter(s => s.startNs >= root.startNs && s.endNs <= root.endNs)
          def self(n: String) = tracer.selfSeconds(spans.find(_.name == n).get)
          val all = tracer.workUnder(root)
          tracedS += root.seconds; digests += o.digest; checkOut(rec, o)
          passes += Map(
            "ops.dedup.exact_s" -> self("ops.dedup.exact"),
            "ops.dedup.minhash_s" -> self("ops.dedup.minhash"),
            "ops.dedup.simhash_s" -> self("ops.dedup.simhash"),
            "ops.ann.lsh_s" -> self("ops.ann.lsh"),
            "ops.ann.cosine_s" -> self("ops.ann.cosine"),
            "spark.jobs" -> all.jobs.toDouble,
            "spark.stages" -> all.stages.toDouble,
            "spark.gc_s" -> root.gcS,
            "spark.shuffle_write_mb" -> all.shuffleWriteB / 1e6,
            "spark.spill_mb" -> all.spillB / 1e6,
            "minhash_pairs" -> o.minhash.size.toDouble,
            "cosine_pairs" -> o.cosine.size.toDouble)
        }
      }
    }
    rec.job("traced outputs equal untraced")(rec.check(s"digests $digests", digests.size == 1))
    // candidate counts, from outside the operators with their default settings
    val counts = rec.job("candidate counts") {
      val minhashCand = Dedup.lshCandidates(Dedup.minhashBandSignatures(docs)).count().toDouble
      // cosineDupes' bucket self-join rows: C(n, 2) per (band, bucket),
      // n capped at its default maxBucket, over 4 bands of 4 signature bits
      val sig = SimilaritySearch.signatures(embeddings(docs)).select(col("sig"))
      val annCand = sig.select(explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), shiftright(col("sig"), b * 4).bitwiseAND(15L).as("bh"))): _*)).as("x"))
        .groupBy(col("x.band"), col("x.bh")).count()
        .select(least(col("count"), lit(4096L)).as("n"))
        .agg(sum(col("n") * (col("n") - 1) / 2)).head().getDouble(0)
      (minhashCand, annCand)
    }.getOrElse((0.0, 0.0))
    val withCounts = passes.toSeq.map { p =>
      p ++ Map("ops.dedup.candidates" -> counts._1, "ops.ann.candidates" -> counts._2,
        "ops.dedup.useful_ratio" -> (if (counts._1 == 0) 0.0 else p("minhash_pairs") / counts._1))
    }
    Layers.summarize(withCounts, tracedS.toSeq, plain.toSeq)
  }
}
