package graft.ed

import graft.core._
import graft.dicts.Dicts
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ED blocking + blocked pair join — the Spark-native replacement for the
  * reference's triangular row-range sharding of the O(n²) pair space
  * (SURVEY.md §2.3 J7, `bin/efficient_entity_disambiguation:59-77`,
  * `efficient_prediction.py:196-256`).
  *
  * Instead of geometric sharding, pairs are generated only within semantic
  * blocks keyed on the normalized surface form (north_star: "blocking by
  * normalized surface form"). Each sample emits several candidate keys;
  * pairs sharing ≥1 key are scored; edge set is deduplicated on (src,dst).
  *
  * Keys per sample:
  *   - `n:` the full normalize(F1) form — case/punctuation variants collide
  *   - `p:` the first 4 chars of the space-stripped norm — catches tail
  *     typos and version-suffix variants
  *   - `a:` the generated acronym of the norm (>2 tokens) AND, symmetrically,
  *     the norm itself when it is short (≤6 chars, a potential acronym) —
  *     so "SPSS" and "Statistical Package for the Social Sciences" share `a:spss`
  *   - `d:` each DBpedia canonical the surface maps to (label_mapping /
  *     unique_mapping) — known alt names collide regardless of lexical shape
  *
  * Skew control (north_rule): hot blocks (stopword-ish norms, popular
  * surfaces like "python") keep their `maxBlockSize` smallest sample_ids,
  * capped map-side by [[BucketCap]] (the cap every candidate generator
  * shares); dropped sample-key rows
  * only lose *fuzzy* edges — the exact-match path is the `n:` key, which is
  * never truncated below the cap because identical surfaces were already
  * deduplicated into one sample (G1). AQE skew-join handles residual
  * imbalance.
  */
object Blocking {

  /** (key, `idName`) rows: every blocking key of every sample. */
  private def keyed(samples: Dataset[LinkingSample], dicts: Broadcast[Dicts],
      idName: String): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples.flatMap(s => keysFor(s, dicts.value).map(k => (k, s.sample_id))).toDF("key", idName)
  }

  /** Blocking keys of `samples` with the per-key skew cap, for the
    * cross-set compare join ([[EdEval.edgesBetween]]): (key, `idName`)
    * rows, the `maxBlockSize` smallest sample_ids per key
    * ([[BucketCap.cappedRows]] — the same cap [[edges]] applies).
    */
  def keyedCapped(samples: Dataset[LinkingSample], dicts: Broadcast[Dicts],
      idName: String, maxBlockSize: Int): DataFrame =
    BucketCap.cappedRows(keyed(samples, dicts, idName), Seq("key"), idName, maxBlockSize)

  def keysFor(s: LinkingSample, d: Dicts): Seq[String] = {
    val norm = s.norm
    val noSpace = norm.replace(" ", "")
    val keys = Seq.newBuilder[String]
    keys += s"n:$norm"
    if (noSpace.length >= 4) keys += s"p:${noSpace.substring(0, 4)}"
    val abbr = Normalize.generatedAbbr(norm)
    if (abbr.nonEmpty) keys += s"a:$abbr"
    else if (noSpace.nonEmpty && noSpace.length <= 6) keys += s"a:$noSpace"
    // DBpedia canonical keys (on the glued surface, as the scorer uses it)
    val canonicals =
      if (d.dbpediaUnique.contains(s.string)) Set(s.string)
      else d.dbpediaLabel.getOrElse(s.string, Set.empty)
    canonicals.foreach(c => keys += s"d:$c")
    keys.result().distinct
  }

  /** Deduplicated-sample-count cutoff below which Pipeline.run's
    * small-vocabulary route runs the whole blocked pair join on the driver
    * ([[edgesLocal]]; same rationale as
    * [[ConnectedComponents.DriverEdgeCutoff]]): a tiny sample set costs
    * more in the stage barriers of the distributed key/cap/join/dedup/
    * score chain than in memory, and the worst case is bounded — ≤ cutoff
    * samples × ≤ maxBlockSize block members ⇒ ≤ cutoff²/2 scored pairs.
    */
  val DriverSampleCutoff = 256L

  /** Candidate pairs (src < dst) within blocks; scored edges ≤ threshold.
    *
    * Shuffle profile: one shuffle to group by block key — capped map-side,
    * so a hot key ships at most `maxBlockSize` ids per map partition — pair
    * generation inside each capped block ([[BucketCap.inBucketPairs]]; no
    * self-join, no cross-block work), then a distinct on (src,dst) — both
    * shuffles are on compact rows.
    * The candidates stay ids-only through scoring: [[scoreCandidates]]
    * looks both ends up in a broadcast of the samples' scoring fields, so
    * no sample payload is joined or shuffled per pair.
    *
    * The sample set is assumed vocabulary-sized — one row per distinct
    * surface, as the reference also holds its sample set in memory — and
    * its `sample_id`s unique: its scoring fields are collected to the
    * driver when this is called.
    */
  def edges(
      samples: Dataset[LinkingSample],
      dicts: Broadcast[Dicts],
      threshold: Double = PairScorer.Threshold,
      maxBlockSize: Int = 1000,
      scoredCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Edge] = {
    // within-block candidate pairs, i<j (J7 bounded θ-join), over the
    // deterministic per-block cap
    val candidates = BucketCap.inBucketPairs(keyed(samples, dicts, "id"), Seq("key"), "id", maxBlockSize)
    val fields = scoringFields(samples)
    scoreCandidates(candidates, fields, fields, dicts, threshold, scoredCounter)
  }

  /** Scoring fields (`string`, `norm`, `relations`) of a sample set —
    * everything [[PairScorer.prepare]] reads of a sample — as columns
    * sorted by `sample_id`, so a partition looks an id up by binary search
    * and memoizes its prepared form in a slot of the same index.
    */
  private[ed] final class ScoringFields(
      ids: Array[Long],
      strings: Array[String],
      norms: Array[String],
      relations: Array[Seq[RelInfo]]) extends Serializable {

    /** Id → prepared sample, preparing each sample at most once. */
    def memo(d: Dicts): Long => PairScorer.Prepared = {
      val prepared = new Array[PairScorer.Prepared](ids.length)
      id => {
        val i = java.util.Arrays.binarySearch(ids, id)
        if (prepared(i) == null) prepared(i) = PairScorer.prepare(strings(i), norms(i), relations(i), d)
        prepared(i)
      }
    }
  }

  /** Collects and broadcasts the [[ScoringFields]] of `samples` for
    * [[scoreCandidates]]. Fails fast when an id repeats: the lookup could
    * then keep only one of its rows.
    */
  private[ed] def scoringFields(samples: Dataset[LinkingSample]): Broadcast[ScoringFields] = {
    val spark = samples.sparkSession
    import spark.implicits._
    val rows = samples.select("sample_id", "string", "norm", "relations")
      .as[(Long, String, String, Seq[RelInfo])].collect().sortBy(_._1)
    val repeats = rows.iterator.sliding(2).count(w => w.length == 2 && w(0)._1 == w(1)._1)
    require(repeats == 0, s"ED scoring expects one sample per sample_id; $repeats ids repeat")
    spark.sparkContext.broadcast(new ScoringFields(
      rows.map(_._1), rows.map(_._2), rows.map(_._3), rows.map(_._4)))
  }

  /** The ONE distributed scoring kernel, shared with
    * [[EdEval.edgesBetween]]: scores ids-only (src, dst) candidates,
    * looking `src` up in `left` and `dst` in `right` (the same broadcast
    * for an in-set join; separate ones for a cross-set join, whose sets
    * may carry the same id with different contexts). Each partition
    * prepares a sample once ([[PairScorer.prepare]]) and keeps it in a
    * memo; [[PairScorer.cannotLink]] rejects a pair on lengths alone
    * before the string kernels run. `scoredCounter` counts every
    * candidate, filtered ones included.
    */
  private[ed] def scoreCandidates(
      candidates: DataFrame,
      left: Broadcast[ScoringFields],
      right: Broadcast[ScoringFields],
      dicts: Broadcast[Dicts],
      threshold: Double,
      scoredCounter: Option[org.apache.spark.util.LongAccumulator]): Dataset[Edge] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val sameSides = left.id == right.id
    candidates.select(col("src"), col("dst")).as[(Long, Long)].mapPartitions { it =>
      val lhs = left.value.memo(dicts.value)
      val rhs = if (sameSides) lhs else right.value.memo(dicts.value)
      it.flatMap { case (src, dst) =>
        scoredCounter.foreach(_.add(1)) // evidence: pair scoring runs ONCE
        val (pa, pb) = (lhs(src), rhs(dst))
        if (PairScorer.cannotLink(pa, pb, threshold)) Iterator.empty
        else {
          val dist = PairScorer.distance(pa, pb)
          if (dist <= threshold) Iterator(Edge(src, dst, dist)) else Iterator.empty
        }
      }
    }
  }

  /** The driver-side pair join of Pipeline.run's small-vocabulary route
    * (which already holds the collected samples): same keys ([[keysFor]]),
    * same per-key cap and i<j pair enumerator ([[BucketCap]]), same
    * (src,dst) dedup BEFORE scoring (the scored-once contract — the accumulator counts identically), same
    * scorer, filter and threshold as [[edges]]. Edge-set equality with
    * [[edges]] is property-pinned in src/test.
    */
  private[graft] def edgesLocal(
      local: Array[LinkingSample],
      d: Dicts,
      threshold: Double,
      maxBlockSize: Int,
      scoredCounter: Option[org.apache.spark.util.LongAccumulator]): Vector[Edge] = {
    val byId = local.map(s => s.sample_id -> PairScorer.prepare(s, d)).toMap
    val blocks = scala.collection.mutable.LinkedHashMap.empty[String, Array[Long]]
    local.foreach { s =>
      keysFor(s, d).foreach(k => blocks(k) = BucketCap.BoundedSorted.insert(
        blocks.getOrElse(k, Array.emptyLongArray), 1, maxBlockSize, s.sample_id, 0L))
    }
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val out = Vector.newBuilder[Edge]
    for (ids <- blocks.valuesIterator; (src, dst) <- BucketCap.pairs(ids, 1)((a, b) => (ids(a), ids(b)))
         if seen.add((src, dst))) {
      scoredCounter.foreach(_.add(1))
      val (pa, pb) = (byId(src), byId(dst))
      if (!PairScorer.cannotLink(pa, pb, threshold)) {
        val dist = PairScorer.distance(pa, pb)
        if (dist <= threshold) out += Edge(src, dst, dist)
      }
    }
    out.result()
  }
}
