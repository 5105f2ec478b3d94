package graft.ed

import graft.core.LinkingSample
import graft.dicts.Dicts
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}

/** G3 — hierarchical agglomerative clustering with single / complete /
  * average linkage (`somenlp/entity_disambiguation/clustering.py:115-251`,
  * `Clustering.cluster`). The reference's PRODUCTION path is single linkage
  * (`configurations/PMC/ED/config_split.json`), which this engine realizes
  * as connected components over thresholded edges; complete/average linkage
  * change the merge criterion and cannot be expressed as CC — they need the
  * true agglomerative loop.
  *
  * Reference semantics mirrored exactly:
  *  - all clusters start as singletons; each round finds the GLOBAL minimum
  *    cluster distance (linkage over all member-pair distances),
  *  - ALL pairs within `math.isclose` of the minimum merge in the same
  *    round, transitively (`_match_clusters`, clustering.py:188-200),
  *  - stop when the global minimum exceeds the threshold
  *    (clustering.py:236-238: merge while ≤ threshold).
  *
  * Spark shape: HAC is inherently sequential per candidate set, so the
  * distributed form runs ONE INDEPENDENT HAC PER BLOCK inside `mapGroups`
  * — blocks are the bounded candidate sets the blocking stage already
  * produces (≤ maxBlock members), so the O(n³) inner loop is capped and
  * every block clusters in parallel. Cross-block merging is out of scope by
  * construction, exactly like the reference's per-candidate-set clustering
  * in the split-evaluation path.
  */
object Hac {

  /** Python `math.isclose` defaults: rel_tol 1e-9, abs_tol 0. */
  private def isClose(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Pairwise distance matrix with ONE dist() call per unordered pair,
    * mirrored (the scorer is the expensive part; scored-once is an
    * invariant everywhere in this engine) — shared by [[cluster]] and
    * [[intervalCluster]].
    */
  private def pairwiseMatrix(n: Int, dist: (Int, Int) => Double): Array[Array[Double]] = {
    val d = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val v = dist(i, j)
        d(i)(j) = v
        d(j)(i) = v
        j += 1
      }
      i += 1
    }
    d
  }

  /** One HAC run over a bounded set. `dist(i, j)` is the pairwise item
    * distance (indices into `ids`). Returns item id → cluster id, where the
    * cluster id is the minimum member id (deterministic representative —
    * the reference uses fresh integer ids, which are not stable keys).
    */

  /** Linkage distance over the cached condensed matrix — ONE definition
    * shared by [[cluster]] and [[intervalCluster]] (round-5 review found it
    * duplicated verbatim, like the merge loop below).
    */
  private def linkDistFn(d: Array[Array[Double]], linkage: String)(
      a: Vector[Int], b: Vector[Int]): Double = {
    val all = for (x <- a; y <- b) yield d(x)(y)
    linkage match {
      case "single"   => all.min
      case "complete" => all.max
      case "average"  => all.sum / all.length
    }
  }

  /** Transitive merge of tied/below-threshold pairs (_match_clusters):
    * union overlapping pair-sets, then replace the member clusters with one
    * fresh-id cluster per group. Returns (clusters, nextId).
    */
  private def mergeGroups(matches: Vector[(Int, Int)],
      clusters0: Map[Int, Vector[Int]], nextId0: Int): (Map[Int, Vector[Int]], Int) = {
    var groups = matches.map { case (a, b) => Set(a, b) }
    var merged = true
    while (merged) {
      merged = false
      var i = 0
      while (i < groups.length && !merged) {
        var j = i + 1
        while (j < groups.length && !merged) {
          if ((groups(i) & groups(j)).nonEmpty) {
            groups = groups.updated(i, groups(i) | groups(j)).patch(j, Nil, 1)
            merged = true
          }
          j += 1
        }
        i += 1
      }
    }
    var clusters = clusters0
    var nextId = nextId0
    for (g <- groups) {
      val members = g.toVector.flatMap(clusters(_))
      clusters = clusters -- g
      clusters += (nextId -> members)
      nextId += 1
    }
    (clusters, nextId)
  }

  def cluster(ids: IndexedSeq[Long], dist: (Int, Int) => Double,
      linkage: String, threshold: Double): Map[Long, Long] = {
    require(Set("single", "complete", "average")(linkage), s"unknown linkage $linkage")
    val n = ids.length
    if (n == 0) return Map.empty
    if (n == 1) return Map(ids(0) -> ids(0))
    // cache the item-pair distances once (the reference precomputes the
    // condensed matrix)
    val d = pairwiseMatrix(n, dist)

    var clusters: Map[Int, Vector[Int]] = (0 until n).map(i => i -> Vector(i)).toMap
    var nextId = n
    var done = false
    val linkDist = linkDistFn(d, linkage) _
    while (!done && clusters.size > 1) {
      val keys = clusters.keys.toIndexedSeq.sorted
      // TWO passes — exact global minimum first, THEN collect all pairs
      // isClose to it, exactly the reference's min-then-collect order
      // (round-5 review: the old single-pass kept a STALE `smallest` when a
      // close-from-below value was appended as a tie, so a later value
      // close to the true minimum but not to the stale one dropped ties the
      // reference merges, and the stale `smallest > threshold` stop test
      // could end a round early). Pair values are computed once per round
      // and reused across the two passes.
      val pairs = (for (ai <- keys.indices; bi <- ai + 1 until keys.length)
        yield (keys(ai), keys(bi))).toVector
      val vals = pairs.map { case (a, b) => linkDist(clusters(a), clusters(b)) }
      // Double.PositiveInfinity, NOT the reference's implicit 1.0 bound: the
      // public dist() is caller-supplied and unbounded, and a 1.0 sentinel
      // would make any distance in (1.0, threshold] unreachable.
      val smallest = if (vals.isEmpty) Double.PositiveInfinity else vals.min
      val matches = pairs.iterator.zip(vals.iterator)
        .collect { case (p, v) if isClose(smallest, v) => p }.toVector
      if (smallest > threshold || matches.isEmpty) done = true
      else {
        val (c2, id2) = mergeGroups(matches, clusters, nextId)
        clusters = c2
        nextId = id2
      }
    }
    clusters.values.flatMap { members =>
      val root = members.map(ids(_)).min
      members.map(m => ids(m) -> root)
    }.toMap
  }

  /** G3b — the reference's `IntervalClustering` (`clustering.py:252-449`):
    * instead of merging at the global minimum distance per round, sweep
    * `nIntervals` equally spaced thresholds over [0, threshold]
    * (`np.linspace`, first point 0 skipped — `clustering.py:276,400`); at
    * each interval EVERY cluster pair whose linkage distance ≤ the interval
    * merges, TRANSITIVELY, in one batch (`_match_clusters` over the full
    * below-interval pair list, `clustering.py:316-328,403-417`). Newly
    * formed clusters are not re-examined until the next interval (the
    * reference's `new_clusters` bookkeeping). Consequences, pinned in
    * HacSpec:
    *  - single linkage converges to the same components as [[cluster]];
    *  - complete/average linkage can merge MORE aggressively than exact
    *    HAC: a batch chain a–b, b–c merges {a,b,c} even when the complete
    *    distance a–c exceeds the threshold — the batched schedule IS the
    *    reference algorithm, not an approximation of [[cluster]].
    */
  def intervalCluster(ids: IndexedSeq[Long], dist: (Int, Int) => Double,
      linkage: String, threshold: Double, nIntervals: Int): Map[Long, Long] = {
    require(Set("single", "complete", "average")(linkage), s"unknown linkage $linkage")
    require(nIntervals >= 2, "need at least 2 linspace points (0 and threshold)")
    val n = ids.length
    if (n == 0) return Map.empty
    if (n == 1) return Map(ids(0) -> ids(0))
    val d = pairwiseMatrix(n, dist)
    val linkDist = linkDistFn(d, linkage) _
    // linspace(0, threshold, nIntervals) without the leading 0
    val intervals = (1 until nIntervals).map(i => threshold * i / (nIntervals - 1.0))
    var clusters: Map[Int, Vector[Int]] = (0 until n).map(i => i -> Vector(i)).toMap
    var nextId = n
    for (interval <- intervals) {
      val keys = clusters.keys.toIndexedSeq.sorted
      val matches = for {
        ai <- keys.indices
        bi <- ai + 1 until keys.length
        if linkDist(clusters(keys(ai)), clusters(keys(bi))) <= interval
      } yield (keys(ai), keys(bi))
      if (matches.nonEmpty) {
        val (c2, id2) = mergeGroups(matches.toVector, clusters, nextId)
        clusters = c2
        nextId = id2
      }
    }
    clusters.values.flatMap { members =>
      val root = members.map(ids(_)).min
      members.map(m => ids(m) -> root)
    }.toMap
  }

  /** Distributed per-block HAC: samples group by their PRIMARY blocking key
    * (the `n:` normalized surface by default — override `blockKey` for
    * coarser candidate sets), each block clusters independently with the
    * full [[PairScorer]] distance. Output (id, component) — same contract
    * as [[ConnectedComponents.run]].
    *
    * Blocks beyond `maxBlock` members are truncated by deterministic
    * sample_id rank (overflow members stay singletons) — the O(n³) loop
    * must stay bounded; the reference simply OOMs on such sets.
    */
  def clusters(samples: Dataset[LinkingSample], dicts: Broadcast[Dicts],
      threshold: Double, linkage: String,
      blockKey: LinkingSample => String = s => s.norm,
      maxBlock: Int = 256,
      nIntervals: Option[Int] = None): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .groupByKey(blockKey)
      .flatMapGroups { (_, it) =>
        val all = it.toVector.sortBy(_.sample_id)
        val (inBlock, overflow) = all.splitAt(maxBlock)
        val d = dicts.value
        val ids = inBlock.map(_.sample_id)
        val prepared = inBlock.map(PairScorer.prepare(_, d))
        val distFn = (i: Int, j: Int) => PairScorer.distance(prepared(i), prepared(j))
        val assigned = nIntervals match {
          case Some(k) => intervalCluster(ids, distFn, linkage, threshold, k)
          case None    => cluster(ids, distFn, linkage, threshold)
        }
        assigned.iterator.map { case (id, root) => (id, root) } ++
          overflow.iterator.map(s => (s.sample_id, s.sample_id))
      }
      .toDF("id", "component")
  }
}
