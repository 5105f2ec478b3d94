package graft.core

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The one bucket cap behind every candidate generator: ED blocking
  * ([[graft.ed.Blocking]], [[graft.ed.EdEval.edgesBetween]]), MinHash and
  * SimHash dedup ([[graft.ops.Dedup]]) and the LSH ANN family
  * ([[graft.ops.SimilaritySearch]]). Each bounds the O(n²) pair space
  * (SURVEY.md §2.3 J7) with the same rule: keep the k smallest ids of a
  * bucket, then pair them i<j.
  *
  * The cap runs map-side: the [[BoundedMinIds]] / [[BoundedMinSigs]]
  * aggregators cap during PARTIAL aggregation, so a hot bucket (stopword-ish
  * block keys, boilerplate docs, near-identical embeddings) reduces to k
  * ids per map partition before anything shuffles. A `row_number() <= k`
  * window keeps the same ids but ships every member row to one reducer and
  * drops the overflow there (guide §2.3 "aggregate before you shuffle").
  * Equality with the window form is property-pinned in BucketCapSpec.
  */
object BucketCap {

  /** Sorted bounded insert/merge over flat primitive `Array[Long]` buffers
    * of `stride`-long entries (stride 1 = bare ids; stride 2 = id + one
    * payload long). Entries are ordered by (id, payload), so a buffer keeps
    * the same entries under any partial-aggregation or merge order even
    * when ids repeat. The hot-bucket fast path (buffer full, entry at or
    * past the k-th — almost every row of an over-cap bucket) is a single
    * comparison, zero allocation (same discipline as
    * [[graft.ed.Linking.TopKContexts]]). k ≤ 0 keeps nothing.
    */
  private[graft] object BoundedSorted {
    private def payload(b: Array[Long], stride: Int, i: Int): Long =
      if (stride == 2) b(stride * i + 1) else 0L

    /** Entry (a0, a1) orders before (b0, b1). */
    private def before(a0: Long, a1: Long, b0: Long, b1: Long): Boolean =
      a0 < b0 || (a0 == b0 && a1 < b1)

    /** Insert entry (e0[, e1]) into sorted buffer `b`, capped at k entries. */
    def insert(b: Array[Long], stride: Int, k: Int, e0: Long, e1: Long): Array[Long] = {
      val p = if (stride == 2) e1 else 0L
      val n = b.length / stride
      if (n >= k && (n == 0 || !before(e0, p, b(stride * (n - 1)), payload(b, stride, n - 1))))
        return b // full (or k<=0) fast path
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (before(b(stride * mid), payload(b, stride, mid), e0, p)) lo = mid + 1 else hi = mid
      }
      val outN = math.min(n + 1, k)
      val out = new Array[Long](stride * outN)
      System.arraycopy(b, 0, out, 0, stride * lo)
      out(stride * lo) = e0
      if (stride == 2) out(stride * lo + 1) = e1
      System.arraycopy(b, stride * lo, out, stride * (lo + 1), stride * (outN - lo - 1))
      out
    }

    /** Merge two sorted capped buffers, capped at k entries. */
    def merge(b1: Array[Long], b2: Array[Long], stride: Int, k: Int): Array[Long] = {
      if (b2.isEmpty) return b1
      if (b1.isEmpty) return b2
      val n1 = b1.length / stride
      val n2 = b2.length / stride
      val outN = math.max(0, math.min(n1 + n2, k))
      val out = new Array[Long](stride * outN)
      var i = 0; var j = 0; var o = 0
      while (o < outN) {
        val take2 = i >= n1 || (j < n2 &&
          before(b2(stride * j), payload(b2, stride, j), b1(stride * i), payload(b1, stride, i)))
        if (take2) { System.arraycopy(b2, stride * j, out, stride * o, stride); j += 1 }
        else { System.arraycopy(b1, stride * i, out, stride * o, stride); i += 1 }
        o += 1
      }
      out
    }
  }

  /** A bucket's k smallest entries in a [[BoundedSorted]] buffer. */
  sealed abstract class BoundedMin[IN](stride: Int, k: Int) extends Aggregator[IN, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      BoundedSorted.merge(b1, b2, stride, k)
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = bufferEncoder
  }

  /** The k smallest ids of a bucket (stride 1). */
  final class BoundedMinIds(k: Int) extends BoundedMin[Long](1, k) {
    override def reduce(b: Array[Long], id: Long): Array[Long] =
      BoundedSorted.insert(b, 1, k, id, 0L)
  }

  /** The k smallest (id, payload) entries of a bucket (stride 2, buffer
    * [id0, p0, id1, p1, ...]): the payload rides the cap, so a caller needs
    * no payload join afterwards.
    */
  final class BoundedMinSigs(k: Int) extends BoundedMin[(Long, Long)](2, k) {
    override def reduce(b: Array[Long], r: (Long, Long)): Array[Long] =
      BoundedSorted.insert(b, 2, k, r._1, r._2)
  }

  /** Lazy i<j pairs over a sorted buffer of `stride`-long entries
    * ([[BoundedSorted]] layout): `f(a, b)` gets the slot offsets of each
    * entry pair a < b whose ids differ — the `a.id < b.id` self-join of the
    * bucket. Equal ids (only repeated input rows make them) are skipped.
    * Lazy, so a hot bucket never buffers its ~k²/2 pairs.
    */
  def pairs[T](buf: Array[Long], stride: Int)(f: (Int, Int) => T): Iterator[T] = {
    val n = buf.length / stride
    new Iterator[T] {
      private var i = 0
      private var j = 1
      private def advance(): Unit =
        while (i < n - 1 && (j >= n || buf(stride * i) == buf(stride * j))) {
          if (j >= n) { i += 1; j = i + 1 } else j += 1
        }
      advance()
      override def hasNext: Boolean = i < n - 1 && j < n
      override def next(): T = { val p = f(stride * i, stride * j); j += 1; advance(); p }
    }
  }

  /** One row per bucket of `df` (grouped on `keys`) with its k smallest
    * long `id`s as the sorted array column `ids`.
    */
  private def cappedIds(df: DataFrame, keys: Seq[String], id: String, k: Int): DataFrame = {
    val minIds = udaf(new BoundedMinIds(k))
    df.groupBy(keys.map(col): _*).agg(minIds(col(id).cast("long")).as("ids"))
  }

  /** (keys..., `id`) rows: the k smallest ids of each bucket — the form for
    * callers that join the capped bucket against another side.
    */
  def cappedRows(df: DataFrame, keys: Seq[String], id: String, k: Int): DataFrame =
    cappedIds(df, keys, id, k).select(keys.map(col) :+ explode(col("ids")).as(id): _*)

  /** Distinct (src, dst) pairs, src < dst, of ids sharing a capped bucket —
    * the form for callers that pair a set with itself. The pairs are
    * enumerated inside each aggregated bucket row, so no self-join runs.
    */
  def inBucketPairs(df: DataFrame, keys: Seq[String], id: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cappedIds(df, keys, id, k).select("ids").as[Array[Long]]
      .flatMap(ids => pairs(ids, 1)((a, b) => (ids(a), ids(b))))
      .toDF("src", "dst")
      .distinct()
  }
}
