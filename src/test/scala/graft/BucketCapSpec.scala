package graft

import graft.core.BucketCap
import graft.core.BucketCap.BoundedSorted
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The bucket cap and pair enumerator every candidate generator shares,
  * tested once for all callers: the kernel against a sort-and-take, the
  * DataFrame helpers against the `row_number() <= k` window form.
  */
class BucketCapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  /** A stream of (id, payload) entries over a tiny id domain, so ids repeat
    * with equal and with different payloads.
    */
  private val genStream: Gen[Vector[(Long, Long)]] = Gen.choose(0, 40).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 3L))).map(_.toVector))

  test("BoundedSorted keeps sortBy((id, payload)).take(k) under any split and merge order") {
    check(Prop.forAll(genStream, Gen.choose(0, 8), Gen.oneOf(1, 2), Gen.long) {
      (stream, k, stride, seed) =>
        val rnd = new scala.util.Random(seed)
        // random partial aggregations: split into chunks, insert each chunk
        // in its own order, then merge the buffers in random pairs
        val chunks = stream.foldLeft(Vector(Vector.empty[(Long, Long)])) { (acc, e) =>
          if (rnd.nextInt(3) == 0) acc :+ Vector(e) else acc.init :+ (acc.last :+ e)
        }
        var bufs = chunks.map(_.foldLeft(Array.emptyLongArray) { case (b, (id, p)) =>
          BoundedSorted.insert(b, stride, k, id, p)
        })
        while (bufs.length > 1) {
          val shuffled = rnd.shuffle(bufs)
          bufs = BoundedSorted.merge(shuffled(0), shuffled(1), stride, k) +: shuffled.drop(2)
        }
        val got = bufs.head.toSeq
        val entries = if (stride == 2) stream else stream.map { case (id, _) => (id, 0L) }
        val want = entries.sorted.take(math.max(k, 0))
          .flatMap { case (id, p) => if (stride == 2) Seq(id, p) else Seq(id) }
        got == want
    })
  }

  test("pairs enumerates every i<j entry pair with different ids, at stride 1 and 2") {
    check(Prop.forAll(genStream, Gen.oneOf(1, 2)) { (stream, stride) =>
      val entries = stream.sorted
      val buf = entries.flatMap { case (id, p) => if (stride == 2) Seq(id, p) else Seq(id) }.toArray
      val got = BucketCap.pairs(buf, stride)((a, b) => (a / stride, b / stride)).toVector
      val want = for {
        i <- entries.indices
        j <- i + 1 until entries.length
        if entries(i)._1 != entries(j)._1
      } yield (i, j)
      got == want
    })
  }

  /** (key, band, id) rows: three buckets over the 1000 cap, a spread of
    * small ones, and repeated ids inside buckets; spread over partitions so
    * the cap runs in partial and final aggregation.
    */
  private lazy val rows = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val hot = (0 until 7500).map(_ => (s"hot${rnd.nextInt(3)}", rnd.nextInt(2), rnd.nextInt(5000).toLong))
    val cold = (0 until 400).map(_ => (s"k${rnd.nextInt(60)}", rnd.nextInt(2), rnd.nextInt(40).toLong))
    rnd.shuffle(hot ++ cold).toDF("key", "band", "id").repartition(4)
  }

  private val caps = Seq(0, 1, 3, 1000)

  test("cappedRows ≡ the row_number() <= k window form, k ∈ {0, 1, 3, 1000}, over-cap buckets") {
    import spark.implicits._
    for (keys <- Seq(Seq("key"), Seq("key", "band")); k <- caps) {
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select(concat_ws("/", keys.map(col): _*), col("id")).as[(String, Long)].collect().sorted.toSeq
      val got = sorted(BucketCap.cappedRows(rows, keys, "id", k))
      val want = sorted(Twins.windowCapped(rows, keys, Seq("id"), k))
      assert(got == want, s"keys=$keys k=$k")
      if (k == 1000) assert(got.groupBy(_._1).values.exists(_.size == 1000), "a bucket must hit the cap")
    }
  }

  test("inBucketPairs ≡ window cap + capped self-join + distinct, k ∈ {0, 1, 3, 1000}") {
    for (k <- caps) {
      val got = BucketCap.inBucketPairs(rows, Seq("key"), "id", k)
      val capped = Twins.windowCapped(rows, Seq("key"), Seq("id"), k)
      val want = capped.as("a").join(capped.as("b"), col("a.key") === col("b.key") && col("a.id") < col("b.id"))
        .select(col("a.id").as("src"), col("b.id").as("dst")).distinct()
      val n = want.count()
      assert(got.count() == n, s"k=$k: pairs must be distinct")
      assert(got.exceptAll(want).isEmpty, s"k=$k")
      if (k >= 3) assert(n > 0, s"k=$k: buckets must pair")
    }
  }
}
