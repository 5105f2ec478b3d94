package graft

import graft.core.{Edge, LinkingSample, Normalize, RelInfo}
import graft.dicts.Dicts
import graft.ed.{Blocking, ConnectedComponents, EdEval, PairScorer}
import org.scalatest.funsuite.AnyFunSuite

class EdEvalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def sample(id: Long, mention: String) =
    LinkingSample(id, "c", 0, 0, mention,
      Normalize.removeSpaces(mention), Normalize.normalize(mention), "Application_Usage", Nil)

  test("pairMetrics: perfect clustering scores P=R=1") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "component")
    val gold = Seq((1L, 10L), (2L, 10L), (3L, 30L)).toDF("sample_id", "gold_id")
    val m = EdEval.pairMetrics(comps, gold).collect()(0)
    assert(m.getAs[Double]("precision") == 1.0 && m.getAs[Double]("recall") == 1.0)
    assert(m.getAs[Long]("tp") == 1L && m.getAs[Long]("tn") == 2L)
  }

  test("pairMetrics contingency formulation equals naive pair enumeration (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30
      val comp = (0 until n).map(i => i.toLong -> rnd.nextInt(5).toLong)
      val gold = (0 until n).map(i => i.toLong -> rnd.nextInt(4).toLong)
      val m = EdEval.pairMetrics(comp.toDF("id", "component"),
        gold.toDF("sample_id", "gold_id")).collect()(0)
      val cm = comp.toMap
      val gm = gold.toMap
      var tp = 0L; var fp = 0L; var fn = 0L; var tn = 0L
      for (i <- 0 until n; j <- i + 1 until n) {
        val pred = cm(i.toLong) == cm(j.toLong)
        val g = gm(i.toLong) == gm(j.toLong)
        if (pred && g) tp += 1 else if (pred) fp += 1 else if (g) fn += 1 else tn += 1
      }
      assert((m.getAs[Long]("tp"), m.getAs[Long]("fp"), m.getAs[Long]("fn"), m.getAs[Long]("tn"))
        == ((tp, fp, fn, tn)), s"trial $trial")
    }
  }

  test("threshold sweep: recall grows with threshold") {
    import spark.implicits._
    val samples = spark.createDataset(Seq(
      sample(1, "Stata"), sample(2, "STATA"), sample(3, "SPSS"),
      sample(4, "Statistical Package for the Social Sciences")))
    val bc = Dicts.broadcast(spark, Dicts.fixture)
    val edges = Blocking.edges(samples, bc, threshold = 0.5)
    val gold = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L)).toDF("sample_id", "gold_id")
    val sweep = EdEval.thresholdSweep(samples, edges, gold, Seq(0.0, 0.13, 0.5))
    val recalls = sweep.map { case (t, df) => t -> df.collect()(0).getAs[Double]("recall") }.toMap
    assert(recalls(0.0) <= recalls(0.13))
    assert(recalls(0.13) == 1.0, s"at the production threshold both gold pairs must link: $recalls")
  }

  test("J8 edgesBetween links new samples to old canonical set") {
    import spark.implicits._
    val newS = spark.createDataset(Seq(sample(10, "stata"), sample(11, "FooUnknown")))
    val oldS = spark.createDataset(Seq(sample(1, "Stata"), sample(2, "SPSS")))
    val bc = Dicts.broadcast(spark, Dicts.fixture)
    val e = EdEval.edgesBetween(newS, oldS, bc).collect()
    assert(e.exists(x => x.src == 10L && x.dst == 1L))
    assert(!e.exists(x => x.src == 11L))
  }

  test("J8 edgesBetween scores a shared id with each set's own context") {
    import spark.implicits._
    // id 1 is in both sets with different URL contexts; only the old set's
    // context shares a URL with new sample 2, which is worth the 0.02 bonus
    val url = (u: String) => Seq(RelInfo("URL_of", u))
    val old1 = sample(1, "Statistica").copy(relations = url("https://a.org"))
    val new1 = old1.copy(relations = url("https://b.org"))
    val new2 = sample(2, "Statistika").copy(relations = url("https://a.org"))
    val e = EdEval.edgesBetween(spark.createDataset(Seq(new1, new2)), spark.createDataset(Seq(old1)),
      Dicts.broadcast(spark, Dicts.fixture), threshold = 1.0).collect()
    val want = PairScorer.distance(new2, old1, Dicts.fixture)
    assert(want < PairScorer.distance(new2, new1, Dicts.fixture))
    assert(e.toSet == Set(Edge(1L, 1L, 0.0), Edge(2L, 1L, want)), e.mkString(", "))
  }

  test("J8 cross-set join caps hot blocks on BOTH sides (skew guard)") {
    import spark.implicits._
    // 2000 samples per side collapsing onto the same hot blocking keys
    // (normalize() strips trailing digits: every "pythonN" norms to
    // "python"). Uncapped, the cross join scores 2000×2000 = 4M pairs per
    // key — the round-2 quadratic hole; capped at 50 per side per key it
    // must stay ≤ a few thousand.
    val newS = spark.createDataset((0 until 2000).map(i => sample(100000L + i, s"python$i")))
    val oldS = spark.createDataset((0 until 2000).map(i => sample(200000L + i, s"python$i")))
    val bc = Dicts.broadcast(spark, Dicts.fixture)
    val acc = spark.sparkContext.longAccumulator("j8scored")
    EdEval.edgesBetween(newS, oldS, bc, threshold = 1.0, maxBlockSize = 50,
      scoredCounter = Some(acc)).count()
    assert(acc.value > 0)
    assert(acc.value <= 3L * 50 * 50,
      s"hot cross-set block must be capped, scored ${acc.value} pairs")
  }
}
