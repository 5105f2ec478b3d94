package graft

import graft.core.{LinkingSample, Normalize, RelInfo}
import graft.dicts.Dicts
import graft.ed.{Blocking, PairScorer}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The distance formula over the full 23-feature vector, as `PairScorer`
  * computed it before the prepared scorer: the parity oracle the prepared
  * `distance` and the `cannotLink` filter are held to.
  */
object DistanceOracle {
  def distance(a: LinkingSample, b: LinkingSample, d: Dicts): Double = {
    val f = PairScorer.features(a, b, d)
    val raw = 0.5 * f(2) + 0.5 * f(3)
    val norm = 0.5 * f(5) + 0.5 * f(6)
    val known = 0.10 + 0.80 * f(7)
    val genAbbr = 0.10 + 0.80 * math.min(f(8), f(9))
    val givenAbbr = 0.10 + 0.80 * f(10)
    val base = math.min(math.min(raw, norm), math.min(math.min(known, genAbbr), givenAbbr))
    val bonus = if (f(13) == 0.0 || f(17) == 0.0) 0.02 else 0.0
    math.max(0.0, base - bonus)
  }
}

class ScorerParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def check(prop: Prop, n: Int = 1000): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** DBpedia alt names over ASCII, accented, Cyrillic and CJK surfaces, so
    * both the unique and the label mapping of [[Dicts.altNames]] fire.
    */
  private val dicts = Dicts.build(Seq("s" -> Seq("Stata")), Set("s"), Map("s" -> "Application"),
    dbpediaUnique = Map(
      "Stata" -> Set("STATA", "stata", "Stata/SE"),
      "SPSS" -> Set("IBM SPSS Statistics", "Statistical Package for the Social Sciences"),
      "Zürich-Toolkit" -> Set("Zurich Toolkit", "ZTK"),
      "ГИС" -> Set("GIS", "ГеоИнфоСистема"),
      "数据分析" -> Set("数据 分析", "DataAnalysis"),
      "R" -> Set("GNU R", "")))

  private val pool = Seq("", "R", "Stata", "STATA", "stata", "Stata/SE", "SPSS", "PASW",
    "IBM SPSS Statistics", "Statistical Package for the Social Sciences", "Zürich-Toolkit",
    "Zurich Toolkit", "ZTK", "ГИС", "GIS", "ГеоИнфоСистема", "数据分析", "数据 分析",
    "DataAnalysis", "GNU R", "open-source image kit", "naïve Bayes", "İstanbul", "ß-tool")

  private val genChar: Gen[Char] = Gen.frequency(
    6 -> Gen.alphaNumChar, 1 -> Gen.oneOf(' ', '-', '.', '_', '+'),
    1 -> Gen.oneOf('é', 'ü', 'ß', 'Ж', 'я', '数', '据', 'İ', 'ı', 'Ω'))

  private val genText: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf(pool),
    3 -> (for { base <- Gen.oneOf(pool); n <- Gen.choose(0, 3); tail <- Gen.listOfN(n, genChar) }
      yield base + tail.mkString),
    2 -> Gen.oneOf(pool).map(_.toUpperCase(java.util.Locale.ROOT)),
    2 -> Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, genChar)).map(_.mkString))

  private val genRel: Gen[RelInfo] = for {
    t <- Gen.oneOf("Abbreviation_of", "AlternativeName_of", "URL_of", "Developer_of", "Version_of")
    s <- Gen.frequency(3 -> Gen.oneOf("", "https://stata.com", "StataCorp", "IBM", "ИБМ",
      "SPSS", "数据", "13"), 1 -> genText)
  } yield RelInfo(t, s)

  /** A sample either as the linking build derives it from a mention, or with
    * independently drawn `string` and `norm` (empty ones included).
    */
  private val genSample: Gen[LinkingSample] = for {
    mention <- genText
    derived <- Gen.frequency(3 -> true, 1 -> false)
    string <- if (derived) Gen.const(Normalize.removeSpaces(mention)) else genText
    norm <- if (derived) Gen.const(Normalize.normalize(mention)) else genText
    n <- Gen.frequency(3 -> 0, 2 -> 1, 1 -> 3)
    rels <- Gen.listOfN(n, genRel)
  } yield LinkingSample(0L, "c", 0, 0, mention, string, norm, "Application_Usage", rels)

  test("prepared distance ≡ the feature-vector formula, bit for bit") {
    check(Prop.forAll(genSample, genSample) { (a, b) =>
      val want = DistanceOracle.distance(a, b, dicts)
      val pa = PairScorer.prepare(a, dicts)
      val pb = PairScorer.prepare(b, dicts)
      java.lang.Double.compare(PairScorer.distance(pa, pb), want) == 0 &&
        java.lang.Double.compare(PairScorer.distance(a, b, dicts), want) == 0
    }, n = 3000)
  }

  test("cannotLink(a, b, t) implies oracle distance > t, and never fires at t = 1.0") {
    var rejected = 0
    check(Prop.forAll(genSample, genSample) { (a, b) =>
      val dist = DistanceOracle.distance(a, b, dicts)
      val pa = PairScorer.prepare(a, dicts)
      val pb = PairScorer.prepare(b, dicts)
      Seq(0.13, 0.5, 1.0).forall { t =>
        val no = PairScorer.cannotLink(pa, pb, t)
        if (no) rejected += 1
        !no || (dist > t && t < 1.0)
      }
    }, n = 3000)
    assert(rejected > 0, "the generated pairs must exercise the filter")
  }

  /** >256 samples (past [[Blocking.DriverSampleCutoff]]): ~90 surfaces
    * share the p:open key (over [[overCap]]); the rest are planted variants
    * of random words, so pairs both link and filter.
    */
  private val overCap = 60
  private lazy val overCapSamples: Array[LinkingSample] = {
    val rnd = new scala.util.Random(17)
    def word(n: Int) = Iterator.continually(rnd.nextPrintableChar()).filter(_.isLetter).take(n).mkString
    val surfaces = ((0 until 90).map(i => s"Open${word(1 + i % 9)}") ++
      (0 until 110).flatMap { _ =>
        val w = word(3 + rnd.nextInt(8))
        Seq(w, w.toUpperCase(java.util.Locale.ROOT) + " 2")
      } ++ Seq("", "ГИС", "GIS", "数据分析", "Zürich-Toolkit", "ZTK", "Stata", "STATA")).distinct
    val ids = rnd.shuffle(surfaces.indices.map(_.toLong * 7919L).toVector)
    surfaces.zip(ids).map { case (m, id) =>
      val rels =
        if (id % 3 == 0) Seq(RelInfo("URL_of", "https://x.org"), RelInfo("Abbreviation_of", m.take(3)))
        else if (id % 5 == 0) Seq(RelInfo("Developer_of", "Dev"), RelInfo("Version_of", "2"))
        else Nil
      LinkingSample(id, "c", 0, 0, m, Normalize.removeSpaces(m), Normalize.normalize(m),
        "Application_Usage", rels)
    }.toArray
  }

  test("distributed Blocking.edges ≡ Blocking.edgesLocal over >256 samples with a block over the cap") {
    import spark.implicits._
    val cap = overCap
    val samples = overCapSamples
    assert(samples.length > Blocking.DriverSampleCutoff)
    val blocks = samples.toSeq.flatMap(s => Blocking.keysFor(s, dicts).map(_ -> s.sample_id))
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    assert(blocks.count(_.size > cap) == 1, "exactly one block must exceed the cap")
    val candidates = blocks.flatMap { b =>
      val ids = b.take(cap)
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet

    val ds = spark.createDataset(samples.toSeq)
    val bc = Dicts.broadcast(spark, dicts)
    for (t <- Seq(PairScorer.Threshold, 0.5)) {
      val distCnt = spark.sparkContext.longAccumulator("dist")
      val localCnt = spark.sparkContext.longAccumulator("local")
      val distributed = Blocking.edges(ds, bc, t, cap, Some(distCnt)).collect().toSet
      val local = Blocking.edgesLocal(samples, dicts, t, cap, Some(localCnt)).toSet
      assert(distributed == local, s"t=$t")
      assert(distributed.nonEmpty, s"t=$t: the input must link some pairs")
      assert(distCnt.value == localCnt.value, s"t=$t: scored-once pair counts must match")
      // every candidate pair counts as scored, the length-filtered ones too
      assert(distCnt.value == candidates.size.toLong, s"t=$t")
    }
  }

  test("Blocking.edges caps blocks map-side: no Window in the executed plan") {
    import spark.implicits._
    val edges = Blocking.edges(spark.createDataset(overCapSamples.toSeq), Dicts.broadcast(spark, dicts),
      PairScorer.Threshold, overCap)
    assert(edges.collect().nonEmpty)
    val plan = edges.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true") && plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("Blocking.edges fails fast on repeated sample ids") {
    import spark.implicits._
    val s = LinkingSample(1L, "c", 0, 0, "Stata", "Stata", "stata", "Application_Usage", Nil)
    val ds = spark.createDataset(Seq(s, s.copy(mention = "STATA", string = "STATA")))
    val e = intercept[IllegalArgumentException](Blocking.edges(ds, Dicts.broadcast(spark, dicts)))
    assert(e.getMessage.contains("one sample per sample_id"), e.getMessage)
  }
}
