package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Bio, Span}
import graft.ner.MentionDetector
import graft.ops.{Dedup, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window

/** Oracle-only twins of hot-path operators: the literal or declarative
  * forms the production code replaced, kept to pin it.
  */
object Twins {

  /** The `row_number() <= k` window form of the bucket cap: rows of `df`
    * ranked by `orderBy` inside each `keys` bucket, the first k kept.
    */
  def windowCapped(df: DataFrame, keys: Seq[String], orderBy: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy.map(col): _*)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
  }

  /** Window cap + capped self-join form of [[Dedup.lshCandidates]]. */
  def lshCandidatesJoin(bandsDf: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val capped = windowCapped(bandsDf, Seq("band", "band_hash"), Seq("doc_id"), maxBucket)
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .distinct()
  }

  /** Window cap + capped self-join form of [[Dedup.simhashDupes]]; buckets
    * rank by (doc_id, simhash), the cap's entry order.
    */
  def simhashDupesJoin(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val nSlices = maxHamming + 1
    val width = Dedup.SimhashBits / nSlices
    val mask = (1L << width) - 1
    val sliced = Dedup.simhashSignatures(docs).select(col("doc_id"), col("simhash"),
      explode(array((0 until nSlices).map(q =>
        struct(lit(q).as("q"),
          shiftright(col("simhash"), q * width).bitwiseAND(mask).as("qh"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.q"), col("x.qh"))
    val capped = windowCapped(sliced, Seq("q", "qh"), Seq("doc_id", "simhash"), maxBucket)
    val cand = capped.as("a").join(capped.as("b"),
        col("a.q") === col("b.q") && col("a.qh") === col("b.qh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    cand.select(col("src"), col("dst"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The literal W1-W3 composition (three BIO tag layers → fix → merge →
    * decode) over a disjoint sorted span set: the path `MentionDetector.detect`
    * routed its software mentions through until round 6.
    */
  def mergeViaBio(text: String, begs: Array[Int], ends: Array[Int],
      softSpans: Vector[MentionDetector.SoftSpan]): Vector[Span] = {
    val n = begs.length
    val swTags = Array.fill(n)("O")
    val mtTags = Array.fill(n)("O")
    val stTags = Array.fill(n)("O")
    for (s <- softSpans; i <- s.begTok until s.endTok) {
      val p = if (i == s.begTok) "B-" else "I-"
      swTags(i) = p + "Application"
      mtTags(i) = p + s.mentionType
      stTags(i) = p + s.softType
    }
    import scala.collection.immutable.ArraySeq.unsafeWrapArray
    val merged = Bio.merge(
      Bio.fix(unsafeWrapArray(swTags), software = true),
      Bio.fix(unsafeWrapArray(mtTags), software = false),
      Bio.fix(unsafeWrapArray(stTags), software = false))
    Bio.decode(text, begs, ends, merged.toIndexedSeq)
  }
}

/** Round-6 optimization parity pins: every hot-path rewrite in this round
  * keeps a declarative / literal twin, and these properties hold the two
  * bit-identical so a future edit cannot silently fork them.
  */
class Round6Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  // --- detect(): direct span construction ≡ BIO fix→merge→decode ----------

  private val softTypes =
    Gen.oneOf("Application", "PlugIn", "ProgrammingEnvironment", "OperatingSystem")
  private val mentionTypes = Gen.oneOf("Usage", "Creation", "Deposition", "Mention")

  test("direct mention construction ≡ W1-W3 BIO round trip on disjoint sorted spans") {
    val genCase = for {
      n <- Gen.choose(1, 14)
      // random disjoint sorted token spans: walk left to right, maybe open
      // a span of length 1..3 at each position
      spans <- {
        def walk(pos: Int): Gen[List[(Int, Int)]] =
          if (pos >= n) Gen.const(Nil)
          else Gen.frequency(
            3 -> walk(pos + 1),
            2 -> (for {
              len <- Gen.choose(1, math.min(3, n - pos))
              rest <- walk(pos + len)
            } yield (pos, pos + len) :: rest))
        walk(0)
      }
      typed <- Gen.sequence[List[(Int, Int, String, String)], (Int, Int, String, String)](
        spans.map { case (b, e) =>
          for { s <- softTypes; m <- mentionTypes } yield (b, e, s, m)
        })
    } yield (n, typed)

    check(Prop.forAll(genCase) { case (n, typed) =>
      // synthetic token geometry: token i = chars [2i, 2i+1)
      val begs = Array.tabulate(n)(i => 2 * i)
      val ends = Array.tabulate(n)(i => 2 * i + 1)
      val text = (0 until n).map(i => ('a' + i % 26).toChar).mkString(" ")
      val spans = typed.map { case (b, e, s, m) => MentionDetector.SoftSpan(b, e, s, m) }.toVector
      val direct = MentionDetector.mergeDirect(text, begs, ends, spans)
      val viaBio = Twins.mergeViaBio(text, begs, ends, spans)
      direct == viaBio
    })
  }

  // --- TopKContexts: bounded insertion ≡ sort-take -------------------------

  test("TopKContexts insertion buffer ≡ sort-then-take(k) on random streams") {
    import graft.ed.Linking.{Ctx, TopKContexts}
    val genCtx = for {
      c <- Gen.choose(0, 3)
      t <- Gen.choose(0, 3)
      b <- Gen.choose(0, 5)
      l <- Gen.oneOf("A", "B")
    } yield Ctx(s"c$c", t, b, l)
    val agg = new TopKContexts(5)
    def ord(c: Ctx) = (c.conv_id, c.turn_idx, c.beg, c.label)
    def row(c: Ctx): graft.ed.Linking.CtxRow = ("k", c.conv_id, c.turn_idx, c.beg, c.label)
    check(Prop.forAll(Gen.listOf(genCtx), Gen.listOf(genCtx)) { (xs, ys) =>
      val viaReduce = xs.foldLeft(agg.zero)((b, c) => agg.reduce(b, row(c)))
      val other = ys.foldLeft(agg.zero)((b, c) => agg.reduce(b, row(c)))
      val merged = agg.merge(viaReduce, other)
      viaReduce == xs.sortBy(ord).take(5) &&
        merged == (viaReduce ++ other).sortBy(ord).take(5)
    })
  }

  // --- LSH signatures: fused kernel ≡ declarative definition ---------------

  test("sigRows fused kernel ≡ declarative signatures (bit-identical)") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val rows = (0 until 64).map { i =>
      val dim = 24 // fixed-dim table, the embedding contract
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * 3).toFloat))
    } :+ (64L, Array.empty[Float])
    val df = rows.toDF("vec_id", "embedding")
    val declarative = SimilaritySearch.signatures(df, nPlanes = 16)
      .select("vec_id", "sig").as[(Long, Long)].collect().toMap
    val fused = SimilaritySearch.sigRows(df, "vec_id", nPlanes = 16)
      .as[(Long, Long)].collect().toMap
    assert(fused == declarative)
  }

  // --- bruteForceTopK: fused kernel ≡ round-5 declarative form -------------

  test("bruteForceTopK fused kernel ≡ declarative cosine+window form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 80).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextGaussian() * 2).toFloat))
    } :+ (80L, Array.fill(16)(0.0f)) :+ // zero-norm guard row
      (81L, Array.fill(16)(Float.NaN)) // NaN row: SQL NaN-largest ordering must hold in the fused kernel too
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 7)
    // the round-5 implementation, verbatim, as the parity oracle
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val sims = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(SimilaritySearch.cosine(col("qe"), col("ce")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    // NaN != NaN under tuple equality, but a NaN sim must rank identically
    // (SQL NaN-largest) in both forms — compare on a NaN-normalized view
    def norm(t: (Long, Int, Long, Double)) =
      (t._1, t._2, t._3, if (t._4.isNaN) "NaN" else t._4.toString)
    val expected = sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().map(norm).toSet
    val actual = SimilaritySearch.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().map(norm).toSet
    assert(actual == expected)
  }

  // --- Blocking driver route ≡ distributed blocked pair join --------------

  test("Blocking.edgesLocal driver route ≡ distributed path (edge-set equality)") {
    import spark.implicits._
    val bc = graft.dicts.Dicts.broadcast(spark, graft.dicts.Dicts.fixture)
    val surfaces = Seq("Stata", "STATA", "stata 13", "SPSS",
      "Statistical Package for the Social Sciences", "MATLAB", "Matlab r2019b",
      "Excel", "MS Excel", "Python", "python 3.8", "numpy", "GraphPad Prism",
      "EEGLAB toolbox", "R", "ImageJ")
    val samples = surfaces.zipWithIndex.map { case (s, i) =>
      graft.core.LinkingSample(
        sample_id = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(org.apache.spark.unsafe.types.UTF8String.fromString(s).getBaseObject,
            org.apache.spark.unsafe.types.UTF8String.fromString(s).getBaseOffset,
            org.apache.spark.unsafe.types.UTF8String.fromString(s).numBytes(), 42L),
        conv_id = s"c$i", turn_idx = i, beg = 0, mention = s,
        string = graft.core.Normalize.removeSpaces(s),
        norm = graft.core.Normalize.normalize(s),
        ent_type = "Application_Usage",
        relations = if (i % 3 == 0) Seq(graft.core.RelInfo("Version_of", "13.1")) else Seq.empty)
    }
    val ds = spark.createDataset(samples)
    val distCnt = spark.sparkContext.longAccumulator("dist")
    val drvCnt = spark.sparkContext.longAccumulator("drv")
    val distributed = graft.ed.Blocking.edges(ds, bc, threshold = 1.0,
      scoredCounter = Some(distCnt)).collect().toSet
    val driver = graft.ed.Blocking.edgesLocal(samples.toArray, bc.value, threshold = 1.0,
      maxBlockSize = 1000, scoredCounter = Some(drvCnt)).toSet
    assert(driver == distributed)
    assert(drvCnt.value == distCnt.value, "scored-once pair counts must match")
  }

  test("fused cosine kernels survive NULL embeddings (missing-signal 0.0, no NPE)") {
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    val rows = (0 until 10).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat()))) :+
      (10L, null.asInstanceOf[Array[Float]])
    val emb = rows.toDF("vec_id", "embedding")
    // all four fused paths must complete; the null row scores 0.0 wherever it appears
    val topk = SimilaritySearch.bruteForceTopK(emb, emb.filter(col("vec_id").isin(0L, 10L)), k = 3)
      .collect()
    assert(topk.nonEmpty)
    assert(topk.filter(_.getAs[Long]("query_id") == 10L).forall(_.getAs[Double]("sim") == 0.0))
    assert(SimilaritySearch.exactCosinePairs(emb, threshold = -1.0).count() == 55) // all pairs incl. null row
    assert(SimilaritySearch.lshTopK(emb, emb.filter(col("vec_id") === 0L), k = 3).count() >= 0)
    assert(SimilaritySearch.cosineDupes(emb, threshold = -1.0).count() >= 0)
  }

  // --- sorted-merge jaccard kernel ≡ array_intersect form ------------------

  test("jaccardOfSets sorted-merge kernel ≡ array_intersect + size formula") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val sets = (0 until 40).map { i =>
      (i.toLong, (0 until rnd.nextInt(60)).map(_ => rnd.nextInt(80).toLong).distinct.sorted.toArray)
    }
    val setsDF = sets.toDF("doc_id", "shset")
    val pairs = (for (i <- 0 until 40; j <- i + 1 until 40 if rnd.nextInt(4) == 0)
      yield (i.toLong, j.toLong)).toDF("src", "dst")
    val fused = Dedup.jaccardOfSets(pairs, setsDF)
      .as[(Long, Long, Double)].collect().toSet
    // the round-5 declarative form, verbatim, as the parity oracle
    val declarative = pairs
      .join(setsDF.select(col("doc_id").as("src"), col("shset").as("sa")), "src")
      .join(setsDF.select(col("doc_id").as("dst"), col("shset").as("sb")), "dst")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select(col("src"), col("dst"),
        (col("common") /
          (size(col("sa")).cast("long") + size(col("sb")).cast("long") - col("common")))
          .as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    // normalize NaN (empty∩empty edge) for set equality
    def norm(t: (Long, Long, Double)) = (t._1, t._2, if (t._3.isNaN) "NaN" else t._3.toString)
    assert(fused.map(norm) == declarative.map(norm))
  }

  // --- local union-find ≡ distributed CC -----------------------------------

  test("unionFindLocal ≡ ConnectedComponents.run on random edge sets") {
    import spark.implicits._
    // ids avoid the exact value -1: CC's packed driver path documents it as
    // the open-addressing sentinel (real sample ids are 64-bit hashes;
    // collision probability 2^-64 — the require fires loudly, by design)
    val genEdges = Gen.listOf(for {
      a <- Gen.choose(-20L, 20L) if a != -1L
      b <- Gen.choose(-20L, 20L) if b != a && b != -1L
    } yield (a, b))
    check(Prop.forAll(genEdges) { es =>
      val local = graft.ed.ConnectedComponents.unionFindLocal(es)
      val vertexIds = es.flatMap(e => Seq(e._1, e._2)).distinct
      if (vertexIds.isEmpty) local.isEmpty
      else {
        val vertices = vertexIds.toDS().as[java.lang.Long]
        val edges = es.map { case (a, b) => graft.core.Edge(a, b, 0.0) }.toDS()
        val dist = graft.ed.ConnectedComponents.run(vertices, edges)
          .as[(Long, Long)].collect().toMap
        vertexIds.forall(v => local(v) == dist(v))
      }
    })
  }

  test("Pipeline small-vocabulary route: components ≡ distributed CC over Result.edges") {
    import spark.implicits._
    val turns = graft.pipeline.Transcripts.fixture(spark)
    val r = graft.pipeline.Pipeline.run(spark, turns, graft.dicts.Dicts.fixture)
    val fromRun = r.components.as[(Long, Long)].collect().toMap
    val vertices = r.samples.select(col("sample_id")).as[java.lang.Long]
    val redone = graft.ed.ConnectedComponents.run(vertices, r.edges)
      .as[(Long, Long)].collect().toMap
    assert(fromRun == redone)
    r.unpersist()
  }

  // --- multimodal header parse vs adversarial prefixes (VERDICT r05 #5) ----

  test("container-header parse survives adversarial prefixes: stub fallback, no ANSI faults") {
    import spark.implicits._
    val rnd = new scala.util.Random(66)
    def bytes(n: Int) = Array.fill(n)(rnd.nextInt(256).toByte)
    val pngMagic = Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)
    val adversarial: Seq[Array[Byte]] = Seq(
      Array.empty[Byte], // 0: empty payload
      "GIF89a".getBytes("ISO-8859-1"), // 1: truncated GIF (n < 10)
      pngMagic, // 2: truncated PNG (n < 26)
      pngMagic ++ bytes(12) ++ Array.fill(4)(0xFF.toByte) ++ bytes(10), // 3: PNG width 0xFFFFFFFF
      "BM".getBytes("ISO-8859-1") ++ bytes(40), // 4: BMP magic + junk DIB header
      "GIF87a".getBytes("ISO-8859-1") ++ Array.fill(4)(0.toByte) ++ bytes(10)) // 5: GIF w=h=0
    val fuzz = (0 until 200).map(_ => bytes(rnd.nextInt(64)))
    val rows = (adversarial ++ fuzz).zipWithIndex.map { case (p, i) => (i.toLong, p) }
    val out = graft.ops.Multimodal.meta(rows.toDF("doc_id", "payload")).collect()
    assert(out.length == rows.length) // the job survived every prefix (ANSI casts gated)
    val byId = rows.map { case (id, p) => (id, p) }.toMap
    out.foreach { r =>
      val n = byId(r.getAs[Long]("doc_id")).length
      val fmt = r.getAs[String]("format")
      assert(Set("png", "bmp", "gif", "fake/raw")(fmt))
      if (fmt == "fake/raw") {
        assert(r.getAs[Int]("width") == n % 640 + 1)
        assert(r.getAs[Int]("height") == n % 480 + 1)
        assert(r.getAs[Int]("channels") == 3)
      } else {
        assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("height") >= 1)
      }
    }
    // each crafted corrupt/truncated header must fall through to the stub
    Seq(0L, 1L, 2L, 3L, 4L, 5L).foreach { id =>
      assert(out.find(_.getAs[Long]("doc_id") == id).get.getAs[String]("format") == "fake/raw",
        s"adversarial row $id must stub-fall-through")
    }
  }

  // --- synthetic transcripts: finer partitioning changed no row ------------

  test("synthetic transcripts identical under the round-6 partitioning") {
    // reimplement the round-5 row formula (pure function of id) in plain
    // Scala and compare EVERY row — pins both the finer partitioning and
    // the array-based Zipf sampling as content-neutral
    val seed = 42L
    val software = Vector("Python", "SPSS", "Stata", "MATLAB", "Excel", "SAS",
      "GraphPad Prism", "EEGLAB", "ImageJ", "FreeSurfer", "scikit-learn", "numpy")
    val weights = software.indices.map(i => 1.0 / (i + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val templates = Vector[String => String](
      s => s"All analyses were performed using $s software [ 7 ] .",
      s => s"Data were processed with $s version 2.1 for the main cohort .",
      s => s"We ran $s on the cluster and exported the tables .",
      s => s"Results were checked in $s ( IBM Corp. ) afterwards .",
      s => s"No software was mentioned in this turn at all .",
      s => s"$s was used for statistical analysis of the cohort .")
    def expected(id: Long): (String, Int, String, String) = {
      val conv = id / 10
      val turn = (id % 10).toInt
      var x = id * 0x9E3779B97F4A7C15L + seed
      def next(): Long = { x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 27; x *= 0x94D049BB133111EBL; x ^= x >>> 31; x }
      val u = (next() >>> 11).toDouble / (1L << 53).toDouble
      val soft = software(cum.indexWhere(u <= _) max 0)
      val tpl = templates(((next() >>> 8) % templates.length).toInt)
      val role = turn % 3 match { case 0 => "user"; case 1 => "assistant"; case _ => "tool" }
      (s"conv$conv", turn, role, tpl(soft))
    }
    val rows = graft.pipeline.Transcripts.synthetic(spark, nConvs = 40, turnsPerConv = 10)
      .collect().sortBy(r => (r.conv_id.drop(4).toLong, r.turn_idx))
    assert(rows.length == 400)
    rows.zipWithIndex.foreach { case (r, i) =>
      val (c, t, role, text) = expected(i.toLong)
      assert(r.conv_id == c && r.turn_idx == t && r.role == role && r.text == text,
        s"row $i diverged from the round-5 generator formula")
    }
  }

  // --- bounded bucket-cap aggregators ≡ window+join candidate forms --------

  test("lshCandidates bounded aggregator ≡ window+join twin (incl. over-cap buckets)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (maxBucket <- Seq(0, 1, 3, 1000)) {
      // tiny band_hash domain → buckets far over the small caps (0 = the
      // degenerate everything-dropped cap both forms must agree on)
      val distinctRows = (0 until 200).map { _ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(4), rnd.nextInt(6).toLong)
      }.distinct
      // bucket (4, 0) holds repeated doc_id rows among its smallest ids, so
      // the enumerator's equal-id skip runs under every cap above 1
      val repeated = Seq(0L, 0L, 1L, 1L, 1L, 2L).map(id => (id, 4, 0L))
      val bands = (distinctRows ++ repeated).toDF("doc_id", "band", "band_hash")
      val agg = Dedup.lshCandidates(bands, maxBucket)
        .as[(Long, Long)].collect().toSet
      val join = Twins.lshCandidatesJoin(bands, maxBucket)
        .as[(Long, Long)].collect().toSet
      assert(agg == join, s"pair sets diverged at maxBucket=$maxBucket")
      assert(agg.forall { case (s, d) => s < d })
      if (maxBucket >= 3) assert(agg.contains((0L, 1L)))
    }
  }

  test("simhashDupes bounded aggregator ≡ window+join twin (incl. over-cap buckets)") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def text() = (0 until 5 + rnd.nextInt(4)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    for (maxBucket <- Seq(0, 2, 1000)) {
      // near-identical docs from a tiny vocab → shared slice buckets
      val unique = (0 until 60).map(i => (i.toLong, text()))
      // repeated doc_ids, with the same and with different texts: the
      // smallest ids, so the cap boundary falls inside a run of equal ids
      val repeated = Seq(0L -> unique(0)._2, 0L -> text(), 0L -> text(), 1L -> text(), 1L -> text())
      val docs = (unique ++ repeated).toDF("doc_id", "text")
      val agg = Dedup.simhashDupes(docs, maxHamming = 3, maxBucket = maxBucket)
        .as[(Long, Long, Int)].collect().toSet
      val join = Twins.simhashDupesJoin(docs, maxHamming = 3, maxBucket = maxBucket)
        .as[(Long, Long, Int)].collect().toSet
      assert(agg == join, s"verified pair sets diverged at maxBucket=$maxBucket")
    }
  }
}
