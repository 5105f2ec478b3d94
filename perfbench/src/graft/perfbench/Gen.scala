package graft.perfbench

import graft.core.Turn
import graft.dicts.Dicts
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** SplitMix64 stream. Every generated row is a pure function of
  * (seed, stream, index), so inputs are identical under any partitioning
  * and for any program version: the benchmark owns its inputs and hands
  * the program only the resulting Datasets.
  */
final class Rng(seed: Long) {
  private var x = seed
  def nextLong(): Long = {
    x += 0x9E3779B97F4A7C15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def nextGaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * nextDouble())
  }
}

object Rng {
  def at(seed: Long, stream: Long, i: Long): Rng =
    new Rng(new Rng(seed * 0x632BE59BD9B4E019L + stream).nextLong() ^ (i * 0xD1B54A32D192ED03L))
}

/** A generated gazetteer whose surfaces come in planted variant groups.
  * `group(i)` is the gold cluster of `surfaces(i)`.
  */
final case class Gazetteer(surfaces: Array[String], group: Array[Int]) {
  def dicts: Dicts = Dicts.build(
    sources = Seq("generated_software" -> surfaces.toSeq),
    strong = Set("generated_software"),
    typeOf = Map("generated_software" -> "Application"))
}

object Gazetteer {
  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"
  private val Words = Array("Analysis", "Toolkit", "Suite", "Studio", "Engine", "Workbench",
    "Platform", "Library", "Framework", "Explorer", "Modeler", "Viewer", "Designer", "Builder",
    "Tracker", "Mapper", "Solver", "Server", "Monitor", "Notebook")

  private def baseName(r: Rng, hotPrefix: Boolean): String = {
    val sb = new StringBuilder
    val syllables = 3 + r.nextInt(2)
    var s = 0
    while (s < syllables) {
      sb += Consonants(r.nextInt(Consonants.length)); sb += Vowels(r.nextInt(Vowels.length)); s += 1
    }
    if (r.nextInt(2) == 0) sb += Consonants(r.nextInt(Consonants.length))
    val tail = sb.toString
    if (hotPrefix) "Open" + tail else tail.capitalize
  }

  /** `nGroups` planted groups. Two in three are case/version groups
    * {Name, NAME, Name<digit>}, which share the `n:` blocking key; one in
    * three are acronym groups {"Name Word Word", "NWW"}, which share only
    * the `a:` key. A `hotShare` of the names start with "Open", so their
    * `p:open` block grows past the program's block cap at ~10⁴ surfaces.
    * Surfaces are unique: a colliding name or acronym is redrawn.
    */
  def generate(seed: Long, nGroups: Int, hotShare: Double): Gazetteer = {
    val r = Rng.at(seed, 1, 0)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val lowerSeen = scala.collection.mutable.HashSet.empty[String]
    val surfaces = Array.newBuilder[String]
    val groups = Array.newBuilder[Int]
    var g = 0
    while (g < nGroups) {
      val name = baseName(r, r.nextDouble() < hotShare)
      val variants =
        if (g % 3 == 2) {
          val long = s"$name ${Words(r.nextInt(Words.length))} ${Words(r.nextInt(Words.length))}"
          Seq(long, long.split(' ').map(_.head.toUpper).mkString)
        } else Seq(name, name.toUpperCase(java.util.Locale.ROOT), name + (2 + r.nextInt(8)))
      // lowercase uniqueness keeps planted groups disjoint after normalization
      if (variants.forall(v => !seen(v)) && !lowerSeen(name.toLowerCase(java.util.Locale.ROOT)) &&
        !variants.exists(v => lowerSeen(v.toLowerCase(java.util.Locale.ROOT)))) {
        variants.foreach { v =>
          seen += v; lowerSeen += v.toLowerCase(java.util.Locale.ROOT); surfaces += v; groups += g
        }
        lowerSeen += name.toLowerCase(java.util.Locale.ROOT)
        g += 1
      }
    }
    Gazetteer(surfaces.result(), groups.result())
  }
}

/** Transcript generator: each turn fills one template, most of them with
  * one planted gazetteer surface at a known offset. Turn i < surfaces.length
  * plants surface i, so every surface occurs; later turns draw from `cum`.
  *
  * @param cum cumulative choice weights over `surfaces`
  */
final case class TurnSpec(surfaces: Array[String], cum: Array[Double], seed: Long) {

  private def pick(r: Rng, id: Long): Int =
    if (id < surfaces.length) id.toInt
    else {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(if (i >= 0) i else -i - 1, surfaces.length - 1)
    }

  /** (turn, planted beg or -1, planted surface or null) for row `id`. */
  def row(id: Long): (Turn, Int, String) = {
    val r = Rng.at(seed, 2, id)
    val s = surfaces(pick(r, id))
    val conv = s"conv${id / TurnSpec.TurnsPerConv}"
    val idx = (id % TurnSpec.TurnsPerConv).toInt
    val (prefix, suffix) = r.nextInt(7) match {
      case 0 => ("All analyses were performed using ", s" software [ ${1 + r.nextInt(60)} ] .")
      case 1 => ("Data were processed with ", s" version ${1 + r.nextInt(9)}.${r.nextInt(20)} for the main cohort .")
      case 2 => ("We ran ", " on the cluster and exported the tables .")
      case 3 => ("Results were checked in ", s" ( ${TurnSpec.Devs(r.nextInt(TurnSpec.Devs.length))} Corp. ) afterwards .")
      case 4 => (null, null)
      case 5 => ("", " was used for statistical analysis of the cohort .")
      case _ => ("The ", s" scripts are available at www.lab${r.nextInt(500)}.org/code .")
    }
    val role = idx % 3 match { case 0 => "user"; case 1 => "assistant"; case _ => "tool" }
    val ts = new java.sql.Timestamp(1735689600000L + id * 1000L)
    if (prefix == null)
      (Turn(conv, idx, role, "No tool was named in this turn at all .", null, ts), -1, null)
    else
      (Turn(conv, idx, role, prefix + s + suffix, if (role == "tool") "search" else null, ts),
        prefix.length, s)
  }
}

object TurnSpec {
  val TurnsPerConv = 10
  val Devs = Array("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay")

  /** Zipf weights 1/rank^exponent over `n` choices, as cumulative shares. */
  def zipfCum(n: Int, exponent: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, exponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
}

/** Planted mention of a generated turn: (conv_id, turn_idx, beg, surface). */
final case class Planted(conv_id: String, turn_idx: Int, beg: Int, surface: String)

object Transcripts {
  private def slices(spark: SparkSession): Int = spark.sparkContext.defaultParallelism * 4

  def turns(spark: SparkSession, spec: TurnSpec, from: Long, until: Long): Dataset[Turn] = {
    import spark.implicits._
    spark.range(from, until, 1, slices(spark)).map(id => spec.row(id)._1)
  }

  def planted(spark: SparkSession, spec: TurnSpec, from: Long, until: Long): Dataset[Planted] = {
    import spark.implicits._
    spark.range(from, until, 1, slices(spark)).flatMap { id =>
      val (t, beg, s) = spec.row(id)
      if (beg < 0) None else Some(Planted(t.conv_id, t.turn_idx, beg, s))
    }
  }
}

/** Near-duplicate corpus: documents with a text and an embedding each.
  *
  * Layout by doc id: [0, nBase) are independent base documents; each of
  * the first `nClusters` bases gets two near copies (one substituted word,
  * embedding + small noise), ids nBase + 2c and nBase + 2c + 1; the next
  * `nExact` bases get one verbatim copy each, ids after the near copies.
  */
final case class CorpusSpec(nBase: Int, nClusters: Int, nExact: Int, docLen: Int, vocab: Int,
    dim: Int, seed: Long) {
  require(nClusters + nExact <= nBase)
  val nDocs: Int = nBase + 2 * nClusters + nExact

  /** base document a doc id derives from, and its edit stream (-1 = none) */
  private def origin(id: Int): (Int, Int) =
    if (id < nBase) (id, -1)
    else if (id < nBase + 2 * nClusters) ((id - nBase) / 2, id)
    else (nClusters + (id - nBase - 2 * nClusters), -1)

  private def word(i: Int): String = {
    val r = Rng.at(seed, 3, i)
    val sb = new StringBuilder
    val n = 2 + r.nextInt(3)
    var s = 0
    while (s < n) { sb += "bdfgklmnprstvz"(r.nextInt(14)); sb += "aeiou"(r.nextInt(5)); s += 1 }
    sb.toString
  }

  def text(id: Int): String = {
    val (base, edit) = origin(id)
    val r = Rng.at(seed, 4, base)
    val toks = Array.fill(docLen)(word(r.nextInt(vocab)))
    if (edit >= 0) {
      // one substituted word, in the first half for the first copy and the
      // second half for the second, so copies differ from their base and
      // from each other
      val e = Rng.at(seed, 5, edit)
      val half = docLen / 2
      val pos = (edit - nBase) % 2 * half + e.nextInt(half)
      var w = toks(pos)
      while (w == toks(pos)) w = word(e.nextInt(vocab))
      toks(pos) = w
    }
    toks.mkString(" ")
  }

  def embedding(id: Int): Array[Float] = {
    val (base, edit) = origin(id)
    val r = Rng.at(seed, 6, base)
    val v = Array.fill(dim)(r.nextGaussian())
    if (edit >= 0) {
      val e = Rng.at(seed, 7, edit)
      var i = 0
      while (i < dim) { v(i) += 0.08 * e.nextGaussian(); i += 1 }
    }
    v.map(_.toFloat)
  }

  /** planted near-duplicate pairs (base, copy); the two copies of a base
    * are two edits apart and also count as one cluster
    */
  def nearPairs: Seq[(Long, Long)] = (0 until nClusters).flatMap { c =>
    val b = (nBase + 2 * c).toLong
    Seq((c.toLong, b), (c.toLong, b + 1))
  }

  def copyPairs: Seq[(Long, Long)] = (0 until nClusters).map(c => ((nBase + 2 * c).toLong, (nBase + 2 * c + 1).toLong))

  /** planted exact groups as (keeper, copy) */
  def exactPairs: Seq[(Long, Long)] = (0 until nExact).map { e =>
    ((nClusters + e).toLong, (nBase + 2 * nClusters + e).toLong)
  }

  def docs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(0, nDocs, 1, spark.sparkContext.defaultParallelism * 4)
      .map(id => (id.longValue, text(id.toInt), embedding(id.toInt)))
      .toDF("doc_id", "text", "embedding")
  }
}
