package graft.ed

import graft.core._
import graft.dicts.Dicts

/** The 23 ED pair features of the reference
  * (10 string + 13 context; `somenlp/entity_disambiguation/feature_calculator.py:52-193`), plus the
  * deterministic distance combination that replaces the trained scoring MLP
  * (SURVEY.md §2.10 M6) while keeping the threshold semantics P5
  * (`efficient_prediction.py:243-244`: keep pair iff dist ≤ threshold).
  *
  * All features are distances in [0,1]; 0 = identical, "missing" → 1.0
  * (the reference's init value).
  */
object PairScorer {

  /** Feature names in reference order (10 string + 13 context features). */
  val FeatureNames: Seq[String] = Seq(
    "LenFirst", "LenSecond", "Jaro", "Levenshtein", "Substring",
    "Norm_string_Jaro", "Norm_string_Levenshtein", "KnownAbbr",
    "MenGenAbbr", "NormGenAbbr",
    "GivenAbbr",
    "URL_LenFirst", "URL_LenSecond", "URL_Jaro", "URL_Substring",
    "Devel_LenFirst", "Devel_LenSecond", "Devel_Jaro", "Devel_Substring",
    "Version_LenFirst", "Version_LenSecond", "Version_Jaro", "Version_Substring")

  val MentionScaling = 60.0 // feature_calculator.py:20
  val UrlScaling = 120.0
  val DevelScaling = 30.0
  val VersionScaling = 10.0

  import StringSim.{jaroDist, normLevenshtein, substringDist}

  private def addInfoStrings(rels: Seq[RelInfo], name: String): Seq[String] =
    rels.collect { case RelInfo(t, s) if t == name => s }

  private def addInfoLen(rels: Seq[RelInfo], name: String, factor: Double): Double = {
    val xs = addInfoStrings(rels, name)
    val avg = if (xs.isEmpty) 0.0 else xs.map(_.length).sum.toDouble / xs.size
    avg / factor
  }

  private def addInfoJaro(a: Seq[RelInfo], b: Seq[RelInfo], name: String): Double = {
    val xs = addInfoStrings(a, name)
    if (xs.isEmpty) return 1.0
    val ys = addInfoStrings(b, name)
    if (ys.isEmpty) return 1.0
    var min = 1.0
    for (x <- xs; y <- ys) { val d = jaroDist(x, y); if (d < min) min = d }
    min
  }

  private def addInfoSubstring(a: Seq[RelInfo], b: Seq[RelInfo], name: String): Double = {
    val xs = addInfoStrings(a, name)
    if (xs.isEmpty) return 1.0
    val ys = addInfoStrings(b, name)
    if (ys.isEmpty) return 1.0
    if (xs.exists(x => ys.exists(y => x.contains(y) || y.contains(x)))) 0.0 else 1.0
  }

  /** MenGenAbbr / NormGenAbbr (`feature_calculator.py:348-366`). */
  def genAbbrDist(x: String, y: String): Double =
    abbrDist(Normalize.generatedAbbr(x), x, Normalize.generatedAbbr(y), y)

  /** [[genAbbrDist]] over already generated acronyms `ax` of `x`, `ay` of `y`. */
  private def abbrDist(ax: String, x: String, ay: String, y: String): Double =
    if (ax.isEmpty && ay.isEmpty) 1.0
    else math.min(math.min(jaroDist(ax, y), jaroDist(ay, x)), jaroDist(ax, ay))

  /** KnownAbbr (`feature_calculator.py:368-397`): min Jaro over the DBpedia
    * two-hop alt-name expansions of both surfaces.
    */
  def knownAbbrDist(x: String, y: String, d: Dicts): Double =
    crossMin(d.altNames(x).toArray, x, d.altNames(y).toArray, y)

  /** GivenAbbr (`feature_calculator.py:399-422`): min Jaro between declared
    * Abbreviation_of / AlternativeName_of strings and the other mention.
    */
  def givenAbbrDist(a: LinkingSample, b: LinkingSample): Double =
    crossMin(givenAbbrs(a.relations), a.string, givenAbbrs(b.relations), b.string)

  private def givenAbbrs(rels: Seq[RelInfo]): Array[String] =
    rels.iterator.collect {
      case RelInfo(t, s) if t == "Abbreviation_of" || t == "AlternativeName_of" => s
    }.toArray

  /** The KnownAbbr / GivenAbbr kernel: min Jaro distance over `xs` × {y},
    * `ys` × {x} and `xs` × `ys`, in that order; 1.0 when no term exists.
    */
  private def crossMin(xs: Array[String], x: String, ys: Array[String], y: String): Double = {
    var min = 1.0
    var i = 0
    while (i < xs.length) { val v = jaroDist(xs(i), y); if (v < min) min = v; i += 1 }
    var j = 0
    while (j < ys.length) { val v = jaroDist(ys(j), x); if (v < min) min = v; j += 1 }
    i = 0
    while (i < xs.length) {
      j = 0
      while (j < ys.length) { val v = jaroDist(xs(i), ys(j)); if (v < min) min = v; j += 1 }
      i += 1
    }
    min
  }

  /** The full 23-feature vector in reference order. */
  def features(a: LinkingSample, b: LinkingSample, d: Dicts): Array[Double] = Array(
    a.string.length / MentionScaling,
    b.string.length / MentionScaling,
    jaroDist(a.string, b.string),
    normLevenshtein(a.string, b.string),
    substringDist(a.string, b.string),
    jaroDist(a.norm, b.norm),
    normLevenshtein(a.norm, b.norm),
    knownAbbrDist(a.string, b.string, d),
    genAbbrDist(a.string, b.string),
    genAbbrDist(a.norm, b.norm),
    givenAbbrDist(a, b),
    addInfoLen(a.relations, "URL_of", UrlScaling),
    addInfoLen(b.relations, "URL_of", UrlScaling),
    addInfoJaro(a.relations, b.relations, "URL_of"),
    addInfoSubstring(a.relations, b.relations, "URL_of"),
    addInfoLen(a.relations, "Developer_of", DevelScaling),
    addInfoLen(b.relations, "Developer_of", DevelScaling),
    addInfoJaro(a.relations, b.relations, "Developer_of"),
    addInfoSubstring(a.relations, b.relations, "Developer_of"),
    addInfoLen(a.relations, "Version_of", VersionScaling),
    addInfoLen(b.relations, "Version_of", VersionScaling),
    addInfoJaro(a.relations, b.relations, "Version_of"),
    addInfoSubstring(a.relations, b.relations, "Version_of"))

  /** The scoring inputs of one sample, derived once so that a sample met in
    * many pairs does not redo them per pair: the glued surface and its
    * normalized form, the generated acronym of each, the DBpedia alt names
    * of the surface other than the surface itself ([[Dicts.altNames]]
    * always holds the surface), and the declared Abbreviation_of /
    * AlternativeName_of, URL_of and Developer_of strings. Nothing else of
    * a sample reaches [[distance]] or [[cannotLink]].
    */
  final class Prepared private[PairScorer] (
      val string: String,
      val norm: String,
      val stringAbbr: String,
      val normAbbr: String,
      val otherAlts: Array[String],
      val givenAbbrs: Array[String],
      val urls: Array[String],
      val developers: Array[String])

  def prepare(string: String, norm: String, relations: Seq[RelInfo], d: Dicts): Prepared =
    new Prepared(string, norm, Normalize.generatedAbbr(string), Normalize.generatedAbbr(norm),
      (d.altNames(string) - string).toArray, givenAbbrs(relations),
      addInfoStrings(relations, "URL_of").toArray, addInfoStrings(relations, "Developer_of").toArray)

  def prepare(s: LinkingSample, d: Dicts): Prepared = prepare(s.string, s.norm, s.relations, d)

  /** Deterministic distance — the fixed monotone combination replacing the
    * MLP [15,10,5,1]+sigmoid (M6). Each alternative path to "same entity"
    * contributes a candidate distance; the minimum wins (mirrors the
    * reference's min-over-context-pairs edge semantics — any scored context
    * pair below threshold links the pair in union-find).
    *
    *  - raw / normalized surface similarity: Jaro+Levenshtein mix
    *    (features 2+3, 5+6)
    *  - DBpedia alt-name match (KnownAbbr, 7), generated-acronym match
    *    (8, 9), declared-abbreviation match (GivenAbbr, 10): base offset
    *    0.10 + scaled Jaro so an exact alt-name/acronym lands at 0.10 ≤
    *    threshold (0.13) and a weak one stays above it
    *  - shared URL/Developer evidence (features 13, 17 at 0) tightens the
    *    verdict slightly
    *
    * Only these ten of the 23 [[features]] are computed, with the same
    * kernels in the same floating-point order, so the result equals the
    * feature-vector formula bit for bit (pinned in src/test). A URL or
    * Developer Jaro distance is 0 exactly when the two strings are equal
    * (for unequal strings some term of the Jaro mean is at least 2^-31
    * below 1, far above rounding), so the bonus tests string equality.
    */
  def distance(a: Prepared, b: Prepared): Double = {
    val jaroString = jaroDist(a.string, b.string)
    val raw = 0.5 * jaroString + 0.5 * normLevenshtein(a.string, b.string)
    val norm = 0.5 * jaroDist(a.norm, b.norm) + 0.5 * normLevenshtein(a.norm, b.norm)
    val known = 0.10 + 0.80 * knownDist(a, b, jaroString)
    val genAbbr = 0.10 + 0.80 * math.min(
      abbrDist(a.stringAbbr, a.string, b.stringAbbr, b.string),
      abbrDist(a.normAbbr, a.norm, b.normAbbr, b.norm))
    val givenAbbr = 0.10 + 0.80 * crossMin(a.givenAbbrs, a.string, b.givenAbbrs, b.string)
    val base = math.min(math.min(raw, norm), math.min(math.min(known, genAbbr), givenAbbr))
    // corroborating context: identical URL or Developer shaves a hair
    val bonus = if (sharesAny(a.urls, b.urls) || sharesAny(a.developers, b.developers)) Bonus else 0.0
    math.max(0.0, base - bonus)
  }

  def distance(a: LinkingSample, b: LinkingSample, d: Dicts): Double =
    distance(prepare(a, d), prepare(b, d))

  /** KnownAbbr ([[knownAbbrDist]]) of prepared samples. Both alt-name sets
    * hold their own surface, so [[crossMin]] over the full sets would
    * compute jaroDist(x, y) three times (`jaroXY` already holds it); this
    * takes the minimum over each of its distinct terms once: (x, y),
    * (y, x), the other alt names against the opposite surface and against
    * each other, and x against b's other alt names.
    */
  private def knownDist(a: Prepared, b: Prepared, jaroXY: Double): Double = {
    var min = math.min(math.min(1.0, jaroXY), jaroDist(b.string, a.string))
    min = math.min(min, crossMin(a.otherAlts, a.string, b.otherAlts, b.string))
    b.otherAlts.foreach(v => min = math.min(min, jaroDist(a.string, v)))
    min
  }

  private def sharesAny(xs: Array[String], ys: Array[String]): Boolean =
    xs.exists(x => ys.contains(x))

  /** Exact length filter: true only when the string lengths alone prove
    * `distance(a, b) > t`, so a pair it rejects never needs the kernels.
    *
    * Bounds, for strings of lengths l1, l2 (max > 0; both empty gives 0):
    *  - Jaro: with m ≤ min(l1, l2) matches, jaro = (m/l1 + m/l2 +
    *    (m−t)/m)/3 ≤ (min/l1 + min/l2 + 1)/3 = (2 + min/max)/3, so
    *    jaroDist ≥ (1 − min/max)/3 (and jaroDist = 1 when m = 0).
    *  - Levenshtein: at least |l1 − l2| edits, so normLevenshtein ≥
    *    |l1 − l2|/max.
    * Each of the five candidate distances of [[distance]] is a monotone
    * combination of such terms, so replacing every term by its bound gives
    * a lower bound of `base`; the acronym path keeps its exact 1.0 when
    * neither side has an acronym. The bonus subtracts at most 0.02, and a
    * 1e-9 margin absorbs floating-point rounding, so `base bound − 0.02 >
    * t + 1e-9` implies distance > t. Every bound is at most 2/3 (raw path:
    * 0.5·1/3 + 0.5·1), so nothing is rejected at t = 1.0.
    */
  def cannotLink(a: Prepared, b: Prepared, t: Double): Boolean = {
    def pair(x: String, y: String) = 0.5 * jaroBound(x, y) + 0.5 * levBound(x, y)
    val raw = pair(a.string, b.string)
    val norm = pair(a.norm, b.norm)
    val known = 0.10 + 0.80 * math.min(jaroBound(a.string, b.string),
      crossMinBound(a.otherAlts, a.string, b.otherAlts, b.string))
    val genAbbr = 0.10 + 0.80 * math.min(
      abbrBound(a.stringAbbr, a.string, b.stringAbbr, b.string),
      abbrBound(a.normAbbr, a.norm, b.normAbbr, b.norm))
    val givenAbbr = 0.10 + 0.80 * crossMinBound(a.givenAbbrs, a.string, b.givenAbbrs, b.string)
    val base = math.min(math.min(raw, norm), math.min(math.min(known, genAbbr), givenAbbr))
    base - Bonus > t + 1e-9
  }

  private def jaroBound(x: String, y: String): Double = {
    val mx = math.max(x.length, y.length)
    if (mx == 0) 0.0 else (1.0 - math.min(x.length, y.length).toDouble / mx) / 3.0
  }

  private def levBound(x: String, y: String): Double = {
    val mx = math.max(x.length, y.length)
    if (mx == 0) 0.0 else math.abs(x.length - y.length).toDouble / mx
  }

  private def abbrBound(ax: String, x: String, ay: String, y: String): Double =
    if (ax.isEmpty && ay.isEmpty) 1.0
    else math.min(math.min(jaroBound(ax, y), jaroBound(ay, x)), jaroBound(ax, ay))

  /** [[crossMin]] with every Jaro distance replaced by [[jaroBound]]. */
  private def crossMinBound(xs: Array[String], x: String, ys: Array[String], y: String): Double = {
    var min = 1.0
    xs.foreach(u => min = math.min(min, jaroBound(u, y)))
    ys.foreach(v => min = math.min(min, jaroBound(v, x)))
    xs.foreach(u => ys.foreach(v => min = math.min(min, jaroBound(u, v))))
    min
  }

  /** Distance subtracted for a shared URL or Developer string. */
  private final val Bonus = 0.02

  /** Link threshold (`configurations/PMC/ED/efficient_config_pred.json`). */
  val Threshold = 0.13
}
