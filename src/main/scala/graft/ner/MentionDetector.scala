package graft.ner

import graft.core._
import graft.dicts.Dicts
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic per-turn mention detection — the rebuild's replacement for
  * the reference's learned taggers (SURVEY.md §2.10 M1-M4), per north_star:
  * gazetteer + contextual feature scoring via broadcast dictionaries and
  * mapPartitions-batched inference.
  *
  * Pipeline per turn (all pure, no cross-row state → embarrassingly
  * parallel, zero shuffle):
  *   1. W5 candidate spans of 1..6 tokens (`bin/custom_feature_gen:18`)
  *   2. J4 gazetteer membership on the space-joined span
  *      (`distant_supervision_rules.py:3-10`)
  *   3. F15 contextual trigger rules on the closed lemma vocabulary
  *      (`candidate_rules.py:3-113`)
  *   4. span acceptance + greedy longest-match overlap resolution
  *   5. three BIO layers (software / mention type / soft type) → W2 fix →
  *      W3 merge (`bin/combine_annotations`) → W1 decode → typed mentions
  *   6. attribute spans (Version/Citation/URL/Developer/License/Abbreviation)
  *      from the token-class regexes of `sentence_rep.py:13-21` + rules
  */
object MentionDetector {

  // Token classes (sentence_rep.py:13-21) — allocation-free char scans in
  // core.TokenClass (regex Matchers were the dominant hot-path garbage;
  // equivalence property-tested in TokenClassSpec)

  private val MainSoftTypes = Set("Application", "PlugIn", "ProgrammingEnvironment", "OperatingSystem")
  // shared with TokenFeatures (ONE definition — round-5 review found the
  // same three sets re-allocated per candidate span there)
  private[ner] val DeveloperMarkers = Set("inc.", "ltd.", "corp.", "apply", "inc", "ltd", "corp")
  private[ner] val OpenBrackets = Set("(", "[", "{")
  private[ner] val CloseBrackets = Set(")", "]", "}")

  final private[graft] case class SoftSpan(
      begTok: Int, endTok: Int, // token range, exclusive end
      softType: String,
      mentionType: String)

  // hoisted trigger vocabularies (round-6: these literals used to be
  // re-allocated inside the per-span mention-type closure — guide §1.2)
  private val CreationLems = Set("develop", "implement", "create", "write")
  private val DepositionLems = Set("deposit", "release", "download", "available")

  /** Interned combined labels: softType × mentionType is a 4×4 space, and
    * building s"${soft}_$mention" per span per turn was measurable garbage
    * on the 10¹²-turn path. Falls back to concatenation for any type pair
    * outside the closed sets (none exist today).
    */
  private val LabelTable: Map[String, Map[String, String]] = {
    val ments = Seq("Usage", "Creation", "Deposition", "Mention")
    MainSoftTypes.map(s => s -> ments.map(m => m -> s"${s}_$m").toMap).toMap
  }

  private def labelFor(soft: String, mention: String): String =
    LabelTable.get(soft).flatMap(_.get(mention)).getOrElse(s"${soft}_$mention")

  def versionLike(t: String): Boolean =
    TokenClass.floatNum(t) || TokenClass.versionLikeNum(t) ||
      TokenClass.longVersion(t) || TokenClass.vPrefixed(t) ||
      TokenClass.digits(t)

  /** Pure per-turn detection. Returns mention spans sorted by `beg`, with
    * ids T1..Tn — the unit the Spark wrapper batches over partitions.
    *
    * Hot-path discipline: tokens live in parallel primitive/String arrays
    * (no per-token objects), token classes are char scans — at 10¹² turns
    * the per-turn allocation rate, not CPU, is what breaks scaling (see
    * BASELINE.md host calibration).
    */
  def detect(text: String, d: Dicts): Vector[Span] = {
    if (text == null) return Vector.empty // null turn text = empty turn (P1)
    // inline whitespace tokenization: pass 1 counts, pass 2 fills arrays
    val tlen = text.length
    var n = 0
    var p = 0
    while (p < tlen) {
      while (p < tlen && text.charAt(p).isWhitespace) p += 1
      if (p < tlen) { n += 1; while (p < tlen && !text.charAt(p).isWhitespace) p += 1 }
    }
    if (n == 0) return Vector.empty
    val begs = new Array[Int](n)
    val ends = new Array[Int](n)
    val surfaces = new Array[String](n)
    val lemmas = new Array[String](n)
    p = 0
    var k = 0
    // hasTrigger: every F15 family is anchored on a "use", "with" or
    // "software" lemma; when none of the three occurs in the turn, every
    // family is off for every span and the flag arrays below are never even
    // allocated (the overwhelmingly common case on word-salad corpora —
    // detected for free during the lemma fill).
    var hasTrigger = false
    while (p < tlen) {
      while (p < tlen && text.charAt(p).isWhitespace) p += 1
      if (p < tlen) {
        val b = p
        while (p < tlen && !text.charAt(p).isWhitespace) p += 1
        begs(k) = b; ends(k) = p
        val s = text.substring(b, p)
        surfaces(k) = s
        val l = Lemma.of(s)
        lemmas(k) = l
        if (l == "use" || l == "with" || l == "software") hasTrigger = true
        k += 1
      }
    }

    // --- F15 trigger rules over lemma context -------------------------------
    // Distinct trigger-rule FAMILIES firing for span [b,e). The reference
    // counts each pan rule separately as a feature (A4); for the accept
    // decision the nested left-context rules (pan_top_2 ⊂ 3 ⊂ 4) collapse
    // into one family so they cannot self-corroborate — and because
    // pan_top_3/4 each imply pan_top_2, the family test reduces to
    // lemma(b−2)=="perform" ∧ lemma(b−1)=="use".
    //
    // All families depend only on b (left context) or e (right context), so
    // they precompute in O(n) as TWO byte-flag arrays (round 6: this was
    // seven boolean arrays allocated per turn) and panCount is O(1) per
    // span — the candidate loop visits 6n spans, so this must not allocate.
    // left flags at boundary b: 1 = use@b−1 (pan_top_1 anchor),
    // 2 = pan_top_2/3/4 family, 4 = pan_5, 8 = pan_6;
    // right flags at boundary e: 1 = software@e (pan_top_1 anchor),
    // 2 = pan_7, 4 = pan_8.
    val leftF: Array[Byte] = if (!hasTrigger) null else {
      val a = new Array[Byte](n + 1)
      var b = 1
      while (b <= n) {
        val l1 = lemmas(b - 1)
        var f = 0
        if (l1 == "use") {
          f |= 1
          if (b >= 2) {
            val l2 = lemmas(b - 2)
            if (l2 == "perform") f |= 2
            else if (l2 == "analyze" || l2 == "analyse") f |= 4
          }
        } else if (l1 == "with") {
          if (b >= 4 && lemmas(b - 2) == "perform" && lemmas(b - 3) == "be" &&
            lemmas(b - 4) == "analysis") f |= 8
        }
        a(b) = f.toByte
        b += 1
      }
      a
    }
    val rightF: Array[Byte] = if (!hasTrigger) null else {
      val a = new Array[Byte](n + 1)
      var e = 0
      while (e < n) {
        val le = lemmas(e)
        var f = 0
        if (le == "software") {
          f |= 1
          if (e + 2 < n && lemmas(e + 1) == "be" && lemmas(e + 2) == "use") f |= 4
        } else if (le == "statistical") {
          if (e + 1 < n && lemmas(e + 1) == "software") f |= 2
        }
        a(e) = f.toByte
        e += 1
      }
      a
    }
    def panCount(b: Int, e: Int): Int =
      if (!hasTrigger) 0
      else {
        val lf = leftF(b)
        val rf = rightF(e)
        var c = 0
        if ((lf & 1) != 0 && (rf & 1) != 0) c += 1 // pan_top_1
        if ((lf & 2) != 0) c += 1
        if ((lf & 4) != 0) c += 1
        if ((lf & 8) != 0) c += 1
        if ((rf & 2) != 0) c += 1
        if ((rf & 4) != 0) c += 1
        c
      }
    def inBrackets(b: Int, e: Int): Boolean =
      b > 0 && e < n && OpenBrackets(surfaces(b - 1)) && CloseBrackets(surfaces(e))
    def developerRule(b: Int, e: Int): Boolean =
      b > 0 && e < n && surfaces(b - 1) == "(" && surfaces(e) == ")" &&
        surfaces.slice(b, e).exists(t => DeveloperMarkers(t.toLowerCase(java.util.Locale.ROOT)))

    // --- W5 candidate enumeration + acceptance ------------------------------
    // 6n candidate spans; the gazetteer lookup prunes on the first token
    // (d.firstTokenMaxLen) so the joined-string build only happens for spans
    // that can possibly match — O(1) per span otherwise.
    val accepted = Vector.newBuilder[(Int, Int, Array[Int], Int, Boolean)] // (b, e, srcIds, pan, strong)
    val developerSpans = Vector.newBuilder[(Int, Int)]
    val inv = d.invertedJ // null-returning views — no Option per lookup
    val ftl = d.firstTokenMaxLenJ
    var len = 1
    while (len <= 6) {
      var b = 0
      while (b + len <= n) {
        val e = b + len
        if ((len > 1 || surfaces(b).length != 1) && developerRule(b, e)) developerSpans += ((b, e))
        val srcIds: Array[Int] =
          if (len == 1) inv.get(surfaces(b))
          else {
            val fl = ftl.get(surfaces(b))
            if (fl != null && fl.intValue() >= len)
              inv.get(surfaces.slice(b, e).mkString(" "))
            else null
          }
        val pan = panCount(b, e)
        var strongHits = 0
        if (srcIds != null) {
          var si = 0
          while (si < srcIds.length) {
            if (d.strongSources(srcIds(si))) strongHits += 1
            si += 1
          }
        }
        val weakHit = srcIds != null && srcIds.nonEmpty
        // F12 word-shape evidence (word_rules.py:1-23): an out-of-gazetteer
        // CamelCase / all-caps token counts like a weak-dictionary hit — it
        // still needs ≥1 contextual trigger, so lowercase corpora and plain
        // capitalized sentence-starts never fire this path.
        val shapeHit = len == 1 && !weakHit && WordShape.distinctiveShape(surfaces(b))
        val isSoftware = strongHits >= 1 || ((weakHit || shapeHit) && pan >= 1) || pan >= 2
        if (isSoftware)
          accepted += ((b, e, if (srcIds == null) Array.empty[Int] else srcIds, pan, strongHits >= 1))
        b += 1
      }
      len += 1
    }

    // greedy overlap resolution: dictionary-backed spans beat rule-only
    // spans, then longest match, then leftmost (token granularity)
    val covered = new Array[Boolean](n)
    var softSpans = accepted.result()
      .sortBy { case (b, e, _, _, strong) => (if (strong) 0 else 1, -(e - b), b) }
      .filter { case (b, e, _, _, _) =>
        val free = (b until e).forall(i => !covered(i))
        if (free) (b until e).foreach(covered(_) = true)
        free
      }
      .map { case (b, e, srcIds, pan, _) =>
        val softType = srcIds.iterator.flatMap(d.sourceType.get)
          .find(MainSoftTypes).getOrElse("Application")
        val mentionType =
          if (pan >= 1) "Usage"
          else {
            // ±4-lemma context windows, scanned in place (the old slices
            // allocated two IndexedSeqs + one concat per accepted span)
            val lLo = math.max(b - 4, 0)
            val rHi = math.min(e + 4, n)
            var creation = false
            var deposition = false
            var i = lLo
            while (i < b) {
              val l = lemmas(i)
              if (CreationLems(l)) creation = true
              if (DepositionLems(l)) deposition = true
              i += 1
            }
            i = e
            while (i < rHi) {
              val l = lemmas(i)
              if (CreationLems(l)) creation = true
              if (DepositionLems(l)) deposition = true
              i += 1
            }
            if (creation) "Creation"
            else if (deposition) "Deposition"
            else {
              var usage = false
              i = lLo
              while (i < b && !usage) {
                val l = lemmas(i)
                usage = l == "use" || l == "run" || l == "compute"
                i += 1
              }
              i = e
              while (i < rHi && !usage) {
                usage = lemmas(i) == "use"
                i += 1
              }
              if (usage) "Usage" else "Mention"
            }
          }
        SoftSpan(b, e, softType, mentionType)
      }
      .sortBy(_.begTok)

    // "Full Name ( ABBR )" demotion: a single-token software span in
    // brackets that is the acronym / DBpedia alt name of a preceding
    // multi-token software span is an Abbreviation attribute, not a second
    // software mention (SoMeSci pattern behind Abbreviation_of).
    val demoted = Vector.newBuilder[(Int, Int)]
    softSpans = softSpans.filter { s =>
      val single = s.endTok - s.begTok == 1
      val isDemotable = single && inBrackets(s.begTok, s.endTok) && {
        val t = surfaces(s.begTok)
        softSpans.exists { p =>
          p.endTok <= s.begTok - 1 && (p.endTok - p.begTok) > 1 && {
            val pToks = surfaces.slice(p.begTok, p.endTok)
            val pSurface = text.substring(begs(p.begTok), ends(p.endTok - 1))
            Normalize.acronym(pToks).contains(t.toLowerCase(java.util.Locale.ROOT)) || d.altNames(pSurface).contains(t)
          }
        }
      }
      if (isDemotable) demoted += ((s.begTok, s.endTok))
      !isDemotable
    }

    // --- three BIO layers → fix → merge → decode (W1-W3) --------------------
    // The spans reaching this point are DISJOINT and SORTED (overlap
    // resolution + sortBy above), and on such inputs the tag → fix → merge →
    // decode round trip is the identity mapping onto the combined
    // `{soft}_{mention}` labels: fix never repairs a well-formed B-/I- run,
    // merge's per-segment majority vote is over a constant sequence, and
    // decode re-emits exactly the input spans. The direct construction
    // [[mergeDirect]] (interned labels, no tag arrays) is therefore
    // output-identical — property-pinned against the literal W2/W3
    // composition in Round6Spec; round 6 removed ~10 array/string
    // allocations per turn from the hottest loop of the engine this way
    // (guide §1.2).
    val softwareMentions = mergeDirect(text, begs, ends, softSpans)

    // --- attribute spans over uncovered tokens ------------------------------
    val attrs = Vector.newBuilder[Span]
    def free(i: Int): Boolean = !covered(i)
    def claim(b: Int, e: Int): Unit = (b until e).foreach(covered(_) = true)
    def spanOf(b: Int, e: Int, typ: String): Span =
      Span(typ, begs(b), ends(e - 1), text.substring(begs(b), ends(e - 1)))

    // demoted "( ABBR )" spans become Abbreviation attributes (keep covered)
    for ((b, e) <- demoted.result()) attrs += spanOf(b, e, "Abbreviation")

    // Developer: parenthesized span containing inc./ltd./corp. (longest first)
    for ((b, e) <- developerSpans.result().sortBy(t => (-(t._2 - t._1), t._1))
         if (b until e).forall(free)) {
      claim(b, e); attrs += spanOf(b, e, "Developer")
    }
    // License: exact dictionary surfaces, 1..3 tokens, longest first.
    // Gated on the first token (licenseFirst) so the joined-string build
    // only happens at positions that can possibly start a license — the
    // old loop built ~3n throwaway strings per turn unconditionally — and
    // lengths no license has (licenseMaxTokens) are never enumerated.
    var ll = math.min(3, d.licenseMaxTokens)
    while (ll >= 1) {
      var lb = 0
      while (lb + ll <= n) {
        val le = lb + ll
        if (d.licenseFirst.contains(surfaces(lb)) && (lb until le).forall(free)) {
          val surf = if (ll == 1) surfaces(lb) else surfaces.slice(lb, le).mkString(" ")
          if (d.licenses(surf)) { claim(lb, le); attrs += spanOf(lb, le, "License") }
        }
        lb += 1
      }
      ll -= 1
    }
    var i = 0
    while (i < n) {
      val t = surfaces(i)
      if (free(i)) {
        if (TokenClass.citation(t)) {
          claim(i, i + 1); attrs += spanOf(i, i + 1, "Citation")
        } else if (t == "[" && i + 2 < n && free(i + 1) && free(i + 2) &&
          TokenClass.citationNum(surfaces(i + 1)) && surfaces(i + 2) == "]") {
          claim(i, i + 3); attrs += spanOf(i, i + 3, "Citation")
        } else if (TokenClass.url(Lemma.of(t))) {
          claim(i, i + 1); attrs += spanOf(i, i + 1, "URL")
        }
      }
      i += 1
    }
    // Version: version-like token within 2 tokens after a software span,
    // or directly after the lemma "version"
    val softEnds = softSpans.map(_.endTok)
    i = 0
    while (i < n) {
      if (free(i) && versionLike(surfaces(i))) {
        val nearSoftware = softEnds.exists(e => i >= e && i - e <= 1)
        val afterVersionWord = i > 0 && lemmas(i - 1) == "version"
        if (nearSoftware || afterVersionWord) {
          claim(i, i + 1); attrs += spanOf(i, i + 1, "Version")
        }
      }
      i += 1
    }
    // Abbreviation: free all-caps token equal to a software span's acronym or
    // a DBpedia alt name of its surface. lazy: the token-slice/substring
    // build only happens when the turn actually has an all-caps candidate
    lazy val softSurfaces = softSpans.map(s => (surfaces.slice(s.begTok, s.endTok),
      text.substring(begs(s.begTok), ends(s.endTok - 1))))
    i = 0
    while (i < n) {
      val t = surfaces(i)
      if (free(i) && t.length >= 2 && t.forall(c => c.isUpper || c.isDigit) && t.exists(_.isLetter)) {
        val isAbbr = softSurfaces.exists { case (spanToks, spanSurface) =>
          Normalize.acronym(spanToks).contains(t.toLowerCase(java.util.Locale.ROOT)) ||
            (d.altNames(spanSurface).contains(t) && spanSurface != t)
        }
        if (isAbbr) { claim(i, i + 1); attrs += spanOf(i, i + 1, "Abbreviation") }
      }
      i += 1
    }

    (softwareMentions ++ attrs.result()).sortBy(_.beg)
  }

  /** Software mentions built directly from a disjoint sorted span set:
    * output-identical to the W1-W3 BIO tag → fix → merge → decode round
    * trip (Round6Spec parity property).
    */
  private[graft] def mergeDirect(text: String, begs: Array[Int], ends: Array[Int],
      softSpans: Vector[SoftSpan]): Vector[Span] =
    softSpans.map { s =>
      val beg = begs(s.begTok)
      val end = ends(s.endTok - 1)
      Span(labelFor(s.softType, s.mentionType), beg, end, text.substring(beg, end))
    }

  /** Spark wrapper: turns → mentions, batched per partition with the
    * broadcast dictionary bundle (north_star: "mapPartitions-batched
    * inference"). No shuffle; partitioning of the input is preserved.
    */
  def mentions(turns: Dataset[Turn], dicts: Broadcast[Dicts]): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.mapPartitions { it =>
      it.flatMap { t =>
        val spans = detect(t.text, dicts.value)
        spans.iterator.zipWithIndex.map { case (s, i) =>
          Mention(t.conv_id, t.turn_idx, s"T${i + 1}", s.typ, s.beg, s.end, s.surface)
        }
      }
    }
  }

  def mentions(spark: SparkSession, turns: Dataset[Turn], d: Dicts): Dataset[Mention] =
    mentions(turns, Dicts.broadcast(spark, d))
}
