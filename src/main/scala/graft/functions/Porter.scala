package graft.functions

/** The Porter stemming algorithm (Porter 1980, "An algorithm for
  * suffix stripping" — the public-domain classic), implemented from
  * the paper's rule tables. Stemming is the search-side text
  * normalization the reference's FTS5 sparse index gets from SQLite's
  * porter tokenizer option (crates/ondine-core uses FTS5; porter is
  * its standard tokenizer flag) — here it is a pure function that the
  * native `porter_stem` kernel calls per token.
  *
  * Operates on lowercase a–z words of length ≥ 3 (shorter or
  * non-alphabetic tokens pass through unchanged, matching the common
  * tokenizer contract). Deterministic, allocation-light, no regex.
  */
object Porter {

  private def isCons(w: CharSequence, i: Int): Boolean = w.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => false
    case 'y' => i == 0 || !isCons(w, i - 1)
    case _ => true
  }

  /** Porter's measure m: the number of VC sequences in [0, end). */
  private def m(w: CharSequence, end: Int): Int = {
    var n = 0
    var i = 0
    while (i < end && isCons(w, i)) i += 1
    while (i < end) {
      while (i < end && !isCons(w, i)) i += 1
      if (i < end) { n += 1; while (i < end && isCons(w, i)) i += 1 }
    }
    n
  }

  private def hasVowel(w: CharSequence, end: Int): Boolean = {
    var i = 0
    while (i < end) { if (!isCons(w, i)) return true; i += 1 }
    false
  }

  private def doubleC(w: CharSequence, end: Int): Boolean =
    end >= 2 && w.charAt(end - 1) == w.charAt(end - 2) && isCons(w, end - 1)

  /** *o: stem ends cons-vowel-cons, final cons not w/x/y. */
  private def cvc(w: CharSequence, end: Int): Boolean = {
    if (end < 3) return false
    val c = w.charAt(end - 1)
    isCons(w, end - 3) && !isCons(w, end - 2) && isCons(w, end - 1) &&
      c != 'w' && c != 'x' && c != 'y'
  }

  // step-2/3 rule tables, LONGEST-FIRST so e.g. "ization" wins over
  // "ation" (order is load-bearing; the paper groups by penultimate
  // letter, which has the same longest-match effect)
  private val Step2: Array[(String, String)] = Array(
    "ational" -> "ate", "ization" -> "ize", "iveness" -> "ive",
    "fulness" -> "ful", "ousness" -> "ous", "biliti" -> "ble",
    "tional" -> "tion", "ation" -> "ate", "entli" -> "ent",
    "ousli" -> "ous", "aliti" -> "al", "iviti" -> "ive",
    "alism" -> "al", "enci" -> "ence", "anci" -> "ance",
    "izer" -> "ize", "abli" -> "able", "alli" -> "al",
    "ator" -> "ate", "eli" -> "e")

  private val Step3: Array[(String, String)] = Array(
    "icate" -> "ic", "ative" -> "", "alize" -> "al",
    "iciti" -> "ic", "ical" -> "ic", "ness" -> "", "ful" -> "")

  private val Step4: Array[String] = Array(
    "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
    "ism", "ate", "iti", "ous", "ive", "ize", "ion", "al", "er",
    "ic", "ou")

  /** Stem one word. Non-lowercase-alpha or length < 3 → unchanged. */
  def stem(w0: String): String = {
    if (w0.length < 3) return w0
    var i = 0
    while (i < w0.length) {
      val c = w0.charAt(i)
      if (c < 'a' || c > 'z') return w0
      i += 1
    }
    var w = w0

    // Step 1a
    if (w.endsWith("sses")) w = w.substring(0, w.length - 2)
    else if (w.endsWith("ies")) w = w.substring(0, w.length - 2)
    else if (!w.endsWith("ss") && w.endsWith("s"))
      w = w.substring(0, w.length - 1)

    // Step 1b
    var cleanup = false
    if (w.endsWith("eed")) {
      if (m(w, w.length - 3) > 0) w = w.substring(0, w.length - 1)
    } else if (w.endsWith("ed") && hasVowel(w, w.length - 2)) {
      w = w.substring(0, w.length - 2); cleanup = true
    } else if (w.endsWith("ing") && hasVowel(w, w.length - 3)) {
      w = w.substring(0, w.length - 3); cleanup = true
    }
    if (cleanup) {
      if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
      else if (doubleC(w, w.length) &&
        w.last != 'l' && w.last != 's' && w.last != 'z')
        w = w.substring(0, w.length - 1)
      else if (m(w, w.length) == 1 && cvc(w, w.length)) w += "e"
    }

    // Step 1c
    if (w.endsWith("y") && hasVowel(w, w.length - 1))
      w = w.substring(0, w.length - 1) + "i"

    // Step 2
    var k = 0
    var done = false
    while (k < Step2.length && !done) {
      val (suf, rep) = Step2(k)
      if (w.endsWith(suf)) {
        done = true
        if (m(w, w.length - suf.length) > 0)
          w = w.substring(0, w.length - suf.length) + rep
      }
      k += 1
    }

    // Step 3
    k = 0; done = false
    while (k < Step3.length && !done) {
      val (suf, rep) = Step3(k)
      if (w.endsWith(suf)) {
        done = true
        if (m(w, w.length - suf.length) > 0)
          w = w.substring(0, w.length - suf.length) + rep
      }
      k += 1
    }

    // Step 4
    k = 0; done = false
    while (k < Step4.length && !done) {
      val suf = Step4(k)
      if (w.endsWith(suf)) {
        done = true
        val stemEnd = w.length - suf.length
        val ok =
          if (suf == "ion")
            m(w, stemEnd) > 1 && stemEnd >= 1 &&
              (w.charAt(stemEnd - 1) == 's' || w.charAt(stemEnd - 1) == 't')
          else m(w, stemEnd) > 1
        if (ok) w = w.substring(0, stemEnd)
      }
      k += 1
    }

    // Step 5a
    if (w.endsWith("e")) {
      val mm = m(w, w.length - 1)
      if (mm > 1 || (mm == 1 && !cvc(w, w.length - 1)))
        w = w.substring(0, w.length - 1)
    }
    // Step 5b
    if (doubleC(w, w.length) && w.last == 'l' && m(w, w.length) > 1)
      w = w.substring(0, w.length - 1)
    w
  }
}
