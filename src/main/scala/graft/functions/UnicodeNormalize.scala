package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a codegen'd scan-stage projection — the
  * step a multilingual corpus pipeline runs BEFORE any byte-keyed
  * operator: the same visible text arrives from the web in composed
  * (NFC) and decomposed (NFD) encodings — "é" as U+00E9 or as
  * `e`+U+0301 — and every downstream key derivation (exact-dedup
  * hashes, MinHash shingles, tokenizer word seeding, URL slugs)
  * treats the twins as DIFFERENT bytes unless a normalization pass
  * collapses them. NFC is the wire norm (what W3C recommends and
  * what most of the web already is, which is why the fast path
  * matters); NFKC additionally folds compatibility characters
  * (ﬁ → fi, № → No, full-width forms) — the aggressive variant
  * dedup keys may opt into but display text must not; casefolding
  * (Unicode simple case folding via root-locale lowercase) stacks on
  * either for case-insensitive keying.
  *
  * Scale shape: pure per-row projection, zero shuffle, and the
  * dominant corpus case — pure-ASCII text — short-circuits on the
  * raw UTF8String bytes without ever converting to a java String:
  * the input object returns as-is (one bounded lowercase copy under
  * casefolding). Non-ASCII already-normalized text pays one
  * String conversion + the JDK quick check and returns the input
  * UTF8String unchanged.
  */
object UnicodeNormalizeUtil {

  /** Normalize to `form`, optionally casefolding. Two hot-path
    * rules: pure-ASCII input short-circuits on the raw UTF8String
    * bytes (no String conversion at all — without casefolding the
    * input returns IDENTICALLY; with it, the ASCII lowercase is one
    * bounded copy), and non-ASCII already-normalized input returns
    * the input UTF8String unchanged. Casefolded output RE-NORMALIZES
    * (as NFKC_Casefold requires — though the fold itself is the
    * lowercase-based approximation [[UnicodeNormalize.nfkcCasefold]]
    * documents): lowercasing can decompose a
    * one-code-point uppercase into base+mark with no precomposed
    * lowercase twin, and returning that un-normalized would give
    * canonically-equivalent inputs different keys.
    */
  def normalize(s: UTF8String, form: Normalizer.Form,
                casefold: Boolean): UTF8String = {
    var i = 0
    val n = s.numBytes()
    var ascii = true
    while (ascii && i < n) { ascii = s.getByte(i) >= 0; i += 1 }
    if (ascii) {
      if (!casefold) s else s.toLowerCase
    } else {
      val str = s.toString
      val normed =
        if (Normalizer.isNormalized(str, form)) str
        else Normalizer.normalize(str, form)
      val out =
        if (casefold) {
          val folded = normed.toLowerCase(java.util.Locale.ROOT)
          if (Normalizer.isNormalized(folded, form)) folded
          else Normalizer.normalize(folded, form)
        } else normed
      if (out eq str) s else UTF8String.fromString(out)
    }
  }
}

object UnicodeNormalize {
  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** [[UnicodeNormalizeUtil.normalize]] per row, inside whole-stage
    * codegen with the key derivations it feeds.
    */
  def apply(text: Column, form: String, casefold: Boolean): Column = {
    require(Forms.contains(form), s"unicode_normalize: form must be one of " +
      s"${Forms.mkString(", ")}, got $form")
    ColumnBridge.kernel("unicode_normalize", UnicodeNormalizeUtil, "normalize",
      StringType, Seq(text -> StringType),
      Seq(Normalizer.Form.valueOf(form), casefold))
  }

  /** Canonical composition — the wire norm every byte-keyed operator
    * should see.
    */
  def nfc(text: Column): Column = apply(text, "NFC", casefold = false)

  /** Compatibility composition — the aggressive opt-in for dedup keys
    * (folds ligatures, full-width forms, compatibility signs).
    */
  def nfkc(text: Column): Column = apply(text, "NFKC", casefold = false)

  /** NFKC + a LOWERCASE-BASED APPROXIMATION of case folding (JDK
    * root-locale `toLowerCase`, re-normalized) — the key form for
    * case-insensitive matching (denylists, URL slugs, dedup keys).
    * This is NOT full Unicode NFKC_Casefold: `toLowerCase` diverges
    * from UAX case folding on a handful of code points (U+1E9E ẞ
    * lowercases to ß where the fold is "ss"; U+0130 İ yields
    * i+U+0307; Greek final sigma folds positionally), so those rare
    * case variants key apart where true NFKC_CF would collide them.
    * An ICU-grade fold needs a data table the JDK does not ship;
    * callers needing exact NFKC_CF fidelity should treat this as the
    * documented approximation it is.
    */
  def nfkcCasefold(text: Column): Column =
    apply(text, "NFKC", casefold = true)
}
