package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text operators over web-page rows.
  *
  * The extraction contract mirrors the reference's per-item content
  * identity: the reference hashes raw file bytes (`winnow/utils/utils.py:
  * 163-173`) and samples fixed-rate units (`winnow/feature_extraction/
  * utils.py:52-58`); our analog extracts text from HTML byte-identically
  * per url (BASELINE.json input_hint) and decomposes it into k-gram
  * shingles. Everything here is built from codegen'd
  * `org.apache.spark.sql.functions` — no UDFs in the hot path.
  */
object TextFunctions {

  // ---------------------------------------------------------------------
  // E1: deterministic HTML -> text extraction (byte-identical contract).
  // Pure column expressions: strip <script>/<style> blocks, strip tags,
  // decode the common entities, collapse whitespace, trim. Frozen — any
  // change must change the config tag (reference `utils.py:186-200`).
  // ---------------------------------------------------------------------
  def extractText(html: Column): Column = {
    val s0 = decode(html, "UTF-8")
    val noComment = regexp_replace(s0, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle  = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noTags   = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    // standard entity-decode order: '&amp;' LAST, or a doubly-escaped
    // entity ("&amp;lt;", which renders as "&lt;") would decode twice
    // into text the page never displayed
    val ent = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (from, to)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Normalization used for fingerprints/exact dedup: lowercase +
    * whitespace collapse (the text analog of the reference's frame
    * pad+resize unit normalization, `feature_extraction/utils.py:100-133`).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  // ---------------------------------------------------------------------
  // G1: k-gram shingling — the unit decomposition (reference frame
  // sampler `feature_extraction/utils.py:25-73`). One array element per
  // word k-gram; shingleHashes additionally xxhash64's each k-gram.
  // ---------------------------------------------------------------------
  def wordShingles(text: Column, k: Int): Column = {
    val w = tokens(text)
    when(size(w) < k, array()).otherwise(
      transform(
        sequence(lit(0), size(w) - k),
        i => array_join(slice(w, i + 1, lit(k)), " ")
      )
    )
  }

  /** Distinct 64-bit hashes of the k-gram shingle set. */
  def shingleHashes(text: Column, k: Int): Column =
    array_distinct(transform(wordShingles(text, k), s => xxhash64(s)))

  // ---------------------------------------------------------------------
  // Text analysis for training-data pipelines.
  // ---------------------------------------------------------------------

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  private val stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Heuristic quality score in [0,1]: length, alpha ratio, stopword hit,
    * mean word length sanity. Plays the reference's gray-max quality
    * regressor (`winnow/utils/utils.py:91-111`) — a scalar per-item
    * quality used to flag rows before pair filtering.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val nTok = tokenCount(text).cast("double")
    val alphaRatio = when(len === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^\\p{L}]", "")).cast("double") / len)
    val meanWordLen = when(nTok === 0, 0.0).otherwise(len / nTok)
    val hasStop = when(
      arrays_overlap(split(lower(text), "\\s+"),
        array(stopwords.map(lit): _*)), 1.0).otherwise(0.0)
    val lenScore = least(len / 200.0, lit(1.0))
    val wordLenScore =
      when(meanWordLen >= 3.0 && meanWordLen <= 12.0, 1.0).otherwise(0.5)
    round((lenScore + alphaRatio + hasStop + wordLenScore) / 4.0, 6)
  }

  /** n-gram-heuristic language ID over a tiny built-in profile: counts
    * hits of high-frequency function words per language, returns the
    * argmax (ties broken by language code order), 'und' when nothing hits.
    */
  def langId(text: Column): Column = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
      "en" -> Seq("the", "and", "of", "to", "is", "that", "it"),
      "es" -> Seq("el", "la", "los", "que", "de", "y", "es"),
      "fr" -> Seq("le", "la", "les", "et", "est", "que", "une"),
      "zh" -> Seq("的", "是", "了", "在", "和", "有", "我")
    )
    val toks = split(lower(text), "\\s+")
    // array_max over (hits, lang) structs: argmax by hit count,
    // deterministic tie-break by language code (lexicographically last).
    val scored = profiles.map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isin(words.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** 64-bit document fingerprint: xxhash64 of the normalized text —
    * the content-identity hash (reference sha256-of-bytes,
    * `winnow/utils/utils.py:163-173`, at 64-bit width for joins).
    */
  def fingerprint64(text: Column): Column = xxhash64(normalizeText(text))

  // ---------------------------------------------------------------------
  // C-path: path/url scalars (reference `repr_utils.py:11-32` —
  // get_path_resolver over storage paths; here over urls).
  // ---------------------------------------------------------------------

  /** Path relative to `base` (reference relative-path resolver): strips
    * the base prefix plus any leading slashes; inputs outside `base`
    * pass through unchanged. The base must match at a SEGMENT boundary
    * — `/data/foobar/x` is outside base `/data/foo`, not "bar/x"
    * inside it — so the prefix check is against base-with-a-trailing-
    * slash (plus exact equality → empty relative path).
    */
  def relativize(path: Column, base: Column): Column = {
    val baseSlash =
      when(base.endsWith("/"), base).otherwise(concat(base, lit("/")))
    when(path === base, lit(""))
      .when(path.startsWith(baseSlash),
        regexp_replace(
          path.substr(length(baseSlash) + 1, length(path)), "^/+", ""))
      .otherwise(path)
  }

  /** Canonical URL for dedup grouping — the web-pipeline analog of the
    * reference's path normalization before hashing (`repr_utils.py`):
    * drop the fragment, drop the scheme, lowercase the authority, drop
    * a leading "www.", drop trailing slashes, and (Scala-side extra,
    * unit-tested) strip `utm_*` tracking params. Applied in THIS order
    * on both engines (fragment → scheme → lower(host) → www → utm →
    * trailing slash); every regex is RE2-and-Java-compatible with
    * literal replacements (no backrefs — the two engines disagree on
    * `$1` vs `\1`).
    */
  def canonicalUrl(url: Column, stripTracking: Boolean = true): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noScheme = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    // the authority ends at '/', '?' or '#': on a path-less url with a
    // query ("example.com?Session=X") the host match must stop at '?',
    // or the case-sensitive query value would be lowercased
    val lowerHost = concat(
      lower(regexp_extract(noScheme, "^[^/?#]*", 0)),
      regexp_replace(noScheme, "^[^/?#]*", ""))
    val noWww = regexp_replace(lowerHost, "^www\\.", "")
    val noUtm = if (!stripTracking) noWww else {
      val mid = regexp_replace(noWww, "&utm_[^&#]*", "")
      val first = regexp_replace(mid, "\\?utm_[^&#]*&", "?")
      regexp_replace(first, "\\?utm_[^&#]*$", "")
    }
    regexp_replace(noUtm, "/+$", "")
  }

  /** PII scrubbing — the standard pre-training redaction pass: emails,
    * IPv4 addresses, then phone-like digit runs are replaced by
    * `token`, IN THIS ORDER (IPv4 must go before the phone pattern,
    * which would otherwise swallow dotted quads). Every regex is
    * RE2-and-Java-shared with a literal replacement, so the DuckDB
    * oracle applies the identical chain (with the 'g' flag — DuckDB
    * replaces first-match-only by default, Spark replaces all).
    */
  def redactPii(text: Column, token: String = "<PII>"): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", token)
    val ipv4 = regexp_replace(email,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", token)
    regexp_replace(ipv4, "\\+?\\d[\\d\\s().-]{7,}\\d", token)
  }

  /** Rolling-hash winnowing fingerprints: hashes of char w-grams sampled
    * where hash % p == 0 (content-defined sampling — robust to shifts).
    * Kernel-backed (one codegen'd call per row): the equivalent
    * higher-order-function tree evaluates interpreted PER CHARACTER and
    * measured ~30x slower (see `winnowFingerprintsHof`, kept as the
    * bit-equality oracle).
    */
  def winnowFingerprints(text: Column, w: Int, p: Int): Column =
    Expressions.winnowHashes(normalizeText(text), w, p)

  /** Built-in-only formulation of winnowFingerprints — the semantic
    * oracle the kernel is bit-equality-tested against.
    */
  def winnowFingerprintsHof(text: Column, w: Int, p: Int): Column = {
    val n = normalizeText(text)
    val grams = when(length(n) < w, array()).otherwise(
      transform(sequence(lit(1), length(n) - w + 1),
        i => xxhash64(n.substr(i, lit(w)))))
    array_distinct(filter(grams, h => pmod(h, lit(p)) === 0))
  }
}
