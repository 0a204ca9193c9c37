package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernel for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristics, shingling and
  * fingerprinting. All pure `Column` compositions (codegen-friendly) —
  * the per-document work is embarrassingly parallel, so at 100 TB these
  * scale linearly with partitions and never shuffle on their own.
  */
object TextFns {

  /** Whitespace tokenization (the reference's profile/name handling splits on
    * literal separators, code/lib/util.py:177; we normalize on runs of
    * whitespace). Empty/blank text → empty array, not [""].
    */
  def tokens(text: Column): Column =
    when(trim(text) === "", array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word chunks of <=4 chars + digit runs +
    * punctuation, approximating byte-pair token inflation without a real
    * vocabulary. Deterministic and cheap: one regexp pass.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^\\p{Punct}]", ""))
    when(length(text) === 0, 0.0).otherwise(punct.cast("double") / length(text))
  }

  /** Ratio of tokens that are common-English stopwords. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "for", "on", "with", "as", "at", "by", "this", "that")

  /** JVM set-membership counter: the Catalyst `filter(toks, isin(...))`
    * form compares every token against every literal interpreted —
    * measured as the dominant cost of the quality gate at the 10× probe.
    * Counts are integers, so the swap is oracle-exact.
    */
  private def hitCountUdf(words: Set[String], lowercase: Boolean) = udf { (toks: Seq[String]) =>
    // null-in -> null-out (parity with the replaced Catalyst size(filter));
    // Locale.ROOT so uppercase ASCII folds identically on any JVM locale
    // (tr-TR default locale would map I -> dotless i)
    if (toks == null) None
    else {
      var n = 0
      toks.foreach { t =>
        val k = if (lowercase) t.toLowerCase(java.util.Locale.ROOT) else t
        if (words.contains(k)) n += 1
      }
      Some(n)
    }
  }

  private val stopwordHits = hitCountUdf(stopwords.toSet, lowercase = true)

  /** Integer stopword-hit count over whitespace tokens (0 for blank text,
    * null for null) — the exact-count form of [[stopwordRatio]], used as a
    * classifier feature where an integer keeps the gate order-independent.
    */
  def stopwordHitCount(text: Column): Column = stopwordHits(tokens(text))

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(stopwordHits(toks).cast("double") / size(toks))
  }

  /** Mean token length in characters (0 for empty text). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: rewards mid-length documents with low
    * punctuation noise and a natural stopword rate. A C4/Gopher-style
    * heuristic filter usable as `filter(qualityScore($"text") > 0.5)`.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore + punctPenalty + stopScore) / 3.0, 6)
  }

  /** Character n-gram shingles of the normalized text (lowercased,
    * whitespace collapsed). Foundation for MinHash / Jaccard dedup.
    * JVM kernel fed by a codegen'd normalization — the Catalyst `transform`
    * with per-element `substr` re-evaluates the normalization subtree per
    * element (O(n²) interpreted; SCALE.md).
    */
  private def charShingleKernel(n: Int) = udf { (norm: String) =>
    // null text -> null (matches the prior Catalyst null propagation and
    // SQL-oracle NULL); empty text -> [""] like the length<n fallback
    if (norm == null) null
    else if (norm.length < n) Array(norm)
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= norm.length) { seen.add(norm.substring(i, i + n)); i += 1 }
      seen.toArray(new Array[String](seen.size))
    }
  }

  def charShingles(text: Column, n: Int): Column =
    charShingleKernel(n)(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Word n-gram shingles (distinct, in first-seen order — matching the
    * previous `array_distinct(transform(...))` semantics). JVM kernel over
    * codegen'd tokens for the same reason as [[charShingles]].
    */
  private def wordShingleKernel(n: Int) = udf { (toks: Seq[String]) =>
    // null tokens (null text) -> null, so downstream jaccard/dedup drops
    // the pair instead of "verifying" two null docs as identical
    if (toks == null) null
    else if (toks.isEmpty) Array("")
    else if (toks.length < n) Array(toks.mkString(" "))
    else {
      val seen = new java.util.LinkedHashSet[String]()
      toks.sliding(n).foreach(w => seen.add(w.mkString(" ")))
      seen.toArray(new Array[String](seen.size))
    }
  }

  def wordShingles(text: Column, n: Int): Column =
    wordShingleKernel(n)(tokens(lower(text)))

  /** Repetition ratio (Gopher-style boilerplate signal): 1 − distinct/total
    * word n-grams. 0 for fully novel text, → 1 for highly repetitive spam.
    * One JVM pass over codegen'd tokens; null text → null, < n tokens → 0.
    */
  private def repetitionKernel(n: Int) = udf { (toks: Seq[String]) =>
    if (toks == null) null
    else if (toks.length < n) Some(0.0)
    else {
      val seen = new java.util.HashSet[String]()
      var total = 0
      toks.sliding(n).foreach { w => seen.add(w.mkString(" ")); total += 1 }
      Some(1.0 - seen.size.toDouble / total)
    }
  }

  def repetitionRatio(text: Column, n: Int): Column =
    repetitionKernel(n)(tokens(lower(text)))

  /** Non-overlapping k-token passages (boilerplate-detection unit — unlike
    * shingles these tile the doc, so a repeated footer is ONE passage, not
    * k overlapping grams). Partial tail chunk included; null text → null,
    * blank → empty array.
    */
  private def passageKernel(k: Int) = udf { (toks: Seq[String]) =>
    if (toks == null) null
    else toks.grouped(k).map(_.mkString(" ")).toArray
  }

  def passages(text: Column, k: Int): Column =
    passageKernel(k)(tokens(lower(text)))

  /** Deterministic 64-bit string hash (two murmur3 passes with different
    * seeds). Engine-native; stable across JVMs and sessions.
    */
  def hash64(s: String, seed: Int): Long = {
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, seed)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, seed * 0x9e3779b9 + 1)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** SQL-reproducible base shingle hash: base-31 polynomial rolling hash of
    * the string mod p = 1e9+7 — the same fold a DuckDB `list_reduce` over
    * `ascii()` codepoints computes, so MinHash signatures can be checked by
    * an independent SQL oracle. ASCII-exact (char code = codepoint); the
    * modulus keeps every intermediate < 2^35 (ANSI-overflow-safe).
    */
  val HashP = 1000000007L

  def polyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) { acc = (acc * 31L + s.charAt(i)) % HashP; i += 1 }
    acc
  }

  /** The i-th MinHash permutation is an affine rescramble of [[polyHash]]:
    * h_i(s) = (a_i · poly(s) + b_i) mod p with a_i, b_i derived from i by
    * fixed integer arithmetic — chosen so a DuckDB oracle can recompute the
    * exact signature (no engine-private hashing in the contract).
    */
  def minhashPerm(i: Int, base: Long): Long = {
    val a = ((2L * i + 1L) * 104729L) % HashP
    val b = (i.toLong * 12582917L + 7L) % HashP
    (a * base + b) % HashP // a, base < p ≈ 2^30 → product < 2^60, no overflow
  }

  /** MinHash signature over word shingles: for each of `k` affine
    * permutations of the polynomial shingle hash, the minimum over the
    * document's shingle set.
    *
    * Implemented as a Scala UDF, deliberately: expressed with nested
    * higher-order Catalyst functions (`transform` within `transform`), the
    * shingle subtree is re-evaluated per element and per hash — O(n²·k)
    * interpreted with boxing. The UDF is one JVM pass over the token array
    * (O(n·k)) and measured ~50× faster; the tokenization that feeds it
    * stays codegen'd (`split`).
    */
  def minhashSigUdf(shingleN: Int, k: Int) = udf { (toks: Seq[String]) =>
    val shingles: Seq[String] =
      if (toks == null || toks.isEmpty) Seq("")
      else if (toks.length < shingleN) Seq(toks.mkString(" "))
      else toks.sliding(shingleN).map(_.mkString(" ")).toSeq.distinct
    val bases = shingles.map(polyHash)
    Array.tabulate(k) { i =>
      var min = Long.MaxValue
      bases.foreach { h0 => val h = minhashPerm(i, h0); if (h < min) min = h }
      min
    }
  }

  /** LSH band keys from a MinHash signature: hash `bands` contiguous slices
    * of `rowsPerBand` signature entries. Candidate pairs share >=1 band key.
    */
  def minhashBandsUdf(bands: Int, rowsPerBand: Int) = udf { (sig: Seq[Long]) =>
    Array.tabulate(bands) { b =>
      hash64(sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString(","), b)
    }
  }

  /** Non-whitespace control characters (C0 minus \t\n\r, plus DEL) — the
    * encoding-damage class CCNet-style cleaning strips and counts.
    */
  val CtrlClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Unicode NFC via the JDK normalizer — a genuine string kernel with no
    * Catalyst built-in; the one UDF in the cleaning chain (the strip /
    * collapse / count stages around it stay codegen'd regexp ops).
    */
  val nfcUdf = udf { (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  }

  /** Canonical cleaned text: NFC-normalize, strip non-whitespace control
    * chars, collapse whitespace runs to single spaces, trim. Null → "".
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfcUdf(coalesce(text, lit(""))), CtrlClass, ""),
      "\\s+", " "))

  /** Occurrences of regex class `cls` in `text`, counted as a length
    * difference — codegen'd, no extract-all array materialization.
    */
  def countMatches(text: Column, cls: String): Column =
    (length(text) - length(regexp_replace(text, cls, ""))).cast("long")

  /** [[polyHash]] as a column (null → 0, matching polyHash("")). */
  val polyHashUdf = udf { (s: String) =>
    if (s == null) 0L else polyHash(s)
  }

  /** One-Permutation Hashing signature with rotation densification
    * (Li, Owen, Zhang 2012; Shrivastava & Li 2014): ONE hash evaluation
    * per shingle — k× cheaper than the k-permutation [[minhashSigUdf]] —
    * binned by h mod k with the per-bucket minimum kept; an empty bucket
    * borrows from the nearest non-empty bucket to its circular right,
    * offset by distance · HashP so borrowed copies never collide with
    * genuine minima across different borrow distances. Same affine
    * integer family as MinHash (permutation 0), so a DuckDB oracle
    * recomputes the exact signature. Collision probability per bucket
    * estimates Jaccard resemblance like classic MinHash.
    */
  def ophSigUdf(shingleN: Int, k: Int) = udf { (toks: Seq[String]) =>
    val shingles: Seq[String] =
      if (toks == null || toks.isEmpty) Seq("")
      else if (toks.length < shingleN) Seq(toks.mkString(" "))
      else toks.sliding(shingleN).map(_.mkString(" ")).toSeq
    val mins = Array.fill(k)(Long.MaxValue)
    shingles.foreach { s =>
      val h = minhashPerm(0, polyHash(s))
      val b = (h % k).toInt
      if (h < mins(b)) mins(b) = h
    }
    Array.tabulate(k) { j =>
      if (mins(j) != Long.MaxValue) mins(j)
      else {
        var t = 1
        while (mins((j + t) % k) == Long.MaxValue) t += 1
        mins((j + t) % k) + t.toLong * HashP
      }
    }
  }

  /** MULTISET MinHash signature: each shingle occurrence becomes a
    * distinct element (base·31 + occurrence-index mod p), so the
    * collision probability estimates the multiset (bag) Jaccard
    * Σmin(mᴬ,mᴮ)/Σmax(mᴬ,mᴮ) — weighted resemblance where repeated
    * content counts with its multiplicity. Plain [[minhashSigUdf]]
    * dedupes shingles and cannot tell "one copy" from "fifty copies" of
    * a boilerplate line; this one can. Same affine permutation family,
    * so a DuckDB oracle (row_number per (doc, shingle) = the occurrence
    * index) recomputes the exact signature.
    */
  def multisetMinhashSigUdf(shingleN: Int, k: Int) =
    udf { (toks: Seq[String]) =>
      val shingles: Seq[String] =
        if (toks == null || toks.isEmpty) Seq("")
        else if (toks.length < shingleN) Seq(toks.mkString(" "))
        else toks.sliding(shingleN).map(_.mkString(" ")).toSeq
      val occ = new java.util.HashMap[String, Integer]()
      val bases = shingles.map { s =>
        val c = occ.merge(s, 1, (a, b) => a + b)
        (polyHash(s) * 31L + c.toLong) % HashP
      }
      Array.tabulate(k) { i =>
        var min = Long.MaxValue
        bases.foreach { h0 =>
          val h = minhashPerm(i, h0); if (h < min) min = h
        }
        min
      }
    }

  /** 60-bit SimHash over whitespace tokens: sign-aggregated bitwise vote of
    * per-token hashes. The token hash is two affine mixes of [[polyHash]]
    * packed as (hi << 30) | lo — plain integer arithmetic, so a SQL oracle
    * recomputes the exact signature. One JVM pass per document (UDF) — the
    * Catalyst formulation (per-bit `aggregate` folds) re-evaluates the
    * tokenize+hash subtree per bit with no CSE, the interpreted-HOF
    * pathology documented in SCALE.md.
    */
  val SimhashBits = 60

  /** The `udf` form of the SimHash kernel — kept for the native-vs-UDF
    * equality spec; production paths route through the native
    * [[graft.expr.SimhashExpr]] via [[simhash64]].
    */
  val simhash64Udf = udf { (toks: Seq[String]) =>
    val votes = new Array[Int](SimhashBits)
    if (toks != null) toks.foreach { t =>
      val h0 = polyHash(t)
      val lo = (104729L * h0 + 7L) % HashP   // < 2^30
      val hi = (1299709L * h0 + 31L) % HashP // < 2^30
      val h = (hi << 30) | lo
      var b = 0
      while (b < SimhashBits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < SimhashBits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Production SimHash: the native codegen kernel
    * ([[graft.expr.SimhashExpr]], value-identical to [[simhash64Udf]]
    * by spec); null text coalesces to the empty token array, which
    * votes to 0L exactly like the UDF's null path.
    */
  def simhash64(text: Column): Column =
    graft.expr.GraftExpressions.simhash(
      coalesce(tokens(lower(text)), array().cast("array<string>")))

  /** Production MinHash signature: the native codegen kernel
    * ([[graft.expr.MinhashSigExpr]], value-identical to
    * [[minhashSigUdf]] by spec — drop-in for the
    * `minhashSigUdf(n, k)(toks)` call shape).
    */
  def minhashSig(shingleN: Int, k: Int): Column => Column =
    toks => graft.expr.GraftExpressions.minhashSig(
      coalesce(toks, array().cast("array<string>")), shingleN, k)

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Rolling polynomial fingerprint of normalized text (document identity
    * that survives whitespace/case changes). base-31 mod 1e9+7, expressed as
    * an `aggregate` fold over characters of the normalized string. The
    * modulus keeps `acc * 31 + ch` < 2^35, safe under ANSI overflow checks.
    */
  def fingerprint(text: Column): Column = {
    val norm = lower(regexp_replace(trim(text), "\\s+", " "))
    val m = lit(1000000007L)
    aggregate(
      transform(sequence(lit(1), greatest(length(norm), lit(1))), i => ascii(norm.substr(i, lit(1)))),
      lit(0L),
      (acc, ch) => pmod(acc * 31 + ch.cast("long"), m))
  }

  /** Language-ID heuristic: per-language marker-word hit counts; the
    * prediction is the argmax with a deterministic tie order (en, de, fr, es,
    * zh). Mirrors fastText-style ID at the "cheap filter" tier.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "und", "die", "ist", "mit"),
    "fr" -> Seq("le", "et", "les", "est", "avec"),
    "es" -> Seq("el", "y", "los", "es", "con"),
    "zh" -> Seq("de5", "shi4", "le5", "he2", "zai4"))

  private val markerHits: Map[String, org.apache.spark.sql.expressions.UserDefinedFunction] =
    langMarkers.map { case (l, ws) => l -> hitCountUdf(ws.toSet, lowercase = false) }

  def langScore(text: Column, lang: String): Column =
    markerHits(lang)(tokens(lower(text)))

  /** One-pass argmax over all language marker sets. The Column formulation
    * (greatest + when-chain) references each score subtree ~7× and
    * re-evaluates the tokenize+count pipeline per reference — measured 8.5 s
    * for 50k docs vs sub-second for this kernel. Tie order en,de,fr,es,zh;
    * "und" when no marker hits.
    */
  private val langIdKernel = {
    val ordered = Seq("en", "de", "fr", "es", "zh")
    val sets = ordered.map(l => langMarkers(l).toSet)
    udf { (toks: Seq[String]) =>
      if (toks == null) "und"
      else {
        val scores = new Array[Int](sets.length)
        toks.foreach { t =>
          var i = 0
          while (i < sets.length) { if (sets(i).contains(t)) scores(i) += 1; i += 1 }
        }
        var best = 0; var bestIdx = -1
        var i = 0
        while (i < scores.length) {
          if (scores(i) > best) { best = scores(i); bestIdx = i }
          i += 1
        }
        if (bestIdx < 0) "und" else ordered(bestIdx)
      }
    }
  }

  def langId(text: Column): Column = langIdKernel(tokens(lower(text)))

  // ------------------------------------------------- URL canonicalization

  /** Canonicalize a URL for dedup/host-graph keying — the web-corpus
    * normalization pass (crawls re-serve the same page under scheme/
    * host case, default ports, tracking params, and fragments):
    *
    *  1. drop the fragment (`#...`);
    *  2. lowercase the scheme and authority (path/query case is
    *     significant and kept);
    *  3. strip default ports (`:80` for http, `:443` for https),
    *     tolerating a `user:pass@` userinfo segment before the host;
    *  4. split the query (everything after the FIRST `?`) into `&`-
    *     separated parameters, drop `utm_*=`/`fbclid=` tracking
    *     parameters and empty parameters, and SORT the survivors
    *     (binary/codepoint order) — `?a=1&b=2` and `?b=2&a=1`, the
    *     single most common equivalent-URL form in crawl data, key
    *     identically. The path is untouched: a literal `&utm_x=y`
    *     inside a path segment (legal — `&` needs no escaping in a
    *     path) is NOT stripped, because the parameter machinery only
    *     ever sees text after the first `?`;
    *  5. drop a query left empty by step 4 (no trailing `?`);
    *  6. give a bare authority the root path (`http://x.com` →
    *     `http://x.com/`).
    *
    * Codegen'd regexp steps plus array HOFs for the parameter sort (no
    * lookaround — the same patterns run under Java regex here and RE2
    * in the DuckDB oracle, and the sort replays as
    * `list_sort`/`list_filter`, so two independent engines cross-check
    * the result, the q167 two-implementations discipline). Null stays
    * null; a string with no `scheme://` gets steps 1, 4 and 5 only (no
    * authority to case-fold). Parameters sort by UTF-16 code unit here
    * vs bytes in DuckDB — identical on ASCII; both orders are total,
    * so dedup keying stays consistent within either engine regardless.
    */
  def urlCanonicalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // lowercase scheme://authority (authority = up to first /, ?, #)
    val schemeAuth = regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    val lowered = when(schemeAuth === "", noFrag)
      .otherwise(concat(lower(schemeAuth),
        noFrag.substr(length(schemeAuth) + 1, length(noFrag))))
    val noPort = regexp_replace(
      regexp_replace(lowered,
        "^(http://(?:[^/?#@]*@)?[^/?#:]*):80([/?#].*)?$", "$1$2"),
      "^(https://(?:[^/?#@]*@)?[^/?#:]*):443([/?#].*)?$", "$1$2")
    // everything strictly after the first '?' (both "no '?'" and an
    // empty query yield "", which rebuilds with no '?' at all)
    val pre = regexp_extract(noPort, "^([^?]*)", 1)
    val qs = regexp_extract(noPort, "^[^?]*\\?(.*)$", 1)
    val params = filter(split(qs, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^&=]*|fbclid)="))
    val sortedQ = array_join(array_sort(params), "&")
    val rebuilt = when(coalesce(sortedQ, lit("")) === "", pre)
      .otherwise(concat(pre, lit("?"), sortedQ))
    regexp_replace(rebuilt, "^([a-z][a-z0-9+.-]*://[^/?#]+)$", "$1/")
  }

  /** The lowercased host of a URL: authority minus userinfo and port.
    * Null/no-authority → null.
    */
  def urlHost(url: Column): Column = {
    val auth = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_replace(regexp_replace(auth, "^[^@]*@", ""),
      ":[0-9]*$", ""))
    when(host === "", lit(null).cast("string")).otherwise(host)
  }

  /** HTML → visible text, the crawl pipeline's extraction step (C4 and
    * CCNet both open with exactly this before any quality filter). A
    * DETERMINISTIC regexp chain, not a DOM parse — the point is a
    * transformation both engines can replay byte-for-byte (the q167
    * two-implementations discipline: Java regex here, RE2 in the DuckDB
    * oracle; every pattern stays inside the common subset — no
    * lookaround, no backreferences, no `\s` shorthands whose class
    * membership differs between the engines):
    *
    *  1. drop `<script>`/`<style>` elements WITH their content and
    *     `<!-- -->` comments (non-greedy, case-insensitive,
    *     dot-matches-newline);
    *  2. turn the block-structure tags (`<br>`, closing `</p> </div>
    *     </h1..6> </li> </tr> </title>`) into newlines — line identity
    *     feeds the per-line operators (line dedup, per-line LID, C4's
    *     line rules);
    *  3. strip every remaining tag to a space;
    *  4. decode the predefined XML entities (`&lt; &gt; &quot;`, the
    *     apostrophe's common `&#39;` form) plus `&nbsp;` — ampersand
    *     LAST so
    *     `&amp;lt;` decodes to the literal `&lt;` (double-escaping
    *     stays faithful);
    *  5. collapse runs of non-newline whitespace to one space, trim
    *     around newlines, collapse newline runs, and trim the ends.
    *
    * Real-world boilerplate REMOVAL (menus, nav) is a per-line quality
    * judgment layered on top (C4 battery q192); this function is the
    * markup→text step those line rules consume.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(
      regexp_replace(html, "(?is)<script[^>]*>.*?</script[ \t]*>", ""),
      "(?is)<style[^>]*>.*?</style[ \t]*>", "")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", "")
    val blocks = regexp_replace(noComment,
      "(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val entities = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(noTags, "&lt;", "<"),
              "&gt;", ">"),
            "&quot;", "\""),
          "&#39;", "'"),
        "&nbsp;", " "),
      "&amp;", "&")
    val oneSpace = regexp_replace(entities, "[ \t\r\f]+", " ")
    val tightNl = regexp_replace(oneSpace, "[ ]*\n[ \n]*", "\n")
    regexp_replace(tightNl, "^[ \n]+|[ \n]+$", "")
  }

  /** All `href` targets of `<a>` elements, in document order — the raw
    * attribute values (entity decode is the caller's choice; crawl link
    * graphs key on [[urlCanonicalize]] of these). Double- or
    * single-quoted attributes; unquoted hrefs (rare, legal) are not
    * matched — same subset in the oracle replay.
    */
  def htmlLinks(html: Column): Column =
    filter(
      regexp_extract_all(html,
        lit("(?is)<a[ \t\r\n][^>]*href[ \t]*=[ \t]*[\"']([^\"'>]*)[\"']"), lit(1)),
      l => l =!= "")

  /** All `<a href=…>anchor text</a>` pairs in document order, as an
    * array of `(href, text)` structs — anchor text is how the REST of
    * the web describes a page, the classic relevance/quality signal
    * (and a training-data label source) that per-page extraction
    * can't see. Inner markup in the anchor body is stripped and
    * whitespace collapsed; href-less `<a name=…>` anchors don't
    * match (same subset as [[htmlLinks]]).
    */
  /** Markup fragment → visible text: tags stripped, the predefined
    * entities decoded (ampersand last, [[htmlToText]] step 4), ALL
    * whitespace collapsed to single spaces, trimmed. The per-block /
    * per-anchor cleaner behind [[htmlAnchors]] and
    * [[graft.operators.Crawl.mainContent]].
    */
  def htmlFragmentText(frag: Column): Column = {
    val noTags = regexp_replace(frag, "<[^>]*>", " ")
    val entities = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(noTags, "&lt;", "<"),
              "&gt;", ">"),
            "&quot;", "\""),
          "&#39;", "'"),
        "&nbsp;", " "),
      "&amp;", "&")
    regexp_replace(regexp_replace(entities, "[ \t\r\n\f]+", " "),
      "^[ ]+|[ ]+$", "")
  }

  /** `<a …>` extraction pattern. Group 1 is the href VALUE WITH ITS
    * QUOTES (per-quote alternation, so a double-quoted value may
    * legally contain `'` and vice versa — callers strip the outer
    * pair); group 2 is the raw anchor markup. The attribute name
    * requires a whitespace boundary (`<a data-href=…>` is NOT a link)
    * and the whole pattern stays inside the RE2 subset (no
    * backreferences/lookaround) so DuckDB oracles can replay it.
    */
  val anchorPattern: String = "(?is)<a[ \t\r\n](?:[^>]*[ \t\r\n])?" +
    "href[ \t]*=[ \t]*(\"[^\"]*\"|'[^']*')[^>]*>(.*?)</a[ \t]*>"

  def htmlAnchors(html: Column): Column = {
    val pat = lit(anchorPattern)
    arrays_zip(
      transform(regexp_extract_all(html, pat, lit(1)),
        v => v.substr(lit(2), length(v) - 2)).as("href"),
      transform(regexp_extract_all(html, pat, lit(2)),
        t => htmlFragmentText(t)).as("text"))
  }

  /** Positions (1-based token index) where the exact token PHRASE
    * starts inside `text` — positional phrase search as a ROW-LOCAL
    * higher-order function (no postings explode, no join): for a
    * k-token phrase, each candidate start is k codegen'd equality
    * probes into the token array. Overlapping occurrences all report.
    */
  def phraseMatches(text: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "empty phrase")
    val ws = split(trim(text), " ")
    val k = phrase.length
    when(size(ws) >= k,
      filter(sequence(lit(1), size(ws) - (k - 1)),
        p => phrase.zipWithIndex.map { case (w, i) =>
          element_at(ws, p + lit(i)) === lit(w) }
          .reduce(_ && _)))
      .otherwise(array().cast("array<int>"))
  }

  /** [[phraseMatches]] with the phrase as a COLUMN (array of tokens) —
    * the table-driven form a gazetteer join needs. Each candidate
    * start slice-compares against the phrase array (one codegen'd
    * array equality per start, no nested per-token lambda). Empty or
    * null phrases match nowhere.
    */
  def phrasePositions(text: Column, phraseToks: Column): Column = {
    val ws = split(trim(text), " ")
    val k = size(phraseToks)
    when(phraseToks.isNotNull && k >= 1 && size(ws) >= k,
      filter(sequence(lit(1), size(ws) - k + 1),
        p => slice(ws, p, k) === phraseToks))
      .otherwise(array().cast("array<int>"))
  }

  /** The `<title>` text (first one, tags inside dropped, whitespace
    * collapsed), null when absent — the page-level signal quality
    * classifiers use.
    */
  def htmlTitle(html: Column): Column = {
    val raw = regexp_extract(html, "(?is)<title[^>]*>(.*?)</title", 1)
    val clean = regexp_replace(
      regexp_replace(raw, "<[^>]*>", " "), "[ \t\r\n\f]+", " ")
    val t = regexp_replace(clean, "^[ ]+|[ ]+$", "")
    when(t === "", lit(null).cast("string")).otherwise(t)
  }
}
