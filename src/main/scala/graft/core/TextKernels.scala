package graft.core

/** Pure text-analysis kernels for the training-data pipeline operators:
  * tokenization, quality scoring, n-gram language id, shingling, MinHash,
  * SimHash, rolling-hash fingerprint. All deterministic, allocation-lean,
  * engine-agnostic (wrapped by Catalyst expressions in graft.functions).
  */
object TextKernels extends Serializable {

  // ---- hashing ----------------------------------------------------------

  /** splitmix64 finalizer — the 64-bit mixer used throughout. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit hash of a char range (FNV-1a folded through mix64). */
  def hashChars(s: CharSequence, from: Int, until: Int, seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = from
    while (i < until) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  // ---- tokenization ------------------------------------------------------

  @inline private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '\''

  /** Whitespace-token count (split on runs of whitespace). */
  def tokenCountWhitespace(s: String): Long = {
    var n = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && !inTok) { n += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    n
  }

  /** BPE-ish subword count: word tokens contribute ceil(len/4) (typical
    * byte-pair merge density for web text), digit runs and punctuation one
    * each. A deterministic stand-in for a real tokenizer's token count.
    */
  def tokenCountBpe(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else if (isWordChar(c)) {
        var j = i
        while (j < s.length && isWordChar(s.charAt(j))) j += 1
        n += (j - i + 3) / 4
        i = j
      } else { n += 1; i += 1 }
    }
    n
  }

  /** Word [from,until) spans, lowercased hashes for shingling. */
  def wordHashes(s: String, seed: Long): Array[Long] = {
    val out = new IntArrayListLong
    var i = 0
    while (i < s.length) {
      if (isWordChar(s.charAt(i))) {
        var j = i
        var h = 0xcbf29ce484222325L ^ seed
        while (j < s.length && isWordChar(s.charAt(j))) {
          h ^= Character.toLowerCase(s.charAt(j)).toLong
          h *= 0x100000001b3L
          j += 1
        }
        out.add(mix64(h))
        i = j
      } else i += 1
    }
    out.toArray
  }

  /** Distinct hashed word n-gram shingles (sorted, for set ops). */
  def shingles(s: String, n: Int, seed: Long = 0L): Array[Long] = {
    val words = wordHashes(s, seed)
    if (words.length < n) return Array.emptyLongArray
    // primitive sort + in-place dedup (bit-identical to the previous
    // TreeSet: sorted distinct), no per-shingle boxing/tree rebalance
    val buf = new Array[Long](words.length - n + 1)
    var i = 0
    while (i + n <= words.length) {
      var h = 0x9e3779b97f4a7c15L
      var k = 0
      while (k < n) { h = mix64(h ^ words(i + k)); k += 1 }
      buf(i) = h
      i += 1
    }
    java.util.Arrays.sort(buf)
    var w = 0
    var r = 0
    while (r < buf.length) {
      if (w == 0 || buf(r) != buf(w - 1)) { buf(w) = buf(r); w += 1 }
      r += 1
    }
    if (w == buf.length) buf else java.util.Arrays.copyOf(buf, w)
  }

  /** |a ∩ b| over two sorted distinct-hash arrays (merge scan — no per-row
    * hash-set allocation, unlike builtin array_intersect).
    */
  def sortedCommonCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0
    var j = 0
    var common = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { common += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    common
  }

  /** Exact Jaccard over two sorted distinct-hash arrays. */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 && b.length == 0) return 0.0
    var i = 0
    var j = 0
    var common = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { common += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    common.toDouble / (a.length + b.length - common).toDouble
  }

  /** MinHash signature over word n-gram shingles: k permutations simulated
    * by k seeded mixes (one pass per shingle, k mins).
    */
  def minHashSignature(s: String, numHashes: Int, shingleSize: Int, seed: Long = 0L): Array[Long] =
    minHashFromShingles(shingles(s, shingleSize, seed), numHashes)

  /** The signature kernel factored over an ALREADY-computed shingle array —
    * [[minHashSignature]] is exactly `minHashFromShingles(shingles(s))`, so a
    * pipeline that materializes shingles once (dedup verify needs them
    * anyway) derives the signature without a second tokenization pass.
    * Duplicate shingles cannot change a per-lane min, so the input need not
    * be distinct; order is irrelevant for the same reason.
    *
    * Per shingle, one branch-free loop hashes all lanes into a scratch
    * array and a second takes the lane minima, so C2 can vectorize both.
    */
  def minHashFromShingles(sh: Array[Long], numHashes: Int): Array[Long] = {
    val seeds = Array.tabulate(numHashes)(k => 0xd6e8feb86659fd93L * (k + 1))
    val hashes = new Array[Long](numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val s = sh(i)
      var k = 0
      while (k < numHashes) { hashes(k) = mix64(s ^ seeds(k)); k += 1 }
      k = 0
      while (k < numHashes) { sig(k) = math.min(sig(k), hashes(k)); k += 1 }
      i += 1
    }
    sig
  }

  /** Estimated Jaccard from two MinHash signatures. */
  def minHashEstimate(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    if (a.length == 0) 0.0 else eq.toDouble / a.length
  }

  private val tlMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 bytes of the UTF-8 token, big-endian — bit-identical to
    * SQL `('0x' || substr(md5(token), 1, 16))::UBIGINT`, so SimHash built on
    * it is mirrorable by an ANSI-SQL oracle (md5 is the one cryptographic
    * hash every engine shares).
    */
  /** md5-hashed MinHash signature over word n-gram STRINGS — the
    * oracle-mirrorable sibling of [[minHashSignature]] (the simHash64 /
    * simHash64Md5 convention): h_k(gram) = md5Low64(k + chr(1) + gram),
    * minimized under UNSIGNED comparison so an ANSI engine's UBIGINT min
    * reproduces every lane bit-exactly. Words are lowercased maximal
    * word-char runs; grams are space-joined n-windows (duplicates do not
    * affect a min). Documents with fewer than `shingleSize` words return
    * an EMPTY signature.
    */
  def minHashSignatureMd5(s: String, numHashes: Int,
                          shingleSize: Int): Array[Long] = {
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < s.length) {
      if (isWordChar(s.charAt(i))) {
        sb.setLength(0)
        var j = i
        while (j < s.length && isWordChar(s.charAt(j))) {
          sb.append(Character.toLowerCase(s.charAt(j)))
          j += 1
        }
        words += sb.toString
        i = j
      } else i += 1
    }
    if (words.length < shingleSize) return Array.emptyLongArray
    val sep = String.valueOf(1.toChar)
    val sig = Array.fill(numHashes)(-1L) // unsigned max
    var g = 0
    while (g + shingleSize <= words.length) {
      val gram = words.slice(g, g + shingleSize).mkString(" ")
      var k = 0
      while (k < numHashes) {
        val h = md5Low64(k.toString + sep + gram)
        if (java.lang.Long.compareUnsigned(h, sig(k)) < 0) sig(k) = h
        k += 1
      }
      g += 1
    }
    sig
  }

  def md5Low64(token: String): Long = {
    val md = tlMd5.get()
    md.reset()
    val d = md.digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** 64-bit SimHash over md5-hashed word unigrams (oracle-mirrorable form;
    * same banding/verify machinery as [[simHash64]]).
    */
  def simHash64Md5(s: String): Long = {
    val counts = new Array[Int](64)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < s.length) {
      if (isWordChar(s.charAt(i))) {
        sb.setLength(0)
        var j = i
        while (j < s.length && isWordChar(s.charAt(j))) {
          sb.append(Character.toLowerCase(s.charAt(j)))
          j += 1
        }
        val h = md5Low64(sb.toString)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i = j
      } else i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** 64-bit SimHash over word unigram hashes (weight 1). */
  def simHash64(s: String, seed: Long = 0L): Long = {
    val words = wordHashes(s, seed)
    val counts = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val h = words(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Rolling-hash document fingerprint (winnowing-lite): Rabin-Karp over a
    * byte window, keep the minimum hash per block of `block` positions, fold
    * the mins. Robust to small local edits away from the sampled minima.
    */
  def rollingFingerprint(s: String, window: Int = 16, block: Int = 64): Long = {
    if (s.length < window) return mix64(hashChars(s, 0, s.length, 77L))
    val B = 1000003L
    var pow = 1L
    var k = 0
    while (k < window - 1) { pow *= B; k += 1 }
    var h = 0L
    var i = 0
    while (i < window) { h = h * B + s.charAt(i); i += 1 }
    var blockMin = Long.MaxValue
    var acc = 0xabcdef0123456789L
    var pos = 0
    while (true) {
      val m = mix64(h)
      if (m < blockMin) blockMin = m
      pos += 1
      if (pos % block == 0) { acc = mix64(acc ^ blockMin); blockMin = Long.MaxValue }
      if (i >= s.length) {
        if (blockMin != Long.MaxValue) acc = mix64(acc ^ blockMin)
        return acc
      }
      h = (h - s.charAt(i - window) * pow) * B + s.charAt(i)
      i += 1
    }
    acc
  }

  // ---- quality -----------------------------------------------------------

  final case class Quality(
      nChars: Long, nTokens: Long, meanTokenLen: Double,
      punctRatio: Double, digitRatio: Double, upperRatio: Double,
      stopwordRatio: Double, maxLineLen: Long, blankLineRatio: Double,
      score: Double)

  private val stopwords: Set[Long] = {
    val words = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "was", "at", "by", "be", "this",
      "are", "from", "but", "not", "have", "had", "his", "her", "they", "we")
    words.map(w => hashChars(w, 0, w.length, 0L) /* mirrors wordHashes on lowercase */).toSet
  }

  def quality(s: String): Quality = {
    val n = s.length
    var punct = 0L
    var digit = 0L
    var upper = 0L
    var letters = 0L
    var lineLen = 0L
    var maxLine = 0L
    var blankLines = 0L
    var lines = 1L
    var lineBlank = true
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\n') {
        if (lineBlank) blankLines += 1
        if (lineLen > maxLine) maxLine = lineLen
        lines += 1; lineLen = 0; lineBlank = true
      } else {
        lineLen += 1
        if (!Character.isWhitespace(c)) lineBlank = false
      }
      if (Character.isLetter(c)) { letters += 1; if (Character.isUpperCase(c)) upper += 1 }
      else if (Character.isDigit(c)) digit += 1
      else if (!Character.isWhitespace(c)) punct += 1
      i += 1
    }
    if (lineLen > maxLine) maxLine = lineLen
    if (lineBlank && lineLen == 0 && n > 0 && s.charAt(n - 1) == '\n') () // trailing newline: not an extra blank line
    val words = wordHashes(s, 0L)
    val nTok = words.length.toLong
    var stops = 0L
    var wi = 0
    while (wi < words.length) { if (stopwords.contains(words(wi))) stops += 1; wi += 1 }
    val meanTokLen = if (nTok == 0) 0.0 else letters.toDouble / nTok
    val punctRatio = if (n == 0) 0.0 else punct.toDouble / n
    val digitRatio = if (n == 0) 0.0 else digit.toDouble / n
    val upperRatio = if (letters == 0) 0.0 else upper.toDouble / letters
    val stopRatio = if (nTok == 0) 0.0 else stops.toDouble / nTok
    val blankRatio = blankLines.toDouble / lines
    // heuristic quality in [0,1]: long-enough, word-like, low punct/digit noise
    val lenScore = math.min(1.0, nTok / 50.0)
    val noise = math.min(1.0, 2.0 * punctRatio + 2.0 * digitRatio + blankRatio)
    val wordiness = if (meanTokLen >= 2.5 && meanTokLen <= 9.0) 1.0 else 0.5
    val score = math.max(0.0, math.min(1.0, 0.5 * lenScore + 0.3 * wordiness + 0.2 * (1.0 - noise)))
    Quality(n.toLong, nTok, meanTokLen, punctRatio, digitRatio, upperRatio,
      stopRatio, maxLine, blankRatio, score)
  }

  // ---- language id -------------------------------------------------------

  /** Tiny per-language character-trigram profiles (most frequent trigrams,
    * space-padded, public linguistic knowledge). Scoring = fraction of the
    * document's trigrams present in each profile; best score wins, "und"
    * when nothing clears the floor.
    */
  private val langProfiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng ",
      " to", "to ", "ed ", " in", "in ", "ion", "on ", "ent", " co", "at ",
      "er ", "es ", " re", "tio", " a ", "is ", " is", "re ", " be", "or "),
    "de" -> Set(" de", "der", "er ", "ie ", " di", "die", "und", " un", "nd ", "en ",
      "ein", " ei", "ich", "ch ", "sch", "che", " da", "das", "ung", "ng ",
      " ge", "ver", " ve", "ten", "den", "ine", " zu", "zu ", "ens", "ber"),
    "fr" -> Set(" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "et ", " et",
      "ion", "on ", "e d", " pa", "que", " qu", "ue ", "les", "e l", "re ",
      "ur ", " un", "un ", "ais", "eur", " co", "ous", "ant", "our", "tio"),
    "es" -> Set(" de", "de ", " la", "la ", "os ", " el", "el ", "que", " qu", "ue ",
      "as ", " en", "en ", "ent", "es ", " co", "con", "ion", "ión", " se",
      "ado", "ar ", " po", "por", " es", "sta", "cio", "nte", "los", " lo"),
    "it" -> Set(" di", "di ", " de", "del", " la", "la ", "to ", "re ", "ion", "one",
      " co", "con", "ent", "re ", "che", " ch", "he ", "no ", "are", "ere",
      "ta ", " in", "in ", "ll ", "lla", "gli", " pe", "per", "er ", "zio"))

  def langId(s: String): (String, Double) = {
    if (s == null || s.length < 6) return ("und", 0.0)
    val lower = s.toLowerCase
    var best = "und"
    var bestScore = 0.0
    val n = math.min(lower.length, 4000) // sample prefix; enough signal
    for ((lang, profile) <- langProfiles) {
      var hits = 0
      var total = 0
      var i = 0
      while (i + 3 <= n) {
        val tri = lower.substring(i, i + 3)
        if (tri.exists(Character.isLetter)) {
          total += 1
          if (profile.contains(tri)) hits += 1
        }
        i += 1
      }
      val score = if (total == 0) 0.0 else hits.toDouble / total
      if (score > bestScore) { bestScore = score; best = lang }
    }
    if (bestScore < 0.08) ("und", bestScore) else (best, bestScore)
  }

  // ---- vectors -----------------------------------------------------------

  /** Cosine similarity of two float vectors, accumulated in double in
    * element order (matches a sequential oracle's summation order).
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Sign bits against k pseudo-random hyperplanes (deterministic from seed):
    * the LSH bucket key for cosine similarity.
    */
  // ---- web-text normalization -------------------------------------------

  /** Canonical web-text cleanup — the byte-identical normalized-text
    * contract for the graft's actual domain (N1 is the CNF grammar; this is
    * the web-page one). Every production corpus pipeline (CCNet, C4, Dolma)
    * applies exactly this family of passes before hashing/dedup, because a
    * denormalized "Café" (e + U+0301) and a composed one otherwise hash to
    * different documents. Pass order (each pass equals the stated regex
    * applied globally, which is how the external SQL oracle replays it):
    *
    *  1. `\r\n?` -> `\n` (newline canonicalization).
    *  2. drop C0 controls except `\n`/`\t`, plus DEL and C1
    *     (`[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x80-\x9F]` -> ``).
    *  3. Unicode NFC (canonical composition). AFTER the control strip on
    *     purpose: removing a control can create a newly-composable pair
    *     ("e", U+0001, U+0301 -> "e", U+0301), and only composing after
    *     the strip makes the whole chain idempotent.
    *  4. `[ \t]+` -> ` ` (horizontal-whitespace collapse).
    *  5. ` *\n *` -> `\n` (no spaces adjacent to newlines).
    *  6. `\n{3,}` -> `\n\n` (at most one blank line).
    *  7. strip leading/trailing ` `/`\n`.
    *
    * (Whitespace deletions never create composable adjacencies — every
    * retained space/newline has ccc=0 and blocks composition — so NFC
    * need not re-run after passes 4-7.) Deterministic, idempotent
    * (property-tested), row-local — zero shuffle, and the NFC pass is the
    * only allocation-heavy step. Passes 1-2 and 4-7 each run as one char
    * walk; equivalence with the sequential regex pipeline is pinned by a
    * property test against java.util.regex.
    */
  def normalizeWebText(s: String): String = {
    // passes 1-2: newline canonicalization + control strip (pre-NFC)
    val a = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\r') {
        if (i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
        a.append('\n')
      } else if (c == '\n' || c == '\t') a.append(c)
      else if (c < 0x20 || (c >= 0x7f && c <= 0x9f)) () // drop control
      else a.append(c)
      i += 1
    }
    // pass 3
    val nfc = java.text.Normalizer.normalize(a, java.text.Normalizer.Form.NFC)
    // passes 4-7: whitespace canonicalization
    val n = nfc.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var newlines = 0 // consecutive '\n' already appended
    var j = 0
    while (j < n) {
      val c = nfc.charAt(j)
      if (c == ' ' || c == '\t') pendingSpace = true // pass 4 (tab -> space)
      else if (c == '\n') { // pass 5 eats the space; pass 6 caps the run
        pendingSpace = false
        // never leading (pass 7), at most two consecutive (pass 6)
        if (sb.length > 0 && newlines < 2) { sb.append('\n'); newlines += 1 }
      } else {
        // pass 5/7: no space after '\n' or at the start
        if (pendingSpace && newlines == 0 && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
        newlines = 0
      }
      j += 1
    }
    var end = sb.length // pass 7: strip trailing '\n' (spaces never trail)
    while (end > 0 && sb.charAt(end - 1) == '\n') end -= 1
    sb.substring(0, end)
  }

  /** Length (in code points) of the longest substring occurring at least
    * TWICE in the first `cap` code points of `s` (occurrences may
    * overlap) — the sharpest intra-document repetition signal: n-gram
    * repetition fractions saturate on short phrases, while a long
    * copy-pasted block shows up here at its full length.
    *
    * Exact (no fingerprinting): suffix-order the capped text and take the
    * max longest-common-prefix of ADJACENT suffixes — equal to the global
    * max-LCP under ANY lexicographic order, so an external engine sorting
    * suffixes under a different (but lexicographic) collation computes
    * the identical value. Cost O(cap² log cap) worst case; cap bounds it
    * per row (512 → ~3M char ops, the doc-local budget envelope pattern).
    */
  def longestRepeatedSubstring(s: String, cap: Int): Long = {
    require(cap >= 1, "cap must be >= 1")
    val cps = s.codePoints().limit(cap.toLong).toArray
    val n = cps.length
    if (n < 2) return 0L
    val idx = Array.range(0, n).map(Integer.valueOf)
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      def compare(a: Integer, b: Integer): Int = {
        var i = a.intValue(); var j = b.intValue()
        while (i < n && j < n) {
          if (cps(i) != cps(j)) return Integer.compare(cps(i), cps(j))
          i += 1; j += 1
        }
        // one suffix is a prefix of the other: the shorter sorts first
        Integer.compare(n - a.intValue(), n - b.intValue())
      }
    })
    var best = 0
    var k = 1
    while (k < n) {
      var i = idx(k - 1).intValue(); var j = idx(k).intValue()
      var l = 0
      while (i < n && j < n && cps(i) == cps(j)) { i += 1; j += 1; l += 1 }
      if (l > best) best = l
      k += 1
    }
    best.toLong
  }

  def hyperplaneSignature(v: Array[Float], bits: Int, seed: Long): Long = {
    var out = 0L
    var k = 0
    while (k < bits) {
      var dot = 0.0
      var i = 0
      while (i < v.length) {
        // deterministic pseudo-gaussian component in [-1,1)
        val h = mix64(seed ^ (k.toLong << 32) ^ i.toLong)
        dot += v(i).toDouble * ((h >> 11).toDouble / (1L << 52).toDouble)
        i += 1
      }
      if (dot >= 0) out |= (1L << k)
      k += 1
    }
    out
  }
}

/** Minimal growable long array. */
final class IntArrayListLong(initialCapacity: Int = 16) {
  private[this] var arr = new Array[Long](initialCapacity)
  private[this] var n = 0
  @inline def size: Int = n
  def add(v: Long): Unit = {
    if (n == arr.length) {
      val bigger = new Array[Long](arr.length * 2)
      System.arraycopy(arr, 0, bigger, 0, n)
      arr = bigger
    }
    arr(n) = v
    n += 1
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(arr, n)
}
