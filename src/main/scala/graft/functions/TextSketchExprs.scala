package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-sketch hot paths.
  *
  * The composable formulation (`transform(sequence(0,k-1), i ->
  * array_min(transform(shingles, s -> xxhash64(i, s))))`) walks the shingle
  * array k times through interpreted lambda dispatch and allocates k
  * intermediate arrays per row — measured 436 s for the MinHash band table
  * at sf0.1 vs ~2 s for the fused loop below. Each expression generates a
  * single static-helper call, so enclosing stages stay inside whole-stage
  * codegen.
  */
object TextSketches {

  /** k-seed MinHash over a string array: mins(i) = min over elements of
    * xxhash64(bytes, seed=i). One pass over the elements. */
  def minhash(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(java.lang.Long.MAX_VALUE)
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val s = arr.getUTF8String(e)
        val base = s.getBaseObject
        val off = s.getBaseOffset
        val len = s.numBytes()
        var i = 0
        while (i < k) {
          val h = XXH64.hashUnsafeBytes(base, off, len, i.toLong)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash over a token array: bit j set when the ±1 vote of the
    * token hashes' bit j is positive. One pass. */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val s = arr.getUTF8String(e)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      e += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  // MessageDigest is stateful and the static helpers run from generated
  // code on every executor thread — one instance per thread
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit md5 SimHash over a token array — the fused engine side of
    * the ORACLED md5 twin (the DuckDB oracle keeps the pure-SQL HOF
    * formulation; this computes bit-identical values in one pass with
    * no lambdas). Per token: the first 15 md5 hex digits parse to a
    * 60-bit long — exactly the digest's first 8 bytes read big-endian
    * and unsigned-shifted right 4; bit j of the fingerprint is set
    * when the tokens' bit-j ±1 votes sum positive. A NULL token votes
    * −1 on every bit (the HOF fold's `when(null ≡ 1).otherwise(−1)`
    * lands in the otherwise branch — preserved bit-for-bit; real
    * tokenizers never produce null elements). */
  def simhash60Md5(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    val md = md5Local.get()
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      if (arr.isNullAt(e)) {
        var j = 0
        while (j < 60) { votes(j) -= 1; j += 1 }
      } else {
        val d = md.digest(arr.getUTF8String(e).getBytes)
        var acc = 0L
        var i = 0
        while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
        val h = acc >>> 4
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      e += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** The k smallest distinct xxhash64 values of a string array, ascending —
    * a winnowing-style fingerprint sketch. Insertion into a k-slot buffer:
    * O(n·k) with k tiny, no full sort. */
  def minKHashes(arr: ArrayData, k: Int): ArrayData = {
    val buf = Array.fill(k)(java.lang.Long.MAX_VALUE)
    var filled = 0
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val s = arr.getUTF8String(e)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 7L)
        if (h < buf(k - 1)) {
          // find insert position (skip exact dups for distinctness)
          var i = 0
          var dup = false
          while (i < filled && buf(i) < h) i += 1
          if (i < filled && buf(i) == h) dup = true
          if (!dup) {
            var j = math.min(filled, k - 1)
            while (j > i) { buf(j) = buf(j - 1); j -= 1 }
            buf(i) = h
            if (filled < k) filled += 1
          }
        }
      }
      e += 1
    }
    new GenericArrayData(buf.take(math.max(filled, 1)))
  }

  /** Distinct word n-gram shingles in first-occurrence order; texts shorter
    * than n words collapse to one whole-text shingle. Replaces a
    * transform/slice/concat_ws/array_distinct HOF chain whose interpreted
    * lambda dispatch was the dominant (and erratic) cost at sf0.1. */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.trim.split("\\s+")
    if (toks.length == 0 || (toks.length == 1 && toks(0).isEmpty)) {
      new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    } else if (toks.length < n) {
      new GenericArrayData(Array[Any](UTF8String.fromString(toks.mkString(" "))))
    } else {
      val seen = new java.util.LinkedHashSet[String]((toks.length - n + 1) * 2)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var o = 0
      while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
      new GenericArrayData(out)
    }
  }

  /** Word-char test for marker tokenization: regex `\w` (`[A-Za-z0-9_]`)
    * plus non-ASCII letters, so accented words form their own tokens
    * instead of merging with neighbors. (CJK ideographs are handled
    * separately — see [[isCjk]].) */
  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_' || (c > 127 && Character.isLetter(c))

  /** CJK Unified Ideographs (+ Extension A). CJK text has no whitespace
    * word boundaries, so each ideograph is its own token — the char-level
    * fallback that lets single-char zh markers fire on unsegmented text
    * (equivalently: marker hits for CJK are substring-occurrence counts,
    * `len(regexp_extract_all(text, '[的了…]'))` in the oracle dialect). */
  @inline private def isCjk(c: Char): Boolean =
    (c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3400 && c <= 0x4DBF)

  /** ONE fused scan computing every per-document text signal the
    * quality/language-ID surface needs: whitespace token count, ASCII punct
    * count, ASCII uppercase count, non-whitespace char count, and per-
    * lexicon marker hits. Marker tokens are maximal word-runs (see
    * [[isWordChar]]), ASCII-lowercased, so punctuation is a token boundary
    * and a lexicon's hits match `regexp_count(lower(text), '\b(w1|w2|…)\b')`
    * for ASCII marker words — 'the,' and 'the.' count — without the regex
    * engine (whose generated matcher's JIT warm-up swung the bench 10-100×
    * run to run). CJK ideographs each form their own token ([[isCjk]]), so
    * single-char markers match UNSEGMENTED text too; the oracle counts
    * those as char-class occurrences, since RE2's `\b` never fires inside a
    * CJK run.
    * Replaces up to 9 separate char scans in the capstone pipeline.
    * `lookup` maps a lowercased marker word to a bitmask of lexicon
    * indices (a word may belong to several lexicons). */
  def textProfile(text: UTF8String, lookup: java.util.HashMap[String, Integer],
      nLex: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val hits = new Array[Int](nLex)
    var nTokens = 0; var nPunct = 0; var nUpper = 0; var nNonWs = 0
    var inWsTok = false
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = s.length
    while (i <= n) {
      val atEnd = i == n
      val c = if (atEnd) ' ' else s.charAt(i)
      val ws = Character.isWhitespace(c)
      if (!atEnd) {
        if (!ws) {
          nNonWs += 1
          if (!inWsTok) { nTokens += 1; inWsTok = true }
        } else inWsTok = false
        if (isAsciiPunct(c)) nPunct += 1
        if (c >= 'A' && c <= 'Z') nUpper += 1
      }
      def creditToken(tok: String): Unit = {
        val mask = lookup.get(tok)
        if (mask != null) {
          var b = mask.intValue()
          var lx = 0
          while (b != 0) {
            if ((b & 1) != 0) hits(lx) += 1
            b >>>= 1
            lx += 1
          }
        }
      }
      val cjk = !atEnd && isCjk(c)
      if (!atEnd && !cjk && isWordChar(c)) {
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      } else {
        if (sb.length > 0) {
          creditToken(sb.toString)
          sb.setLength(0)
        }
        // each CJK ideograph is its own token (char-level fallback for
        // unsegmented text — see isCjk)
        if (cjk) creditToken(String.valueOf(c))
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      nTokens, nPunct, nUpper, nNonWs, new GenericArrayData(hits))
  }

  /** Whitespace token count (== `size(split(trim(text), "\\s+"))`, 0 for
    * blank text). */
  def wsTokenCount(text: UTF8String): Int = {
    val s = text.toString
    var count = 0
    var inTok = false
    var i = 0
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && !inTok) { count += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    count
  }

  private def isAsciiPunct(c: Char): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

  /** Count of ASCII punctuation chars (Java `\p{Punct}` / RE2
    * `[[:punct:]]`). */
  def punctCount(text: UTF8String): Int = {
    val s = text.toString
    var c = 0; var i = 0
    while (i < s.length) { if (isAsciiPunct(s.charAt(i))) c += 1; i += 1 }
    c
  }

  /** Count of ASCII uppercase chars (`[A-Z]`). */
  def upperCount(text: UTF8String): Int = {
    val s = text.toString
    var c = 0; var i = 0
    while (i < s.length) { val ch = s.charAt(i); if (ch >= 'A' && ch <= 'Z') c += 1; i += 1 }
    c
  }

  /** BPE-ish token count: alpha runs + digit runs + each single
    * non-alphanumeric non-space code point
    * (== `regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')`). */
  def bpeishCount(text: UTF8String): Int = {
    val s = text.toString
    var count = 0
    var i = 0
    var state = 0 // 0 none, 1 alpha run, 2 digit run
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val isAlpha = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
      val isDigit = cp >= '0' && cp <= '9'
      val isSpace = Character.isWhitespace(cp)
      if (isAlpha) { if (state != 1) { count += 1; state = 1 } }
      else if (isDigit) { if (state != 2) { count += 1; state = 2 } }
      else { state = 0; if (!isSpace) count += 1 }
      i += Character.charCount(cp)
    }
    count
  }

  /** Count of non-whitespace chars (== `length(regexp_replace(t, "\\s+", ""))`). */
  def nonWsCount(text: UTF8String): Int = {
    val s = text.toString
    var c = 0; var i = 0
    while (i < s.length) { if (!Character.isWhitespace(s.charAt(i))) c += 1; i += 1 }
    c
  }

  def textStat(text: UTF8String, mode: Int): Int = mode match {
    case 0 => wsTokenCount(text)
    case 1 => punctCount(text)
    case 2 => upperCount(text)
    case 3 => bpeishCount(text)
    case 4 => nonWsCount(text)
  }

  /** Unicode normalization with a no-allocation fast path: clean corpora
    * are overwhelmingly already normalized, and `isNormalized` is a scan
    * without the rewrite buffer, so the common case returns the input
    * `UTF8String` untouched. */
  def unicodeNormalize(s: UTF8String, form: String): UTF8String = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }

  /** Shannon entropy (nats) of the codepoint distribution — one pass to
    * count, one over the (tiny) alphabet to sum. Empty text → 0. */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.HashMap[Integer, Integer]()
    var i = 0
    var n = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1, (a, b) => a + b)
      i += Character.charCount(cp)
      n += 1
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      h -= p * math.log(p)
    }
    h
  }

  /** Content-defined span hashes over the UTF-8 bytes of `s`: at every
    * byte position whose `gram`-byte context hash lands in the
    * 1/2^maskBits selection band, emit xxhash64 of the `window` bytes
    * starting at that position. One fused pass, one hash per scanned
    * byte — the production twin of the md5-anchored formulation in
    * [[graft.operators.Dedup.anchoredSpans]] (md5 allocates a digest
    * object and hex string per position; this emits no per-position
    * garbage). Anchors are content-defined, so a copied passage carries
    * them to any byte offset. Positions are BYTE positions — identical
    * to char positions on ASCII corpora; on multibyte text the spans are
    * byte-aligned windows, which is the correct unit for verbatim-copy
    * detection. */
  def cdcSpanHashes(s: UTF8String, window: Int, gram: Int, maskBits: Int): ArrayData = {
    val len = s.numBytes()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (len >= window) {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val mask = (1L << maskBits) - 1L
      val lastStart = len - window
      var p = 0
      while (p <= lastStart) {
        if ((XXH64.hashUnsafeBytes(base, off + p, gram, 7L) & mask) == 0L) {
          out += java.lang.Long.valueOf(
            XXH64.hashUnsafeBytes(base, off + p, window, 11L))
        }
        p += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  // Column builders
  def normalize(text: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalize(ColumnBridge.expression(text), form))
  def entropy(text: Column): Column =
    ColumnBridge.column(CharEntropy(ColumnBridge.expression(text)))
  def minhashSig(arr: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(arr), k))
  def simhash(arr: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(arr)))
  def simhashMd5(arr: Column): Column =
    ColumnBridge.column(SimHash60Md5(ColumnBridge.expression(arr)))
  def fingerprintSketch(arr: Column, k: Int): Column =
    ColumnBridge.column(MinKHashes(ColumnBridge.expression(arr), k))
  def shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))
  def stat(text: Column, mode: TextStatMode.Value): Column =
    ColumnBridge.column(TextStat(ColumnBridge.expression(text), mode.id))
  def profile(text: Column, lexicons: Seq[Seq[String]]): Column =
    ColumnBridge.column(TextProfile(ColumnBridge.expression(text), lexicons))
  def cdcSpans(text: Column, window: Int, gram: Int, maskBits: Int): Column =
    ColumnBridge.column(CdcSpanHashes(ColumnBridge.expression(text),
      window, gram, maskBits))
}

/** Stat selector for [[TextStat]]. */
object TextStatMode extends Enumeration {
  val WsTokens, Punct, Upper, Bpeish, NonWs = Value
}

/** string → double codepoint-distribution Shannon entropy (nats). */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def prettyName: String = "char_entropy"
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.valueOf(TextSketches.charEntropy(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.charEntropy($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** string → string Unicode normalization (NFC/NFD/NFKC/NFKD). */
case class UnicodeNormalize(child: Expression, form: String) extends UnaryExpression {
  require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"unknown form $form")
  override def prettyName: String = "unicode_normalize"
  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def nullSafeEval(v: Any): Any =
    TextSketches.unicodeNormalize(v.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.TextSketches.unicodeNormalize($a, "$form");""")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** array<string> → array<long> (length k) fused MinHash signature. */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    TextSketches.minhash(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.minhash($a, $k);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** array<string> → long fused SimHash. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(TextSketches.simhash64(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.simhash64($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** array<string> → long fused 60-bit md5 SimHash (the oracled twin's
  * engine side — see [[TextSketches.simhash60Md5]]). */
case class SimHash60Md5(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash60_md5"
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(TextSketches.simhash60Md5(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.simhash60Md5($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** string → struct(n_tokens, n_punct, n_upper, n_nonws, hits array<int>):
  * the fused one-pass text profile (see [[TextSketches.textProfile]]). */
case class TextProfile(child: Expression, lexicons: Seq[Seq[String]])
    extends UnaryExpression {
  override def prettyName: String = "text_profile"
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_punct",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_upper",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_nonws",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("hits",
      ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
      nullable = false)))

  @transient private lazy val lookup: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    lexicons.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val k = w.toLowerCase
        val prev = m.get(k)
        m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }

  override def nullSafeEval(v: Any): Any =
    TextSketches.textProfile(v.asInstanceOf[UTF8String], lookup, lexicons.size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("lexLookup", lookup, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.textProfile($a, $mapRef, ${lexicons.size});")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** string → int: one of the [[TextStatMode]] counters. */
case class TextStat(child: Expression, mode: Int) extends UnaryExpression {
  override def prettyName: String = "text_stat"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(v: Any): Any =
    java.lang.Integer.valueOf(TextSketches.textStat(v.asInstanceOf[UTF8String], mode))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.textStat($a, $mode);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** string → array<string> fused word-n-gram shingling. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def prettyName: String = "word_shingles"
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    TextSketches.wordShingles(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.wordShingles($a, $n);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** string → array<long>: content-defined (gram-context anchored) span
  * hashes — see [[TextSketches.cdcSpanHashes]]. */
case class CdcSpanHashes(child: Expression, window: Int, gram: Int,
    maskBits: Int) extends UnaryExpression {
  require(gram > 0 && window >= gram, s"need 0 < gram <= window, got $gram/$window")
  require(maskBits >= 0 && maskBits < 63, s"bad maskBits $maskBits")

  override def prettyName: String = "cdc_span_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    TextSketches.cdcSpanHashes(v.asInstanceOf[UTF8String], window, gram, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.cdcSpanHashes($a, $window, $gram, $maskBits);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** array<string> → array<long>: the k smallest distinct element hashes. */
case class MinKHashes(child: Expression, k: Int) extends UnaryExpression {
  override def prettyName: String = "min_k_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    TextSketches.minKHashes(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextSketches.minKHashes($a, $k);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
