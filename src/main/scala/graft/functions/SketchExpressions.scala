package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the dedup sketches.
  *
  * Why custom: the declarative formulations (ops/Dedup.scala) are built
  * from higher-order functions (transform/aggregate/zip_with), which
  * Spark evaluates INTERPRETED — lambda dispatch per array element, no
  * codegen. For k-permutation MinHash that is k·|shingles| interpreted
  * closure calls per row; here it is one JVM method call per row running
  * a tight loop with a reused MessageDigest and zero intermediate
  * arrays. Results are BIT-IDENTICAL to the declarative forms and the
  * DuckDB oracle (same md5-hex semantics — hex is order-preserving per
  * nibble, so byte-wise unsigned digest comparison ≡ hex-string
  * comparison).
  *
  * Preference order per the design rules: (a) compose built-ins → done
  * first (kept in ops/Dedup.scala as the portable reference
  * implementation); (b) custom Expression for the measured hot path →
  * this file. CodegenFallback is fine: the win is the loop, not codegen
  * — each call does thousands of md5 blocks.
  */
object SketchExpressions {

  /** Precompiled whitespace splitter shared by the text kernels —
    * `String.split("\\s+")` recompiles the pattern per call, i.e.
    * per ROW of a corpus-scale scan (Pattern is immutable and
    * thread-safe; split semantics identical). */
  private val wsSplit = java.util.regex.Pattern.compile("\\s+")

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xF).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** unsigned lexicographic byte compare == hex-string compare */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xFF; val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** MinHash signature: element k (1-based) = min over shingles of
    * md5(k + "|" + shingle), as lowercase hex. Null for empty input
    * (callers filter), matching Dedup.minhashSignature. */
  case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    // an EMPTY shingle array returns null even from a non-nullable
    // child — without this override codegen'd parents skip the null
    // check (the DupNgramFractionExpr precedent)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_minhash_sig"

    @transient private lazy val seeds: Array[Array[Byte]] =
      (1 to k).map(i => s"$i|".getBytes("UTF-8")).toArray

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val md = MessageDigest.getInstance("MD5")
      val mins = new Array[Array[Byte]](k)
      // digest into one reusable buffer; copy only when a digest
      // actually becomes a min (n·k 16-byte allocations → ~k) —
      // bit-identical, digest(buf,…) resets the engine like digest()
      val buf = new Array[Byte](16)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(seeds(j))
          md.update(s)
          md.digest(buf, 0, 16)
          if (mins(j) == null || less(buf, mins(j)))
            mins(j) = java.util.Arrays.copyOf(buf, 16)
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins.map(hex(_): Any))
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** SimHash-32 bitstring: bit i votes +1/−1 per token by the i-th hex
    * nibble of md5(token); bit = '1' iff the vote sum is positive.
    * Matches Dedup.simhash32 ∘ Dedup.tokenHashes. */
  case class SimHash32Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StringType
    override def prettyName: String = "graft_simhash32"

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Int](32)
      val md = MessageDigest.getInstance("MD5")
      val d = new Array[Byte](16) // reusable digest buffer (bit-identical)
      var i = 0
      while (i < n) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        md.digest(d, 0, 16)
        var b = 0
        while (b < 16) { // nibble 2b = high, 2b+1 = low
          votes(2 * b) += (if (((d(b) >> 4) & 0xF) >= 8) 1 else -1)
          votes(2 * b + 1) += (if ((d(b) & 0xF) >= 8) 1 else -1)
          b += 1
        }
        i += 1
      }
      val bits = new Array[Byte](32)
      var j = 0
      while (j < 32) {
        bits(j) = (if (votes(j) > 0) '1' else '0').toByte
        j += 1
      }
      UTF8String.fromBytes(bits)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Word n-gram shingles from a tokens array: overlapping windows of
    * `n` tokens joined by a single space; empty array when there are
    * fewer than `n` tokens. Matches TextOps.wordShingles (whose
    * slice+concat_ws per shingle is interpreted per element — measured
    * 4s of a 6s pipeline at sf0.1). */
  case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_word_shingles"

    @transient private lazy val space = UTF8String.fromString(" ")

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val len = arr.numElements()
      if (len < n) return new GenericArrayData(Array.empty[Any])
      val toks = new Array[UTF8String](len)
      var i = 0
      while (i < len) { toks(i) = arr.getUTF8String(i); i += 1 }
      val out = new Array[Any](len - n + 1)
      i = 0
      while (i <= len - n) {
        val window = new Array[UTF8String](n)
        System.arraycopy(toks, i, window, 0, n)
        out(i) = UTF8String.concatWs(space, window: _*)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Bottom-k document fingerprint sketch: the k smallest md5-hex hashes
    * (ascending, duplicates kept) over word n-gram shingles of a tokens
    * array — ≡ `slice(array_sort(transform(shingles, md5)), 1, k)` but
    * with no materialized shingle strings, no full hash array, and no
    * O(s log s) sort: each window digests straight out of the token
    * bytes and lands in a k-sized insertion buffer. Empty array when
    * there are fewer than `n` tokens (callers fall back to md5(text)). */
  case class BottomKShingleHashesExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_bottomk_shingle_hashes"

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val len = arr.numElements()
      if (len < n) return new GenericArrayData(Array.empty[Any])
      val toks = new Array[Array[Byte]](len)
      var i = 0
      while (i < len) { toks(i) = arr.getUTF8String(i).getBytes; i += 1 }
      val md = MessageDigest.getInstance("MD5")
      val space = ' '.toByte
      val buf = new Array[Array[Byte]](k) // ascending prefix of size cnt
      var cnt = 0
      // digest into one reusable buffer; copy only on insertion
      // (most windows hash above the current k-th minimum) —
      // bit-identical
      val dbuf = new Array[Byte](16)
      i = 0
      while (i <= len - n) {
        md.reset()
        var j = 0
        while (j < n) {
          if (j > 0) md.update(space)
          md.update(toks(i + j))
          j += 1
        }
        md.digest(dbuf, 0, 16)
        if (cnt < k) {
          val d = java.util.Arrays.copyOf(dbuf, 16)
          var p = cnt - 1
          while (p >= 0 && less(d, buf(p))) { buf(p + 1) = buf(p); p -= 1 }
          buf(p + 1) = d
          cnt += 1
        } else if (less(dbuf, buf(k - 1))) {
          val d = java.util.Arrays.copyOf(dbuf, 16)
          var p = k - 2
          while (p >= 0 && less(d, buf(p))) { buf(p + 1) = buf(p); p -= 1 }
          buf(p + 1) = d
        }
        i += 1
      }
      val out = new Array[Any](cnt)
      i = 0
      while (i < cnt) { out(i) = hex(buf(i)); i += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Position-tagged 64-bit window hashes for span-level exact-substring
    * matching (t44/t45): element i = struct(pos = 1-based window start,
    * gh = first 16 hex chars of md5 of the space-joined n-token window).
    * ≡ `Spans.tokenWindows` + `substring(md5(gram), 1, 16)`
    * (equivalence: SpansSpec) — but the window string is never
    * materialized: each window digests incrementally from the token
    * bytes. The declarative form (transform/slice/concat_ws) runs
    * interpreted per ELEMENT (higher-order functions are
    * CodegenFallback); this is one tight loop per row. Empty array
    * below `n` tokens. */
  case class WindowHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("pos", LongType, nullable = false),
        StructField("gh", StringType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "graft_window_hashes"

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val len = arr.numElements()
      if (len < n) return new GenericArrayData(Array.empty[Any])
      val toks = new Array[Array[Byte]](len)
      var i = 0
      while (i < len) { toks(i) = arr.getUTF8String(i).getBytes; i += 1 }
      val md = MessageDigest.getInstance("MD5")
      val space = ' '.toByte
      val out = new Array[Any](len - n + 1)
      val dbuf = new Array[Byte](16) // reusable digest buffer (bit-identical)
      i = 0
      while (i <= len - n) {
        md.reset()
        var j = 0
        while (j < n) {
          if (j > 0) md.update(space)
          md.update(toks(i + j))
          j += 1
        }
        md.digest(dbuf, 0, 16)
        out(i) = new GenericInternalRow(Array[Any]((i + 1).toLong,
          hex(java.util.Arrays.copyOf(dbuf, 8))))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Unicode canonicalization for dedup hashing: NFC-normalize,
    * lowercase (root locale), trim, collapse internal whitespace runs
    * to one space. Composed vs decomposed accents ("é" as one
    * codepoint vs e+◌́) hash DIFFERENTLY before this step — a real
    * corpus defeats exact-hash dedup without it. DuckDB twin:
    * `trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ',
    * 'g'))` — trim AFTER collapse, when only plain boundary spaces
    * remain, so the engines' differing trim/\s character sets can't
    * diverge (testdata is ASCII, so the oracle exercises the collapse
    * path; the unicode paths are golden-tested in SketchExprSpec).
    * Known twin divergence beyond whitespace: this uses Java FULL case
    * mapping (`toLowerCase(Locale.ROOT)` — e.g. U+0130 İ → "i" +
    * combining dot, one char becomes two) while DuckDB's `lower()`
    * does SIMPLE per-codepoint mapping, so inputs exercising full-vs-
    * simple case folds hash differently across the twins. Full mapping
    * is the deliberate choice for DEDUP (it is the linguistically
    * correct fold; the twin exists for oracle parity on ASCII
    * testdata, not as a cross-engine unicode contract). */
  case class CanonicalizeTextExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StringType
    override def prettyName: String = "graft_canonicalize_text"

    // precompiled once per expression — String.replaceAll would
    // Pattern.compile on EVERY row of the corpus-scale scan this
    // kernel exists to keep cheap
    @transient private lazy val wsRun =
      java.util.regex.Pattern.compile("[ \\t\\n\\r\\f]+")

    protected override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val nfc = java.text.Normalizer
        .normalize(s, java.text.Normalizer.Form.NFC)
      // collapse FIRST with an explicit class matching RE2's \s
      // (Java's \s additionally has \x0B; Java's trim strips all
      // chars <= U+0020 — both would diverge from the DuckDB twin on
      // edge whitespace), then strip the boundary spaces the collapse
      // leaves — exactly trim(regexp_replace(..., '\s+', ' ', 'g')).
      val collapsed = wsRun
        .matcher(nfc.toLowerCase(java.util.Locale.ROOT))
        .replaceAll(" ")
      val stripped = collapsed.stripPrefix(" ").stripSuffix(" ")
      UTF8String.fromString(stripped)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Non-overlapping `w`-token chunks joined by a single space (the
    * pseudo-line segmentation behind the line-dedup family t18/t23/
    * t34); the last chunk may be short. ≡ `TextOps.tokenChunks`
    * (equivalence: SketchExprSpec), whose transform/slice/concat_ws
    * chain runs interpreted per chunk. */
  case class TokenChunksExpr(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

    require(w > 0, "w must be positive")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_token_chunks"

    @transient private lazy val space = UTF8String.fromString(" ")

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val len = arr.numElements()
      if (len == 0) return new GenericArrayData(Array.empty[Any])
      val toks = new Array[UTF8String](len)
      var i = 0
      while (i < len) { toks(i) = arr.getUTF8String(i); i += 1 }
      val nChunks = (len + w - 1) / w
      val out = new Array[Any](nChunks)
      i = 0
      while (i < nChunks) {
        val start = i * w
        val size = math.min(w, len - start)
        val window = new Array[UTF8String](size)
        System.arraycopy(toks, start, window, 0, size)
        out(i) = UTF8String.concatWs(space, window: _*)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Jaccard similarity of two string arrays in one hash-set pass:
    * |A∩B| / |A∪B| over the DISTINCT elements of each side (inputs
    * need not be pre-distincted). ≡ `TextOps.jaccard` on distinct
    * inputs (equivalence: SketchExprSpec) — but that form probes
    * `array_contains` per element, O(|A|·|B|) interpreted, which
    * dominates the LSH verify queries (t2/t20/t35): each candidate
    * pair re-scans ~s² shingle pairs. Null when both sides are empty
    * (matching 0/0 division → null in the declarative form). */
  case class JaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_jaccard"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val setA = new java.util.HashSet[UTF8String](x.numElements() * 2)
      var i = 0
      while (i < x.numElements()) { setA.add(x.getUTF8String(i)); i += 1 }
      val setB = new java.util.HashSet[UTF8String](y.numElements() * 2)
      var inter = 0
      i = 0
      while (i < y.numElements()) {
        val v = y.getUTF8String(i)
        if (setB.add(v) && setA.contains(v)) inter += 1
        i += 1
      }
      val union = setA.size + setB.size - inter
      if (union == 0) null else inter.toDouble / union.toDouble
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Gopher-style repetition signal from a tokens array in one pass: the
    * fraction of word n-grams duplicating an earlier n-gram of the same
    * document, `1 − distinct/total` as a double; null when there are
    * fewer than `n` tokens. ≡ `TextOps.dupNgramFraction` (equivalence:
    * SketchExprSpec) — but the declarative form references the
    * interpreted shingle array three times (size / array_distinct /
    * size), each re-running slice+concat_ws per element; here each
    * window is one StringBuilder join probed against a hash set.
    * Tokens are `\s+`-split (space-free), so the single-space join is
    * injective — string equality ≡ n-gram tuple equality. */
  case class DupNgramFractionExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_dup_ngram_fraction"

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val len = arr.numElements()
      if (len < n) return null
      val toks = new Array[String](len)
      var i = 0
      while (i < len) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
      val total = len - n + 1
      val seen = new java.util.HashSet[String](total * 2)
      var distinct = 0
      i = 0
      while (i <= len - n) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        if (seen.add(sb.toString)) distinct += 1
        i += 1
      }
      1.0 - distinct.toDouble / total.toDouble
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Language-ID decision from raw text in one pass: CJK scan + all
    * per-language stopword counts over one whitespace tokenization,
    * then the same decision table as TextOps.langId (ties alphabetical,
    * all-zero → en). The declarative form re-tokenizes once per
    * language. */
  case class LangIdExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StringType
    override def prettyName: String = "graft_lang_id"

    @transient private lazy val langs: Array[String] =
      graft.ops.TextOps.stopwords.keys.toArray.sorted
    @transient private lazy val sets: Array[Set[String]] =
      langs.map(l => graft.ops.TextOps.stopwords(l).toSet)

    protected override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c >= '一' && c <= '鿿')
          return UTF8String.fromString("zh")
        i += 1
      }
      val toks = wsSplit.split(
        text.toLowerCase(java.util.Locale.ROOT), -1)
      val counts = new Array[Int](langs.length)
      var t = 0
      while (t < toks.length) {
        var l = 0
        while (l < langs.length) {
          if (sets(l).contains(toks(t))) counts(l) += 1
          l += 1
        }
        t += 1
      }
      if (counts.forall(_ == 0)) return UTF8String.fromString("en")
      var best = 0
      var l = 1
      while (l < langs.length) { // strict > keeps ties alphabetical
        if (counts(l) > counts(best)) best = l
        l += 1
      }
      UTF8String.fromString(langs(best))
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Text statistics in one scan: n_chars, n_tokens (split "\s+"),
    * alpha chars, [.,!?;:] punctuation chars, English stopword hits —
    * the inputs of TextOps.qualityScore, which otherwise makes five
    * passes over the text. */
  case class TextStatsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", IntegerType, nullable = false),
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_alpha", IntegerType, nullable = false),
      StructField("n_punct", IntegerType, nullable = false),
      StructField("n_stop", IntegerType, nullable = false)))
    override def prettyName: String = "graft_text_stats"

    @transient private lazy val enStop: Set[String] =
      graft.ops.TextOps.stopwords("en").toSet

    protected override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      var alpha = 0; var punct = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) alpha += 1
        else if (c == '.' || c == ',' || c == '!' || c == '?' ||
          c == ';' || c == ':') punct += 1
        i += 1
      }
      val toks = wsSplit.split(text, -1)
      var stop = 0
      var t = 0
      while (t < toks.length) {
        if (enStop.contains(toks(t).toLowerCase(java.util.Locale.ROOT))) stop += 1
        t += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(
        // CODE POINTS, matching Spark length() in the declarative
        // twin (text.length counts UTF-16 units and would inflate
        // n_chars — and every ratio over it — per supplementary-
        // plane char; CharEntropyExpr counts codepoints for the
        // same reason)
        text.codePointCount(0, text.length), toks.length,
        alpha, punct, stop)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Shannon entropy (bits/char) of the character distribution — the
    * gibberish/repetition quality signal (low entropy = repeated
    * boilerplate, high = random noise; natural text sits ~4 bits).
    *
    * One map-side pass per document: an int[128] table for ASCII plus a
    * HashMap spill for anything wider, folded as
    * H = log2(n) − (Σ cᵢ·log2 cᵢ)/n — that form sums integer-derived
    * terms, so the result is independent of bucket iteration order
    * (declarative twin: explode(chars)→two groupBys shuffles O(corpus
    * chars) twice; this kernel never leaves the scan stage). */
  case class CharEntropyExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_char_entropy"

    private val Log2 = math.log(2.0)

    protected override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      if (text.isEmpty) return 0.0
      val ascii = new Array[Int](128)
      // "character" = Unicode codepoint, not UTF-16 code unit — a
      // surrogate pair (emoji, rare CJK) is ONE symbol, matching any
      // per-character oracle computed on codepoints.
      var wide: java.util.HashMap[Integer, Int] = null
      var n = 0
      var i = 0
      while (i < text.length) {
        val c = text.codePointAt(i)
        if (c < 128) ascii(c) += 1
        else {
          if (wide == null) wide = new java.util.HashMap[Integer, Int]()
          wide.merge(c, 1, Integer.sum _)
        }
        n += 1
        i += Character.charCount(c)
      }
      var s = 0.0
      var j = 0
      while (j < 128) {
        val c = ascii(j)
        if (c > 1) s += c * math.log(c.toDouble) / Log2
        j += 1
      }
      if (wide != null) {
        val it = wide.values().iterator()
        while (it.hasNext) {
          val c = it.next()
          if (c > 1) s += c * math.log(c.toDouble) / Log2
        }
      }
      math.log(n.toDouble) / Log2 - s / n
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  /** Per-document hashed-feature histogram: counts of t81's 256
    * md5-prefix buckets over unigrams + 2-shingles of a TOKENS array,
    * in one pass — array<long>(256), element b = the number of
    * features f with substring(md5(f), 1, 2) = hex(b). Replaces the
    * explode(toks ++ shingles) → md5 → substring → groupBy(doc, b)
    * corpus stream of the classifier family (r20, guide §4): the md5
    * count is unchanged (one per feature), but no per-feature row is
    * materialized, no hex string is built (the bucket IS the digest's
    * first byte), and the per-doc aggregation is an in-kernel array
    * bump instead of a 2M-row hash aggregate. Shingle digests update
    * straight from the two token byte arrays + a space — bit-identical
    * to md5(concat_ws(' ', t1, t2)). Null tokens array → null (the
    * explode-of-null convention: no feature rows). */
  case class FeatureBucketCountsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_feature_bucket_counts"

    @transient private lazy val space = " ".getBytes("UTF-8")

    protected override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val len = arr.numElements()
      val counts = new Array[Long](256)
      val md = MessageDigest.getInstance("MD5")
      val dbuf = new Array[Byte](16) // reusable digest buffer (bit-identical)
      var i = 0
      while (i < len) {
        val t = arr.getUTF8String(i).getBytes
        md.reset()
        md.update(t)
        md.digest(dbuf, 0, 16)
        counts(dbuf(0) & 0xFF) += 1L
        if (i + 1 < len) {
          md.reset()
          md.update(t)
          md.update(space)
          md.update(arr.getUTF8String(i + 1).getBytes)
          md.digest(dbuf, 0, 16)
          counts(dbuf(0) & 0xFF) += 1L
        }
        i += 1
      }
      new GenericArrayData(counts)
    }

    override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
  }

  // Column-level entry points --------------------------------------

  /** Takes the raw TOKENS column; 256-bucket feature histogram in one
    * pass (the t81 classifier family's corpus kernel). */
  def featureBucketCounts(tokens: Column): Column =
    GraftColumnBridge.column(
      FeatureBucketCountsExpr(GraftColumnBridge.expression(tokens)))

  def minhashSig(shingles: Column, k: Int): Column =
    GraftColumnBridge.column(
      MinHashSigExpr(GraftColumnBridge.expression(shingles), k))

  /** Takes the raw TOKENS column (hashes internally — one digest per
    * token, no intermediate hex array). */
  def simhash32(tokens: Column): Column =
    GraftColumnBridge.column(
      SimHash32Expr(GraftColumnBridge.expression(tokens)))

  def wordShingles(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(
      WordShinglesExpr(GraftColumnBridge.expression(tokens), n))

  /** Takes the raw TOKENS column; position-tagged 64-bit window hashes
    * (array<struct<pos,gh>>) in one pass. */
  def windowHashes(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(
      WindowHashesExpr(GraftColumnBridge.expression(tokens), n))

  /** NFC + lowercase + whitespace-collapse canonical form of a text
    * column. */
  def canonicalizeText(c: Column): Column =
    GraftColumnBridge.column(
      CanonicalizeTextExpr(GraftColumnBridge.expression(c)))

  /** Takes the raw TOKENS column; non-overlapping w-token chunks in
    * one pass. */
  def tokenChunks(tokens: Column, w: Int): Column =
    GraftColumnBridge.column(
      TokenChunksExpr(GraftColumnBridge.expression(tokens), w))

  /** Hash-set Jaccard of two string-array columns (distincts
    * internally). */
  def jaccard(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      JaccardExpr(GraftColumnBridge.expression(a),
        GraftColumnBridge.expression(b)))

  /** Takes the raw TOKENS column; shingles, hashes and selects bottom-k
    * in one pass. */
  def bottomKShingleHashes(tokens: Column, n: Int, k: Int): Column =
    GraftColumnBridge.column(
      BottomKShingleHashesExpr(GraftColumnBridge.expression(tokens), n, k))

  /** Takes the raw TOKENS column; shingles and counts duplicates in one
    * pass. */
  def dupNgramFraction(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(
      DupNgramFractionExpr(GraftColumnBridge.expression(tokens), n))

  def langId(text: Column): Column =
    GraftColumnBridge.column(
      LangIdExpr(GraftColumnBridge.expression(text)))

  def textStats(text: Column): Column =
    GraftColumnBridge.column(
      TextStatsExpr(GraftColumnBridge.expression(text)))

  def charEntropy(text: Column): Column =
    GraftColumnBridge.column(
      CharEntropyExpr(GraftColumnBridge.expression(text)))
}
