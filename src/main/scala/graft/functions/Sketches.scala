package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd text/vector sketch kernels. These replace the interpreted
 * higher-order-function forms of the MinHash signature, SimHash and the
 * cosine dot product: Catalyst evaluates `transform`/`aggregate` lambdas
 * per ELEMENT through the interpreted expression walker (higher-order
 * functions never enter whole-stage codegen), so a 64-permutation
 * MinHash costs 64·|shingles| lambda evaluations and 64 array
 * allocations per row. Each kernel here is one static JVM call per ROW
 * emitted directly into the generated loop — the same preference order
 * the engine uses for `kafka_partition` ([[Murmur2]]).
 *
 * Every kernel is BIT-IDENTICAL to the SQL-expression form it replaces
 * (and therefore to the DuckDB oracles): the md5-derived hash is the
 * same `('0x'||substr(md5(x),1,15))::BIGINT` parse, the permutation
 * arithmetic is the same exact-integer universal hash mod 2^31−1, and
 * the dot product folds in index order so the floating-point operation
 * sequence matches `aggregate(zip_with(...))` / `list_dot_product`.
 * SketchParitySpec pins kernel ≡ legacy-expression on fixture data.
 */
object Sketches {

  /** MinHash universal-hash modulus (2^31 − 1, prime). */
  val P: Long = 2147483647L

  /** Permutation count and LSH banding (16 bands × 4 rows). */
  val NumPerms = 64
  val NumBands = 16
  private val RowsPerBand = NumPerms / NumBands

  /** The 64 permutation coefficients — md5-derived JVM constants,
    * identical to the oracle's SQL-side derivation
    * `1 + ('0x'||substr(md5('a:'||s),1,15))::BIGINT % 2147483646`. */
  private val Coefs: Array[Long] =
    Array.tabulate(NumPerms)(s => 1L + VectorLsh.md5Long15(s"a:$s") % (P - 1L))

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def md5Hex(bytes: Array[Byte]): String = {
    val d = Md5.get().digest(bytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** First 15 hex chars of an md5 DIGEST as a 60-bit non-negative
    * long — the JVM twin of
    * `cast(conv(substring(md5(x),1,15),16,10) as bigint)`: bytes 0..6
    * plus the high nibble of byte 7. ONE implementation shared by
    * every windowed-digest loop (spanWindows, dsirWindows) so the span
    * gate, the DSIR bucket space and the DuckDB substr(md5,1,15)
    * contract cannot drift apart. */
  private def digest60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (d(i) & 0xffL)
      i += 1
    }
    (v << 4) | ((d(7) & 0xffL) >> 4)
  }

  /** [[digest60]] of the md5 of `bytes`. */
  private def md5Long15(bytes: Array[Byte]): Long =
    digest60(Md5.get().digest(bytes))

  /**
   * The full MinHash-LSH band table for one document in one pass: hash
   * each shingle once, fold it through all 64 permutations keeping
   * running minima (no intermediate arrays), then md5 each band's
   * 4 minima joined by ','. Returns the 16 band-hash strings; null for
   * an empty shingle set (the legacy expression yields null band hashes
   * there — callers filter empty docs first).
   */
  def minhashBands(ws: ArrayData): ArrayData = {
    val n = ws.numElements()
    if (n == 0) return null
    val mins = new Array[Long](NumPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = md5Long15(ws.getUTF8String(i).getBytes) % P
      var s = 0
      while (s < NumPerms) {
        val v = (Coefs(s) * h + s) % P
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    val out = new Array[Any](NumBands)
    var b = 0
    while (b < NumBands) {
      val sb = new java.lang.StringBuilder(44)
      var r = 0
      while (r < RowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(mins(b * RowsPerBand + r))
        r += 1
      }
      out(b) = UTF8String.fromString(
        md5Hex(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Tokenize on single spaces with empties dropped — the shared
    * tokenizer of every text kernel here (the JVM twin of
    * `filter(split(text, ' '), t -> t != '')`). */
  private def spaceTokens(text: UTF8String): java.util.ArrayList[String] = {
    val it = text.toString.split(" ", -1)
    val toks = new java.util.ArrayList[String]()
    var i = 0
    while (i < it.length) {
      if (!it(i).isEmpty) toks.add(it(i))
      i += 1
    }
    toks
  }

  /** One UTF-8 buffer of all tokens joined by ' ', with per-token byte
    * offsets — consecutive tokens joined by single spaces are then a
    * contiguous `buf[starts(i) .. ends(j))` range, so window bytes
    * feed `md.update` directly with no per-window string building. */
  private final class TokenBuf(toks: java.util.ArrayList[String]) {
    val nTok: Int = toks.size
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    val buf: Array[Byte] = {
      val tokBytes = new Array[Array[Byte]](nTok)
      var total = 0
      var i = 0
      while (i < nTok) {
        tokBytes(i) =
          toks.get(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        total += tokBytes(i).length
        i += 1
      }
      val b = new Array[Byte](math.max(total + nTok - 1, 0))
      var off = 0
      i = 0
      while (i < nTok) {
        starts(i) = off
        System.arraycopy(tokBytes(i), 0, b, off, tokBytes(i).length)
        off += tokBytes(i).length
        ends(i) = off
        if (i < nTok - 1) { b(off) = ' '; off += 1 }
        i += 1
      }
      b
    }
  }

  /** The single windowed-digest loop behind [[spanHashes]] and
    * [[spanHashesPos]] (one implementation so the two SQL surfaces
    * cannot drift): md5 each n-token window over the shared buffer,
    * apply the 60-bit 1/mod gate from the digest, hex-encode only
    * survivors, emit either the bare hex hash or a (pos, hash)
    * struct. */
  private def spanWindows(text: UTF8String, n: Int, mod: Long,
      withPos: Boolean): ArrayData = {
    // n < 1 would make m = nTok - n + 1 positive while ends(i + n - 1)
    // indexes out of bounds — a direct SQL call span_hashes(text, 0, 1)
    // must degrade to the same empty result as a too-short document,
    // not an executor ArrayIndexOutOfBoundsException
    if (n < 1) return new GenericArrayData(Array.empty[Any])
    val toks = spaceTokens(text)
    val m = toks.size - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val tb = new TokenBuf(toks)
    val md = Md5.get()
    val out = new java.util.ArrayList[Any](m)
    var i = 0
    while (i < m) {
      md.reset()
      md.update(tb.buf, tb.starts(i), tb.ends(i + n - 1) - tb.starts(i))
      val d = md.digest()
      val v = digest60(d)
      if (mod <= 1L || v % mod == 0L) {
        val hex = new Array[Char](32)
        var q = 0
        while (q < 16) {
          hex(2 * q) = HexDigits((d(q) >> 4) & 0xf)
          hex(2 * q + 1) = HexDigits(d(q) & 0xf)
          q += 1
        }
        val h = UTF8String.fromString(new String(hex))
        out.add(if (withPos)
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](i, h))
        else h)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Every `n`-token window's md5 hex hash in ONE pass, with the
    * 60-bit sample gate applied from the digest we already hold —
    * the kernel behind `Dedup.spanDuplicates`. Bit-identical to
    * `transform(sequence(0, size(ts)-n), i -> md5(concat_ws(' ',
    * slice(ts, i+1, n))))` filtered by
    * `conv(substring(h,1,15),16,10) % mod = 0` (see [[spanWindows]]).
    * Fewer than n tokens → empty array. */
  def spanHashes(text: UTF8String, n: Int, mod: Long): ArrayData =
    spanWindows(text, n, mod, withPos = false)

  /** The POSITION-CARRYING variant of [[spanHashes]]: every `n`-token
    * window that survives the 1/`mod` digest gate is emitted as a
    * (pos, hash) struct, where pos is the window's REAL token position
    * in the document — the kernel behind the SAMPLED
    * `Dedup.spanCensusWithFirst`. Plain `span_hashes` drops unsampled
    * windows from its output array, so a posexplode index over it is
    * NOT a token position once mod > 1; carrying the position through
    * the gate is what lets the action pass (d17) ride the same
    * coverage-sampling lever as the diagnostic census (d16).
    * Bit-identical window set and hashes to [[spanHashes]] BY
    * CONSTRUCTION — both are the same [[spanWindows]] loop
    * (SketchParitySpec additionally pins it at runtime). Fewer than n
    * tokens → empty array. */
  def spanHashesPos(text: UTF8String, n: Int, mod: Long): ArrayData =
    spanWindows(text, n, mod, withPos = true)

  /** The one DSIR window loop behind [[dsirBuckets]] and [[dsirScore]]:
    * one [[TokenBuf]] over `toks`, then the bucket (60-bit md5 of the
    * window's space-joined tokens mod `buckets`) of every unigram
    * window when `unigrams` (the oracle's `list_concat(uni, bi)`
    * order), then of every adjacent-token bigram window. The window
    * bytes feed md5 straight from the shared buffer — no per-window
    * string building. */
  private def dsirWindows(toks: java.util.ArrayList[String], buckets: Int,
      unigrams: Boolean): Array[Long] = {
    val nTok = toks.size
    val out = new Array[Long](
      (if (unigrams) nTok else 0) + math.max(nTok - 1, 0))
    if (out.isEmpty) return out
    val tb = new TokenBuf(toks)
    val md = Md5.get()
    var k = 0
    var n = if (unigrams) 1 else 2
    while (n <= 2) {
      var i = 0
      while (i + n <= nTok) {
        md.reset()
        md.update(tb.buf, tb.starts(i), tb.ends(i + n - 1) - tb.starts(i))
        out(k) = digest60(md.digest()) % buckets
        k += 1
        i += 1
      }
      n += 1
    }
    out
  }

  /** Every DSIR feature bucket of one doc in ONE pass — the fit-side
    * kernel behind [[graft.operators.Dsir.bucketCounts]]: the unigram
    * buckets first when `unigrams` (the paper-faithful unigram ∪
    * bigram bag), then every bigram's. Bigram-only is bit-identical to
    * the tokenize → transform → md5 → conv → pmod lambda chain
    * ([[graft.operators.Dsir.bigramBucketsExpr]]; DsirSpec pins the
    * parity). No window (or `buckets < 1`) → empty array. */
  def dsirBuckets(text: UTF8String, buckets: Int,
      unigrams: Boolean): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      if (buckets < 1) Array.emptyLongArray
      else dsirWindows(spaceTokens(text), buckets, unigrams))

  /** The DSIR per-doc score in ONE pass: fold the dense log-ratio
    * array over the doc's [[dsirBuckets]] stream. Returns
    * (n_features, logw); with `unigrams` the score is the unigram fold
    * plus the bigram fold, each summed left-to-right (the stated
    * cross-engine order), and bigram-only it is the bigram fold alone
    * — the summation order of the `aggregate` lambda fold it replaces
    * (DsirSpec pins bit-equality). No window → (0, 0.0), the fold's
    * zero. The lr array rides as a LITERAL argument (the span_cut
    * probe discipline — never a joined column). */
  def dsirScore(text: UTF8String, lr: ArrayData,
      unigrams: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val buckets = lr.numElements()
    val toks = spaceTokens(text)
    val fs =
      if (buckets < 1) Array.emptyLongArray
      else dsirWindows(toks, buckets, unigrams)
    def fold(from: Int, until: Int): Double = {
      var w = 0.0
      var i = from
      while (i < until) {
        w += lr.getDouble(fs(i).toInt)
        i += 1
      }
      w
    }
    val nUni = if (unigrams) math.min(toks.size, fs.length) else 0
    val logw =
      if (unigrams) fold(0, nUni) + fold(nUni, fs.length)
      else fold(0, fs.length)
    new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](fs.length.toLong, logw))
  }

  /** BPE merge application over one token in a tight JVM loop — the
    * kernel behind `bpe_segment` ([[graft.operators.Bpe
    * .applyMergesKernel]]): split the token into CODE POINTS (the
    * `split(token, "")` chain's unit — astral-plane chars stay whole),
    * then apply each merge in RANK order as a left-to-right
    * non-overlapping adjacent-pair rewrite — exactly the
    * separator-encoded `replace` chain's semantics, without the
    * |merges|-deep expression tree. `merges` is the flat
    * [l0, r0, l1, r1, …] table (parsed once per expression instance
    * from the literal and shipped as a codegen reference object). */
  def bpeSegment(token: UTF8String, merges: Array[String]): ArrayData = {
    val s = token.toString
    var syms = new java.util.ArrayList[String](s.length)
    var i = 0
    while (i < s.length) {
      val cc = Character.charCount(s.codePointAt(i))
      syms.add(s.substring(i, i + cc))
      i += cc
    }
    var k = 0
    while (k + 1 < merges.length && syms.size > 1) {
      val l = merges(k)
      val r = merges(k + 1)
      // scan for the first match before allocating a rebuilt list —
      // most merges touch few vocabulary types
      var first = -1
      var j = 0
      while (first < 0 && j + 1 < syms.size) {
        if (syms.get(j) == l && syms.get(j + 1) == r) first = j else j += 1
      }
      if (first >= 0) {
        val out = new java.util.ArrayList[String](syms.size - 1)
        var p = 0
        while (p < first) { out.add(syms.get(p)); p += 1 }
        val m = l + r
        while (p < syms.size) {
          if (p + 1 < syms.size && syms.get(p) == l && syms.get(p + 1) == r) {
            out.add(m); p += 2
          } else { out.add(syms.get(p)); p += 1 }
        }
        syms = out
      }
      k += 2
    }
    val out = new Array[Any](syms.size)
    var q = 0
    while (q < syms.size) {
      out(q) = UTF8String.fromString(syms.get(q))
      q += 1
    }
    new GenericArrayData(out)
  }

  /** 16-byte-record comparison inside a packed digest array. */
  private def compareRec(packed: Array[Byte], off: Int,
      d: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val a = packed(off + i) & 0xff
      val b = d(i) & 0xff
      if (a != b) return a - b
      i += 1
    }
    0
  }

  /** First 8 digest bytes as a long — md5 is uniform, so this IS a
    * ready-made hash for the probe table. */
  private def digestKey(bytes: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(off + i) & 0xffL); i += 1 }
    v
  }

  /** Open-addressing index over a packed digest blob: a power-of-2
    * table of record indices at ≤ 50% load, linear probing, keyed by
    * each digest's first 8 bytes. Replaces the binary search the
    * rewrite kernel used to probe with — ~20 dependent cache-missing
    * reads per window on a 24 MB blob at sf100 vs ~1 table slot + 1
    * record (two cache lines); rewrite measured linear through sf100
    * after the change. LIFECYCLE: built once per [[SpanCut]]
    * expression instance from its foldable literal (the BloomContains
    * reference-object pattern — shipped to generated code, alive
    * exactly as long as the stage that uses it), NOT cached globally:
    * an earlier cut cached tables in a synchronized weak map resolved
    * per ROW (32 threads contending one lock measurably regressed
    * sf30) with a per-thread fast path that pinned blob+table per
    * executor thread indefinitely. */
  private[functions] def buildProbeTable(packed: Array[Byte]): Array[Int] = {
    val nRec = packed.length / 16
    var cap = 4
    while (cap < nRec * 2) cap <<= 1
    val t = new Array[Int](cap)
    java.util.Arrays.fill(t, -1)
    var i = 0
    while (i < nRec) {
      var slot = (digestKey(packed, i * 16) & (cap - 1)).toInt
      while (t(slot) != -1) slot = (slot + 1) & (cap - 1)
      t(slot) = i
      i += 1
    }
    t
  }

  /** Is digest `d` one of the packed records? Hash probe via
    * [[buildProbeTable]]'s index; full 16-byte compare confirms (the
    * 8-byte key is a filter, not an identity). */
  private def containsDigest(packed: Array[Byte], table: Array[Int],
      d: Array[Byte]): Boolean = {
    val mask = table.length - 1
    var slot = (digestKey(d, 0) & mask).toInt
    var idx = table(slot)
    while (idx != -1) {
      if (compareRec(packed, idx * 16, d) == 0) return true
      slot = (slot + 1) & mask
      idx = table(slot)
    }
    false
  }

  /** Does the 32-hex-char string `kh` encode digest `d`? */
  private def matchesHex(kh: UTF8String, d: Array[Byte]): Boolean = {
    if (kh.numBytes() != 32) return false
    var q = 0
    while (q < 16) {
      if (kh.getByte(2 * q) != HexDigits((d(q) >> 4) & 0xf).toByte ||
          kh.getByte(2 * q + 1) != HexDigits(d(q) & 0xf).toByte)
        return false
      q += 1
    }
    true
  }

  /** The REWRITE kernel of the exact-substring dedup action pass
    * (d17, [[graft.operators.Dedup.spanDedupCorpus]]): tokenize like
    * [[spanHashes]], md5 every `n`-token window, and CUT (mark every
    * covered token removed) each window whose digest is in `flagged` —
    * a single BINARY blob of ascending 16-byte raw md5 digests (packed
    * from the engine-sorted hex census: raw-byte order == hex order) —
    * unless this document holds that span's recorded FIRST occurrence
    * at this position (`keepers`: (pos, hex hash) struct entries for
    * THIS document). Returns the surviving tokens in original order.
    *
    * The packed-binary flagged set is deliberate: a binary literal
    * renders as an opaque reference in plan strings (an array-of-
    * strings literal prints every element into every explain/UI/event
    * log — MBs per render at census scale), halves the shipped bytes
    * vs hex, and the probe compares raw digest bytes with NO per-window
    * hex encoding or string allocation — the hex encode runs only on
    * the rare flagged hit, to match the keeper entry.
    *
    * Keeper occurrences are preserved unless overlapped by a cut
    * occurrence — the overlap-merge behavior of a span cut: a token is
    * removed iff ANY flagged non-keeper window covers it, keeper
    * membership saves only the windows it names. Per row: one md5 +
    * one ~O(1) hash probe per window ([[buildProbeTable]]), keeper lookups
    * O(1) via a per-row position map. n < 1, no windows, or an empty
    * flagged set → tokens unchanged; a flagged blob whose length is
    * not a multiple of 16 is rejected.
    *
    * Returns (kept tokens, original token count) as one struct row:
    * the kernel tokenizes anyway, so handing the count back saves the
    * caller a second full tokenization of every document in the one
    * hot output scan.
    *
    * `table` is the [[buildProbeTable]] index of `flagged`, built once
    * per expression instance and shipped as a codegen reference object
    * (null → built here per call, the cold path for a non-foldable
    * flagged argument — real callers pass a literal). */
  def spanCutTokens(text: UTF8String, n: Int, flagged: Array[Byte],
      keepers: ArrayData,
      table: Array[Int]): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = spaceTokens(text)
    require(flagged.length % 16 == 0,
      s"flagged blob must pack 16-byte digests, got ${flagged.length} bytes")
    val nFlagged = flagged.length / 16
    val nTok = toks.size
    def result(kept: ArrayData) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](kept, nTok))
    def allToks(): ArrayData = {
      val out = new Array[Any](nTok)
      var j = 0
      while (j < nTok) { out(j) = UTF8String.fromString(toks.get(j)); j += 1 }
      new GenericArrayData(out)
    }
    if (n < 1) return result(allToks())
    val m = nTok - n + 1
    if (m <= 0 || nFlagged == 0) return result(allToks())
    val km = new java.util.HashMap[Integer, UTF8String]()
    var k = 0
    val nKeep = keepers.numElements()
    while (k < nKeep) {
      // NULL slots/fields are ignored, the cutByPositions discipline:
      // the SQL surface admits them, getStruct would NPE on a null
      // slot, and a null pos field would read as a spurious keeper 0
      if (!keepers.isNullAt(k)) {
        val r = keepers.getStruct(k, 2)
        if (!r.isNullAt(0) && !r.isNullAt(1))
          km.put(r.getInt(0), r.getUTF8String(1))
      }
      k += 1
    }
    val probe = if (table != null) table else buildProbeTable(flagged)
    val tb = new TokenBuf(toks)
    val removed = new Array[Boolean](nTok)
    val md = Md5.get()
    var i = 0
    while (i < m) {
      md.reset()
      md.update(tb.buf, tb.starts(i), tb.ends(i + n - 1) - tb.starts(i))
      val d = md.digest()
      if (containsDigest(flagged, probe, d)) {
        val kh = km.get(i)
        if (kh == null || !matchesHex(kh, d)) {
          var j = i
          while (j < i + n) { removed(j) = true; j += 1 }
        }
      }
      i += 1
    }
    val out = new java.util.ArrayList[Any](nTok)
    i = 0
    while (i < nTok) {
      if (!removed(i)) out.add(UTF8String.fromString(toks.get(i)))
      i += 1
    }
    result(new GenericArrayData(out.toArray))
  }

  /** The rewrite kernel of the BLOOM-mode span-dedup action pass
    * ([[graft.operators.Dedup.spanDedupCorpus]] above its literal
    * ceiling): cut every `n`-token window whose START position is in
    * `cuts` — the positions having already been resolved EXACTLY by a
    * bloom-prefilter + census join, so this kernel does no hashing at
    * all: tokenize (the [[spanHashes]] discipline — split on single
    * spaces, empties dropped), mark the covered tokens of each cut
    * window, return the survivors. Same overlap semantics as
    * [[spanCutTokens]]: a token is removed iff ANY cut window covers
    * it. Out-of-range positions are ignored (cut lists come from the
    * same tokenization, so they are in range by construction; a
    * clamped guard beats an executor ArrayIndexOutOfBoundsException on
    * a hand-built list), and so are NULL entries — the SQL surface
    * admits array<int> with nulls, where ArrayData.getInt would read
    * the zeroed slot as position 0 and silently cut the document's
    * first n tokens. Returns (kept tokens, original token count)
    * as one struct row, the [[spanCutTokens]] contract. */
  def cutByPositions(text: UTF8String, n: Int,
      cuts: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = spaceTokens(text)
    val nTok = toks.size
    val nCuts = cuts.numElements()
    val removed = new Array[Boolean](nTok)
    if (n >= 1) {
      var c = 0
      while (c < nCuts) {
        val p = if (cuts.isNullAt(c)) -1 else cuts.getInt(c)
        if (p >= 0 && p + n <= nTok) {
          var j = p
          while (j < p + n) { removed(j) = true; j += 1 }
        }
        c += 1
      }
    }
    val out = new java.util.ArrayList[Any](nTok)
    var i = 0
    while (i < nTok) {
      if (!removed(i)) out.add(UTF8String.fromString(toks.get(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(out.toArray), nTok))
  }

  /** 16-bit SimHash over (distinct) tokens: per-bit majority vote of the
    * tokens' 60-bit md5 hashes. Empty input → 0 (matches the legacy
    * aggregate over an empty sequence). */
  def simhash16(ws: ArrayData): Long = {
    val n = ws.numElements()
    val counts = new Array[Int](16)
    var i = 0
    while (i < n) {
      val h = md5Long15(ws.getUTF8String(i).getBytes)
      var b = 0
      while (b < 16) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 16) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Distinct word n-grams of a document in one pass: split on single
    * spaces (trailing empties kept by the regex split, then dropped —
    * the JVM twin of `filter(split(text, ' '), t -> t != '')`), join
    * each n consecutive tokens with ' ', dedupe preserving first
    * occurrence (the `array_distinct` order). Fewer than n tokens →
    * empty array, matching the legacy CASE arm. */
  def wordNGrams(text: UTF8String, n: Int): ArrayData = {
    val toks = spaceTokens(text)
    val m = toks.size - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](m * 2)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.get(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val itr = seen.iterator()
    i = 0
    while (itr.hasNext) {
      out(i) = UTF8String.fromString(itr.next())
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The 60-bit md5 hash ([[md5Long15]]) of each DISTINCT word n-gram,
    * in [[wordNGrams]] order — the kernel behind
    * `Decontamination.ngramHashes`. Bit-identical to
    * `explode(word_ngrams(text, n))` → `conv(substring(md5(g),1,15),16,10)`
    * (SketchParitySpec pins it), without the per-gram hex encoding,
    * substring and base conversion. */
  def ngramHashes(text: UTF8String, n: Int): ArrayData = {
    val gs = wordNGrams(text, n)
    new GenericArrayData(Array.tabulate[Any](gs.numElements())(i =>
      md5Long15(gs.getUTF8String(i).getBytes)))
  }

  /**
   * Per-document repetition counters in ONE tokenization pass — the
   * Gopher/C4-family repetition quality signals (duplicate tokens,
   * duplicate 3-grams, most-frequent-bigram coverage) computed per row
   * with zero shuffle. Returns six longs:
   * `[n_tokens, n_distinct_tokens, n_bigrams, top_bigram_freq,
   *   n_trigrams, n_distinct_trigrams]` where n-gram totals are
   * `max(n_tokens - (n-1), 0)` and `top_bigram_freq` is the highest
   * multiplicity of any single bigram (0 when no bigrams). Tokenization
   * matches [[wordNGrams]] (split on single spaces, empties dropped).
   */
  def repetitionStats(text: UTF8String): ArrayData = {
    val toks = spaceTokens(text)
    val n = toks.size
    val uni = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { uni.add(toks.get(i)); i += 1 }
    val biCounts = new java.util.HashMap[String, Int](n * 2)
    var topBi = 0
    i = 0
    while (i < n - 1) {
      val g = toks.get(i) + " " + toks.get(i + 1)
      val c = biCounts.merge(g, 1, (a, b) => a + b)
      if (c > topBi) topBi = c
      i += 1
    }
    val tri = new java.util.HashSet[String](n * 2)
    i = 0
    while (i < n - 2) {
      tri.add(toks.get(i) + " " + toks.get(i + 1) + " " + toks.get(i + 2))
      i += 1
    }
    new GenericArrayData(Array[Any](
      n.toLong, uni.size.toLong,
      math.max(n - 1, 0).toLong, topBi.toLong,
      math.max(n - 2, 0).toLong, tri.size.toLong))
  }

  /** Sequential-fold dot product — index order, so the floating-point
    * sequence matches `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)`
    * and DuckDB's `list_dot_product`. Mirrors the legacy null semantics:
    * length mismatch or a null element → null (zip_with pads with null,
    * the fold then sticks at null). */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na != nb) return null
    var acc = 0.0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Binary search over an ascending (UTF8String byte-order) non-null
    * string array — the O(log n) probe backing
    * [[ArrayExceptSorted]]. `sort_array` produces exactly this order
    * (Spark's StringType ordering is UTF8String.compareTo, byte-wise). */
  def containsSorted(sorted: ArrayData, v: UTF8String): Boolean = {
    var lo = 0
    var hi = sorted.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = sorted.getUTF8String(mid).compareTo(v)
      if (c == 0) return true
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  /** Order-and-duplicate-preserving `items − sorted` (set semantics on
    * the right side only): one call per row, |items|·log|sorted|
    * comparisons — vs the |items|·|sorted| of
    * `filter(items, x -> !array_contains(sorted, x))`, whose lambda is
    * additionally interpreted per element. Null items can't match a
    * non-null sorted set and are kept. */
  def arrayExceptSorted(items: ArrayData, sorted: ArrayData): ArrayData = {
    val n = items.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (items.isNullAt(i)) out.add(null)
      else {
        val v = items.getUTF8String(i)
        if (!containsSorted(sorted, v)) out.add(v)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `minhash_lsh_bands(shingles ARRAY<STRING>) -> ARRAY<STRING>` — the 16
  * LSH band hashes of the 64-permutation MinHash signature, one static
  * call per row inside whole-stage codegen. */
case class MinHashLshBands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_lsh_bands"

  override protected def nullSafeEval(input: Any): Any =
    Sketches.minhashBands(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.Sketches.minhashBands($c);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashLshBands =
    copy(child = newChild)
}

/** `word_ngrams(text STRING, n INT) -> ARRAY<STRING>` — distinct word
  * n-grams (space-tokenized, first-occurrence order), one kernel call
  * replacing the tokenize → window → concat → distinct lambda chain. */
case class WordNGrams(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(text: Any, n: Any): Any =
    Sketches.wordNGrams(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.functions.Sketches.wordNGrams($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNGrams =
    copy(left = newLeft, right = newRight)
}

/** `ngram_hashes(text STRING, n INT) -> ARRAY<BIGINT>` — the 60-bit md5
  * hash of each distinct word n-gram, in `word_ngrams` order, one kernel
  * call replacing the per-gram md5 → substring → conv chain (see
  * [[Sketches.ngramHashes]]). */
case class NgramHashes(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override protected def nullSafeEval(text: Any, n: Any): Any =
    Sketches.ngramHashes(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.functions.Sketches.ngramHashes($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramHashes =
    copy(left = newLeft, right = newRight)
}

/** `span_hashes(text STRING, n INT, mod BIGINT) -> ARRAY<STRING>` —
  * md5 of every n-token window, gated to hashes ≡ 0 (mod `mod`), one
  * kernel call per row (see [[Sketches.spanHashes]]). */
case class SpanHashes(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "span_hashes"

  override protected def nullSafeEval(text: Any, n: Any, mod: Any): Any =
    Sketches.spanHashes(text.asInstanceOf[UTF8String],
      n.asInstanceOf[Number].intValue, mod.asInstanceOf[Number].longValue)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, n, m) => s"graft.functions.Sketches.spanHashes($t, $n, $m)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SpanHashes =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `span_hashes_pos(text STRING, n INT, mod BIGINT) ->
  * ARRAY<STRUCT<pos INT, h STRING>>` — every n-token window surviving
  * the 1/mod digest gate, WITH its real token position (see
  * [[Sketches.spanHashesPos]] — the sampled census-with-first kernel:
  * a posexplode index over gated `span_hashes` output stops being a
  * token position once mod > 1). */
case class SpanHashesPos(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("h", StringType,
        nullable = false))), containsNull = false)
  override def prettyName: String = "span_hashes_pos"

  override protected def nullSafeEval(text: Any, n: Any, mod: Any): Any =
    Sketches.spanHashesPos(text.asInstanceOf[UTF8String],
      n.asInstanceOf[Number].intValue, mod.asInstanceOf[Number].longValue)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, n, m) => s"graft.functions.Sketches.spanHashesPos($t, $n, $m)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SpanHashesPos =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `span_cut(text STRING, n INT, flagged BINARY,
  * keepers ARRAY<STRUCT<pos INT, h STRING>>) ->
  * STRUCT<kept ARRAY<STRING>, n_tokens INT>` — the exact-substring
  * dedup rewrite: surviving tokens after cutting every flagged
  * non-keeper n-token window occurrence, plus the document's original
  * token count ([[Sketches.spanCutTokens]] — the kernel tokenizes
  * anyway, so returning the count saves a second tokenization pass).
  * `flagged` packs ascending raw 16-byte md5 digests into one binary
  * blob (raw-byte order equals hex order — pack straight from the
  * engine-sorted hex census). */
case class SpanCut(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kept",
        ArrayType(StringType, containsNull = false), nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def prettyName: String = "span_cut"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{BinaryType, IntegerType, StructType}
    val keeperOk = fourth.dataType match {
      case ArrayType(s: StructType, _) if s.fields.length == 2 =>
        s.fields(0).dataType == IntegerType &&
          s.fields(1).dataType == StringType
      case _ => false
    }
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, BinaryType) if keeperOk =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "span_cut requires (STRING, INT, BINARY, " +
          s"ARRAY<STRUCT<INT, STRING>>), got ${first.dataType.catalogString}, " +
          s"${second.dataType.catalogString}, ${third.dataType.catalogString}, " +
          s"${fourth.dataType.catalogString}")
    }
  }

  /** The probe index of the (foldable — real callers pass a literal)
    * flagged blob, built ONCE per expression instance and shipped to
    * generated code as a reference object (the [[BloomContains]]
    * pattern): alive exactly as long as the stage using it — no
    * global cache, no per-row resolution. Null when the blob is not
    * foldable; the kernel then builds per call (cold path). */
  @transient private lazy val staticTable: Array[Int] =
    if (!third.foldable) null
    else {
      val blob = third.eval(null).asInstanceOf[Array[Byte]]
      if (blob == null) null else Sketches.buildProbeTable(blob)
    }

  override protected def nullSafeEval(text: Any, n: Any, flagged: Any,
      keepers: Any): Any =
    Sketches.spanCutTokens(text.asInstanceOf[UTF8String],
      n.asInstanceOf[Number].intValue, flagged.asInstanceOf[Array[Byte]],
      keepers.asInstanceOf[ArrayData], staticTable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl =
      if (staticTable != null)
        ctx.addReferenceObj("spanCutTable", staticTable, "int[]")
      else "null"
    defineCodeGen(ctx, ev, (t, n, f, k) =>
      s"graft.functions.Sketches.spanCutTokens($t, $n, $f, $k, $tbl)")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): SpanCut =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** `span_cut_positions(text STRING, n INT, cuts ARRAY<INT>) ->
  * STRUCT<kept ARRAY<STRING>, n_tokens INT>` — the bloom-mode span-dedup
  * rewrite: cut every n-token window starting at a position in `cuts`
  * (already exactly resolved upstream — no hashing in the kernel; see
  * [[Sketches.cutByPositions]]). Output contract identical to
  * [[SpanCut]]. */
case class SpanCutPositions(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kept",
        ArrayType(StringType, containsNull = false), nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def prettyName: String = "span_cut_positions"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.IntegerType
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "span_cut_positions requires (STRING, INT, ARRAY<INT>), got " +
          s"${first.dataType.catalogString}, " +
          s"${second.dataType.catalogString}, ${third.dataType.catalogString}")
    }
  }

  override protected def nullSafeEval(text: Any, n: Any, cuts: Any): Any =
    Sketches.cutByPositions(text.asInstanceOf[UTF8String],
      n.asInstanceOf[Number].intValue, cuts.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, c) =>
      s"graft.functions.Sketches.cutByPositions($t, $n, $c)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SpanCutPositions =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `simhash16(tokens ARRAY<STRING>) -> BIGINT` — 16-bit majority-vote
  * SimHash of md5-derived token hashes. */
case class SimHash16(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(input: Any): Any =
    Sketches.simhash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.simhash16($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** `repetition_stats(text STRING) -> ARRAY<BIGINT>` — the six
  * per-document repetition counters of [[Sketches.repetitionStats]] in
  * one codegen'd pass. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(input: Any): Any =
    Sketches.repetitionStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.repetitionStats($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** `bloom_contains(filter BINARY, v BIGINT) -> BOOLEAN` — membership
  * test against a serialized `org.apache.spark.util.sketch.BloomFilter`
  * (the spark-sketch wire format). The filter argument must be a
  * foldable literal: it is deserialized ONCE per task (lazily, shipped
  * to generated code as a reference object), and each row costs only
  * the k hash probes — the shape that lets a 100-TB scan pre-filter
  * against a small-side key set with no join and no shuffle. A null
  * filter or null value yields null. */
case class BloomContains(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_contains"

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    if (filter == null) return null
    val v = right.eval(input)
    if (v == null) null else filter.mightContainLong(v.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    if (filter == null) {
      return ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        boolean ${ev.value} = false;""")
    }
    val bf = ctx.addReferenceObj("bloomFilter", filter,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    val rightCode = right.genCode(ctx)
    ev.copy(code = code"""
      ${rightCode.code}
      boolean ${ev.isNull} = ${rightCode.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = $bf.mightContainLong(${rightCode.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

/** `vec_dot(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) -> DOUBLE` — sequential
  * index-order dot product (deterministic; see [[Sketches.dotOrNull]]). */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  // a float-element array would otherwise fail DEEP IN A TASK with a
  // boxing ClassCastException — make the contract an analysis error
  // (callers cast: `col("embedding").cast("array<double>")`)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires two ARRAY<DOUBLE> arguments, got " +
            s"${l.catalogString} and ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sketches.dotOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |java.lang.Double ${ev.value}$$r = graft.functions.Sketches.dotOrNull($a, $b);
       |if (${ev.value}$$r == null) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = ${ev.value}$$r.doubleValue();
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `array_except_sorted(items ARRAY<STRING>, sorted ARRAY<STRING>) ->
  * ARRAY<STRING>` — order/duplicate-preserving removal of every item
  * present in the ASCENDING-sorted right array, by binary search
  * ([[Sketches.arrayExceptSorted]]). The broadcast-set probe for
  * boilerplate removal (d15): with the sorted set per-row constant,
  * each row costs |items|·log|set| instead of the linear
  * `array_contains` scan that turns a dense boilerplate set quadratic. */
case class ArrayExceptSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "array_except_sorted"

  override protected def nullSafeEval(items: Any, sorted: Any): Any =
    Sketches.arrayExceptSorted(
      items.asInstanceOf[ArrayData], sorted.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Sketches.arrayExceptSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayExceptSorted =
    copy(left = newLeft, right = newRight)
}

/** The analysis-time contract of the two DSIR kernels: (STRING,
  * `mid`, BOOLEAN literal). A wrong `mid` type would otherwise pass
  * analysis and fail at execution (interpreted: ClassCastException;
  * codegen: the generated Java doesn't compile and silently falls
  * back) — the vec_dot/span_cut pattern. `unigrams` picks the feature
  * space, so it is a constant of the query, never a column. */
private object DsirKernelArgs {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def check(e: TernaryExpression, midOk: DataType => Boolean,
      midSql: String): TypeCheckResult =
    (e.first.dataType, e.second.dataType, e.third.dataType) match {
      case (StringType, m, BooleanType) if midOk(m) && e.third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"${e.prettyName} requires (STRING, $midSql, BOOLEAN literal) " +
            s"arguments, got ${a.catalogString}, ${b.catalogString} and " +
            s"${c.catalogString}" +
            (if (e.third.foldable) "" else " (unigrams is not a literal)"))
    }
}

/** `dsir_buckets(text STRING, buckets INT, unigrams BOOLEAN) ->
  * ARRAY<BIGINT>` — the doc's DSIR feature buckets in one kernel call
  * ([[Sketches.dsirBuckets]]: unigrams first when `unigrams`, then
  * every adjacent-token bigram), replacing the tokenize → transform →
  * md5 → conv → pmod lambda chain that Catalyst's interpreted
  * higher-order functions keep outside whole-stage codegen. */
case class DsirBuckets(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dsir_buckets"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    DsirKernelArgs.check(this, _ == IntegerType, "INT")

  override protected def nullSafeEval(text: Any, buckets: Any,
      unigrams: Any): Any =
    Sketches.dsirBuckets(text.asInstanceOf[UTF8String],
      buckets.asInstanceOf[Number].intValue,
      unigrams.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, b, u) =>
      s"graft.functions.Sketches.dsirBuckets($t, $b, $u)")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): DsirBuckets = copy(f, s, t)
}

/** `dsir_score(text STRING, lr ARRAY<DOUBLE>, unigrams BOOLEAN) ->
  * STRUCT<n_features BIGINT, logw DOUBLE>` — the DSIR per-doc score in
  * one kernel call ([[Sketches.dsirScore]]): hash each feature window,
  * fold the dense log-ratio literal, return the count and the sum
  * without materializing a bucket array column per row. */
case class DsirScore(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_features", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("logw", DoubleType,
        nullable = false)))
  override def prettyName: String = "dsir_score"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    DsirKernelArgs.check(this, {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }, "ARRAY<DOUBLE>")

  override protected def nullSafeEval(text: Any, lr: Any,
      unigrams: Any): Any =
    Sketches.dsirScore(text.asInstanceOf[UTF8String],
      lr.asInstanceOf[ArrayData], unigrams.asInstanceOf[Boolean])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, l, u) =>
      s"graft.functions.Sketches.dsirScore($t, $l, $u)")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): DsirScore = copy(f, s, t)
}

/** `bpe_segment(token STRING, merges ARRAY<STRING>) -> ARRAY<STRING>`
  * — apply a rank-ordered BPE merge table to one token
  * ([[Sketches.bpeSegment]]). `merges` must be a foldable literal
  * (each element `left + U+001F + right` — symbols never contain the
  * separator); it is parsed ONCE per expression instance and rides
  * codegen as a reference object (the bloom-filter discipline), so
  * per-row work is the segment loop alone. */
case class BpeSegment(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_segment"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) if right.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (StringType, ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "bpe_segment requires the merge table to be a foldable literal")
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_segment requires (STRING, ARRAY<STRING>) arguments, got " +
            s"${l.catalogString} and ${r.catalogString}")
    }

  /** flat [l0, r0, l1, r1, …] parsed from the literal once */
  @transient private lazy val table: Array[String] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    if (arr == null) null
    else {
      val out = new Array[String](arr.numElements() * 2)
      var i = 0
      while (i < arr.numElements()) {
        val e = arr.getUTF8String(i).toString
        val cut = e.indexOf('\u001f')
        require(cut >= 0, s"bpe_segment merge entry without separator: $e")
        out(2 * i) = e.substring(0, cut)
        out(2 * i + 1) = e.substring(cut + 1)
        i += 1
      }
      out
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    if (table == null) return null
    val t = left.eval(input)
    if (t == null) null
    else Sketches.bpeSegment(t.asInstanceOf[UTF8String], table)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    if (table == null) {
      return ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;""")
    }
    val tbl = ctx.addReferenceObj("bpeMerges", table, "java.lang.String[]")
    val leftCode = left.genCode(ctx)
    ev.copy(code = code"""
      ${leftCode.code}
      boolean ${ev.isNull} = ${leftCode.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.Sketches.bpeSegment(${leftCode.value}, $tbl);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeSegment =
    copy(left = newLeft, right = newRight)
}
