package graft.spark

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.GraftColumnBridge.StaticKernel
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One thread-local MD5 digest and one lowercase-hex encoder shared by
  * every md5-based kernel (a `MessageDigest` is not thread-safe, and
  * `getInstance` per row is a provider lookup plus an allocation).
  */
private[spark] object Md5 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def get(): java.security.MessageDigest = digest.get()

  private val hexDigits = "0123456789abcdef".toCharArray

  def hex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

/** MinHash signature kernel: the 16 keyed 32-bit hashes of
  * [[graft.operators.Dedup.minhashSignature]] in one primitive pass over
  * the shingle array, replacing four md5-building `transform`s plus sixteen
  * interpreted `array_min(transform(substring...))` traversals per row.
  */
object MinHashKernel {

  private val salts: Array[Array[Byte]] =
    Array("0:", "1:", "2:", "3:").map(_.getBytes("UTF-8"))

  /** All 16 MinHash values of a shingle array in ONE pass: per shingle,
    * FOUR salted md5 digests are computed and each 128-bit digest is split
    * into four big-endian unsigned 32-bit words — hash k is the running
    * minimum of word k%4 of digest k/4. Bit-identical to the SQL form
    * `CAST(conv(substring(concat(md5('0:'||g), md5('1:'||g), md5('2:'||g),
    * md5('3:'||g)), 8k+1, 8), 16, 10) AS BIGINT)` aggregated with
    * `array_min` (hex digit [8k, 8k+8) IS digest byte [4k, 4k+4)), and to
    * the DuckDB oracle twin. Empty input yields Long.MaxValue mins
    * (unreachable in practice: signatures are built on >=3-token docs,
    * which always produce >=1 shingle).
    */
  def minhash16(grams: ArrayData): ArrayData = {
    val mins = Array.fill(16)(Long.MaxValue)
    val digestFn = Md5.get()
    var i = 0
    val n = grams.numElements()
    while (i < n) {
      val g = grams.getUTF8String(i).getBytes
      var d = 0
      while (d < 4) {
        digestFn.reset()
        digestFn.update(salts(d))
        digestFn.update(g)
        val digest = digestFn.digest()
        var w = 0
        while (w < 4) {
          val b = 4 * w
          val v = ((digest(b) & 0xffL) << 24) | ((digest(b + 1) & 0xffL) << 16) |
            ((digest(b + 2) & 0xffL) << 8) | (digest(b + 3) & 0xffL)
          val k = d * 4 + w
          if (v < mins(k)) mins(k) = v
          w += 1
        }
        d += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Word-3-gram shingling kernel. Feeds [[MinHashKernel]] and the Jaccard
  * verifiers; the pair replaces the two hottest interpreted higher-order
  * chains in the dedup family.
  */
object ShinglesKernel {
  /** Distinct word-3-gram shingles of `text`, split on single spaces with
    * trailing empties kept (Java `split(" ", -1)` == Spark
    * `split(text, ' ')`), first-occurrence order (== `array_distinct` over
    * the transform) — bit-identical to the SQL form
    * `array_distinct(transform(sequence(0, size(toks)-3), i ->
    * concat(toks[i+1], ' ', toks[i+2], ' ', toks[i+3])))` and its DuckDB
    * twin. One pass; the HOF form re-evaluates `split(text, ' ')` inside
    * every lambda element (O(tokens^2) work per document).
    */
  def shingles3(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](math.max(16, n))
    var i = 0
    while (i <= n - 3) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Rolling-hash fingerprint kernel — the per-document fingerprint
  * primitive of [[graft.operators.TextAnalysis.fingerprint]].
  */
object RollingHashKernel {
  /** Polynomial rolling hash h = (h*31 + code) mod 2^31-1 over the
    * characters of `text`, where `code` replicates the HOF form
    * `ascii(substr(text, i, 1))` exactly: Spark 4's `Ascii` returns the
    * first character's CODE POINT (`codePointAt(0)` — verified against the
    * shipped bytecode), which matches DuckDB's `ord()`. Bit-identical to the
    * interpreted `aggregate(transform(sequence(1, length(text)),
    * i -> ascii(substr)), 0, (h,c) -> (h*31+c) % 2147483647)` chain and to
    * the DuckDB twin — pinned by a parity spec. One pass; the HOF form
    * evaluates an interpreted lambda plus a character substring per
    * character.
    */
  def rollingHash(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val s = text.toString
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    h
  }
}

/** 16-bit SimHash kernel: collapses the per-document signature from one
  * md5-HOF plus sixteen interpreted filter traversals to a single pass.
  */
object SimHashKernel {

  /** 16-bit SimHash over single-space tokens in ONE pass. Token hash = the
    * first 16 bits of md5(token) big-endian (== `CAST(conv(substring(
    * md5(t), 1, 4), 16, 10) AS INT)`); signature bit b is set iff a STRICT
    * majority of token hashes have bit b set (tie -> 0). Bit-identical to
    * the HOF form (16 interpreted `size(filter(hs, h -> (h >> b) & 1 = 1))`
    * passes per row — the hot loop this kernel replaces) and to the DuckDB
    * twin; split keeps trailing empties (`split(" ", -1)` == Spark
    * `split(text, ' ')`), so an empty text hashes the one empty token,
    * exactly like the SQL.
    */
  def simhash16(text: org.apache.spark.unsafe.types.UTF8String): Int = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    val counts = new Array[Int](16)
    val digestFn = Md5.get()
    var i = 0
    while (i < n) {
      digestFn.reset()
      val digest = digestFn.digest(toks(i).getBytes("UTF-8"))
      val h = ((digest(0) & 0xff) << 8) | (digest(1) & 0xff)
      var b = 0
      while (b < 16) {
        counts(b) += (h >> b) & 1
        b += 1
      }
      i += 1
    }
    var sig = 0
    var b = 0
    while (b < 16) {
      if (counts(b) * 2 > n) sig |= 1 << b
      b += 1
    }
    sig
  }
}

/** In-block SimHash pairing kernel: the quadratic block comparison is the
  * dedup family's hottest loop once blocks cluster (natural-language
  * signatures concentrate: 6k docs put ~700 in one rotation window at sf0.1).
  */
object SimHashPairsKernel {
  /** All (a_id, b_id, hamming) pairs within one block whose hamming
    * distance is <= maxHamming, in one primitive pass over the sorted
    * (doc_id, simhash) struct array. Replaces the interpreted
    * nested-`transform` pair builder, which materialized EVERY in-block
    * pair as an interpreted struct (quadratic, ~1.5 us each) before the
    * hamming filter could drop it — only qualifying pairs are ever built
    * here. Same pair set as `filter(flatten(transform(...)), hamming <=
    * max)`; order within the array is (a index, b index) ascending, which
    * the downstream `distinct` makes irrelevant.
    */
  def pairs(ms: ArrayData, maxHamming: Int): ArrayData = {
    val n = ms.numElements()
    val ids = new Array[Long](n)
    val sigs = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = ms.getStruct(i, 2)
      ids(i) = r.getLong(0)
      sigs(i) = r.getInt(1)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        val h = Integer.bitCount(sigs(a) ^ sigs(b))
        if (h <= maxHamming)
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](ids(a), ids(b), h))
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Crawl-URL canonicalization kernel: the dedup-key normalization applied
  * before URL-level dedup at crawl scale, as a narrow map. Delegates to the
  * unit-tested core function so the columnar semantics ARE
  * [[graft.core.Urls.canonicalize]].
  */
object UrlKernel {
  def canonicalize(url: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.core.Urls.canonicalize(url.toString))
}

/** Span blocking kernel — the hot loop of the span-dedup family
  * ([[graft.operators.Dedup.spanDedup]] and its ingest/streaming forms
  * explode every document through it).
  */
object SpanBlocksKernel {
  /** Consecutive `width`-token blocks of `text` (single-space split with
    * trailing empties kept — Java `split(" ", -1)` == Spark
    * `split(text, ' ')`), last block partial. Bit-identical to the HOF
    * form `transform(sequence(0, CAST((size(toks) - 1) DIV w AS INT)),
    * i -> array_join(slice(toks, i*w + 1, w), ' '))` and to the DuckDB
    * twin's `list_slice`/`array_to_string` — pinned by a parity spec.
    * One pass; the HOF form re-evaluates `split(text, ' ')` inside every
    * lambda element and walks the token array once per block.
    */
  def spanBlocks(text: org.apache.spark.unsafe.types.UTF8String,
      width: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    val nb = (n - 1) / width + 1
    val out = new Array[Any](nb)
    var i = 0
    while (i < nb) {
      val from = i * width
      val until = math.min(n, from + width)
      val sb = new java.lang.StringBuilder()
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Language-id kernels. `langPredict` is the mixture key every sampler keys
  * on ([[graft.operators.Sampling]]); its HOF form evaluated up to ~12
  * interpreted filter-over-split traversals per reference. `langScores4`
  * collapses the langId projection's four HOF columns into one call that
  * common-subexpression elimination can share, unlike the lambdas.
  */
object LangKernel {

  /** word -> bitmask of language indexes (en=1, de=2, es=4, fr=8), built
    * from [[graft.operators.TextAnalysis.langStopwords]] so the kernel can
    * never drift from the declared lists (a spec additionally pins the
    * native outputs to the HOF forms).
    */
  private lazy val table: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    graft.operators.TextAnalysis.langStopwords.zipWithIndex.foreach {
      case ((_, words), i) =>
        words.foreach { w =>
          val prev = m.get(w)
          m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
        }
    }
    m
  }

  private val langNames: Array[org.apache.spark.unsafe.types.UTF8String] =
    Array("und", "en", "de", "es", "fr")
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)

  /** The four per-language stopword-hit counts in ONE pass over the tokens
    * (single-space split, trailing empties kept — Java `split(" ", -1)` ==
    * Spark `split(text, ' ')`). Bit-identical to the four HOF columns
    * `size(filter(split(text, ' '), x -> x IN (...)))` of
    * [[graft.operators.TextAnalysis.langScores]], which are interpreted
    * lambdas Catalyst cannot subexpression-eliminate (HOFs are excluded
    * from CSE), so every reference re-walked the token array.
    */
  def scores4(text: org.apache.spark.unsafe.types.UTF8String): Array[Int] = {
    val toks = text.toString.split(" ", -1)
    val counts = new Array[Int](4)
    val t = table
    var i = 0
    while (i < toks.length) {
      val mask = t.get(toks(i))
      if (mask != null) {
        val m = mask.intValue()
        var b = 0
        while (b < 4) {
          counts(b) += (m >> b) & 1
          b += 1
        }
      }
      i += 1
    }
    counts
  }

  def langScores4(text: org.apache.spark.unsafe.types.UTF8String): ArrayData =
    new GenericArrayData(scores4(text).map(Integer.valueOf(_): Any))

  /** Winner-take-first language prediction — the exact
    * [[graft.operators.TextAnalysis.langPredicted]] when-chain (ties to
    * list order; all-zero -> "und") evaluated once per row instead of
    * re-deriving each stopword count per branch.
    */
  def langPredict(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val c = scores4(text)
    val (en, de, es, fr) = (c(0), c(1), c(2), c(3))
    if (en == 0 && de == 0 && es == 0 && fr == 0) langNames(0)
    else if (en >= de && en >= es && en >= fr) langNames(1)
    else if (de >= es && de >= fr) langNames(2)
    else if (es >= fr) langNames(3)
    else langNames(4)
  }
}

/** Winnowed window fingerprinting kernel — the hot loop of the
  * winnowed-fingerprint dedup family ([[graft.operators.Dedup.windowDupPairs]]
  * and the artifact/ingest forms). The HOF form paid one interpreted md5 plus
  * two array slices per window position per document.
  */
object WinnowKernel {

  /** The DISTINCT winnowed window fingerprints of `text` in one pass
    * (Schleimer et al. 2003 selection over md5 window fingerprints):
    * every `w`-token window (single-space split, trailing empties kept) is
    * md5-fingerprinted, and each of the max(nw - s + 1, 1) stride
    * positions selects the MINIMUM fingerprint of its `s` consecutive
    * windows; distinct keeps first-occurrence order. Bit-identical to the
    * HOF chain in [[graft.operators.Dedup]] (`transform(sequence...,
    * md5(concat_ws(' ', slice(toks, ...))))` then
    * `array_distinct(transform(..., array_min(slice(wfps, i, s))))`) and
    * to the DuckDB twin — pinned by a parity spec. Digest comparison is
    * unsigned byte-wise, which equals the lexicographic order of the
    * lowercase-hex strings the HOF form compares (hex encoding is
    * order-preserving); only selected minima are hex-encoded. Texts with
    * fewer than `w` tokens return an empty array (the caller's explode
    * drops them — same row set as the previous `size(toks) >= w` filter).
    */
  def winnowFps(text: org.apache.spark.unsafe.types.UTF8String,
      w: Int, s: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val nw = n - w + 1
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tokBytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    val digestFn = Md5.get()
    val digests = new Array[Array[Byte]](nw)
    i = 0
    while (i < nw) {
      digestFn.reset()
      var j = 0
      while (j < w) {
        if (j > 0) digestFn.update(' '.toByte)
        digestFn.update(tokBytes(i + j))
        j += 1
      }
      digests(i) = digestFn.digest()
      i += 1
    }
    val positions = math.max(nw - s + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var k = 0
    while (k < positions) {
      var best = digests(k)
      val end = math.min(k + s, nw)
      var j = k + 1
      while (j < end) {
        if (java.util.Arrays.compareUnsigned(digests(j), best) < 0) best = digests(j)
        j += 1
      }
      seen.add(Md5.hex(best))
      k += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) {
      out(o) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      o += 1
    }
    new GenericArrayData(out)
  }
}

/** MinHash band-key kernel — the banding half of every minhash
  * artifact/signature build ([[graft.operators.Dedup]] hashAndBands /
  * signatureFromGrams).
  */
object MinHashBandsKernel {

  /** The band keys of a shingle array in one pass: the 16
    * [[MinHashKernel.minhash16]] values banded 4x4, band b =
    * md5 hex of the '_'-joined decimal strings of rows [4b, 4b+4) — exactly
    * `md5(concat_ws("_", element_at(mh, i).cast("string")...))`, pinned by
    * a parity spec. EMPTY grams (a doc too short to shingle) yield NULL,
    * the same genuinely-NULL band semantics as the
    * `when(mh.isNotNull, ...)` guard in the expression form. NULL never
    * equi-joins, so on the equi-join paths (incremental dedup against
    * artifacts) short docs cannot spuriously collide. A `groupBy` keeps
    * NULL as a key, though: [[graft.operators.Dedup.bandsToPairs]] fed such
    * a table puts all short docs in one shared NULL bucket per band. One kernel
    * node replaces the 16-column md5/concat_ws band subtree that every
    * artifact/signature plan carried.
    */
  def bands(grams: ArrayData, bandCount: Int, rowsPerBand: Int): ArrayData = {
    if (grams.numElements() == 0) return null
    val mins = MinHashKernel.minhash16(grams)
    val digestFn = Md5.get()
    val out = new Array[Any](bandCount)
    var b = 0
    while (b < bandCount) {
      val sb = new java.lang.StringBuilder()
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('_')
        sb.append(mins.getLong(b * rowsPerBand + r))
        r += 1
      }
      digestFn.reset()
      out(b) = org.apache.spark.unsafe.types.UTF8String.fromString(
        Md5.hex(digestFn.digest(sb.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-token classifier feature-bucket kernel (classifier training). */
object ClassifierBucketsKernel {

  /** The [[ClassifierScoreKernel]] feature bucket of every single-space
    * token, in token order — one array per document, so classifier
    * training explodes ONE kernel array instead of exploding raw tokens
    * and re-deriving `pmod(conv(substring(md5(t), 1, 4), 16, 10), B)` per
    * exploded row. Bit-identical bucket values (parity spec).
    */
  def buckets(text: org.apache.spark.unsafe.types.UTF8String,
      b: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val digestFn = Md5.get()
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      digestFn.reset()
      val d = digestFn.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      out(i) = Integer.valueOf(h % b)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Token-membership count kernel — the blocklist / stopword counting
  * primitive ([[graft.operators.TextAnalysis.blocklist]], `quality`,
  * `qualityFunnel`, classifier training labels).
  */
object TokenSetCountKernel {
  /** Count of single-space tokens (trailing empties kept) contained in
    * `words` — bit-identical to the HOF form
    * `size(filter(split(text, ' '), t -> t IN (...)))`, pinned by a parity
    * spec. One pass; beyond per-row eval cost, removing the lambda also
    * removes a disproportionate Catalyst planning/codegen cost the HOF
    * form paid on every fresh plan.
    */
  def count(text: org.apache.spark.unsafe.types.UTF8String,
      words: java.util.HashSet[String]): Int = {
    val toks = text.toString.split(" ", -1)
    var c = 0
    var i = 0
    while (i < toks.length) {
      if (words.contains(toks(i))) c += 1
      i += 1
    }
    c
  }
}

/** Hashed-feature classifier score kernel: the fastText/CCNet-style
  * quality scorer as one call per row.
  */
object ClassifierScoreKernel {

  /** Hashed-feature linear score: sum over single-space tokens of
    * `weights[h(t) mod B]` where h(t) = the first 16 bits of md5(t)
    * big-endian (== `CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT)`,
    * the simhash convention) and B = weights.length. `weights` is an
    * `ArraySeq.ofLong` rather than a raw `long[]` because it rides the plan
    * as a literal argument: it compares by value, so two builds with equal
    * weights share one subexpression-eliminated call. Bit-identical to the
    * interpreted `aggregate(split(text, ' '), ..., (acc, t) -> acc +
    * element_at(wArr, pmod(...) + 1))` chain of
    * [[graft.operators.TextAnalysis.classifierScore]] for both the
    * int-accumulator (untrained) and bigint-accumulator (trained) forms:
    * intermediate sums cannot wrap either accumulator (|w| <= 8 untrained;
    * trained cross-difference weights bound |acc| well under 2^63), so the
    * long accumulation here matches both — pinned by a parity spec.
    */
  def score(text: org.apache.spark.unsafe.types.UTF8String,
      weights: scala.collection.immutable.ArraySeq.ofLong): Long = {
    val toks = text.toString.split(" ", -1)
    val w = weights.unsafeArray
    val b = w.length
    val digestFn = Md5.get()
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      digestFn.reset()
      val d = digestFn.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      acc += w(h % b)
      i += 1
    }
    acc
  }
}

/** Adjacent-character-pair kernel — the per-round hot loop of BPE training
  * ([[graft.operators.TextAnalysis.bpePairStats]] / `trainBpeMerges`): one
  * Generate over one kernel array instead of two chained Generates over an
  * interpreted transform.
  */
object CharPairsKernel {
  /** All adjacent two-code-point pairs of every single-space token with at
    * least two code points, token order then within-token order — the
    * multiset `explode(tokens) -> filter(length >= 2) ->
    * explode(transform(sequence(1, length(w) - 1), i -> substring(w, i,
    * 2)))` produces (order irrelevant downstream: the consumer is a
    * groupBy count). Code-point stepping matches Spark's `substring` /
    * `length` semantics (both count code points); pinned by a parity spec.
    * The HOF form paid one interpreted lambda + substring per pair plus
    * two Generate operators.
    */
  def pairs(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      if (w.length >= 2) {
        // code-point boundaries (PUA merge symbols are BMP, ASCII is BMP —
        // but step by code points for full parity with Spark's substring)
        val cps = w.codePoints().toArray
        var j = 0
        while (j < cps.length - 1) {
          out.add(org.apache.spark.unsafe.types.UTF8String.fromString(
            new String(cps, j, 2)))
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** DataFrame-DSL access to the kernels above. Each kernel's signature is
  * declared once here as a [[org.apache.spark.sql.GraftColumnBridge.StaticKernel]]
  * (Spark's `StaticInvoke`: a direct static call inside whole-stage codegen).
  * The column builders below and the SQL registrations in
  * [[GraftExtensions.functions]] both build from those declarations; the
  * builders also guard the parameters a caller passes in.
  *
  * Adding a kernel: write it as a static method on an `object` (Catalyst's
  * internal types in and out: `UTF8String`, `ArrayData`, `Int`, `Long`),
  * then declare it here with one `StaticKernel` and give it a column
  * builder.
  */
object HashFunctions {

  private val strings = ArrayType(StringType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val wordSet = ObjectType(classOf[java.util.HashSet[_]])
  private val weightSeq = ObjectType(classOf[scala.collection.immutable.ArraySeq.ofLong])

  private[graft] val shingles3Kernel =
    StaticKernel("shingles3", ShinglesKernel, "shingles3", strings, Seq(StringType))
  private[graft] val minHash16Kernel = StaticKernel("minhash16", MinHashKernel, "minhash16",
    ArrayType(LongType, containsNull = false), Seq(strings))
  private[graft] val rollingHashKernel =
    StaticKernel("rolling_hash", RollingHashKernel, "rollingHash", LongType, Seq(StringType))
  private[graft] val simHash16Kernel =
    StaticKernel("simhash16", SimHashKernel, "simhash16", IntegerType, Seq(StringType))
  private[graft] val simHashPairsKernel = StaticKernel("simhash_pairs", SimHashPairsKernel,
    "pairs",
    ArrayType(StructType(Seq(
      StructField("a_id", LongType, nullable = false),
      StructField("b_id", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))), containsNull = false),
    Seq(ArrayType(StructType(Seq(
      StructField("doc_id", LongType), StructField("simhash", IntegerType)))), IntegerType))
  private[graft] val urlCanonicalKernel =
    StaticKernel("url_canonical", UrlKernel, "canonicalize", StringType, Seq(StringType))
  private[graft] val spanBlocksKernel = StaticKernel("span_blocks", SpanBlocksKernel,
    "spanBlocks", strings, Seq(StringType, IntegerType))
  private[graft] val langPredictKernel =
    StaticKernel("lang_predict", LangKernel, "langPredict", StringType, Seq(StringType))
  private[graft] val langScores4Kernel =
    StaticKernel("lang_scores4", LangKernel, "langScores4", ints, Seq(StringType))
  private[graft] val winnowFpsKernel = StaticKernel("winnow_fps", WinnowKernel, "winnowFps",
    strings, Seq(StringType, IntegerType, IntegerType))
  // empty grams give NULL bands (see MinHashBandsKernel.bands)
  private[graft] val minHashBandsKernel = StaticKernel("minhash_bands", MinHashBandsKernel,
    "bands", strings, Seq(strings, IntegerType, IntegerType), returnNullable = true)
  private[graft] val classifierBucketsKernel = StaticKernel("classifier_buckets",
    ClassifierBucketsKernel, "buckets", ints, Seq(StringType, IntegerType))
  private[graft] val tokenSetCountKernel = StaticKernel("token_set_count",
    TokenSetCountKernel, "count", IntegerType, Seq(StringType, wordSet))
  private[graft] val classifierScoreKernel = StaticKernel("classifier_score",
    ClassifierScoreKernel, "score", LongType, Seq(StringType, weightSeq))
  private[graft] val textCharPairsKernel =
    StaticKernel("text_char_pairs", CharPairsKernel, "pairs", strings, Seq(StringType))

  /** Every declared kernel, for the specs that run them all. */
  private[graft] val kernels: Seq[StaticKernel] = Seq(shingles3Kernel, minHash16Kernel,
    rollingHashKernel, simHash16Kernel, simHashPairsKernel, urlCanonicalKernel,
    spanBlocksKernel, langPredictKernel, langScores4Kernel, winnowFpsKernel,
    minHashBandsKernel, classifierBucketsKernel, tokenSetCountKernel, classifierScoreKernel,
    textCharPairsKernel)

  /** A caller's parameter as a plain literal argument (the same expression
    * whether the call comes from a DataFrame or from SQL).
    */
  private def param(value: Literal): Column = GraftColumnBridge.column(value)

  def minHashBands(grams: Column, bandCount: Int, rowsPerBand: Int): Column = {
    require(bandCount > 0 && rowsPerBand > 0,
      s"minhash_bands needs positive geometry, got $bandCount x $rowsPerBand")
    minHashBandsKernel(grams, param(Literal(bandCount)), param(Literal(rowsPerBand)))
  }

  def classifierBuckets(text: Column, b: Int): Column = {
    require(b > 0, s"classifier_buckets needs a positive bucket count, got $b")
    classifierBucketsKernel(text, param(Literal(b)))
  }

  /** The word set rides the plan as a `HashSet` literal (equal sets compare
    * equal, so repeated uses share one call).
    */
  def tokenSetCount(text: Column, words: Seq[String]): Column = {
    val set = new java.util.HashSet[String]()
    words.foreach(set.add)
    tokenSetCountKernel(text, param(Literal(set, wordSet)))
  }

  /** Weights (untrained constant table or trained cross-difference longs)
    * ride the plan as a literal, as the HOF form carried them as an array
    * literal.
    */
  def classifierScore(text: Column, weights: Seq[Long]): Column = {
    require(weights.nonEmpty, "classifier_score needs a non-empty weight table")
    classifierScoreKernel(text, param(
      Literal(new scala.collection.immutable.ArraySeq.ofLong(weights.toArray), weightSeq)))
  }

  def textCharPairs(text: Column): Column = textCharPairsKernel(text)

  def langPredict(text: Column): Column = langPredictKernel(text)

  /** array(c_en, c_de, c_es, c_fr) in one token pass. */
  def langScores4(text: Column): Column = langScores4Kernel(text)

  def winnowFps(text: Column, w: Int, s: Int): Column = {
    require(w > 0 && s > 0, s"winnow_fps needs positive window/stride, got $w/$s")
    winnowFpsKernel(text, param(Literal(w)), param(Literal(s)))
  }

  def spanBlocks(text: Column, width: Int): Column = {
    require(width > 0, s"span_blocks width must be positive, got $width")
    spanBlocksKernel(text, param(Literal(width)))
  }

  def urlCanonical(url: Column): Column = urlCanonicalKernel(url)

  def minHash16(grams: Column): Column = minHash16Kernel(grams)

  def shingles3(text: Column): Column = shingles3Kernel(text)

  def rollingHash(text: Column): Column = rollingHashKernel(text)

  def simHash16(text: Column): Column = simHash16Kernel(text)

  /** `ms` is the block's sorted array<struct<doc_id: bigint, simhash: int>>. */
  def simHashPairs(ms: Column, maxHamming: Int): Column =
    simHashPairsKernel(ms, param(Literal(maxHamming)))
}
