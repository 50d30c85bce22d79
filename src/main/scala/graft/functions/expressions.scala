package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the operators Spark lacks built-ins
  * for: gzip codec (the reference's envelope decompression,
  * ingestor/index.js:100-110) and a winnowing rolling-hash document
  * fingerprint (charter text-analysis extension).
  *
  * Gzip/Gunzip are interpreted (CodegenFallback) — the cost is the
  * deflate call, not dispatch. The per-byte expressions on hot paths
  * (RollingFingerprint, DotProduct) generate code (doGenCode) so they
  * stay inside whole-stage codegen.
  */

/** gunzip(binary) → binary. Null on input null; throws on corrupt gzip
  * (callers wanting dead-letter semantics should pre-validate, as the
  * reference does with its try/catch at ingestor/index.js:104-108). */
case class Gunzip(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gunzip"
  override def nullSafeEval(input: Any): Any = {
    val in = new GZIPInputStream(
      new ByteArrayInputStream(input.asInstanceOf[Array[Byte]]))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }
  override protected def withNewChildInternal(c: Expression): Gunzip = copy(c)
}

/** gzip(binary) → binary (deterministic: fixed deflate settings). */
case class Gzip(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gzip"
  override def nullSafeEval(input: Any): Any = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(input.asInstanceOf[Array[Byte]])
    gz.close()
    bos.toByteArray
  }
  override protected def withNewChildInternal(c: Expression): Gzip = copy(c)
}

/** bloom_might_contain(long) → boolean: membership probe against a
  * driver-built Bloom filter carried in the expression as serialized
  * bytes (same shape as Spark's sql-private runtime-filter
  * `BloomFilterMightContain`, which is bound to its injection rule and
  * not user-constructible). Deserialized once per executor via the
  * codegen reference array; the probe itself is a codegen'd call, so a
  * bloom prefilter sits inside the scan's WholeStageCodegen and the
  * definitely-absent fast path never reaches a shuffle. No false
  * negatives by construction — callers combine it with an exact join on
  * the bloom-positive slice for exact semantics (see
  * Dedup.bloomPrefilterNew).
  */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.util.sketch.BloomFilter
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(filterBytes)
  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.mightContainLong($v);")
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

/** rolling_fingerprint(string, window) → long: the minimum of all
  * rolling polynomial hashes over byte windows of length `window`
  * (winnowing-style content fingerprint: stable under local edits
  * outside the minimal window, computed in one O(n) pass). Documents
  * shorter than the window hash as a single window.
  *
  * Codegen'd (doGenCode): this runs once per document over every byte,
  * which IS the hot path of corpus-scale fingerprinting — the generated
  * tight loop stays inside whole-stage codegen instead of breaking the
  * pipeline with interpreted eval.
  */
case class RollingFingerprint(child: Expression, window: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(window > 0, "window must be positive")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"

  private val Base = 1000003L
  // Base^(window-1) for removing the outgoing byte (wrapping arithmetic)
  private lazy val basePow: Long = {
    var p = 1L
    var i = 1
    while (i < window) { p *= Base; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.isEmpty) return 0L
    val w = math.min(window, bytes.length)
    var h = 0L
    var i = 0
    while (i < w) { h = h * Base + (bytes(i) & 0xff); i += 1 }
    var minH = h
    var pow = basePow
    if (w < window) return h
    while (i < bytes.length) {
      h = (h - (bytes(i - w) & 0xff) * pow) * Base + (bytes(i) & 0xff)
      if (h < minH) minH = h
      i += 1
    }
    minH
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val w = ctx.freshName("w")
      val h = ctx.freshName("h")
      val minH = ctx.freshName("minH")
      s"""
         |byte[] $b = $in.getBytes();
         |if ($b.length == 0) {
         |  ${ev.value} = 0L;
         |} else {
         |  int $w = java.lang.Math.min($window, $b.length);
         |  long $h = 0L;
         |  int $i = 0;
         |  for (; $i < $w; $i++) { $h = $h * ${Base}L + ($b[$i] & 0xff); }
         |  if ($w < $window) {
         |    ${ev.value} = $h;
         |  } else {
         |    long $minH = $h;
         |    for (; $i < $b.length; $i++) {
         |      $h = ($h - ($b[$i - $w] & 0xff) * ${basePow}L) * ${Base}L
         |          + ($b[$i] & 0xff);
         |      if ($h < $minH) $minH = $h;
         |    }
         |    ${ev.value} = $minH;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RollingFingerprint =
    copy(child = c)
}

/** The winnowing selection kernel shared by [[WinnowFingerprints]]'s
  * interpreted eval and its generated code (one implementation, the
  * [[CdcKernel]] pattern: a single static invoke per DOCUMENT, the
  * per-byte loop is compiled Scala). Hash family = EXACTLY
  * [[RollingFingerprint]]'s wrapping-Long polynomial (base 1000003
  * over bytes), so the DuckDB oracle replays it with the same
  * HUGEINT-mod-2^64 recursive CTE already pinned for the per-doc
  * fingerprint row.
  *
  * Selection is standard winnowing (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 §4): over the nh = n − window + 1 window hashes, every
  * length-`winnowW` run of consecutive hash positions selects its
  * minimum (ties → RIGHTMOST position), selections deduped. The
  * guarantee that makes cross-corpus span dedup complete: any shared
  * substring of length ≥ window + winnowW − 1 selects AT LEAST ONE
  * identical (hash, window-content) fingerprint in both documents —
  * and inside a shared region both documents select the SAME
  * positions (the scheme is self-synchronizing), consecutive
  * selections at most winnowW apart. Implemented as the monotone-
  * deque sliding-window minimum — O(n) per document regardless of
  * winnowW. */
object WinnowKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  val Base = 1000003L

  /** Base^(window-1) under wrapping Long arithmetic — the outgoing
    * byte's coefficient (same constant family as
    * [[RollingFingerprint]]; 1000003^15 = 6397295411589846571 for the
    * shipped window 16, the value pinned in the oracle SQL). */
  def basePow(window: Int): Long = {
    var p = 1L
    var i = 1
    while (i < window) { p *= Base; i += 1 }
    p
  }

  /** Selected (pos, h) fingerprints of `s` — pos is the 0-BASED BYTE
    * offset of the window start, h its rolling hash. Documents
    * shorter than the window fingerprint as a single whole-document
    * window at pos 0 ([[RollingFingerprint]]'s short-doc rule). Empty
    * input → empty array. */
  def fingerprints(s: UTF8String, window: Int, winnowW: Int,
      pow: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    if (n < window) {
      var h = 0L
      var i = 0
      while (i < n) { h = h * Base + (b(i) & 0xff); i += 1 }
      return new GenericArrayData(Array[Any](InternalRow(0, h)))
    }
    val nh = n - window + 1
    val hs = new Array[Long](nh)
    var h = 0L
    var i = 0
    while (i < window) { h = h * Base + (b(i) & 0xff); i += 1 }
    hs(0) = h
    while (i < n) {
      h = (h - (b(i - window) & 0xff) * pow) * Base + (b(i) & 0xff)
      hs(i - window + 1) = h
      i += 1
    }
    val w = math.min(winnowW, nh)
    // Monotone deque of positions with strictly increasing hash from
    // the head; pushing pops >= hashes, so among equal minima the
    // RIGHTMOST survives — the published tie rule, and the one the
    // oracle's (h ASC, pos DESC) argmin replays.
    val dq = new Array[Int](nh)
    var head = 0
    var tail = 0
    val selPos = new Array[Int](nh)
    var selCnt = 0
    var last = -1
    var p = 0
    while (p < nh) {
      while (tail > head && hs(dq(tail - 1)) >= hs(p)) tail -= 1
      dq(tail) = p
      tail += 1
      if (dq(head) <= p - w) head += 1
      if (p >= w - 1) {
        val sel = dq(head)
        if (sel != last) { selPos(selCnt) = sel; selCnt += 1; last = sel }
      }
      p += 1
    }
    val out = new Array[Any](selCnt)
    var j = 0
    while (j < selCnt) {
      out(j) = InternalRow(selPos(j), hs(selPos(j)))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** winnow_fingerprints(string, window, winnowW) →
  * array<struct<pos: int, h: long>>: the document's winnowing-selected
  * rolling-hash fingerprints with their 0-based byte positions
  * ([[WinnowKernel]]). This is the per-document half of cross-corpus
  * exact-substring span dedup (Lee et al. 2022, arXiv:2107.06499 §4,
  * re-expressed at the winnowing shape instead of suffix arrays):
  * fingerprints bucket-join across documents, matches at the same
  * offset delta merge into shared spans — never all-pairs, never a
  * corpus-wide sort. One O(n) pass per document inside whole-stage
  * codegen (static kernel invoke, the [[CdcCutPositions]] pattern). */
case class WinnowFingerprints(child: Expression, window: Int,
    winnowW: Int) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(window > 0, "window must be positive")
  require(winnowW > 0, "winnowW must be positive")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  private lazy val pow: Long = WinnowKernel.basePow(window)

  override def nullSafeEval(input: Any): Any =
    WinnowKernel.fingerprints(input.asInstanceOf[UTF8String], window,
      winnowW, pow)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.WinnowKernel.fingerprints(" +
        s"$in, $window, $winnowW, ${pow}L);")

  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** The O(n) content-defined-chunking cut kernel shared by
  * [[CdcCutPositions]]'s interpreted eval and its generated code (one
  * implementation, so the two paths cannot diverge bit-wise; the
  * generated call is a single static invoke per DOCUMENT — the
  * per-character loop is compiled Scala, not interpreted Catalyst).
  *
  * Boundary definition: position i (1-based, code points) is a cut
  * when H(i) % divisor == 0, with
  *   H(i) = ( Σ_{j=0}^{w-1} cp(i-j) · Base^j ) mod Mod
  * — a windowed polynomial hash (Rabin–Karp shape) maintained by the
  * standard rolling recurrence
  *   H(i+1) = ((H(i) − cp(i−w+1)·Base^{w−1}) · Base + cp(i+1)) mod Mod,
  * O(1) per character instead of the O(window) digest the md5-window
  * scheme paid. The windowed-sum form is what a SQL oracle evaluates
  * per position (w bounded substring/ord terms — no recursive CTE
  * needed), so per-boundary oracle parity survives the kernel swap.
  * Code points (not bytes) are the hash alphabet because both Spark's
  * `substring` and DuckDB's `substr`/`ord` index by code point — the
  * cut positions feed char-addressed slicing on both sides. */
object CdcKernel {
  /** Fixed public constants (69069: the classic Marsaglia LCG
    * multiplier; 1e9+7: the ubiquitous prime modulus). Recorded
    * implicitly in the chunk-store log entry via the scheme's
    * window/divisor — changing them is a re-chunk, same as changing
    * the window. */
  val Base = 69069L
  val Mod = 1000000007L

  /** Base^(window-1) mod Mod — the outgoing character's coefficient. */
  def topPow(window: Int): Long = {
    var p = 1L
    var i = 1
    while (i < window) { p = p * Base % Mod; i += 1 }
    p
  }

  /** Cut positions (1-based code-point positions, ascending) of `s`
    * under (window, divisor). Positions below `window` never cut (no
    * full window exists yet), matching the oracle's generate_series
    * lower bound. */
  def cuts(s: UTF8String, window: Int, divisor: Int,
      top: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes
    val ring = new Array[Long](window)
    var buf = new Array[Int](8)
    var cnt = 0
    var h = 0L
    var pos = 0 // code points consumed
    var i = 0 // byte cursor
    while (i < b.length) {
      val b0 = b(i) & 0xff
      var cp = 0
      // UTF8String payloads are valid UTF-8 by construction, so the
      // decoder switches on the lead byte only.
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if ((b0 & 0xe0) == 0xc0) {
        cp = ((b0 & 0x1f) << 6) | (b(i + 1) & 0x3f); i += 2
      } else if ((b0 & 0xf0) == 0xe0) {
        cp = ((b0 & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) |
          (b(i + 2) & 0x3f); i += 3
      } else {
        cp = ((b0 & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
          ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f); i += 4
      }
      if (pos >= window)
        h = (h - ring(pos % window) * top % Mod + Mod) % Mod
      h = (h * Base + cp) % Mod
      ring(pos % window) = cp
      pos += 1
      if (pos >= window && h % divisor == 0) {
        if (cnt == buf.length) buf = java.util.Arrays.copyOf(buf, cnt * 2)
        buf(cnt) = pos
        cnt += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, cnt))
  }
}

/** cdc_cuts(string, window, divisor) → array<int>: the content-defined
  * chunk cut positions of [[CdcKernel]] — one O(n) pass per document
  * (the md5-window predecessor digested O(window) bytes per position;
  * at 100 TB the difference is the build cost of the whole
  * content-addressed store, cf. operators/Multimodal.cdcSpans). */
case class CdcCutPositions(child: Expression, window: Int, divisor: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(window >= 2 && divisor >= 2,
    s"degenerate CDC shape window=$window divisor=$divisor")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_cuts"

  private lazy val top: Long = CdcKernel.topPow(window)

  override def nullSafeEval(input: Any): Any =
    CdcKernel.cuts(input.asInstanceOf[UTF8String], window, divisor, top)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.CdcKernel.cuts(" +
        s"$in, $window, $divisor, ${top}L);")

  override protected def withNewChildInternal(c: Expression): CdcCutPositions =
    copy(child = c)
}

/** dot_product(array<double>, array<double>) → double, summed in list
  * order (bit-reproducible against DuckDB's list_dot_product). Spark's
  * higher-order `aggregate(zip_with(...))` equivalent is evaluated
  * interpreted with an intermediate array per row; this expression
  * generates a tight fused loop (doGenCode), which matters at N²
  * similarity-join scale.
  */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** l2_sq(array<double>, array<double>) → double: squared L2 distance,
  * summed in list order — the same sequential per-dimension order the
  * exploded (pos asc) partial-aggregate form accumulated in, so the
  * 6-dp-rounded distance contract every quantizer path ranks on is
  * unchanged by the array-fold rewrite (round 19). Codegen'd: this is
  * the innermost kernel of every k-means iteration and every
  * centroid/codebook assignment, O(corpus × k × dims) calls per
  * training — a CodegenFallback here (e.g. the zip_with + aggregate
  * HOF formulation) pays interpreted-lambda overhead per element. */
case class L2Sq(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(left = l, right = r)
}

/** zorder2(long, long) → long: interleaves the low `bits` bits of two
  * keys (x on even positions, y on odd) into one Morton/z-order key.
  * Sorting or range-partitioning a table by this key co-locates rows
  * that are close in BOTH dimensions, so min/max footer pruning on
  * either column stays effective after the layout — the standard
  * multi-dimensional clustering trick for 100 TB lakehouse tables
  * (one sort at write time buys 2-D partition pruning forever).
  * Codegen'd: runs once per row at table-rewrite scale. */
case class ZOrder2(left: Expression, right: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(bits > 0 && bits <= 32, "bits must be in [1,32]")
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]
    val y = b.asInstanceOf[Long]
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >>> i) & 1L) << (2 * i) | ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val z = ctx.freshName("z")
      val s = ctx.freshName("s")
      // Simple statements only: janino misparses a parenthesized shift
      // distance followed by `|` ("(2 * i) | ..." reads as a cast).
      s"""
         |long $z = 0L;
         |int $s = 0;
         |for (int $i = 0; $i < $bits; $i++) {
         |  $z |= (($a >>> $i) & 1L) << $s;
         |  $s++;
         |  $z |= (($b >>> $i) & 1L) << $s;
         |  $s++;
         |}
         |${ev.value} = $z;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
    copy(left = l, right = r)
}

/** trigram_entropy(string) → struct<n_grams:bigint, n_distinct:bigint,
  * entropy_bits:double>: character-trigram Shannon entropy of one
  * document in ONE pass per row. The computation is pure per-document
  * arithmetic, so the declarative explode → groupBy(doc, gram) →
  * groupBy(doc) pipeline (two shuffles, a corpus×(len−2)-row
  * intermediate) was all distribution overhead; this collapses it to a
  * per-row hash count inside whole-stage codegen — zero shuffles at
  * any corpus size. Bit-parity with the declarative/oracle form is
  * preserved by repeating its arithmetic exactly: each per-gram term
  * c·log2(c) is HALF_UP-rounded to 6 dp and accumulated as exact
  * scaled-long micros (= the decimal(18,6) sum), and the final
  * H = log2(n) − s/n combine uses the same double operations in the
  * same order. Trigrams are counted by code point (matching
  * `substring`'s character semantics, not UTF-16 units); three code
  * points (< 2^21 each) pack into one long key. Input shorter than 3
  * characters (or null) yields null.
  */
case class TrigramEntropy(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("entropy_bits", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "trigram_entropy"

  def compute(u: UTF8String): InternalRow = {
    val cp = u.toString.codePoints().toArray
    val n = cp.length
    if (n < 3) return null
    val counts = new java.util.HashMap[java.lang.Long, Array[Int]]()
    var i = 0
    while (i <= n - 3) {
      val key = java.lang.Long.valueOf(
        (cp(i).toLong << 42) | (cp(i + 1).toLong << 21) | cp(i + 2).toLong)
      val h = counts.get(key)
      if (h == null) counts.put(key, Array(1)) else h(0) += 1
      i += 1
    }
    val nGrams = (n - 2).toLong
    // Σ round6(c·log2(c)) as exact micros — identical to summing the
    // declarative form's round(term, 6).cast(decimal(18,6)) terms
    var sMicros = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > 1) {
        // StrictMath, not Math: Spark's Log expression evaluates
        // StrictMath.log, and the intrinsified Math.log can differ by
        // 1 ulp — enough to break bitwise parity with the declarative
        // form in the final combine
        val term = c.toDouble * (StrictMath.log(c.toDouble) / StrictMath.log(2.0))
        sMicros += java.math.BigDecimal.valueOf(term)
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      }
    }
    val sDouble = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(sMicros), 6).doubleValue()
    val entropy = StrictMath.log(nGrams.toDouble) / StrictMath.log(2.0) -
      sDouble / nGrams.toDouble
    new GenericInternalRow(Array[Any](nGrams, counts.size().toLong, entropy))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  // The loop body lives in compute(); codegen emits one call through a
  // codegen-reference so the expression stays inside whole-stage
  // codegen (no interpreter fallback) without janino parsing the loop.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("trigramEntropy", this,
      classOf[TrigramEntropy].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = $ref.compute($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): TrigramEntropy =
    copy(child = c)
}

/** All `numHashes` MinHash signature slots of a document in ONE pass —
  * h_k = min over word 3-shingles of md5("k:" ++ shingle), exactly the
  * per-key minimum [[graft.operators.Dedup.minhashSignatures]]
  * aggregates after exploding shingles (min over duplicate shingles
  * equals min over distinct, so no dedup is needed here).
  *
  * Why an expression: the shuffle-free signature path
  * ([[graft.operators.Dedup.minhashSignaturesFused]], required by the
  * streaming chain where no aggregation can precede the stateful
  * operator) previously stacked `numHashes` higher-order
  * `array_min(transform(...))` projections, which evaluate INTERPRETED
  * outside whole-stage codegen — at the production 64-hash width that
  * is 64 interpreted array traversals per row. This computes every
  * slot in one fused loop and compares raw 16-byte digests instead of
  * hex strings (hex encoding is monotone in unsigned byte order, so
  * the min digest IS the min hex), hex-encoding only the final K
  * winners. Codegen emits one call through a codegen-reference (the
  * [[TrigramEntropy]] pattern — inside whole-stage codegen, no janino
  * loop parsing).
  *
  * Documents with fewer than 3 words have no shingles and yield null,
  * matching the batch path's `size(w) >= 3` filter semantics. */
case class MinHashSigs(child: Expression, numHashes: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  require(numHashes >= 1 && numHashes <= 256,
    s"numHashes in [1,256], got $numHashes")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"

  @transient private lazy val prefixes: Array[Array[Byte]] =
    (1 to numHashes).map(k =>
      s"$k:".getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  @transient private lazy val md5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def compute(u: UTF8String): ArrayData = {
    // Replicates split(text, ' ') semantics (empty tokens kept).
    val words = u.toString.split(" ", -1)
    if (words.length < 3) return null
    val mins = new Array[Array[Byte]](numHashes)
    val digest = md5.get()
    var i = 0
    while (i <= words.length - 3) {
      val shingle = (words(i) + " " + words(i + 1) + " " + words(i + 2))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var k = 0
      while (k < numHashes) {
        digest.reset()
        digest.update(prefixes(k))
        digest.update(shingle)
        val d = digest.digest()
        val cur = mins(k)
        if (cur == null || unsignedLess(d, cur)) mins(k) = d
        k += 1
      }
      i += 1
    }
    val hex = new Array[UTF8String](numHashes)
    var k = 0
    while (k < numHashes) {
      hex(k) = UTF8String.fromString(
        org.apache.commons.codec.binary.Hex.encodeHexString(mins(k)))
      k += 1
    }
    new GenericArrayData(hex.asInstanceOf[Array[Any]])
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigs", this,
      classOf[MinHashSigs].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = $ref.compute($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): MinHashSigs =
    copy(child = c)
}

/** One-digest MinHash signatures (the v2 family): per word-3-shingle a
  * SINGLE md5, split big-endian into two 64-bit halves (h1, h2), then
  * the k-th signature is the unsigned min over shingles of the
  * Kirsch–Mitzenmacher double hash `h1 + k·h2` in Java long wraparound
  * (mod 2⁶⁴). Versus [[MinHashSigs]] (one md5 PER hash per shingle,
  * the `md5('k:'||shingle)` oracle family) this is ~numHashes× cheaper
  * in digest work — at the production width 64 that is 64 md5s/shingle
  * down to 1 — at the cost of pairwise- rather than fully-independent
  * hash functions (the standard trade; Kirsch–Mitzenmacher shows the
  * Bloom/LSH error bounds survive it).
  *
  * Own oracle contract, distinct from v1 (ADVICE round 8): DuckDB
  * replays it exactly as
  * `(CAST('0x'||substr(md5(sh),1,16) AS UBIGINT) + k * CAST('0x'||
  * substr(md5(sh),17,16) AS UBIGINT)) % 2⁶⁴` in HUGEINT, min taken in
  * the unsigned domain, reinterpreted to signed BIGINT at the end —
  * hex-literal casts and HUGEINT mod-2⁶⁴ are the two cross-version
  * DuckDB surfaces already proven by the rolling-fingerprint oracle.
  *
  * Emits `array<long>` (signed reinterpretation of the unsigned mins);
  * null for docs with fewer than 3 words, matching the
  * `size(w) >= 3` shingle filter. */
case class MinHashSigsV2(child: Expression, numHashes: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  require(numHashes >= 1 && numHashes <= 256,
    s"numHashes in [1,256], got $numHashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs_v2"

  @transient private lazy val md5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def compute(u: UTF8String): ArrayData = {
    val words = u.toString.split(" ", -1)
    if (words.length < 3) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, -1L) // unsigned max
    val digest = md5.get()
    var i = 0
    while (i <= words.length - 3) {
      val shingle = (words(i) + " " + words(i + 1) + " " + words(i + 2))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      digest.reset()
      val d = digest.digest(shingle)
      // Big-endian halves — the same value DuckDB parses from the hex
      // string's first/last 16 chars.
      val bb = java.nio.ByteBuffer.wrap(d)
      val h1 = bb.getLong(0)
      val h2 = bb.getLong(8)
      var k = 0
      var v = h1
      while (k < numHashes) {
        v += h2 // after k increments: h1 + (k+1)·h2, wraps mod 2^64
        if (java.lang.Long.compareUnsigned(v, mins(k)) < 0) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigsV2", this,
      classOf[MinHashSigsV2].getName)
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = $ref.compute($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): MinHashSigsV2 =
    copy(child = c)
}

/** Shared eval/codegen kernel for the GR raster format — the engine's
  * uncompressed interchange raster for multimodal pipelines (the
  * PNG/JPEG/WAV header codecs in operators/Multimodal parse real
  * container headers; GR carries the DECODED pixels, the way a
  * training pipeline stages rasters between transform stages).
  *
  * Layout (7-byte header + pixels):
  * bytes 1-2 magic `GR`; byte 3 channel count (1-4); bytes 4-5
  * width, bytes 6-7 height (both big-endian u16); then
  * width·height·channels pixel bytes, row-major, channels
  * interleaved. All math is exact integer arithmetic, so every
  * transform is replayable by a SQL oracle byte-for-byte.
  *
  * Both expressions call these static methods from nullSafeEval AND
  * doGenCode — one JIT'd method per row, and the two paths cannot
  * diverge. Malformed bytes (wrong magic, truncated, inconsistent
  * length) return null, never throw — the dead-letter discipline of
  * the header decoders (cf. reference's per-record try/catch at
  * decorator/index.js:206-214). */
object RasterKernel {
  val HeaderLen = 7

  private[graft] def writeHeader(out: Array[Byte], channels: Int, w: Int,
      h: Int): Unit = {
    out(0) = 'G'; out(1) = 'R'; out(2) = channels.toByte
    out(3) = (w >>> 8).toByte; out(4) = w.toByte
    out(5) = (h >>> 8).toByte; out(6) = h.toByte
  }

  /** Assemble a raster from decoded pixels (build-side helper for the
    * synthesizers and tests). */
  def build(channels: Int, w: Int, h: Int, pix: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && channels <= 4 && w >= 1 && h >= 1 &&
      w <= 0xffff && h <= 0xffff, s"bad raster shape ${channels}x${w}x$h")
    require(pix.length == w * h * channels,
      s"pixel buffer ${pix.length} != $w*$h*$channels")
    val out = new Array[Byte](HeaderLen + pix.length)
    writeHeader(out, channels, w, h)
    System.arraycopy(pix, 0, out, HeaderLen, pix.length)
    out
  }

  /** (channels, width, height) of a valid raster; null otherwise. */
  def dims(b: Array[Byte]): Array[Int] = {
    if (b == null || b.length < HeaderLen || b(0) != 'G' || b(1) != 'R')
      return null
    val c = b(2) & 0xff
    val w = ((b(3) & 0xff) << 8) | (b(4) & 0xff)
    val h = ((b(5) & 0xff) << 8) | (b(6) & 0xff)
    // Length check in LONG: w*h*c reaches 65535*65535*4 ≈ 1.7e10, so
    // Int arithmetic wraps mod 2^32 and a crafted header (e.g. c=4,
    // w=65535, h=16385 → wrapped product 196604) could pass with a
    // tiny body, sending the kernels out of bounds. Malformed bytes
    // must return null, never throw (the dead-letter contract).
    if (c < 1 || c > 4 || w < 1 || h < 1 ||
        b.length.toLong != HeaderLen.toLong + w.toLong * h * c) null
    else Array(c, w, h)
  }

  /** Integer box-filter downsample by `f`: output pixel (x2, y2, ch) is
    * the floor-average of the f×f source block at (x2·f, y2·f) —
    * area-average downscaling over full blocks only (a trailing
    * partial row/column of source pixels is dropped, the standard
    * floor-dims convention). Returns a complete GR raster; null for
    * malformed input or when a dimension shrinks below 1. */
  def resize(b: Array[Byte], f: Int): Array[Byte] = {
    val d = dims(b)
    if (d == null) return null
    val c = d(0); val w = d(1); val h = d(2)
    val w2 = w / f; val h2 = h / f
    if (w2 < 1 || h2 < 1) return null
    val out = new Array[Byte](HeaderLen + w2 * h2 * c)
    writeHeader(out, c, w2, h2)
    val area = f * f
    var o = HeaderLen
    var y2 = 0
    while (y2 < h2) {
      var x2 = 0
      while (x2 < w2) {
        var ch = 0
        while (ch < c) {
          var s = 0
          var dy = 0
          while (dy < f) {
            val rowBase = HeaderLen + ((y2 * f + dy) * w + x2 * f) * c + ch
            var dx = 0
            while (dx < f) { s += b(rowBase + dx * c) & 0xff; dx += 1 }
            dy += 1
          }
          out(o) = (s / area).toByte
          o += 1
          ch += 1
        }
        x2 += 1
      }
      y2 += 1
    }
    out
  }

  /** Nearest-neighbor UPSAMPLE by `f`: output pixel (x, y) copies
    * source pixel (x/f, y/f) — the inverse direction of [[resize]]
    * (down: box-filter average; up: index replication), exact byte
    * semantics. Null for malformed input or output dims over the
    * u16 header bound. */
  def upsample(b: Array[Byte], f: Int): Array[Byte] = {
    val d = dims(b)
    if (d == null) return null
    val c = d(0); val w = d(1); val h = d(2)
    val w2 = w * f; val h2 = h * f
    if (w2 > 0xffff || h2 > 0xffff) return null
    val out = new Array[Byte](HeaderLen + w2 * h2 * c)
    writeHeader(out, c, w2, h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val src = HeaderLen + ((y / f) * w + x / f) * c
        val dst = HeaderLen + (y * w2 + x) * c
        var ch = 0
        while (ch < c) { out(dst + ch) = b(src + ch); ch += 1 }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Channel-mean GRAYSCALE: output is a 1-channel raster of the same
    * width/height, each pixel the floor-average of the source pixel's
    * channels — the standard luma-free gray reduction, exact integer
    * semantics. Null for malformed input; a 1-channel input passes
    * through unchanged (already gray). */
  def gray(b: Array[Byte]): Array[Byte] = {
    val d = dims(b)
    if (d == null) return null
    val c = d(0); val w = d(1); val h = d(2)
    val out = new Array[Byte](HeaderLen + w * h)
    writeHeader(out, 1, w, h)
    var i = HeaderLen
    var o = HeaderLen
    while (i < b.length) {
      var s = 0
      var ch = 0
      while (ch < c) { s += b(i + ch) & 0xff; ch += 1 }
      out(o) = (s / c).toByte
      i += c
      o += 1
    }
    out
  }

  /** HORIZONTAL mirror: pixel (x, y) moves to (width-1-x, y), channels
    * ride along — the canonical augmentation transform, a pure index
    * remap (bytes are permuted, never recomputed). Null for malformed
    * input. */
  def flipH(b: Array[Byte]): Array[Byte] = {
    val d = dims(b)
    if (d == null) return null
    val c = d(0); val w = d(1); val h = d(2)
    val out = new Array[Byte](b.length)
    writeHeader(out, c, w, h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val src = HeaderLen + (y * w + (w - 1 - x)) * c
        val dst = HeaderLen + (y * w + x) * c
        var ch = 0
        while (ch < c) { out(dst + ch) = b(src + ch); ch += 1 }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Rectangular CROP: the (cw × ch) window anchored at (x0, y0),
    * channels preserved — region-of-interest extraction. Null for
    * malformed input or a window that does not fit inside the raster
    * (a partial crop would silently change semantics; callers wanting
    * clamping can read dims first). */
  def crop(b: Array[Byte], x0: Int, y0: Int, cw: Int,
      chh: Int): Array[Byte] = {
    val d = dims(b)
    if (d == null) return null
    val c = d(0); val w = d(1); val h = d(2)
    if (x0 < 0 || y0 < 0 || cw < 1 || chh < 1 ||
        x0 + cw > w || y0 + chh > h) return null
    val out = new Array[Byte](HeaderLen + cw * chh * c)
    writeHeader(out, c, cw, chh)
    var y = 0
    while (y < chh) {
      val srcRow = HeaderLen + ((y0 + y) * w + x0) * c
      System.arraycopy(b, srcRow, out, HeaderLen + y * cw * c, cw * c)
      y += 1
    }
    out
  }

  /** Per-channel pixel statistics: [sum, min, max] per channel,
    * channel-major (channel ch's triple at indices 3·ch .. 3·ch+2) —
    * the exact-integer inputs of a dataset card's per-channel
    * mean/range row. Null for malformed input. */
  def channelStats(b: Array[Byte])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = dims(b)
    if (d == null) return null
    val c = d(0)
    val out = new Array[Long](3 * c)
    var ch = 0
    while (ch < c) { out(3 * ch + 1) = 256L; out(3 * ch + 2) = -1L; ch += 1 }
    var i = HeaderLen
    var idx = 0
    while (i < b.length) {
      val k = 3 * (idx % c)
      val v = (b(i) & 0xff).toLong
      out(k) += v
      if (v < out(k + 1)) out(k + 1) = v
      if (v > out(k + 2)) out(k + 2) = v
      i += 1
      idx += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Per-CHANNEL pixel-value histogram: `bins` equal-width buckets of
    * [0, 256) per channel, concatenated channel-major (channel ch's
    * bucket k at index ch·bins + k). Exact integer counts. Null for
    * malformed input. */
  def histogram(b: Array[Byte],
      bins: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = dims(b)
    if (d == null) return null
    val c = d(0)
    val out = new Array[Long](c * bins)
    var i = HeaderLen
    var idx = 0
    while (i < b.length) {
      out((idx % c) * bins + ((b(i) & 0xff) * bins) / 256) += 1
      i += 1
      idx += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Shared eval/codegen kernel for PCM16 WAV payload analysis — the
  * audio sibling of [[RasterKernel]]: a self-contained RIFF chunk walk
  * (word-aligned, unknown ids length-skipped — the same contract as
  * the header decoder in operators/Multimodal, duplicated here so the
  * expression layer stays dependency-free) locates the `fmt ` and
  * `data` chunks, then windowed FULL-frame statistics run in exact
  * integer arithmetic: per window of `winFrames` frames, the energy
  * (Σ sample², each sample a signed 16-bit little-endian value across
  * all channels) and the peak (max |sample|) — the
  * voice-activity/silence-detection features of an audio curation
  * stage, SQL-oracle-replayable bit-for-bit. Malformed/truncated/
  * non-PCM16 bytes → null, never a throw. */
object WavKernel {
  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)).toLong & 0xffffffffL

  /** [energy0, peak0, energy1, peak1, …] over the FULL windows (a
    * trailing partial window is dropped, the floor-dims convention of
    * the raster kernels). */
  def windowStats(b: Array[Byte],
      winFrames: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (b == null || b.length < 12 || b(0) != 'R' || b(1) != 'I' ||
        b(2) != 'F' || b(3) != 'F' || b(8) != 'W' || b(9) != 'A' ||
        b(10) != 'V' || b(11) != 'E') return null
    var i = 12L
    var channels = -1
    var blockAlign = -1
    var dataOff = -1L
    var dataLen = -1L
    while (i + 8 <= b.length && (channels < 0 || dataOff < 0)) {
      val off = i.toInt
      val id = new String(b, off, 4, "US-ASCII")
      val len = le32(b, off + 4)
      if (id == "fmt ") {
        if (i + 8 + 16 > b.length) return null
        if (le16(b, off + 8) != 1 || le16(b, off + 22) != 16) return null
        channels = le16(b, off + 10)
        blockAlign = le16(b, off + 20)
      } else if (id == "data") {
        if (i + 8 + len > b.length) return null
        dataOff = i + 8
        dataLen = len
      }
      i += 8 + len + (len & 1)
    }
    if (channels <= 0 || blockAlign != 2 * channels || dataOff < 0)
      return null
    val frames = dataLen / blockAlign
    val nw = (frames / winFrames).toInt
    val out = new Array[Long](2 * nw)
    val samplesPerWin = winFrames * channels
    var w = 0
    while (w < nw) {
      var e = 0L
      var pk = 0L
      var s = w * samplesPerWin
      val end = s + samplesPerWin
      while (s < end) {
        val o = (dataOff + 2L * s).toInt
        var v = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        if (v >= 0x8000) v -= 0x10000
        e += v.toLong * v
        val a = math.abs(v).toLong
        if (a > pk) pk = a
        s += 1
      }
      out(2 * w) = e
      out(2 * w + 1) = pk
      w += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** PNG codec kernel — shared static implementation for the
  * [[PngEncode]]/[[PngDecode]] expressions (one JIT'd body, so the
  * interpreted and codegen paths cannot diverge). Pure public-spec
  * PNG (RFC 2083 / W3C PNG): 8-byte signature, length-prefixed
  * CRC32-trailed chunks, IHDR geometry, zlib-deflated IDAT scanlines
  * each led by a filter byte (None/Sub/Up/Average/Paeth, predictors
  * over RAW bytes of the current and prior scanline), IEND. Scope:
  * bit depth 8, no interlace, color types 0 (gray), 2 (RGB),
  * 4 (gray+alpha), 6 (RGBA) — mapped 1:1 onto the GR raster channel
  * counts, so the whole [[RasterKernel]] family applies to decoded
  * wire-format images. Decode returns null for ANYTHING malformed
  * (bad signature/CRC/geometry/inflate, 16-bit, interlaced, short
  * stream) — the dead-letter contract; it never throws. */
object PngKernel {
  private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    .map(_.toByte)

  private def colorType(channels: Int): Int = channels match {
    case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6; case _ => -1
  }
  private def channelsOf(colorType: Int): Int = colorType match {
    case 0 => 1; case 4 => 2; case 2 => 3; case 6 => 4; case _ => -1
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Filter one scanline (PNG spec §6): `raw` is the unfiltered row,
    * `prior` the unfiltered previous row (zeros for y = 0), `out`
    * receives the filtered bytes. Exposed private[graft] so the spec
    * can pin each filter's arithmetic against hand-computed values
    * without going through deflate. */
  private[graft] def filterRow(f: Int, raw: Array[Byte],
      prior: Array[Byte], bpp: Int, out: Array[Byte]): Unit = {
    var i = 0
    while (i < raw.length) {
      val left = if (i >= bpp) raw(i - bpp) & 0xff else 0
      val up = prior(i) & 0xff
      val ul = if (i >= bpp) prior(i - bpp) & 0xff else 0
      val pred = f match {
        case 0 => 0
        case 1 => left
        case 2 => up
        case 3 => (left + up) / 2
        case _ => paeth(left, up, ul)
      }
      out(i) = ((raw(i) & 0xff) - pred).toByte
      i += 1
    }
  }

  private def unfilterRow(f: Int, row: Array[Byte],
      prior: Array[Byte], bpp: Int): Boolean = {
    if (f < 0 || f > 4) return false
    var i = 0
    while (i < row.length) {
      val left = if (i >= bpp) row(i - bpp) & 0xff else 0
      val up = prior(i) & 0xff
      val ul = if (i >= bpp) prior(i - bpp) & 0xff else 0
      val pred = f match {
        case 0 => 0
        case 1 => left
        case 2 => up
        case 3 => (left + up) / 2
        case _ => paeth(left, up, ul)
      }
      row(i) = ((row(i) & 0xff) + pred).toByte
      i += 1
    }
    true
  }

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def writeChunk(out: java.io.ByteArrayOutputStream,
      typ: String, data: Array[Byte]): Unit = {
    val body = typ.getBytes("US-ASCII") ++ data
    out.write(be32(data.length), 0, 4)
    out.write(body, 0, body.length)
    val crc = new java.util.zip.CRC32(); crc.update(body)
    out.write(be32(crc.getValue.toInt), 0, 4)
  }

  /** Encode a GR raster as a real PNG (build-side synthesis for the
    * decode gate, and the write half of a PNG round-trip). Each row's
    * filter type cycles deterministically (y mod 5) so every filter
    * class is exercised on any image taller than 4 rows. Returns null
    * for a malformed raster (dims contract). */
  def encode(gr: Array[Byte]): Array[Byte] = {
    val d = RasterKernel.dims(gr)
    if (d == null) return null
    val c = d(0); val w = d(1); val h = d(2)
    val ct = colorType(c)
    val stride = w * c
    val filtered = new Array[Byte](h * (1 + stride))
    val raw = new Array[Byte](stride)
    val prior = new Array[Byte](stride)
    val rowOut = new Array[Byte](stride)
    var y = 0
    while (y < h) {
      System.arraycopy(gr, RasterKernel.HeaderLen + y * stride, raw, 0,
        stride)
      val f = y % 5
      filterRow(f, raw, prior, c, rowOut)
      filtered(y * (1 + stride)) = f.toByte
      System.arraycopy(rowOut, 0, filtered, y * (1 + stride) + 1, stride)
      System.arraycopy(raw, 0, prior, 0, stride)
      y += 1
    }
    val deflater = new java.util.zip.Deflater(6)
    deflater.setInput(filtered); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream(filtered.length / 2 + 64)
    val buf = new Array[Byte](4096)
    while (!deflater.finished())
      comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream(comp.size + 64)
    out.write(Sig, 0, 8)
    writeChunk(out, "IHDR", be32(w) ++ be32(h) ++
      Array[Byte](8, ct.toByte, 0, 0, 0))
    writeChunk(out, "IDAT", comp.toByteArray)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode a PNG into a GR raster; null for anything malformed. */
  def decode(png: Array[Byte]): Array[Byte] = {
    if (png == null || png.length < 8 + 25) return null
    var i = 0
    while (i < 8) { if (png(i) != Sig(i)) return null; i += 1 }
    var w = 0; var h = 0; var c = -1
    var sawIhdr = false
    val idat = new java.io.ByteArrayOutputStream()
    var p = 8
    var done = false
    while (!done) {
      if (p + 12 > png.length) return null
      val len = ((png(p) & 0xff) << 24) | ((png(p + 1) & 0xff) << 16) |
        ((png(p + 2) & 0xff) << 8) | (png(p + 3) & 0xff)
      if (len < 0 || p + 12 + len > png.length) return null
      val typ = new String(png, p + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(png, p + 4, 4 + len)
      val want = ((png(p + 8 + len) & 0xffL) << 24) |
        ((png(p + 9 + len) & 0xffL) << 16) |
        ((png(p + 10 + len) & 0xffL) << 8) | (png(p + 11 + len) & 0xffL)
      if ((crc.getValue & 0xffffffffL) != want) return null
      typ match {
        case "IHDR" =>
          if (sawIhdr || len != 13) return null
          sawIhdr = true
          val q = p + 8
          w = ((png(q) & 0xff) << 24) | ((png(q + 1) & 0xff) << 16) |
            ((png(q + 2) & 0xff) << 8) | (png(q + 3) & 0xff)
          h = ((png(q + 4) & 0xff) << 24) | ((png(q + 5) & 0xff) << 16) |
            ((png(q + 6) & 0xff) << 8) | (png(q + 7) & 0xff)
          val bitDepth = png(q + 8) & 0xff
          c = channelsOf(png(q + 9) & 0xff)
          val interlace = png(q + 12) & 0xff
          // GR geometry bounds double as a decompression-bomb guard.
          if (bitDepth != 8 || c < 1 || interlace != 0 ||
              w < 1 || h < 1 || w > 0xffff || h > 0xffff) return null
        case "IDAT" =>
          if (!sawIhdr) return null
          idat.write(png, p + 8, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks skip (CRC already verified)
      }
      p += 12 + len
    }
    if (!sawIhdr || idat.size == 0) return null
    val stride = w * c
    val expect = h.toLong * (1 + stride)
    if (expect > Int.MaxValue - RasterKernel.HeaderLen) return null
    val stream = new Array[Byte](expect.toInt)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    try {
      var got = 0
      while (got < stream.length && !inflater.finished()) {
        val n = inflater.inflate(stream, got, stream.length - got)
        if (n == 0 && inflater.needsInput()) return null // truncated
        got += n
      }
      if (got != stream.length) return null
      // Trailing data beyond the expected scanlines = malformed.
      if (!inflater.finished() &&
          inflater.inflate(new Array[Byte](1)) != 0) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inflater.end()
    val out = new Array[Byte](RasterKernel.HeaderLen + h * stride)
    RasterKernel.writeHeader(out, c, w, h)
    val prior = new Array[Byte](stride)
    val row = new Array[Byte](stride)
    var y = 0
    while (y < h) {
      val f = stream(y * (1 + stride)) & 0xff
      System.arraycopy(stream, y * (1 + stride) + 1, row, 0, stride)
      if (!unfilterRow(f, row, prior, c)) return null
      System.arraycopy(row, 0, out, RasterKernel.HeaderLen + y * stride,
        stride)
      System.arraycopy(row, 0, prior, 0, stride)
      y += 1
    }
    out
  }
}

/** png_encode(binary GR raster) → binary PNG: [[PngKernel.encode]] as
  * a codegen'd scalar (build-side synthesis / export). */
case class PngEncode(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "png_encode"
  override def nullSafeEval(input: Any): Any =
    PngKernel.encode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.PngKernel.encode($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): PngEncode =
    copy(child = c)
}

/** png_decode(binary PNG) → binary GR raster: [[PngKernel.decode]] as
  * a codegen'd scalar — the wire-format entry into the raster kernel
  * family; malformed bytes null out (dead-letter contract). */
case class PngDecode(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "png_decode"
  override def nullSafeEval(input: Any): Any =
    PngKernel.decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.PngKernel.decode($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): PngDecode =
    copy(child = c)
}

/** Baseline JPEG codec — shared static implementation for the
  * [[JpegEncode]]/[[JpegDecode]] expressions (one JIT'd body, so the
  * interpreted and codegen paths cannot diverge). Pure public-spec
  * baseline sequential DCT JPEG (ITU-T T.81 / ISO 10918-1): SOI, DQT
  * (table in zigzag order), SOF0, DHT (the Annex K.3 standard
  * luminance Huffman tables), SOS, entropy-coded blocks with 0xFF
  * byte stuffing, EOI. Scope (documented, not silent): 8-bit
  * grayscale and 3-component RGB-as-planes (the 'R','G','B'
  * component-id convention — NO color transform, 1×1 sampling, so
  * per-channel math equals the gray path), no chroma subsampling, no
  * restart intervals, no progressive/arithmetic modes — a real
  * curation pipeline's metadata splitter routes those to the
  * dead-letter side exactly as [[PngKernel]] routes 16-bit PNGs.
  * Decode returns null for ANYTHING malformed or out of scope; it
  * never throws.
  *
  * Numerics: FDCT/IDCT are the textbook O(64²) double-precision
  * sums with a [[StrictMath]]-precomputed cosine table (bitwise
  * reproducible everywhere, unlike platform-intrinsic Math.cos),
  * `Math.round` quantization against an all-8s table (embedded via
  * DQT, so any compliant reader decodes the stream). DCT JPEG is
  * LOSSY by design — the exception that makes the driver gate exact:
  * a CONSTANT 8×8 block has only a DC coefficient, 8·(c−128) is
  * divisible by the DC quant 8, and the round trip is the identity
  * per byte. The gated row feeds block-constant rasters through the
  * FULL codec (markers, Huffman, DC prediction chain, stuffing,
  * padding) with a closed-form oracle; the AC path (run-length, ZRL,
  * EOB, EXTEND) is spec-pinned with an error bound on arbitrary
  * rasters, where no exact cross-engine oracle can exist. */
object JpegKernel {
  /** Decode-side canvas cap (wb·hb·nc bytes): 256 MiB — far above any
    * raster this family synthesizes, far below the allocation a
    * crafted tiny header could otherwise force per row (up to ~2 GB
    * at the bare Int.MaxValue bound). Header dims alone never size a
    * buffer past this. */
  private val MaxCanvasBytes: Long = 1L << 28

  /** Zigzag scan: position k in scan order → natural (row-major)
    * coefficient index (T.81 Figure A.6). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** All-8s quant table (zigzag order — uniform, so order is moot):
    * legal (any table ships in DQT), small enough that the error
    * bound stays tight, and exactly invertible on the DC-only path
    * (8·levelShift / 8). */
  private val Quant: Array[Int] = Array.fill(64)(8)

  // Annex K.3.3 standard luminance Huffman tables: BITS = code count
  // per length 1..16, HUFFVAL = symbols in code order.
  private val DcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val AcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** cosTable(u)(x) = cos((2x+1)·u·π/16) via StrictMath — the one
    * transcendental in the codec, precomputed once, bitwise
    * reproducible across JVMs/platforms (Math.cos may use platform
    * intrinsics; StrictMath may not). */
  private val CosT: Array[Array[Double]] = Array.tabulate(8, 8)((u, x) =>
    StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0))
  private val C: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0)

  /** Canonical Huffman code assignment from (BITS, HUFFVAL)
    * (T.81 Annex C): per symbol, (code, length). */
  private def buildEncodeTable(bits: Array[Int], vals: Array[Int])
      : (Array[Int], Array[Int]) = {
    val code = new Array[Int](256); val len = new Array[Int](256)
    var k = 0; var c = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) {
        code(vals(k)) = c; len(vals(k)) = l
        c += 1; k += 1; i += 1
      }
      c <<= 1; l += 1
    }
    (code, len)
  }

  private val (dcCode, dcLen) = buildEncodeTable(DcBits, DcVals)
  private val (acCode, acLen) = buildEncodeTable(AcBits, AcVals)

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var n = 0
    def put(code: Int, length: Int): Unit = {
      var l = length - 1
      while (l >= 0) {
        acc = (acc << 1) | ((code >>> l) & 1); n += 1
        if (n == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        l -= 1
      }
    }
    /** Flush with 1-padding (T.81 F.1.2.3). */
    def finish(): Unit = if (n > 0) put(0xff, 8 - n)
  }

  /** Bit count of |v| — the DC/AC "size" category (0 for v = 0). */
  private def category(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  private def fdctQuantZig(block: Array[Int], out: Array[Int]): Unit = {
    var k = 0
    while (k < 64) {
      val nat = Zigzag(k); val u = nat % 8; val v = nat / 8
      var s = 0.0
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          s += block(y * 8 + x) * CosT(u)(x) * CosT(v)(y)
          x += 1
        }
        y += 1
      }
      val coef = 0.25 * C(u) * C(v) * s
      out(k) = Math.round(coef / Quant(k)).toInt
      k += 1
    }
  }

  private def be16(v: Int): Array[Byte] =
    Array((v >>> 8).toByte, v.toByte)

  private def marker(out: java.io.ByteArrayOutputStream, m: Int,
      body: Array[Byte]): Unit = {
    out.write(0xff); out.write(m)
    out.write(be16(body.length + 2), 0, 2)
    out.write(body, 0, body.length)
  }

  /** Encode a GR raster as a real baseline JPEG — 1 channel
    * (grayscale, component id 1) or 3 channels stored as-planes with
    * the 'R','G','B' component ids (the public RGB-in-JPEG
    * convention: NO color transform, so the per-channel math is
    * identical to the gray path and block-constant exactness holds
    * per channel). 3-component MCUs interleave one 8×8 block per
    * component with a separate DC predictor each (T.81 §A.2.3 at
    * 1×1 sampling). Null for malformed rasters or 2/4 channels. */
  def encode(gr: Array[Byte]): Array[Byte] = {
    val d = RasterKernel.dims(gr)
    if (d == null || (d(0) != 1 && d(0) != 3)) return null
    val nc = d(0); val w = d(1); val h = d(2)
    val wb = (w + 7) / 8 * 8; val hb = (h + 7) / 8 * 8
    val compId: Array[Byte] =
      if (nc == 1) Array[Byte](1) else Array[Byte]('R', 'G', 'B')
    val out = new java.io.ByteArrayOutputStream(1024)
    out.write(0xff); out.write(0xd8) // SOI
    marker(out, 0xdb, Array[Byte](0) ++ Quant.map(_.toByte)) // DQT
    marker(out, 0xc0, Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](nc.toByte) ++
      compId.flatMap(id => Array[Byte](id, 0x11, 0))) // SOF0, 1x1, Tq 0
    marker(out, 0xc4,
      Array[Byte](0x00) ++ DcBits.map(_.toByte) ++ DcVals.map(_.toByte) ++
        Array[Byte](0x10) ++ AcBits.map(_.toByte) ++ AcVals.map(_.toByte))
    marker(out, 0xda, Array[Byte](nc.toByte) ++
      compId.flatMap(id => Array[Byte](id, 0x00)) ++
      Array[Byte](0, 63, 0)) // SOS: all comps share table pair 0
    val bw = new BitWriter(out)
    val block = new Array[Int](64)
    val zig = new Array[Int](64)
    val pred = new Array[Int](nc)
    var by = 0
    while (by < hb) {
      var bx = 0
      while (bx < wb) {
        var ch = 0
        while (ch < nc) { // one MCU = one block per component
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              // Edge-replication padding: partial edge blocks clamp to
              // the last real pixel, keeping constant blocks constant.
              val sy = math.min(by + y, h - 1)
              val sx = math.min(bx + x, w - 1)
              block(y * 8 + x) =
                (gr(RasterKernel.HeaderLen + (sy * w + sx) * nc + ch)
                  & 0xff) - 128
              x += 1
            }
            y += 1
          }
          fdctQuantZig(block, zig)
          val diff = zig(0) - pred(ch); pred(ch) = zig(0)
          val t = category(diff)
          bw.put(dcCode(t), dcLen(t))
          if (t > 0)
            bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
          var k = 1; var run = 0
          while (k < 64) {
            if (zig(k) == 0) run += 1
            else {
              while (run > 15) { bw.put(acCode(0xf0), acLen(0xf0)); run -= 16 }
              val s = category(zig(k))
              val rs = (run << 4) | s
              bw.put(acCode(rs), acLen(rs))
              bw.put(if (zig(k) < 0) zig(k) + (1 << s) - 1 else zig(k), s)
              run = 0
            }
            k += 1
          }
          if (run > 0) bw.put(acCode(0x00), acLen(0x00)) // EOB
          ch += 1
        }
        bx += 8
      }
      by += 8
    }
    bw.finish()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** One parsed Huffman table in T.81 F.2.2.3 decode form. */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17); val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val huffVal = vals
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k; minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
        code <<= 1; l += 1
      }
    }
  }

  /** Entropy-segment bit reader with 0xFF byte unstuffing; `bad`
    * latches on any malformation (marker in data, truncation). */
  private final class BitReader(b: Array[Byte], var p: Int) {
    var bad = false
    private var acc = 0; private var n = 0
    def bit(): Int = {
      if (n == 0) {
        if (p >= b.length) { bad = true; return 0 }
        var v = b(p) & 0xff; p += 1
        if (v == 0xff) {
          if (p >= b.length) { bad = true; return 0 }
          val m = b(p) & 0xff
          if (m == 0x00) p += 1 // stuffed data byte
          else if (m == 0xd9) { bad = true; return 0 } // ran past EOI
          else { bad = true; return 0 } // RST/other markers unsupported
          v = 0xff
        }
        acc = v; n = 8
      }
      n -= 1
      (acc >>> n) & 1
    }
    def receive(t: Int): Int = {
      var v = 0; var i = 0
      while (i < t) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def decode(tbl: HuffTable): Int = {
      var code = bit(); var l = 1
      while (l <= 16 && (tbl.maxCode(l) < 0 || code > tbl.maxCode(l))) {
        code = (code << 1) | bit(); l += 1
      }
      if (l > 16 || bad) { bad = true; return -1 }
      val idx = tbl.valPtr(l) + code - tbl.minCode(l)
      if (idx < 0 || idx >= tbl.huffVal.length) { bad = true; return -1 }
      tbl.huffVal(idx)
    }
  }

  /** EXTEND (T.81 F.2.2.1): map a t-bit magnitude field to its signed
    * coefficient value. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Decode a baseline grayscale JPEG into a GR raster; null for
    * anything malformed or out of the documented scope (progressive,
    * multi-component, restart intervals, 16-bit tables). */
  def decode(jp: Array[Byte]): Array[Byte] = {
    if (jp == null || jp.length < 4 ||
        (jp(0) & 0xff) != 0xff || (jp(1) & 0xff) != 0xd8) return null
    var w = 0; var h = 0; var nc = 0
    var sofIds: Array[Int] = null
    var qt: Array[Int] = null
    var dcT: HuffTable = null; var acT: HuffTable = null
    var p = 2
    var sosAt = -1
    while (sosAt < 0) {
      if (p + 4 > jp.length) return null
      if ((jp(p) & 0xff) != 0xff) return null
      val m = jp(p + 1) & 0xff
      if (m == 0xd8 || m == 0xd9 || (m >= 0xd0 && m <= 0xd7)) return null
      val len = ((jp(p + 2) & 0xff) << 8) | (jp(p + 3) & 0xff)
      if (len < 2 || p + 2 + len > jp.length) return null
      val q = p + 4; val end = p + 2 + len
      m match {
        case 0xdb => // DQT: one or more tables per segment
          var i = q
          while (i < end) {
            val pqtq = jp(i) & 0xff
            if ((pqtq >> 4) != 0 || i + 65 > end) return null // 8-bit only
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) { t(k) = jp(i + 1 + k) & 0xff; k += 1 }
            if ((pqtq & 0x0f) == 0) qt = t
            i += 65
          }
        case 0xc0 => // SOF0 baseline
          if (len < 8) return null
          h = ((jp(q + 1) & 0xff) << 8) | (jp(q + 2) & 0xff)
          w = ((jp(q + 3) & 0xff) << 8) | (jp(q + 4) & 0xff)
          nc = jp(q + 5) & 0xff
          if ((jp(q) & 0xff) != 8 || (nc != 1 && nc != 3) ||
              w < 1 || h < 1 || len < 8 + 3 * nc) return null
          // 1×1 sampling on EVERY component (no chroma subsampling —
          // out of scope, dead-letter like progressive), quant slot 0
          // only (the single table this decoder loads — a component on
          // slot 1 would silently decode with the wrong table), and
          // for 3 components the 'R','G','B' id convention (anything
          // else — e.g. YCbCr's 1,2,3 — would need the color transform
          // this codec deliberately does not do).
          sofIds = new Array[Int](nc)
          var ci = 0
          while (ci < nc) {
            sofIds(ci) = jp(q + 6 + 3 * ci) & 0xff
            if ((jp(q + 7 + 3 * ci) & 0xff) != 0x11 ||
                (jp(q + 8 + 3 * ci) & 0xff) != 0) return null
            ci += 1
          }
          if (nc == 3 && (sofIds(0) != 'R' || sofIds(1) != 'G' ||
              sofIds(2) != 'B')) return null
        case 0xc4 => // DHT: one or more tables per segment
          var i = q
          while (i < end) {
            if (i + 17 > end) return null
            val tcth = jp(i) & 0xff
            val bits = new Array[Int](16)
            var tot = 0
            var k = 0
            while (k < 16) { bits(k) = jp(i + 1 + k) & 0xff; tot += bits(k); k += 1 }
            if (i + 17 + tot > end || tot > 256) return null
            val vals = new Array[Int](tot)
            k = 0
            while (k < tot) { vals(k) = jp(i + 17 + k) & 0xff; k += 1 }
            val tbl = new HuffTable(bits, vals)
            if (tcth == 0x00) dcT = tbl
            else if (tcth == 0x10) acT = tbl
            i += 17 + tot
          }
        case 0xda => // SOS: validate the scan header, then entropy
          // The scan must be the single interleaved baseline scan this
          // decoder implements: Ns == nc with components in SOF order
          // (the MCU interleave order), both Huffman selectors on
          // table pair 0 (the only pair loaded — a chroma-slot-1
          // stream would silently decode with the luma tables), and
          // the sequential-DCT spectral window (Ss, Se, Ah, Al) =
          // (0, 63, 0, 0). Anything else dead-letters instead of
          // producing silently wrong pixels.
          if (sofIds == null) return null // SOS before SOF
          val ns = jp(q) & 0xff
          if (ns != nc || len != 6 + 2 * ns) return null
          var sj = 0
          while (sj < ns) {
            if ((jp(q + 1 + 2 * sj) & 0xff) != sofIds(sj) ||
                (jp(q + 2 + 2 * sj) & 0xff) != 0) return null
            sj += 1
          }
          if ((jp(q + 1 + 2 * ns) & 0xff) != 0 ||
              (jp(q + 2 + 2 * ns) & 0xff) != 63 ||
              (jp(q + 3 + 2 * ns) & 0xff) != 0) return null
          sosAt = end
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
            0xcb | 0xcd | 0xce | 0xcf => return null // non-baseline SOF
        case 0xdd => return null // DRI unsupported (scope)
        case _ => () // APPn / COM skip
      }
      p = end
    }
    if (w == 0 || qt == null || dcT == null || acT == null) return null
    val wb = (w + 7) / 8 * 8; val hb = (h + 7) / 8 * 8
    // Allocation guards BEFORE touching the canvas: header dims alone
    // must not size the buffer. (a) Hard cap at the raster family's
    // realistic bound — a crafted 65535×65535×3 header would otherwise
    // demand ~2 GB per row and OOM an executor, an error the
    // never-throws dead-letter contract cannot catch. (b) The entropy
    // segment must be non-trivially sized for the block count: every
    // 8×8 block costs at least 2 bits (a 1-bit DC code + a 1-bit EOB)
    // under ANY Huffman tables, so a tiny payload claiming huge dims
    // dead-letters here instead of allocating and then failing
    // mid-scan.
    val canvasBytes = wb.toLong * hb * nc
    if (canvasBytes > MaxCanvasBytes) return null
    val nBlocks = (wb.toLong / 8) * (hb / 8) * nc
    if ((jp.length - sosAt).toLong * 8 < nBlocks * 2) return null
    val canvas = new Array[Byte](wb * hb * nc)
    val br = new BitReader(jp, sosAt)
    val coef = new Array[Int](64)
    val pred = new Array[Int](nc)
    var by = 0
    while (by < hb) {
      var bx = 0
      while (bx < wb) {
        var ch = 0
        while (ch < nc) { // interleaved MCU: one block per component
          java.util.Arrays.fill(coef, 0)
          val t = br.decode(dcT)
          if (br.bad || t < 0 || t > 15) return null
          pred(ch) += extend(br.receive(t), t)
          coef(0) = pred(ch) * qt(0)
          var k = 1
          var eob = false
          while (k < 64 && !eob) {
            val rs = br.decode(acT)
            if (br.bad || rs < 0) return null
            val r = rs >> 4; val s = rs & 0x0f
            if (s == 0) {
              if (r == 15) k += 16 // ZRL
              else eob = true      // EOB
            } else {
              k += r
              if (k > 63) return null
              coef(Zigzag(k)) = extend(br.receive(s), s) * qt(k)
              k += 1
            }
          }
          if (br.bad) return null
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              var s2 = 0.0
              var v = 0
              while (v < 8) {
                var u = 0
                while (u < 8) {
                  val cf = coef(v * 8 + u)
                  if (cf != 0)
                    s2 += C(u) * C(v) * cf * CosT(u)(x) * CosT(v)(y)
                  u += 1
                }
                v += 1
              }
              val pix = Math.round(0.25 * s2).toInt + 128
              canvas(((by + y) * wb + bx + x) * nc + ch) =
                (if (pix < 0) 0 else if (pix > 255) 255 else pix).toByte
              x += 1
            }
            y += 1
          }
          ch += 1
        }
        bx += 8
      }
      by += 8
    }
    val out = new Array[Byte](RasterKernel.HeaderLen + w * h * nc)
    RasterKernel.writeHeader(out, nc, w, h)
    var y = 0
    while (y < h) {
      System.arraycopy(canvas, y * wb * nc, out,
        RasterKernel.HeaderLen + y * w * nc, w * nc)
      y += 1
    }
    out
  }
}

/** jpeg_encode(binary GRAYSCALE GR raster) → binary baseline JPEG:
  * [[JpegKernel.encode]] as a codegen'd scalar. */
case class JpegEncode(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_encode"
  override def nullSafeEval(input: Any): Any =
    JpegKernel.encode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.JpegKernel.encode($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): JpegEncode =
    copy(child = c)
}

/** jpeg_decode(binary baseline JPEG) → binary GR raster:
  * [[JpegKernel.decode]] as a codegen'd scalar — the second
  * wire-format entry into the raster kernel family; malformed or
  * out-of-scope bytes null out (dead-letter contract). */
case class JpegDecode(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "jpeg_decode"
  override def nullSafeEval(input: Any): Any =
    JpegKernel.decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.JpegKernel.decode($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): JpegDecode =
    copy(child = c)
}

/** wav_window_stats(binary, winFrames) → array<bigint>:
  * [[WavKernel.windowStats]] as a codegen'd scalar. */
case class WavWindowStats(child: Expression, winFrames: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(winFrames >= 1, s"winFrames must be >= 1, got $winFrames")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // malformed bytes → null
  override def prettyName: String = "wav_window_stats"
  override def nullSafeEval(input: Any): Any =
    WavKernel.windowStats(input.asInstanceOf[Array[Byte]], winFrames)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.WavKernel.windowStats($in, $winFrames);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): WavWindowStats =
    copy(child = c)
}

/** raster_resize(binary, factor) → binary: [[RasterKernel.resize]] as a
  * codegen'd scalar — the decode/transform/re-encode stage of an image
  * pipeline as one tight fused loop per row, no shuffle, no UDF. */
case class RasterResize(child: Expression, factor: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(factor >= 1, s"factor must be >= 1, got $factor")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // malformed bytes → null
  override def prettyName: String = "raster_resize"

  override def nullSafeEval(input: Any): Any =
    RasterKernel.resize(input.asInstanceOf[Array[Byte]], factor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.RasterKernel.resize($in, $factor);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): RasterResize =
    copy(child = c)
}

/** raster_upsample(binary, factor) → binary: nearest-neighbor
  * upscale ([[RasterKernel.upsample]]) as a codegen'd scalar. */
case class RasterUpsample(child: Expression, factor: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(factor >= 1, s"factor must be >= 1, got $factor")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // malformed bytes → null
  override def prettyName: String = "raster_upsample"
  override def nullSafeEval(input: Any): Any =
    RasterKernel.upsample(input.asInstanceOf[Array[Byte]], factor)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.RasterKernel.upsample($in, $factor);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): RasterUpsample =
    copy(child = c)
}

/** raster_gray(binary) → binary: channel-mean grayscale
  * ([[RasterKernel.gray]]) as a codegen'd scalar. */
case class RasterGray(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // malformed bytes → null
  override def prettyName: String = "raster_gray"
  override def nullSafeEval(input: Any): Any =
    RasterKernel.gray(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.RasterKernel.gray($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): RasterGray =
    copy(child = c)
}

/** raster_flip_h(binary) → binary: horizontal mirror
  * ([[RasterKernel.flipH]]) as a codegen'd scalar. */
case class RasterFlipH(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // malformed bytes → null
  override def prettyName: String = "raster_flip_h"
  override def nullSafeEval(input: Any): Any =
    RasterKernel.flipH(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.RasterKernel.flipH($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): RasterFlipH =
    copy(child = c)
}

/** raster_crop(binary, x0, y0, w, h) → binary: region-of-interest
  * extraction ([[RasterKernel.crop]]); null for a window that does
  * not fit. */
case class RasterCrop(child: Expression, x0: Int, y0: Int, w: Int,
    h: Int) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(x0 >= 0 && y0 >= 0 && w >= 1 && h >= 1,
    s"bad crop window ${w}x$h@($x0,$y0)")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // malformed / out-of-bounds → null
  override def prettyName: String = "raster_crop"
  override def nullSafeEval(input: Any): Any =
    RasterKernel.crop(input.asInstanceOf[Array[Byte]], x0, y0, w, h)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.RasterKernel.crop($in, $x0, $y0, $w, $h);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): RasterCrop =
    copy(child = c)
}

/** raster_channel_stats(binary) → array<bigint>: per-channel
  * [sum, min, max] triples, channel-major
  * ([[RasterKernel.channelStats]]). */
case class RasterChannelStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // malformed bytes → null
  override def prettyName: String = "raster_channel_stats"
  override def nullSafeEval(input: Any): Any =
    RasterKernel.channelStats(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.RasterKernel.channelStats($in);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): RasterChannelStats =
    copy(child = c)
}

/** raster_histogram(binary, bins) → array<bigint>: per-channel
  * histogram of [[RasterKernel.histogram]] — the feature-extraction
  * stage emitting the (doc, vector) shape that composes with the
  * Similarity operators. */
case class RasterHistogram(child: Expression, bins: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  require(bins >= 1 && bins <= 256, s"bins must be in [1, 256], got $bins")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // malformed bytes → null
  override def prettyName: String = "raster_histogram"

  override def nullSafeEval(input: Any): Any =
    RasterKernel.histogram(input.asInstanceOf[Array[Byte]], bins)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.functions.RasterKernel.histogram($in, $bins);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): RasterHistogram =
    copy(child = c)
}

/** Column-level API for the custom expressions. */
object functions {
  // Input typing is enforced here via casts (AbstractDataType /
  // ExpectsInputTypes are sql-private in Spark 4).
  private def ex(c: Column) = GraftColumnBridge.expression(c)
  def gunzip(c: Column): Column =
    GraftColumnBridge.column(Gunzip(ex(c.cast("binary"))))
  /** gunzip that yields null instead of throwing on a corrupt payload —
    * the building block for per-record dead-letter routes (the batch
    * must survive one bad record; cf. reference's try/catch at
    * ingestor/index.js:104-108). */
  def try_gunzip(c: Column): Column =
    GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.TryEval(
        Gunzip(ex(c.cast("binary")))))
  def gzip(c: Column): Column =
    GraftColumnBridge.column(Gzip(ex(c.cast("binary"))))
  def rolling_fingerprint(c: Column, window: Int): Column =
    GraftColumnBridge.column(RollingFingerprint(ex(c.cast("string")), window))
  def cdc_cuts(c: Column, window: Int, divisor: Int): Column =
    GraftColumnBridge.column(
      CdcCutPositions(ex(c.cast("string")), window, divisor))
  def winnow_fingerprints(c: Column, window: Int, winnowW: Int): Column =
    GraftColumnBridge.column(
      WinnowFingerprints(ex(c.cast("string")), window, winnowW))
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      ex(a.cast("array<double>")), ex(b.cast("array<double>"))))
  def l2_sq(a: Column, b: Column): Column =
    GraftColumnBridge.column(L2Sq(
      ex(a.cast("array<double>")), ex(b.cast("array<double>"))))
  def zorder2(a: Column, b: Column, bits: Int = 16): Column =
    GraftColumnBridge.column(ZOrder2(
      ex(a.cast("long")), ex(b.cast("long")), bits))
  def bloom_might_contain(c: Column, filterBytes: Array[Byte]): Column =
    GraftColumnBridge.column(BloomMightContain(ex(c.cast("long")), filterBytes))
  def trigram_entropy(c: Column): Column =
    GraftColumnBridge.column(TrigramEntropy(ex(c.cast("string"))))
  def minhash_sigs(c: Column, numHashes: Int): Column =
    GraftColumnBridge.column(MinHashSigs(ex(c.cast("string")), numHashes))
  def minhash_sigs_v2(c: Column, numHashes: Int): Column =
    GraftColumnBridge.column(MinHashSigsV2(ex(c.cast("string")), numHashes))
  def raster_resize(c: Column, factor: Int): Column =
    GraftColumnBridge.column(RasterResize(ex(c.cast("binary")), factor))
  def raster_histogram(c: Column, bins: Int): Column =
    GraftColumnBridge.column(RasterHistogram(ex(c.cast("binary")), bins))
  def png_encode(c: Column): Column =
    GraftColumnBridge.column(PngEncode(ex(c)))
  def png_decode(c: Column): Column =
    GraftColumnBridge.column(PngDecode(ex(c)))
  def jpeg_encode(c: Column): Column =
    GraftColumnBridge.column(JpegEncode(ex(c)))
  def jpeg_decode(c: Column): Column =
    GraftColumnBridge.column(JpegDecode(ex(c)))
  def raster_gray(c: Column): Column =
    GraftColumnBridge.column(RasterGray(ex(c.cast("binary"))))
  def raster_flip_h(c: Column): Column =
    GraftColumnBridge.column(RasterFlipH(ex(c.cast("binary"))))
  def raster_crop(c: Column, x0: Int, y0: Int, w: Int, h: Int): Column =
    GraftColumnBridge.column(RasterCrop(ex(c.cast("binary")), x0, y0, w, h))
  def raster_channel_stats(c: Column): Column =
    GraftColumnBridge.column(RasterChannelStats(ex(c.cast("binary"))))
  def raster_upsample(c: Column, factor: Int): Column =
    GraftColumnBridge.column(RasterUpsample(ex(c.cast("binary")), factor))
  def wav_window_stats(c: Column, winFrames: Int): Column =
    GraftColumnBridge.column(WavWindowStats(ex(c.cast("binary")), winFrames))
}
