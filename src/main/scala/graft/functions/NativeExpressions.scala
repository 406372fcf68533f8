package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumns, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo,
  GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with `doGenCode`) for the engine's
  * scalar kernels: shingles, MinHash, SimHash, hyperplane signatures,
  * dot products, integer squared distances, text normalization, the
  * rolling hash, the population scan, the Bloom probe, and the
  * fixed-point quantization and codebook kernels of k-means and IVF-PQ
  * (nearest centroids, residuals, PQ encoding, ADC tables and scores,
  * whose codebooks are plan constants: see [[Codebook]]). Each is a
  * pure single-pass Java loop inside whole-stage codegen, replacing
  * higher-order-function trees that are interpreted (CodegenFallback)
  * and re-scan the array per bit (SimHash: 60×) or unroll hundreds of
  * literal multiply-adds (hyperplane signature). Their values equal the
  * portable md5-based forms the DuckDB oracles mirror (the specs keep
  * those forms as references), so the oracles match bit for bit.
  *
  * The operators bind the expressions directly through [[Native]], in
  * every session. [[GraftFunctionExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`) only registers the
  * same expressions by name (`graft_simhash60(tokens)`, …) for SQL text;
  * the codebook kernels have no SQL form.
  */
object NativeKernels {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val shPrefix = "sh:".getBytes("UTF-8")

  /** 60-bit simhash over a token array: bit b is set iff Σ_tokens
    * (2·bit_b(hash(token)) − 1) > 0, the per-token hash being the first
    * 15 hex chars of md5("sh:"+tok). */
  def simhash60(tokens: ArrayData): Long = {
    val votes = new Array[Int](60)
    val md = md5Local.get()
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        md.reset()
        md.update(shPrefix)
        md.update(tokens.getUTF8String(i).getBytes)
        val dig = md.digest()
        // first 15 hex chars = bytes 0..6 + high nibble of byte 7
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
        h = (h << 4) | ((dig(7) & 0xf0L) >> 4)
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** Deterministic hyperplane coefficients, cached per bit count —
    * exactly Similarity.planeCoef. */
  private val coefCache = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def coefs(bits: Int, dims: Int): Array[Array[Double]] =
    coefCache.computeIfAbsent((bits, dims), { _ =>
      Array.tabulate(bits, dims)((b, d) => graft.operators.Similarity.planeCoef(b, d))
    })

  /** Sign signature of a float vector under the deterministic
    * hyperplanes: bit b is set iff Σ_d vec(d)·planeCoef(b, d) ≥ 0,
    * summed left to right. */
  def hyperplaneSig(vec: ArrayData, bits: Int): Long = {
    val n = vec.numElements()
    val cs = coefs(bits, n)
    var sig = 0L
    var b = 0
    while (b < bits) {
      val row = cs(b)
      var proj = 0.0
      var d = 0
      while (d < n) { proj += vec.getFloat(d).toDouble * row(d); d += 1 }
      if (proj >= 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def toHex(dig: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((dig(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(dig(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Word n-gram shingles: overlapping windows of `n` tokens joined by
    * one space (tokens are expected lowercased/non-empty; docs shorter
    * than `n` tokens → empty array). */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) { toks(i) = tokens.getUTF8String(i); i += 1 }
    val out = new Array[Any](cnt - n + 1)
    val space = UTF8String.fromString(" ")
    i = 0
    while (i <= cnt - n) {
      var s = toks(i)
      var j = 1
      while (j < n) { s = UTF8String.concat(s, space, toks(i + j)); j += 1 }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature over pre-computed shingles: element k = min
    * over shingles of hex(md5("k:" + shingle)); "zz_empty" sentinel
    * for shingle-less docs (hex-string lexicographic min ==
    * unsigned-byte digest min). */
  def minhashSig(shingleArr: ArrayData, numHashes: Int): ArrayData = {
    val n = shingleArr.numElements()
    if (n == 0) {
      val z = UTF8String.fromString("zz_empty")
      return new GenericArrayData(Array.tabulate[Any](numHashes)(_ => z))
    }
    val md = md5Local.get()
    val mins = Array.fill[Array[Byte]](numHashes)(null)
    val shingleBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { shingleBytes(i) = shingleArr.getUTF8String(i).getBytes; i += 1 }
    var k = 0
    while (k < numHashes) {
      val prefix = (k.toString + ":").getBytes("UTF-8")
      var best: Array[Byte] = null
      i = 0
      while (i < n) {
        md.reset()
        md.update(prefix)
        md.update(shingleBytes(i))
        val dig = md.digest()
        if (best == null || unsignedLess(dig, best)) best = dig
        i += 1
      }
      mins(k) = best
      k += 1
    }
    new GenericArrayData(mins.map(d => toHex(d): Any))
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** Float/double-array dot product in double precision, left to right
    * — the fold of `aggregate(zip_with(a, b, x·y), 0.0, +)` (null on
    * length mismatch, as zip_with's null padding poisons that sum).
    * The element widths come from the expression's child types, so a
    * float column can be dotted against a literal double array (IVF
    * centroids) with the exact same widened-double products. */
  def dotGen(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Integer squared L2 distance over two bigint arrays — the k-means
    * fixed-point assignment kernel. Integer arithmetic: no fold-order
    * concerns at all. A Long overflow raises (ArithmeticException), as
    * the ANSI `zip_with`/`aggregate` form and DuckDB do. Null on length
    * mismatch, like zip_with's null padding. */
  def sqDistI64(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = Math.subtractExact(a.getLong(i), b.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** floor(x·scale + 0.5) as a Long per element of a numeric array, a
    * null element staying null: the fixed-point quantization of the
    * k-means and IVF-PQ operators (Spark's double `floor` casts to long,
    * so NaN reads 0 and ±∞ the Long bounds, without raising). Elements
    * read as `x.cast("double")` reads them. */
  def fixedPoint(v: ArrayData, elementType: DataType, scale: Double): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var nulls = false
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) nulls = true
      else {
        val x = elementType match {
          case FloatType => v.getFloat(i).toDouble
          case DoubleType => v.getDouble(i)
          case LongType => v.getLong(i).toDouble
          case _ => v.get(i, elementType) match {
            case d: Decimal => d.toDouble
            case x: Number => x.doubleValue
          }
        }
        out(i) = math.floor(x * scale + 0.5).toLong
      }
      i += 1
    }
    val res = UnsafeArrayData.fromPrimitiveArray(out)
    if (nulls) { i = 0; while (i < n) { if (v.isNullAt(i)) res.setNullAt(i); i += 1 } }
    res
  }

  /** A fixed-point vector as a long[] (a null element reads 0, as
    * `ArrayData.getLong` reads it in [[sqDistI64]]); null for a null
    * vector. */
  private def longsOf(v: ArrayData): Array[Long] =
    if (v == null) null
    else {
      val n = v.numElements()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { if (!v.isNullAt(i)) out(i) = v.getLong(i); i += 1 }
      out
    }

  /** Length of `slice(x, off + 1, len)`; -1 (matching no codeword) for
    * a null vector. */
  private def sliceLen(x: Array[Long], off: Int, len: Int): Int =
    if (x == null) -1 else if (off >= x.length) 0 else math.min(len, x.length - off)

  /** [[sqDistI64]] of x[off, off + len) and codeword `c`, or -1 where
    * [[sqDistI64]] is null (a length mismatch): -1 orders before every
    * distance, as `sort_array` puts a null distance first. */
  private def sqDistAt(x: Array[Long], off: Int, len: Int, c: Array[Long]): Long =
    if (len != c.length) -1L
    else {
      var acc = 0L
      var i = 0
      while (i < len) {
        val d = Math.subtractExact(x(off + i), c(i))
        acc = Math.addExact(acc, Math.multiplyExact(d, d))
        i += 1
      }
      acc
    }

  /** Position of the codeword nearest to x[off, off + len) in (distance,
    * position) order, a null distance first. */
  private def nearestAt(x: Array[Long], off: Int, len: Int, book: Codebook): Int = {
    var best = 0
    var bestD = sqDistAt(x, off, len, book.vecs(0))
    var p = 1
    while (p < book.vecs.length) {
      val d = sqDistAt(x, off, len, book.vecs(p))
      if (d < bestD) { best = p; bestD = d }
      p += 1
    }
    best
  }

  /** The `k` codewords nearest to `v` as (d, c) structs in ascending
    * (distance, id) order, a null distance (a null vector or one of
    * another length) first: exactly `slice(sort_array(array(struct(
    * sqDistI64(v, cw), id), …)), 1, k)`. A Long overflow raises. */
  def nearestK(v: ArrayData, book: Codebook, k: Int): ArrayData = {
    val x = longsOf(v)
    val len = sliceLen(x, 0, Int.MaxValue)
    val n = book.vecs.length
    val ds = new Array[Long](n)
    var p = 0
    while (p < n) { ds(p) = sqDistAt(x, 0, len, book.vecs(p)); p += 1 }
    val take = math.min(k, n)
    val out = new Array[Any](take)
    val used = new Array[Boolean](n)
    var j = 0
    while (j < take) {
      var best = -1
      p = 0
      while (p < n) {
        if (!used(p) && (best < 0 || ds(p) < ds(best))) best = p
        p += 1
      }
      used(best) = true
      out(j) = new GenericInternalRow(Array[Any](
        if (ds(best) < 0) null else ds(best), book.ids(best)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `v` minus the centroid at position `cell` of the id-sorted
    * codebook, element-wise with a Long overflow raising, as
    * `zip_with(v, element_at(cents, cell + 1), x - y)`: a null element
    * stays null and a shorter side pads with nulls. A cell outside the
    * codebook raises. */
  def residual(v: ArrayData, cell: Long, book: Codebook): ArrayData = {
    if (cell < 0 || cell >= book.vecs.length)
      throw new ArrayIndexOutOfBoundsException(
        s"residual: cell $cell outside a ${book.vecs.length}-centroid codebook")
    val c = book.vecs(cell.toInt)
    val n = v.numElements()
    val len = math.max(n, c.length)
    val out = new Array[Long](len)
    var nulls = n != c.length
    var i = 0
    while (i < math.min(n, c.length)) {
      if (v.isNullAt(i)) nulls = true
      else out(i) = Math.subtractExact(v.getLong(i), c(i))
      i += 1
    }
    val res = UnsafeArrayData.fromPrimitiveArray(out)
    if (nulls) {
      i = 0
      while (i < len) {
        if (i >= n || i >= c.length || v.isNullAt(i)) res.setNullAt(i)
        i += 1
      }
    }
    res
  }

  /** Product-quantization codes of `v`: sub-space i (elements [i·subDim,
    * (i+1)·subDim), cut as `slice` cuts) takes the id of its nearest
    * codeword in `books(i)`, ties to the lowest id, a null distance first
    * — the k-means assignment rule per sub-space. */
  def pqEncode(v: ArrayData, books: Array[Codebook], subDim: Int): ArrayData = {
    val x = longsOf(v)
    val out = new Array[Long](books.length)
    var b = 0
    while (b < books.length) {
      val off = b * subDim
      out(b) = books(b).ids(nearestAt(x, off, sliceLen(x, off, subDim), books(b)))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The asymmetric-distance lookup table of `v`: lut[i][c] is the
    * metric between sub-vector i of `v` and codeword c of `books(i)`, in
    * id order — the exact squared distance ([[sqDistI64]]'s rules), or
    * with `dot` the exact integer dot product, which is null where a
    * sub-vector element is null or the lengths differ. A Long overflow
    * raises in both. */
  def adcLut(v: ArrayData, books: Array[Codebook], subDim: Int, dot: Boolean): ArrayData = {
    val x = longsOf(v)
    val rows = new Array[Any](books.length)
    var b = 0
    while (b < books.length) {
      val off = b * subDim
      val len = sliceLen(x, off, subDim)
      val vecs = books(b).vecs
      val row = new Array[Long](vecs.length)
      var nulls: Array[Boolean] = null
      var p = 0
      while (p < vecs.length) {
        val isNull =
          if (dot) {
            val d = dotAt(v, off, len, vecs(p))
            if (d != null) row(p) = d
            d == null
          } else {
            row(p) = sqDistAt(x, off, len, vecs(p))
            row(p) < 0
          }
        if (isNull) {
          if (nulls == null) nulls = new Array[Boolean](vecs.length)
          nulls(p) = true
        }
        p += 1
      }
      val arr = UnsafeArrayData.fromPrimitiveArray(row)
      if (nulls != null) { p = 0; while (p < vecs.length) { if (nulls(p)) arr.setNullAt(p); p += 1 } }
      rows(b) = arr
      b += 1
    }
    new GenericArrayData(rows)
  }

  /** `aggregate(zip_with(v[off, off + len), c, x·y), 0, +)` under ANSI:
    * every product of two present elements is computed (and raises on
    * overflow); the sum raises on overflow until its first null term,
    * and is null from there on. */
  private def dotAt(v: ArrayData, off: Int, len: Int, c: Array[Long]): java.lang.Long =
    if (len < 0) null
    else {
      var acc = 0L
      var isNull = false
      var i = 0
      while (i < math.min(len, c.length)) {
        if (v.isNullAt(off + i)) isNull = true
        else {
          val t = Math.multiplyExact(v.getLong(off + i), c(i))
          if (!isNull) acc = Math.addExact(acc, t)
        }
        i += 1
      }
      // the padded tail holds the last (null) terms
      if (isNull || len != c.length) null else java.lang.Long.valueOf(acc)
    }

  /** The ADC score of one encoded vector: Σᵢ lut[i][codes[i]], as
    * `aggregate(zip_with(codes, lut, (c, l) => element_at(l, c + 1)),
    * 0, +)` under ANSI: null when either side is null, a code or a table
    * is missing (the shorter side pads with nulls) or an entry is null;
    * a code outside its table raises (a negative code counts from the
    * end, as `element_at` does), and the sum raises on overflow until its
    * first null term. */
  def adcScore(codes: ArrayData, lut: ArrayData): java.lang.Long = {
    val nc = codes.numElements()
    val nl = lut.numElements()
    var isNull = false
    var acc = 0L
    var i = 0
    while (i < math.min(nc, nl)) {
      if (codes.isNullAt(i) || lut.isNullAt(i)) isNull = true
      else {
        val table = lut.getArray(i)
        val size = table.numElements()
        val idx = Math.toIntExact(Math.addExact(codes.getLong(i), 1L))
        if (idx == 0 || math.abs(idx.toLong) > size)
          throw new ArrayIndexOutOfBoundsException(
            s"adcScore: code ${codes.getLong(i)} outside a $size-entry table")
        val at = if (idx > 0) idx - 1 else size + idx
        if (table.isNullAt(at)) isNull = true
        else if (!isNull) acc = Math.addExact(acc, table.getLong(at))
      }
      i += 1
    }
    if (isNull || nc != nl) null else java.lang.Long.valueOf(acc)
  }

  private val digitRun = java.util.regex.Pattern.compile("[\\d,]+")

  /** F5 population token (`scrape_cia.py:256-280`): first `[\d,]+`
    * token whose length != 4, commas stripped, as double; null when
    * absent. */
  def popValue(s: UTF8String): java.lang.Double = {
    val m = digitRun.matcher(s.toString)
    while (m.find()) {
      val tok = m.group()
      if (tok.length != 4)
        return java.lang.Double.valueOf(tok.replace(",", "").toDouble)
    }
    null
  }

  /** F5 year token: first 4-length token strictly after the population
    * token; null when no population token or no such year. */
  def popYear(s: UTF8String): UTF8String = {
    val m = digitRun.matcher(s.toString)
    var seenPop = false
    while (m.find()) {
      val tok = m.group()
      if (!seenPop) {
        if (tok.length != 4) seenPop = true
      } else if (tok.length == 4) {
        return UTF8String.fromString(tok)
      }
    }
    null
  }

  /** Rabin–Karp rolling hash over the characters of an already
    * normalized string: (acc*31 + codepoint) mod 1e9+7, left to right
    * over unicode codepoints. */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  private val marksPattern = java.util.regex.Pattern.compile("\\p{Mn}+")
  private val cntrlPattern = java.util.regex.Pattern.compile("\\p{Cntrl}")
  private val wsRunPattern = java.util.regex.Pattern.compile("\\s+")

  /** Canonical text normalization for dedup/tokenization pipelines:
    * Unicode NFC canonicalization, accent stripping (NFD → drop
    * nonspacing marks → NFC, the utf8proc/`strip_accents` semantics:
    * café→cafe, ü→u), ROOT-locale lowercase, control chars to spaces,
    * whitespace runs collapsed, trimmed. ASCII input passes through
    * the Unicode steps unchanged, which is what the DuckDB oracle
    * (`lower(strip_accents(nfc_normalize(...)))`) relies on. */
  def normalizeText(s: UTF8String): UTF8String = {
    val nfd = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFD)
    val noMarks = marksPattern.matcher(nfd).replaceAll("")
    val nfc = java.text.Normalizer.normalize(noMarks,
      java.text.Normalizer.Form.NFC)
    val lower = nfc.toLowerCase(java.util.Locale.ROOT)
    val noCntrl = cntrlPattern.matcher(lower).replaceAll(" ")
    UTF8String.fromString(
      wsRunPattern.matcher(noCntrl).replaceAll(" ").trim)
  }
}

/** `graft_simhash60(tokens array<string>) -> bigint` */
case class SimHash60Expr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.simhash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeKernels.simhash60($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60Expr =
    copy(child = newChild)
}

/** `graft_hyperplane_sig(vec array<float>, bits int) -> bigint`;
  * `bits` must be a foldable int literal. */
case class HyperplaneSigExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.hyperplaneSig(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeKernels.hyperplaneSig($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
}

/** `graft_shingles(tokens array<string>, n) -> array<string>` */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.shingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeKernels.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** `graft_minhash(shingles array<string>, numHashes) -> array<string>` */
case class MinhashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeKernels.minhashSig($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

/** `graft_dot(a array<float|double>, b array<float|double>) -> double` */
case class DotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    Native.expectTypes(prettyName, "array<float|double>", children) {
      case ArrayType(FloatType | DoubleType, _) => true
    }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val lFloat = isFloat(left)
  private lazy val rFloat = isFloat(right)

  protected override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.dotGen(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      lFloat, rFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, not a fixed local: two instances in one codegen span
      // would otherwise fail janino ("Redefinition of local variable")
      // and drop the projection to interpreter mode
      val d = ctx.freshName("gd")
      s"""
         |java.lang.Double $d = graft.functions.NativeKernels.dotGen($a, $b, $lFloat, $rFloat);
         |if ($d == null) { ${ev.isNull} = true; } else { ${ev.value} = $d.doubleValue(); }
       """.stripMargin
    })
    res
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductExpr = copy(left = newLeft, right = newRight)
}

/** `graft_sqdist_i64(a array<bigint>, b array<bigint>) -> bigint` */
case class SqDistI64Expr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sqdist_i64"

  override def checkInputDataTypes(): TypeCheckResult =
    Native.expectTypes(prettyName, "array<bigint>", children) {
      case ArrayType(LongType, _) => true
    }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.sqDistI64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: a fixed local name collides ("Redefinition of local
      // variable") when the expression appears twice in one codegen span,
      // silently dropping the whole projection to interpreter mode
      val d = ctx.freshName("gsd")
      s"""
         |java.lang.Long $d = graft.functions.NativeKernels.sqDistI64($a, $b);
         |if ($d == null) { ${ev.isNull} = true; } else { ${ev.value} = $d.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SqDistI64Expr = copy(left = newLeft, right = newRight)
}

/** `graft_pop_value(s string) -> double` (nullable) */
case class PopValueExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pop_value"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.popValue(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val d = ctx.freshName("gp")
      s"""
         |java.lang.Double $d = graft.functions.NativeKernels.popValue($c);
         |if ($d == null) { ${ev.isNull} = true; } else { ${ev.value} = $d.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PopValueExpr =
    copy(child = newChild)
}

/** `graft_pop_year(s string) -> string` (nullable) */
case class PopYearExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pop_year"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.popYear(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val y = ctx.freshName("gy")
      s"""
         |UTF8String $y = graft.functions.NativeKernels.popYear($c);
         |if ($y == null) { ${ev.isNull} = true; } else { ${ev.value} = $y; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PopYearExpr =
    copy(child = newChild)
}

/** `graft_bloom_contains(key bigint|string, bloom binary) -> boolean`;
  * `bloom` must be a foldable literal (a driver-built
  * `util.sketch.BloomFilter`, serialized). The filter deserializes
  * once per JVM (lazy) and the probe stays inside whole-stage codegen
  * — vs a typed `Row => Boolean` filter, which deserializes every row
  * and breaks the codegen span. The probe matches the builder's insert
  * encoding per type: long keys via `mightContainLong`, string keys
  * via `mightContainBinary` over UTF-8 bytes (= `putString`'s
  * encoding); any other key type fails analysis, so a mismatched
  * insert/probe can never silently drop rows. */
case class BloomContainsExpr(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    Native.expectTypes(prettyName, "a bigint or string key", children.take(1)) {
      case LongType | StringType => true
    }

  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  protected override def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => bloom.mightContainBinary(s.getBytes)
    case l: Long => bloom.mightContainLong(l)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression instance from generated code so the
    // lazily-deserialized filter is shared, not re-parsed per row
    val ref = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomContainsExpr].getName)
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c => s"$ref.contains(($c).getBytes())")
      case _ =>
        defineCodeGen(ctx, ev, c => s"$ref.contains($c)")
    }
  }

  def contains(key: Long): Boolean = bloom.mightContainLong(key)
  def contains(utf8: Array[Byte]): Boolean = bloom.mightContainBinary(utf8)

  override protected def withNewChildInternal(newChild: Expression): BloomContainsExpr =
    copy(child = newChild)
}

/** `graft_normalize_text(s string) -> string` — NFC + accent-strip +
  * lowercase + control/whitespace cleanup (NativeKernels.normalizeText).
  * A custom Expression because Unicode normalization has no Column
  * built-in; java.text.Normalizer via codegen keeps it in the
  * whole-stage span (a UDF would break it and pay serialization). */
case class NormalizeTextExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_text"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.normalizeText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeKernels.normalizeText($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

/** `graft_rolling_hash(s string) -> bigint` */
case class RollingHashExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  protected override def nullSafeEval(input: Any): Any =
    NativeKernels.rollingHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeKernels.rollingHash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

/** A fixed-point codebook held as a plan constant: (id, vector) entries
  * in ascending id order. Two codebooks are equal when their entries
  * are, so plans over equal codebooks stay equal (exchange reuse,
  * subexpression elimination); a plan prints the shape only
  * (`codebook[8x64]`), never the values. */
final class Codebook(val ids: Array[Long], val vecs: Array[Array[Long]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case c: Codebook => java.util.Arrays.equals(ids, c.ids) &&
      java.util.Arrays.deepEquals(vecs.asInstanceOf[Array[AnyRef]], c.vecs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    31 * java.util.Arrays.hashCode(ids) + java.util.Arrays.deepHashCode(vecs.asInstanceOf[Array[AnyRef]])
  override def toString: String =
    s"codebook[${vecs.length}x${vecs.headOption.map(_.length).getOrElse(0)}]"
}

object Codebook {
  /** The engine's (id, fixed-point vector) entries, sorted by id. */
  def apply(entries: Array[(Int, Array[Long])]): Codebook = {
    require(entries.nonEmpty, "empty codebook")
    val sorted = entries.sortBy(_._1)
    new Codebook(sorted.map(_._1.toLong), sorted.map(_._2))
  }
}

/** Shared codegen of the kernels that hold plan constants: generated
  * code calls `kernel` on the expression itself, referenced from the
  * generated class (`ctx.addReferenceObj`), so the constants never enter
  * the generated source and two instances with different codebooks
  * compile to one class. A null child reaches `kernel` as null unless
  * the expression is null-intolerant. */
private[functions] trait ConstantKernel { self: Expression =>
  protected def kernelCall(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, getClass.getName)
    val boxed = CodeGenerator.boxedType(dataType)
    if (nullable) nullSafeKernelCall(ctx, ev, ref, boxed)
    else {
      val args = children.map(_.genCode(ctx))
      val call = args.map(a => s"${a.isNull} ? null : ${a.value}").mkString(", ")
      ev.copy(code = code"""
        |${args.map(_.code).reduce(_ + _)}
        |${CodeGenerator.javaType(dataType)} ${ev.value} = $ref.kernel($call);
        |""".stripMargin, isNull = FalseLiteral)
    }
  }

  private def nullSafeKernelCall(ctx: CodegenContext, ev: ExprCode, ref: String,
      boxed: String): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val r = ctx.freshName("k")
    val anyNull = args.map(a => s"${a.isNull}").mkString(" || ")
    val unboxed =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$r.${CodeGenerator.javaType(dataType)}Value()"
      else r
    ev.copy(code = code"""
      |${args.map(_.code).reduce(_ + _)}
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!($anyNull)) {
      |  $boxed $r = $ref.kernel(${args.map(_.value).mkString(", ")});
      |  if ($r != null) { ${ev.isNull} = false; ${ev.value} = $unboxed; }
      |}
      |""".stripMargin)
  }
}

/** `floor(x·scale + 0.5)` per element of an array of any numeric type
  * ([[NativeKernels.fixedPoint]]): the fixed-point quantization, in one
  * loop instead of an interpreted `transform`. */
case class FixedPointExpr(child: Expression, scale: Double)
    extends UnaryExpression with ConstantKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull =
    child.dataType match { case ArrayType(_, n) => n; case _ => true })
  override def prettyName: String = "graft_fixed_point"

  override def checkInputDataTypes(): TypeCheckResult =
    Native.expectTypes(prettyName, "a numeric array", children) {
      case ArrayType(_: NumericType, _) => true
    }

  private lazy val elementType = child.dataType.asInstanceOf[ArrayType].elementType

  def kernel(v: ArrayData): ArrayData = NativeKernels.fixedPoint(v, elementType, scale)

  protected override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = kernelCall(ctx, ev)
  override protected def withNewChildInternal(newChild: Expression): FixedPointExpr =
    copy(child = newChild)
}

/** The `k` centroids of `book` nearest to a fixed-point vector, as
  * ascending (d, c) structs ([[NativeKernels.nearestK]]). */
case class NearestKExpr(child: Expression, book: Codebook, k: Int)
    extends UnaryExpression with ConstantKernel {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d", LongType), StructField("c", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest_k"

  override def checkInputDataTypes(): TypeCheckResult =
    Native.expectTypes(prettyName, "array<bigint>", children) {
      case ArrayType(LongType, _) => true
    }

  def kernel(v: ArrayData): ArrayData = NativeKernels.nearestK(v, book, k)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = kernelCall(ctx, ev)
  override protected def withNewChildInternal(newChild: Expression): NearestKExpr =
    copy(child = newChild)
}

/** A fixed-point vector minus the centroid at position `cell` of
  * `book` ([[NativeKernels.residual]]). */
case class ResidualExpr(left: Expression, right: Expression, book: Codebook)
    extends BinaryExpression with ConstantKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_residual"

  override def checkInputDataTypes(): TypeCheckResult = Native.allOf(
    Native.expectTypes(prettyName, "array<bigint>", Seq(left)) {
      case ArrayType(LongType, _) => true
    },
    Native.expectTypes(prettyName, "a bigint cell", Seq(right)) {
      case LongType => true
    })

  def kernel(v: ArrayData, cell: Long): ArrayData = NativeKernels.residual(v, cell, book)

  protected override def nullSafeEval(v: Any, cell: Any): Any =
    kernel(v.asInstanceOf[ArrayData], cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = kernelCall(ctx, ev)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ResidualExpr = copy(left = newLeft, right = newRight)
}

/** Product-quantization codes of a fixed-point vector against one
  * codebook per `subDim`-wide sub-space ([[NativeKernels.pqEncode]]). */
case class PqEncodeExpr(child: Expression, books: Seq[Codebook], subDim: Int)
    extends UnaryExpression with ConstantKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    Native.expectTypes(prettyName, "array<bigint>", children) {
      case ArrayType(LongType, _) => true
    }

  @transient private lazy val bookArray = books.toArray
  def kernel(v: ArrayData): ArrayData = NativeKernels.pqEncode(v, bookArray, subDim)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = kernelCall(ctx, ev)
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** The asymmetric-distance lookup table of a fixed-point vector
  * against one codebook per `subDim`-wide sub-space, squared distances
  * or (`dot`) dot products ([[NativeKernels.adcLut]]). */
case class AdcLutExpr(child: Expression, books: Seq[Codebook], subDim: Int, dot: Boolean)
    extends UnaryExpression with ConstantKernel {
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = true), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_adc_lut"

  override def checkInputDataTypes(): TypeCheckResult =
    Native.expectTypes(prettyName, "array<bigint>", children) {
      case ArrayType(LongType, _) => true
    }

  @transient private lazy val bookArray = books.toArray
  def kernel(v: ArrayData): ArrayData = NativeKernels.adcLut(v, bookArray, subDim, dot)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = kernelCall(ctx, ev)
  override protected def withNewChildInternal(newChild: Expression): AdcLutExpr =
    copy(child = newChild)
}

/** The ADC score Σᵢ lut[i][codes[i]] of an encoded vector
  * ([[NativeKernels.adcScore]]). */
case class AdcScoreExpr(left: Expression, right: Expression)
    extends BinaryExpression with ConstantKernel {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_adc_score"

  override def checkInputDataTypes(): TypeCheckResult = Native.allOf(
    Native.expectTypes(prettyName, "array<bigint> codes", Seq(left)) {
      case ArrayType(LongType, _) => true
    },
    Native.expectTypes(prettyName, "array<array<bigint>> tables", Seq(right)) {
      case ArrayType(ArrayType(LongType, _), _) => true
    })

  def kernel(codes: ArrayData, lut: ArrayData): java.lang.Long =
    NativeKernels.adcScore(codes, lut)

  protected override def nullSafeEval(codes: Any, lut: Any): Any =
    kernel(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = kernelCall(ctx, ev)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AdcScoreExpr = copy(left = newLeft, right = newRight)
}

/** The native expressions bound directly into Columns: what the
  * operators call, in every session. Integer arguments (`n`,
  * `numHashes`, `bits`) are plan constants, as the registered SQL
  * forms require them to be literals; so are scales and codebooks. */
object Native {
  import GraftColumns.{column, expression => e}

  def shingles(tokens: Column, n: Int): Column = column(ShinglesExpr(e(tokens), n))
  def minhash(shingles: Column, numHashes: Int): Column =
    column(MinhashSigExpr(e(shingles), numHashes))
  def simhash60(tokens: Column): Column = column(SimHash60Expr(e(tokens)))
  def hyperplaneSig(vec: Column, bits: Int): Column = column(HyperplaneSigExpr(e(vec), bits))
  def dot(a: Column, b: Column): Column = column(DotProductExpr(e(a), e(b)))
  def sqDistI64(a: Column, b: Column): Column = column(SqDistI64Expr(e(a), e(b)))
  def normalizeText(text: Column): Column = column(NormalizeTextExpr(e(text)))
  def rollingHash(normalized: Column): Column = column(RollingHashExpr(e(normalized)))
  def popValue(text: Column): Column = column(PopValueExpr(e(text)))
  def popYear(text: Column): Column = column(PopYearExpr(e(text)))

  /** floor(x·scale + 0.5) per element, as bigint. */
  def fixedPoint(vec: Column, scale: Double): Column = column(FixedPointExpr(e(vec), scale))

  /** The `k` entries of `cents` nearest to the fixed-point vector `v`:
    * array<struct<d, c>> in ascending (distance, id) order. */
  def nearestK(v: Column, cents: Array[(Int, Array[Long])], k: Int): Column = {
    require(k >= 1, s"nearestK: k=$k must be positive")
    column(NearestKExpr(e(v), Codebook(cents), k))
  }

  /** `v` minus the centroid of `cents` whose id is `cell`; the ids must
    * number the centroids 0..k-1, as trained centroid sets do. */
  def residual(v: Column, cell: Column, cents: Array[(Int, Array[Long])]): Column =
    column(ResidualExpr(e(v), e(cell), Codebook(cents)))

  /** The PQ codes of `v`: one codebook per sub-space, each sub-space as
    * wide as the first codeword. */
  def pqEncode(v: Column, books: Array[Array[(Int, Array[Long])]]): Column =
    column(PqEncodeExpr(e(v), codebooks(books), books(0)(0)._2.length))

  /** The ADC lookup table of `v` against `books` (see [[pqEncode]]):
    * exact squared distances, or dot products when `dot`. */
  def adcLut(v: Column, books: Array[Array[(Int, Array[Long])]], dot: Boolean): Column =
    column(AdcLutExpr(e(v), codebooks(books), books(0)(0)._2.length, dot))

  /** Σᵢ lut[i][codes[i]]: the ADC score of PQ `codes` under an
    * [[adcLut]] table. */
  def adcScore(codes: Column, lut: Column): Column = column(AdcScoreExpr(e(codes), e(lut)))

  private def codebooks(books: Array[Array[(Int, Array[Long])]]): Seq[Codebook] = {
    require(books.nonEmpty, "empty codebooks")
    books.toSeq.map(Codebook(_))
  }

  def bloomContains(key: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    column(BloomContainsExpr(e(key), bos.toByteArray))
  }

  /** The first failure among `checks`, else success. */
  private[functions] def allOf(checks: TypeCheckResult*): TypeCheckResult =
    checks.find(_.isFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** Analysis-time type check: every argument's type must satisfy `ok`. */
  private[functions] def expectTypes(name: String, want: String, args: Seq[Expression])(
      ok: PartialFunction[DataType, Boolean]): TypeCheckResult =
    args.map(_.dataType).find(t => !ok.applyOrElse(t, (_: DataType) => false)) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"$name: expected $want, got ${t.catalogString}")
    }
}

/** Session extension registering the native expressions by name for
  * SQL text (`spark.sql.extensions=graft.GraftExtensions`, root alias
  * below); the operators bind them through [[Native]] instead. */
class GraftFunctionExtensions extends (SparkSessionExtensions => Unit) {

  private def reg(ext: SparkSessionExtensions, name: String, arity: Int)(
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == arity, s"$name expects $arity args")
        builder(children)
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

  private def litInt(e: Expression, what: String): Int = e match {
    case x if x.foldable => x.eval().asInstanceOf[Number].intValue()
    case _ => throw new IllegalArgumentException(s"$what must be a literal int")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    reg(ext, "graft_simhash60", 1)(c => SimHash60Expr(c.head))
    reg(ext, "graft_hyperplane_sig", 2)(c =>
      HyperplaneSigExpr(c.head, litInt(c(1), "bits")))
    reg(ext, "graft_shingles", 2)(c =>
      ShinglesExpr(c.head, litInt(c(1), "n")))
    reg(ext, "graft_minhash", 2)(c =>
      MinhashSigExpr(c.head, litInt(c(1), "numHashes")))
    reg(ext, "graft_rolling_hash", 1)(c => RollingHashExpr(c.head))
    reg(ext, "graft_normalize_text", 1)(c => NormalizeTextExpr(c.head))
    reg(ext, "graft_dot", 2)(c => DotProductExpr(c.head, c(1)))
    reg(ext, "graft_sqdist_i64", 2)(c => SqDistI64Expr(c.head, c(1)))
    reg(ext, "graft_bloom_contains", 2)(c => {
      val bytes = c(1) match {
        case x if x.foldable => x.eval().asInstanceOf[Array[Byte]]
        case _ => throw new IllegalArgumentException(
          "graft_bloom_contains: bloom must be a literal binary")
      }
      BloomContainsExpr(c.head, bytes)
    })
    reg(ext, "graft_pop_value", 1)(c => PopValueExpr(c.head))
    reg(ext, "graft_pop_year", 1)(c => PopYearExpr(c.head))
  }
}
