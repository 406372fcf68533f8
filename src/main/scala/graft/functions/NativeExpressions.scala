package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumns, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with `doGenCode`) for the engine's
  * scalar kernels: shingles, MinHash, SimHash, hyperplane signatures,
  * dot products, integer squared distances, text normalization, the
  * rolling hash, the population scan and the Bloom probe. Each is a
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
  * same expressions by name (`graft_simhash60(tokens)`, …) for SQL text.
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

/** The native expressions bound directly into Columns: what the
  * operators call, in every session. Integer arguments (`n`,
  * `numHashes`, `bits`) are plan constants, as the registered SQL
  * forms require them to be literals. */
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

  def bloomContains(key: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    column(BloomContainsExpr(e(key), bos.toByteArray))
  }

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
