package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.unsafe.types.UTF8String

/** The per-row kernels of the near-dup text path, shared by interpreted
  * eval and generated code. Top-level for the reason [[VecOps]] is: the
  * generated code calls `graft.functions.TextOps.<kernel>(...)` as a
  * static method.
  *
  * Each kernel is bit-identical to the Spark expression it replaces
  * (named on each method; `TextKernelSpec` checks every one against it),
  * null elements included. */
object TextOps {

  private final val Mask60 = (1L << 60) - 1

  /** Big-endian long of `d(off) .. d(off + 7)`. */
  private def longAt(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(off + i) & 0xffL); i += 1 }
    v
  }

  /** Distinct `n`-token windows joined by " ", in first-occurrence order;
    * empty for a null or shorter-than-`n` token array. Replaces
    * `array_distinct(transform(sequence(1, size - n + 1),
    * i => concat_ws(" ", slice(toks, i, n))))`. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val len = if (toks == null) 0 else toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[UTF8String]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i + n <= len) {
      var j = 0
      while (j < n) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      val s = UTF8String.concatWs(sep, window: _*)
      if (seen.add(s)) out.add(s)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Oracle-portable MinHash signature (Kirsch–Mitzenmacher), one md5 per
    * shingle: h1 = the top 60 bits of digest bytes 0–7, h2 = the top 60
    * bits of bytes 8–15 shifted right by 5, lane i = (h1 + i·h2) & (2⁶⁰−1),
    * each lane the minimum over the shingles (Long.MaxValue when there are
    * none). A null shingle leaves every lane as it is. */
  def minhashPortable(sh: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val md = MessageDigest.getInstance("MD5")
    var j = 0
    while (j < sh.numElements()) {
      if (!sh.isNullAt(j)) {
        val d = md.digest(sh.getUTF8String(j).getBytes)
        val h1 = longAt(d, 0) >>> 4
        val h2 = longAt(d, 8) >>> 9
        var i = 0
        while (i < k) {
          val h = (h1 + i * h2) & Mask60
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Engine-internal MinHash signature: lane i is the minimum over the
    * shingles s of Spark's `xxhash64(i, s)` (XXH64, seed 42), as the
    * `xxhash64(lit(i), s)` lane expression hashes it. */
  def minhashXx(sh: ArrayData, k: Int): ArrayData = {
    val seeds = Array.tabulate(k)(i => XXH64.hashInt(i, 42L))
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < sh.numElements()) {
      val s = if (sh.isNullAt(j)) null else sh.getUTF8String(j)
      var i = 0
      while (i < k) {
        // xxhash64 skips a null argument: the lane hashes i alone
        val h = if (s == null) seeds(i)
          else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** LSH band keys: struct(b, h) per band b, h the band's `rows` lanes
    * (`slice(sig, b·rows + 1, rows)`) as decimal strings joined by ","
    * (`concat_ws`, so null lanes and a null signature contribute nothing). */
  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder()
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var first = true
      var i = b * rows
      while (i < math.min(n, b * rows + rows)) {
        if (!sig.isNullAt(i)) {
          if (!first) sb.append(',')
          sb.append(sig.getLong(i))
          first = false
        }
        i += 1
      }
      out(b) = InternalRow(b, UTF8String.fromString(sb.toString))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Positions where both signatures hold equal non-null lanes:
    * `size(filter(zip_with(a, b, (x, y) -> x = y), e -> e))`. */
  def agreement(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var eq = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq
  }

  /** `size(array_intersect(a, b))`: the distinct values the two string
    * arrays share, null counting once when both hold one. */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String]()
    var smallNull = false
    var i = 0
    while (i < small.numElements()) {
      if (small.isNullAt(i)) smallNull = true else set.add(small.getUTF8String(i))
      i += 1
    }
    var hits = 0
    var largeNull = false
    i = 0
    while (i < large.numElements()) {
      if (large.isNullAt(i)) largeNull = true
      else if (set.remove(large.getUTF8String(i))) hits += 1
      i += 1
    }
    if (smallNull && largeNull) hits + 1 else hits
  }

  /** `Dedup.hash60`: the top 60 bits of the string's md5. */
  private def hash60(md: MessageDigest, s: UTF8String): Long =
    longAt(md.digest(s.getBytes), 0) >>> 4

  /** `Dedup.hash60` of each string — the top 60 bits of its md5, one
    * digest per element — with the null elements (whose hash is null)
    * left out: `filter(transform(sh, hash60), h -> h IS NOT NULL)`. */
  def hashes60(sh: ArrayData): ArrayData = {
    val out = new Array[Long](sh.numElements())
    val md = MessageDigest.getInstance("MD5")
    var k = 0
    var j = 0
    while (j < sh.numElements()) {
      if (!sh.isNullAt(j)) {
        out(k) = hash60(md, sh.getUTF8String(j))
        k += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  /** 60-bit SimHash of a token array: token hash = the top 60 bits of its
    * md5 (`Dedup.hash60`), bit i set iff more tokens have bit i set than
    * not. A null token votes −1 on every bit, as its null hash does in the
    * `aggregate` form. */
  def simhash60(toks: ArrayData): Long = {
    val votes = new Array[Long](60)
    val md = MessageDigest.getInstance("MD5")
    var j = 0
    while (j < toks.numElements()) {
      val h = if (toks.isNullAt(j)) 0L else hash60(md, toks.getUTF8String(j))
      var i = 0
      while (i < 60) {
        votes(i) += (if ((h & (1L << i)) != 0) 1 else -1)
        i += 1
      }
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < 60) { if (votes(i) > 0) fp |= 1L << i; i += 1 }
    fp
  }
}

/** Codegen'd expressions over [[TextOps]]. Spark's higher-order functions
  * (`transform`, `aggregate`, `zip_with`, `filter`) are CodegenFallback:
  * their lambda bodies run as an interpreted tree once per element and get
  * no common-subexpression elimination. Each expression here is one
  * static call inside whole-stage codegen. */
object TextExpressions {

  private val Tokens = ArrayType(StringType, containsNull = false)
  private val Lanes = ArrayType(LongType, containsNull = false)

  /** An expression whose null input is a value of the kernel, not null:
    * the kernel call `invoke(v)` gets the child's value or null. */
  sealed trait TotalUnary extends UnaryExpression {
    protected def invoke(v: String): String
    protected def call(v: ArrayData): Any
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = call(child.eval(input).asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          graft.functions.TextOps.${invoke(s"(${c.isNull} ? null : ${c.value})")};""",
        isNull = FalseLiteral)
    }
  }

  case class Shingles(child: Expression, n: Int) extends TotalUnary {
    require(n >= 1, "shingle length must be positive")
    override def dataType: DataType = Tokens
    protected def invoke(v: String): String = s"shingles($v, $n)"
    protected def call(v: ArrayData): Any = TextOps.shingles(v, n)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class BandKeys(child: Expression, bands: Int, rows: Int) extends TotalUnary {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("b", IntegerType, nullable = false),
      StructField("h", StringType, nullable = false))), containsNull = false)
    protected def invoke(v: String): String = s"bandKeys($v, $bands, $rows)"
    protected def call(v: ArrayData): Any = TextOps.bandKeys(v, bands, rows)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Null in, null out; `k` lanes. */
  case class MinHash(child: Expression, k: Int, portable: Boolean) extends UnaryExpression {
    override def dataType: DataType = Lanes
    private def kernel = if (portable) "minhashPortable" else "minhashXx"
    override def nullSafeEval(v: Any): Any =
      if (portable) TextOps.minhashPortable(v.asInstanceOf[ArrayData], k)
      else TextOps.minhashXx(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.$kernel($v, $k)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Null in, null out. */
  case class Hashes60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = Lanes
    override def nullSafeEval(v: Any): Any = TextOps.hashes60(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.hashes60($v)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class SimHash60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = TextOps.simhash60(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.simhash60($v)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class Agreement(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any =
      TextOps.agreement(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextOps.agreement($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** i / ((|A| + |B|) − i) with i = |A ∩ B| in double, as
    * `size(array_intersect(a, b)).cast("double")` divided by
    * `size(a) + size(b) - i`; null for two empty arrays (0 / 0). */
  case class Jaccard(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val i = TextOps.intersectSize(x, y).toDouble
      val d = (x.numElements() + y.numElements()).toDouble - i
      if (d == 0.0) null else i / d
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("inter")
        val d = ctx.freshName("denom")
        s"""double $i = graft.functions.TextOps.intersectSize($a, $b);
           |double $d = (double) ($a.numElements() + $b.numElements()) - $i;
           |if ($d == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $i / $d; }""".stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  private def col(e: Expression): Column = toColumn(e)
  private def ex(c: Column): Expression = toExpression(c)

  def shingles(tokens: Column, n: Int): Column = col(Shingles(ex(tokens), n))
  def minhash_portable(sh: Column, k: Int): Column = col(MinHash(ex(sh), k, portable = true))
  def minhash_xx(sh: Column, k: Int): Column = col(MinHash(ex(sh), k, portable = false))
  def band_keys(sig: Column, bands: Int, rows: Int): Column = col(BandKeys(ex(sig), bands, rows))
  def sig_agreement(a: Column, b: Column): Column = col(Agreement(ex(a), ex(b)))
  def jaccard(a: Column, b: Column): Column = col(Jaccard(ex(a), ex(b)))
  def hashes60(sh: Column): Column = col(Hashes60(ex(sh)))
  def simhash60(tokens: Column): Column = col(SimHash60(ex(tokens)))
}
