package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SC}
import org.scalacheck.rng.Seed
import graft.functions.{TextExpressions, VectorExpressions}
import graft.operators.{Dedup, Similarity}

/** Each near-dup kernel against the lambda expression it replaced, over
  * generated inputs: Unicode letters, digits and punctuation, null and
  * empty text, docs shorter than the shingle length, repeated shingles,
  * null array elements. Every comparison runs twice, once in generated
  * code only (`CODEGEN_ONLY`: a kernel whose generated call does not
  * compile fails instead of falling back) and once interpreted, so both
  * `doGenCode` and `eval` are checked. The seed is pinned. */
class TextKernelSpec extends SparkTestBase {

  private def check(p: Prop): Unit = {
    val params = SC.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261020L))
    val res = SC.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private val modes = Seq(
    Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true"),
    Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf[A](conf: Map[String, String])(body: => A): A = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `kernel` and `reference` agree on every row, in both modes. The rows
    * come from an RDD, so no projection is folded into a local relation. */
  private def agree(field: DataType, values: Seq[Any], kernel: Column, reference: Column): Boolean = {
    val schema = StructType(Seq(StructField("x", field)))
    modes.forall { m =>
      withConf(m) {
        val df = spark.createDataFrame(spark.sparkContext.parallelize(values.map(Row(_)), 2), schema)
        val bad = df.select(col("x"), kernel, reference).collect().filterNot(r => r.get(1) == r.get(2))
        bad.isEmpty || { println(s"TextKernelSpec mismatch ($m): ${bad.take(3).mkString("; ")}"); false }
      }
    }
  }

  // ---- generators ----

  private def codePoints(lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).map(cp => new String(Character.toChars(cp)))
  /** One letter or digit: ASCII, Latin-1, Cyrillic, CJK, Arabic-Indic
    * digits, a supplementary-plane letter. */
  private val letter: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString), 2 -> codePoints(0xC0, 0xFF),
    2 -> codePoints(0x410, 0x44F), 1 -> codePoints(0x4E00, 0x4E20),
    1 -> codePoints(0x660, 0x669), 1 -> codePoints(0x1D400, 0x1D433))
  /** Words from a small pool (so shingles repeat) or random letters. */
  private val word: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("alpha", "Beta", "straße", "数据", "ЖУК", "42", "naïve", "x"),
    2 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, letter)).map(_.mkString))
  private val sep: Gen[String] =
    Gen.oneOf(" ", "  ", ", ", "!", "—", "\n", "。", "...", "\t", "-", "'", "¿")
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""), 1 -> sep,
    6 -> (for {
      lead <- Gen.oneOf("", " ", "¡")
      k <- Gen.choose(1, 20)
      ws <- Gen.listOfN(k, word)
      ss <- Gen.listOfN(k, sep)
    } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString))
  private def texts = Gen.listOfN(40, text)

  private def withNulls[A](g: Gen[A]): Gen[A] = Gen.frequency(9 -> g, 1 -> Gen.const(null.asInstanceOf[A]))
  /** Arrays (or null) of possibly-null elements, lengths 0–`max`. */
  private def arrays[A](g: Gen[A], max: Int): Gen[Seq[A]] = withNulls(
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, withNulls(g))))
  private val strArrays = Gen.listOfN(40, arrays(word, 12))
  private val lanes: Gen[java.lang.Long] = Gen.frequency(
    3 -> Gen.oneOf(0L, 1L, -1L, 7L, Long.MaxValue, Long.MinValue),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue)).map(Long.box)
  private val longArrays = Gen.listOfN(40, arrays(lanes, 12))

  private val StrArr = ArrayType(StringType)
  private val LongArr = ArrayType(LongType)
  private val x = col("x")

  // ---- the replaced expressions ----

  private def oldTokens(t: Column) =
    filter(split(lower(t), "[^\\p{L}\\p{N}]+"), s => length(s) > 0)

  private def oldShingles(toks: Column, n: Int) =
    graft.functions.ExprUtils.bind(toks) { tk =>
      when(size(tk) >= n,
        array_distinct(transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ", slice(tk, i, lit(n))))))
        .otherwise(array().cast("array<string>"))
    }

  private def oldMinhashXx(sh: Column, k: Int) =
    aggregate(sh, array_repeat(lit(Long.MaxValue), k),
      (acc, s) => zip_with(acc, array((0 until k).map(i => xxhash64(lit(i), s)): _*),
        (a, h) => least(a, h)))

  private def oldMinhashPortable(sh: Column, k: Int) = {
    val hp = transform(sh, s => {
      val m = md5(to_binary(s, lit("utf-8")))
      array(conv(substring(m, 1, 15), 16, 10).cast("long"),
        shiftright(conv(substring(m, 17, 15), 16, 10).cast("long"), 5))
    })
    aggregate(hp, array_repeat(lit(Long.MaxValue), k),
      (acc, p) => zip_with(acc,
        transform(sequence(lit(0), lit(k - 1)),
          i => (element_at(p, 1) + i.cast("long") * element_at(p, 2)).bitwiseAND(lit((1L << 60) - 1))),
        (a, h) => least(a, h)))
  }

  private def oldBandKeys(sig: Column, bands: Int, rows: Int) =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("b"),
        concat_ws(",", transform(slice(sig, b * rows + 1, lit(rows)), v => v.cast("string"))).as("h")))

  private def oldSimhash(toks: Column) = {
    val masks = array((0 until 60).map(i => lit(1L << i)): _*)
    val votes = aggregate(transform(toks, t => Dedup.hash60(t)), array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, masks, (a, m) => when(h.bitwiseAND(m) =!= 0, a + 1).otherwise(a - 1)))
    aggregate(zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)
  }

  private def oldLshSignature(vec: Column, planes: Array[Array[Int]]) = {
    val qv = transform(vec, v => round(v.cast("double") * 1000000d).cast("long"))
    planes.zipWithIndex.map { case (row, p) =>
      val proj = aggregate(zip_with(qv, array(row.map(v => lit(v.toLong)): _*), (a, s) => a * s),
        lit(0L), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  // ---- one property per kernel ----

  test("tokens: array_remove(split(...), \"\") equals the length > 0 filter") {
    check(Prop.forAllNoShrink(texts)(ts => agree(StringType, ts, Dedup.tokens(x), oldTokens(x))))
  }

  test("shingles kernel equals the bound transform/array_distinct form") {
    check(Prop.forAllNoShrink(texts, Gen.choose(1, 4)) { (ts, n) =>
      agree(StringType, ts, Dedup.shingles(x, n), oldShingles(oldTokens(x), n))
    })
    check(Prop.forAllNoShrink(strArrays, Gen.choose(1, 3)) { (as, n) =>
      agree(StrArr, as, TextExpressions.shingles(x, n), oldShingles(x, n))
    })
  }

  test("xxhash MinHash kernel equals the aggregate/zip_with form") {
    check(Prop.forAllNoShrink(strArrays, Gen.oneOf(1, 8, 32)) { (as, k) =>
      agree(StrArr, as, Dedup.minhashSignatureFromShingles(x, k), oldMinhashXx(x, k))
    })
  }

  test("portable MinHash kernel equals the md5 transform/aggregate form") {
    check(Prop.forAllNoShrink(strArrays, Gen.oneOf(1, 8, 32)) { (as, k) =>
      agree(StrArr, as, Dedup.minhashSignaturePortable(x, k), oldMinhashPortable(x, k))
    })
  }

  test("band-key kernel equals the transform/slice/concat_ws form") {
    check(Prop.forAllNoShrink(longArrays, Gen.choose(1, 5), Gen.choose(1, 4)) { (as, bands, rows) =>
      agree(LongArr, as, Dedup.bandKeys(x, bands, rows), oldBandKeys(x, bands, rows))
    })
  }

  test("signature-agreement kernel equals size(filter(zip_with(...)))") {
    check(Prop.forAllNoShrink(longArrays, longArrays) { (as, bs) =>
      val pairs = as.zip(bs).map { case (a, b) => Row(a, b) }
      val schema = StructType(Seq(StructField("a", LongArr), StructField("b", LongArr)))
      agree(schema, pairs, TextExpressions.sig_agreement(col("x.a"), col("x.b")),
        size(filter(zip_with(col("x.a"), col("x.b"), (p, q) => p === q), e => e)))
    })
  }

  test("Jaccard kernel equals the array_intersect form") {
    // two empty sets divide 0 by 0, an error under ANSI: not generated
    val sets = Gen.listOfN(40, Gen.zip(arrays(word, 8), arrays(word, 8))
      .suchThat { case (a, b) => a == null || b == null || a.nonEmpty || b.nonEmpty })
    check(Prop.forAllNoShrink(sets) { ps =>
      val schema = StructType(Seq(StructField("a", StrArr), StructField("b", StrArr)))
      val (a, b) = (col("x.a"), col("x.b"))
      val i = size(array_intersect(a, b)).cast("double")
      agree(schema, ps.map { case (p, q) => Row(p, q) }, TextExpressions.jaccard(a, b),
        i / (size(a) + size(b) - i))
    })
  }

  test("SimHash kernel equals the hash60 transform and 60-lane vote") {
    check(Prop.forAllNoShrink(texts)(ts => agree(StringType, ts, Dedup.simhash(x), oldSimhash(oldTokens(x)))))
    check(Prop.forAllNoShrink(strArrays)(as => agree(StrArr, as, TextExpressions.simhash60(x), oldSimhash(x))))
  }

  test("shingle-hash kernel equals hash60 per element, null elements left out") {
    check(Prop.forAllNoShrink(strArrays) { as =>
      agree(StrArr, as, TextExpressions.hashes60(x),
        filter(transform(x, s => Dedup.hash60(s)), h => h.isNotNull))
    })
  }

  /** ±m/128 scales to an exact half (1/128 · 10^6 = 7812.5): the rounding
    * mode shows there. */
  private val floats: Gen[java.lang.Float] = Gen.frequency(
    2 -> Gen.oneOf(-0.0625f, 0.0625f, 0.0078125f, -0.0078125f, 0.0234375f, -0.0234375f,
      0.5e-6f, -1.5e-6f, 0.0f, -0.0f, 1e-7f, 123.45678f),
    3 -> Gen.choose(-1.0f, 1.0f)).map(Float.box)
  private val vectors = Gen.listOfN(40, arrays(floats, 5))

  test("quantization kernel equals round(x * 1e6) per element") {
    check(Prop.forAllNoShrink(vectors) { vs =>
      agree(ArrayType(FloatType), vs, VectorExpressions.vec_quantize_e6(x),
        transform(x, v => round(v.cast("double") * 1000000d).cast("long")))
    })
  }

  test("hyperplane-signature kernel equals the per-plane aggregate form") {
    val planes = Similarity.planeMatrix(8, 4)
    check(Prop.forAllNoShrink(vectors) { vs =>
      agree(ArrayType(FloatType), vs, Similarity.lshSignatureQuantized(x, planes),
        oldLshSignature(x, planes))
    })
  }
}
