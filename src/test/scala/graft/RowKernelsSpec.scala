package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import graft.functions.{RowFunctions, SquaredL2, Tokens}
import graft.ops.TextAnalytics

/** The `graft_tokens` and `graft_sq_l2` kernels return exactly what the
  * higher-order-function expressions they replace return, on random
  * inputs and on the edge cases (nulls, empty input, non-ASCII case
  * mapping, unequal lengths, overflow), through generated code and
  * through `eval`. */
class RowKernelsSpec extends SparkSpec {

  private def hofTokens(text: Column): Column =
    filter(split(lower(text), TextAnalytics.TokenPattern), t => t =!= "")

  private def hofSqL2(q: Column, c: Column): Column =
    aggregate(zip_with(q, c, (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)

  /** (reference, kernel) per row of one query over `df`. */
  private def both(df: DataFrame, ref: Column, kernel: Column): Seq[(Any, Any)] =
    df.select(ref.as("ref"), kernel.as("kernel")).collect().toSeq
      .map(r => (r.get(0), r.get(1)))

  private val texts: Seq[String] = Seq(
    null, "", " ", "!!! ... ---", "\t\n", "12 345 6789", "abc123def",
    "Marketing. supermarketing", "\u00C0\u00C9\u00CE \u00F5\u00FC \u00DF stra\u00DFe",
    "\u212Aelvin", "\u0130stanbul", "x\u0130y", "smile \uD83D\uDE00 ok",
    "\uD835\uDC00bc", "mixed-CASE_words42", "a\u0307b", "\u01C5emal \u01C8",
    "\u03A3\u03AF\u03C3\u03C5\u03C6\u03BF\u03C2 \u03A3\u0391\u03A3",
    "\uFFFDab\uFFFD")

  private val textGen: Gen[String] = {
    // ASCII, Latin-1, KELVIN SIGN, I WITH DOT ABOVE, Greek, a combining
    // dot, the replacement character
    val alphabet = "aZz09 .,-_\t\n\u212A\u0130\u00DF\u00C0\u00E9\u03A3\u03C3\u0307\uFFFD"
    val piece = Gen.oneOf(
      Gen.oneOf(alphabet.toSeq).map(_.toString),
      Gen.oneOf("\uD83D\uDE00", "\uD835\uDC00", "\uD801\uDC00"), // supplementary
      Gen.alphaNumStr.map(_.take(6)))
    Gen.listOf(piece).map(_.mkString)
  }

  test("graft_tokens equals filter(split(lower(text), TokenPattern), non-empty) on edge cases") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 2),
      StructType(Seq(StructField("t", StringType))))
    val rows = both(df, hofTokens(col("t")), TextAnalytics.tokensCol(col("t")))
    rows.zip(texts).foreach { case ((ref, k), t) => assert(k == ref, s"text: $t") }
    assert(rows.head == ((null, null)))
    assert(rows(1)._2 == Seq.empty && rows(3)._2 == Seq.empty)
    assert(rows(9)._2 == Seq("kelvin"))
    assert(df.select(TextAnalytics.tokensCol(col("t"))).schema.head.dataType
      == ArrayType(StringType, containsNull = false))
  }

  test("graft_tokens equals the split/filter tokenizer on random text, codegen and eval") {
    checkProp(Prop.forAll(Gen.listOfN(40, textGen)) { ts =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(ts.map(Row(_)), 2),
        StructType(Seq(StructField("t", StringType))))
      val rows = both(df, hofTokens(col("t")), TextAnalytics.tokensCol(col("t")))
      val viaEval = ts.map { t =>
        val v = Tokens(Literal(t.toLowerCase(java.util.Locale.ROOT))).eval()
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toSeq[org.apache.spark.unsafe.types.UTF8String](StringType).map(_.toString)
      }
      val javaRef = ts.map(_.toLowerCase(java.util.Locale.ROOT)
        .split(TextAnalytics.TokenPattern, -1).filter(_.nonEmpty).toSeq)
      rows.forall { case (ref, k) => ref == k } && viaEval == javaRef
    }, minTests = 20)
  }

  private val pairSchema = StructType(Seq(
    StructField("q", ArrayType(LongType, containsNull = true)),
    StructField("c", ArrayType(LongType, containsNull = true))))

  private def pairs(rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (q, c) => Row(q, c) }, 2), pairSchema)

  private val L = java.lang.Long.valueOf(_: Long)

  test("graft_sq_l2 equals aggregate(zip_with(...)) on ties, nulls and unequal lengths") {
    val rows = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (Seq(L(1), L(2)), Seq(L(3), L(0))),           // 8
      (Seq(L(1), L(2)), Seq(L(-1), L(4))),          // tie: 8
      (Seq(), Seq()),                               // 0
      (Seq(L(1), L(2), L(3)), Seq(L(1), L(2))),     // longer q: null
      (Seq(L(1)), Seq(L(1), L(5))),                 // longer c: null
      (Seq(L(1), null), Seq(L(1), L(2))),           // null element: null
      (Seq(null, L(1)), Seq(L(0), L(1))),
      (null, Seq(L(1))),
      (Seq(L(1)), null))
    val got = both(pairs(rows), hofSqL2(col("q"), col("c")),
      RowFunctions.sqL2(col("q"), col("c")))
    got.zip(rows).foreach { case ((ref, k), r) => assert(k == ref, s"input: $r") }
    assert(got.map(_._2).take(3) == Seq(8L, 8L, 0L))
    assert(got.drop(3).forall(_._2 == null))
    rows.zip(got).foreach { case ((q, c), (ref, _)) =>
      val lit = (v: Seq[java.lang.Long]) => Literal.create(v, ArrayType(LongType))
      assert(SquaredL2(lit(q), lit(c)).eval() == ref, s"eval of $q, $c")
    }
  }

  test("graft_sq_l2 equals aggregate(zip_with(...)) on random arrays, codegen and eval") {
    val elem: Gen[java.lang.Long] = Gen.frequency(
      (12, Gen.choose(-3L, 3L).map(L)), (4, Gen.choose(-1L << 20, 1L << 20).map(L)),
      (1, Gen.const(null)))
    val arr = Gen.frequency(
      (12, Gen.choose(0, 6).flatMap(Gen.listOfN(_, elem))), (1, Gen.const(null)))
    checkProp(Prop.forAll(Gen.listOfN(40, Gen.zip(arr, arr))) { rs =>
      val got = both(pairs(rs), hofSqL2(col("q"), col("c")),
        RowFunctions.sqL2(col("q"), col("c")))
      val lit = (v: Seq[java.lang.Long]) => Literal.create(v, ArrayType(LongType))
      got.forall { case (ref, k) => ref == k } &&
        rs.zip(got).forall { case ((q, c), (ref, _)) => SquaredL2(lit(q), lit(c)).eval() == ref }
    }, minTests = 20)
  }

  /** The error condition of the first Spark arithmetic error in the
    * cause chain (a task failure may arrive wrapped). */
  private def condition(e: Throwable): String = e match {
    case a: ArithmeticException with SparkThrowable => a.getCondition
    case null => "no arithmetic error"
    case other => condition(other.getCause)
  }

  test("graft_sq_l2 overflow: raises ARITHMETIC_OVERFLOW under ANSI, wraps without, " +
    "following the session that runs the query") {
    val big = Long.MaxValue
    val rows = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (Seq(L(big)), Seq(L(-1))),                                  // subtract
      (Seq(L(4000000000L)), Seq(L(0))),                           // multiply
      (Seq(L(3000000000L), L(3000000000L)), Seq(L(0), L(0))),     // add
      (Seq(L(3000000000L), L(3000000000L), null), Seq(L(0), L(0), L(0))), // add, then null
      (Seq(null, L(3000000000L), L(3000000000L)), Seq(L(0), L(0), L(0))), // null first: no add
      (Seq(L(3000000000L), L(3000000000L), L(1)), Seq(L(0), L(0))))       // add, then padded
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    val active = SparkSession.getActiveSession
    // the columns are built while another session, in the opposite ANSI
    // mode, is active on this thread
    val other = spark.newSession()
    SparkSession.setActiveSession(other)
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      other.conf.set("spark.sql.ansi.enabled", "true")
      val wrapped = both(pairs(rows), hofSqL2(col("q"), col("c")),
        RowFunctions.sqL2(col("q"), col("c")))
      wrapped.foreach { case (ref, k) => assert(k == ref) }
      assert(wrapped(2)._2 == 9000000000000000000L * 2)
      spark.conf.set("spark.sql.ansi.enabled", "true")
      other.conf.set("spark.sql.ansi.enabled", "false")
      rows.zipWithIndex.foreach { case (r, i) =>
        val one = pairs(Seq(r))
        def outcome(c: Column): Either[String, Any] =
          try Right(one.select(c).head().get(0))
          catch { case e: Throwable => Left(condition(e)) }
        val ref = outcome(hofSqL2(col("q"), col("c")))
        assert(outcome(RowFunctions.sqL2(col("q"), col("c"))) == ref, s"row $i")
        if (i == 4) assert(ref == Right(null)) else assert(ref == Left("ARITHMETIC_OVERFLOW"))
      }
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", prior)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}
