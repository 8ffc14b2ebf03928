package graft.search

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The score-mode rounding rule, with no Spark: the plan evaluator, the
  * queryNorm recursion and explain compute in float64 and round every `+`,
  * `-` and `*` through `ScoreMode.round`, so Ref32 is float32 arithmetic
  * only if that rounding reproduces float32 operations exactly.
  */
class ScoreModeSpec extends AnyFunSuite {

  /** Every finite float, uniform over bit patterns (all exponents,
    * subnormals and both zeros), mixed with small-magnitude values whose
    * sums and differences cancel and round the way clause scores do.
    */
  private val finite: Gen[Float] = Gen.frequency(
    1 -> Gen.choose(Int.MinValue, Int.MaxValue).map(java.lang.Float.intBitsToFloat)
      .suchThat(f => !f.isNaN && !f.isInfinite),
    1 -> Gen.choose(-64.0, 64.0).map(_.toFloat))

  private def same(x: Double, y: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(200000)
      .withInitialSeed(Seed(20261018L)).withWorkers(1), p)
    assert(r.passed, r.status)
  }

  test("Ref32 rounding reproduces float32 +, - and * bit for bit (property)") {
    val m = ScoreMode.Ref32
    check(Prop.forAll(finite, finite) { (a: Float, b: Float) =>
      val (x, y) = (a.toDouble, b.toDouble)
      Prop(same(m.round(x + y), (a + b).toDouble)) :| s"$a + $b" &&
        Prop(same(m.round(x - y), (a - b).toDouble)) :| s"$a - $b" &&
        Prop(same(m.round(x * y), (a * b).toDouble)) :| s"$a * $b"
    })
  }

  test("ExactDouble rounding leaves float64 results unchanged (property)") {
    check(Prop.forAll(Gen.choose(-1e300, 1e300)) { (x: Double) =>
      same(ScoreMode.ExactDouble.round(x), x)
    })
  }
}
