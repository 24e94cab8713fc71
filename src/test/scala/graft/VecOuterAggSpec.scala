package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.VecOuterAgg

/** The exact moment kernel driven directly — update, serialize,
  * deserialize, merge, eval — against a BigInt reference, no Spark. */
class VecOuterAggSpec extends AnyFunSuite {
  private val Ceiling = BigInt(10).pow(38)

  private def kernel(d: Int) =
    VecOuterAgg(BoundReference(0, ArrayType(LongType, containsNull = false),
      nullable = true), d)

  private def update(k: VecOuterAgg, buf: Array[Long], x: Seq[Long]) =
    k.update(buf, InternalRow(ArrayData.toArrayData(x.toArray)))

  private def cellsOf(k: VecOuterAgg, buf: Array[Long]): Seq[BigInt] = {
    val out = k.eval(buf).asInstanceOf[ArrayData]
    (0 until out.numElements()).map(i =>
      BigInt(out.getDecimal(i, 38, 0).toJavaBigDecimal.toBigIntegerExact))
  }

  /** One buffer per split, each shipped through serialize/deserialize
    * as a partial aggregate is, then merged in `order`. */
  private def run(d: Int, splits: Seq[Seq[Seq[Long]]], order: Seq[Int]): Seq[BigInt] = {
    val k = kernel(d)
    val shipped = splits.map { part =>
      k.deserialize(k.serialize(
        part.foldLeft(k.createAggregationBuffer())(update(k, _, _))))
    }
    cellsOf(k, order.map(shipped).foldLeft(k.createAggregationBuffer())(k.merge))
  }

  /** Each cell's terms in the kernel's cell order: n, per-axis sums, then
    * the upper-triangle products row-major. */
  private def terms(d: Int, rows: Seq[Seq[Long]]): Seq[Seq[BigInt]] = {
    val pairs = for (i <- 0 until d; j <- i until d) yield (i, j)
    pairs.zipWithIndex.foreach { case ((i, j), k) =>
      assert(VecOuterAgg.triOff(d, i, j) == 1 + d + k)
    }
    Seq(rows.map(_ => BigInt(1))) ++
      (0 until d).map(i => rows.map(r => BigInt(r(i)))) ++
      pairs.map { case (i, j) => rows.map(r => BigInt(r(i)) * BigInt(r(j))) }
  }

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(400), p)
    assert(res.passed, Pretty.pretty(res))
  }

  private val edges = Seq(Long.MinValue, Long.MaxValue, 1L << 31, -(1L << 31),
    1L << 62, -(1L << 62), 0L, 1L, -1L)

  /** Rows, a random split of them into 1..4 partial buffers, and a
    * random merge order. */
  private def input(value: Gen[Long], maxRows: Int) = for {
    d <- Gen.choose(1, 4)
    n <- Gen.choose(0, maxRows)
    rows <- Gen.listOfN(n, Gen.listOfN(d, value))
    k <- Gen.choose(1, 4)
    ids <- Gen.listOfN(n, Gen.choose(0, k - 1))
    seed <- Gen.long
  } yield (d, rows, (0 until k).map(s => rows.zip(ids).collect { case (r, `s`) => r }),
    new scala.util.Random(seed).shuffle((0 until k).toList))

  test("exact on any split and merge order while every cell fits (|x| ≤ 2^62)") {
    // ≤ 4 rows at |x| ≤ 2⁶²: Σ|xᵢxⱼ| ≤ 2¹²⁶ < 10³⁸, so no cell can leave
    // DECIMAL(38,0) in any order — the kernel must be exact, with sums
    // and products well past 2⁶³
    val value = Gen.frequency(
      3 -> Gen.oneOf(edges.filter(x => x != Long.MinValue && x != Long.MaxValue)),
      3 -> Gen.chooseNum(-(1L << 62), 1L << 62),
      2 -> Gen.chooseNum(-1000L, 1000L))
    check(Prop.forAllNoShrink(input(value, 4)) { case (d, rows, splits, order) =>
      run(d, splits, order) == terms(d, rows).map(_.sum)
    })
  }

  test("full long range: exact, or ArithmeticException past 38 digits") {
    val value = Gen.frequency(
      3 -> Gen.oneOf(edges),
      3 -> Gen.chooseNum(Long.MinValue, Long.MaxValue),
      2 -> Gen.chooseNum(-(1L << 40), 1L << 40))
    check(Prop.forAllNoShrink(input(value, 10)) { case (d, rows, splits, order) =>
      val cells = terms(d, rows)
      val exact = cells.map(_.sum)
      val got = scala.util.Try(run(d, splits, order))
      val threw = got.failed.toOption.exists(_.isInstanceOf[ArithmeticException])
      if (cells.forall(_.map(_.abs).sum < Ceiling)) got.toOption.contains(exact)
      else if (exact.exists(_.abs >= Ceiling)) threw // the final add leaves it
      else threw || got.toOption.contains(exact) // a partial may leave it first
    })
  }

  test("10^38 boundary: the last representable sum passes, the next throws") {
    // squares of longs summing to exactly 10³⁸ − 1 (greedy from the top)
    val xs = Iterator.iterate((Ceiling - 1, Option.empty[Long])) { case (rest, _) =>
      val a = BigInt(rest.bigInteger.sqrt()).min(BigInt(Long.MaxValue))
      (rest - a * a, Some(a.toLong))
    }.drop(1).takeWhile(_._2.exists(_ > 0)).map(_._2.get).toSeq
    assert(xs.map(x => BigInt(x) * x).sum == Ceiling - 1)
    val k = kernel(1)
    def fill(rows: Seq[Long]) =
      rows.foldLeft(k.createAggregationBuffer())((b, x) => update(k, b, Seq(x)))
    assert(cellsOf(k, fill(xs))(2) == Ceiling - 1)
    val e = intercept[ArithmeticException](update(k, fill(xs), Seq(1L)))
    assert(e.getMessage.contains("cell 2"), e.getMessage)
    // the same boundary met in a merge of two partials
    val (h1, h2) = xs.splitAt(xs.length / 2)
    assert(cellsOf(k, k.merge(fill(h1), fill(h2)))(2) == Ceiling - 1)
    intercept[ArithmeticException](k.merge(fill(xs), fill(Seq(1L))))
    // a square of 2¹²⁶ on top would carry the true sum past 2¹²⁷: it must
    // throw, not wrap into a negative 128-bit value
    intercept[ArithmeticException](update(k, fill(xs), Seq(Long.MinValue)))
    // the negative side: −(10³⁸ − 1) holds, one less throws
    val k2 = kernel(2)
    val neg = xs.foldLeft(k2.createAggregationBuffer())((b, x) => update(k2, b, Seq(x, -x)))
    assert(cellsOf(k2, neg).drop(3) == Seq(Ceiling - 1, -(Ceiling - 1), Ceiling - 1))
    val one = Array(0L, 0L)
    VecOuterAgg.add(one, 0, (-(Ceiling - 1) >> 64).toLong, (-(Ceiling - 1)).toLong)
    assert(BigInt(VecOuterAgg.decimal(one(0), one(1)).toJavaBigDecimal
      .toBigIntegerExact) == -(Ceiling - 1))
    intercept[ArithmeticException](VecOuterAgg.add(one, 0, -1L, -1L))
  }

  test("no dimension cap beyond one JVM array; ragged and null rows refused") {
    kernel(2048)
    intercept[IllegalArgumentException](kernel(0))
    intercept[IllegalArgumentException](kernel(20000))
    val k = kernel(2)
    intercept[IllegalArgumentException](
      update(k, k.createAggregationBuffer(), Seq(1L, 2L, 3L)))
    val withNull = InternalRow(new GenericArrayData(Array[Any](1L, null)))
    intercept[IllegalArgumentException](k.update(k.createAggregationBuffer(), withNull))
  }
}
