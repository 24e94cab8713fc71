package graft.expr

import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * EXACT second-moment aggregate for integer vectors — the one moment
 * pass of `covCells` / `embeddingCka` (see `graft.pipeline.CorpusStats`)
 * and of `DistDrift.spearman`.
 *
 * The HOF/explode formulation generates n·d² (i, j, xᵢ·xⱼ) rows through
 * two `posexplode`s and hash-aggregates them into d² cells as
 * DECIMAL(38,0) sums. This aggregate runs the whole outer-product
 * accumulation as ONE tight JVM loop per row — upper triangle only (the
 * Gram matrix is symmetric) — and returns the same integers.
 *
 * EXACTNESS: every cell is a signed 128-bit integer kept as a (hi, lo)
 * long pair. A product of two longs is exact in 128 bits
 * (`Math.multiplyHigh` gives its high word) and sums add with an
 * unsigned carry, so nothing wraps and summation order cannot matter.
 * A cell whose running value leaves 38 digits (|v| ≥ 10³⁸) throws
 * `ArithmeticException` — the ceiling ANSI puts on the DECIMAL(38,0)
 * sums.
 *
 * Buffer layout: [n, s₀..s_{d-1}, c₀₀, c₀₁.., c₀_{d-1}, c₁₁..,
 * c_{d-1,d-1}] — count, per-axis sums, upper-triangular products
 * row-major; 1 + d + d(d+1)/2 cells, each stored as two longs (hi, lo).
 * `eval` returns the cells as ARRAY<DECIMAL(38,0)>.
 *
 * A row whose array length ≠ d, or with a null element, throws loudly —
 * a zero-filled or null-skipped row would skew the moments while n
 * counts it (the ragged-corpus discipline: callers probe dims first).
 */
case class VecOuterAgg(
    child: Expression,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val nCells = VecOuterAgg.cells(d)
  // serialize writes 16 bytes a cell into one JVM byte array
  require(d >= 1 && nCells * 16L <= Int.MaxValue,
    s"VecOuterAgg: d=$d — the moment buffer must fit one JVM array")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(DecimalType(38, 0), containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](2 * nCells.toInt)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() != d)
        throw new IllegalArgumentException(
          s"VecOuterAgg: row has ${arr.numElements()} elements, expected $d " +
            "— probe dims before the moment pass")
      // copy once with a LOUD null check, then run the outer product on
      // a local array (no per-element ArrayData virtual calls in the
      // inner loop)
      val x = new Array[Long](d)
      var i = 0
      while (i < d) {
        if (arr.isNullAt(i))
          throw new IllegalArgumentException(
            "VecOuterAgg: null vector element — filter null elements " +
              "before the moment pass")
        x(i) = arr.getLong(i)
        i += 1
      }
      VecOuterAgg.add(buf, 0, 0L, 1L)
      i = 0
      var off = 1 + d
      while (i < d) {
        val xi = x(i)
        VecOuterAgg.add(buf, 1 + i, xi >> 63, xi)
        var j = i
        while (j < d) {
          val xj = x(j)
          VecOuterAgg.add(buf, off, Math.multiplyHigh(xi, xj), xi * xj)
          off += 1
          j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var c = 0
    while (c < b.length / 2) {
      VecOuterAgg.add(a, c, b(2 * c), b(2 * c + 1))
      c += 1
    }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[AnyRef](buf.length / 2)
    var c = 0
    while (c < out.length) {
      out(c) = VecOuterAgg.decimal(buf(2 * c), buf(2 * c + 1))
      c += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecOuterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecOuterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecOuterAgg =
    copy(child = newChildren.head)
}

object VecOuterAgg {
  /** Number of moment cells for dimension d: count, d sums, d(d+1)/2
    * upper-triangle products. */
  def cells(d: Int): Long = 1L + d + d.toLong * (d + 1) / 2

  /** 10³⁸ as a (hi, lo) pair: the first magnitude DECIMAL(38,0) cannot
    * hold; −10³⁸ is (−CeilHi − 1, −CeilLo). */
  private val Ceiling = BigInteger.TEN.pow(38)
  private val CeilHi = Ceiling.shiftRight(64).longValue
  private val CeilLo = Ceiling.longValue
  private val LowWord = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  // (aHi, aLo) < (bHi, bLo) as signed 128-bit integers
  private def lt(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Boolean =
    aHi < bHi || (aHi == bHi && java.lang.Long.compareUnsigned(aLo, bLo) < 0)

  /** Adds the signed 128-bit (hi, lo) to cell c of `buf`; throws when
    * the sum leaves 38 digits. The addend is a product of two longs
    * (|v| ≤ 2¹²⁶) or another cell (|v| < 10³⁸), so the true sum stays
    * under 2·10³⁸: a 128-bit wrap lands at least 2¹²⁸ − 2·10³⁸ > 10³⁸
    * from zero, and the range test catches it too. */
  private[graft] def add(buf: Array[Long], c: Int, hi: Long, lo: Long): Unit = {
    val k = 2 * c
    val sHi = buf(k)
    val sLo = buf(k + 1)
    val rLo = sLo + lo
    // carry out of the unsigned low-word add, branch-free (a product's
    // low word carries at random; a branch here mispredicts)
    val rHi = sHi + hi + (((sLo & lo) | ((sLo | lo) & ~rLo)) >>> 63)
    // one unsigned compare passes every hi word in [−CeilHi, CeilHi),
    // which keeps the value inside ±10³⁸; only the rest compare exactly
    if (java.lang.Long.compareUnsigned(rHi + CeilHi, 2 * CeilHi) >= 0 &&
        (!lt(rHi, rLo, CeilHi, CeilLo) || !lt(-CeilHi - 1, -CeilLo, rHi, rLo)))
      throw new ArithmeticException(
        s"VecOuterAgg: moment cell $c overflows DECIMAL(38,0)")
    buf(k) = rHi
    buf(k + 1) = rLo
  }

  /** The signed 128-bit (hi, lo) as a DECIMAL(38,0) value. */
  private[graft] def decimal(hi: Long, lo: Long): Decimal =
    Decimal(new java.math.BigDecimal(BigInteger.valueOf(hi).shiftLeft(64)
      .add(BigInteger.valueOf(lo).and(LowWord))), 38, 0)

  /** Upper-triangle offset of cell (i, j), i ≤ j, within the eval array
    * (AFTER the [n, sums] prefix): row-major over j ≥ i. */
  def triOff(d: Int, i: Int, j: Int): Int =
    1 + d + i * d - i * (i - 1) / 2 + (j - i)
}
