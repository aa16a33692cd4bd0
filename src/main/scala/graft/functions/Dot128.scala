package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, LongType}

/** Exact dot product of two ARRAY<BIGINT> vectors as DECIMAL(38,0) —
  * the map-side replacement for the Lloyd assignment's relational
  * formulation (explode to (pos, vi) rows, 16-way broadcast-join fanout
  * on pos, then `sum(cast(vi as decimal(38,0)) * si)` per (vector,
  * centroid) pair in a hash aggregate).
  *
  * Semantics are EXACTLY the relational pipeline's, so every consumer's
  * results are bit-identical and the DuckDB oracles replay unchanged:
  *
  *  - pairs are matched positionally (the join on pos);
  *  - a NULL element on either side contributes nothing (a NULL decimal
  *    product is skipped by SUM);
  *  - if NO pair contributes — empty arrays, or every pair NULL — the
  *    result is NULL (SUM over zero rows or over NULL products); an
  *    empty vector has no (vec, centroid) group at all in the
  *    relational form, so callers drop empty vectors before the call
  *    (Similarity.centroidScores);
  *  - mismatched lengths throw: the relational join would silently
  *    intersect positions, but unequal vector lengths here mean
  *    corrupted input and the library's vector kernels fail loudly
  *    (the cosine_sim precedent);
  *  - the accumulation is a signed 128-bit integer (multiplyHigh — the
  *    Mix61 discipline), mathematically exact for every reachable
  *    input; the result is range-checked against DECIMAL(38,0) exactly
  *    where the relational sum's ANSI CheckOverflow would throw. (The
  *    int128 path is actually exact up to 2^127 where per-row decimal
  *    partials could overflow transiently; inputs past 10^38 throw
  *    either way, so no reachable value diverges.)
  *
  * Why it exists (OPTIMIZATION_r16.md): per Lloyd round the relational
  * form materializes |corpus|·k joined rows through a hash aggregate
  * with a DECIMAL(38,0) buffer — at every scale that is k rows of
  * exchange-to-aggregate machinery per vector for a value one fused
  * loop computes in-register. Map-side assignment against a broadcast
  * codebook is also the canonical production IVF shape (the corpus
  * never shuffles to be assigned).
  */
case class Dot128(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot128 expects two array<bigint> sides, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DecimalType(38, 0)
  override def nullIntolerant: Boolean = true
  // NULL even from non-null children (the empty/all-NULL-pairs case),
  // so the analyzer must not infer a not-null constraint from inputs
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Dot128.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"""
        ${ev.value} = graft.functions.Dot128.dot($x, $y);
        ${ev.isNull} = (${ev.value} == null);
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Dot128 {

  // |DECIMAL(38,0)| bound = 10^38 - 1 as int128 (hi, lo): the exact
  // threshold where the relational decimal sum's CheckOverflow throws.
  // 10^38 = 0x4B3B4CA85A86C47A_098A224000000000.
  private val Bound = java.math.BigInteger.TEN.pow(38)
  private val BoundHi = 0x4B3B4CA85A86C47AL
  private val BoundLo = 0x098A224000000000L

  /** Exact positional dot product; NULL when no pair contributes.
    * Called from both the interpreted and the generated path (one
    * body, the CosineSimilarity discipline). */
  def dot(x: ArrayData, y: ArrayData): org.apache.spark.sql.types.Decimal = {
    val nx = x.numElements()
    val ny = y.numElements()
    if (nx != ny) throw new IllegalArgumentException(
      s"dot128: vector length mismatch ($nx vs $ny)")
    var hi = 0L
    var lo = 0L
    var contributed = false
    var i = 0
    while (i < nx) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val a = x.getLong(i)
        val b = y.getLong(i)
        // exact 128-bit product, then 128-bit add with carry
        val pLo = a * b
        val pHi = java.lang.Math.multiplyHigh(a, b)
        val sLo = lo + pLo
        // unsigned carry-out of the low-word add: sLo wrapped below lo
        val carry =
          if (java.lang.Long.compareUnsigned(sLo, lo) < 0) 1L else 0L
        val sHi = hi + pHi + carry
        // signed-128 overflow: same-sign addends, different-sign sum.
        // Unreachable below 2^127 > 10^38, where the range check below
        // throws first — this guard only closes the silent-wrap window
        // between the two bounds.
        if ((~(hi ^ pHi) & (hi ^ sHi)) < 0)
          throw new ArithmeticException(
            "dot128: result out of DECIMAL(38,0) range")
        hi = sHi
        lo = sLo
        contributed = true
      }
      i += 1
    }
    if (!contributed) return null
    // range check against 10^38 (|v| >= 10^38 throws, like the decimal
    // sum's ANSI CheckOverflow). Compare as sign-magnitude.
    val neg = hi < 0
    var mHi = hi
    var mLo = lo
    if (neg) { // two's-complement negate (hi, lo)
      mLo = -lo
      mHi = if (lo == 0L) -hi else ~hi
    }
    // mHi < 0 means |v| >= 2^127 (the -2^127 edge negation can't fix);
    // both are far past 10^38 either way
    if (mHi < 0 || mHi > BoundHi || (mHi == BoundHi &&
        java.lang.Long.compareUnsigned(mLo, BoundLo) >= 0))
      throw new ArithmeticException(
        "dot128: result out of DECIMAL(38,0) range")
    // materialize the exact value. Fast path: fits in a signed long
    // (mHi == 0 and mLo's sign bit clear in magnitude form).
    if (mHi == 0L && mLo >= 0L)
      org.apache.spark.sql.types.Decimal(if (neg) -mLo else mLo)
    else {
      val big = java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(new java.math.BigInteger(1, {
          val bs = new Array[Byte](8)
          var v = lo
          var j = 7
          while (j >= 0) { bs(j) = (v & 0xFF).toByte; v >>>= 8; j -= 1 }
          bs
        }))
      require(big.abs.compareTo(Bound) < 0) // defense in depth
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(big), 38, 0)
    }
  }
}
