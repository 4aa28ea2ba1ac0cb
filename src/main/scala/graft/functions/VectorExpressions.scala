package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd sequential dot product over two double arrays.
  *
  * The similarity operators originally used `aggregate(zip_with(...))` —
  * native higher-order functions, but interpreted per element (a lambda
  * call per multiply). This expression emits a tight fused loop inside
  * whole-stage codegen: ~10× less per-pair overhead, which is the
  * difference that matters when the ANN path scores millions of candidate
  * pairs per partition.
  *
  * Accumulation is strictly sequential left-to-right from 0.0 — bit-for-bit
  * the same result as the higher-order fold and as an independent engine's
  * sequential loop, so oracle parity is preserved.
  *
  * Array elements are assumed non-null (embedding columns); null *arrays*
  * propagate null via BinaryExpression's default null handling.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i   = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd MinHash signature: array<long> shingle hashes → array<long>
  * of k minima under the universal-hash family (a_j·h + b_j) mod p.
  *
  * The composable form — k nested `transform`/`array_min` higher-order
  * functions — evaluates a closure per (shingle × permutation); this fuses
  * the whole k×n loop into one generated method. Same arithmetic, same
  * result, ~10× less overhead on the dedup hot path.
  */
case class MinHashSig(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(a.length == b.length && a.nonEmpty)

  private lazy val aArr = a.toArray
  private lazy val bArr = b.toArray
  private def k         = a.length

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = Array.fill(k)(Long.MaxValue)
    val n   = arr.numElements()
    var i   = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (aArr(j) * h + bArr(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("out")
      val n   = ctx.freshName("n")
      val i   = ctx.freshName("i")
      val j   = ctx.freshName("j")
      val h   = ctx.freshName("h")
      val v   = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |long[] $out = new long[$k];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($aRef[$j] * $h + $bRef[$j]) % ${p}L;
         |    if ($v < $out[$j]) $out[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word k-gram shingles over a token array: n tokens → n-k+1 space-joined
  * k-grams (or one whole-string shingle when n < k — matching the
  * "short doc" fallback of the composable form).
  *
  * The composable form (`transform(sequence(...), i => array_join(slice(
  * toks, i, k), " "))`) pays an interpreted lambda + array slice allocation
  * per shingle — measured ~5 ms/doc on 300-token docs, which serializes
  * the whole dedup pipeline. This is one tight loop over UTF8Strings.
  */
case class WordKGrams(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k >= 1)

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_word_kgrams"

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.unsafe.types.UTF8String
    val arr = input.asInstanceOf[ArrayData]
    val n   = arr.numElements()
    val sep = UTF8String.fromString(" ")
    if (n < k) {
      val all = new Array[UTF8String](n)
      var i   = 0
      while (i < n) { all(i) = arr.getUTF8String(i); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.concatWs(sep, all: _*))
      )
    } else {
      val out = new Array[Any](n - k + 1)
      var i   = 0
      while (i <= n - k) {
        val parts = new Array[UTF8String](k)
        var j     = 0
        while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** IVF cell assignment as a map-side kernel: the id of the centroid
  * nearest to a double-array vector, over a centroid matrix small enough
  * to ship inside the expression (nCells × dim doubles).
  *
  * Replaces a crossJoin against the broadcast centroid table plus a
  * `min(struct(d, cell))` aggregate per vector: same distance, same op
  * order — `(v·v − 2.0·(v·c)) + Σc²` with DotProduct's sequential
  * left-to-right sums over min(|v|, |c|) elements — and the same argmin:
  * the smallest (d, cell) under SQL ordering (`SQLOrderingUtil`: -0.0 ==
  * 0.0, NaN above every number; a NULL vector makes every d NULL, and
  * NULL sorts first, so it lands in the smallest cell id). No centroids
  * gives NULL, the row the join would not have produced.
  */
case class NearestCell(child: Expression, cells: Seq[Long], cents: Seq[Seq[Double]], norms2: Seq[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(cells.length == cents.length && cells.length == norms2.length)

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean  = cells.isEmpty
  override def prettyName: String = "graft_nearest_cell"

  @transient private lazy val cellArr = cells.toArray
  @transient private lazy val centArr = cents.map(_.toArray).toArray
  @transient private lazy val normArr = norms2.toArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    if (cellArr.isEmpty) return null
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (v == null) return cellArr.min
    val n  = v.numElements()
    val vs = new Array[Double](n)
    var vv = 0.0
    var i  = 0
    while (i < n) { vs(i) = v.getDouble(i); vv += vs(i) * vs(i); i += 1 }
    var best  = -1L
    var bestD = 0.0
    var j     = 0
    while (j < cellArr.length) {
      val c  = centArr(j)
      val m  = math.min(n, c.length)
      var vc = 0.0
      i = 0
      while (i < m) { vc += vs(i) * c(i); i += 1 }
      val d   = vv - 2.0 * vc + normArr(j)
      val cmp = if (j == 0) -1 else SQLOrderingUtil.compareDoubles(d, bestD)
      if (cmp < 0 || (cmp == 0 && cellArr(j) < best)) { best = cellArr(j); bestD = d }
      j += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def minhashSig(hashedShingles: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(hashedShingles), a, b, p))

  def wordKGrams(tokens: Column, k: Int): Column =
    ColumnBridge.column(WordKGrams(ColumnBridge.expression(tokens), k))

  def nearestCell(vec: Column, cells: Seq[Long], cents: Seq[Seq[Double]], norms2: Seq[Double]): Column =
    ColumnBridge.column(NearestCell(ColumnBridge.expression(vec), cells, cents, norms2))
}
