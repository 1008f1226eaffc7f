package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd vector kernels for the similarity operators.
  *
  * The portable formulation (`aggregate(zip_with(...))`) is evaluated
  * through the higher-order-function interpreter — a lambda dispatch per
  * element, which dominates the N·|Q|·d pairwise scoring loop. These
  * native Catalyst expressions emit a tight Java loop inside whole-stage
  * codegen instead, with the SAME summation order (index order, double
  * accumulation, IEEE-754), so results are bit-identical to the HOF
  * form and to the DuckDB oracle's `list_sum(list_transform(...))`.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a float vector — sqrt of the index-order sum of squares
  * (bit-identical to `sqrt(aggregate(transform(...)))`).
  */
case class L2NormF(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm_f"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $x.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[DotProductF]] over `array<double>` inputs — the residual-space
  * kernel (residuals are exact `float − float` doubles). Same index
  * order, same double accumulation: bit-identical to the HOF
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaces, which the
  * higher-order-function interpreter evaluates with a lambda dispatch
  * (and an ArrayData allocation) per element — the dominant cost of
  * the residual-PQ argmin, which reads ~3·m·|book| dots per row.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_d"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Winner of a per-row nearest-centroid scan over a DRIVER-HELD
  * centroid matrix: `struct(sim, tie, cell)` of the centroid
  * maximizing cosine similarity, ties to the smaller id — bit-identical
  * to `greatest(struct(cosine(v, c₁), -id₁, id₁), …)` over folded
  * per-centroid literals, and to the broadcast-crossJoin
  * `max(struct(sim, tie, …))` aggregate (same index-order double dot,
  * same norm product, same division, same `Double.compare` total
  * order with ties to the smaller id; `max`/`greatest` keep the first
  * of equals and the centroids scan in ascending id here).
  *
  * Why it exists (guide §1.2 step 2 / §4-equivalent for Scala): the
  * folded-literal tree is C·dim expression nodes — past the JIT's
  * 8 KB method ceiling it runs in the INTERPRETED expression path
  * (no common-subexpression elimination, a struct allocation and a
  * boxed comparison per centroid per row); the crossJoin form
  * shuffles N·C struct rows carrying the vector. This expression is
  * one tight generated loop over a reference-object `float[][]` —
  * whole-stage-codegen-friendly at ANY centroid count, so the
  * FoldedCentroidLimit plan-size wall no longer binds assignment.
  */
case class CentroidArgminF(child: Expression, ids: Array[Long],
    cents: Array[Array[Float]], norms: Array[Double])
    extends UnaryExpression {
  import org.apache.spark.sql.types._

  require(ids.nonEmpty && ids.length == cents.length &&
    ids.length == norms.length, "centroid arrays must align")

  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("tie", LongType, nullable = false),
    StructField("cell", LongType, nullable = false)))
  override def prettyName: String = "centroid_argmin_f"

  /** Index of the winning centroid and its sim: the interpreted loop. */
  private def winner(v: ArrayData): (Int, Double) = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; s += x * x; i += 1 }
    val vn = math.sqrt(s)
    var best = -1
    var bestSim = 0.0
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      val m = math.min(n, ce.length)
      var d = 0.0
      var j = 0
      while (j < m) { d += v.getFloat(j).toDouble * ce(j).toDouble; j += 1 }
      val sim = d / (vn * norms(c))
      if (best < 0 || java.lang.Double.compare(sim, bestSim) > 0) {
        bestSim = sim; best = c
      }
      c += 1
    }
    (best, bestSim)
  }

  /** The winning `cell` of a non-null vector, outside any plan (the
    * Lloyd rounds' tasks call it on checkpointed rows).
    */
  def cellOf(v: ArrayData): Long = ids(winner(v)._1)

  override protected def nullSafeEval(a: Any): Any = {
    val (best, bestSim) = winner(a.asInstanceOf[ArrayData])
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestSim, -ids(best), ids(best)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
      val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
      val normsRef = ctx.addReferenceObj("norms", norms, "double[]")
      val n = ctx.freshName("n")
      val vn = ctx.freshName("vn")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val ce = ctx.freshName("ce")
      val d = ctx.freshName("d")
      val m = ctx.freshName("m")
      val sim = ctx.freshName("sim")
      val best = ctx.freshName("best")
      val bestSim = ctx.freshName("bestSim")
      s"""
         |int $n = $v.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double __x = (double) $v.getFloat($i);
         |  $s += __x * __x;
         |}
         |double $vn = java.lang.Math.sqrt($s);
         |int $best = -1;
         |double $bestSim = 0.0;
         |for (int $c = 0; $c < $centsRef.length; $c++) {
         |  float[] $ce = $centsRef[$c];
         |  int $m = java.lang.Math.min($n, $ce.length);
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $d += (double) $v.getFloat($i) * (double) $ce[$i];
         |  }
         |  double $sim = $d / ($vn * $normsRef[$c]);
         |  if ($best < 0 || java.lang.Double.compare($sim, $bestSim) > 0) {
         |    $bestSim = $sim; $best = $c;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ $bestSim, -$idsRef[$best], $idsRef[$best] });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-codebook-entry id by squared L2 over a driver-held
  * per-subspace codebook — bit-identical to
  * `greatest(struct(-dist2(v, e₁), -id₁, id₁), …)` with
  * `dist2(a,b) = dot(a,a) − 2·dot(a,b) + dot(b,b)` in index-order
  * double math (the `b·b` term precomputed at construction with the
  * same loop, as constant folding did for the literal form). Ties to
  * the smaller id; entries scan in ascending id.
  */
case class PqArgminF(child: Expression, ids: Array[Long],
    entries: Array[Array[Float]], selfDots: Array[Double])
    extends UnaryExpression {
  import org.apache.spark.sql.types._

  require(ids.nonEmpty && ids.length == entries.length &&
    ids.length == selfDots.length, "codebook arrays must align")

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_argmin_f"

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    var s1 = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; s1 += x * x; i += 1 }
    var best = -1
    var bestNegd = 0.0
    var c = 0
    while (c < entries.length) {
      val ce = entries(c)
      val m = math.min(n, ce.length)
      var s2 = 0.0
      var j = 0
      while (j < m) { s2 += v.getFloat(j).toDouble * ce(j).toDouble; j += 1 }
      val negd = -(s1 - 2.0 * s2 + selfDots(c))
      if (best < 0 || java.lang.Double.compare(negd, bestNegd) > 0) {
        bestNegd = negd; best = c
      }
      c += 1
    }
    ids(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val entriesRef = ctx.addReferenceObj("entries", entries, "float[][]")
      val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
      val sdRef = ctx.addReferenceObj("selfDots", selfDots, "double[]")
      val n = ctx.freshName("n")
      val s1 = ctx.freshName("s1")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val ce = ctx.freshName("ce")
      val m = ctx.freshName("m")
      val s2 = ctx.freshName("s2")
      val negd = ctx.freshName("negd")
      val best = ctx.freshName("best")
      val bestNegd = ctx.freshName("bestNegd")
      s"""
         |int $n = $v.numElements();
         |double $s1 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double __x = (double) $v.getFloat($i);
         |  $s1 += __x * __x;
         |}
         |int $best = -1;
         |double $bestNegd = 0.0;
         |for (int $c = 0; $c < $entriesRef.length; $c++) {
         |  float[] $ce = $entriesRef[$c];
         |  int $m = java.lang.Math.min($n, $ce.length);
         |  double $s2 = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $s2 += (double) $v.getFloat($i) * (double) $ce[$i];
         |  }
         |  double $negd = -($s1 - 2.0 * $s2 + $sdRef[$c]);
         |  if ($best < 0 || java.lang.Double.compare($negd, $bestNegd) > 0) {
         |    $bestNegd = $negd; $best = $c;
         |  }
         |}
         |${ev.value} = $idsRef[$best];
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[PqArgminF]] over `array<double>` input and a double codebook —
  * the residual-space kernel (`dist2D` semantics).
  */
case class PqArgminD(child: Expression, ids: Array[Long],
    entries: Array[Array[Double]], selfDots: Array[Double])
    extends UnaryExpression {
  import org.apache.spark.sql.types._

  require(ids.nonEmpty && ids.length == entries.length &&
    ids.length == selfDots.length, "codebook arrays must align")

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_argmin_d"

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    var s1 = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); s1 += x * x; i += 1 }
    var best = -1
    var bestNegd = 0.0
    var c = 0
    while (c < entries.length) {
      val ce = entries(c)
      val m = math.min(n, ce.length)
      var s2 = 0.0
      var j = 0
      while (j < m) { s2 += v.getDouble(j) * ce(j); j += 1 }
      val negd = -(s1 - 2.0 * s2 + selfDots(c))
      if (best < 0 || java.lang.Double.compare(negd, bestNegd) > 0) {
        bestNegd = negd; best = c
      }
      c += 1
    }
    ids(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val entriesRef = ctx.addReferenceObj("entries", entries, "double[][]")
      val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
      val sdRef = ctx.addReferenceObj("selfDots", selfDots, "double[]")
      val n = ctx.freshName("n")
      val s1 = ctx.freshName("s1")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val ce = ctx.freshName("ce")
      val m = ctx.freshName("m")
      val s2 = ctx.freshName("s2")
      val negd = ctx.freshName("negd")
      val best = ctx.freshName("best")
      val bestNegd = ctx.freshName("bestNegd")
      s"""
         |int $n = $v.numElements();
         |double $s1 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double __x = $v.getDouble($i);
         |  $s1 += __x * __x;
         |}
         |int $best = -1;
         |double $bestNegd = 0.0;
         |for (int $c = 0; $c < $entriesRef.length; $c++) {
         |  double[] $ce = $entriesRef[$c];
         |  int $m = java.lang.Math.min($n, $ce.length);
         |  double $s2 = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $s2 += $v.getDouble($i) * $ce[$i];
         |  }
         |  double $negd = -($s1 - 2.0 * $s2 + $sdRef[$c]);
         |  if ($best < 0 || java.lang.Double.compare($negd, $bestNegd) > 0) {
         |    $bestNegd = $negd; $best = $c;
         |  }
         |}
         |${ev.value} = $idsRef[$best];
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** dot(a, b) over array<float> columns, as double. */
  def dotF(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductF(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** dot(a, b) over array<double> columns, as double. */
  def dotD(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductD(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** |a|₂ over an array<float> column, as double. */
  def l2normF(a: Column): Column =
    ColumnBridge.column(L2NormF(ColumnBridge.expression(a)))

  /** Nearest-centroid winner `struct(sim, tie, cell)` by cosine over a
    * driver-held centroid set; ties to the smaller id (sorted here, so
    * callers may pass any order).
    */
  def centroidArgminF(vec: Column, cents: Seq[(Long, Seq[Float])]): Column =
    ColumnBridge.column(centroidArgminKernel(cents)
      .withNewChildren(Seq(ColumnBridge.expression(vec))))

  /** The [[CentroidArgminF]] kernel over `cents` (sorted by id, norms
    * precomputed), bound to column 0 of an `array<float>` row.
    */
  def centroidArgminKernel(cents: Seq[(Long, Seq[Float])]): CentroidArgminF = {
    val sorted = cents.sortBy(_._1)
    val norms = sorted.map { case (_, ce) =>
      // EXACTLY l2normF's loop (float→double square sum in index order)
      var s = 0.0
      var i = 0
      while (i < ce.length) { val x = ce(i).toDouble; s += x * x; i += 1 }
      math.sqrt(s)
    }.toArray
    CentroidArgminF(BoundReference(0, ArrayType(FloatType), nullable = true),
      sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray, norms)
  }

  /** Nearest-entry id by squared L2 over a float codebook; ties to the
    * smaller id.
    */
  def pqArgminF(vslice: Column, entries: Seq[(Long, Array[Float])]): Column = {
    val sorted = entries.sortBy(_._1)
    val selfDots = sorted.map { case (_, ce) =>
      // EXACTLY dotF(ce, ce): index-order double products
      var s = 0.0
      var i = 0
      while (i < ce.length) { val x = ce(i).toDouble; s += x * x; i += 1 }
      s
    }.toArray
    ColumnBridge.column(PqArgminF(ColumnBridge.expression(vslice),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray, selfDots))
  }

  /** [[pqArgminF]] over a residual-space (double) codebook. */
  def pqArgminD(vslice: Column, entries: Seq[(Long, Array[Double])]): Column = {
    val sorted = entries.sortBy(_._1)
    val selfDots = sorted.map { case (_, ce) =>
      var s = 0.0
      var i = 0
      while (i < ce.length) { val x = ce(i); s += x * x; i += 1 }
      s
    }.toArray
    ColumnBridge.column(PqArgminD(ColumnBridge.expression(vslice),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray, selfDots))
  }
}
