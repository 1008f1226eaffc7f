package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the portable-hash dedup operators.
  *
  * Semantics are IDENTICAL to the HOF formulations in
  * [[graft.pipeline.TextFunctions]] (and therefore to the DuckDB
  * oracles): hash60(s) = first 15 hex digits of md5(s) as a 60-bit
  * long. The HOF path pays an interpreted lambda dispatch per element
  * AND recomputes md5 once per MinHash permutation; these kernels run
  * one compiled loop with one md5 per element. CodegenFallback costs
  * one virtual call per ROW (not per element), which is noise next to
  * the per-element digest work.
  */
object HashKernels {

  val P: Long = 2147483647L

  /** hash60: first 8 md5 bytes big-endian, dropped low nibble. */
  def hash60(md: MessageDigest, s: UTF8String): Long = {
    md.reset()
    top60(md.digest(s.getBytes))
  }

  private def top60(d: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  private val md5s: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** hash60 of raw bytes — `conv(substring(md5(b), 1, 15), 16, 10)`
    * as a long — on this thread's digest.
    */
  def hash60(bytes: Array[Byte]): Long = {
    val md = md5s.get()
    md.reset()
    top60(md.digest(bytes))
  }

  /** `hash60(x) % m` for every element of a string array; a null
    * element stays null.
    */
  def hash60Mod(arr: ArrayData, m: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    val md = md5s.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) out(i) = hash60(md, arr.getUTF8String(i)) % m
      i += 1
    }
    new GenericArrayData(out)
  }

  private val signSalt = "fs".getBytes("UTF-8")

  /** Signed feature-hash vector of a string array (Weinberger et al.
    * 2009): each non-empty feature f adds +1 to slot `hash60(f) % dim`
    * if `hash60("fs" ‖ f)` is even, −1 if odd; null and empty features
    * are skipped. The slot sums are exact integers cast once to float.
    * A null array gives `dim` nulls, as the per-slot HOF formulation
    * (`transform(sequence(0, dim − 1), j => aggregate(…))`) does.
    */
  def hashedDocVector(feats: ArrayData, dim: Int): ArrayData =
    if (feats == null) new GenericArrayData(new Array[Any](dim))
    else {
      val sums = new Array[Long](dim)
      val md = md5s.get()
      var i = 0
      while (i < feats.numElements()) {
        if (!feats.isNullAt(i)) {
          val f = feats.getUTF8String(i)
          if (f.numBytes() > 0) {
            val b = (hash60(md, f) % dim).toInt
            md.reset()
            md.update(signSalt)
            md.update(f.getBytes)
            sums(b) += (if (top60(md.digest()) % 2 == 0) 1L else -1L)
          }
        }
        i += 1
      }
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) { out(j) = sums(j).toFloat; j += 1 }
      ArrayData.toArrayData(out)
    }
}

/** [[HashKernels.hash60]] of a string or binary column: one static call
  * per row inside whole-stage codegen (a string is cast to its UTF-8
  * bytes, as `md5` casts it). Replaces
  * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")`: the hex
  * string, substring, base conversion and cast.
  */
case class Hash60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hash60"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.hash60(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[HashKernels.hash60Mod]] of a string-array column: `hash60(t) % m`
  * per element, one md5 per element in one compiled call.
  */
case class Hash60Mod(child: Expression, m: Long) extends UnaryExpression {

  require(m > 0, "modulus must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "hash60_mod"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.hash60Mod(input.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.hash60Mod($c, ${m}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[HashKernels.hashedDocVector]] of a string-array column: one pass
  * over the features instead of `dim` passes. Never null.
  */
case class HashedDocVector(child: Expression, dim: Int) extends UnaryExpression {

  require(dim >= 1, "dim must be >= 1")

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def prettyName: String = "hashed_doc_vector"

  override def eval(input: InternalRow): Any =
    HashKernels.hashedDocVector(child.eval(input).asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val feats = if (child.nullable) s"${c.isNull} ? null : ${c.value}" else c.value
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.HashKernels.hashedDocVector($feats, $dim);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature over a string array: for seed j,
  * min over elements of `(a_j * (hash60(s) % P) + b_j) % P`; empty
  * arrays yield P for every seed — exactly the HOF form
  * `coalesce(array_min(transform(hashes, h -> (a_j * h + b_j) % P)), P)`
  * per seed (PipelineSpec's reference).
  */
case class MinHashSig(child: Expression, seedsA: Array[Long], seedsB: Array[Long])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = seedsA.length
    val mins = Array.fill(k)(HashKernels.P)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      val base = HashKernels.hash60(md, arr.getUTF8String(i)) % HashKernels.P
      var j = 0
      while (j < k) {
        val v = (seedsA(j) * base + seedsB(j)) % HashKernels.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash over a string array, `bits` wide — exactly the HOF
  * `aggregate` vote per bit (PipelineSpec's reference): bit i set iff
  * the ±1 vote sum over elements' hash60 bit i is positive.
  */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Long](bits)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      val h = HashKernels.hash60(md, arr.getUTF8String(i))
      var b = 0
      while (b < bits) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word k-shingles of a token array — exactly the HOF
  * `array_distinct(transform(sequence(1, n - k + 1),
  * i -> concat_ws(" ", slice(toks, i, k))))` (KernelEquivalenceSpec's
  * reference): space-joined windows of k tokens, de-duplicated in
  * first-occurrence order, empty when fewer than k tokens, null for a
  * null array ([[graft.pipeline.TextFunctions.shingles]] maps that to
  * an empty array). The HOF form
  * pays an interpreted lambda + array `slice` + `concat_ws` expression
  * tree per window; this kernel is one compiled loop over the token
  * array, and dominates the dedup operators' scan cost.
  */
case class ShinglesK(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles_k"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[AnyRef])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints of a token array — exactly the HOF
  * formulation [[graft.pipeline.Curation.winnow]] used to build
  * (and the DuckDB oracle still does): positional k-shingle hash60s,
  * sliding-window (`w`) minima, de-duplicated in first-occurrence
  * order; fewer than k tokens yields no fingerprints, fewer than w
  * shingle hashes yields the distinct hashes themselves. One compiled
  * loop with one md5 per shingle, replacing an interpreted
  * lambda-per-window expression tree.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1 && w >= 1, "shingle width and window must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val sep = UTF8String.fromString(" ")
    val md = MessageDigest.getInstance("MD5")
    val m = n - k + 1
    val h = new Array[Long](m)
    i = 0
    while (i < m) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks(i + j); j += 1 }
      h(i) = HashKernels.hash60(md, UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long](m * 2)
    if (m < w) {
      i = 0
      while (i < m) { seen.add(h(i)); i += 1 }
    } else {
      var j = 0
      while (j <= m - w) {
        var min = h(j)
        var x = j + 1
        while (x < j + w) { if (h(x) < min) min = h(x); x += 1 }
        seen.add(min)
        j += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashKernelFunctions {

  /** Portable 60-bit hash of a string column (native kernel). */
  def hash60(c: Column): Column =
    ColumnBridge.column(Hash60(ColumnBridge.expression(c)))

  /** `hash60(t) % m` for each element of a string-array column. */
  def hash60Mod(arr: Column, m: Long): Column =
    ColumnBridge.column(Hash60Mod(ColumnBridge.expression(arr), m))

  /** Signed feature-hash vector of a string-array column, `dim` wide. */
  def hashedDocVector(feats: Column, dim: Int): Column =
    ColumnBridge.column(HashedDocVector(ColumnBridge.expression(feats), dim))

  /** MinHash signature of a string-array column (native kernel). */
  def minhashSig(shinglesCol: Column, seeds: Seq[(Long, Long)]): Column =
    ColumnBridge.column(MinHashSig(
      ColumnBridge.expression(shinglesCol),
      seeds.map(_._1).toArray, seeds.map(_._2).toArray))

  /** SimHash of a string-array column (native kernel). */
  def simhash(toksCol: Column, bits: Int): Column =
    ColumnBridge.column(SimHash(ColumnBridge.expression(toksCol), bits))

  /** Distinct k-shingles of a string-array column (native kernel). */
  def shingles(toksCol: Column, k: Int): Column =
    ColumnBridge.column(ShinglesK(ColumnBridge.expression(toksCol), k))

  /** Winnowing fingerprints of a token-array column (native kernel). */
  def winnowFps(toksCol: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFps(ColumnBridge.expression(toksCol), k, w))
}
