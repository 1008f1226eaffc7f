package graft.functions

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark's `lower` for the default UTF8_BINARY collation with ICU case
  * mappings on (the Spark 4 default), computed without Spark's
  * `CollationAwareUTF8String`. That class's static initializer
  * title-cases all 1,114,112 code points through ICU: 1.7–1.9 s in a
  * fresh JVM, during which every other task that lowercases waits on
  * the class-init lock. The body is that class's `toLowerCase`
  * verbatim: an all-ASCII string takes the byte-wise fast path; any
  * other string (invalid UTF-8 included, which `toValidString` repairs
  * to U+FFFD) goes through ICU's default-locale full case mapping.
  *
  * `spark.sql.icu.caseMappings.enabled=false` would also skip the
  * table, but it switches non-ASCII text to JDK default-locale
  * lowercasing, a different result.
  */
object StringKernels {

  def toLower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** Spark's `lower(c)` as the native kernel. */
  def lowerIcu(c: Column): Column =
    ColumnBridge.column(LowerIcu(ColumnBridge.expression(c.cast(StringType))))
}

/** Catalyst expression of [[StringKernels.toLower]]: one static call
  * inside whole-stage codegen, the same call when interpreted (as in a
  * higher-order function's lambda).
  */
case class LowerIcu(child: Expression) extends UnaryExpression {

  // the Column wrapper casts to string, as Spark's implicit cast would
  override def dataType: DataType = StringType
  override def prettyName: String = "lower_icu"

  override protected def nullSafeEval(input: Any): Any =
    StringKernels.toLower(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringKernels.toLower($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
