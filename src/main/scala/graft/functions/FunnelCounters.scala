package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document integer counters of the three-gate quality funnel,
  * computed in ONE pass over the text: the whitespace tokens and the
  * `\n` lines are split once, each token lowercased once. The Column
  * formulation re-splits the text inside ~15 interpreted
  * higher-order-function and regex passes (and lowercases every token
  * once per Gopher stopword).
  *
  * Every counter equals the Column expression it replaces:
  *
  *  - tokens are `split(trim(text), "\\s+")`: `trim` strips U+0020
  *    only, the split is Java's regex split with limit −1 (`""` gives
  *    `[""]`, a leading tab or newline gives a leading `""`);
  *  - lines are `split(text, "\n")`, the same split;
  *  - lengths count code points (`length`), and a character count
  *    `length(text) − length(regexp_replace(text, "[…]", ""))` is
  *    computed as exactly that difference;
  *  - lowercasing is [[StringKernels.toLower]] (Spark's `lower`);
  *  - `rtrim`/`ltrim`/`trim` of a line strip U+0020 only.
  *
  * Null text gives a null struct.
  */
object FunnelCounters {

  /** The counters of a string column (native kernel). */
  def column(text: Column, gopherWords: Seq[String], enWords: Seq[String],
      minLineWords: Int, requireTerminalPunct: Boolean): Column =
    ColumnBridge.column(FunnelCounters(
      ColumnBridge.expression(text.cast(StringType)), gopherWords, enWords,
      minLineWords, requireTerminalPunct))

  val fields: Seq[String] = Seq(
    "n_toks",           // size(tokens)
    "sum_len",          // Σ length(token)
    "n_alpha_words",    // tokens matching [A-Za-z]
    "n_stop_present",   // `gopherWords` present among the lowered tokens
    "n_en_stop",        // tokens whose lowered form is in `enWords`
    "n_chars",          // length(text)
    "n_hash",           // '#' characters
    "n_punct",          // [.,;:!?] characters
    "n_sentences",      // [.!?] characters
    "has_brace",        // text contains '{' (1/0)
    "n_lines",          // size(lines)
    "n_ellipsis_lines", // rtrim(line) ends with "..."
    "n_bullet_lines",   // ltrim(line) starts with -, * or •
    "n_punct_lines",    // rtrim(line) ends with . ! ? or "
    "n_kept")           // C4-kept lines (see `minLineWords`)

  val structType: StructType =
    StructType(fields.map(StructField(_, LongType, nullable = false)))

  /** Java regex `\s`: space, tab, LF, VT (U+000B), FF, CR. */
  private[functions] def isWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** Number of pieces of `s.split("\\s+", -1)`. */
  private[functions] def wsPieces(s: String): Long = {
    var n = 1L
    var i = 0
    while (i < s.length) {
      if (isWs(s.charAt(i))) {
        n += 1
        while (i < s.length && isWs(s.charAt(i))) i += 1
      } else i += 1
    }
    n
  }

  private[functions] def stripSpaces(s: String, left: Boolean, right: Boolean): String = {
    var b = 0
    var e = s.length
    if (left) while (b < e && s.charAt(b) == ' ') b += 1
    if (right) while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  private[functions] def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 0x80) return false; i += 1 }
    true
  }
}

/** The counters as a Catalyst expression: `struct<n_toks, …>` of
  * longs. `gopherWords` and `enWords` are lowercase word lists;
  * `n_kept` counts the lines with at least `minLineWords` whitespace
  * tokens after `trim` that, if `requireTerminalPunct`, also end in a
  * terminal mark. One call per row inside whole-stage codegen.
  */
case class FunnelCounters(child: Expression, gopherWords: Seq[String],
    enWords: Seq[String], minLineWords: Int, requireTerminalPunct: Boolean)
    extends UnaryExpression {
  import FunnelCounters._

  require(gopherWords.size <= 63, "at most 63 required words")

  override def dataType: DataType = FunnelCounters.structType
  override def prettyName: String = "funnel_counters"

  @transient private lazy val gopherBit: Map[String, Long] =
    gopherWords.zipWithIndex.map { case (w, i) => w -> (1L << i) }.toMap
  @transient private lazy val enSet: Set[String] = enWords.toSet
  // an ASCII token lowercases to the same length, so a longer one
  // can never equal a listed word
  @transient private lazy val maxWordLen: Int =
    (gopherWords ++ enWords).map(_.length).foldLeft(0)(math.max)

  private def lowered(tok: String): String =
    if (isAscii(tok)) {
      if (tok.length > maxWordLen) null
      else tok.toLowerCase(java.util.Locale.ROOT)
    } else StringKernels.toLower(UTF8String.fromString(tok)).toString

  def count(text: UTF8String): InternalRow = {
    val s = text.toString
    val nChars = text.numChars().toLong
    val cps = s.codePointCount(0, s.length).toLong
    var hashes, puncts, sentences = 0L
    var brace = 0L
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '#' => hashes += 1
        case '.' | '!' | '?' => puncts += 1; sentences += 1
        case ',' | ';' | ':' => puncts += 1
        case '{' => brace = 1
        case _ =>
      }
      i += 1
    }
    // tokens: pieces of trim(text) between maximal whitespace runs
    val t = text.trim().toString
    var nToks, sumLen, nAlpha, nEn = 0L
    var stopMask = 0L
    def token(b: Int, e: Int): Unit = {
      nToks += 1
      sumLen += t.codePointCount(b, e)
      var j = b
      var alpha = false
      while (j < e && !alpha) {
        val c = t.charAt(j)
        alpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        j += 1
      }
      if (alpha) nAlpha += 1
      val lw = lowered(t.substring(b, e))
      if (lw != null) {
        stopMask |= gopherBit.getOrElse(lw, 0L)
        if (enSet.contains(lw)) nEn += 1
      }
    }
    var b = 0
    i = 0
    while (i < t.length) {
      if (isWs(t.charAt(i))) {
        token(b, i)
        while (i < t.length && isWs(t.charAt(i))) i += 1
        b = i
      } else i += 1
    }
    token(b, t.length)
    // lines: pieces between '\n's
    var nLines, nEllipsis, nBullet, nTerminal, nKept = 0L
    b = 0
    var more = true
    while (more) {
      val nl = s.indexOf('\n', b)
      val e = if (nl < 0) s.length else nl
      val l = s.substring(b, e)
      nLines += 1
      val r = stripSpaces(l, left = false, right = true)
      if (r.endsWith("...")) nEllipsis += 1
      val terminal = r.nonEmpty && {
        val c = r.charAt(r.length - 1)
        c == '.' || c == '!' || c == '?' || c == '"'
      }
      if (terminal) nTerminal += 1
      val lt = stripSpaces(l, left = true, right = false)
      if (lt.nonEmpty && {
          val c = lt.charAt(0)
          c == '-' || c == '*' || c == '\u2022'
        }) nBullet += 1
      if (wsPieces(stripSpaces(l, left = true, right = true)) >= minLineWords &&
          (!requireTerminalPunct || terminal)) nKept += 1
      if (nl < 0) more = false else b = nl + 1
    }
    new GenericInternalRow(Array[Any](nToks, sumLen, nAlpha,
      java.lang.Long.bitCount(stopMask).toLong, nEn, nChars,
      nChars - (cps - hashes), nChars - (cps - puncts),
      nChars - (cps - sentences), brace, nLines, nEllipsis, nBullet,
      nTerminal, nKept))
  }

  override protected def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("funnelCounters", this)
    defineCodeGen(ctx, ev, c => s"$self.count($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
