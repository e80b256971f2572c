package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.PortableRounding.{round => pround}
import graft.functions.TextKernels.words

/** One-pass Gopher quality-rule metrics (Rae et al. 2021, Appendix A):
  * the per-document statistics behind the published filter thresholds —
  * word count, mean word length, symbol-to-word ratio ('#' and
  * ellipses), fraction of words containing an alphabetic character, and
  * distinct hits from the canonical 8-word English stop list. One kernel
  * pass per row (codegen'd), thresholds applied by the caller so the
  * rules stay tunable. Ratios are portably rounded to 4 decimals BEFORE
  * thresholding so engine last-ulp differences can't flip a rule.
  *
  * Differential twin: list-lambda SQL in the text_quality_gopher
  * entry's oracle (`registry.TextEntries`).
  */
case class GopherStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[GraftBridge.AbstractDT] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gopher_stats"

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_ratio", DoubleType, nullable = false),
    StructField("alpha_frac", DoubleType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))

  def compute(textU: UTF8String): GenericInternalRow = {
    // Locale.ROOT + code-point lengths so the kernel matches DuckDB's
    // locale-independent lower() / code-point len() on non-BMP text and
    // under non-English default locales (e.g. Turkish dotless-i).
    val ltext = textU.toString.toLowerCase(java.util.Locale.ROOT)
    val w = words(ltext)
    val nw = w.length
    var sumLen = 0L
    var alphaWords = 0
    val seen = new java.util.HashSet[String]
    var i = 0
    while (i < nw) {
      val t = w(i)
      sumLen += t.codePointCount(0, t.length)
      var hasAlpha = false
      var j = 0
      while (j < t.length && !hasAlpha) {
        val c = t.charAt(j)
        if (c >= 'a' && c <= 'z') hasAlpha = true
        j += 1
      }
      if (hasAlpha) alphaWords += 1
      if (GopherStatsExpr.stopList.contains(t)) seen.add(t)
      i += 1
    }
    // symbol census: '#' chars, '…' chars, and non-overlapping "..."
    // (counted replace-style so the SQL twin's replace() matches exactly)
    var hashes = 0
    var ellOne = 0
    i = 0
    while (i < ltext.length) {
      val c = ltext.charAt(i)
      if (c == '#') hashes += 1
      if (c == '…') ellOne += 1
      i += 1
    }
    val ellThree = (ltext.length - ltext.replace("...", "").length) / 3
    val nwD = nw.toDouble
    new GenericInternalRow(Array[Any](
      nw.toLong,
      if (nw == 0) 0.0 else pround(sumLen / nwD, 4),
      if (nw == 0) 0.0 else pround((hashes + ellOne + ellThree) / nwD, 4),
      if (nw == 0) 0.0 else pround(alphaWords / nwD, 4),
      seen.size.toLong))
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherExpr", this, classOf[GopherStatsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GopherStatsExpr {
  /** The canonical Gopher stop list (Rae et al. 2021 Appendix A). */
  val stopList: Set[String] = Set("the", "be", "to", "of", "and", "that", "have", "with")

  def col(c: Column): Column =
    GraftBridge.column(GopherStatsExpr(GraftBridge.expression(c)))
}
