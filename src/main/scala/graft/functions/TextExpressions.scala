package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document quality signals in one pass over a document's tokens and
  * bytes: struct(punct_ratio, upper_ratio, stopword_ratio, len_score,
  * quality_score).
  *
  * `tokens` is Spark's own tokenization (`TextAnalysis.tokens`: trim,
  * lower, `\s+` collapse, split on " "), so this kernel only counts. The
  * composed form it replaces — `length(t) - length(regexp_replace(...))`
  * per character class, `size(filter(tokens, IN stopwords))`,
  * `length(normalize(t))` — re-tokenizes the text once per reference, and
  * a Filter that the gate predicates are pushed into repeats every
  * reference (FilterExec does no subexpression elimination).
  *
  * Every value equals the composed form's:
  *   - punctuation (`.,;:!?`) and `[A-Z]` counts come from the UTF-8
  *     bytes (ASCII bytes never occur inside a multi-byte character);
  *   - `length(normalize(t))` is Σ token chars + (n − 1), since the
  *     normalized text is the tokens joined by one space;
  *   - ratios divide by `greatest(len, 1)` in double and round as Spark's
  *     `round(x, 6)` does (`BigDecimal.valueOf(d).setScale(6, HALF_UP)`);
  *   - a null text gives NULL ratios and `least` skips them in the score,
  *     as in SQL; a null token array counts as `size(NULL)` does under the
  *     session's `legacySizeOfNull` (captured at construction, like Size).
  */
case class TextQuality(tokens: Expression, text: Expression, stopwords: Seq[String], legacySizeOfNull: Boolean)
    extends BinaryExpression with CodegenFallback {

  def this(tokens: Expression, text: Expression, stopwords: Seq[String]) =
    this(tokens, text, stopwords, SQLConf.get.legacySizeOfNull)

  override def left: Expression  = tokens
  override def right: Expression = text
  override def nullable: Boolean = false
  override def prettyName: String = "graft_text_quality"
  override def dataType: DataType = TextQuality.Schema

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input).asInstanceOf[UTF8String]
    val (punct, upper) =
      if (t == null) (null, null)
      else {
        var nPunct, nUpper = 0
        val bytes = t.getBytes
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i)
          if (b >= 'A' && b <= 'Z') nUpper += 1
          else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?') nPunct += 1
          i += 1
        }
        val len = math.max(t.numChars(), 1).toDouble
        (TextQuality.round6(nPunct / len), TextQuality.round6(nUpper / len))
      }
    val toks = tokens.eval(input).asInstanceOf[ArrayData]
    val (stop, lenNorm) =
      if (toks == null) (if (legacySizeOfNull) TextQuality.round6(-1.0) else null, -1)
      else {
        val n = toks.numElements()
        var nStop, chars = 0
        var i = 0
        while (i < n) {
          val tk = toks.getUTF8String(i)
          chars += tk.numChars()
          if (stopSet.contains(tk)) nStop += 1
          i += 1
        }
        (TextQuality.round6(nStop.toDouble / math.max(n, 1)), chars + n - 1)
      }
    val lenScore = if (toks != null && lenNorm >= 100 && lenNorm <= 5000) 1.0 else 0.0
    // least(x, 1.0) skips a NULL x, as SQL's least does
    def least1(x: Any, scale: Double): Double =
      if (x == null) 1.0 else { val v = x.asInstanceOf[Double] * scale; if (1.0 < v) 1.0 else v }
    val score = TextQuality.round6((lenScore + least1(stop, 4) + (1.0 - least1(punct, 10))) / 3.0)
    new GenericInternalRow(Array[Any](punct, upper, stop, lenScore, score))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(tokens = newLeft, text = newRight)
}

object TextQuality {
  val Fields: Seq[String] = Seq("punct_ratio", "upper_ratio", "stopword_ratio", "len_score", "quality_score")

  val Schema: StructType = StructType(Fields.map { f =>
    StructField(f, DoubleType, nullable = f != "len_score" && f != "quality_score")
  })

  /** Spark's `round(d, 6)` on a double. */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Marker-vote language ID over a token array: language L's votes are the
  * tokens in its marker list; the first language whose votes are >= every
  * later language's votes wins, else the last language (the SQL CASE
  * chain `TextAnalysis.withLangId` documents). A NULL token array counts
  * as `size(NULL)` does: NULL votes under ANSI (every guard fails, the
  * last language wins), -1 under `legacySizeOfNull` (all tie, the first
  * wins).
  */
case class LangPred(tokens: Expression, markers: Seq[(String, Seq[String])], legacySizeOfNull: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(markers.nonEmpty)

  def this(tokens: Expression, markers: Seq[(String, Seq[String])]) =
    this(tokens, markers, SQLConf.get.legacySizeOfNull)

  override def child: Expression = tokens
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lang_pred"
  override def dataType: DataType = StringType

  @transient private lazy val langs = markers.map(m => UTF8String.fromString(m._1)).toArray

  // token -> indices of the languages whose marker list holds it
  @transient private lazy val byToken: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    for ((l, i) <- markers.zipWithIndex; w <- l._2.distinct) {
      val k = UTF8String.fromString(w)
      m.put(k, m.getOrDefault(k, Array.emptyIntArray) :+ i)
    }
    m
  }

  override def eval(input: InternalRow): Any = {
    val toks = tokens.eval(input).asInstanceOf[ArrayData]
    if (toks == null) return if (legacySizeOfNull) langs.head else langs.last
    val votes = new Array[Int](langs.length)
    var i = 0
    while (i < toks.numElements()) {
      val ls = byToken.get(toks.getUTF8String(i))
      if (ls != null) ls.foreach(l => votes(l) += 1)
      i += 1
    }
    // laterMax(j) = max(votes(j+1..)); walk from the back
    var best     = langs.length - 1
    var laterMax = votes(best)
    var j        = langs.length - 2
    while (j >= 0) {
      if (votes(j) >= laterMax) best = j
      laterMax = math.max(laterMax, votes(j))
      j -= 1
    }
    langs(best)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(tokens = newChild)
}

object TextExpressions {
  def textQuality(tokens: Column, text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(new TextQuality(ColumnBridge.expression(tokens), ColumnBridge.expression(text), stopwords))

  def langPred(tokens: Column, markers: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(new LangPred(ColumnBridge.expression(tokens), markers))
}
