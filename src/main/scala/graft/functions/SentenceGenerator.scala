package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** F1 as a custom Catalyst `Generator` (SURVEY §2.8 F1 / §4 item 3 —
  * the UDTF tier of the custom-operator taxonomy): one input text row →
  * (sentence_index, sentence) rows, splitting after `.` `!` `?` +
  * whitespace, in a single pass over the UTF-8 bytes.
  *
  * This is the tokenize path (`Transcripts.tokenize`): it explodes
  * without materializing an intermediate array per row. The `split` +
  * `posexplode` formulation is the executable reference it is asserted
  * row-identical to in SentenceGeneratorSpec.
  */
case class SentenceGenerator(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("sentence_index", IntegerType, nullable = false),
    StructField("sentence_text", StringType, nullable = false)))

  // Java regex \s WITHOUT UNICODE_CHARACTER_CLASS — the exact set
  // Spark's split("(?<=[.!?])\\s+") matches. Character.isWhitespace is
  // Unicode-aware (U+2028, U+1680, …) and would diverge on those.
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val text = v.asInstanceOf[UTF8String].toString
      // split AFTER terminator+whitespace runs — identical semantics to
      // the regex (?<=[.!?])\s+ used by the declared-semantics reference
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val n = text.length
      var start = 0
      var i = 0
      var idx = 0
      while (i < n) {
        val c = text.charAt(i)
        if ((c == '.' || c == '!' || c == '?') &&
            i + 1 < n && isRegexSpace(text.charAt(i + 1))) {
          out += InternalRow(idx, UTF8String.fromString(text.substring(start, i + 1)))
          idx += 1
          i += 1
          while (i < n && isRegexSpace(text.charAt(i))) i += 1
          start = i
        } else {
          i += 1
        }
      }
      // Spark's split keeps trailing empty strings (limit = -1), so a
      // text ending in terminator+whitespace yields a final "" sentence;
      // empty input yields one "" row — match both.
      if (start < n) {
        out += InternalRow(idx, UTF8String.fromString(text.substring(start)))
      } else {
        out += InternalRow(idx, UTF8String.fromString(""))
      }
      out.iterator
    }
  }

  override protected def withNewChildInternal(c: Expression): SentenceGenerator =
    copy(child = c)
}

object SentenceGenerator {
  /** `df.select($"id", sentences($"text"))` → (sentence_index,
    * sentence_text) rows per input row.
    */
  def sentences(text: Column): Column =
    Bridge.column(SentenceGenerator(Bridge.expression(text)))
}
