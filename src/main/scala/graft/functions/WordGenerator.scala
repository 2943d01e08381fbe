package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Word split with character offsets as a custom Catalyst `Generator`:
  * one input text row → (pos, word, begin_off) rows, where the words are
  * those of `split(text, "\\s+")` (limit -1: leading and trailing empty
  * words kept, `""` gives one empty word, null gives none), `pos` is
  * their index, and `begin_off` is the sum of `length(word) + 1` over the
  * words before, in code points as Spark's `length` counts them.
  *
  * It replaces `posexplode` + a running-sum window over every word: a
  * linear scan of each row's UTF-8 bytes, with no sort. The window
  * formula is kept as the executable reference in WordGeneratorSpec.
  */
case class WordGenerator(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("word", StringType, nullable = false),
    StructField("begin_off", LongType, nullable = false)))

  // Java regex \s without UNICODE_CHARACTER_CLASS, as in
  // SentenceGenerator. All six are ASCII, so no UTF-8 continuation byte
  // can match one.
  @inline private def isRegexSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\u000B' || b == '\f' || b == '\r'

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      val n = bytes.length
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var pos = 0
      var off = 0L
      var start = 0
      var i = 0
      def emit(end: Int): Unit = {
        val word = UTF8String.fromBytes(bytes, start, end - start)
        out += InternalRow(pos, word, off)
        pos += 1
        off += word.numChars() + 1
      }
      while (i < n) {
        if (isRegexSpace(bytes(i))) {
          emit(i)
          while (i < n && isRegexSpace(bytes(i))) i += 1
          start = i
        } else {
          i += 1
        }
      }
      emit(n)
      out.iterator
    }
  }

  override protected def withNewChildInternal(c: Expression): WordGenerator =
    copy(child = c)
}

object WordGenerator {
  /** `df.select($"id", words($"text"))` → (pos, word, begin_off) rows
    * per input row.
    */
  def words(text: Column): Column =
    Bridge.column(WordGenerator(Bridge.expression(text)))
}
