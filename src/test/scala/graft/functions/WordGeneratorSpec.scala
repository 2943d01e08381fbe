package graft.functions

import graft.SparkSpec
import graft.etl.Transcripts
import graft.nlp.Stubs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** WordGenerator and `Stubs.stubEntities` vs the declared-semantics
  * reference: `posexplode(split(text, "\\s+"))` with each word's offset
  * a running sum of `length(word) + 1` over a window.
  */
class WordGeneratorSpec extends SparkSpec {
  import spark.implicits._

  /** The reference: one row per word, with `wlen` and `begin_off`. */
  private def viaWindow(texts: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("episode_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    texts
      .select(
        col("episode_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("pos", "word")))
      .withColumn("wlen", length(col("word")).cast("long"))
      .withColumn("begin_off", coalesce(sum(col("wlen") + 1).over(w), lit(0L)))
  }

  /** `stubEntities` as it was computed from the reference rows. */
  private def stubEntitiesViaWindow(texts: DataFrame): DataFrame =
    viaWindow(texts)
      .filter(pmod(col("pos"), lit(5)) === 2)
      .select(
        col("episode_id"),
        col("word").as("entity_text"),
        element_at(
          array(lit("PERSON"), lit("ORGANIZATION"), lit("LOCATION")),
          (pmod(xxhash64(col("word")), lit(3)) + 1).cast("int"))
          .as("entity_type"),
        col("begin_off"),
        (col("begin_off") + col("wlen")).as("end_off"))

  private def rows(df: DataFrame, order: String*): Seq[Row] =
    df.orderBy(order.map(col): _*).collect().toSeq

  private val edgeCases: Seq[(Long, Option[String])] = Seq(
    "  leading whitespace then enough words to pass position seven",
    "trailing whitespace with enough words to pass position seven   ",
    "repeated   spaces    between  the   words here and   there again",
    "tabs\tand\nnewlines\r\nmixed\fwith\u000Bvertical\t\ttabs and more words",
    "naïve café über straße señor 日本語 テキスト façade résumé",
    "surrogate 😀 pairs 𝄞 count 👍🏽 as one code point each 😀😀 yes",
    "nbsp\u00A0and line\u2028separator are not regex whitespace so do not split",
    "",
    " ",
    "\t\n").zipWithIndex.map { case (t, i) => (i.toLong, Option(t)) } :+
    (100L, Option.empty[String])

  /** Seeded random texts over an alphabet of ASCII, multi-byte and
    * surrogate-pair letters and every `\s` character.
    */
  private val randomTexts: Seq[(Long, Option[String])] = {
    val rnd = new scala.util.Random(7)
    val alphabet = Seq("a", "Z", "é", "日", "😀", " ", "  ", "\t", "\n", "\r", "\f", "\u000B", " ")
    (1 to 200).map { i =>
      (1000L + i, Option(Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.size))).mkString))
    }
  }

  private def texts(cases: Seq[(Long, Option[String])]): DataFrame =
    cases.toDF("episode_id", "text")

  test("words, positions and code-point offsets match split + posexplode + window") {
    for (cases <- Seq(edgeCases, randomTexts)) {
      val t = texts(cases)
      val got = t.select(col("episode_id"), WordGenerator.words(col("text")))
      val want = viaWindow(t).select("episode_id", "pos", "word", "begin_off")
      assert(rows(got, "episode_id", "pos") == rows(want, "episode_id", "pos"))
    }
  }

  test("null text yields no words, empty text one empty word") {
    val got = texts(edgeCases)
      .filter(col("episode_id").isin(7L, 100L))
      .select(col("episode_id"), WordGenerator.words(col("text")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((7L, 0, "", 0L)))
  }

  test("stubEntities equals the window formula") {
    val fixture = Transcripts.reduceTranscripts(
      Transcripts.readChunks(spark, res("chunks")))
    for (t <- Seq(texts(edgeCases), texts(randomTexts), fixture)) {
      val got = Stubs.stubEntities(t, "text")
      val want = stubEntitiesViaWindow(t)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      assert(rows(got, "episode_id", "begin_off") == rows(want, "episode_id", "begin_off"))
    }
  }
}
