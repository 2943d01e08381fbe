package graft.nlp

import graft.functions.WordGenerator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stand-ins for the reference's external ML services
  * (SURVEY.md §2.9 X1–X3: AWS Transcribe / Comprehend). The sandbox has
  * no network, so these compute stable pseudo-outputs from content
  * hashes — same schema and join shape as the real services, fully
  * reproducible. No UDFs: sentiment is a pure Column expression
  * (codegen'd); entities come from a Catalyst Generator
  * (`WordGenerator`) plus Column expressions.
  */
object Stubs {

  /** X2 — Comprehend sentiment per sentence (`lambda_6.py:29-43`
    * request; response schema consumed at `lambda_71.py:77-81`):
    * four scores in [0,1] summing to 1, plus the argmax label.
    * Scores derive from byte slices of xxhash64(sentence): exact
    * int/int divisions, so any oracle recomputation matches.
    */
  def sentimentScored(sentences: DataFrame, textCol: String): DataFrame = {
    val h = xxhash64(col(textCol))
    def byte(shift: Int): Column =
      (shiftright(h, shift).bitwiseAND(lit(255L)) + 1L).cast("double")
    val (b0, b1, b2, b3) = (byte(0), byte(8), byte(16), byte(24))
    val tot = b0 + b1 + b2 + b3
    sentences
      .withColumn("negative_score", b0 / tot)
      .withColumn("neutral_score", b1 / tot)
      .withColumn("positive_score", b2 / tot)
      .withColumn("mixed_score", b3 / tot)
      .withColumn(
        "overall_sentiment",
        when(
          col("positive_score") >= col("negative_score") &&
            col("positive_score") >= col("neutral_score") &&
            col("positive_score") >= col("mixed_score"), "POSITIVE")
          .when(
            col("negative_score") >= col("neutral_score") &&
              col("negative_score") >= col("mixed_score"), "NEGATIVE")
          .when(col("neutral_score") >= col("mixed_score"), "NEUTRAL")
          .otherwise("MIXED"))
  }

  /** X3 — Comprehend entities (`lambda_6.py:49-62`; response schema
    * `lambda_72.py:49-50,85-87,123-124`): deterministic extraction —
    * every 5th word (pos ≡ 2 mod 5) becomes an entity whose char
    * offsets index into the episode's full text (word starts = running
    * sum of len+1, matching the newline-joined offsets the aligner
    * expects, `lambda_72.py:60,66-71`). Type cycles by word hash.
    *
    * Input: (episode_id, text). Output: (episode_id, entity_text,
    * entity_type, begin_off, end_off).
    */
  def stubEntities(transcripts: DataFrame, textCol: String): DataFrame =
    transcripts
      .select(col("episode_id"), WordGenerator.words(col(textCol)))
      .filter(pmod(col("pos"), lit(5)) === 2)
      .select(
        col("episode_id"),
        col("word").as("entity_text"),
        element_at(
          array(lit("PERSON"), lit("ORGANIZATION"), lit("LOCATION")),
          (pmod(xxhash64(col("word")), lit(3)) + 1).cast("int"))
          .as("entity_type"),
        col("begin_off"),
        (col("begin_off") + length(col("word"))).as("end_off"))
}
