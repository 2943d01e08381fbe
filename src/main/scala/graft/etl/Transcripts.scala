package graft.etl

import graft.nlp.Stubs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Transcript reduce pipeline (SURVEY.md §3.2, reference `lambda_5.py` +
  * `lambda_71.py`): per-chunk transcription JSON → barrier on chunk
  * completeness → ordered concat → sentence tokenize → sentiment →
  * sentence_dimension. The reference's 6-Lambda choreography is one DAG
  * with a single shuffle (groupBy episode).
  */
object Transcripts {

  /** The part of a Transcribe output the pipeline reads
    * (`lambda_5.py:76-79`). Pinned, so reading the chunks starts no
    * schema-inference scan.
    */
  private val ChunkSchema: StructType = StructType.fromDDL(
    "results STRUCT<transcripts: ARRAY<STRUCT<transcript: STRING>>>")

  /** E10/E11-shaped source: a directory tree
    * `{base}/episode_{id}/chunk_{n}.json` of Transcribe outputs
    * (`{"results":{"transcripts":[{"transcript":"..."}]}}`,
    * `lambda_5.py:76-79`). Path parsing = S3/S4
    * (`element_at(split(...))`, `lambda_5.py:24-38`). The tree is
    * listed from its one root on the driver: a glob would expand to a
    * path per file and, past 32 paths, Spark lists them in a parallel
    * job.
    */
  def readChunks(spark: SparkSession, base: String): DataFrame =
    spark.read
      .schema(ChunkSchema)
      .option("multiLine", true)
      .option("recursiveFileLookup", true)
      .option("pathGlobFilter", "*.json")
      .json(base)
      .withColumn("path", input_file_name())
      .select(
        regexp_extract(col("path"), "episode_(\\d+)/", 1).cast("long")
          .as("episode_id"),
        regexp_extract(col("path"), "chunk_(\\d+)\\.json", 1).cast("int")
          .as("chunk_num"),
        col("results.transcripts")(0)("transcript").as("text"))

  /** A6 — the reduce barrier (`lambda_5.py:29-68`): an episode is ready
    * only when all expected chunks have arrived. `expected` carries
    * (episode_id, num_chunks) from the episode dimension (E13 update).
    * Batch form: groupBy + filter; the streaming form is
    * graft.streaming.ChunkBarrier (flatMapGroupsWithState).
    */
  def completeEpisodes(chunks: DataFrame, expected: DataFrame): DataFrame =
    chunks
      .groupBy(col("episode_id"))
      .agg(count(lit(1)).as("arrived"))
      .join(expected, Seq("episode_id"))
      .filter(col("arrived") >= col("num_chunks"))
      .select(col("episode_id"))

  // A7's ordered text per episode, defined once so that
  // `reduceTranscripts` and `sentenceDimension` cannot drift apart.
  private val orderedText: Column =
    array_join(
      transform(
        array_sort(collect_list(struct(col("chunk_num"), col("text")))),
        x => x.getField("text")),
      " ")

  /** A7 — ordered concat reduce (`lambda_5.py:71-81`): chunk texts
    * joined with " " in chunk order. Order is explicit via
    * array_sort over (chunk_num, text) structs — never bare
    * collect_list (SURVEY §7.3 determinism trap).
    */
  def reduceTranscripts(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("episode_id")).agg(orderedText.as("text"))

  /** F1 — sentence tokenizer (`lambda_5.py:84-87`, NLTK punkt): the
    * engine's declared semantics are a regex split after `.`/`!`/`?` +
    * whitespace (SURVEY §7.3 — punkt parity is a non-goal). W4 — the
    * 0-based index emitted by the generator IS sentence_index
    * (`lambda_5.py:87`).
    *
    * Production path is the custom Catalyst Generator (one pass over
    * the UTF-8 bytes, no intermediate array materialized per row) —
    * asserted row-identical to `posexplode(split(text,
    * "(?<=[.!?])\\s+"))` in SentenceGeneratorSpec, which keeps the
    * regex formulation as the executable semantics reference.
    */
  def tokenize(transcripts: DataFrame): DataFrame =
    transcripts
      .select(
        col("episode_id"),
        graft.functions.SentenceGenerator.sentences(col("text")))

  /** E12 — the sentence sinks (`lambda_5.py:88-98`): one sentence per
    * line (Comprehend's ONE_DOC_PER_LINE input, `lambda_6.py:33`) and a
    * JSON array-per-episode variant. Line order = sentence order (the
    * offsets and the positional join both depend on it).
    */
  def writeSentenceText(sentences: DataFrame, path: String): Unit =
    sentences
      .orderBy(col("episode_id"), col("sentence_index"))
      .select(col("sentence_text"))
      .coalesce(1)
      .write.mode("overwrite").text(path)

  def writeSentenceJson(sentences: DataFrame, path: String): Unit =
    sentences
      .groupBy(col("episode_id"))
      .agg(transform(
        array_sort(collect_list(
          struct(col("sentence_index"), col("sentence_text")))),
        x => x.getField("sentence_text")).as("sentences"))
      .write.mode("overwrite").json(path)

  /** The archive-fed sentence path (`lambda_71.py:49-121`): staged
    * sentences zipped BY POSITION to the sentiment rows untarred from a
    * Comprehend archive (TarGz.sentimentOutput + an episode_id the
    * caller derives from the archive path, `lambda_71.py:57-60`).
    * The reference merely prints its count-equality check
    * (`lambda_71.py:70`); here it gates the join (A9, enforced).
    *
    * `sentences`: (episode_id, sentence_index, sentence_text);
    * `sentiment`: (episode_id, line_index, overall_sentiment,
    * negative_score, neutral_score, positive_score, mixed_score).
    * Inner join on (episode_id, index) = the positional zip (W4);
    * sentence_id = xxhash64(episode_id, sentence_index) as everywhere.
    */
  def sentenceDimensionFromArchives(
      sentences: DataFrame, sentiment: DataFrame): DataFrame = {
    // per-EPISODE equality (the reference checks per archive): global
    // totals can match while two episodes are mutually misaligned,
    // which the positional join would then silently drop
    graft.functions.DataQuality.requireGroupCountsMatch(
      sentences, sentiment, "episode_id", "sentences vs sentiment lines")
    sentences.join(
      sentiment.withColumnRenamed("line_index", "sentence_index"),
      Seq("episode_id", "sentence_index"))
      .select(
        xxhash64(col("episode_id"), col("sentence_index")).as("sentence_id"),
        col("sentence_text"),
        col("sentence_index"),
        col("overall_sentiment"),
        col("negative_score"),
        col("neutral_score"),
        col("positive_score"),
        col("mixed_score"),
        col("episode_id"))
  }

  /** Full sentence path: barrier → reduce → tokenize → sentiment stub →
    * sentence_dimension rows (`lambda_71.py:74-121` zip-by-index +
    * load). sentence_id = xxhash64(episode_id, sentence_index) — the
    * natural unique key (`lambda_2.py:68`).
    *
    * The barrier and the reduce are one aggregate: each episode's chunk
    * count and ordered text come out of the same groupBy, so the chunks
    * are read once. Row-identical to
    * `tokenize(reduceTranscripts(chunks ⋈ completeEpisodes))`.
    */
  def sentenceDimension(
      chunks: DataFrame,
      expected: DataFrame): DataFrame = {
    val transcripts = chunks
      .groupBy(col("episode_id"))
      .agg(count(lit(1)).as("arrived"), orderedText.as("text"))
      .join(expected, Seq("episode_id"))
      .filter(col("arrived") >= col("num_chunks"))
      .select(col("episode_id"), col("text"))
    val sentences = tokenize(transcripts)
    Stubs.sentimentScored(sentences, "sentence_text")
      .select(
        xxhash64(col("episode_id"), col("sentence_index")).as("sentence_id"),
        col("sentence_text"),
        col("sentence_index"),
        col("overall_sentiment"),
        col("negative_score"),
        col("neutral_score"),
        col("positive_score"),
        col("mixed_score"),
        col("episode_id"))
  }
}
