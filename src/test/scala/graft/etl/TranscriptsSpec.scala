package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import graft.nlp.Stubs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A6/A7/F1/W4 behavior per reference `lambda_5.py`/`lambda_71.py`. */
class TranscriptsSpec extends SparkSpec {
  import spark.implicits._

  lazy val chunks = Transcripts.readChunks(spark, res("chunks"))
  lazy val expected =
    Seq((1L, 3), (2L, 2)).toDF("episode_id", "num_chunks")

  test("chunk source parses episode/chunk ids from the path (S3/S4)") {
    assert(chunks.count() == 5)
    assert(chunks.filter($"episode_id" === 1L).count() == 3)
  }

  test("barrier releases only complete episodes (A6)") {
    val ready = Transcripts.completeEpisodes(chunks, expected)
      .as[Long].collect().toSet
    assert(ready == Set(1L)) // episode 2 expects 2 chunks, has 1
  }

  test("ordered concat joins chunks in chunk order (A7)") {
    val text = Transcripts.reduceTranscripts(chunks.filter($"episode_id" === 1L))
      .select("text").as[String].head()
    assert(text ==
      "Alice met Bob in Paris. They discussed Spark. " +
      "Bob praised the Catalyst optimizer! It was fast. " +
      "Alice agreed. What a day?")
  }

  test("tokenizer splits after .!? and posexplode births sentence_index (F1/W4)") {
    val t = Transcripts.reduceTranscripts(chunks.filter($"episode_id" === 1L))
    val sents = Transcripts.tokenize(t)
      .orderBy("sentence_index")
      .select("sentence_text").as[String].collect()
    assert(sents.toSeq == Seq(
      "Alice met Bob in Paris.", "They discussed Spark.",
      "Bob praised the Catalyst optimizer!", "It was fast.",
      "Alice agreed.", "What a day?"))
  }

  test("sentence dimension: scores sum to 1, label is argmax, ids stable") {
    val sd = Transcripts.sentenceDimension(chunks, expected)
    assert(sd.count() == 6) // only episode 1 passes the barrier
    val rows = sd.collect()
    rows.foreach { r =>
      val scores = Seq("negative_score", "neutral_score",
        "positive_score", "mixed_score").map(c => r.getAs[Double](c))
      assert(math.abs(scores.sum - 1.0) < 1e-9)
      assert(scores.forall(s => s > 0 && s < 1))
    }
    // deterministic across runs (A9-style equality + retry safety)
    val again = Transcripts.sentenceDimension(chunks, expected)
    assert(sd.except(again).count() == 0)
  }

  test("archive-fed sentence path zips sentiment to sentences by position") {
    // fixture archives: episode_1 → 3 lines, episode_2 → 2 lines
    val sentiment = graft.sources.TarGz.sentimentOutput(spark, res("archives"))
      .withColumn(
        "episode_id",
        regexp_extract(col("archive"), "episode_(\\d+)", 1).cast("long"))
      .drop("archive")
    val sentences = Seq(
      (1L, 0L, "Alpha."), (1L, 1L, "Beta."), (1L, 2L, "Gamma."),
      (2L, 0L, "Delta."), (2L, 1L, "Epsilon."))
      .toDF("episode_id", "sentence_index", "sentence_text")
    val sd = Transcripts.sentenceDimensionFromArchives(sentences, sentiment)
      .orderBy(col("episode_id"), col("sentence_index")).collect()
    assert(sd.length == 5)
    // line 0 of each archive is POSITIVE per the fixture generator
    assert(sd.head.getAs[String]("overall_sentiment") == "POSITIVE")
    assert(sd.head.getAs[String]("sentence_text") == "Alpha.")
    assert(sd.head.getAs[Double]("positive_score") == 0.6)
    // the count-equality gate is enforced, not printed (lambda_71.py:70)
    val short = sentences.filter(col("sentence_index") < 2)
    val e = intercept[IllegalArgumentException] {
      Transcripts.sentenceDimensionFromArchives(short, sentiment)
    }
    assert(e.getMessage.contains("count mismatch"))
    // and it is PER-EPISODE: equal global totals with two mutually
    // misaligned episodes (2+3 vs 3+2) must still fail — a global
    // count check would wave this through and the positional join
    // would silently drop the tails
    val swapped = Seq(
      (1L, 0L, "A."), (1L, 1L, "B."),
      (2L, 0L, "C."), (2L, 1L, "D."), (2L, 2L, "E."))
      .toDF("episode_id", "sentence_index", "sentence_text")
    val e2 = intercept[IllegalArgumentException] {
      Transcripts.sentenceDimensionFromArchives(swapped, sentiment)
    }
    assert(e2.getMessage.contains("per-episode_id count mismatch"))
  }

  test("a chunk tree of >32 files is read whole, non-.json files skipped, no Spark job") {
    // 6 episodes x 6 chunks: a per-file glob would pass 36 paths, past
    // the 32 at which Spark lists paths in a parallel job
    val base = Files.createTempDirectory("chunks_tree")
    val want = for (e <- 1 to 6; c <- 1 to 6) yield (e.toLong, c, s"e$e c$c.")
    want.foreach { case (e, c, t) =>
      val dir = Files.createDirectories(base.resolve(s"episode_$e"))
      Files.writeString(dir.resolve(s"chunk_$c.json"),
        s"""{"results":{"transcripts":[{"transcript":"$t"}]}}""")
    }
    Files.writeString(base.resolve("episode_1").resolve("chunk_7.txt"), "not a chunk")
    Files.writeString(base.resolve("README"), "not a chunk")
    assert(jobsStarted(Transcripts.readChunks(spark, base.toString)) == 0)
    val got = Transcripts.readChunks(spark, base.toString).collect()
      .map(r => (r.getAs[Long]("episode_id"), r.getAs[Int]("chunk_num"), r.getAs[String]("text")))
    assert(got.sorted.toSeq == want)
  }

  test("readChunks starts no Spark job on the fixtures") {
    assert(jobsStarted(Transcripts.readChunks(spark, res("chunks"))) == 0)
  }

  /** The composition `sentenceDimension` replaces: barrier, then the
    * reduce over the ready episodes' chunks, then tokenize and sentiment.
    */
  private def sentenceDimensionReference(
      chunks: DataFrame, expected: DataFrame): DataFrame = {
    val ready = Transcripts.completeEpisodes(chunks, expected)
    val transcripts =
      Transcripts.reduceTranscripts(chunks.join(ready, Seq("episode_id")))
    Stubs.sentimentScored(Transcripts.tokenize(transcripts), "sentence_text")
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

  private def assertSameSentences(chunks: DataFrame, expected: DataFrame): Unit = {
    def rows(df: DataFrame): Seq[Row] =
      df.orderBy("episode_id", "sentence_index").collect().toSeq
    val got = Transcripts.sentenceDimension(chunks, expected)
    val want = sentenceDimensionReference(chunks, expected)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    assert(rows(got) == rows(want))
  }

  test("sentence dimension equals barrier + reduce + tokenize + sentiment on the fixtures") {
    // episode 2 held back (1 of 2 chunks), episode 3 missing from expected
    assertSameSentences(chunks, expected)
    // every episode complete
    assertSameSentences(chunks, Seq((1L, 3), (2L, 1), (3L, 1)).toDF("episode_id", "num_chunks"))
  }

  test("sentence dimension equals the reference on replayed, reordered and missing chunks") {
    val cs = Seq(
      (10L, 3, "Third. Last!"), (10L, 1, "First one."), (10L, 2, "Second?"),
      (11L, 1, "Replayed chunk."), (11L, 1, "Replayed chunk."),
      (12L, 1, "Held back."),
      (13L, 1, "Not expected."),
      (14L, 1, null), (14L, 2, "After a null chunk."))
      .toDF("episode_id", "chunk_num", "text")
    val exp = Seq((10L, 3), (11L, 1), (12L, 2), (14L, 2), (15L, 1))
      .toDF("episode_id", "num_chunks")
    assertSameSentences(cs, exp)
    assert(Transcripts.sentenceDimension(cs, exp)
      .select("episode_id").distinct().as[Long].collect().toSet == Set(10L, 11L, 14L))
  }
}
