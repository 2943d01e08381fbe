package graft.etl

import graft.nlp.Stubs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline façade (SURVEY.md §3): composes ingest, the
  * transcript reduce, and entity alignment into the five warehouse
  * tables. The reference's 8-Lambda / 2-queue / 6-S3-event choreography
  * (`main.tf:151-669`) collapses into Spark DAGs that shuffle only by
  * episode: the sentence table is one groupBy over the chunks; the entity
  * table reduces the ready chunks again and aligns them to the sentence
  * spans (a per-episode window and an equi-join on episode_id).
  */
object Pipeline {

  /** The five warehouse tables. `entityOver` builds the entity table
    * over a given copy of the sentence table (`entity` is it over
    * `sentence`): a caller that stores `sentence` aligns the entities
    * to the stored rows instead of recomputing the sentence lineage.
    */
  case class Warehouse(
      time: DataFrame,
      podcast: DataFrame,
      episode: DataFrame,
      sentence: DataFrame,
      entity: DataFrame,
      entityOver: DataFrame => DataFrame)

  /** Run the whole dataflow from fixture-fed sources.
    * @param feedsPath  directory of RSS XML files (E5)
    * @param chunksPath directory tree episode_N/chunk_M.json (E11/X1)
    * @param expected   (episode_id, num_chunks) barrier expectations
    *                   (from the E13 downloader update)
    */
  def run(
      spark: SparkSession,
      feedsPath: String,
      chunksPath: String,
      expected: DataFrame): Warehouse = {
    val dims = FeedIngest.ingest(FeedIngest.readRss(spark, feedsPath))
    val chunks = Transcripts.readChunks(spark, chunksPath)
    val sentence = Transcripts.sentenceDimension(chunks, expected)
    val ready = Transcripts.completeEpisodes(chunks, expected)
    val transcripts =
      Transcripts.reduceTranscripts(chunks.join(ready, Seq("episode_id")))
    val mentions = Stubs.stubEntities(transcripts, "text")
    val entityOver = (s: DataFrame) => Entities.entityDimension(mentions, s)
    Warehouse(dims.time, dims.podcast, dims.episode, sentence,
      entityOver(sentence), entityOver)
  }
}
