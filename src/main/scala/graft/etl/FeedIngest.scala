package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Metadata ingest (SURVEY.md §3.1, reference `lambda_2.py`): RSS XML →
  * time / podcast / episode dimensions. One declarative DAG replaces the
  * scrape→S3→Lambda choreography: XML read → nested projection →
  * explode(item) → date parse → dedup → surrogate keys.
  */
object FeedIngest {

  /** The RSS fields the ingest reads, all as strings. Pinned: inference
    * costs a scan per read, types a channel whose every feed has one
    * `<item>` as a struct (which `explode` rejects), and types a title
    * like `1984` as a number, whose xxhash64 differs from the string's.
    */
  private val RssSchema: StructType = StructType.fromDDL(
    "title STRING, description STRING, item ARRAY<STRUCT<" +
      "title: STRING, description: STRING, pubDate: STRING, " +
      "enclosure: STRUCT<_url: STRING, _type: STRING>>>")

  /** E5 — RSS source (`lambda_2.py:168-189`, xmltodict): Spark 4
    * built-in XML, one row per `<channel>`. Works on a directory of
    * feeds — each file is a row, read with the pinned `RssSchema`.
    */
  def readRss(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml").option("rowTag", "channel").schema(RssSchema).load(path)

  case class FeedDims(time: DataFrame, podcast: DataFrame, episode: DataFrame)

  /** S9 — RFC-822 pubDate → date, null on failure (`lambda_2.py:108-114`).
    * Spark's post-3.0 parser rejects `EEE` in parse patterns — the
    * weekday prefix is stripped first. Legal RFC-822 varies: single-digit
    * days ('5 Jun'), named zones ('GMT', 'EST'), and second-less times —
    * coalesce over the pattern matrix ('d' also matches 2-digit days,
    * 'zzz' the zone names), still null when nothing matches.
    */
  def parsePubDate(pubDate: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      Seq("d MMM yyyy HH:mm:ss Z", "d MMM yyyy HH:mm:ss zzz",
          "d MMM yyyy HH:mm Z", "d MMM yyyy HH:mm zzz").map { p =>
        try_to_timestamp(
          regexp_replace(pubDate, "^[A-Za-z]{3},\\s*", ""), lit(p))
      }: _*)
      .cast("date")

  /** The ingest proper (`lambda_2.py:173-238`). Surrogate keys are
    * xxhash64 of the natural unique key (podcast_title / link) — stable
    * across retries, no driver-side sequence at 100 TB. An episode's
    * podcast_id is computed from its own channel's title, the key the
    * podcast dimension carries, so no lookup join is needed (J1); a
    * channel without a title has no podcast row and its items are
    * dropped. pubDate parses RFC-822 with null-on-failure (S9,
    * `lambda_2.py:108-114`) via try_to_timestamp (ANSI-safe).
    */
  def ingest(channels: DataFrame): FeedDims = {
    val podcast = channels
      .select(
        xxhash64(col("title")).as("podcast_id"),
        col("title").as("podcast_title"),
        col("description"))
      .dropDuplicates("podcast_title")

    val episode = channels
      .filter(col("title").isNotNull)
      .select(xxhash64(col("title")).as("podcast_id"), explode(col("item")).as("it"))
      .select(
        xxhash64(col("it.enclosure._url")).as("episode_id"),
        col("it.enclosure._url").as("link"),
        col("podcast_id"),
        parsePubDate(col("it.pubDate")).as("episode_release_date"),
        col("it.title").as("episode_title"),
        col("it.description").as("episode_description"),
        lit(false).as("downloaded"),
        lit(0).as("num_chunks"))
      .dropDuplicates("link")                       // unique key on link

    // A4 + S10 — distinct dates with derived parts (`lambda_2.py:93-106,
    // 192-202`); month name via date_format, no lookup dict needed.
    val time = episode
      .select(col("episode_release_date").as("date"))
      .filter(col("date").isNotNull)
      .distinct()
      .select(
        col("date"),
        year(col("date")).as("year"),
        date_format(col("date"), "MMMM").as("month"),
        month(col("date")).as("month_number"),
        dayofmonth(col("date")).as("day"))

    FeedDims(time, podcast, episode)
  }
}
