package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** E4/E5/S9/S10/A4/J1/E6 behavior per reference `lambda_2.py` (SURVEY §2). */
class FeedIngestSpec extends SparkSpec {

  lazy val dims: FeedIngest.FeedDims =
    FeedIngest.ingest(FeedIngest.readRss(spark, res("feeds")))

  test("podcast dimension: one row per channel, title unique") {
    val rows = dims.podcast.orderBy("podcast_title").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("Pod One", "Pod Two"))
  }

  test("episode dimension: duplicate link dropped (INSERT IGNORE on link)") {
    // feed1 has 3 items but one repeats ep1's enclosure url
    assert(dims.episode.count() == 4)
    assert(dims.episode.select("link").distinct().count() == 4)
  }

  test("unparseable pubDate yields null release date (S9 null-on-failure)") {
    val bad = dims.episode
      .filter(col("link") === "https://example.com/pod1/ep2.mp3")
      .select("episode_release_date").collect()
    assert(bad.length == 1 && bad.head.isNullAt(0))
  }

  test("pubDate parser covers the legal RFC-822 variant matrix (S9)") {
    import spark.implicits._
    val got = Seq(
      "Mon, 02 Jan 2023 10:00:00 +0000", // canonical
      "Mon, 2 Jan 2023 10:00:00 +0000",  // single-digit day
      "Mon, 02 Jan 2023 10:00:00 GMT",   // named zone
      "2 Jan 2023 10:00 GMT",            // no weekday, no seconds
      "not a date")
      .toDF("pd")
      .select(FeedIngest.parsePubDate(col("pd")).cast("string").as("d"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.take(4).forall(_.contains("2023-01-02")))
    assert(got.last.isEmpty) // null-on-failure preserved
  }

  test("time dimension: distinct dates with derived parts (A4/S10)") {
    val rows = dims.time.orderBy("date").collect()
    assert(rows.length == 2) // 2023-01-02 shared across feeds; 2023-02-03
    assert(rows.head.getAs[String]("month") == "January")
    assert(rows.last.getAs[String]("month") == "February")
    assert(rows.head.getAs[Int]("day") == 2)
  }

  test("episode FK resolves to its channel's podcast (J1)") {
    val joined = dims.episode.join(
      dims.podcast, Seq("podcast_id"), "left_anti")
    assert(joined.count() == 0) // every episode's podcast_id resolves
  }

  test("surrogate keys are stable across re-ingest (retry safety)") {
    val again = FeedIngest.ingest(FeedIngest.readRss(spark, res("feeds")))
    assert(dims.episode.select("episode_id").except(
      again.episode.select("episode_id")).count() == 0)
  }

  /** A directory of feeds, one per (channel title, item links). */
  private def feedDir(channels: (String, Seq[String])*): String = {
    val dir = Files.createTempDirectory("feeds")
    channels.zipWithIndex.foreach { case ((title, links), i) =>
      val items = links.map { link =>
        s"""  <item>
           |    <title>ep</title><description>d</description>
           |    <pubDate>Mon, 02 Jan 2023 15:04:05 +0000</pubDate>
           |    <enclosure url="$link" type="audio/mpeg"/>
           |  </item>""".stripMargin
      }
      Files.writeString(dir.resolve(s"feed$i.xml"),
        s"""<?xml version="1.0" encoding="UTF-8"?>
           |<rss version="2.0"><channel>
           |  <title>$title</title><description>d</description>
           |${items.mkString("\n")}
           |</channel></rss>
           |""".stripMargin)
    }
    dir.toString
  }

  // Inferred, `item` would be a struct here: every channel has one.
  lazy val oneItemFeeds: String = feedDir(
    "Pod A" -> Seq("https://example.com/a/ep1.mp3"),
    "Pod B" -> Seq("https://example.com/b/ep1.mp3"))

  // Inferred, the title would be a long here: the only channel's is numeric.
  lazy val numericTitleFeeds: String = feedDir(
    "1984" -> Seq("https://example.com/1984/ep1.mp3", "https://example.com/1984/ep2.mp3"))

  test("channels with one <item> each ingest (item pinned as an array)") {
    val d = FeedIngest.ingest(FeedIngest.readRss(spark, oneItemFeeds))
    assert(d.podcast.count() == 2)
    assert(d.episode.select("link").collect().map(_.getString(0)).toSet == Set(
      "https://example.com/a/ep1.mp3", "https://example.com/b/ep1.mp3"))
  }

  test("a numeric title is a string: podcast_id is xxhash64 of \"1984\"") {
    val d = FeedIngest.ingest(FeedIngest.readRss(spark, numericTitleFeeds))
    val want = spark.range(1).select(xxhash64(lit("1984"))).head().getLong(0)
    val pod = d.podcast.collect()
    assert(pod.length == 1 && pod.head.getAs[String]("podcast_title") == "1984")
    assert(pod.head.getAs[Long]("podcast_id") == want)
    assert(d.episode.select("podcast_id").collect().map(_.getLong(0)).toSeq == Seq(want, want))
  }

  test("readRss starts no Spark job (pinned schema, no inference scan)") {
    assert(jobsStarted(FeedIngest.readRss(spark, res("feeds"))) == 0)
    assert(jobsStarted(FeedIngest.readRss(spark, oneItemFeeds)) == 0)
    assert(jobsStarted(FeedIngest.readRss(spark, numericTitleFeeds)) == 0)
  }
}
