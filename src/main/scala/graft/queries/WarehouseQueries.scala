package graft.queries

import graft.etl.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference dashboard's queries VERBATIM over the real warehouse
  * tables (podcast/episode/sentence/entity dims built by the ETL from
  * the checked-in fixtures) — a user of the reference can run every
  * query they run today, same shapes, same parameters-with-defaults
  * (S16), same J2 bug.
  *
  * Oracle strategy (round 2): the warehouse isn't a driver testdata
  * table, so Verify MATERIALIZES it to parquet at a fixed path
  * (`DumpPath`) and the oracle SQL reads it back via `read_parquet` —
  * the J2 bug-compat join, its strict variant, the Q6 rolling window
  * and the Q7 proportions are then hash-checked against DuckDB like
  * every other query, over the exact same warehouse bits.
  *
  * Each warehouse table materializes once per session, when a query
  * first reads it — queries after the first reuse it.
  */
object WarehouseQueries {

  /** Fixed absolute path for the warehouse parquet dump. Absolute so the
    * oracle SQL (a static string, no outDir templating in the driver
    * contract) can reference it; under target/ so `sbt clean` clears it
    * and nothing outside the repo is touched. Verify rewrites it on
    * every run before the oracle SQL is emitted. Checkout-relative via
    * RepoPaths (user.dir / -Dgraft.repo.root), not hardcoded.
    */
  val DumpPath = graft.RepoPaths.target("graft_warehouse")

  /** Write the five warehouse tables to `DumpPath` for the DuckDB
    * oracle. Same cached frames the wh_* queries read — the compare and
    * the queries see identical warehouse bits (scores are IEEE doubles;
    * parquet round-trips them exactly).
    */
  def dumpWarehouse(spark: SparkSession): Unit = {
    val w = wh(spark)
    Seq(
      "time" -> w.time, "podcast" -> w.podcast, "episode" -> w.episode,
      "sentence" -> w.sentence, "entity" -> w.entity)
      .foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$DumpPath/$name")
      }
  }

  /** Fixture roots resolve against CWD first, then the repo's absolute
    * location — the driver may invoke Verify from elsewhere.
    */
  private def fixture(rel: String): String = {
    val cwd = new java.io.File(rel)
    if (cwd.isDirectory) cwd.getAbsolutePath
    else s"${graft.RepoPaths.root}/$rel"
  }

  // dir key "": the fixture warehouse is sf-independent (one build per
  // session, whatever testdata dir the queries run against)
  private[queries] def pipeline(spark: SparkSession): Pipeline.Warehouse =
    SessionCache.memo(spark, "", "fixtureWarehouse") {
      import spark.implicits._
      Pipeline.run(
        spark,
        fixture("src/test/resources/feeds"),
        fixture("src/test/resources/chunks"),
        Seq((1L, 3), (2L, 2), (3L, 1)).toDF("episode_id", "num_chunks"))
    }

  /** The warehouse tables as session-cached frames: each table is
    * stored (`SessionCache.cached` key `wh.<table>`) when a query
    * first reads it, so a table no query reads is never computed. The
    * entity table is built over the stored sentence table, so the
    * sentence lineage runs once per session.
    */
  private class Wh(spark: SparkSession) {
    private def table(name: String)(pick: Pipeline.Warehouse => DataFrame) =
      SessionCache.cached(spark, "", s"wh.$name")(pick(pipeline(spark)))
    def time: DataFrame = table("time")(_.time)
    def podcast: DataFrame = table("podcast")(_.podcast)
    def episode: DataFrame = table("episode")(_.episode)
    def sentence: DataFrame = table("sentence")(_.sentence)
    def entity: DataFrame = table("entity")(_.entityOver(sentence))
  }

  private def wh(spark: SparkSession): Wh = new Wh(spark)

  /** Q1 (`app.py:39`): distinct podcasts. */
  def q1(spark: SparkSession, dir: String): DataFrame =
    wh(spark).podcast.select(col("podcast_title")).distinct()
      .orderBy(col("podcast_title"))

  /** Q2 (`app.py:97-102`): episode ids of a podcast, most recent first
    * (MySQL's ORDER BY a non-selected column — episode_id kept through
    * the dedup then date dropped, SURVEY §2.4 A5 note).
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark)
    val pid = w.podcast.orderBy(col("podcast_title")) // default param: first podcast
    w.episode
      .join(broadcast(pid.limit(1)), Seq("podcast_id"))
      .select(col("episode_id"), col("episode_release_date")).distinct()
      .orderBy(col("episode_release_date").desc, col("episode_id"))
      .select(col("episode_id"))
  }

  /** Q3 (`app.py:132-136`): entity types present in an episode (default
    * episode per S16).
    */
  def q3(spark: SparkSession, dir: String): DataFrame =
    wh(spark).entity.filter(col("episode_id") === 1L)
      .select(col("entity_type")).distinct().orderBy(col("entity_type"))

  /** Q4 (`app.py:180-187`): mention counts per entity text. */
  def q4(spark: SparkSession, dir: String): DataFrame =
    wh(spark).entity
      .filter(col("entity_type") === "ORGANIZATION" && col("episode_id") === 1L)
      .groupBy(col("entity_text"))
      .agg(count(lit(1)).as("num_occurences"))
      .orderBy(col("num_occurences").desc, col("entity_text"))

  /** Q5 (`app.py:230-238`) with the J2 BUG preserved: the LEFT JOIN is
    * on sentence_index ONLY (the sentence dim's unique key is
    * (sentence_index, episode_id), `lambda_2.py:68`) — with multiple
    * episodes loaded, same-index sentences from other episodes match.
    * The WHERE filters only the entity side, BOTH predicates
    * (`app.py:235-236`: `e.entity_type = ? AND e.episode_id = ?`).
    */
  def q5Bug(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark)
    w.entity
      .filter(col("entity_type") === "ORGANIZATION" &&
        col("episode_id") === 1L)
      .select(col("sentence_index"))
      .join(
        w.sentence.select(col("sentence_index"), col("overall_sentiment")),
        Seq("sentence_index"), "left")
      .groupBy(col("overall_sentiment"))
      .agg(count(lit(1)).as("cnt"))
      // nulls-last explicitly: Spark defaults NULLS FIRST on asc,
      // DuckDB NULLS LAST — a left-join miss group would silently
      // order differently between engine and oracle
      .orderBy(col("cnt").desc, col("overall_sentiment").asc_nulls_last)
  }

  /** Q5 corrected: strict join on (sentence_index, episode_id). */
  def q5Strict(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark)
    w.entity
      .filter(col("entity_type") === "ORGANIZATION" &&
        col("episode_id") === 1L)
      .select(col("sentence_index"), col("episode_id"))
      .join(
        w.sentence.select(
          col("sentence_index"), col("episode_id"), col("overall_sentiment")),
        Seq("sentence_index", "episode_id"), "left")
      .groupBy(col("overall_sentiment"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("overall_sentiment").asc_nulls_last)
  }

  /** Q6 (`app.py:270,282-305`): rolling-50 mean of (positive - negative)
    * over sentence order (S11 arithmetic, W1 window, entity_text
    * lowercased tiebreak per SURVEY W1 determinism note).
    */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark)
    val joined = w.entity.filter(col("episode_id") === 1L)
      .select(col("sentence_index"), lower(col("entity_text")).as("entity_text"))
      .join(
        w.sentence.select(
          col("sentence_index"), col("positive_score"), col("negative_score")),
        Seq("sentence_index"), "left")
    // Exactness: a rolling AVG over raw doubles is summation-order-
    // dependent (engines use different accumulation trees). Quantize the
    // per-row score to integer nano-units with floor (identical IEEE
    // input → identical int, no round-half semantics involved), sum
    // exactly, divide once — bit-identical across engines (same pattern
    // as Dashboard.q6's integer cents).
    //
    // Ordering: (sentence_index, entity_text) is NOT total here — the
    // bug-compat fan-out can give one entity several same-index rows
    // with different scores — so the window also orders by the score n
    // (remaining ties carry equal n → interchangeable), and the output
    // adds rolling_avg as the visible tiebreak.
    val win = Window
      .orderBy(col("sentence_index"), col("entity_text"), col("n"))
      .rowsBetween(-49, 0)
    joined
      .withColumn(
        "n",
        floor((col("positive_score") - col("negative_score")) * lit(1e9)))
      .withColumn(
        "rolling_avg",
        sum(col("n")).over(win).cast("double") /
          (lit(1e9) * count(col("n")).over(win).cast("double")))
      .select(col("sentence_index"), col("entity_text"), col("rolling_avg"))
      .orderBy(col("sentence_index"), col("entity_text"), col("rolling_avg"))
  }

  /** Q7 (`app.py:333-346`): normalized sentiment proportions per entity.
    * AVG ratios = SUM ratios (group count cancels); sums are over
    * nano-unit integers (see q6 exactness note) so the final divisions
    * are IEEE ops on identical exact longs in both engines.
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark)
    def nanos(c: String) = floor(col(c) * lit(1e9))
    val total = (col("sum_pos") + col("sum_neu") + col("sum_neg")).cast("double")
    w.entity.filter(col("episode_id") === 1L)
      .select(col("sentence_index"), col("entity_text"))
      .join(
        w.sentence.select(
          col("sentence_index"), col("neutral_score"),
          col("positive_score"), col("negative_score")),
        Seq("sentence_index"), "left")
      .groupBy(col("entity_text"))
      .agg(
        sum(nanos("neutral_score")).as("sum_neu"),
        sum(nanos("positive_score")).as("sum_pos"),
        sum(nanos("negative_score")).as("sum_neg"))
      .select(
        col("entity_text"),
        (col("sum_pos").cast("double") / total).as("pos_prop"),
        (col("sum_neu").cast("double") / total).as("neu_prop"),
        (col("sum_neg").cast("double") / total).as("neg_prop"))
      .orderBy(col("pos_prop").desc, col("entity_text"))
  }

  /** Q8 (`app.py:365-367,385-399`): word frequency over the episode's
    * sentences after stopword removal (S15 newline flatten included).
    */
  def q8(spark: SparkSession, dir: String): DataFrame =
    wh(spark).sentence.filter(col("episode_id") === 1L)
      .select(regexp_replace(col("sentence_text"), "\n", " ").as("t"))
      .select(explode(split(lower(col("t")), "\\s+")).as("word"))
      .filter(col("word") =!= "" && !col("word").isin(Dashboard.Stopwords: _*))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_q1_podcasts" -> q1,
    "wh_q2_episodes" -> q2,
    "wh_q3_entity_types" -> q3,
    "wh_q4_mentions" -> q4,
    "wh_q5_sentiment_bugcompat" -> q5Bug,
    "wh_q5_sentiment_strict" -> q5Strict,
    "wh_q6_rolling" -> q6,
    "wh_q7_proportions" -> q7,
    "wh_q8_wordcloud" -> q8)

  /** DuckDB oracles over the warehouse parquet dumped by Verify to
    * `DumpPath` (see the object scaladoc): every wh_* query —
    * including the J2 bug-compat join — is hash-checked against an
    * independent engine reading the same warehouse bits.
    */
  private def t(name: String): String =
    s"read_parquet('$DumpPath/$name/*.parquet')"

  val oracleSql: Map[String, String] = Map(
    "wh_q1_podcasts" ->
      s"""SELECT DISTINCT podcast_title FROM ${t("podcast")}
          ORDER BY podcast_title""",
    "wh_q2_episodes" ->
      s"""SELECT episode_id FROM (
            SELECT DISTINCT episode_id, episode_release_date
            FROM ${t("episode")}
            WHERE podcast_id =
              (SELECT podcast_id FROM ${t("podcast")}
               ORDER BY podcast_title LIMIT 1))
          ORDER BY episode_release_date DESC, episode_id""",
    "wh_q3_entity_types" ->
      s"""SELECT DISTINCT entity_type FROM ${t("entity")}
          WHERE episode_id = 1 ORDER BY entity_type""",
    "wh_q4_mentions" ->
      s"""SELECT entity_text, COUNT(*) AS num_occurences FROM ${t("entity")}
          WHERE entity_type = 'ORGANIZATION' AND episode_id = 1
          GROUP BY entity_text
          ORDER BY num_occurences DESC, entity_text""",
    "wh_q5_sentiment_bugcompat" ->
      s"""SELECT s.overall_sentiment, COUNT(*) AS cnt
          FROM (SELECT sentence_index FROM ${t("entity")}
                WHERE entity_type = 'ORGANIZATION' AND episode_id = 1) e
          LEFT JOIN ${t("sentence")} s
            ON s.sentence_index = e.sentence_index
          GROUP BY s.overall_sentiment
          ORDER BY cnt DESC, s.overall_sentiment ASC NULLS LAST""",
    "wh_q5_sentiment_strict" ->
      s"""SELECT s.overall_sentiment, COUNT(*) AS cnt
          FROM (SELECT sentence_index, episode_id FROM ${t("entity")}
                WHERE entity_type = 'ORGANIZATION' AND episode_id = 1) e
          LEFT JOIN ${t("sentence")} s
            ON s.sentence_index = e.sentence_index
           AND s.episode_id = e.episode_id
          GROUP BY s.overall_sentiment
          ORDER BY cnt DESC, s.overall_sentiment ASC NULLS LAST""",
    "wh_q6_rolling" ->
      s"""SELECT sentence_index, entity_text,
                 CAST(SUM(n) OVER w AS DOUBLE)
                   / (1e9 * CAST(COUNT(n) OVER w AS DOUBLE)) AS rolling_avg
          FROM (
            SELECT e.sentence_index, lower(e.entity_text) AS entity_text,
                   CAST(FLOOR((s.positive_score - s.negative_score) * 1e9)
                     AS BIGINT) AS n
            FROM (SELECT sentence_index, entity_text FROM ${t("entity")}
                  WHERE episode_id = 1) e
            LEFT JOIN ${t("sentence")} s
              ON s.sentence_index = e.sentence_index)
          WINDOW w AS (ORDER BY sentence_index, entity_text, n
                       ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
          ORDER BY sentence_index, entity_text, rolling_avg""",
    "wh_q7_proportions" ->
      s"""SELECT entity_text,
                 CAST(sum_pos AS DOUBLE)
                   / CAST(sum_pos + sum_neu + sum_neg AS DOUBLE) AS pos_prop,
                 CAST(sum_neu AS DOUBLE)
                   / CAST(sum_pos + sum_neu + sum_neg AS DOUBLE) AS neu_prop,
                 CAST(sum_neg AS DOUBLE)
                   / CAST(sum_pos + sum_neu + sum_neg AS DOUBLE) AS neg_prop
          FROM (
            SELECT e.entity_text,
                   SUM(CAST(FLOOR(s.neutral_score * 1e9) AS BIGINT)) AS sum_neu,
                   SUM(CAST(FLOOR(s.positive_score * 1e9) AS BIGINT)) AS sum_pos,
                   SUM(CAST(FLOOR(s.negative_score * 1e9) AS BIGINT)) AS sum_neg
            FROM (SELECT sentence_index, entity_text FROM ${t("entity")}
                  WHERE episode_id = 1) e
            LEFT JOIN ${t("sentence")} s
              ON s.sentence_index = e.sentence_index
            GROUP BY e.entity_text)
          ORDER BY pos_prop DESC, entity_text""",
    "wh_q8_wordcloud" ->
      s"""SELECT word, COUNT(*) AS cnt
          FROM (
            SELECT unnest(string_split_regex(
                     lower(replace(sentence_text, chr(10), ' ')), '\\s+')) AS word
            FROM ${t("sentence")} WHERE episode_id = 1)
          WHERE word <> ''
            AND word NOT IN (${Dashboard.Stopwords.map(w => s"'$w'").mkString(", ")})
          GROUP BY word ORDER BY cnt DESC, word""")
}
