package graft.tools

import graft.etl.Pipeline
import org.apache.spark.sql.SparkSession

/** Drive the full reference dataflow (RSS → dims; chunks → sentences →
  * entities) on the checked-in fixtures and run every dashboard query
  * over the result — §3's three traced entry points as ONE invocation,
  * living documentation kept green by `PipelineDemoSpec`.
  *
  * Usage: runMain graft.tools.PipelineDemo [feedsDir chunksDir]
  * (with explicit dirs only the warehouse tables print — the wh_*
  * queries are defined over the checked-in fixture warehouse).
  */
object PipelineDemo {

  /** The end-to-end trace: feed ingest → transcript reduce → sentence →
    * entity alignment → Q1–Q8 (bug-compat AND strict variants), each
    * stage named with its row count, in dataflow order. The dashboard
    * queries run through the SAME registry entries the driver's
    * correctness gate checks (`WarehouseQueries.queries`), over the
    * session-cached warehouse built from the same fixtures — one code
    * path, no demo-only forks.
    */
  def trace(spark: SparkSession): Seq[(String, Long)] = {
    import spark.implicits._
    val expected =
      Seq((1L, 3), (2L, 2), (3L, 1)).toDF("episode_id", "num_chunks")
    val wh = Pipeline.run(
      spark,
      fixture("src/test/resources/feeds"),
      fixture("src/test/resources/chunks"),
      expected)
    val tables = Seq(
      "time_dimension" -> wh.time, "podcast_dimension" -> wh.podcast,
      "episode_dimension" -> wh.episode, "sentence_dimension" -> wh.sentence,
      "entity_dimension" -> wh.entity)
    val queries = graft.queries.WarehouseQueries.queries.toSeq.sortBy(_._1)
      .map { case (n, fn) => n -> fn(spark, "") }
    (tables ++ queries).map { case (n, df) => n -> df.count() }
  }

  private def fixture(rel: String): String = {
    val cwd = new java.io.File(rel)
    if (cwd.isDirectory) cwd.getAbsolutePath
    else s"${graft.RepoPaths.root}/$rel"
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.nonEmpty) {
      import spark.implicits._
      val expected =
        Seq((1L, 3), (2L, 2), (3L, 1)).toDF("episode_id", "num_chunks")
      val wh = Pipeline.run(
        spark, args(0), if (args.length > 1) args(1) else args(0), expected)
      Seq(
        "time_dimension" -> wh.time, "podcast_dimension" -> wh.podcast,
        "episode_dimension" -> wh.episode, "sentence_dimension" -> wh.sentence,
        "entity_dimension" -> wh.entity).foreach { case (n, df) =>
        println(s"== $n (${df.count()} rows)")
        df.show(5, truncate = 48)
      }
    } else trace(spark).foreach { case (n, c) => println(f"$n%-28s $c%6d rows") }
    spark.stop()
  }
}
