package perfbench

import java.io.File

import graft.etl.{Entities, FeedIngest, Transcripts, WarehouseWriter}
import graft.nlp.Stubs
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `podcast_etl`: the paper's dataflow through the program's public etl
  * calls. Batch 1 lands the generated corpus in an empty parquet
  * warehouse; batch 2 is the seeded replay. Every table is written at
  * its stage boundary; as in the program, only those tables are
  * persisted (see `batch`).
  * After the cold job, batch 2 is replayed until the run's seconds are
  * used; each replay must insert nothing.
  */
object PodcastEtl {

  /** Warehouse tables: (name, unique key, tie-break order). */
  private val tables = Seq(
    ("time", "date", Seq("date")),
    ("podcast", "podcast_id", Seq("podcast_title")),
    ("episode", "episode_id", Seq("link", "episode_title")),
    ("sentence", "sentence_id", Seq("sentence_index")),
    ("entity", "entity_id", Seq("sentence_index")))

  def run(r: Run, corpus: String, work: String): Unit = {
    val m = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$corpus/manifest.properties")
    try m.load(in) finally in.close()
    def p(k: String): String = Option(m.getProperty(k)).getOrElse(sys.error(s"manifest lacks $k"))
    def pl(k: String): Long = p(k).toLong
    val warehouse = s"$work/warehouse"
    r.note("corpus", Seq("episodes", "chunk_files", "sentences", "entities", "podcasts", "input_bytes")
      .map(k => s"$k=${p(k)}").mkString(" "))

    val opLat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var job = 0.0
    // Table state after the previous batch, so each batch is compared
    // with the state it started from.
    var state = snapshot(r, warehouse)
    var ids = sentenceEpisodes(r, warehouse)
    var cpu = 0.0
    for (b <- Seq("batch1", "batch2")) {
      val cpu0 = r.cpuSeconds
      val (frames, s) = r.tracer.span(s"podcast_etl.$b")(
        batch(r, s"$corpus/$b", pl(s"$b.chunk_files"), warehouse, opLat))
      cpu += r.cpuSeconds - cpu0
      job += s
      if (b == "batch2") r.layer("etl.replay_s", s)
      val after = snapshot(r, warehouse)
      checkBatch(r, b, frames, state, after, pl)
      val idsAfter = sentenceEpisodes(r, warehouse)
      val fresh = (idsAfter -- ids).toSeq.sorted.mkString(" ")
      r.check(s"$b inserts exactly the generator's fresh episodes",
        fresh == p(s"$b.fresh_episodes"), s"inserted [$fresh]")
      state = after
      ids = idsAfter
    }
    r.e2e("job_s", job)
    r.layer("job_cpu_s", cpu)
    r.layer("ops.p50_ms", Main.median(opLat.toSeq) * 1e3)
    r.layer("etl.episodes_per_s", ids.size / job)

    // Warm replays of batch 2: every key already exists.
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < r.seconds) {
      val (frames, s) = r.tracer.span("podcast_etl.replay")(
        batch(r, s"$corpus/batch2", pl("batch2.chunk_files"), warehouse, null))
      passes += s
      frames.release()
      val after = snapshot(r, warehouse)
      tables.foreach { case (t, _, _) =>
        val n = after(t).rows - state(t).rows
        r.check(s"replayed batch 2 inserts 0 $t rows", n == 0, s"inserted $n")
      }
      state = after
    }
    r.layer("warm.pass_s", Main.median(passes.toSeq))
    r.layer("warm.passes", passes.size)
  }

  /** The frames of one batch, kept for the checks. Only the warehouse
    * tables are persisted.
    */
  final class Frames(
      val dims: Seq[(String, DataFrame)], val chunks: DataFrame, val sentence: DataFrame,
      val entities: DataFrame, val entity: DataFrame) {
    def release(): Unit = (dims.map(_._2) ++ Seq(sentence, entity)).foreach(_.unpersist())
  }

  /** One batch through the layers, composed call for call as
    * `graft.etl.Pipeline.run` composes them. As the program's own caller
    * (`WarehouseQueries`) does, only the five warehouse tables are
    * persisted; each is materialised in the span of the layer that
    * returns it, then landed. Nothing else is cached, so each table pays
    * for its whole lineage as it does in the program: the chunk files
    * are read once by `readChunks`' schema inference and again by the
    * `sentence` and the `entity` table, and the lazy calls
    * (`reduceTranscripts`, `stubEntities`) are paid for inside
    * `etl.Entities`. `opLat` collects per-call latency of the cold
    * batches (null for replays); layer metrics are added for cold
    * batches only, so that they split `job_s`.
    */
  private def batch(r: Run, dir: String, chunkFiles: Long, warehouse: String,
      opLat: scala.collection.mutable.ArrayBuffer[Double]): Frames = {
    val spark = r.spark
    import spark.implicits._
    val cold = opLat != null
    def step[A](layer: String)(f: => A): A = {
      r.attempted += 1
      val (res, s, prof) = r.op(layer)(f)
      if (cold) {
        opLat += s
        r.addLayer(s"$layer.wall_s", s)
        prof.foreach { q =>
          r.addLayer(s"$layer.tasks", q.exec.tasks)
          r.addLayer(s"$layer.shuffle_mb", q.exec.shuffleWriteBytes / 1e6)
        }
      }
      res
    }
    val expected = readExpected(dir).toDF("episode_id", "num_chunks")

    val dims = step("etl.FeedIngest") {
      val d = FeedIngest.ingest(FeedIngest.readRss(spark, s"$dir/feeds"))
      val frames = Seq("time" -> d.time, "podcast" -> d.podcast, "episode" -> d.episode)
        .map { case (n, df) => n -> df.persist() }
      val rows = frames.map(_._2.count()).sum
      if (cold) r.addLayer("etl.FeedIngest.rows_out", rows)
      frames
    }
    def land(t: String, incoming: DataFrame): Unit = {
      val (_, key, tie) = tables.find(_._1 == t).get
      step("etl.WarehouseWriter") {
        val path = s"$warehouse/$t"
        val existing =
          if (new File(path).exists()) spark.read.parquet(path)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], incoming.schema)
        WarehouseWriter.freshRows(existing, incoming, Seq(key), tie)
          .write.mode("append").parquet(path)
      }
    }
    dims.foreach { case (t, df) => land(t, df) }

    val chunks = step("etl.Transcripts.readChunks")(Transcripts.readChunks(spark, s"$dir/chunks"))
    if (cold) r.addLayer("etl.Transcripts.readChunks.files", chunkFiles)
    val sentence = step("etl.Transcripts.sentenceDimension") {
      val s = Transcripts.sentenceDimension(chunks, expected).persist()
      val n = s.count()
      if (cold) r.addLayer("etl.Transcripts.sentenceDimension.sentences", n)
      s
    }
    land("sentence", sentence)
    val transcripts = step("etl.Transcripts.reduceTranscripts") {
      val ready = Transcripts.completeEpisodes(chunks, expected)
      Transcripts.reduceTranscripts(chunks.join(ready, Seq("episode_id")))
    }
    val entities = step("nlp.Stubs.stubEntities")(Stubs.stubEntities(transcripts, "text"))
    val entity = step("etl.Entities") {
      val e = Entities.entityDimension(entities, sentence).persist()
      e.count()
      e
    }
    land("entity", entity)
    new Frames(dims, chunks, sentence, entities, entity)
  }

  private def readExpected(dir: String): Seq[(Long, Int)] = {
    val src = scala.io.Source.fromFile(s"$dir/expected.csv")
    try src.getLines().drop(1).map(_.split(",")).map(a => (a(0).toLong, a(1).toInt)).toSeq
    finally src.close()
  }

  final case class TableState(rows: Long, bytes: Long)

  /** Rows and data-file bytes of every warehouse table, from the
    * parquet footers.
    */
  private def snapshot(r: Run, warehouse: String): Map[String, TableState] = {
    val conf = r.spark.sparkContext.hadoopConfiguration
    tables.map { case (t, _, _) =>
      val files = Option(new File(s"$warehouse/$t").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      val rows = files.map { f =>
        val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try in.getRecordCount finally in.close()
      }.sum
      t -> TableState(rows, files.map(_.length()).sum)
    }.toMap
  }

  /** Episode ids present in the sentence table. */
  private def sentenceEpisodes(r: Run, warehouse: String): Set[Long] = {
    val f = new File(s"$warehouse/sentence")
    if (!f.exists()) Set.empty
    else r.spark.read.parquet(f.getPath).select("episode_id").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  private def checkBatch(r: Run, b: String, f: Frames,
      before: Map[String, TableState], after: Map[String, TableState],
      pl: String => Long): Unit = {
    def eq(what: String, got: Long, want: Long): Unit =
      r.check(s"$b: $what", got == want, s"got $got, expected $want")
    val episodesIn = f.chunks.select("episode_id").distinct().count()
    val landedEpisodes = f.sentence.select("episode_id").distinct().count()
    val entitiesIn = f.entities.count()
    val aligned = f.entity.count()
    val spans = Entities.sentenceSpans(f.sentence)
    val dropped = f.entities.join(spans,
      f.entities("episode_id") === spans("episode_id") &&
        col("begin_off") >= col("span_start") && col("begin_off") < col("span_end") + 1,
      "left_anti").count()
    eq("episodes in", episodesIn, pl(s"$b.episodes_in"))
    eq("episodes in = landed + held back", episodesIn, landedEpisodes + pl(s"$b.episodes_held"))
    eq("episodes landed", landedEpisodes, pl(s"$b.episodes_complete"))
    eq("sentence rows = sentences the tokenizer emits", f.sentence.count(), pl(s"$b.sentences"))
    eq("entities in", entitiesIn, pl(s"$b.entities"))
    eq("entities in = aligned + dropped", entitiesIn, aligned + dropped)
    var offered, inserted, written = 0L
    tables.foreach { case (t, _, _) =>
      val n = after(t).rows - before(t).rows
      eq(s"$t rows inserted", n, pl(s"$b.fresh.$t"))
      inserted += n
      written += after(t).bytes - before(t).bytes
      offered += (t match {
        case "sentence" => f.sentence.count()
        case "entity" => aligned
        case _ => f.dims.find(_._1 == t).get._2.count()
      })
    }
    r.addLayer("etl.WarehouseWriter.rows_offered", offered)
    r.addLayer("etl.WarehouseWriter.rows_inserted", inserted)
    r.addLayer("etl.WarehouseWriter.bytes_written", written)
    r.addLayer("etl.Entities.entities_in", entitiesIn)
    r.addLayer("etl.Entities.aligned", aligned)
    r.addLayer("etl.Entities.dropped", dropped)
    r.addLayer("etl.input_bytes", pl(s"$b.input_bytes"))
    f.release()
  }
}
