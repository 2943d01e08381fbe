package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exact-state fit loops — t21's BPE merge learning, d18's star
  * contraction and d9's label propagation — run one Spark job per round
  * over persisted RDD state. Pinned here:
  *   - each loop returns what its per-round DataFrame formulation
  *     ([[FitLoopReference]]) returned: merges on adversarial words,
  *     labels and round counts on planted graphs;
  *   - the job count: the input build plus one job per round;
  *   - superseded round state is released;
  *   - d9 on a corpus with no near-duplicate pair.
  */
class FitLoopSpec extends SparkSpec {
  import spark.implicits._

  /** Write a fixture documents.parquet and return its dir. */
  private def docsDir(prefix: String, docs: Seq[(Long, String)]): String = {
    val fdir = java.nio.file.Files.createTempDirectory(prefix).toString
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("fix").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.parquet(s"$fdir/documents.parquet")
    fdir
  }

  private def mergeRows(df: DataFrame): Seq[(Long, String, String, Long)] =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))

  // U+FF10 (fullwidth zero) sorts before U+1F600 (😀) by code point,
  // which is Spark's string order, and after it in UTF-16, where 😀 is
  // the surrogate pair D83D DE00; neither has a lower-case mapping
  private val bpeCorpus = Seq(
    "x０", "x０", "x０", "x😀", "x😀", "x😀",
    "😀😀😀",   // surrogate pairs, repeated
    "ab\u2028cd", "ab\u2028cd",       // U+2028: `.` skips it
    "p\u0085q", "r\u2029s",            // U+0085, U+2029 likewise
    "q", "z", "０",                        // one-symbol words
    "abcdefghij").mkString(" ")

  test("t21: the RDD loop learns the DataFrame loop's merges on adversarial words") {
    val fdir = docsDir("t21_adv_", Seq(1L -> bpeCorpus))
    val got = mergeRows(TextOps.bpeMerges(spark, fdir))
    assert(got == mergeRows(FitLoopReference.bpeMerges(spark, fdir)))
    // the count tie between (x, ０) and (x, 😀) goes to Spark's order
    assert(got.take(2) == Seq(
      (1L, "x", "０", 3L), (2L, "x", "😀", 3L)), got)
  }

  test("t21: symbols split as split(ltrim(rtrim(seg, ␟), ␟), ␟␟)") {
    val S = TextOps.BpeSep
    val segs = Seq("", s"$S", s"${S}a$S", s"${S}a$S$S${S}b$S", s"${S}a$S ${S}b$S",
      s"$S${S}ab$S${S}c$S$S", s"a$S${S}b")
    val want = segs.toDF("seg")
      .select(split(ltrim(rtrim(col("seg"), S), S), s"$S$S"))
      .collect().map(_.getSeq[String](0))
    assert(segs.map(TextOps.bpeSymbols(_).toSeq) == want.toSeq)
  }

  test("t21: one job per round plus the vocabulary build; no round state kept") {
    val fdir = docsDir("t21_jobs_", Seq(1L -> bpeCorpus))
    TextOps.cachedWords(spark, fdir).count()
    val before = spark.sparkContext.getPersistentRDDs.size
    var merges: DataFrame = null
    assert(jobsStarted { merges = TextOps.bpeMerges(spark, fdir) } ==
      1 + TextOps.MergeRounds)
    merges.collect()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  // ------------------------------------------------------------ graphs

  private def edges(es: Seq[(Long, Long)]): DataFrame = es.toDF("u", "v")

  private def randomGraph(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong * 7 + 3, rnd.nextInt(n).toLong * 7 + 3))
  }

  private def path(n: Int): Seq[(Long, Long)] =
    (0 until n - 1).map(i => (i.toLong, i.toLong + 1))

  private val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
    "random 1" -> randomGraph(1, 60, 45),
    "random 2" -> randomGraph(2, 40, 60),
    "random 3" -> randomGraph(3, 200, 150),
    "star" -> (1L to 20L).map(i => (100L, i)),
    "clique" -> (for (i <- 1L to 8L; j <- 1L to 8L if i != j) yield (i, j)),
    "duplicate, reversed and self-loop edges" -> Seq(
      (5L, 9L), (9L, 5L), (5L, 9L), (9L, 7L), (7L, 7L), (40L, 40L),
      (20L, 30L), (30L, 20L)))

  private def labelMap(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == rows.toMap.size, "one label per vertex")
    rows.toMap
  }

  private def assertSameFit(
      name: String,
      got: (DataFrame, Int), want: (DataFrame, Int)): Unit = {
    assert(got._1.schema.map(f => (f.name, f.dataType)) ==
      want._1.schema.map(f => (f.name, f.dataType)), name)
    assert(labelMap(got._1) == labelMap(want._1), name)
    assert(got._2 == want._2, s"$name: rounds")
  }

  test("d18: the RDD star contraction equals the DataFrame loop, labels and rounds") {
    for ((name, es) <- graphs :+ ("64-vertex path" -> path(64)))
      assertSameFit(name,
        Dedup.starContract(edges(es)), FitLoopReference.starContract(edges(es)))
    val (labels, rounds) = Dedup.starContract(edges(Nil))
    assert(labels.isEmpty && rounds == 0)
  }

  test("d9: the RDD label propagation equals the DataFrame loop, labels and rounds") {
    for ((name, es) <- graphs :+ ("24-vertex path" -> path(24)))
      assertSameFit(name,
        Dedup.propagateLabels(edges(es)), FitLoopReference.propagateLabels(edges(es)))
    // the DataFrame loop fails on an edge-free graph (its label sum is
    // NULL); the RDD loop converges on the empty state
    val (labels, rounds) = Dedup.propagateLabels(edges(Nil))
    assert(labels.isEmpty && rounds == 2)
    // a diameter past the round cap still fails loudly
    val e = intercept[IllegalArgumentException](Dedup.propagateLabels(edges(path(64))))
    assert(e.getMessage.contains("did not converge"))
  }

  test("graph loops: one job per round plus the first fingerprint; only the final state kept") {
    val sc = spark.sparkContext
    val es = edges(path(64))
    val before = sc.getPersistentRDDs.size
    var star: (DataFrame, Int) = null
    assert(jobsStarted { star = Dedup.starContract(es) } == 1 + star._2)
    star._1.collect()
    assert(sc.getPersistentRDDs.size <= before + 1)

    val before2 = sc.getPersistentRDDs.size
    var prop: (DataFrame, Int) = null
    assert(jobsStarted { prop = Dedup.propagateLabels(edges(path(10))) } == prop._2)
    prop._1.collect()
    assert(sc.getPersistentRDDs.size <= before2 + 1)
  }

  test("d9 on a corpus with no near-duplicate pair: every document its own cluster") {
    val docs = (1L to 6L).map { i =>
      i -> (1 to 12).map(k => s"w${i}x$k").mkString(" ")
    }
    val fdir = docsDir("d9_nodup_", docs)
    assert(Dedup.minhashLsh(spark, fdir).isEmpty, "fixture has an LSH pair")
    val got = Dedup.dedupClusters(spark, fdir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == (1L to 6L).map(i => (i, i, true)))
    assert(Dedup.ccStar(spark, fdir).collect().map(_.getLong(1)).toSeq == (1L to 6L))
  }
}
