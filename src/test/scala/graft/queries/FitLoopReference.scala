package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The DataFrame formulations of the three exact-state fit loops, kept
  * as executable references for FitLoopSpec: each round built a new
  * DataFrame plan (analysed, planned and compiled per round). The
  * production loops (`TextOps.bpeMerges`, `Dedup.starContract`,
  * `Dedup.propagateLabels`) run one RDD job per round and must return
  * the same merges, labels and round counts.
  */
object FitLoopReference {

  /** `TextOps.bpeMerges` as a per-round DataFrame loop. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val S = TextOps.BpeSep
    val vocab = TextOps.cachedWords(spark, dir)
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
      .withColumn("seg", regexp_replace(col("word"), "(.)", s"$S$$1$S"))
      .persist()
    try {
      var seg = vocab
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (step <- 1L to TextOps.MergeRounds.toLong) {
        val syms = split(ltrim(rtrim(col("seg"), S), S), s"$S$S")
        val best = seg
          .select(col("n_word"), syms.as("sym"))
          .filter(size(col("sym")) >= 2)
          .select(
            col("n_word"), col("sym"),
            explode(sequence(lit(1), size(col("sym")) - 1)).as("i"))
          .select(
            col("n_word"),
            element_at(col("sym"), col("i")).as("a"),
            element_at(col("sym"), col("i") + 1).as("b"))
          .groupBy(col("a"), col("b"))
          .agg(sum(col("n_word")).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1)
          .collect()
        assert(best.nonEmpty, s"BPE round $step found no adjacent pairs")
        val (a, b, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((step, a, b, n))
        seg = seg.withColumn(
          "seg",
          replace(col("seg"), lit(s"$S$a$S$S$b$S"), lit(s"$S$a$b$S")))
      }
      import spark.implicits._
      merges.result()
        .toDF("step", "merge_left", "merge_right", "n_pair")
        .orderBy(col("step"))
    } finally vocab.unpersist()
  }

  /** `Dedup.starContract` as a per-round DataFrame loop. */
  def starContract(edgesIn: DataFrame): (DataFrame, Int) = {
    def canonical(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(
          greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    def largeStar(canon: DataFrame): DataFrame = {
      val sym = canon.unionByName(
        canon.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(canon: DataFrame): DataFrame = {
      val m = canon.groupBy(col("u")).agg(min(col("v")).as("m"))
      val j = canon.join(m, "u")
      j.select(col("u"), col("m").as("v"))
        .unionByName(
          j.filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v")))
        .distinct()
    }
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e
        .agg(
          count(lit(1)),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var canon = canonical(edgesIn).localCheckpoint()
    var fp = fingerprint(canon)
    var rounds = 0
    var converged = canon.isEmpty
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(canon)).localCheckpoint()
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      canon = next
      rounds += 1
    }
    require(converged,
      s"star contraction did not converge within $maxRounds rounds")
    val labels = canon.select(col("u").as("doc_id"), col("v").as("label"))
      .unionByName(
        canon.select(col("v").as("doc_id"), col("v").as("label")))
      .distinct()
    (labels, rounds)
  }

  /** d9's min-label propagation (`Dedup.propagateLabels`) as a
    * per-round DataFrame loop over (u, v) pairs, returning its rounds.
    * Like the loop it replaced, it fails on an edge-free graph: the
    * label sum is NULL there.
    */
  def propagateLabels(pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs
      .unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")).localCheckpoint()
    var prevSum = java.lang.Long.MIN_VALUE
    var rounds = 0
    var converged = false
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u")).agg(min(col("vl")).as("nl"))
      val next = labels
        .join(nbrMin.select(col("u").as("doc_id"), col("nl")), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint()
      val s = next.agg(sum(col("label"))).head().getLong(0)
      converged = s == prevSum
      prevSum = s
      labels = next
      rounds += 1
    }
    require(converged,
      s"label propagation did not converge within $maxRounds rounds")
    (labels, rounds)
  }
}
