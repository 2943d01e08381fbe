package perfbench

/** Prints `name<TAB>rows<TAB>fingerprint` for each query dump that
  * `graft.Verify` wrote under a directory, with the fingerprint the
  * benchmark checks. Arguments: the dump directory, then the query names.
  */
object FingerprintDumps {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(2, args(0))
    args.drop(1).foreach { q =>
      val (n, fp) = QueryWorkload.fingerprint(spark.read.parquet(s"${args(0)}/$q"))
      println(s"$q\t$n\t$fp")
    }
    spark.stop()
  }
}
