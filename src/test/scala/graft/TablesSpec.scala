package graft

import java.nio.file.Files

class TablesSpec extends SparkSpec {

  test("a table's schema is inferred once per session and dir") {
    val dir = Files.createTempDirectory("tables_spec_").toString
    spark.range(5).selectExpr("id", "cast(id as string) as s")
      .write.parquet(s"$dir/t.parquet")
    var first: org.apache.spark.sql.types.StructType = null
    val inferring = jobsStarted { first = Tables.table(spark, dir, "t").schema }
    assert(inferring >= 1, "the first read infers the schema in a job")
    var second: org.apache.spark.sql.types.StructType = null
    assert(jobsStarted { second = Tables.table(spark, dir, "t").schema } == 0,
      "a second read of the same table started a schema-inference job")
    assert(second == first)
    assert(Tables.table(spark, dir, "t").count() == 5)
  }
}
