package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the only session builder of the program, and the
  * test suites run in the session it builds.
  */
class GraftSessionSpec extends SparkSpec {

  test("no file under src/main but GraftSession.scala calls SparkSession.builder") {
    val main = Paths.get(RepoPaths.root, "src", "main")
    assert(Files.isDirectory(main), main)
    val s = Files.walk(main)
    val builders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => main.relativize(p).toString).toSeq.sorted
      finally s.close()
    assert(builders == Seq("scala/graft/GraftSession.scala"))
  }

  test("the test session carries every GraftSession key at the same value") {
    val settings = GraftSession.settings(SparkSpec.Cores)
    assert(settings.nonEmpty)
    for ((k, v) <- settings)
      assert(spark.conf.getOption(k).contains(v), s"$k: ${spark.conf.getOption(k)}")
    assert(spark.sparkContext.master == s"local[${SparkSpec.Cores}]")
  }
}
