package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session is built by `SparkTune.session`: the specs' session
  * carries its settings, and no main-source file but `SparkTune.scala`
  * calls `SparkSession.builder`. */
class SessionSpec extends SparkSpec {

  test("the spec session carries the factory's settings") {
    val conf = spark.sparkContext.getConf
    SparkTune.conf.foreach { case (k, v) =>
      assert(conf.get(k) === v, k)
    }
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.sparkContext.master === s"local[${SparkSpec.Cores}]")
    assert(spark.sparkContext.defaultParallelism === SparkSpec.Cores)
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      SparkSpec.Cores.toString)
  }

  test("SparkSession.builder appears only in SparkTune.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, "the main sources were not found")
    def builds(p: Path) =
      new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder")
    val sites = files.filter(builds).map(root.relativize(_).toString).sorted
    assert(sites === Seq("graft/SparkTune.scala"))
  }
}
