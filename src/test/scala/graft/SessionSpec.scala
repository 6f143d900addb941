package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session is built by `SparkTune.session`: the specs' session
  * carries its settings, and no main-source file but `SparkTune.scala`
  * calls `SparkSession.builder`. The env vars the main sources read are
  * pinned by name and file, and every top-level definition of the main
  * sources is reached from outside its file or is a main. */
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

  /** The Scala sources under `dir` (at least `atLeast` files), as (path
    * relative to it, text). */
  private def sources(dir: String, atLeast: Int): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size >= atLeast, s"the sources under $dir were not found")
    files.map(p => root.relativize(p).toString ->
      new String(Files.readAllBytes(p), "UTF-8"))
  }

  private def mainSources: Seq[(String, String)] =
    sources("src/main/scala", 11)

  test("SparkSession.builder appears only in SparkTune.scala") {
    val sites = mainSources.collect {
      case (f, text) if text.contains("SparkSession.builder") => f
    }.sorted
    assert(sites === Seq("graft/SparkTune.scala"))
  }

  test("reachability: every top-level object or class in the main " +
      "sources is a main or is named in another file") {
    val topLevel = ("""(?m)^(?:(?:final|sealed|abstract|case|private)\s+)*""" +
      """(?:object|class)\s+(\w+)""").r
    val main = mainSources.map(_._2)
    val all = main ++ sources("perfbench/src", 5).map(_._2)
    val unreached = main.zipWithIndex.flatMap { case (text, i) =>
      val others = all.patch(i, Nil, 1)
      if (text.contains("def main(")) Nil
      else topLevel.findAllMatchIn(text).map(_.group(1)).toSeq.distinct
        .filterNot(n => others.exists(s"\\b$n\\b".r.findFirstIn(_).nonEmpty))
    }.sorted
    assert(unreached === Nil, "only their own files (and specs) name these")
  }

  test("knob inventory: the main sources read seven env vars, each at " +
      "one site") {
    val anyRead = """sys\.env|System\.getenv""".r
    val namedRead =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r
    val sites = mainSources.flatMap { case (f, text) =>
      val named = namedRead.findAllMatchIn(text).map(_.group(1)).toSeq
      // a read whose name is not a literal would escape the inventory
      assert(anyRead.findAllMatchIn(text).size === named.size,
        s"$f reads an env var by a computed name")
      named.map(_ -> f.split('/').last)
    }.sortBy(_._1)
    assert(sites === Seq(
      "GRAFT_BENCH_REPS" -> "Bench.scala",
      "GRAFT_BLOOM" -> "CrawlMain.scala",
      "GRAFT_BUCKETED" -> "CrawlMain.scala",
      "GRAFT_CRAWL_REPS" -> "Bench.scala",
      "GRAFT_ROUND_LOG" -> "Prof.scala",
      "SPARK_GRAFT_CPUS" -> "SparkTune.scala",
      "SPARK_GRAFT_SF_DIR" -> "Bench.scala"))
  }
}
