package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries to a directory
  * (round-6 optimization evidence: plans/r06/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val cpus = graft.SparkTune.cpus
    val spark = graft.SparkTune.session(s"local[$cpus]", cpus)
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        val plan = try {
          val df = fn(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name -> ${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
