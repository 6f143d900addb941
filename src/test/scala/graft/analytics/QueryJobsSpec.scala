package graft.analytics

import graft.SparkSpec

/** CI guard on the query surface's fixed Spark jobs, the query-side twin
  * of CrawlerSpec's per-round job bound: a job-count regression in a
  * job-bound query fails tier-1. TablesSpec pins that a repeated table
  * read runs no job. */
class QueryJobsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Warm jobs to `collect()` each query at sf0.001, the larger of the
    * counts measured at local[4] and local[1] (13/11, 29/29, 9/9; the
    * former code ran 29, 35 and 15 at local[4]). */
  private val WarmJobs = Map(
    "q_dedup_clusters" -> 13,
    "q_kmeans_clusters" -> 29,
    "q_join_chain6" -> 9)

  test("CI guard: warm job counts of the job-bound queries stay at or " +
      "under their bounds") {
    WarmJobs.toSeq.sortBy(_._1).foreach { case (name, bound) =>
      val q = graft.SparkEntry.queries(name)
      q(spark, dir).collect() // cold: schemas, codegen
      val (_, jobs) = jobsOf(q(spark, dir).collect())
      info(s"$name: $jobs warm jobs")
      assert(jobs <= bound, s"$name ran $jobs warm jobs, bound $bound")
    }
  }
}
