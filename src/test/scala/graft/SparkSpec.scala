package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` and count the Spark jobs it launches. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val v = body
      org.apache.spark.TestBus.drain(sc)
      (v, n.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  val Cores = 4
  lazy val session: SparkSession = SparkTune.session(s"local[$Cores]", Cores)
}
