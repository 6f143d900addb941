package graft.util

import graft.SparkSpec

/** Checkpoints.release must actually free localCheckpoint storage (the
  * crawl loop relies on it to keep superseded round state from pinning
  * blocks), and must be a no-op on non-checkpointed plans. It must also
  * do so silently: `RDD.unpersist` logs a WARN per locally checkpointed
  * RDD, which flooded every crawl's log. */
class CheckpointsSpec extends SparkSpec {

  private val Flood = "locally checkpointed"

  /** Messages logged at WARN or above while `body` runs. */
  private def warnsDuring(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("checkpoints-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        got.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    got.toArray.toSeq.map(_.toString)
  }

  test("release logs no \"locally checkpointed\" WARN (RDD.unpersist does)") {
    val loud = spark.range(10).toDF("v").localCheckpoint(true)
    val rdds = loud.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    assert(warnsDuring(rdds.foreach(_.unpersist())).exists(_.contains(Flood)),
      "the capture must see the WARN RDD.unpersist logs")
    val quiet = spark.range(10).toDF("v").localCheckpoint(true)
    val rddId = quiet.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head
    assert(!warnsDuring(Checkpoints.release(quiet)).exists(_.contains(Flood)))
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  test("release frees a localCheckpoint's backing RDD storage") {
    val df = spark.range(1000).toDF("v").localCheckpoint(true)
    val rddId = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "localCheckpoint(eager) must register a persistent RDD")
    Checkpoints.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
      "release must unpersist the checkpoint's RDD")
  }

  test("release is a safe no-op for parquet-backed and cached plans") {
    val parquet = spark.read
      .parquet("/root/testdata/sf0.001/nation.parquet")
    Checkpoints.release(parquet) // no LogicalRDD → nothing to do
    assert(parquet.count() > 0)
    // cacheManager-managed caches are NOT its concern: the cache must
    // survive a release call (lifecycles stay independent)
    val cached = spark.range(100).toDF("v").cache()
    cached.count()
    Checkpoints.release(cached)
    assert(spark.sharedState.cacheManager.lookupCachedData(
      cached.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined,
      "release must not touch cache-manager entries")
    cached.unpersist()
  }

  test("release REJECTS a derived plan embedding a live shared checkpoint " +
      "and leaves its blocks intact") {
    // the footgun the contract forbids: a plan computed FROM a
    // checkpoint — releasing through it would drop blocks shared with
    // every other reader of that checkpoint
    val ckpt = spark.range(1000).toDF("v").localCheckpoint(true)
    val rddId = ckpt.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head
    val derived = ckpt.filter(org.apache.spark.sql.functions.col("v") > 10)
    intercept[IllegalArgumentException] { Checkpoints.release(derived) }
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "rejected release must not have dropped the shared blocks")
    // a join of two checkpoints is equally derived
    val ckpt2 = spark.range(10).toDF("v").localCheckpoint(true)
    intercept[IllegalArgumentException] {
      Checkpoints.release(ckpt.join(ckpt2, "v"))
    }
    // the checkpoint itself still releases fine afterwards
    Checkpoints.release(ckpt); Checkpoints.release(ckpt2)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  test("release works through the .as[T] typing the crawl loop applies") {
    import spark.implicits._
    val ckpt = spark.range(100).toDF("v").localCheckpoint(true).as[Long]
    val rddId = ckpt.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head
    Checkpoints.release(ckpt)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }
}
