package graftbench

import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own parts, run by `run.py --self-test`;
  * the JVM exits non-zero when one fails. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def run(): Unit = {
    reachMatchesFixture()
    robotsGroups()
    selfTime()
    tailPercentile()
    checksumIgnoresLayout()
    if (failures > 0) sys.exit(1)
  }

  /** The crawl fixture shape (10 hosts x 8 base pages, hosts 0..9, as
    * `Synth.pages(spark, 10, 8)` makes it) fetches 309 pages. */
  private def reachMatchesFixture(): Unit = {
    val c = new Corpus(0L, Shape(10, 8, 1, 4000L))
    val n = Reach.pages(c).size
    expect("reachable set of the 10x8 fixture has 309 pages", n == 309, s"got $n")
    val other = new Corpus(7L, Shape(10, 8, 1, 4000L))
    expect("another seed moves the hosts, not the Zipf page counts",
      other.offset == 245 && other.totalPages == c.totalPages &&
        other.url(0, 0) != c.url(0, 0),
      s"offset=${other.offset} pages=${other.totalPages}")
  }

  private def robotsGroups(): Unit = {
    val body = graft.corpus.Synth.robotsTxt(3)
    expect("Disallow prefixes of the * group only",
      Reach.disallowPrefixes(body) == Seq("/private/"),
      Reach.disallowPrefixes(body).toString)
  }

  /** Self time is end - start minus the union of the child intervals:
    * overlapping and out-of-span parts of children count once. */
  private def selfTime(): Unit = {
    val parent = Span(0, -1, "p", 0L, 10000000000L, "r")
    val kids = Seq(
      Span(1, 0, "a", 1000000000L, 3000000000L, "r"),
      Span(2, 0, "b", 2000000000L, 4000000000L, "r"), // overlaps a
      Span(3, 0, "c", 9000000000L, 12000000000L, "r")) // runs past the end
    val self = Trace.selfTime(parent, kids)
    expect("self time subtracts the union of child intervals",
      math.abs(self - 6.0) < 1e-9, s"got $self")
    expect("self time without children is the duration",
      Trace.selfTime(parent, Nil) == 10.0)

    val t = new Trace(enabled = true, "r")
    t.span("outer") { t.span("inner") { Thread.sleep(20) } }
    val byName = t.selfTimeByName
    val outer = t.all.find(_.name == "outer").get
    expect("recorded spans nest under their caller",
      t.all.find(_.name == "inner").exists(_.parent == outer.id))
    expect("recorded self times add up to the outer span",
      math.abs(byName("outer") + byName("inner") - outer.durS) < 1e-9)
  }

  /** The query checksum depends on the rows, not on their order or
    * partitioning, and on every column. */
  private def checksumIgnoresLayout(): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("self-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    import spark.implicits._
    try {
      // row 5 takes row 6's value in column `alter`
      def table(alter: Int) = (1 to 200).map { i =>
        def v(k: Int): Int = if (i == 5 && k == alter) 6 else i
        (v(0).toLong, s"s${v(1)}", v(2) / 7.0, Seq(v(3), -v(3)),
          Map(s"k${v(4)}" -> v(4), s"j${v(4)}" -> -v(4)),
          if (v(5) % 9 == 0) null else s"x${v(5)}")
      }.toDF("id", "s", "d", "a", "m", "n")
      val df = table(-1)
      val base = QueryWorkload.checksum(df)
      val layouts = Seq(df.orderBy($"d".desc), df.repartition(7),
        df.repartition(5, $"s").sortWithinPartitions($"id"), df.coalesce(1))
      expect("checksum counts every row", base._1 == 200, base.toString)
      expect("checksum is the same for any row order and partition count",
        layouts.forall(QueryWorkload.checksum(_) == base),
        layouts.map(QueryWorkload.checksum).toString)
      val changed = df.columns.indices.map(k => QueryWorkload.checksum(table(k)))
      expect("checksum depends on every column", changed.forall(_ != base),
        changed.toString)
      expect("checksum of no rows is (0, 0)",
        QueryWorkload.checksum(df.limit(0)) == ((0L, BigDecimal(0))))
    } finally spark.stop()
  }

  private def tailPercentile(): Unit = {
    val xs = (1 to 40).map(_.toDouble)
    expect("tail percentile keeps ten samples beyond it",
      Stats.tail(xs).map(_._1).contains(75), Stats.tail(xs).toString)
    expect("no tail below 20 samples", Stats.tail(xs.take(19)).isEmpty)
  }
}
