package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  test("shingles: sliding 3-token windows, short-text fallback") {
    val sh = Dedup.shingles("a b c d")
    assert(sh.size === 2) // "a b c", "b c d"
    assert(Dedup.shingles("a b").size === 1) // fallback whole-text
    assert(Dedup.shingles("a b c d") === Dedup.shingles("A  B c   d"))
  }

  test("minhash signature is deterministic, length 64") {
    val s1 = Dedup.minhash("the quick brown fox jumps over the lazy dog")
    val s2 = Dedup.minhash("the quick brown fox jumps over the lazy dog")
    assert(s1.toSeq === s2.toSeq)
    assert(s1.length === Dedup.NumHashes)
  }

  test("minhash estimates jaccard: identical texts agree on all hashes") {
    val a = Dedup.minhash("x y z w v u t s r q p o n m")
    val b = Dedup.minhash("x y z w v u t s r q p o n m")
    assert(a.toSeq === b.toSeq)
    val c = Dedup.minhash("completely different words entirely here now")
    assert(a.zip(c).count { case (x, y) => x == y } < 8)
  }

  test("minhash LSH pairs: precision 1.0 (exact verify) and recall ≥ 0.9 " +
    "vs brute force at J ≥ 0.5") {
    val got = Dedup.minhashPairs(docs, 0.5)(spark)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.bruteForceShinglePairs(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(want), "precision must be 1.0 (exact verification)")
    if (want.nonEmpty) {
      val recall = got.size.toDouble / want.size
      assert(recall >= 0.9, s"recall $recall (${got.size}/${want.size})")
    }
  }

  test("simhash: near-identical texts land within small Hamming distance") {
    val base = "spark group query row data slow small filter customer " +
      "line the batch value merge line table scan join order"
    val a = Dedup.simhash(base)
    val b = Dedup.simhash(base + " extra")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) <= 12)
    assert(Dedup.simhash(base) === a) // deterministic
  }

  test("simhash band join finds every pair with Hamming ≤ 3 (pigeonhole)") {
    import spark.implicits._
    // construct docs whose simhashes differ in ≤3 bits by token tweaks
    val sample = docs.limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shPairsBrute = for {
      (ia, ta) <- sample; (ib, tb) <- sample
      if ia < ib
      if java.lang.Long.bitCount(Dedup.simhash(ta) ^ Dedup.simhash(tb)) <= 3
    } yield (ia, ib)
    val df = sample.toSeq.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, 3).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === shPairsBrute.toSet)
  }

  test("exact token-jaccard pairs match brute force exactly") {
    val sub = docs.filter(col("doc_id") < 120)
    val got = Dedup.tokenJaccardPairs(sub, 0.8)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force via unigram jaccard
    val rows = sub.select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.trim.split(" ").distinct.toSet))
    val want = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.8
    } yield (ia, ib, j)).toSet
    assert(got === want)
  }

  private def clusters(pairs: DataFrame): Map[Long, Long] =
    Dedup.clusterPairs(pairs)(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find oracle: every node of `edges` → the min id
    * of its connected component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (x, y) =>
      val (a, b) = (find(x), find(y))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(id => id -> find(id)).toMap
  }

  test("clusterPairs ≡ union-find on random graphs: chains up to length " +
      "30, stars, disjoint pairs and random edge sets, ids shuffled") {
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    // component shapes over local ids 0..n-1
    val chain = Gen.choose(2, 30).map(n =>
      (0 until n - 1).map(i => (i.toLong, i + 1L)))
    val star = Gen.choose(2, 12).map(n => (1 until n).map(i => (0L, i.toLong)))
    val pair = Gen.const(Seq((0L, 1L)))
    val random = for {
      n <- Gen.choose(2, 12)
      es <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, n - 1L),
        Gen.choose(0L, n - 1L)))
    } yield es.filter { case (a, b) => a != b }
    val graphs = for {
      comps <- Gen.nonEmptyListOf(Gen.oneOf(chain, star, pair, random))
      seed <- Gen.long
    } yield {
      // disjoint id ranges per component, then one random relabelling so
      // the component minimum sits anywhere (chain ends, middles, leaves)
      val edges = comps.zipWithIndex.flatMap { case (es, c) =>
        es.map { case (a, b) => (a + 100L * c, b + 100L * c) }
      }
      val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val relabel = ids.zip(new scala.util.Random(seed).shuffle(ids)).toMap
      edges.map { case (a, b) => (relabel(a), relabel(b)) }
    }
    val prop = Prop.forAll(graphs) { edges =>
      clusters(edges.toDF("doc_a", "doc_b")) == unionFind(edges)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res)
    // the longest shape on its own: a 30-node chain whose minimum is at
    // the far end takes 29 propagation steps
    val longest = (1L until 30L).map(i => (i, i + 1L)).reverse
    assert(clusters(longest.toDF("doc_a", "doc_b")) === unionFind(longest))
    assert(clusters(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
  }

  test("clusterPairs ≡ brute-force union-find: chain, pair, triangle, edge") {
    import spark.implicits._
    // chain 1-2-3, pair (10,11), triangle 20-21-22, singleton edge (30,31)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val got = clusters(pairs)
    assert(got === unionFind(pairs.as[(Long, Long)].collect().toSeq))
  }

  test("exact dedup groups by content hash with min-id keeper") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.qDedupExact.apply(spark, dir) // smoke on real table
    assert(out.count() > 0)
    val grouped = df.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep")).collect()
    assert(grouped.length === 2)
  }
}
