package graft.seen

import org.scalatest.funsuite.AnyFunSuite
import graft.url.Canonical

class FiltersSpec extends AnyFunSuite {

  private def hashes(n: Int, salt: String = ""): Seq[Long] =
    (0 until n).map(i => Canonical.hash64(s"https://u$salt$i.edu/p$i"))

  test("bloom: co-partitioned ≡ broadcast flagMaybeSeen, via cogroup") {
    implicit val spark: org.apache.spark.sql.SparkSession =
      graft.SparkSpec.session
    import spark.implicits._
    val seen = hashes(2000).toDF("url_hash")
    val shards = BloomShard.build(seen).cache()
    val probe = (hashes(1500) ++ hashes(1500, "z")) // half seen, half new
      .zipWithIndex.toDF("url_hash", "rowid")
    // the rows each flag layout calls definitely unseen
    def unflagged(flagged: org.apache.spark.sql.DataFrame) = flagged
      .filter(!org.apache.spark.sql.functions.col(BloomShard.MaybeCol))
      .drop(BloomShard.MaybeCol)
    val viaBroadcast = unflagged(BloomShard.flagMaybeSeen(probe, shards))
    val viaCogroup =
      unflagged(BloomShard.flagMaybeSeenCopartitioned(probe, shards))
    assert(viaCogroup.columns.toSeq === viaBroadcast.columns.toSeq)
    assert(viaCogroup.exceptAll(viaBroadcast).isEmpty &&
      viaBroadcast.exceptAll(viaCogroup).isEmpty)
    // every truly-seen hash must be filtered (no false negatives)
    val kept = viaCogroup.select("url_hash").as[Long].collect().toSet
    assert(hashes(1500).forall(h => !kept.contains(h)))
    // the scale property: the plan cogroups — no collect-and-broadcast
    viaCogroup.collect()
    val plan = viaCogroup.queryExecution.executedPlan.toString
    assert(plan.contains("CoGroup"), plan)
    shards.unpersist()
  }

  test("bloom: flag-and-verify ≡ exact anti-join EXACTLY even with a " +
      "saturated filter (false positives re-checked, not dropped)") {
    implicit val spark: org.apache.spark.sql.SparkSession =
      graft.SparkSpec.session
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // deliberately undersized filter: 4 shards × 256 bits for 2000 keys
    // (~0.5 bits/key) — false positives near-certain; the crawl shape
    // must STILL return exactly the plain anti-join's rows
    val p = BloomShard.Params(4, 256, 7)
    val seen = hashes(2000).toDF("url_hash")
    val shards = BloomShard.build(seen, p).cache()
    val probe = (hashes(1000) ++ hashes(3000, "z")).zipWithIndex
      .toDF("url_hash", "rowid")
    val exact = probe.join(seen, Seq("url_hash"), "left_anti")
    for (filter <- None +: Seq(false, true).map(c =>
        Some(Seen.Filter(shards, p, copartitioned = c)))) {
      val (viaBloom, flagged) = Seen.unseen(probe, seen, filter)
      assert(viaBloom.columns.toSeq === probe.columns.toSeq)
      assert(viaBloom.exceptAll(exact).isEmpty &&
        exact.exceptAll(viaBloom).isEmpty)
      flagged.foreach(graft.util.Checkpoints.release)
    }
    // and the saturation is real: filter-only WOULD have dropped rows
    // (the defect this spec pins against regressions)
    assert(BloomShard.flagMaybeSeen(probe, shards, p)
      .filter(!col(BloomShard.MaybeCol)).count() < exact.count())
    shards.unpersist()
  }

  test("bloom: incremental slice-union shards ≡ batch build " +
      "(the crawl loop's per-round maintenance path)") {
    implicit val spark: org.apache.spark.sql.SparkSession =
      graft.SparkSpec.session
    import spark.implicits._
    // three disjoint "round slices" merged incrementally, as Crawler does
    val slices = Seq(hashes(700, "a"), hashes(500, "b"), hashes(300, "c"))
    val incremental = slices.tail.foldLeft(
      BloomShard.build(slices.head.toDF("url_hash"))) { (acc, s) =>
        BloomShard.union(acc, BloomShard.build(s.toDF("url_hash")))
      }
    val batch = BloomShard.build(slices.flatten.toDF("url_hash"))
    val incBits = incremental.collect()
      .map(s => s.shard_id -> s.bits.toSeq).toMap
    val batchBits = batch.collect()
      .map(s => s.shard_id -> s.bits.toSeq).toMap
    assert(incBits === batchBits) // identical bitsets, not just members
  }

  test("bloom: one-cogroup grow ≡ union(prev, build(hashes)) bit for " +
      "bit, for empty and non-empty prev") {
    implicit val spark: org.apache.spark.sql.SparkSession =
      graft.SparkSpec.session
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    def bits(ds: org.apache.spark.sql.Dataset[graft.model.SeenShard]) =
      ds.collect().map(s => s.shard_id -> (s.kind, s.bits.toSeq)).toMap
    for (prevGen <- Seq(Gen.const(List.empty[Long]),
        Gen.nonEmptyListOf(Gen.long))) {
      val cases = for {
        shards <- Gen.choose(1, 8)
        words <- Gen.choose(1, 16)
        k <- Gen.choose(1, 7)
        prev <- prevGen
        next <- Gen.listOf(Gen.long)
      } yield (BloomShard.Params(shards, words * 64, k), prev, next)
      val prop = Prop.forAll(cases) { case (p, prev, next) =>
        val old = BloomShard.build(prev.toDF("url_hash"), p)
        val hashes = next.toDF("url_hash")
        bits(BloomShard.grow(old, hashes, p)) ==
          bits(BloomShard.union(old, BloomShard.build(hashes, p)))
      }
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(8), prop)
      assert(res.passed, res)
    }
  }

  test("bloom: no false negatives (the scale-free guarantee)") {
    val m = 1 << 16
    val k = 7
    val bits = new Array[Long](m >>> 6)
    val keys = hashes(3000)
    keys.foreach(h => BloomShard.setBits(bits, h, m, k))
    assert(keys.forall(h => BloomShard.mightContain(bits, h, m, k)))
  }

  test("bloom: false-positive rate near theory (~1% at 10 bits/key, k=7)") {
    val m = 1 << 16 // 65536 bits
    val k = 7
    val bits = new Array[Long](m >>> 6)
    hashes(6000).foreach(h => BloomShard.setBits(bits, h, m, k)) // ~11 b/key
    val probes = hashes(20000, "x")
    val fp = probes.count(h => BloomShard.mightContain(bits, h, m, k))
    val rate = fp.toDouble / probes.size
    assert(rate < 0.03, s"fp rate $rate too high")
  }

  test("bloom: serialization roundtrip preserves membership") {
    val m = 1 << 12
    val bits = new Array[Long](m >>> 6)
    val keys = hashes(100)
    keys.foreach(h => BloomShard.setBits(bits, h, m, 5))
    val back = BloomShard.fromBytes(BloomShard.toBytes(bits))
    assert(keys.forall(h => BloomShard.mightContain(back, h, m, 5)))
  }

  test("cuckoo: insert → contains; delete → gone; re-insert works") {
    val f = new CuckooFilter(1 << 12)
    val keys = hashes(8000) // ~49% load of 16384 slots
    keys.foreach(h => assert(f.insert(h)))
    assert(keys.forall(f.contains))
    val victim = keys(1234)
    assert(f.delete(victim))
    // cuckoo fp on a deleted key is possible only via fingerprint
    // collision in its two buckets — assert re-insert restores membership
    assert(f.insert(victim))
    assert(f.contains(victim))
  }

  test("cuckoo: deletion supports re-crawl semantics (delete all, empty)") {
    val f = new CuckooFilter(1 << 8)
    val keys = hashes(300)
    keys.foreach(f.insert)
    keys.foreach(f.delete)
    assert(f.size === 0L)
  }

  test("cuckoo: serialization roundtrip") {
    val f = new CuckooFilter(1 << 10)
    val keys = hashes(1500)
    keys.foreach(f.insert)
    val back = CuckooFilter.fromBytes(f.toBytes)
    assert(back.size === f.size)
    assert(keys.forall(back.contains))
  }

  test("cuckoo: low false-positive rate") {
    val f = new CuckooFilter(1 << 12)
    hashes(10000).foreach(f.insert)
    val probes = hashes(20000, "y")
    val fp = probes.count(f.contains)
    assert(fp.toDouble / probes.size < 0.01)
  }

  test("cuckoo: deleting a key never erases a colliding survivor " +
      "(duplicate fingerprints occupy separate slots)") {
    // force max collision: insert the SAME hash twice (same bucket pair,
    // same fingerprint — the hardest case), delete once → one remains
    val f = new CuckooFilter(1 << 8)
    val h = Canonical.hash64("https://twin.edu/")
    assert(f.insert(h) && f.insert(h))
    assert(f.delete(h))
    assert(f.contains(h), "second copy must survive the first delete")
    assert(f.delete(h) && !f.contains(h))
  }

  test("cuckoo shards: flag-and-verify ≡ exact anti-join through the " +
      "SAME crawl flag layouts as bloom (kind dispatch), and shard " +
      "delete prunes exactly the expired keys' membership") {
    implicit val spark: org.apache.spark.sql.SparkSession =
      graft.SparkSpec.session
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val p = CuckooShard.Params(8, 1 << 9) // 8 shards × 2048 slots
    val seenKeys = hashes(2000)
    val seen = seenKeys.toDF("url_hash")
    val shards = CuckooShard.build(seen, p).cache()
    val probe = (hashes(1000) ++ hashes(3000, "z")).zipWithIndex
      .toDF("url_hash", "rowid")
    val exact = probe.join(seen, Seq("url_hash"), "left_anti")
    for (copartitioned <- Seq(false, true)) {
      val (viaCuckoo, flagged) = Seen.unseen(probe, seen,
        Some(Seen.Filter(shards, p.probeParams, copartitioned)))
      assert(viaCuckoo.exceptAll(exact).isEmpty &&
        exact.exceptAll(viaCuckoo).isEmpty)
      flagged.foreach(graft.util.Checkpoints.release)
    }
    // delete an "expired" half: survivors must ALL still flag maybe-seen
    // (no false negatives — the exact-equivalence guarantee), expired
    // keys flag unseen except fingerprint collisions (here: none at this
    // load; the crawl path re-verifies maybes anyway)
    val (expired, survivors) = seenKeys.splitAt(1000)
    val pruned = CuckooShard.delete(shards,
      expired.toDF("url_hash"), p).cache()
    val flaggedAfter = BloomShard.flagMaybeSeen(
      seenKeys.toDF("url_hash"), pruned, p.probeParams)
    val maybeSet = flaggedAfter.filter(col(BloomShard.MaybeCol))
      .select("url_hash").as[Long].collect().toSet
    assert(survivors.forall(maybeSet.contains),
      "a survivor lost membership — delete erased a colliding key")
    assert(expired.count(maybeSet.contains) < expired.size / 20,
      "deletion left most expired keys flagged seen")
    // incremental re-insert (the recrawl's growth path) ≡ batch build
    // membership: re-adding the expired keys restores full membership
    val regrown = CuckooShard.insertAll(pruned,
      expired.toDF("url_hash"), p)
    val maybeRegrown = BloomShard.flagMaybeSeen(
      seenKeys.toDF("url_hash"), regrown, p.probeParams)
      .filter(col(BloomShard.MaybeCol)).count()
    assert(maybeRegrown === seenKeys.size)
    shards.unpersist(); pruned.unpersist()
  }

  test("cuckoo shards: build is deterministic (sorted insertion — " +
      "bytes are a function of shard content, not row order)") {
    implicit val spark: org.apache.spark.sql.SparkSession =
      graft.SparkSpec.session
    import spark.implicits._
    val p = CuckooShard.Params(4, 1 << 9)
    val ks = hashes(1200)
    val a = CuckooShard.build(ks.toDF("url_hash").repartition(7), p)
      .collect().map(s => s.shard_id -> s.bits.toSeq).toMap
    val b = CuckooShard.build(ks.reverse.toDF("url_hash").repartition(3), p)
      .collect().map(s => s.shard_id -> s.bits.toSeq).toMap
    assert(a === b)
  }
}
