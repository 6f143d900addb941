package graft.seen

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.model.SeenShard
import graft.url.Canonical

/** Sharded Bloom-filter URL-seen set.
  *
  * Replaces the reference's in-memory exact `Set()` of seen links
  * (/root/reference/apify.js:32,145-153) — exact sets cannot hold 10^10
  * URLs; the north rule mandates a sharded Bloom filter over
  * canonicalized + murmur3'd URLs.
  *
  * Layout: `shard_id = floorMod(url_hash, numShards)`; each shard is an
  * independent Bloom filter of `bitsPerShard` bits with `k` hash probes
  * derived from the two 64-bit halves of the url's murmur128 (standard
  * double-hashing construction, Kirsch & Mitzenmacher 2006: g_i = h1 + i·h2).
  * At 10^10 keys / 4096 shards ≈ 2.4M keys per shard; at 10 bits/key a
  * shard is ~3 MiB and fpp ≈ 0.8% with k=7 — each executor broadcasts only
  * the shards co-partitioned with its frontier partitions. Tests run 16
  * shards × small m; the math is scale-free.
  *
  * Build is a Spark `Aggregator` (groupBy(shard_id).agg(...)) so shard
  * construction is a single shuffle with map-side partial aggregation
  * (partial bitsets OR-merge associatively).
  */
object BloomShard {

  final case class Params(numShards: Int, bitsPerShard: Int, k: Int)
  val testParams: Params = Params(16, 1 << 16, 7)

  /** Scaling-corpus params (the Bloom legs of `Bench`, `CrawlMain`
    * under `GRAFT_BLOOM=1` and perfbench's crawl workload):
    * 64 shards × 2^18 bits ≈ 16.8 Mbit (2 MiB of filter). At the 208k-url
    * corpus that is ~80 bits/key (maybe-rate ≈ 3e-8); at the 832k 4×
    * corpus ~20 bits/key (≈ 2e-4) — the exact verify join sees only true
    * repeats. The 10^10 design point in the class Scaladoc (4096 shards ×
    * ~3 MiB) is the same construction at 10 bits/key. */
  val scaleParams: Params = Params(64, 1 << 18, 7)

  /** Column added by the flag layouts: true = the filter says the url
    * MIGHT be seen (true seen or false positive) and the row must be
    * verified against the exact seen set; false = definitely unseen. */
  val MaybeCol = "__bloom_maybe"

  @inline def shardOf(urlHash: Long, numShards: Int): Int =
    java.lang.Math.floorMod(urlHash, numShards.toLong).toInt

  /** Set the k probe bits for one key in a bitset (long-array backed). */
  def setBits(bits: Array[Long], urlHash: Long, m: Int, k: Int): Unit = {
    val h2 = Canonical.murmur128(
      Array[Byte](
        (urlHash >>> 56).toByte, (urlHash >>> 48).toByte,
        (urlHash >>> 40).toByte, (urlHash >>> 32).toByte,
        (urlHash >>> 24).toByte, (urlHash >>> 16).toByte,
        (urlHash >>> 8).toByte, urlHash.toByte), 0x9747b28cL)._2
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(urlHash + i.toLong * h2, m.toLong).toInt
      bits(pos >>> 6) |= (1L << (pos & 63))
      i += 1
    }
  }

  def mightContain(bits: Array[Long], urlHash: Long, m: Int, k: Int): Boolean = {
    val h2 = Canonical.murmur128(
      Array[Byte](
        (urlHash >>> 56).toByte, (urlHash >>> 48).toByte,
        (urlHash >>> 40).toByte, (urlHash >>> 32).toByte,
        (urlHash >>> 24).toByte, (urlHash >>> 16).toByte,
        (urlHash >>> 8).toByte, urlHash.toByte), 0x9747b28cL)._2
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(urlHash + i.toLong * h2, m.toLong).toInt
      if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def toBytes(bits: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** Aggregator: (url_hash, shard_id) rows → serialized Bloom bitset.
    * Partial buffers OR-merge associatively, so map-side combine shrinks
    * the shuffle to ≤ numShards bitsets per map task regardless of key
    * count — the scale-critical property. */
  final class BloomAgg(m: Int, k: Int)
      extends Aggregator[(Long, Int), Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](m >>> 6)
    def reduce(b: Array[Long], r: (Long, Int)): Array[Long] = {
      setBits(b, r._1, m, k); b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Byte] = toBytes(b)
    def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build shards from a DataFrame with a `url_hash` column. One shuffle
    * of ≤ numShards × maps partial bitsets (map-side combine). */
  def build(hashes: DataFrame, p: Params = testParams)
      (implicit spark: SparkSession): Dataset[SeenShard] = {
    import spark.implicits._
    val agg = new BloomAgg(p.bitsPerShard, p.k)
    hashes
      .select(col("url_hash").as[Long],
        pmod(col("url_hash"), lit(p.numShards.toLong)).cast("int").as[Int])
      .groupByKey(_._2)
      .agg(agg.toColumn)
      .map { case (sid, bytes) => SeenShard(sid, "bloom", bytes) }
  }

  /** Union two shard sets (bitwise OR per shard_id). */
  def union(a: Dataset[SeenShard], b: Dataset[SeenShard])
      (implicit spark: SparkSession): Dataset[SeenShard] = {
    import spark.implicits._
    a.union(b).groupByKey(_.shard_id).reduceGroups { (x, y) =>
      val xa = fromBytes(x.bits); val ya = fromBytes(y.bits)
      var i = 0
      while (i < xa.length) { xa(i) |= ya(i); i += 1 }
      SeenShard(x.shard_id, x.kind, toBytes(xa))
    }.map(_._2)
  }

  /** Grow shards by a batch of hashes (the crawl loop's per-round
    * step): one cogroup of `prev` with the hashes keyed by `shard_id`
    * that ORs each shard's new bits in. Equal to
    * `union(prev, build(hashes, p))` bit for bit (FiltersSpec), with one
    * shuffle of 8-byte hashes in place of build's partial-bitset shuffle
    * chained into union's merge shuffle. */
  def grow(prev: Dataset[SeenShard], hashes: DataFrame,
      p: Params = testParams)
      (implicit spark: SparkSession): Dataset[SeenShard] = {
    import spark.implicits._
    val Params(n, m, k) = p
    val keyed = hashes.select(col("url_hash").as[Long])
      .groupByKey(h => shardOf(h, n))
    prev.groupByKey(_.shard_id).cogroup(keyed) { (sid, shards, hs) =>
      val bits = new Array[Long](m >>> 6)
      shards.foreach { s =>
        val b = fromBytes(s.bits)
        var i = 0
        while (i < bits.length) { bits(i) |= b(i); i += 1 }
      }
      hs.foreach(h => setBits(bits, h, m, k))
      Iterator.single(SeenShard(sid, "bloom", toBytes(bits)))
    }
  }

  /** Per-shard probe closure, dispatched on `SeenShard.kind`: "bloom"
    * probes the bitset with this object's double-hashing scheme (m/k
    * from `p`); "cuckoo" deserializes the self-describing
    * [[CuckooFilter]] (p's bitsPerShard/k are not read). Both are lossy
    * in the same direction (false positives only — for cuckoo,
    * fingerprint collisions), so the flag-and-verify contract below
    * covers both unchanged. */
  private def probeOf(s: SeenShard, p: Params): Long => Boolean =
    s.kind match {
      case "cuckoo" =>
        val f = CuckooFilter.fromBytes(s.bits)
        h => f.contains(h)
      case _ =>
        val bits = fromBytes(s.bits)
        h => mightContain(bits, h, p.bitsPerShard, p.k)
    }

  /** Membership flag, broadcast layout: collect+broadcast all shards and
    * append [[MaybeCol]] per row. Right shape when the whole filter fits
    * comfortably in executor memory (small shard counts); at north-rule
    * scale (4096 × ~3 MiB ≈ 12 GiB) the driver collect is the bottleneck —
    * use [[flagMaybeSeenCopartitioned]] there.
    *
    * The flag is the CORRECT contract for a lossy filter: a false
    * positive must be re-checked against the exact seen set, not dropped
    * (dropping loses the page AND its whole undiscovered link subtree —
    * measured 8% of the 208k scaling corpus under the old filter-only
    * layout at test-sized shards). [[Seen.unseen]] routes MaybeCol=false
    * straight through and anti-joins only the MaybeCol=true rows. */
  def flagMaybeSeen(frontier: DataFrame, shards: Dataset[SeenShard],
      p: Params = testParams)(implicit spark: SparkSession): DataFrame = {
    val shardMap: Map[Int, Long => Boolean] =
      shards.collect().map(s => s.shard_id -> probeOf(s, p)).toMap
    val bc = spark.sparkContext.broadcast(shardMap)
    val maybe = udf { (h: Long) =>
      bc.value.get(shardOf(h, p.numShards)) match {
        case Some(probe) => probe(h)
        case None => false
      }
    }
    frontier.withColumn(MaybeCol, maybe(col("url_hash")))
  }

  /** Membership flag, co-partitioned layout (the 10^10-scale path):
    * typed cogroup of the frontier and the shard table on
    * `shard_id = pmod(url_hash, numShards)`. One hash shuffle of the
    * frontier, a tiny shuffle of the shards, NO driver collect and no
    * whole-filter broadcast — each task deserializes exactly the one
    * shard its rows hash to. (A plain equi-join would copy the multi-MiB
    * bits column onto every frontier row; the cogroup touches it once per
    * group.) Output rows and schema are identical to [[flagMaybeSeen]]
    * (property-tested in FiltersSpec). */
  def flagMaybeSeenCopartitioned(frontier: DataFrame,
      shards: Dataset[SeenShard], p: Params = testParams)
      (implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import spark.implicits._
    val withSid = frontier.withColumn("__sid",
      pmod(col("url_hash"), lit(p.numShards.toLong)).cast("int"))
    val outSchema = withSid.schema.add(MaybeCol,
      org.apache.spark.sql.types.BooleanType, nullable = false)
    val rowEnc = org.apache.spark.sql.Encoders.row(outSchema)
    val sidIdx = withSid.schema.fieldIndex("__sid")
    val hashIdx = withSid.schema.fieldIndex("url_hash")
    val keyed = withSid.groupByKey(_.getInt(sidIdx))(
      org.apache.spark.sql.Encoders.scalaInt)
    val shardKeyed = shards.groupByKey(_.shard_id)
    val pp = p
    val flagged = keyed.cogroup(shardKeyed) { (_, rows, sh) =>
      sh.toSeq.headOption match {
        case None => rows.map(r => Row.fromSeq(r.toSeq :+ false))
        case Some(shard) =>
          val probe = probeOf(shard, pp) // kind dispatch, once per group
          rows.map(r => Row.fromSeq(
            r.toSeq :+ probe(r.getLong(hashIdx))))
      }
    }(rowEnc)
    flagged.toDF().drop("__sid")
  }
}
