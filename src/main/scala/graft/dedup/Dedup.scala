package graft.dedup

import java.util.Locale
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.url.Canonical
import graft.util.Tables

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (hash-groupBy), MinHash+LSH, SimHash, and exact
  * n-gram-Jaccard via an inverted-index join.
  *
  * Design for 100 TB: every variant is one or two hash shuffles keyed on
  * a content signature — no cross joins anywhere. Exact dedup shuffles on
  * md5(text); MinHash shuffles on (band, band_signature); SimHash on
  * 16-bit bands. Candidate verification is per-pair map work after a
  * co-partitioned self-join.
  */
object Dedup {

  // guide §2.5 input-skew fix for the SIGNATURE-UDF variants only: the
  // single-row-group documents file scans as ONE task, serializing the
  // per-doc minhash/simhash UDFs on one core. Scans.parallel is a
  // guarded no-op at real scale. The cheap per-row variants (md5 exact,
  // token explode) measured FASTER without the extra exchange — the
  // round-6 A/B is in OPTIMIZATION_r06.md.
  private def tp(s: SparkSession, dir: String): DataFrame =
    graft.util.Scans.parallel(Tables.read(s, s"$dir/documents.parquet"))

  // ------------------------------------------------------------- exact

  /** Exact dedup: keep min(doc_id) per content hash. One shuffle on the
    * 128-bit content hash (md5); at 100 TB the map side hashes locally so
    * only (hash, doc_id) pairs shuffle, not text. */
  val qDedupExact: (SparkSession, String) => DataFrame = (s, dir) =>
    Tables.read(s, s"$dir/documents.parquet")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy(col("content_hash"))

  // ------------------------------------------------ exact token jaccard

  /** Exact near-duplicate pairs by unigram-token Jaccard ≥ threshold,
    * via an inverted-index self-join (explode tokens → join on token →
    * count shared). Exact because J(a,b) > 0 ⟹ the pair shares ≥1 token,
    * so the index join has perfect recall. Integer set sizes → the
    * Jaccard double is bit-exact vs the oracle's cross join.
    *
    * Scale note: common tokens make the index join skew (a token in k
    * docs yields k² candidate rows). The production-scale path is
    * [[minhashPairs]]; this exact variant is the correctness gate.
    */
  def tokenJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val tokens = docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(trim(col("text"))), " ")))
          .as("token"))
    val sizes = tokens.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"))
    val pairs = tokens.alias("a")
      .join(tokens.alias("b"), col("a.token") === col("b.token") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_tokens", "na"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_tokens", "nb"), Seq("doc_b"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qNeardupTokens: (SparkSession, String) => DataFrame = (s, dir) =>
    tokenJaccardPairs(Tables.read(s, s"$dir/documents.parquet"), 0.8)

  // ----------------------------------------------------------- MinHash

  val ShingleSize = 3
  val NumHashes = 64
  val Bands = 16 // 16 bands × 4 rows

  /** Lowercased whitespace tokens — the shared tokenization for the
    * signature family. Computed once per document by callers that need
    * several signatures (the crawl's sig UDF): re-splitting a 10 KB text
    * 4× per page was a measurable slice of the round-2 allocation storm
    * (BASELINE.md cliff notes). */
  def tokens(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase(Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)

  /** 3-token shingle set of a document (lowercased, whitespace-split). */
  def shingles(text: String): Set[Long] = shinglesOf(tokens(text))

  /** Per-token murmur hashes, computed once and shared by the whole
    * signature family (simhash bits, shingle hashes). The former scheme
    * hashed every token for simhash AND built+hashed a String per shingle
    * window for minhash — ~4k short-lived objects per 2k-token page, a
    * top contributor to the multi-GB/s allocation rate that made GC the
    * dominant serial term in the round-3 scaling diagnosis. */
  def tokenHashes(toks: Array[String]): Array[Long] = {
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = Canonical.hash64(toks(i)); i += 1 }
    out
  }

  private val ShingleSeed = 0x9E3779B97F4A7C15L

  /** Sorted, deduplicated shingle hashes from per-token hashes: each
    * 3-token window's hash is an order-sensitive mix of its token hashes
    * (no string building). Short docs (< ShingleSize tokens) hash the
    * whole token sequence as one shingle — same fallback shape as the
    * original string-join construction. Primitive arrays end-to-end:
    * the boxed `Set[Long]` builder was half the signature path's garbage. */
  def shingleHashesOf(hs: Array[Long]): Array[Long] = {
    val n = hs.length
    if (n < ShingleSize) {
      var h = ShingleSeed
      var i = 0
      while (i < n) { h = graft.corpus.Synth.mix(h ^ hs(i)); i += 1 }
      return Array(h)
    }
    val raw = new Array[Long](n - ShingleSize + 1)
    var i = 0
    while (i + ShingleSize <= n) {
      var h = ShingleSeed
      var j = 0
      while (j < ShingleSize) { h = graft.corpus.Synth.mix(h ^ hs(i + j)); j += 1 }
      raw(i) = h
      i += 1
    }
    java.util.Arrays.sort(raw)
    var w = 1; var r = 1
    while (r < raw.length) {
      if (raw(r) != raw(r - 1)) { raw(w) = raw(r); w += 1 }
      r += 1
    }
    if (w == raw.length) raw else java.util.Arrays.copyOf(raw, w)
  }

  /** Shingle hashes from pre-split tokens (Set view — the exact-Jaccard
    * verify paths intersect these; the crawl signature path uses the
    * primitive-array form directly). */
  def shinglesOf(toks: Array[String]): Set[Long] = {
    val arr = shingleHashesOf(tokenHashes(toks))
    val b = Set.newBuilder[Long]
    var i = 0
    while (i < arr.length) { b += arr(i); i += 1 }
    b.result()
  }

  /** MinHash signature: numHashes permutations simulated by mixing the
    * shingle hash with per-function seeds (standard one-permutation-free
    * construction; Broder 1997 resemblance sketch). */
  def minhash(text: String): Array[Long] = minhashOf(shingles(text))

  /** MinHash over a precomputed shingle set (tokenize-once path). */
  def minhashOf(sh: Set[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    sh.foreach { h =>
      var i = 0
      while (i < NumHashes) {
        val v = graft.corpus.Synth.mix(h ^ (0x1000003L * (i + 1)))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** MinHash over primitive shingle hashes (crawl signature path —
    * identical values to the Set form on the same hashes). */
  def minhashOfArr(sh: Array[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var k = 0
    while (k < sh.length) {
      val h = sh(k)
      var i = 0
      while (i < NumHashes) {
        val v = graft.corpus.Synth.mix(h ^ (0x1000003L * (i + 1)))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      k += 1
    }
    sig
  }

  /** Banded LSH candidate pairs + exact shingle-Jaccard verification.
    * Two shuffles: (band, signature-slice hash) self-group, then the
    * verify join. Probability a pair with J=0.8 is caught:
    * 1-(1-0.8^4)^16 ≈ 0.9997. */
  def minhashPairs(docs: DataFrame, threshold: Double)
      (implicit spark: SparkSession): DataFrame = {
    val sigUdf = udf((text: String) => minhash(text))
    val withSig = docs.select(col("doc_id"), col("text"),
      sigUdf(col("text")).as("sig"))
    val rowsPerBand = NumHashes / Bands
    val banded = withSig.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> " +
        s"hash(slice(sig, b * $rowsPerBand + 1, $rowsPerBand), b))"))
        .as(Seq("band", "band_sig")))
    val candidates = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val texts = docs.select(col("doc_id"), col("text"))
    val jacc = udf((ta: String, tb: String) => {
      val sa = shingles(ta); val sb = shingles(tb)
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    })
    candidates
      .join(texts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("text", "text_a"), Seq("doc_a"))
      .join(texts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("text", "text_b"), Seq("doc_b"))
      .withColumn("jaccard", jacc(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qDedupMinhash: (SparkSession, String) => DataFrame = (s, dir) =>
    minhashPairs(tp(s, dir), 0.5)(s)

  /** Brute-force shingle-Jaccard pairs — test oracle for minhash recall
    * (only run at test scale). */
  def bruteForceShinglePairs(docs: DataFrame, threshold: Double): DataFrame = {
    val jacc = udf((ta: String, tb: String) => {
      val sa = shingles(ta); val sb = shingles(tb)
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    })
    val texts = docs.select(col("doc_id"), col("text"))
    texts.alias("a").crossJoin(texts.alias("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .withColumn("jaccard", jacc(col("a.text"), col("b.text")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("jaccard"))
  }

  // ----------------------------------------------------------- SimHash

  /** 64-bit SimHash (Charikar 2002): sum ±1 per bit over token hashes,
    * take signs. Near-dup ⟺ small Hamming distance. */
  def simhash(text: String): Long = simhashOf(tokens(text))

  /** SimHash over pre-split tokens (tokenize-once path). */
  def simhashOf(toks: Array[String]): Long =
    simhashOfHashes(tokenHashes(toks))

  /** SimHash from precomputed token hashes — identical values to
    * `simhashOf` (it hashes tokens the same way), shared with the
    * minhash path so each token is hashed exactly once per page. */
  def simhashOfHashes(hs: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup pairs with Hamming ≤ maxDist via 4×16-bit band
    * join (pigeonhole: distance ≤ 3 ⟹ ≥1 of 4 bands identical). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole covers Hamming ≤ 3")
    val shUdf = udf((text: String) => simhash(text))
    val withSh = docs.select(col("doc_id"), shUdf(col("text")).as("sh"))
    val banded = withSh.select(col("doc_id"), col("sh"),
      posexplode(expr(
        "transform(sequence(0,3), b -> (shiftright(sh, b*16) & 65535))"))
        .as(Seq("band", "band_val")))
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qDedupSimhash: (SparkSession, String) => DataFrame = (s, dir) =>
    simhashPairs(tp(s, dir), 3)

  // --------------------------------------- near-dup cluster resolution

  /** Connected components over near-dup pair edges → (doc_id,
    * cluster_id = min doc_id in the component). The pair emitters above
    * stop at edges; a real pipeline must then pick ONE canonical doc per
    * near-dup cluster — the reference's fuzzy course-merge analog
    * (/root/reference/database.py:1022-1071 merges per best-match chain).
    *
    * Algorithm: iterative min-label propagation to a fixpoint (each node
    * adopts the min label among itself and its neighbours). Labels only
    * decrease, so it terminates; the iteration count is the largest
    * component diameter + 1, which for near-dup clusters is small.
    *
    * The adjacency lists and the labels are RDDs that share one
    * HashPartitioner, so an iteration is ONE shuffle (every node's label
    * sent to its neighbours and reduced to their minimum), a narrow join
    * with the current labels and ONE job: the count of moved labels,
    * run on the new labels, which are localCheckpoint'ed lazily so that
    * count also materializes them. The adjacency lists are persisted
    * once; a superseded label checkpoint is freed as soon as its
    * successor is materialized. */
  def clusterPairs(pairs: DataFrame)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val part = new HashPartitioner(spark.sparkContext.defaultParallelism)
    val adj = pairs.select(col("doc_a"), col("doc_b")).rdd
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        Iterator(a -> b, b -> a)
      }
      .groupByKey(part)
      .mapValues(_.toArray.distinct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels: RDD[(Long, Long)] = adj.mapPartitions(
      _.map { case (id, _) => (id, id) }, preservesPartitioning = true)
    var held: Option[RDD[_]] = None
    var moved = 1L
    while (moved > 0) {
      val nbrMin = adj.join(labels, part)
        .flatMap { case (_, (nbrs, l)) => nbrs.iterator.map(_ -> l) }
        .reduceByKey(part, math.min(_, _))
      // every node has a neighbour, so the inner join keeps every node
      val next = labels.join(nbrMin, part)
        .mapValues { case (l, m) => (math.min(l, m), m < l) }
        .localCheckpoint()
      moved = next.filter(_._2._2).count()
      held.foreach(org.apache.spark.SparkInternals.freeBlocks)
      held = Some(next)
      labels = next.mapValues(_._1)
    }
    // the last checkpoint backs the returned Dataset — left live for
    // the caller; the adjacency lists are fully consumed
    adj.unpersist(blocking = false)
    labels.toDF("doc_id", "cluster_id")
  }

  /** Keep one canonical doc per near-dup cluster: the min doc_id (the
    * cluster label itself). Docs in no pair are their own canonical. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame)
      (implicit spark: SparkSession): DataFrame = {
    val losers = clusterPairs(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Minhash near-dup clusters with canonical keeper per cluster
    * (rows-only driver check; exactness vs union-find is spec-tested). */
  val qDedupClusters: (SparkSession, String) => DataFrame = (s, dir) => {
    val clusters = clusterPairs(minhashPairs(tp(s, dir), 0.5)(s))(s)
    clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        array_sort(collect_list(col("doc_id"))).as("members"))
      .select(col("cluster_id"), col("cluster_size"),
        concat_ws(",", col("members")).as("members"))
      .orderBy(col("cluster_id"))
  }

  // ---------------------------------------------------------------- maps

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> qDedupExact,
    "q_neardup_tokens" -> qNeardupTokens,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_clusters" -> qDedupClusters)

  /** Oracles only for the SQL-expressible variants; minhash/simhash are
    * covered by ScalaTest recall properties instead. */
  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        | min(doc_id) AS keep_doc_id
        |FROM documents GROUP BY content_hash
        |ORDER BY content_hash""".stripMargin,
    "q_neardup_tokens" ->
      """WITH tk AS (SELECT doc_id,
        |  list_distinct(string_split(lower(trim(text)), ' ')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |   (length(a.toks) + length(b.toks) -
        |    length(list_intersect(a.toks, b.toks))) AS jaccard
        |FROM tk a, tk b
        |WHERE a.doc_id < b.doc_id
        | AND CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |   (length(a.toks) + length(b.toks) -
        |    length(list_intersect(a.toks, b.toks))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)
}
