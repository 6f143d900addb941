package graft.ml

import org.apache.spark.ml.feature.{CountVectorizer, IDF, Tokenizer}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.KMeans
import org.apache.spark.mllib.feature.PCA
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField,
  StructType}
import org.apache.spark.storage.StorageLevel
import graft.util.Tables

/** Spark ML operator surface (SURVEY.md F25-F28): TF-IDF + cosine
  * recommendation and seeded KMeans + PCA(2) clustering — the
  * reference's sklearn pipelines
  * (/root/reference/recommendation_system/backend/student_recommender.py:139-146,
  * 450-457; /root/reference/main.py:4716-4730 KMeans seed=42 + PCA(2))
  * re-expressed with org.apache.spark.ml (TF-IDF) and its RDD-based
  * org.apache.spark.mllib core (KMeans, PCA), both in spark-mllib.
  *
  * Determinism: fixed seed 42 everywhere; the vocabulary is ordered by
  * frequency desc, with ties between equal-count terms broken by
  * partition-traversal order (CountVectorizer's `top`, see [[tfidf]]);
  * outputs project cluster sizes / top similarities rather than raw
  * vectors so results are stable across runs.
  */
object MlOps {

  /** TF-IDF document vectors over `documents.text`.
    *
    * The input is deliberately NOT repartitioned (unlike the other
    * round-6 §2.5 fixes): CountVectorizer.fit orders the vocabulary
    * with `RDD.top(n)(Ordering.by(count))` — ties between equal-count
    * terms break by partition-traversal order, so a repartition can
    * permute vocabulary INDICES. Cosines are index-label invariant,
    * but the LSH signature path (sparseSignature → planeComponent(j))
    * consumes the raw index j, so a permutation would silently change
    * q_tfidf_lsh's bucket membership and emitted rows — the same
    * partition-dependent-fit hazard class that keeps q_kmeans_clusters
    * unrepartitioned. The round-6 A/B also showed the parallel fit no
    * faster (0.81 vs 0.66 s warm), so nothing is given up. */
  def tfidf(docs: DataFrame, vocabSize: Int = 1 << 12): DataFrame = {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val cv = new CountVectorizer().setInputCol("words")
      .setOutputCol("tf").setVocabSize(vocabSize)
    val words = tok.transform(docs)
    val cvModel = cv.fit(words)
    val tf = cvModel.transform(words)
    val idf = new IDF().setInputCol("tf").setOutputCol("tfidf").fit(tf)
    idf.transform(tf)
  }

  /** Dot product that walks only ACTIVE components, in ascending index
    * order — bit-identical to the former dense-array loop (skipped terms
    * are exact 0.0 products; tf-idf values are finite, and addition of
    * 0.0 is an IEEE identity), but O(nnz) instead of O(vocabSize) and
    * with no 2×vocabSize-double dense materialization per PAIR. At the
    * 4096-term vocab the dense form allocated ~64 KiB per scored pair
    * (guide §1.2 step 2 / §4: per-task work, allocation in the hot path). */
  private def sparseDot(a: Vector, b: Vector): Double = (a, b) match {
    case (sa: org.apache.spark.ml.linalg.SparseVector,
          sb: org.apache.spark.ml.linalg.SparseVector) =>
      val ai = sa.indices; val av = sa.values
      val bi = sb.indices; val bv = sb.values
      var d = 0.0; var i = 0; var j = 0
      while (i < ai.length && j < bi.length) {
        if (ai(i) == bi(j)) { d += av(i) * bv(j); i += 1; j += 1 }
        else if (ai(i) < bi(j)) i += 1
        else j += 1
      }
      d
    case (sa: org.apache.spark.ml.linalg.SparseVector, _) =>
      var d = 0.0
      sa.foreachActive((i, x) => d += x * b(i))
      d
    case (_, sb: org.apache.spark.ml.linalg.SparseVector) =>
      var d = 0.0
      sb.foreachActive((i, x) => d += a(i) * x)
      d
    case _ =>
      var d = 0.0; var i = 0; val n = a.size
      while (i < n) { d += a(i) * b(i); i += 1 }
      d
  }

  /** L2 norm over active components (ascending index) — same IEEE value
    * as the former dense map-square-sum. */
  private val normVec = udf((v: Vector) => {
    var s = 0.0
    v.foreachActive((_, x) => s += x * x)
    math.sqrt(s)
  })

  /** Cosine from a precomputed-norm pair — same zero-norm guard and the
    * same dot/(na*nb) grouping as the former all-in-one cosineVec; norms
    * are per-ROW quantities, so pairwise callers compute them once per
    * side (normVec) instead of once per pair. */
  private val cosinePre = udf((a: Vector, b: Vector, na: Double, nb: Double) =>
    if (na == 0 || nb == 0) 0.0 else sparseDot(a, b) / (na * nb))

  /** F25: TF-IDF cosine recommender — for each query doc (doc_id < 5),
    * the top-5 most similar other docs. */
  val qTfidfSimilar: (SparkSession, String) => DataFrame = (s, dir) => {
    val vecs = tfidf(Tables.read(s, s"$dir/documents.parquet"))
      .select(col("doc_id"), col("tfidf"))
      .withColumn("nrm", normVec(col("tfidf")))
    val q = vecs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("tfidf").as("qv"),
        col("nrm").as("qn"))
    val scored = vecs.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cos", round(cosinePre(col("tfidf"), col("qv"),
        col("nrm"), col("qn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("doc_id").as("similar_id"),
        col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Sparse-vector bucket signature: the same deterministic hyperplane
    * family as graft.similarity.Ann, with the plane dot taken over the
    * vector's NON-ZERO components only — O(nnz × planes × tables) per
    * doc regardless of vocabulary size, so a 10^6-term vocabulary costs
    * the same as this 4096-term one. */
  def sparseSignature(v: Vector, table: Int): Int = {
    import graft.similarity.Ann
    var sig = 0
    var p = 0
    while (p < Ann.NumPlanes) {
      var dot = 0.0
      v.foreachActive((j, x) => dot += Ann.planeComponent(table, p, j) * x)
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** F25 scale twin: TF-IDF top-k via random-hyperplane LSH buckets —
    * candidates come from a (table, signature) equi-join instead of the
    * crossJoin qTfidfSimilar uses, so the corpus is scanned once (× the
    * table count) and never paired all-against-all. Recall < 1 by
    * construction; MlSpec pins a floor against the brute-force twin. */
  def tfidfLshTopK(vecs: DataFrame, queryIds: Column, k: Int): DataFrame = {
    import graft.similarity.Ann
    val sigUdf = udf((v: Vector, t: Int) => sparseSignature(v, t))
    def bucketize(df: DataFrame, idCol: String, vecCol: String) =
      df.withColumn("table", explode(lit((0 until Ann.NumTables).toArray)))
        .withColumn("sig", sigUdf(col(vecCol), col("table")))
        .select(col("table"), col("sig"), col(idCol), col(vecCol))
    val qb = bucketize(vecs.filter(queryIds)
      .select(col("doc_id").as("query_id"), col("tfidf").as("qv")),
      "query_id", "qv")
    val cb = bucketize(vecs
      .select(col("doc_id").as("similar_id"), col("tfidf").as("cv")),
      "similar_id", "cv")
    val cands = cb.join(broadcast(qb), Seq("table", "sig"))
      .filter(col("query_id") =!= col("similar_id"))
      .dropDuplicates("query_id", "similar_id")
      .withColumn("cos", round(cosinePre(col("cv"), col("qv"),
        normVec(col("cv")), normVec(col("qv"))), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("similar_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("similar_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qTfidfLsh: (SparkSession, String) => DataFrame = (s, dir) => {
    val vecs = tfidf(Tables.read(s, s"$dir/documents.parquet"))
      .select(col("doc_id"), col("tfidf"))
    tfidfLshTopK(vecs, col("doc_id") < 5, 5)
  }

  /** F26: KMeans(k=8, seed=42) over the embeddings + PCA(2) coordinates
    * — cluster sizes + per-cluster PCA centroid (stable summary).
    *
    * Both fits run on ONE persisted RDD[(label, vector)] at the scan's
    * own partitioning: mllib's KMeans with ml's defaults (maxIter 20,
    * k-means|| with 2 init steps, epsilon 1e-4) — the algorithm
    * `ml.KMeans.fit` delegates to, over the same points in the same
    * partitions, so the centers are bit-identical — then mllib's PCA(2),
    * which `ml.PCA.fit` wraps the same way. What the ml wrappers added
    * never reached this output: a block-solver probe job, the cached
    * rows deserialized again on every Lloyd iteration, and a grouping of
    * the predictions for the training summary's cluster sizes. Predict
    * and project happen in one map, then the aggregate. */
  val qKmeansClusters: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = Tables.read(s, s"$dir/embeddings.parquet")
      .select(col("label"), col("embedding"))
    val points = emb.rdd.map { r =>
      (r.get(0), Vectors.dense(r.getSeq[Float](1).map(_.toDouble).toArray))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val vecs = points.values
    val km = new KMeans().setK(8).setSeed(42L).setMaxIterations(20)
      .setInitializationMode(KMeans.K_MEANS_PARALLEL)
      .setInitializationSteps(2).setEpsilon(1e-4)
      .run(vecs)
    val pca = new PCA(2).fit(vecs)
    val rows = points.map { case (label, v) =>
      val p = pca.transform(v)
      Row(km.predict(v), label, p(0), p(1))
    }
    val schema = StructType(Seq(StructField("cluster", IntegerType, false),
      emb.schema("label"), StructField("x", DoubleType, false),
      StructField("y", DoubleType, false)))
    val out = s.createDataFrame(rows, schema)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("size"),
        round(avg(col("x")), 4).as("pca_x"),
        round(avg(col("y")), 4).as("pca_y"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy(col("cluster"))
      // the k-row summary is materialized eagerly so the points (pinned
      // for the two fits above) can be released before returning
      .localCheckpoint(true)
    points.unpersist(blocking = false)
    out
  }

  /** F27/F28: composite recommender score — weighted column arithmetic
    * with a compatibility penalty
    * (course_recommender_for_university.py:345-365). */
  val qCompositeScore: (SparkSession, String) => DataFrame = (s, dir) => {
    val p = Tables.read(s, s"$dir/part.parquet")
    val freqNorm = col("p_size").cast("double") / 50.0
    val compat = (col("p_retailprice") % 100.0) / 100.0
    val novelty = (col("p_partkey") % 7).cast("double") / 7.0
    p.withColumn("raw_score",
        lit(0.40) * freqNorm + lit(0.35) * compat + lit(0.15) * novelty +
          lit(0.10) * 0.5)
      .withColumn("score",
        when(compat < 0.1, col("raw_score") * 0.05)
          .otherwise(col("raw_score")))
      .select(col("p_partkey"), col("score"))
      .orderBy(col("score").desc, col("p_partkey").asc)
      .limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tfidf_similar" -> qTfidfSimilar,
    "q_tfidf_lsh" -> qTfidfLsh,
    "q_kmeans_clusters" -> qKmeansClusters,
    "q_composite_score" -> qCompositeScore)

  /** The ML pipelines have no SQL twin; the composite score does. */
  val oracles: Map[String, String] = Map(
    "q_composite_score" ->
      """SELECT p_partkey, score FROM (
        | SELECT p_partkey,
        |  CASE WHEN (p_retailprice % 100.0) / 100.0 < 0.1
        |   THEN (0.40 * (CAST(p_size AS DOUBLE) / 50.0) +
        |     0.35 * ((p_retailprice % 100.0) / 100.0) +
        |     0.15 * (CAST(p_partkey % 7 AS DOUBLE) / 7.0) +
        |     0.10 * 0.5) * 0.05
        |   ELSE 0.40 * (CAST(p_size AS DOUBLE) / 50.0) +
        |     0.35 * ((p_retailprice % 100.0) / 100.0) +
        |     0.15 * (CAST(p_partkey % 7 AS DOUBLE) / 7.0) +
        |     0.10 * 0.5 END AS score
        | FROM part)
        |ORDER BY score DESC, p_partkey ASC LIMIT 50""".stripMargin)
}
