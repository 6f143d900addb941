package graft.analytics

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fuzzy.Ratio

class OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("fuzzy join: blocked candidates only, all scores ≥ threshold") {
    val out = FuzzyQueries.qFuzzyJoin(spark, dir).collect()
    out.foreach { r =>
      val a = r.getAs[String]("key_a"); val b = r.getAs[String]("key_b")
      assert(r.getAs[Int]("score") >= 88)
      assert(Ratio.tokenSetRatio(a, b) === r.getAs[Int]("score"))
      // blocking key correctness: same first token
      assert(a.toLowerCase.split(" ").head === b.toLowerCase.split(" ").head)
    }
  }

  test("fuzzy join: distinct-key scoring ≡ direct row-pair scoring") {
    // the production path scores distinct key pairs and expands back via
    // a native join; this is the O(rows²/blocks) reference formulation it
    // must match row-for-row
    val p = spark.read.parquet(s"$dir/part.parquet")
    val k = p.select(col("p_partkey").as("id"), col("p_name").as("key"),
      split(lower(col("p_name")), " ").getItem(0).as("block"))
    // canonical (min,max) key orientation: difflib ratios are asymmetric
    // in tie cases (RatioSpec), so the defined semantics score each
    // unordered key pair once in lexicographic order
    val direct = k.alias("a").join(k.alias("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .withColumn("score", Ratio.fuzzTokenSetRatio(
        least(col("a.key"), col("b.key")),
        greatest(col("a.key"), col("b.key"))))
      .filter(col("score") >= 88)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.key").as("key_a"), col("b.key").as("key_b"), col("score"))
    val fast = FuzzyQueries.fuzzyJoin(p, "p_name", "p_partkey", 88)
    assert(fast.exceptAll(direct).isEmpty && direct.exceptAll(fast).isEmpty)
  }

  test("best-match-one: exactly one winner per probe, max score") {
    val out = FuzzyQueries.qBestMatch(spark, dir)
    val perProbe = out.groupBy("probe_id").count().collect()
    assert(perProbe.forall(_.getLong(1) === 1L))
  }

  test("best-match-one: key-level pruning ≡ full row-level ranking") {
    // the production path ranks only the top-2 key score levels; this is
    // the exhaustive rows×probes formulation it must match exactly
    val p = spark.read.parquet(s"$dir/part.parquet")
    val probe = p.filter(col("p_partkey") % 50 === 0)
      .select(col("p_partkey").as("probe_id"), col("p_name").as("probe"))
    val cand = p.filter(col("p_name").isNotNull)
      .select(col("p_partkey").as("cand_id"), col("p_name").as("cand"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    val direct = cand.crossJoin(probe)
      .withColumn("score", Ratio.fuzzRatio(col("probe"), col("cand")))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("cand_id"), col("score"))
    val fast = FuzzyQueries.qBestMatch(spark, dir)
    assert(fast.exceptAll(direct).isEmpty && direct.exceptAll(fast).isEmpty)
  }

  test("theme search: per-keyword scores ARE partialRatio, logic=all|any " +
      "aggregates them, pagination ranks are dense from 1") {
    import spark.implicits._
    val blobs = Seq(
      ("uni_a", 1L, "advanced machine learning and statistics"),
      ("uni_a", 2L, "intro to databases"),
      ("uni_b", 3L, "machine learning fundamentals"),
      ("uni_b", 4L, "organic chemistry lab")
    ).toDF("uni", "course", "blob")
    val kws = Seq("machine learning", "statistics")
    val any = FuzzyQueries.themeSearch(blobs, kws, "any", 80, 1, 10)
      .collect()
    any.foreach { r =>
      val blob = blobs.filter(col("course") === r.getAs[Long]("course"))
        .head.getString(2)
      val scores = r.getSeq[Int](r.fieldIndex("kw_scores"))
      kws.zip(scores).foreach { case (kw, sc) =>
        assert(sc === Ratio.partialRatio(kw, blob), s"kw=$kw blob=$blob")
      }
      assert(r.getAs[Int]("score") === scores.max) // logic=any → max
      assert(r.getAs[Int]("score") >= 80)
    }
    assert(any.map(_.getAs[Int]("rn")).toSeq === (1 to any.length))
    // logic=all is the min-aggregation: only blobs scoring high on BOTH
    val all = FuzzyQueries.themeSearch(blobs, kws, "all", 80, 1, 10)
      .collect()
    all.foreach { r =>
      val scores = r.getSeq[Int](r.fieldIndex("kw_scores"))
      assert(r.getAs[Int]("score") === scores.min)
    }
    assert(all.length <= any.length)
    assert(all.map(_.getAs[Long]("course")).toSet
      .subsetOf(any.map(_.getAs[Long]("course")).toSet))
    // course 1 hits both keywords (substring containment → 100)
    assert(all.map(_.getAs[Long]("course")).contains(1L))
  }

  test("theme search grouped: page rows → university groups in page " +
      "order + ONE page-level distinct skill set") {
    import spark.implicits._
    val blobs = Seq(
      ("uni_a", 1L, Seq("machine learning", "statistics")),
      ("uni_a", 2L, Seq("databases")),
      ("uni_b", 3L, Seq("machine learning", "calculus")),
      ("uni_b", 4L, Seq("chemistry"))
    ).toDF("uni", "course", "skills")
      .withColumn("blob", concat_ws(" ", col("skills")))
    val page = FuzzyQueries.themeSearch(blobs, Seq("machine learning"),
      "any", 80, 1, 10)
    val grouped = FuzzyQueries.themeSearchGrouped(page).collect()
    // courses 1 and 3 pass (blob contains the keyword) → both unis present
    assert(grouped.map(_.getAs[String]("uni")).toSeq === Seq("uni_a", "uni_b"))
    val pageRows = page.collect()
    grouped.foreach { g =>
      val courses = g.getSeq[org.apache.spark.sql.Row](g.fieldIndex("courses"))
      // page order: struct sorts by rn first
      assert(courses.map(_.getAs[Int]("rn")) ===
        courses.map(_.getAs[Int]("rn")).sorted)
      courses.foreach { c =>
        val src = pageRows.find(_.getAs[Long]("course") ==
          c.getAs[Long]("course")).get
        assert(src.getAs[String]("uni") === g.getAs[String]("uni"))
        assert(c.getSeq[String](c.fieldIndex("skills")) ===
          src.getSeq[String](src.fieldIndex("skills")))
      }
      // unique_skills_page is GLOBAL to the page, identical on every row
      assert(g.getSeq[String](g.fieldIndex("page_skills")) ===
        Seq("calculus", "machine learning", "statistics"))
    }
  }

  test("driver-facing theme queries carry no array columns (pandas-" +
      "sortable schema) and q_theme_grouped shapes the golden page") {
    val flat = FuzzyQueries.qThemeSearch(spark, dir)
    assert(flat.schema.fields.forall(f =>
      !f.dataType.typeName.contains("array")), flat.schema.treeString)
    val grouped = FuzzyQueries.qThemeGrouped(spark, dir).collect()
    assert(grouped.nonEmpty)
    grouped.foreach { r =>
      assert(r.getAs[String]("courses_json").startsWith("["))
      assert(r.getAs[String]("page_skills").nonEmpty)
    }
  }

  test("nested grouping emits sorted struct lists with frequencies") {
    val out = FuzzyQueries.qNestedGroups(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("n_members") > 0)
      assert(r.getAs[String]("members_json").startsWith("["))
    }
  }

  test("mining: degree tokens, ects values, level inference") {
    import spark.implicits._
    val df = Seq(
      "BSc of Science with 12 ECTS mandatory, also Master option",
      "PhD programme, 30 credits, elective",
      "nothing here").toDF("t")
    val got = df.select(
      Mining.degreeTokens(col("t")).as("deg"),
      Mining.ectsValues(col("t")).as("ects"),
      Mining.mandOptFlags(col("t")).as("flags"),
      Mining.inferLevel(col("t")).as("level")).collect()
    assert(got(0).getSeq[String](0).toSet === Set("BSc", "MSc"))
    assert(got(0).getSeq[Int](1) === Seq(12))
    assert(got(0).getSeq[String](2) === Seq("Mandatory"))
    assert(got(1).getSeq[String](0) === Seq("PhD"))
    assert(got(1).getSeq[Int](1) === Seq(30))
    assert(got(1).getSeq[String](2) === Seq("Elective"))
    assert(got(1).getString(3) === "PhD")
    assert(got(2).getString(3) === "Other")
  }

  test("canonical key normalizes like the reference _canonical_key") {
    import spark.implicits._
    val got = Seq("  Intro to DB's!!  (2024)  ").toDF("t")
      .select(Mining.canonicalKey(col("t"))).head.getString(0)
    assert(got === "intro to db s 2024")
  }

  test("ml: kmeans is seed-deterministic, tfidf similar is stable") {
    val a = graft.ml.MlOps.qKmeansClusters(spark, dir).collect()
    val b = graft.ml.MlOps.qKmeansClusters(spark, dir).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    assert(a.map(_.getAs[Long]("size")).sum === 500L)
    val sim = graft.ml.MlOps.qTfidfSimilar(spark, dir).collect()
    assert(sim.length === 25) // 5 queries × top-5
  }

  /** q_kmeans_clusters in its former formulation: ml.KMeans and ml.PCA
    * fitted on a cached Dataset of ml vectors — the reference the mllib
    * path must match row for row. */
  private def kmeansReference(dir: String) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        toVec(col("embedding")).as("features"))
      .cache()
    val clustered = new KMeans().setK(8).setSeed(42L)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(vecs).transform(vecs)
    val pca = new PCA().setK(2).setInputCol("features").setOutputCol("pca")
      .fit(vecs)
    val first = udf((v: Vector) => v(0))
    val second = udf((v: Vector) => v(1))
    val out = pca.transform(clustered)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("size"),
        round(avg(first(col("pca"))), 4).as("pca_x"),
        round(avg(second(col("pca"))), 4).as("pca_y"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy(col("cluster"))
    val rows = out.collect().toSeq
    vecs.unpersist()
    (out.schema.map(f => (f.name, f.dataType)), rows)
  }

  test("q_kmeans_clusters ≡ the former ml.KMeans + ml.PCA formulation " +
      "at sf0.001 and sf0.01") {
    Seq(dir, "/root/testdata/sf0.01").foreach { d =>
      val got = graft.ml.MlOps.qKmeansClusters(spark, d)
      val (schema, rows) = kmeansReference(d)
      assert(got.schema.map(f => (f.name, f.dataType)) === schema, d)
      assert(got.collect().toSeq === rows, d)
    }
  }

  test("tfidf LSH twin: bucketed candidates, recall floor vs brute force") {
    val brute = graft.ml.MlOps.qTfidfSimilar(spark, dir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("similar_id")).toSet }
    val lsh = graft.ml.MlOps.qTfidfLsh(spark, dir).collect()
    assert(lsh.nonEmpty)
    val lshByQ = lsh.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("similar_id")).toSet }
    // every LSH hit is a real doc pair with a correctly-ranked cosine;
    // recall vs the exact top-5 has a floor (probabilistic by design)
    val recalls = brute.toSeq.map { case (q, top) =>
      top.intersect(lshByQ.getOrElse(q, Set.empty)).size.toDouble / top.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.5, s"mean recall $meanRecall, per-q $recalls")
    // sanity: LSH cosines are exact for the pairs it does return
    lsh.foreach(r => assert(r.getAs[Double]("cos") <= 1.0001))
  }
}
