package graft.crawl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.collection.mutable
import scala.concurrent.Future
import scala.jdk.CollectionConverters._
import graft.util.Overlap

/** Snapshot/manifest layer — Iceberg-emulation (SURVEY.md §7.0).
  *
  * No Iceberg runtime ships in /opt/spark/jars, so the three Iceberg
  * properties the north rule uses — snapshot-id checkpointing, lineage,
  * exact resume — are provided by a minimal manifest layer over
  * partitioned Parquet:
  *
  *   {base}/round=N/{frontier,seen,shards,results,lineage}/  (parquet)
  *   {base}/manifest_N.json
  *     {"round":N,"tables":{...},"appends":{...},"schemas":{...},
  *      "counters":{...}}
  *
  * Two table kinds, mirroring Iceberg's overwrite vs append commits:
  *
  *  - REPLACED tables (frontier, seen, shards): each round writes the
  *    full new state under its own round dir; the manifest points at it.
  *    `shards` is the seen set's filter (`SeenShard` rows), written only
  *    by a crawl with a seen filter, together with the
  *    `shards_layout` counter that names the layout it was built with
  *    (`Crawler.crawl`). A resume reads it back instead of re-hashing
  *    `seen`; a manifest without it (an exact-backend crawl, a snapshot
  *    written before the table existed) or with another layout resumes
  *    by rebuilding the shards from `seen`.
  *  - APPENDED tables (results, lineage): each round writes ONLY its
  *    slice under round=N/name; the manifest carries the cumulative
  *    slice-path list (previous manifest's list + this round's path), and
  *    `read` unions all listed paths. Per-round write volume is O(slice),
  *    not O(total) — round N no longer rewrites all N slices, which at
  *    10^10-frontier scale was the one write-amplification hot spot in
  *    the layer that exists to emulate Iceberg appends.
  *
  * `schemas` maps every readable table (this round's and the carried
  * appended ones) to its Spark schema JSON, made nullable exactly as
  * parquet schema inference returns it. `read`/`readSlice` hand it to
  * `spark.read.schema(...)`, so a read launches no Spark job (an
  * inferring parquet read runs a one-task footer job per call — four per
  * committed round plus four per resume). Manifests without the node
  * fall back to inference.
  *
  * `latest()` finds the highest committed manifest; a crash mid-round
  * leaves no manifest, so resume restarts that round from the previous
  * snapshot — exactly-once table state per committed round. The API is
  * shaped so a real Iceberg catalog (append + snapshot-id time travel)
  * could be swapped in behind it.
  */
final class Snapshot(base: String)(implicit spark: SparkSession) {

  private def dir(round: Int, table: String): String =
    s"$base/round=$round/$table"
  private def manifestPath(round: Int): Path =
    Paths.get(s"$base/manifest_$round.json")

  /** Open a round's commit. Every table added to it starts writing at
    * once, on its own thread (the tables are independent, so the fixed
    * per-write costs overlap); `commit` waits for every write before it
    * rethrows a failure or writes the manifest. The crawl adds the tables
    * that do not depend on the next frontier first and materializes the
    * frontier while they write. */
  def begin(round: Int): Snapshot.Commit = new Snapshot.Commit(round, this)

  private def commitManifest(round: Int, tables: Map[String, DataFrame],
      appends: Map[String, DataFrame], counters: Map[String, Long]): Unit = {
    Files.createDirectories(Paths.get(base))
    val prev = latest()
    val (prevAppends, prevSchemas) =
      if (prev < 0 || prev >= round) (Map.empty[String, Seq[String]],
        Map.empty[String, StructType])
      else (appendPaths(prev), schemas(prev))
    val allAppends = (prevAppends.keySet ++ appends.keySet).map { n =>
      n -> (prevAppends.getOrElse(n, Nil) ++
        (if (appends.contains(n)) Seq(dir(round, n)) else Nil))
    }.toMap
    // Jackson on both ends (ships in /opt/spark/jars): hand-rolled
    // string-building + regex-parsing silently corrupted on hostile
    // names (a counter named like a table, a quote in a path) — a real
    // writer/parser removes the collision class. Format unchanged.
    val root = Snapshot.mapper.createObjectNode()
    root.put("round", round)
    val tNode = root.putObject("tables")
    tables.keys.toSeq.sorted.foreach(n => tNode.put(n, dir(round, n)))
    val aNode = root.putObject("appends")
    allAppends.toSeq.sortBy(_._1).foreach { case (n, ps) =>
      val arr = aNode.putArray(n); ps.foreach(arr.add)
    }
    val sNode = root.putObject("schemas")
    (prevSchemas.filter { case (n, _) => allAppends.contains(n) } ++
        (tables ++ appends).map { case (n, df) =>
          n -> org.apache.spark.SparkInternals.asNullable(df.schema) })
      .toSeq.sortBy(_._1).foreach { case (n, st) =>
        sNode.set[JsonNode](n, Snapshot.mapper.readTree(st.json))
      }
    val cNode = root.putObject("counters")
    counters.toSeq.sortBy(_._1).foreach { case (k, v) => cNode.put(k, v) }
    val json = Snapshot.mapper.writeValueAsString(root)
    // write-then-move for atomic commit
    val tmp = Paths.get(s"$base/.manifest_$round.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(round),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Highest committed round, or -1 when none. */
  def latest(): Int = {
    val p = Paths.get(base)
    if (!Files.exists(p)) return -1
    Files.list(p).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest_") && s.endsWith(".json") =>
        s.stripPrefix("manifest_").stripSuffix(".json").toInt }
      .foldLeft(-1)(math.max)
  }

  private def manifest(round: Int): JsonNode =
    Snapshot.mapper.readTree(Files.readAllBytes(manifestPath(round)))

  private def fields(node: JsonNode)
      : Iterator[(String, JsonNode)] =
    node.properties().iterator().asScala.map(e => e.getKey -> e.getValue)

  /** Slice-path lists of the appended tables at a given round. */
  def appendPaths(round: Int): Map[String, Seq[String]] =
    fields(manifest(round).path("appends")).map { case (name, arr) =>
      name -> arr.elements().asScala.map(_.asText()).toSeq
    }.toMap

  /** Table schemas recorded at a round (empty for manifests written
    * before the `schemas` node existed). */
  private def schemas(round: Int): Map[String, StructType] =
    fields(manifest(round).path("schemas")).map { case (name, node) =>
      name -> DataType.fromJson(node.toString).asInstanceOf[StructType]
    }.toMap

  private def parquet(round: Int, table: String, paths: Seq[String])
      : DataFrame =
    schemas(round).get(table)
      .fold(spark.read)(spark.read.schema)
      .parquet(paths: _*)

  /** Read a table at a round: appended tables union all their committed
    * slices; replaced tables read the round's dir. */
  def read(round: Int, table: String): DataFrame =
    appendPaths(round).get(table) match {
      case Some(paths) if paths.nonEmpty => parquet(round, table, paths)
      case _ => parquet(round, table, Seq(dir(round, table)))
    }

  /** Read ONLY the slice a given round appended to a table. */
  def readSlice(round: Int, table: String): DataFrame =
    parquet(round, table, Seq(dir(round, table)))

  def counters(round: Int): Map[String, Long] =
    fields(manifest(round).path("counters"))
      .map { case (k, v) => k -> v.asLong() }.toMap
}

object Snapshot {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One round's commit in progress (see [[Snapshot.begin]]). */
  final class Commit private[Snapshot] (round: Int, snap: Snapshot) {
    private val tables = mutable.LinkedHashMap.empty[String, DataFrame]
    private val appends = mutable.LinkedHashMap.empty[String, DataFrame]
    private val writes = mutable.ArrayBuffer.empty[Future[Unit]]

    /** Start writing the full state of a replaced table. */
    def replace(name: String, df: DataFrame): this.type =
      start(name, df, tables)

    /** Start writing this round's slice of an appended table. */
    def append(name: String, df: DataFrame): this.type =
      start(name, df, appends)

    private def start(name: String, df: DataFrame,
        kind: mutable.Map[String, DataFrame]): this.type = {
      require(!tables.contains(name) && !appends.contains(name),
        s"table $name is written twice in round $round")
      kind(name) = df
      writes += Overlap.start(
        df.write.mode(SaveMode.Overwrite).parquet(snap.dir(round, name)))
      this
    }

    /** Run `body` while the started writes run; when it throws, the
      * writes finish before the failure propagates. */
    def alongside[T](body: => T): T = Overlap.alongside(writes.toSeq)(body)

    /** Wait for every write, rethrow the first failure, then commit the
      * round's manifest. */
    def commit(counters: Map[String, Long]): Unit = {
      Overlap.join(writes.toSeq)
      snap.commitManifest(round, tables.toMap, appends.toMap, counters)
    }
  }
}
