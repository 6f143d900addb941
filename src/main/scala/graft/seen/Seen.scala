package graft.seen

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.SeenShard

/** The crawl's URL-seen test (/root/reference/apify.js:145-153). */
object Seen {

  /** A filter over the exact seen set: its shards (probes dispatch on
    * `SeenShard.kind`), their params, and the probe layout — a cogroup
    * with the shard table, or every shard broadcast. */
  final case class Filter(shards: Dataset[SeenShard],
      params: BloomShard.Params, copartitioned: Boolean)

  /** The rows whose `url_hash` is not in `seen`, in `rows`' column order:
    * the exact anti-join, or with a filter flag-and-verify — rows flagged
    * definitely unseen skip `seen`, and only the maybe-seen rows are
    * anti-joined with it, so the output is the exact one at any
    * false-positive rate (FiltersSpec). Both branches read the flagged
    * rows from a lazy checkpoint (Spark re-plans the second branch over a
    * cached input and reuses none of its exchanges), which is returned
    * for the caller to release once the rows are materialized. */
  def unseen(rows: DataFrame, seen: DataFrame, filter: Option[Filter])
      (implicit spark: SparkSession): (DataFrame, Option[DataFrame]) = {
    val cols = rows.columns.map(col).toSeq
    filter match {
      case None =>
        (rows.join(seen, Seq("url_hash"), "left_anti").select(cols: _*), None)
      case Some(Filter(shards, p, copartitioned)) =>
        val flagged = (if (copartitioned)
            BloomShard.flagMaybeSeenCopartitioned(rows, shards, p)
          else BloomShard.flagMaybeSeen(rows, shards, p))
          .localCheckpoint(false)
        val maybe = col(BloomShard.MaybeCol)
        (flagged.filter(!maybe).select(cols: _*).unionByName(
          flagged.filter(maybe).join(seen, Seq("url_hash"), "left_anti")
            .select(cols: _*)), Some(flagged))
    }
  }
}
