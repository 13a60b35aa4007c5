package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.mef.{Normalize, Star, Transform}
import graft.mef.Star.StarSchema

/** Streaming warehouse load: micro-batches of raw MEF-shaped rows fold
  * into the star via [[Star.append]] inside `foreachBatch` — the
  * Structured Streaming rendition of the reference's monthly loader
  * cadence (`etl/cargar_postgres.py` run per file drop).
  *
  * Why foreachBatch and not a streaming aggregation: the load is a
  * multi-table transactional update (7 dims + fact with cross-batch
  * key semantics), which is exactly the case the foreachBatch escape
  * hatch exists for — each micro-batch is a normal DataFrame, so the
  * whole batch Star machinery (grain consolidation, id-preserving dim
  * deltas, first-write-wins fact merge) applies verbatim, and
  * [[Star.append]]'s idempotent re-delivery contract gives replayed
  * micro-batches (at-least-once sinks after a restart) no-op
  * semantics — effectively-once without a custom state store.
  *
  * Scale shape: per micro-batch cost is proportional to the BATCH
  * (see SCALE.md "Warehouse build"); lineage truncation inside
  * append keeps plan depth flat over an unbounded stream.
  */
final class MefStreamingLoad {

  @volatile private var current: Option[StarSchema] = None

  /** The latest loaded star (None until the first batch commits). */
  def star: Option[StarSchema] = current

  /** Fold one raw batch (all-string MEF-shaped frame) into the star. */
  def loadBatch(raw: DataFrame): Unit = synchronized {
    val normalized = Normalize(Transform(raw))
    val loaded = current.getOrElse(Star.empty(raw.sparkSession, normalized))
    current = Some(Star.append(raw.sparkSession, loaded, normalized))
  }

  /** Wire a raw-row stream into the loader. Caller starts/stops the
    * returned writer (`.start()` + `processAllAvailable` in tests).
    */
  def writer(rawStream: DataFrame): DataStreamWriter[Row] =
    rawStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) loadBatch(batch)
      }
}
