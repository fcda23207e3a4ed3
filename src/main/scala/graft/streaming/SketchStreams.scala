package graft.streaming

import graft.core.CardinalitySketch.{DefaultP, DefaultW}
import graft.functions._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming entry points: the sketch aggregates are regular
  * Catalyst aggregates, so they drop into streaming groupBy with state kept
  * in the state store as the serialized sketch bytes (the same wire format
  * that crosses shuffles in batch). Merge associativity makes incremental
  * state updates sound in update/complete modes.
  */
object SketchStreams {

  /** Approximate distinct values per event-time window (and optional extra
    * keys), with a watermark bounding state.
    */
  def distinctPerWindow(
      stream: DataFrame,
      eventTimeCol: String,
      valueCol: String,
      windowDuration: String,
      watermarkDelay: String,
      extraKeys: Seq[String] = Seq.empty,
      p: Int = DefaultP,
      w: Int = DefaultW): DataFrame = {
    val keys = window(col(eventTimeCol), windowDuration) +: extraKeys.map(col)
    stream
      .withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(keys: _*)
      .agg(ce_approx_distinct(col(valueCol), p, w).as("approx_distinct"))
  }

  /** Streaming exact dedup: drops rows whose text content was already seen
    * within the watermark horizon. The dedup state is keyed on the (8-byte
    * wyhash, length) of the text — the state store holds tiny keys plus
    * event time, never the document text, and the watermark bounds state
    * size (the streaming analog of Dedup.exactByHash's projected winner
    * election, with the same "exact" bound: two DIFFERENT same-length texts
    * colliding in wyhash64 would dedup as one — ~n^2/2^65 expected per
    * length class within the watermark horizon).
    *
    * STATE-SCHEMA NOTE: the dedup state key is (hash, length); earlier
    * versions keyed on the hash alone. A streaming query restarted from a
    * checkpoint written by the old key schema fails Spark's state-schema
    * compatibility check — discard the old checkpoint (losing in-watermark
    * dedup state for one horizon) when upgrading a live stream.
    */
  def streamingExactDedup(
      stream: DataFrame,
      textCol: String,
      eventTimeCol: String,
      watermarkDelay: String): DataFrame =
    stream
      .withColumn("_content_hash", wyhash64(col(textCol)))
      .withColumn("_content_len", length(col(textCol)))
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_content_hash", "_content_len")
      .drop("_content_hash", "_content_len")

  /** Running sketch per key (update/complete mode): emits the serialized
    * sketch so downstream consumers can union across jobs, and its estimate.
    * The state holds the one sketch per key; `approx_distinct` is read from
    * it.
    *
    * STATE-SCHEMA NOTE: earlier versions aggregated the sketch and the
    * estimate separately, keeping two sketch buffers per key. A streaming
    * query restarted from a checkpoint written with those two buffers fails
    * Spark's state-schema compatibility check — discard the old checkpoint
    * (the running sketches restart empty) when upgrading a live stream.
    */
  def sketchPerKey(
      stream: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      p: Int = DefaultP,
      w: Int = DefaultW): DataFrame =
    stream.groupBy(keyCols.map(col): _*)
      .agg(ce_sketch(col(valueCol), p, w).as("sketch"))
      .withColumn("approx_distinct", ce_estimate(col("sketch")))
}
