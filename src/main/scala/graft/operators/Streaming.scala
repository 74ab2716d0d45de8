package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.F

/** Structured-Streaming surface. The reference is a batch library
  * (SURVEY.md §3.9) — these transforms feed the SAME cell-explode /
  * window-agg plans from a stream source, which is the engine's
  * incremental-ingest path (availableNow trigger for backfill).
  */
object Streaming {

  /** File-source stream of events with event-time watermark + tumbling
    * window counts — the streaming twin of the q09 batch query. */
  def eventWindowCounts(spark: SparkSession, schema: StructType, path: String,
                        window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(schema).parquet(path)
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ parquet -> event-time LTZ
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Stateless streaming tile assignment: the same cell_encode expression
    * applied on a stream — proves the spatial path is streaming-safe. */
  def tileAssignStream(points: DataFrame, zoom: Int): DataFrame = {
    F.ensureRegistered(points.sparkSession)
    points.withColumn("cell", F.cell_encode(col("lon"), col("lat"), lit(zoom)))
  }

  /** Streaming exact-dedup on content fingerprint within the watermark
    * horizon (dropDuplicates with event-time column). */
  def streamingDedup(docs: DataFrame, textCol: String, tsCol: String,
                     watermark: String = "1 hour"): DataFrame = {
    F.ensureRegistered(docs.sparkSession)
    docs.withColumn("fp", F.fingerprint64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("fp")
  }

  /** Stream-static point-in-polygon: streaming points prune against the
    * STATIC polygon side with the same cover, cell equi-join and refine as
    * the batch operator (SpatialJoin), broadcast by Catalyst (stream-static
    * joins are stateless — no watermark needed). This is the
    * incremental-ingest twin of q11: a micro-batch of arriving documents
    * gets region-tagged with identical semantics. */
  def streamPointInPolygon(points: DataFrame, polys: DataFrame,
                           polyGeom: String, lonCol: String, latCol: String,
                           zoom: Int): DataFrame = {
    // the cover is cached like the batch operator's, and here it matters
    // more: the static side is re-joined by EVERY micro-batch of a
    // long-running stream. The returned frame owns it, and through that
    // frame the streaming query started on it: once the query is stopped
    // and dropped, Spark's ContextCleaner frees the cover
    val cov = SpatialJoin.cover(polys, polyGeom, zoom, "__env")
    // `polys` is STATIC, so the mixed-zoom ladder is computable at plan
    // time exactly like the batch operator: if any polygon's capped cover
    // coarsened below `zoom`, the streaming point side must re-key to
    // every zoom present or those polygons silently never match (the
    // batch/stream row-set equality this operator promises).
    // fanStream: each micro-batch of a single-row-group file source is one
    // scan split, so the broadcast join + JTS refine below would run on
    // one core; repartition spreads the batch to cluster parallelism
    val pts = SpatialJoin.keyPoints(graft.core.Par.fanStream(points), lonCol, latCol, zoom, cov)
    pts.join(broadcast(cov), Seq("__cell"))
      .where(SpatialJoin.pipRefine(polyGeom, lonCol, latCol))
      .drop("__cell", "__env")
  }

  final case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  final case class SessState(startMs: Long, lastMs: Long, n: Long, firstEvent: Long)
  final case class SessionOut(user_id: Long, start_ms: Long, n_events: Long, first_event: Long)

  /** Stateful streaming sessionization via flatMapGroupsWithState — the
    * custom-state surface of §3.9. Sessions close when an in-batch gap
    * exceeds `gapSec` (emitted immediately) or when the event-time
    * watermark times the open session out. Input needs (user_id, event_id,
    * ts) with a watermark-compatible `ts`. */
  /** Stream-STREAM interval join (§3.9; Structured Streaming's symmetric
    * hash join — both sides buffer state, matches emit as rows arrive):
    * left rows pair with right rows of the same key whose event time
    * falls in [left.ts, left.ts + windowMs]. INNER joins emit eagerly —
    * watermarks only bound state retention — so a drain-once caller
    * (write all input, one processAllAvailable) gets the complete,
    * deterministic row set. The range bound is expressed directly on the
    * watermarked timestamp columns (NOT through unix_millis): Spark's
    * StreamingJoinHelper can only derive state-eviction watermarks from
    * raw event-time comparisons, so the millis form kept symmetric-hash
    * state forever in a long-running query. Timestamp compares run at
    * MICROsecond precision — a DuckDB oracle replays them via epoch_us.
    * Column names must already be disjoint. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         keyL: String, keyR: String,
                         tsL: String, tsR: String, windowMs: Long,
                         joinType: String = "inner"): DataFrame =
    left.join(right, expr(
      s"""$keyL = $keyR AND $tsR >= $tsL
          AND $tsR <= $tsL + INTERVAL $windowMs MILLISECOND"""), joinType)

  def sessionizeStream(events: DataFrame, gapSec: Long = 1800,
                       watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def fn(userId: Long, rows: Iterator[Ev], state: GroupState[SessState]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      if (rows.isEmpty && state.hasTimedOut) {
        state.getOption.foreach(s => out += SessionOut(userId, s.startMs, s.n, s.firstEvent))
        state.remove()
      } else {
        val evs = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
        var cur = state.getOption.orNull
        evs.foreach { e =>
          val t = e.ts.getTime
          if (cur == null) cur = SessState(t, t, 1, e.event_id)
          else if (t - cur.lastMs > gapSec * 1000) {
            out += SessionOut(userId, cur.startMs, cur.n, cur.firstEvent)
            cur = SessState(t, t, 1, e.event_id)
          } else cur = cur.copy(lastMs = math.max(cur.lastMs, t), n = cur.n + 1,
            firstEvent = math.min(cur.firstEvent, e.event_id))
        }
        if (cur != null) {
          state.update(cur)
          state.setTimeoutTimestamp(cur.lastMs + gapSec * 1000)
        }
      }
      out.iterator
    }
    events.selectExpr("user_id", "event_id", "ts").as[Ev]
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
