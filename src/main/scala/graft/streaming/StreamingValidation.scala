package graft.streaming

import graft.checks.RowLocalCheck
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Continuous validation over Structured Streaming sources: the same
  * compiled constraint Columns applied to a stream (`readStream` →
  * validate → `writeStream`), with watermarked windowed verdicts.
  *
  * Row-level validation needs nothing stream-specific:
  * `Validator.withValidation` and `Validator.violations(stream,
  * Seq(idCol, tsCol))` are stateless narrow projections, so they add no
  * state store. Only the verdict aggregation ([[windowedVerdicts]]) keeps
  * (window × part) state, bounded by the watermark. At production scale
  * the violations stream appends straight to the violations table while
  * verdicts upsert per (window, part) — the streaming twin of the batch
  * pipeline's outputs (FIXTURES.md §5).
  */
object StreamingValidation {

  /** Streaming twin of [[graft.checks.ReferentialBloomCheck]]: flag
    * events whose FK is DEFINITELY absent from a (persisted) dimension
    * filter blob. Stateless — the blob rides as a literal, the probe is
    * a per-row hash with no joins and no state store — so it composes
    * with any output mode and never grows with the key universe; refresh
    * the filter by restarting the query with a newer blob (the
    * [[graft.pipeline.IndexStore]] "bloom" profile). */
  def streamingReferentialBloom(stream: DataFrame, filterBlob: Array[Byte],
                                fkCol: String): DataFrame = {
    graft.sketch.BloomSketch.deserialize(filterBlob) // validate up front
    stream.where(!graft.sketch.BloomFunctions.bloom_contains(
      lit(filterBlob), col(fkCol).cast("string")))
  }

  /** Cross-batch exact dedup for streams with per-batch drop metrics:
    * the stateless Bloom probe ([[graft.ops.Dedup.dropSeenExact]]
    * semantics — NULL keys never drop) plus a named `observe`
    * observation counting each micro-batch's input and dropped rows
    * BEFORE the filter. The observation is Spark's native per-batch
    * accumulator surface: it costs one map-side count, adds no state
    * store and no second sink, and lands in every
    * `StreamingQueryProgress.observedMetrics` — feed those through
    * [[observationMetrics]] into [[graft.checks.MetricsAnomaly]] so a
    * batch whose drop rate jumps (a re-crawl looping over yesterday's
    * corpus, or an upstream id bug hashing everything identical) flags
    * as dedup drift instead of silently shrinking the corpus. */
  def streamingDedupExact(stream: DataFrame, keyCol: String,
                          index: Array[Byte],
                          observation: String = "graft_dedup"): DataFrame = {
    graft.sketch.BloomSketch.deserialize(index) // validate geometry early
    val key = col(keyCol)
    // three-valued-safe: NULL key → isNotNull false → seen FALSE (never
    // NULL), so the observe sum and the keep filter agree on every row
    val seen = key.isNotNull &&
      graft.sketch.BloomFunctions.bloom_contains(lit(index), key)
    stream
      .observe(observation,
        count(lit(1)).as("rows_in"),
        sum(when(seen, 1L).otherwise(0L)).as("rows_dropped"))
      .where(!seen)
  }

  /** Flatten a query's progress observations into the (run, metric,
    * value) metrics-history shape [[graft.checks.MetricsAnomaly]]
    * consumes: one row per (batchId, observed column), e.g.
    * (7, "rows_dropped", 123.0). Pass `query.recentProgress` (or the
    * accumulation from a `StreamingQueryListener`); batches that carried
    * no data emit no observation and are skipped. Driver-side by
    * construction — progress objects are already driver-local and one
    * per micro-batch, so this never touches executor data. */
  def observationMetrics(spark: org.apache.spark.sql.SparkSession,
                         progresses: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                         observation: String): DataFrame = {
    val rows = for {
      p <- progresses
      row <- Option(p.observedMetrics.get(observation)).toSeq
      f <- row.schema.fields
    } yield (p.batchId, f.name,
      row.getAs[Any](f.name) match {
        case null      => Option.empty[Double]
        case n: Number => Some(n.doubleValue())
        case other     => throw new IllegalArgumentException(
          s"observed metric ${f.name} is non-numeric: $other")
      })
    import spark.implicits._
    rows.toDF("batch_id", "metric", "value")
  }

  /** A duplicate-key sighting emitted by [[streamingDuplicates]]. */
  final case class DupEvent(key: String, occurrence: Long)

  /** Stateful streaming uniqueness: the streaming twin of
    * [[graft.checks.UniquenessCheck]] via `flatMapGroupsWithState` —
    * per-key custom state (occurrence count) with an event-time timeout so
    * state is bounded by the watermark, not by the key universe. Emits one
    * [[DupEvent]] per re-occurrence of a key inside the retention window
    * (occurrence = 2, 3, …; first sightings are silent).
    *
    * At 10^12-sequence scale the state store only ever holds keys seen
    * within the watermark horizon; the shuffle is the standard
    * groupByKey hash exchange on the key.
    */
  def streamingDuplicates(stream: DataFrame, keyCol: String, tsCol: String,
                          watermarkDelay: String = "10 minutes"): Dataset[DupEvent] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermarkDelay)
      // the watermarked event-time column must reach the stateful operator
      // for EventTimeTimeout to be legal
      .select(col(keyCol).cast("string").as("key"),
        col(tsCol).as("ts"))
      // drop null keys AND null event times: a NULL ts reaching the
      // stateful operator would NPE on ts.getTime and kill the whole
      // streaming query on one malformed record
      .where(col("key").isNotNull && col("ts").isNotNull)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), DupEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (prior, priorMaxTs) = state.getOption.getOrElse((0L, 0L))
            var batch = 0L
            var maxTs = priorMaxTs
            rows.foreach { case (_, ts) =>
              batch += 1
              if (ts.getTime > maxTs) maxTs = ts.getTime
            }
            val total = prior + batch
            state.update((total, maxTs))
            // evict when the watermark passes this key's LAST sighting plus
            // the retention delay — anchored to the key's own event time,
            // not the current watermark, so duplicates anywhere inside the
            // retention window are caught and first-batch keys (watermark
            // still 0) get a timeout too
            try state.setTimeoutTimestamp(maxTs, watermarkDelay)
            catch { case _: IllegalArgumentException =>
              // key's horizon already behind the watermark → evict ASAP
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
            }
            // occurrences prior+2 .. total are duplicates (the first
            // sighting of the key is occurrence 1 and stays silent)
            val firstDup = math.max(prior + 1, 2L)
            (firstDup to total).iterator.map(DupEvent(key, _))
          }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        Encoders.product[DupEvent])
  }

  /** Watermarked per-window verdicts of row-local checks: the batch
    * verdict shape (part, check, passed, violation_count, metric_value)
    * led by `window`, plus a `row_count` verdict per (window, part). One
    * evaluator serves batch and stream: this is
    * [[graft.checks.RowLocalCheck.Fused]] grouped by (window, part), so a
    * window's verdict is the check's batch `run` over that window's rows.
    * Every check's per-group aggregate (counters, KLL and frequency
    * sketches, Bloom probes) is mergeable, so it is the only state, bounded
    * by the watermark. Write it in update output mode: verdicts upsert per
    * (window, part). */
  def windowedVerdicts(stream: DataFrame, checks: Seq[RowLocalCheck],
                       tsCol: String, partCol: String,
                       windowDuration: String = "1 minute",
                       watermarkDelay: String = "2 minutes"): DataFrame = {
    val windowed = stream.withWatermark(tsCol, watermarkDelay)
      .withColumn("window", window(col(tsCol), windowDuration))
    val fused = new RowLocalCheck.Fused(checks, windowed, partCol, keys = Seq("window"))
    fused.verdicts(fused.aggregate(Seq(RowLocalCheck.rowCount)))
  }
}
