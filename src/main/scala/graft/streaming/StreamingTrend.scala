package graft.streaming

import graft.functions.{PoissonCi, Rounding}
import graft.trend.{MannKendall, SeriesTransforms}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** Structured-Streaming variant of the trend pipeline (SURVEY.md §2.7,
  * build-plan module 10). The reference's models are point-by-point by
  * design ("each model to get updated point-by-point", README.md:163-166),
  * so the streaming mapping is direct:
  *
  *  - rebin ⇒ tumbling event-time windows + watermark: the uniform grid IS
  *    `window(ts, binSec)`; proportional splitting of straddling input
  *    intervals is a batch-only concern (streaming input is per-event
  *    rows, which never straddle a bin), and densify/zero-trim are
  *    meaningless over an unbounded stream — untouched bins simply never
  *    materialize;
  *  - the analyze scan ⇒ `flatMapGroupsWithState` keyed by counter, whose
  *    state is exactly the reference model's mutable members (Poisson lc:
  *    the previous bin's count, models.py:274-282).
  *
  * The two stages are separate streaming jobs composed through a sink
  * (parquet/Kafka/memory), mirroring the reference's stage files — Spark
  * disallows a row-level stateful operator downstream of a windowed
  * aggregation in one query, and the checkpoint boundary is where the
  * reference's CSV handoff sat anyway.
  *
  * Scale: both stages shuffle once on `counter`; state per key is O(1)
  * (one double) for the scorer and one window aggregate per open bin for
  * rebin, bounded by watermark slack × counters, independent of event
  * volume.
  */
object StreamingTrend {

  final case class Binned(counter: String, ts: java.sql.Timestamp,
                          duration_sec: Double, count: Double)
  final case class Scored(counter: String, ts: java.sql.Timestamp,
                          count: Double, eta: Double)
  /** Scorer state: epoch micros + count of the latest bin folded in. */
  final case class LcState(lastTsUs: Long, lastCount: Double)
  /** Cycle-mode state: per period-key running (num, denom) accumulators —
    * exactly the reference's periodic_data dict (models.py:284-298); size
    * bounded by the period-key cardinality (e.g. 24 for hour-of-day).
    */
  final case class CycleState(lastTsUs: Long, keys: Map[String, (Double, Long)])
  /** Count-buffer state for MK / WDT: the trailing window (bounded when a
    * window/reference length applies; otherwise the series so far, which
    * is bounded by grid bins, not event volume).
    */
  final case class BufState(lastTsUs: Long, counts: List[Double], runsum: Double)

  private val unitSeconds = Map(
    "minutes" -> 60L, "hours" -> 3600L, "days" -> 86400L, "weeks" -> 604800L)

  /** Tumbling-window streaming rebin over per-event rows
    * (ts, counter[, count]); emits finalized bins (append mode) once the
    * watermark passes the bin end.
    *
    * Grid alignment: batch Rebin anchors each counter's grid at
    * date_trunc(unit, min ts) — a DATA-DEPENDENT origin that a stateless
    * streaming groupBy cannot know. For single-unit bins the two coincide:
    * every unit-truncated instant is a fixed offset from the epoch grid,
    * PROVIDED the session zone's UTC offset is constant. Spark's window()
    * aligns to the epoch in UTC while batch date_trunc works in the
    * session zone, so the window startTime below shifts the grid by the
    * zone offset (weeks also get the epoch-Thursday → Monday shift). A
    * DST zone has no fixed offset — its local 'days' cannot be an
    * epoch-periodic window — so non-fixed zones are rejected loudly
    * rather than silently diverging from batch.
    *
    * nUnit > 1 grids start at the per-counter truncated MIN ts
    * (data-dependent): compose this single-unit stream with
    * [[coarsenStream]] (separate stage, like the scorers) instead.
    */
  def rebinStream(events: DataFrame, binningUnit: String = "hours",
                  nUnit: Int = 1, watermarkSlack: String = "0 seconds"): DataFrame = {
    require(nUnit == 1,
      "streaming rebin supports single-unit bins only: batch grids for " +
        "nUnit > 1 start at the per-counter truncated min ts, which is " +
        "data-dependent — compose rebinStream(nUnit=1) with coarsenStream")
    val binSec = unitSeconds(binningUnit) * nUnit
    val zoneOffSec = fixedZoneOffsetSec(events.sparkSession)
    // date_trunc('week') is Monday-aligned; the epoch is a Thursday
    val baseOff = if (binningUnit == "weeks") 345600L else 0L
    val startSec = java.lang.Math.floorMod(baseOff - zoneOffSec, binSec)
    val withCount =
      if (events.columns.contains("count")) events else events.withColumn("count", lit(1.0))
    withCount
      .withWatermark("ts", watermarkSlack)
      .groupBy(col("counter"),
        window(col("ts"), s"$binSec seconds", s"$binSec seconds", s"$startSec seconds"))
      .agg(sum("count").as("fcount"))
      .select(col("counter"), col("window.start").as("ts"),
        lit(binSec.toDouble).as("duration_sec"),
        Rounding.stableIntTrunc(col("fcount")).as("count"))
  }

  /** The session zone's constant UTC offset in seconds; rejects DST zones
    * loudly — their wall-clock grids are not epoch-periodic, so batch
    * date_trunc and streaming window() could not agree silently.
    */
  private def fixedZoneOffsetSec(spark: org.apache.spark.sql.SparkSession): Long = {
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    require(zone.getRules.isFixedOffset,
      s"streaming rebin requires a fixed-offset session timezone (got $zone): " +
        "a DST zone's local bin grid is not expressible as an epoch-aligned " +
        "tumbling window — set spark.sql.session.timeZone to UTC or a " +
        "fixed offset")
    zone.getRules.getOffset(java.time.Instant.EPOCH).getTotalSeconds.toLong
  }

  /** Coarsen-state per counter: grid origin (unit-truncated MIN seen ts)
    * and the open single-unit bins (ts → count). Keeping unit-level
    * granularity (not pre-summed coarse bins) lets the origin re-anchor
    * downward when bounded disorder delivers an earlier bin after a later
    * one, and makes redelivery idempotent (same ts overwrites with the
    * same finalized count).
    */
  final case class CoarseState(originUs: Long, openUnit: Map[Long, Double])

  /** Stateful nUnit-coarsening of a finalized single-unit bin stream —
    * the streaming analogue of the batch nUnit > 1 grid (so the
    * walkthrough's 2-hour-bin config runs end-to-end streaming). Keyed
    * state resolves the data-dependent origin exactly like batch Rebin:
    * origin = date_trunc(unit, first-seen ts) per counter.
    *
    * Emission is PURELY watermark-driven: a coarse bin
    * [origin + i·n·unit, origin + (i+1)·n·unit) is emitted once the
    * watermark passes its end (checked on every data arrival and via
    * event-time timeout). Because the watermark also gates Spark's
    * late-row filter, no row for an already-emitted bin can ever be
    * delivered — bounded out-of-order input within the slack lands in a
    * still-open bin, never in a finalized one. The origin is the
    * unit-truncation of the MINIMUM ts seen; an earlier bin arriving
    * after a later one (within the slack) re-anchors it downward, which
    * is safe because coarse indexes are assigned only at emission time,
    * and once anything has been emitted the late filter makes
    * below-origin arrivals impossible. Duplicate redelivery
    * (at-least-once sinks) overwrites the same (ts, count) entry —
    * idempotent by construction. State per key is the open unit bins:
    * O(coarse window + slack, in units), independent of stream length.
    *
    * Runs as its own stage over the single-unit sink, exactly like the
    * scorers (Spark disallows row-stateful ops under a windowed agg in
    * one query).
    *
    * Watermark slack defaults to ONE upstream unit: upstream finalizes all
    * keys' hour-h bins in the same micro-batch, but if a replay or
    * repartition interleaves keys across batches, a bin whose ts equals
    * this stage's watermark would be dropped as late — one unit of slack
    * absorbs any single-batch interleaving.
    */
  def coarsenStream(binned: DataFrame, binningUnit: String, nUnit: Int,
                    watermarkSlack: Option[String] = None): Dataset[Binned] = {
    require(nUnit >= 1, "nUnit must be positive")
    val spark = binned.sparkSession
    import spark.implicits._
    val slack = watermarkSlack.getOrElse(s"${unitSeconds(binningUnit)} seconds")
    val unitUs = unitSeconds(binningUnit) * 1000000L
    val coarseUs = unitUs * nUnit
    val binSecOut = (unitSeconds(binningUnit) * nUnit).toDouble
    val zoneOffUs = fixedZoneOffsetSec(spark) * 1000000L
    val weekOffUs = if (binningUnit == "weeks") 345600L * 1000000L else 0L
    // unit-truncation in the session zone, µs domain (batch date_trunc twin)
    def truncUs(tsUs: Long): Long = {
      val local = tsUs + zoneOffUs - weekOffUs
      java.lang.Math.floorDiv(local, unitUs) * unitUs - zoneOffUs + weekOffUs
    }
    def emit(counter: String, originUs: Long, idx: Long, accum: Double): Binned =
      Binned(counter, new java.sql.Timestamp((originUs + idx * coarseUs) / 1000L),
        binSecOut, Rounding.stableIntTruncScalar(accum))
    binnedOf(binned)
      .withWatermark("ts", slack)
      .groupByKey(_.counter)
      .flatMapGroupsWithState[CoarseState, Binned](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (counter, rows, state: GroupState[CoarseState]) =>
          var st = state.getOption.getOrElse(CoarseState(Long.MinValue, Map.empty))
          // fold arrivals (none on a pure timeout invocation): overwrite
          // by ts — upstream bins are finalized, so redelivery is a no-op;
          // a ts below the current origin re-anchors it (emission hasn't
          // touched anything below the watermark yet, see docstring)
          rows.foreach { b =>
            val tsUs = b.ts.getTime * 1000L
            val origin =
              if (st.originUs == Long.MinValue || truncUs(tsUs) < st.originUs) truncUs(tsUs)
              else st.originUs
            st = CoarseState(origin, st.openUnit.updated(tsUs, b.count))
          }
          // emit every coarse bin whose end the watermark has passed; rows
          // for those bins are now behind the late filter, so finalized
          // bins can never receive data again
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (done, stillOpen) = st.openUnit.partition { case (tsUs, _) =>
            val idx = java.lang.Math.floorDiv(tsUs - st.originUs, coarseUs)
            st.originUs + (idx + 1) * coarseUs <= wmUs
          }
          val out = done.toSeq
            .groupBy { case (tsUs, _) => java.lang.Math.floorDiv(tsUs - st.originUs, coarseUs) }
            .toSeq.sortBy(_._1)
            .map { case (idx, bins) =>
              // ts-ordered summation: deterministic even for fractional counts
              emit(counter, st.originUs, idx, bins.sortBy(_._1).map(_._2).sum)
            }
          st = st.copy(openUnit = stillOpen)
          state.update(st)
          if (st.openUnit.nonEmpty) {
            // wake when the watermark passes the oldest open coarse end
            val minIdx = st.openUnit.keys
              .map(t => java.lang.Math.floorDiv(t - st.originUs, coarseUs)).min
            state.setTimeoutTimestamp((st.originUs + (minIdx + 1) * coarseUs) / 1000L)
          }
          out.iterator
      }
  }

  /** A finalized bin stream cast to [[Binned]] — every stateful stage's input. */
  private def binnedOf(binned: DataFrame): Dataset[Binned] = {
    import binned.sparkSession.implicits._
    binned.selectExpr("counter", "ts", "CAST(duration_sec AS DOUBLE) AS duration_sec",
      "CAST(count AS DOUBLE) AS count").as[Binned]
  }

  /** The keyed in-order scan every point-by-point scorer runs: per
    * counter, the arriving bins in ts order, minus those at or before the
    * state's `lastTsUs` (out-of-order bins older than the folded state —
    * the upstream watermark makes them impossible in the composed
    * pipeline), each folded by `step(state, bin, binTsUs)` into the next
    * state — which must record `binTsUs` as its `lastTsUs` — and the
    * bin's eta; the last state is stored once per trigger.
    */
  private def scoreInOrder[S <: Product : TypeTag](binned: DataFrame, init: S)(
      lastTsUs: S => Long)(step: (S, Binned, Long) => (S, Double)): Dataset[Scored] = {
    val spark = binned.sparkSession
    import spark.implicits._
    binnedOf(binned)
      .groupByKey(_.counter)
      .flatMapGroupsWithState[S, Scored](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (counter, rows, state: GroupState[S]) =>
          var st = state.getOption.getOrElse(init)
          val out = rows.toArray.sortBy(_.ts.getTime).iterator
            .filter(_.ts.getTime * 1000L > lastTsUs(st))
            .map { b =>
              val (next, eta) = step(st, b, b.ts.getTime * 1000L)
              st = next
              Scored(counter, b.ts, b.count, Rounding.trim2Scalar(eta))
            }.toVector
          state.update(st)
          out.iterator
      }
  }

  /** The Poisson models' eta: |x − mean| in units of the `alpha` CI
    * width; 0 with no (or a zero) mean (models.py:306) or a zero width.
    */
  private def poissonEta(alpha: Double, x: Double, mean: Double): Double =
    if (mean <= 0.0) 0.0
    else {
      val w = PoissonCi.width(alpha, mean)
      if (w == 0.0) 0.0 else math.abs(x - mean) / w
    }

  /** Stateful point-by-point Poisson-lc scorer over a stream of finalized
    * bins: the background mean is the previous bin's count.
    */
  def poissonLcStream(binned: DataFrame, alpha: Double = 0.99): Dataset[Scored] =
    scoreInOrder(binned, LcState(Long.MinValue, -1.0))(_.lastTsUs) { (st, b, tsUs) =>
      (LcState(tsUs, b.count), poissonEta(alpha, b.count, st.lastCount))
    }

  /** Generic buffer-state scorer: folds each finalized bin into the
    * per-counter count buffer (trimmed to `keep` when bounded) and scores
    * it with `etaOf(buffer, runsum)`.
    */
  private def bufferedScorer(binned: DataFrame, keep: Option[Int])(
      etaOf: (List[Double], Double) => Double): Dataset[Scored] =
    scoreInOrder(binned, BufState(Long.MinValue, Nil, 0.0))(_.lastTsUs) { (st, b, tsUs) =>
      val grown = st.counts :+ b.count
      val kept = keep.fold(grown)(k => grown.takeRight(k))
      val next = BufState(tsUs, kept, st.runsum + b.count)
      (next, etaOf(kept, next.runsum))
    }

  /** Stateful Mann-Kendall scorer: z over the (windowed) count history at
    * every bin. State is the trailing `windowSize` counts when given,
    * else the whole series so far (bounded by grid bins). Per-update cost
    * is O(|buffer|²) — the streaming analogue of the reference's
    * per-point recompute; the batch path keeps its O(n log n) Fenwick.
    */
  def mannKendallStream(binned: DataFrame,
                        windowSize: Option[Int] = None): Dataset[Scored] =
    bufferedScorer(binned, windowSize) { (buf, _) =>
      MannKendall.windowZ(buf.toArray)
    }

  /** Stateful WeightedDataTemplates scorer: the trailing referenceLength
    * counts (bounded state) scored against the broadcast library with the
    * exact batch kernel, including the warm-up gates (models.py:158-161).
    */
  def wdtStream(binned: DataFrame, library: Array[(Boolean, Array[Double])],
                cfg: graft.trend.SeriesTransforms.Config): Dataset[Scored] = {
    val libB = binned.sparkSession.sparkContext.broadcast(library)
    bufferedScorer(binned, Some(cfg.referenceLength)) { (buf, runsum) =>
      if (buf.length < cfg.referenceLength || runsum == 0.0) 0.0
      else graft.trend.Wdt.windowEta(buf.toArray, libB.value, cfg)
    }
  }

  /** LinReg scorer state: row counter, the trailing `avgWindow` raw
    * counts, and either the Welford/co-moment accumulators (expanding
    * regression) or the trailing `regWindow` averaged values (bounded
    * regression, recomputed per row exactly like Spark's sliding frame).
    */
  final case class LinRegState(lastTsUs: Long, rn: Long,
                               recent: List[Double], avgBuf: List[Double],
                               n: Long, xAvg: Double, yAvg: Double,
                               ck: Double, xM2: Double, ySum: Double)

  /** Stateful linear-regression scorer, bit-identical to the batch
    * `Models.linReg`: the accumulators replicate Spark's Covariance /
    * CentralMomentAgg / Average update order over rows in ts order, so
    * expanding-frame results match exactly; bounded regression windows
    * recompute over the buffer in frame order like a sliding
    * WindowFunctionFrame does.
    */
  def linRegStream(binned: DataFrame, minPoints: Int, avgWindow: Int = 1,
                   regWindow: Option[Int] = None,
                   normByMean: Boolean = false): Dataset[Scored] =
    scoreInOrder(binned,
        LinRegState(Long.MinValue, 0L, Nil, Nil, 0L, 0.0, 0.0, 0.0, 0.0, 0.0))(
        _.lastTsUs) { (st, b, tsUs) =>
      val rn = st.rn + 1
      val recent = (st.recent :+ b.count).takeRight(avgWindow)
      // Average agg over the trailing frame: ordered sum, then /count
      val averaged =
        if (rn >= avgWindow) recent.foldLeft(0.0)(_ + _) / avgWindow.toDouble
        else 0.0
      val x = rn.toDouble
      val (slope, meanY, st2) = regWindow match {
        case None =>
          // expanding frame: one Welford/co-moment step per row
          val n2 = st.n + 1
          val dx = x - st.xAvg
          val dxN = dx / n2
          val dy = averaged - st.yAvg
          val dyN = dy / n2
          val xAvg2 = st.xAvg + dxN
          val yAvg2 = st.yAvg + dyN
          val ck2 = st.ck + dx * (averaged - yAvg2)
          val xM22 = st.xM2 + dx * (x - xAvg2)
          val ySum2 = st.ySum + averaged
          val sl = (ck2 / n2) / (xM22 / n2)
          (sl, ySum2 / n2, st.copy(n = n2, xAvg = xAvg2, yAvg = yAvg2,
            ck = ck2, xM2 = xM22, ySum = ySum2))
        case Some(w) =>
          // sliding frame: recompute over the buffer in frame order
          val buf = (st.avgBuf :+ averaged).takeRight(w)
          var (n2, xa, ya, ck2, m2, ys) = (0L, 0.0, 0.0, 0.0, 0.0, 0.0)
          var xi = x - buf.length + 1
          buf.foreach { y =>
            n2 += 1
            val dx = xi - xa
            val dy = y - ya
            xa += dx / n2
            ya += dy / n2
            ck2 += dx * (y - ya)
            m2 += dx * (xi - xa)
            ys += y
            xi += 1
          }
          ((ck2 / n2) / (m2 / n2), ys / n2, st.copy(avgBuf = buf))
      }
      val slopeNormed = if (normByMean) slope / meanY else slope
      val eta =
        if (rn >= minPoints && math.abs(slopeNormed) >= 1e-12) slopeNormed
        else 0.0
      (st2.copy(lastTsUs = tsUs, rn = rn, recent = recent), eta)
    }

  /** Stateful cycle-mode Poisson scorer: the background mean is the
    * running average of counts sharing the current bin's period key,
    * INCLUDING the current point (models.py:284-298). Period keys are
    * evaluated in the SESSION timezone — the same zone batch
    * `hour(ts)`/`dayofmonth(ts)` use — so streaming and batch agree in
    * any deployment, not just UTC sessions.
    */
  def poissonCycleStream(binned: DataFrame, alpha: Double = 0.99,
                         periodList: Seq[String] = Seq("hour")): Dataset[Scored] = {
    val zone = java.time.ZoneId.of(binned.sparkSession.sessionState.conf.sessionLocalTimeZone)
    def pkey(ts: java.sql.Timestamp): String = {
      val t = ts.toInstant.atZone(zone)
      periodList.map {
        case "hour" => t.getHour.toString
        case "day" => t.getDayOfMonth.toString
        case "month" => t.getMonthValue.toString
        case "minute" => t.getMinute.toString
        case "second" => t.getSecond.toString
        case "year" => t.getYear.toString
        // Monday = 0 .. Sunday = 6, like batch Models.periodKey
        case "weekday" => (t.getDayOfWeek.getValue - 1).toString
        case p => throw new IllegalArgumentException(s"unsupported period attr $p")
      }.mkString(":")
    }
    scoreInOrder(binned, CycleState(Long.MinValue, Map.empty))(_.lastTsUs) { (st, b, tsUs) =>
      val k = pkey(b.ts)
      val (num, denom) = st.keys.getOrElse(k, (0.0, 0L))
      val (n2, d2) = (num + b.count, denom + 1)
      (CycleState(tsUs, st.keys.updated(k, (n2, d2))), poissonEta(alpha, b.count, n2 / d2))
    }
  }
}
