package graft.bench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.streaming.StreamingTrend
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType,
  TimestampType}

/** The trend math arriving as events: `rebinStream` writes finalized
  * hourly bins to a file sink, which `poissonLcStream` and
  * `mannKendallStream` (window 24) read as their source. The client drops
  * one hour of events into the source directory and waits until all three
  * queries have processed it, then sends the next hour.
  */
object TrendStream {
  val Layers = Seq("streaming.rebin", "streaming.lc", "streaming.mk")
  val EventSchema = StructType(Seq(StructField("ts", TimestampType),
    StructField("counter", StringType), StructField("count", DoubleType)))
  /** Timed chunks per pass, after the one the queries start with; fixed,
    * so every run streams the same input.
    */
  val TimedChunks = 4

  /** One rebin → {lc, mk} query chain rooted at `dir`. */
  final class Chain(c: Ctx, dir: String) {
    private val spark = c.spark
    val src = s"$dir/events"
    val sinks = Seq("bins", "lc", "mk").map(n => n -> s"$dir/$n").toMap
    var queries = Seq.empty[(String, StreamingQuery)]

    def start(): Unit = {
      Files.createDirectories(Paths.get(src))
      val events = spark.readStream.schema(EventSchema).parquet(src)
      def sink(name: String, df: org.apache.spark.sql.DataFrame): StreamingQuery =
        df.writeStream.format("parquet").outputMode("append")
          .option("path", sinks(name))
          .option("checkpointLocation", s"$dir/checkpoints/$name").start()
      val rebinned = StreamingTrend.rebinStream(events, "hours", 1)
      // the sink's metadata log exists once start() returns, so the
      // scorers below read only committed bins
      val q1 = sink("bins", rebinned)
      val bins = spark.readStream.schema(rebinned.schema).parquet(sinks("bins"))
      val q2 = sink("lc", StreamingTrend.poissonLcStream(bins, 0.99).toDF())
      val q3 = sink("mk", StreamingTrend.mannKendallStream(bins, Some(24)).toDF())
      queries = Seq("streaming.rebin" -> q1, "streaming.lc" -> q2, "streaming.mk" -> q3)
    }

    def feed(chunk: String): Unit = {
      Harness.copyAtomic(chunk, src)
      queries.foreach(_._2.processAllAvailable())
    }

    def stop(): Unit = queries.foreach(_._2.stop())

    /** Progress of every micro-batch that ran, by layer. */
    def progress: Seq[(String, StreamingQueryProgress)] = queries.flatMap { case (l, q) =>
      q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map(l -> _)
    }
  }

  def trigMs(p: StreamingQueryProgress): Double = p.durationMs.get("triggerExecution").toDouble
  def addMs(p: StreamingQueryProgress): Double = p.durationMs.get("addBatch").toDouble
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  def run(c: Ctx): Unit = {
    val spark = c.spark
    // one micro-batch per chunk and query: bins finalized by a chunk's
    // watermark are emitted with the next chunk instead of in an extra
    // no-data batch
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val chunks = new File(s"${c.input}/chunks").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    Harness.write(s"${c.work}/oracle-stream.json", Json(Map(
      "rebin" -> graft.trend.Rebin.oracleCtes("hours", 1),
      "lc" -> graft.trend.Models.poissonLcOracleCtes(0.99),
      "mk" -> graft.trend.MannKendall.windowedOracleCtes(24))))
    val chain = new Chain(c, s"${c.work}/stream")
    c.op("start", "stream") { chain.start(); chain.feed(chunks.head) }
    val before = chain.progress.count(_._1 == "streaming.rebin")
    val wallMs = chunks.slice(1, 1 + TimedChunks).map { ch =>
      val t0 = System.nanoTime()
      c.op("batch", "chunk")(chain.feed(ch))
      (System.nanoTime() - t0) / 1e6
    }
    val prog = chain.progress
    chain.stop()
    val rebins = prog.filter(_._1 == "streaming.rebin").drop(before).map(_._2)
    rebins.foreach(p => c.ops += (("write", "streaming.rebin", trigMs(p))))
    c.info("events_timed") = rebins.map(_.numInputRows).sum
    c.info("chunks_ms") = wallMs
    c.info("stream_input_bytes") =
      chunks.take(1 + TimedChunks).map(p => new File(p).length()).sum
    c.info("peak_state_bytes") = Layers.map(l => prog.filter(_._1 == l)
      .flatMap(_._2.stateOperators.map(_.memoryUsedBytes)).foldLeft(0L)(math.max)).sum
    c.info("stream_stored_bytes") =
      Harness.du(s"${c.work}/stream")._1 - Harness.du(chain.src)._1
    Seq("lc", "mk").foreach { n =>
      spark.read.parquet(chain.sinks(n)).write.mode("overwrite").parquet(c.out(s"stream_$n"))
    }
    if (c.trace) traced(c, chunks, wallMs.sum)
  }

  /** A fresh chain over the same chunks, with spans per chunk and per
    * micro-batch; the untraced time of the timed chunks is `untracedMs`.
    */
  private def traced(c: Ctx, chunks: Seq[String], untracedMs: Double): Unit = {
    val t = c.startTrace("traced-stream")
    val chain = new Chain(c, s"${c.work}/stream-traced")
    chain.start()
    chain.feed(chunks.head)
    Bus.drain(c.spark.sparkContext)
    val runIds = chain.queries.map(_._2.runId.toString)
    val before = runIds.map(r => r -> c.phys.byGroup.get(r).map(_.copy).getOrElse(new Phys)).toMap
    val t0 = System.nanoTime()
    chunks.slice(1, 1 + TimedChunks).foreach(ch => t.span("chunk")(chain.feed(ch)))
    val tracedMs = (System.nanoTime() - t0) / 1e6
    val prog = chain.progress
    chain.stop()
    Bus.drain(c.spark.sparkContext)
    val chunkSpans = t.all.filter(_.name == "chunk")
    Layers.foreach { layer =>
      val ps = prog.filter(_._1 == layer).map(_._2).filter(p => chunkSpans.exists(s =>
        startMs(p) >= s.startMs - 1 && startMs(p) <= s.endMs))
      val p = new Phys
      ps.map(_.runId.toString).distinct.foreach { r =>
        c.phys.byGroup.get(r).foreach(x => p += x.minus(before(r)))
      }
      var driverMs = 0.0
      ps.foreach { b =>
        val s0 = startMs(b)
        val parent = chunkSpans.find(s => s0 >= s.startMs - 1 && s0 <= s.endMs)
        t.record(layer, s0, s0 + trigMs(b), parent.fold(-1)(_.id))
        driverMs += math.max(0.0, trigMs(b) -
          c.phys.jobMillis(b.runId.toString, s0.toLong, (s0 + trigMs(b)).toLong + 1))
      }
      c.putLayer(layer, ps.map(trigMs).sum / 1000.0, p, driverMs / 1000.0)
      c.layers(s"$layer.batch_ms") = median(ps.map(trigMs))
      c.layers(s"$layer.overhead_ms") = median(ps.map(b => trigMs(b) - addMs(b)))
      val st = ps.flatMap(_.stateOperators)
      c.layers(s"$layer.state_rows") = st.map(_.numRowsTotal).foldLeft(0L)(math.max).toDouble
      c.layers(s"$layer.state_bytes") =
        st.map(_.memoryUsedBytes).foldLeft(0L)(math.max).toDouble
    }
    c.addOverhead((tracedMs - untracedMs) / 1000.0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
