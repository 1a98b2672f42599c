package graft.bench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: drives graft's public functions from outside the
  * program over generated inputs, one `local[n]` session per process, in
  * a closed loop with a single client.
  *
  *   Harness --workload W --input DIR --work DIR --seconds S --trace 0|1
  *           --launched-ms T
  *
  * It writes `result.json` (raw op timings and counters) and the
  * workload's outputs under the work directory; `graftbench/run.py` turns
  * those into metrics and checks the outputs against the DuckDB oracle.
  */
object Harness {
  /** Fresh sessions built after the cold start to sample set-up time. */
  val SetupRepeats = 4

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val launchedMs = a("launched-ms").toDouble
    val work = new File(a("work")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadAvg()
    var spark = session(cpus, work)
    ready(spark)
    // set-up is measured several times: the cold start of this process,
    // then fresh sessions in the warm JVM; the run reports the median
    // (a traced run reports no set-up time and skips the repeats)
    val traced = a("trace") == "1"
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - launchedMs) / 1000.0)
    (1 to (if (traced) 0 else SetupRepeats)).foreach { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      ready(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val phys = new PhysListener
    spark.sparkContext.addSparkListener(phys)
    val c = new Ctx(spark, phys, a("input"), work, a("seconds").toDouble, traced)
    c.info("setup_s") = setups.toSeq
    c.info("load_before") = loadBefore
    c.info("nproc") = cpus
    c.info("heap_max_mb") = Runtime.getRuntime.maxMemory() / (1 << 20)
    c.info("spark_version") = spark.version
    if (loadBefore > cpus / 2.0)
      System.err.println(f"[graftbench] WARNING: loadavg $loadBefore%.1f exceeds " +
        s"half the core count ($cpus): timings will overstate")
    a("workload") match {
      case "trend" =>
        TrendBatch.run(c)
        TrendStream.run(c)
      case "corpus-store" => CorpusStore.run(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Bus.drain(spark.sparkContext)
    c.info("load_after") = loadAvg()
    c.info("peak_task_exec_bytes") = phys.peakTaskExecBytes
    write(s"$work/spans.jsonl", c.tracers.flatMap(_.jsonLines).mkString("", "\n", "\n"))
    write(s"$work/result.json", c.resultJson)
    spark.stop()
  }

  def session(cpus: Int, work: String): SparkSession = {
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
  }

  /** Set-up ends once the session has run its first job. */
  private def ready(spark: SparkSession): Unit = spark.range(1).count()

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }

  /** Bytes and regular files under a directory, recursively. */
  def du(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }
  }

  def copyAtomic(src: String, dstDir: String): Unit = {
    val name = Paths.get(src).getFileName.toString
    val tmp = Paths.get(s"$dstDir/../.incoming-$name")
    Files.createDirectories(Paths.get(dstDir))
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(s"$dstDir/$name"), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** One run's state: the session, the clock, the op log and the tracer. */
final class Ctx(val spark: SparkSession, val phys: PhysListener,
                val input: String, val work: String, val seconds: Double,
                val trace: Boolean) {
  /** The current pass's tracer; disabled outside traced passes. */
  var tracer = untraced
  val tracers = mutable.ArrayBuffer.empty[Tracer]
  /** (kind, name, ms) of every timed operation. */
  val ops = mutable.ArrayBuffer.empty[(String, String, Double)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Map[String, Long]]
  var attempted = 0L
  var failed = 0L

  def untraced: Tracer = new Tracer(spark.sparkContext, "untraced", enabled = false)

  def startTrace(runId: String): Tracer = {
    tracer = new Tracer(spark.sparkContext, runId, enabled = true)
    tracers += tracer
    tracer
  }

  /** Traced minus untraced time of the same work, summed over passes. */
  def addOverhead(s: Double): Unit =
    layers("trace_overhead_s") = layers.getOrElse("trace_overhead_s", 0.0) + s

  def out(name: String): String = s"$work/out/$name"

  /** Times `body` as one operation of class `kind`; a throwing operation
    * counts as failed and the run goes on.
    */
  def op(kind: String, name: String)(body: => Any): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      ops += ((kind, name, (System.nanoTime() - t0) / 1e6))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] $kind/$name failed: $e")
        e.printStackTrace()
    }
  }

  /** Releases cached and checkpointed blocks between operations, outside
    * any timed region, so no operation pays for an earlier one's garbage.
    */
  def cleanup(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Per-layer counters of the traced run: self time, executor CPU, time
    * with no Spark job running, and task I/O, summed over the layer's
    * spans; deterministic counts go to `counts`.
    */
  def summarizeSpans(t: Tracer, layerNames: Seq[String]): Unit = {
    Bus.drain(spark.sparkContext)
    layerNames.foreach { layer =>
      val ss = t.all.filter(_.name == layer)
      val p = new Phys
      var driverMs = 0.0
      ss.foreach { s =>
        phys.byGroup.get(t.group(s.id)).foreach(p += _)
        driverMs += math.max(0.0, t.selfMs(s) -
          phys.jobMillis(t.group(s.id), s.startMs.toLong, math.ceil(s.endMs).toLong))
      }
      putLayer(layer, ss.map(t.selfMs).sum / 1000.0, p, driverMs / 1000.0)
    }
  }

  def putLayer(layer: String, busyS: Double, p: Phys, driverS: Double): Unit = {
    layers(s"$layer.busy_s") = busyS
    layers(s"$layer.cpu_s") = p.cpuNs / 1e9
    layers(s"$layer.driver_s") = driverS
    layers(s"$layer.shuffle_bytes") = (p.shuffleReadBytes + p.shuffleWriteBytes).toDouble
    layers(s"$layer.input_bytes") = p.inputBytes.toDouble
    layers(s"$layer.spill_bytes") = p.spillBytes.toDouble
    counts(layer) = p.counts
  }

  def resultJson: String = Json(Map(
    "attempted" -> attempted, "failed" -> failed,
    "ops" -> ops.map { case (k, n, ms) => Seq(k, n, ms) },
    "info" -> info, "layers" -> layers, "counts" -> counts))
}
