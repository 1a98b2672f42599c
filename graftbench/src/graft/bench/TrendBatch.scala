package graft.bench

import java.io.File

import scala.io.Source

import graft.Tables
import graft.pipeline.{IniConfig, Pipeline}
import graft.sources.Csv
import graft.trend.{Detect, MannKendall, Models => M, Rebin, SeriesTransforms, Wdt}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The reference's many-counter flow (trend_analyze_many.py): one
  * iteration is `Pipeline.runMany` (CSV → rebin → bucketed intermediate →
  * Poisson-lc), a WDT library rebuild from the labeled counters, then
  * cycle-Poisson, LinReg, Mann-Kendall and WDT over `Tables.loadBinned`,
  * each followed by `Detect`. Iterations repeat until the run's time is up.
  */
object TrendBatch {
  val Models = Seq("poisson_cycle", "linreg", "mk", "wdt")
  /** Detection thresholds per model; each passes a share of the points. */
  val Theta = Map("poisson_cycle" -> 1.0, "linreg" -> 1.0, "mk" -> 2.0, "wdt" -> 1.0)
  val WdtCfg = SeriesTransforms.Config(seriesLength = 12, referenceLength = 24,
    nSmooth = 2, baselineOffset = 6, lambda = 0.1)
  val Layers = Seq("sources.csv", "trend.rebin", "trend.store", "trend.poisson_lc",
    "trend.poisson_cycle", "trend.linreg", "trend.mk", "trend.wdt", "trend.detect")

  def config(model: String, libPath: String): IniConfig.Config = {
    val rebin = "rebin" -> Map("binning_unit" -> "hours", "n_binning_unit" -> "1")
    val (name, params) = model match {
      case "poisson_lc" => "Poisson" -> Map("alpha" -> "0.99", "mode" -> "lc")
      case "poisson_cycle" => "Poisson" -> Map("alpha" -> "0.99", "mode" -> "a",
        "period_list" -> "hour")
      case "linreg" => "LinearRegressionModel" -> Map("min_points" -> "10",
        "averaging_window_size" -> "3")
      case "mk" => "MannKendall" -> Map.empty[String, String]
      case "wdt" => "WeightedDataTemplates" -> Map(
        "series_length" -> WdtCfg.seriesLength.toString,
        "reference_length" -> WdtCfg.referenceLength.toString,
        "n_smooth" -> WdtCfg.nSmooth.toString,
        "baseline_offset" -> WdtCfg.baselineOffset.toString,
        "lambda" -> WdtCfg.lambda.toString,
        "library_file_name" -> libPath)
    }
    Map(rebin, "analyze" -> Map("model_name" -> name), s"${name}_model" -> params)
  }

  /** Runs iterations for the run's seconds, at least one. */
  def run(c: Ctx): Unit = {
    val spark = c.spark
    val csv = new File(s"${c.input}/csv").listFiles().map(_.getPath).filter(_.endsWith(".csv"))
      .sorted.toSeq
    val lib = Source.fromFile(s"${c.input}/library.csv").getLines().toSeq
      .map(_.split(",")).map(a => a(0) -> a(1).toBoolean)
    val libAll = lib.map(_._1)
    val libTrend = lib.filter(_._2).map(_._1)
    val inter = s"${c.work}/store/binned"
    val libPath = s"${c.work}/store/library"
    val isTrendSql = libTrend.map(n => s"'$n'").mkString("counter IN (", ", ", ")")
    Harness.write(s"${c.work}/oracle-batch.json", Json(Map(
      "rebin" -> Rebin.oracleCtes("hours", 1),
      "poisson_lc" -> M.poissonLcOracleCtes(0.99),
      "poisson_cycle" -> M.poissonCycleOracleCtes(0.99),
      "linreg" -> M.linRegOracleCtes(minPoints = 10, avgWindow = 3),
      "mk" -> MannKendall.oracleCtes,
      "wdt" -> Wdt.oracleCtes(isTrendSql, WdtCfg),
      "theta" -> Theta, "library" -> libAll)))

    def rebuildLibrary(binned: DataFrame): Unit =
      Wdt.saveLibrary(Wdt.buildLibrary(binned.where(col("counter").isin(libAll: _*)),
        col("counter").isin(libTrend: _*), WdtCfg), libPath)

    def iteration(): Unit = {
      c.op("build", "runMany") {
        Pipeline.runMany(spark, config("poisson_lc", libPath), csv, inter)
          .write.mode("overwrite").parquet(c.out("poisson_lc"))
      }
      c.op("maintain", "library") { rebuildLibrary(Tables.loadBinned(spark, inter)) }
      Models.foreach { m =>
        c.op("serve", m) {
          Pipeline.detect(Pipeline.analyze(Tables.loadBinned(spark, inter),
            config(m, libPath)), Theta(m))
            .write.mode("overwrite").parquet(c.out(m))
        }
      }
    }

    // the traced twin: every layer's input is persisted first and its
    // output materialized inside the layer's span
    def tracedIteration(): Unit = {
      val t = c.tracer
      def cached(layer: String)(df: => DataFrame): DataFrame = t.span(layer) {
        val d = df.persist()
        c.materialize(d)
        d
      }
      t.span("iteration") {
        val raw = cached("sources.csv")(Csv.readCounts(spark, csv, quoteNone = true))
        val binned = cached("trend.rebin")(Pipeline.rebin(raw, config("poisson_lc", libPath)))
        val stored = cached("trend.store") {
          Tables.saveBinned(binned, inter)
          Tables.loadBinned(spark, inter)
        }
        cached("trend.poisson_lc")(Pipeline.analyze(stored, config("poisson_lc", libPath)))
        t.span("trend.wdt")(rebuildLibrary(stored))
        Models.foreach { m =>
          val scored = cached(s"trend.$m")(Pipeline.analyze(stored, config(m, libPath)))
          t.span("trend.detect")(c.materialize(Detect(scored, Theta(m))))
        }
      }
      c.cleanup()
    }

    val iterMs = collection.mutable.ArrayBuffer.empty[Double]
    def timedIteration(): Unit = {
      val t0 = System.nanoTime()
      iteration()
      iterMs += (System.nanoTime() - t0) / 1e6
      c.cleanup()
    }
    if (c.trace) {
      // traced first, in the colder JVM, then one plain iteration whose
      // outputs the gate checks; the overhead therefore leans high
      c.startTrace("traced-batch")
      val t0 = System.nanoTime()
      tracedIteration()
      val tracedMs = (System.nanoTime() - t0) / 1e6
      c.summarizeSpans(c.tracer, Layers)
      c.tracer = c.untraced
      timedIteration()
      c.addOverhead((tracedMs - iterMs.last) / 1000.0)
    } else {
      val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
      timedIteration()
      while (System.nanoTime() < deadline) timedIteration()
    }
    c.info("iterations_ms") = iterMs.toSeq
    c.info("batch_stored_bytes") = Harness.du(s"${c.work}/store")._1
  }
}
