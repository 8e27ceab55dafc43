package idrbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Warehouse
import graft.pipelines._

/** Counts of the calls the benchmark made into the `io` layer. */
final class IoStats {
  var writes = 0L
  var writeNs = 0L
  var mergeNs = 0L
  var bytesWritten = 0L
  var filesWritten = 0L

  def copy(): IoStats = {
    val s = new IoStats
    s.writes = writes; s.writeNs = writeNs; s.mergeNs = mergeNs
    s.bytesWritten = bytesWritten; s.filesWritten = filesWritten
    s
  }
}

/** The library's [[Warehouse]] with each call wrapped in a span and counted.
  * Behaviour is the parent's: every override delegates to `super`. Sizes
  * of written tables are listed only while tracing. */
final class BenchWarehouse(spark: SparkSession, root: String, trace: Trace, val stats: IoStats)
    extends Warehouse(spark, root) {

  override def read(table: String): DataFrame =
    trace.span("io.warehouse.read", "io")(super.read(table))

  override def write(table: String, df: DataFrame): Unit = {
    stats.writes += 1
    val t0 = System.nanoTime()
    trace.span("io.warehouse.write", "io")(super.write(table, df))
    stats.writeNs += System.nanoTime() - t0
    if (trace.enabled) {
      val (b, f) = Fs.usage(Paths.get(path(table)))
      stats.bytesWritten += b
      stats.filesWritten += f
    }
  }

  override def merge(table: String, updates: DataFrame, keys: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    trace.span("io.warehouse.merge", "io")(super.merge(table, updates, keys))
    stats.mergeNs += System.nanoTime() - t0
  }
}

object Fs {
  /** (bytes, files) of the regular files under `p` (0 if absent). */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** Stage timings of one `Runner.runAll`, taken from the Runner's metrics
  * callback (it fires when a stage's write completes). */
final class StageClock {
  val byPipeline: scala.collection.mutable.Map[String, Double] =
    scala.collection.mutable.LinkedHashMap[String, Double]()
  val samples: scala.collection.mutable.ArrayBuffer[Double] = scala.collection.mutable.ArrayBuffer[Double]()
  var planCalls = 0L
  var planNs = 0L
  private var last = System.nanoTime()

  def start(): Unit = last = System.nanoTime()

  def onStage(m: StageMetrics): Unit = {
    val now = System.nanoTime()
    val s = (now - last) / 1e9
    last = now
    samples += s
    byPipeline(m.pipeline) = byPipeline.getOrElse(m.pipeline, 0.0) + s
  }
}

object Idr {

  val PipelineNames: Seq[String] =
    Seq("idr_load", "covid_transforms", "hts_transforms", "mmd_transforms", "vls_transforms")

  /** The reference's five DAGs over one lake, as the library defines them. */
  def pipelines(lake: IdrGen.Lake): Seq[Pipeline] = {
    val asOf = lit(IdrGen.AsOf.toString).cast("date")
    Seq(LoadPipeline.pipeline(lake.buckets), CovidPipeline.pipeline, HtsPipeline.pipeline,
      MmdPipeline.pipeline(asOf), VlsPipeline.pipeline(asOf))
  }

  /** Wraps each stage's plan function in a span and counts its calls; a
    * call beyond the stage's first is a Runner retry. */
  def instrument(ps: Seq[Pipeline], trace: Trace, clock: StageClock): Seq[Pipeline] =
    ps.map(p => p.copy(stages = p.stages.map(st => st.copy(run = (s, w) => {
      clock.planCalls += 1
      val t0 = System.nanoTime()
      try trace.span("pipelines.plan", "pipelines")(st.run(s, w))
      finally clock.planNs += System.nanoTime() - t0
    }))))

  def loadDims(spark: SparkSession, wh: Warehouse, lake: IdrGen.Lake): Unit = {
    wh.write("MFL_Codes", graft.io.Lake.readParquet(spark, lake.mfl))
    wh.write("hub_details", graft.io.Lake.readParquet(spark, lake.hub))
  }

  /** Dimensions plus `Runner.runAll` over all five pipelines into `wh`. */
  def rebuild(spark: SparkSession, wh: Warehouse, lake: IdrGen.Lake, trace: Trace,
              clock: StageClock): Unit = {
    loadDims(spark, wh, lake)
    val runner = new Runner(spark, wh, onMetrics = clock.onStage)
    val ps = instrument(pipelines(lake), trace, clock)
    clock.start()
    trace.span("pipelines.runAll", "pipelines")(runner.runAll(ps))
  }

  /** Failed checks of a full rebuild against the generator's truth. */
  def checkRebuild(wh: Warehouse, t: IdrTruth): Seq[String] = {
    val covid = wh.read("covid")
    val hts = wh.read("hts_summary_counts").collect().toSeq.map(_.toSeq.map {
      case null => 0L
      case n: Number => n.longValue()
      case other => throw new IllegalStateException(s"hts_summary_counts value $other")
    })
    Seq(
      "covid rows" -> (covid.count(), t.covidRows),
      "covid booster rows" -> (covid.filter(col("Vaccination_Final_Status") === "Booster Shot").count(), t.covidBooster),
      "art_mmd rows" -> (wh.read("art_mmd").count(), t.artRows),
      "vls rows" -> (wh.read("vls").count(), t.vlsRows)
    ).collect { case (name, (got, want)) if got != want => s"$name: got $got, want $want" } ++
      (if (hts == Seq(t.htsCounts)) Nil else Seq(s"hts_summary_counts: got $hts, want ${t.htsCounts}"))
  }

  /** County dashboards: each is one read of the warehouse for one county. */
  val Dashboards: Seq[String] = Seq("art_tx_curr", "vls_results", "covid_status", "hts_entry")

  def dashboard(wh: Warehouse, name: String, county: String): Array[Row] = name match {
    case "art_tx_curr" =>
      wh.read("art_mmd").filter(col("county_name") === county)
        .groupBy("CurrentOnTreatment").count().collect()
    case "vls_results" =>
      val v = wh.read("vls")
      val m = wh.read("MFL_Codes")
      v.join(m, m("SiteCode") === v("SiteCode").cast("long"))
        .filter(m("county_name") === county)
        .groupBy(v("vl_test_result") === "LDL").count().collect()
    case "covid_status" =>
      wh.read("covid").filter(col("county_name") === county)
        .groupBy("Vaccination_Final_Status").count().collect()
    case "hts_entry" =>
      wh.read("hts").filter(col("county_name") === county)
        .groupBy("entrypointclean3").count().collect()
  }
}
