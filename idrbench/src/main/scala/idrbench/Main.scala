package idrbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * One process, one client, a closed loop: each call waits for the previous
  * one. Spark runs `local[<cores>]`. Progress and the named metrics go to
  * stdout; the last stdout line is the JSON result.
  */
object Main {

  val Workloads: Seq[String] = Seq("idr_day", "corpus_prep")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "write_s_p50" -> "s", "write_s_tail" -> "s",
    "read_s_p50" -> "s", "read_s_tail" -> "s", "stored_bytes_ratio" -> "ratio")

  val PerLayer: Seq[(String, String)] =
    Idr.PipelineNames.map(p => s"pipelines.stage_s.$p" -> "s") ++ Seq(
      "pipelines.plan_s" -> "s", "pipelines.stages" -> "count", "pipelines.retries" -> "count",
      "io.warehouse.write_s" -> "s", "io.warehouse.writes" -> "count",
      "io.warehouse.bytes_written" -> "bytes", "io.warehouse.files_written" -> "count",
      "io.warehouse.merge_s" -> "s", "io.warehouse.merge_write_amp" -> "ratio",
      "io.warehouse.read_calls" -> "count", "io.warehouse.bytes_read" -> "bytes",
      "streaming.ingest_s" -> "s", "streaming.batches" -> "count", "streaming.rows_in" -> "count",
      "text.quality_s" -> "s", "text.docs_kept" -> "count",
      "dedup.exact_s" -> "s", "dedup.neardup_s" -> "s", "dedup.cluster_s" -> "s",
      "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count", "dedup.pair_yield" -> "ratio",
      "dedup.variant_recall" -> "ratio",
      "sim.semdedup_s" -> "s", "sim.pairs" -> "count",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.slot_idle_frac" -> "ratio", "spark.task_skew" -> "ratio", "spark.persisted_rdds" -> "count",
      "self_s.client" -> "s", "self_s.pipelines" -> "s", "self_s.io" -> "s", "self_s.streaming" -> "s",
      "self_s.text" -> "s", "self_s.dedup" -> "s", "self_s.sim" -> "s",
      "trace.overhead_s" -> "s", "trace.spans" -> "count", "heap_peak_gb" -> "GB")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, scale: Scale)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work")).toAbsolutePath, Scale.full)
    require(Workloads.contains(o.workload), s"unknown workload '${o.workload}' (${Workloads.mkString("|")})")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  private def say(s: String): Unit = println(s"[idrbench] $s")

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) throw new IllegalStateException(s"metric is $x") else x.toString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val tStart = System.nanoTime()
    val spark = Session.start(o.work, cores)
    val sessionS = (System.nanoTime() - tStart) / 1e9
    try run(o, spark, cores, sessionS)
    finally spark.stop()
  }

  def run(o: Opts, spark: org.apache.spark.sql.SparkSession, cores: Int, sessionS: Double): Unit = {
    val scale = o.scale
    val runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    val trace = new Trace(spark.sparkContext, runId)
    val w: Workload = o.workload match {
      case "idr_day" => new IdrDay(spark, o.work, o.seed, scale, trace, o.seconds)
      case "corpus_prep" => new CorpusPrep(spark, o.work, o.seed, scale, trace, o.seconds)
    }
    say(s"workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0} " +
      s"cores=$cores master=local[$cores] clients=1 loop=closed")

    val tGen = System.nanoTime()
    w.generate()
    say(f"generated input in ${(System.nanoTime() - tGen) / 1e9}%.2f s: ${w.inputDesc}")

    val tSetUp = System.nanoTime()
    w.setUp()
    val setUpS = (System.nanoTime() - tSetUp) / 1e9
    val setupS = sessionS + setUpS

    val heap = new HeapSampler
    heap.start()
    var attempted = 0L
    var failed = 0L
    def runUnit(i: Int, on: Boolean, core: Boolean): Option[(Double, UnitLog)] = {
      val log = new UnitLog
      trace.enable(on)
      val t0 = System.nanoTime()
      try {
        val wall = w.unit(i, log, core)
        if (on) log.layers ++= sparkLayers(trace, (System.nanoTime() - t0) / 1e9, cores)
        Some((wall, log))
      } catch {
        case e: Exception =>
          log.attempted += 1
          log.failures += s"unit $i failed: $e"
          e.printStackTrace()
          None
      } finally {
        trace.enable(false)
        attempted += log.attempted
        failed += math.min(log.attempted, log.failures.size.toLong)
        log.failures.foreach(f => System.err.println(s"[idrbench] check failed: $f"))
      }
    }
    // An untraced run measures one full unit, cold, the way a daily batch
    // starts in a fresh process. A traced run warms up with an untraced
    // core, then runs the traced full unit and one more untraced core, so
    // the tracing overhead compares two warm cores.
    val (measured, reference) =
      if (!o.trace) (runUnit(1, on = false, core = false), None)
      else {
        runUnit(0, on = false, core = true)
        val t = runUnit(1, on = true, core = false)
        (t, runUnit(2, on = false, core = true).map(_._1))
      }
    heap.stop()
    val correct = failed == 0 && measured.isDefined && (!o.trace || reference.isDefined)
    val (runS, log) = measured.getOrElse(throw new IllegalStateException("the measured unit failed"))
    val writes = log.writes.toSeq
    val reads = log.reads.toSeq
    val (wt, wBeyond) = Stats.tail(writes)
    val (rt, rBeyond) = Stats.tail(reads)
    val stored = w.storedBytes.toDouble / w.inputBytes
    say(f"setup_s=$setupS%.4f s (session start $sessionS%.3f + set-up $setUpS%.3f)")
    say(f"run_s=$runS%.4f s (input: ${w.inputDesc})")
    val (wName, rName) = o.workload match {
      case "idr_day" => ("merge_s: delta landed to rows readable", "dash_s: county dashboard read")
      case _ => ("batch_s: document batch landed to its survivors readable", "fetch_s: id-range fetch of prepared documents")
    }
    val p = Stats.TailPct
    say(f"write_s_p50=${Stats.median(writes)}%.4f s, write_s_tail=$wt%.4f s (p$p, interpolated, of ${writes.size} samples, $wBeyond above) [$wName]")
    say(f"read_s_p50=${Stats.median(reads)}%.4f s, read_s_tail=$rt%.4f s (p$p, interpolated, of ${reads.size} samples, $rBeyond above) [$rName]")
    say(s"write samples: ${writes.map(x => f"$x%.3f").mkString(" ")}")
    say(s"read samples: ${reads.map(x => f"$x%.3f").mkString(" ")}")
    say(f"stored_bytes_ratio=$stored%.4f (${w.storedBytes} stored / ${w.inputBytes} input bytes)")
    say(f"fail_frac=${failed.toDouble / attempted}%.4f ($failed failed of $attempted operations)")
    say(f"heap_peak_gb=${heap.peakGb}%.4f GB")

    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        val v = Map("setup_s" -> setupS, "run_s" -> runS, "write_s_p50" -> Stats.median(writes),
          "write_s_tail" -> wt, "read_s_p50" -> Stats.median(reads), "read_s_tail" -> rt,
          "stored_bytes_ratio" -> stored)
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val layers = mutable.Map[String, Double]().withDefaultValue(0.0) ++ log.layers
        trace.selfSeconds.foreach { case (layer, s) => layers(s"self_s.$layer") = s }
        layers("spark.persisted_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
        layers("trace.overhead_s") = runS - reference.getOrElse(runS)
        layers("trace.spans") = trace.spans.size.toDouble
        layers("heap_peak_gb") = heap.peakGb
        val path = o.work.resolve("trace/spans.jsonl")
        trace.writeJson(path)
        say(s"spans written to $path (${trace.spans.size} spans; " +
          f"traced run_s $runS%.4f vs untraced ${reference.map(x => f"$x%.4f").getOrElse("-")})")
        PerLayer.map { case (k, u) => (k, u, layers(k)) }
      }
    metrics.foreach { case (k, u, x) => if (o.trace) say(f"$k=$x%.6f $u") }
    val body = metrics.map { case (k, u, x) => s""""$k": {"value": ${num(x)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  /** Spark counters of one traced unit's program work: every job but
    * those of harness spans. `wall` spans the whole unit call; the time in
    * harness spans is taken out of it for `slot_idle_frac`. */
  private def sparkLayers(trace: Trace, wall: Double, cores: Int): Map[String, Double] = {
    val program = trace.spans.map(_.id).toSet + 0L -- trace.subtree(_.layer == Trace.HarnessLayer)
    val c = trace.counters(program)
    val busy = wall - trace.harnessSeconds
    trace.listener.bySpan.clear()
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.executor_run_s" -> c.runMs / 1e3, "spark.executor_cpu_s" -> c.cpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1e3, "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble, "spark.spill_bytes" -> c.spill.toDouble,
      "spark.slot_idle_frac" -> (1.0 - c.runMs / 1e3 / (busy * cores)),
      "spark.task_skew" -> c.skew)
  }
}

/** Samples used heap every 20 ms on a daemon thread. */
final class HeapSampler {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val t = new Thread(() => {
    val rt = Runtime.getRuntime
    while (running) {
      peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
      Thread.sleep(20)
    }
  }, "idrbench-heap")
  t.setDaemon(true)
  def start(): Unit = t.start()
  def stop(): Unit = { running = false; t.join() }
  def peakGb: Double = peak / 1e9
}
