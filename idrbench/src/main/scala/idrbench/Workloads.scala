package idrbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Clusters, Dedup}
import graft.io.Lake
import graft.sim.Similarity
import graft.streaming.EventIngest
import graft.text.TextOps

/** Input sizes of one scale. */
final case class Scale(idr: IdrGen.Size, deltaUpdates: Int, deltaInserts: Int, corpus: CorpusGen.Size)

object Scale {
  val full: Scale = Scale(
    idr = IdrGen.Size(sites = 200, patients = 5000, covid = 5000, hts = 5000, files = 4),
    deltaUpdates = 150, deltaInserts = 50,
    corpus = CorpusGen.Size(originals = 450, shards = 16, files = 4))
  val tiny: Scale = Scale(
    idr = IdrGen.Size(sites = 20, patients = 300, covid = 300, hts = 300, files = 2),
    deltaUpdates = 10, deltaInserts = 5,
    corpus = CorpusGen.Size(originals = 400, shards = 8, files = 2))
}

/** `idr_day`: a day of the IDR warehouse. The unit is the reference's 04:00
  * run (`Runner.runAll` over the load DAG and the four transform DAGs into a
  * fresh warehouse, then county dashboards), followed by the day's traffic:
  * delta after delta of updated and new patients lands with its arrival
  * event; the client drains the event with `EventIngest.ingestAvailable`,
  * upserts `art_mmd` with `Warehouse.merge` and `vls` with
  * `EventIngest.streamMergeIntoWarehouse`, then reads county dashboards.
  * The first deltas of a unit warm the streaming path and are not timed;
  * `seconds` sets how many are timed ([[IdrDay.deltas]]), so every commit
  * takes the same number of samples.
  */
final class IdrDay(spark: SparkSession, work: Path, seed: Long, scale: Scale, trace: Trace,
                   seconds: Int) extends Workload {
  private val io = new IoStats
  private var lake: IdrGen.Lake = _
  private var rebuiltBytes = 0L
  private var last: Option[Path] = None
  private var batches = 0L
  private var rowsIn = 0L

  def generate(): Unit = lake = IdrGen.generate(work.resolve("input"), seed, scale.idr)
  def inputBytes: Long = lake.bytes
  def inputDesc: String =
    s"${scale.idr.patients} patients, ${scale.idr.covid} covid + ${scale.idr.hts} hts rows, " +
      s"${scale.idr.sites} sites, ${lake.bytes} bytes; deltas of ${scale.deltaUpdates} updated + " +
      s"${scale.deltaInserts} new keys per table"
  def setUp(): Unit = EventIngest.onProgressTrigger(spark) { (_, _, n) =>
    if (trace.enabled) { batches += 1; rowsIn += n }
  }

  /** The dashboards of one county, taken in rotation. */
  private def dashboards(wh: BenchWarehouse, key: Int, log: UnitLog): Unit = {
    val county = IdrGen.Counties(key % IdrGen.Counties.size)
    Idr.Dashboards.foreach(d =>
      log.timed(log.reads)(trace.span("client.dashboard", "client")(Idr.dashboard(wh, d, county))))
  }

  def unit(i: Int, log: UnitLog, core: Boolean): Double = {
    last.foreach(Fs.delete)
    val dir = work.resolve(s"day-$i")
    last = Some(dir)
    val wh = new BenchWarehouse(spark, dir.resolve("warehouse").toString, trace, io)
    val before = io.copy()
    val clock = new StageClock
    val t0 = System.nanoTime()
    Idr.rebuild(spark, wh, lake, trace, clock)
    val wall = (System.nanoTime() - t0) / 1e9
    val rebuilt = io.copy()
    // the first reads of each dashboard warm it and are not timed
    val warm = new UnitLog
    dashboards(wh, 0, warm)
    log.checked(trace.harness(Idr.checkRebuild(wh, lake.truth)))
    rebuiltBytes = Fs.usage(dir.resolve("warehouse"))._1
    if (log.failures.nonEmpty || core) return wall

    // the day starts from a settled heap, after untimed warm-up deltas
    // with their dashboards
    val day = trace.harness {
      System.gc()
      new DeltaDay(wh, dir.resolve("landing"), i)
    }
    (0 until IdrDay.WarmUpDeltas).foreach { d =>
      day.delta(d, warm)
      dashboards(wh, d, warm)
    }
    log.attempted += warm.attempted
    log.failures ++= warm.failures
    val (b0, r0, m0) = (batches, rowsIn, io.mergeNs)
    val timed = IdrDay.WarmUpDeltas until IdrDay.WarmUpDeltas + IdrDay.deltas(seconds)
    var ingestNs = 0L
    timed.foreach { d =>
      ingestNs += day.delta(d, log)
      dashboards(wh, d, log)
    }
    log.checked(trace.harness(day.finalState()))
    if (trace.enabled) {
      Trace.drain(spark.sparkContext)
      Idr.PipelineNames.foreach(p => log.layers(s"pipelines.stage_s.$p") = clock.byPipeline.getOrElse(p, 0.0))
      log.layers("pipelines.plan_s") = clock.planNs / 1e9
      log.layers("pipelines.stages") = clock.samples.size.toDouble
      log.layers("pipelines.retries") = (clock.planCalls - clock.samples.size).toDouble
      log.layers("io.warehouse.write_s") = (rebuilt.writeNs - before.writeNs) / 1e9
      log.layers("io.warehouse.writes") = (rebuilt.writes - before.writes).toDouble
      log.layers("io.warehouse.bytes_written") = (rebuilt.bytesWritten - before.bytesWritten).toDouble
      log.layers("io.warehouse.files_written") = (rebuilt.filesWritten - before.filesWritten).toDouble
      val deltas = timed.size.toDouble
      log.layers("io.warehouse.merge_s") = (io.mergeNs - m0) / 1e9 / deltas
      log.layers("io.warehouse.merge_write_amp") = day.writeAmp
      // the reads the dashboards made, not the pipelines' or the checks'
      val dash = trace.subtree(_.name == "client.dashboard")
      log.layers("io.warehouse.read_calls") = trace.spans.count(s => s.name == "io.warehouse.read" && dash(s.id)).toDouble
      log.layers("io.warehouse.bytes_read") = trace.counters(dash).inputBytes.toDouble
      log.layers("streaming.ingest_s") = ingestNs / 1e9 / deltas
      log.layers("streaming.batches") = (batches - b0) / deltas
      log.layers("streaming.rows_in") = (rowsIn - r0) / deltas
    }
    wall
  }

  /** The deltas of one unit against its freshly rebuilt warehouse, with the
    * expected table state: rows per key and the latest marker per key. */
  private final class DeltaDay(wh: BenchWarehouse, landing: Path, unitIndex: Int) {
    private val artSchema = wh.read("art_mmd").schema
    private val vlsSchema = wh.read("vls").schema
    private val artRows = mutable.Map[(Long, String), Int]() ++ lake.truth.artKeys.map(_ -> 1)
    private val vlsRows = mutable.Map[(String, String), Int]() ++ lake.truth.vlsKeyRows
    private val artMarks = mutable.Map[(Long, String), Long]()
    private val vlsMarks = mutable.Map[(String, String), String]()
    private val vlsKeys = lake.truth.vlsKeyRows.keys.toIndexedSeq.sorted
    private var deltas = 0
    private var deltaBytes = 0L
    private var mergedBytes = 0L

    /** Bytes the upserts wrote per delta byte landed. */
    def writeAmp: Double = if (deltaBytes == 0) 0.0 else mergedBytes.toDouble / deltaBytes

    /** Writes a file beside `dest` and renames it in, so a stream never
      * sees a partial file. */
    private def land(dest: Path)(write: Path => Unit): Long = {
      val tmp = landing.resolve("tmp").resolve(dest.getFileName)
      write(tmp)
      Files.createDirectories(dest.getParent)
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      Files.size(dest)
    }

    /** Lands delta `n`, then times its ingest and upserts (a `writes`
      * sample); returns the ingest nanoseconds. */
    def delta(n: Int, log: UnitLog): Long = {
      val d = IdrDelta.generate(seed, 1000 * unitIndex + n, artSchema, vlsSchema, lake.truth.artKeys,
        vlsKeys, lake.sites, scale.deltaUpdates, scale.deltaInserts)
      val artFile = landing.resolve(f"art/delta-$n%04d.parquet")
      val vlsFile = landing.resolve(f"vls/delta-$n%04d.parquet")
      val bytes = trace.harness {
        val b = land(artFile)(ParquetOut.write(_, d.artCols, d.artRows)) +
          land(vlsFile)(ParquetOut.write(_, d.vlsCols, d.vlsRows))
        land(landing.resolve(f"events/delta-$n%04d.json"))(p => Files.write(p,
          (s"""{"extract_type":"mmd","bucket":"landing","object":"art/delta-$n%04d.parquet",""" +
            s""""uploaded_at":"2024-06-01T${4 + n % 20}%02d:00:00Z"}""" + "\n").getBytes("UTF-8")))
        b
      }
      var ingestNs = 0L
      log.timed(log.writes) {
        trace.span("client.upsert", "client") {
          val ti = System.nanoTime()
          trace.span("streaming.ingest", "streaming")(EventIngest.ingestAvailable(spark,
            landing.resolve("events").toString, wh.path("pubsub_metadata")))
          ingestNs = System.nanoTime() - ti
          wh.merge("art_mmd", Lake.readParquet(spark, artFile.toString), Seq("SiteCode", "PatientID"))
          trace.span("streaming.merge", "streaming")(EventIngest.streamMergeIntoWarehouse(spark,
            landing.resolve("vls").toString, vlsSchema, wh, "vls", Seq("SiteCode", "ccc_number"),
            landing.resolve("vls_merge_chk").toString))
        }
      }
      d.artMarks.foreach { case (k, m) => artRows(k) = 1; artMarks(k) = m }
      d.vlsMarks.foreach { case (k, m) => vlsRows(k) = 1; vlsMarks(k) = m }
      deltas += 1
      if (trace.enabled) {
        deltaBytes += bytes
        mergedBytes += Fs.usage(java.nio.file.Paths.get(wh.path("art_mmd")))._1 +
          Fs.usage(java.nio.file.Paths.get(wh.path("vls")))._1
      }
      // the delta's rows must be readable once the upserts return
      log.checked(trace.harness {
        val base = IdrDelta.ArtMarkBase * d.day
        val artSeen = wh.read("art_mmd")
          .filter(col("PatientPK") >= base && col("PatientPK") < base + IdrDelta.ArtMarkBase).count()
        val vlsSeen = wh.read("vls").filter(col("vl_order_reason").startsWith(s"delta-${d.day}-")).count()
        (if (artSeen == d.artMarks.size) Nil else Seq(s"delta $n: $artSeen art_mmd rows readable, want ${d.artMarks.size}")) ++
          (if (vlsSeen == d.vlsMarks.size) Nil else Seq(s"delta $n: $vlsSeen vls rows readable, want ${d.vlsMarks.size}"))
      })
      ingestNs
    }

    /** Failed checks of the upserted tables and the event log. */
    def finalState(): Seq[String] = {
      val out = mutable.ArrayBuffer[String]()
      val art = wh.read("art_mmd")
      val vls = wh.read("vls")
      val artCount = art.count()
      val vlsCount = vls.count()
      if (artCount != artRows.values.sum) out += s"upserted art_mmd rows: got $artCount, want ${artRows.values.sum}"
      if (vlsCount != vlsRows.values.sum) out += s"upserted vls rows: got $vlsCount, want ${vlsRows.values.sum}"
      val artGot = art.filter(col("PatientPK") >= IdrDelta.ArtMarkBase)
        .select("SiteCode", "PatientID", "PatientPK").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      if (artGot != artMarks) out += s"upserted art_mmd markers differ on ${(artGot.toSet diff artMarks.toSet).size} keys"
      val vlsGot = vls.filter(col("vl_order_reason").startsWith("delta-"))
        .select("SiteCode", "ccc_number", "vl_order_reason").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      if (vlsGot != vlsMarks) out += s"upserted vls markers differ on ${(vlsGot.toSet diff vlsMarks.toSet).size} keys"
      val events = spark.read.parquet(wh.path("pubsub_metadata")).count()
      if (events != deltas) out += s"pubsub_metadata rows: got $events, want $deltas"
      out.toSeq
    }
  }

  /** The warehouse as the rebuild left it: the deltas' bytes depend on how
    * many fit in the run. */
  def storedBytes: Long = rebuiltBytes
}

/** `corpus_prep`: the LLM-data operators over a seeded corpus, each step
  * run to completion and written out before the next reads it. Then the
  * client lands batches of new documents: each is quality-gated, exact-deduped
  * against the prepared set and its survivors appended, and a training
  * loader fetches prepared documents in id ranges between batches.
  * `seconds` sets the number of batches ([[CorpusPrep.batches]]). Bypasses
  * `Runner` and `Warehouse`. */
final class CorpusPrep(spark: SparkSession, work: Path, seed: Long, scale: Scale, trace: Trace,
                       seconds: Int) extends Workload {
  private var corpus: CorpusGen.Corpus = _
  private var last: Option[Path] = None

  def generate(): Unit =
    corpus = CorpusGen.generate(work.resolve("input"), seed, scale.corpus,
      CorpusPrep.WarmUpBatches + CorpusPrep.batches(seconds))
  def inputBytes: Long = corpus.bytes
  def inputDesc: String = s"${corpus.truth.docs} documents (${scale.corpus.originals} originals), " +
    s"${CorpusGen.Dim}-d embeddings, ${corpus.shards} shards; ${corpus.bytes} bytes; " +
    s"${corpus.batches.size} landed batches (${CorpusPrep.WarmUpBatches} untimed) of ${corpus.batches.head.size} documents"

  def setUp(): Unit = ()

  private def step(name: String, layer: String, out: Path)(df: => DataFrame): DataFrame = {
    trace.span(name, layer)(df.write.parquet(out.toString))
    Lake.readParquet(spark, out.toString)
  }

  def unit(i: Int, log: UnitLog, core: Boolean): Double = {
    last.foreach(Fs.delete)
    val dir = work.resolve(s"pass-$i")
    last = Some(dir)
    val t = corpus.truth
    val t0 = System.nanoTime()
    val docs = Lake.readParquet(spark, corpus.docs)
    val quality = step("text.quality", "text", dir.resolve("quality"))(
      TextOps.gopherFlags(docs, "text").filter(col("gopher_pass")).select("id", "text"))
    val exact = step("dedup.exact", "dedup", dir.resolve("exact"))(
      Dedup.exactDedup(quality, "id", "text"))
    val pairs = step("dedup.neardup", "dedup", dir.resolve("pairs"))(
      Dedup.minhashDetNearDupPairs(exact, "id", "text", CorpusGen.NearDupThresh10))
    val kept = step("dedup.cluster", "dedup", dir.resolve("kept"))(
      Clusters.connectedComponents(exact.select("id"), "id", pairs, "id_a", "id_b")
        .filter(col("cluster_id") === col("id")).select("id").join(exact, "id"))
    val vecs = Lake.readParquet(spark, corpus.embeddings).join(kept.select("id"), Seq("id"), "left_semi")
    val sem = step("sim.semdedup", "sim", dir.resolve("semdedup"))(
      Similarity.semDedupQuantized(vecs, "id", "embedding", corpus.shards, CorpusGen.Tau2Num, CorpusGen.Tau2Den))
    val wall = (System.nanoTime() - t0) / 1e9

    val out = trace.harness {
      val pairIds = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val semAgg = sem.agg(sum(col("n_vecs")), sum(col("n_kept")), sum(col("sum_kept"))).head()
      CorpusOut(quality.count(), exact.count(), pairIds.toSeq, kept.select("id").collect().map(_.getLong(0)).toSet,
        semAgg.getLong(0), semAgg.getLong(1), semAgg.getLong(2))
    }
    log.checked(out.check(t))
    if (core) return wall

    val prepared = dir.resolve("kept").toString
    val range = CorpusPrep.FetchDocs
    var fetches = 0
    // the first batches warm the batch and fetch paths and are not timed
    val warm = new UnitLog
    corpus.batches.zipWithIndex.foreach { case (b, k) =>
      val timing = if (k < CorpusPrep.WarmUpBatches) warm else log
      timing.timed(timing.writes)(trace.span("client.batch", "client") {
        val gated = TextOps.gopherFlags(Lake.readParquet(spark, b.path), "text")
          .filter(col("gopher_pass")).select("id", "text")
        val merged = Dedup.exactDedup(Lake.readParquet(spark, prepared).unionByName(gated), "id", "text")
        trace.span("dedup.batch", "dedup")(merged.filter(col("id") >= b.first).write.mode("append").parquet(prepared))
      })
      log.checked(trace.harness {
        val got = Lake.readParquet(spark, prepared).filter(col("id") >= b.first && col("id") < b.first + b.size)
          .select("id").collect().map(_.getLong(0)).toSet
        if (got == b.survivors) Nil
        else Seq(s"batch from id ${b.first}: ${got.size} documents readable, want ${b.survivors.size}")
      })
      (0 until CorpusPrep.FetchesPerBatch).foreach { _ =>
        val lo = CorpusPrep.fetchStart(fetches, t.originals)
        fetches += 1
        val rows = timing.timed(timing.reads)(trace.span("client.fetch", "client")(
          Lake.readParquet(spark, prepared).filter(col("id") >= lo && col("id") < lo + range).collect()))
        // every original in the range was prepared, and nothing else lies there
        val ids = rows.map(_.getAs[Long]("id")).toSet
        log.checked(if (ids == (lo until lo + range).toSet) Nil
                    else Seq(s"fetch of ids from $lo: ${ids.size} documents, want $range"))
      }
    }

    if (trace.enabled) {
      val byName = trace.spans.groupBy(_.name)
      def lastSpan(n: String) = byName.get(n).map(_.last.seconds).getOrElse(0.0)
      log.layers("text.quality_s") = lastSpan("text.quality")
      log.layers("text.docs_kept") = out.quality.toDouble
      log.layers("dedup.exact_s") = lastSpan("dedup.exact")
      log.layers("dedup.neardup_s") = lastSpan("dedup.neardup")
      log.layers("dedup.cluster_s") = lastSpan("dedup.cluster")
      log.layers("sim.semdedup_s") = lastSpan("sim.semdedup")
      // candidates: pairs sharing a MinHash band bucket, before verification
      val (cands, semPairs) = trace.harness {
        val b = Dedup.detMinhashBuckets(exact, "id", "text")
        val c = b.select(col("band"), col("bucket"), col("id").as("a"))
          .join(b.select(col("band"), col("bucket"), col("id").as("b")), Seq("band", "bucket"))
          .filter(col("a") < col("b")).select("a", "b").distinct().count()
        (c, sem.select(sum(col("n_vecs") * (col("n_vecs") - 1) / 2)).head().get(0))
      }
      log.layers("dedup.candidate_pairs") = cands.toDouble
      log.layers("dedup.verified_pairs") = out.pairs.size.toDouble
      log.layers("dedup.pair_yield") = if (cands == 0) 0.0 else out.pairs.size.toDouble / cands
      log.layers("dedup.variant_recall") = out.recall(t)
      log.layers("sim.pairs") = semPairs match {
        case null => 0.0
        case n: Number => n.doubleValue()
      }
    }
    wall
  }

  def storedBytes: Long = last.map(p => Fs.usage(p)._1).getOrElse(0L)
}

object IdrDay {
  /** Untimed deltas that warm the streaming and merge paths. */
  val WarmUpDeltas = 4
  /** Nominal seconds of one timed delta with its dashboards on the
    * reference box; fixes the delta count a `--seconds` budget buys. */
  val NominalDeltaS = 3.75

  /** Timed deltas per unit: a function of `seconds` only, so a faster
    * program takes as many samples as a slower one. */
  def deltas(seconds: Int): Int = math.max(1, math.ceil(seconds / NominalDeltaS).toInt)
}

/** What one corpus pass produced, as the checks see it. */
final case class CorpusOut(quality: Long, exact: Long, pairs: Seq[(Long, Long)], kept: Set[Long],
                           semVecs: Long, semKept: Long, semKeptIdSum: Long) {

  /** Share of planted near-duplicate variants the near-dup step removed. */
  def recall(t: CorpusTruth): Double =
    if (t.variantOf.isEmpty) 1.0 else t.variantOf.keySet.count(v => !kept(v)).toDouble / t.variantOf.size

  /** Failed checks against the planted truth. Near-dup precision is exact
    * (only planted pairs may verify; every original survives); recall is
    * held to [[CorpusPrep.MinVariantRecall]], since MinHash banding is
    * approximate. SemDeDup must then drop exactly the planted cluster
    * members from whatever the near-dup step kept. */
  def check(t: CorpusTruth): Seq[String] =
    Seq(
      "quality kept" -> (quality, t.qualityKept),
      "exact-dedup kept" -> (exact, t.exactKept),
      "originals missing after near-dup" -> ((0L until t.originals).count(!kept(_)).toLong, 0L),
      "kept docs that are neither original nor variant" ->
        (kept.count(id => id >= t.originals && !t.variantOf.contains(id)).toLong, 0L),
      "verified pairs that are not planted" -> (pairs.count { case (a, b) => !t.isPlantedPair(a, b) }.toLong, 0L),
      "semdedup input" -> (semVecs, kept.size.toLong),
      "semdedup kept" -> (semKept, (kept.size - t.semMembers.size).toLong),
      "semdedup kept id sum" -> (semKeptIdSum, kept.sum - t.semMembers.sum)
    ).collect { case (name, (got, want)) if got != want => s"$name: got $got, want $want" } ++
      (if (recall(t) >= CorpusPrep.MinVariantRecall) Nil
       else Seq(f"near-dup variant recall ${recall(t)}%.4f below ${CorpusPrep.MinVariantRecall}"))
}

object CorpusPrep {
  /** Originals one fetch returns. */
  val FetchDocs = 20L
  /** Untimed batches that warm the batch and fetch paths. */
  val WarmUpBatches = 3
  /** Fetches after each landed batch. */
  val FetchesPerBatch = 6
  /** Nominal seconds of one batch with its fetches on the reference box;
    * fixes the batch count a `--seconds` budget buys. */
  val NominalBatchS = 3.0

  /** First id of fetch `k`: starts step 7 ids through the originals, which
    * keeps the ranges distinct for as many fetches as there are starts when
    * 7 does not divide their number (430 at full scale). A repeated range
    * would reuse its compiled filter and be a different kind of sample. */
  def fetchStart(k: Int, originals: Long): Long = k * 7L % (originals - FetchDocs)

  /** Timed batches per unit: a function of `seconds` only. */
  def batches(seconds: Int): Int = math.max(1, math.ceil(seconds / NominalBatchS).toInt)
  /** Share of planted near-duplicate variants the near-dup step must remove. */
  val MinVariantRecall = 0.9
}
