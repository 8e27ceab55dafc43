package idrbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests, all at the tiny scale. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp: Path = Files.createTempDirectory("idrbench-spec")
  private lazy val spark: SparkSession = Session.start(tmp.resolve("session"), 2)

  override def afterAll(): Unit = {
    spark.stop()
    Fs.delete(tmp)
  }

  /** Relative path -> SHA-256 of every file under `root`. */
  private def digests(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try {
      val out = Map.newBuilder[String, String]
      s.filter(Files.isRegularFile(_)).forEach { f =>
        val d = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f))
        out += root.relativize(f).toString -> d.map("%02x".format(_)).mkString
      }
      out.result()
    } finally s.close()
  }

  test("generators: the same seed gives the same bytes, another seed other bytes") {
    def idr(seed: Long, dir: String) = {
      IdrGen.generate(tmp.resolve(dir), seed, Scale.tiny.idr)
      digests(tmp.resolve(dir))
    }
    def corpus(seed: Long, dir: String) = {
      CorpusGen.generate(tmp.resolve(dir), seed, Scale.tiny.corpus, batches = 3)
      digests(tmp.resolve(dir))
    }
    val a = idr(7, "idr-a")
    assert(a.nonEmpty)
    assert(idr(7, "idr-b") === a)
    val c = idr(8, "idr-c")
    assert(c.keySet === a.keySet)
    assert(Seq("covid", "hts", "mmd", "vls").forall(b =>
      a.exists { case (f, d) => f.startsWith(s"lake/$b/") && c(f) != d }))
    val x = corpus(7, "corpus-a")
    assert(x.keySet.count(_.startsWith("corpus/batches/")) === 3)
    assert(corpus(7, "corpus-b") === x)
    assert(corpus(8, "corpus-c").exists { case (f, d) => x(f) != d })

    val art = StructType(Seq(StructField("SiteCode", LongType), StructField("PatientID", StringType),
      StructField("PatientPK", LongType), StructField("LastVisit", DateType)))
    val vls = StructType(Seq(StructField("SiteCode", StringType), StructField("ccc_number", StringType),
      StructField("vl_order_reason", StringType)))
    val lake = IdrGen.generate(tmp.resolve("idr-d"), 7, Scale.tiny.idr)
    def delta(seed: Long) = {
      val d = IdrDelta.generate(seed, 3, art, vls, lake.truth.artKeys,
        lake.truth.vlsKeyRows.keys.toIndexedSeq.sorted, lake.sites, 4, 2)
      (d.artRows.map(_.toSeq), d.vlsRows.map(_.toSeq), d.artMarks, d.vlsMarks)
    }
    assert(delta(7) === delta(7))
    assert(delta(7) !== delta(8))
    assert(delta(7)._3.size === 6)
  }

  test("the rebuild check accepts the program's warehouse and rejects a corrupted one") {
    val lake = IdrGen.generate(tmp.resolve("check-lake"), 3, Scale.tiny.idr)
    val trace = new Trace(spark.sparkContext, "spec")
    val wh = new BenchWarehouse(spark, tmp.resolve("check-wh").toString, trace, new IoStats)
    Idr.rebuild(spark, wh, lake, trace, new StageClock)
    assert(Idr.checkRebuild(wh, lake.truth) === Nil)
    // drop one art_mmd row and flip one covid status
    val art = wh.read("art_mmd")
    wh.write("art_mmd", art.limit(art.count().toInt - 1))
    wh.write("covid", wh.read("covid").withColumn("Vaccination_Final_Status",
      when(col("Vaccination_Final_Status") === "Booster Shot", "Fully Vaccinated")
        .otherwise(col("Vaccination_Final_Status"))))
    val failed = Idr.checkRebuild(wh, lake.truth)
    assert(failed.exists(_.startsWith("art_mmd rows")))
    assert(lake.truth.covidBooster === 0L || failed.exists(_.startsWith("covid booster rows")))
  }

  test("the corpus check rejects lost originals, unplanted pairs and wrong SemDeDup output") {
    val t = CorpusTruth(docs = 20, originals = 10, qualityKept = 14, exactKept = 13,
      variantOf = Map(10L -> 2L, 11L -> 2L, 12L -> 5L), semMembers = Set(7L, 8L))
    val kept = (0L until 10L).toSet
    val good = CorpusOut(14, 13, Seq((2L, 10L), (2L, 11L), (10L, 11L), (5L, 12L)), kept,
      10, 8, kept.sum - 15)
    assert(good.check(t) === Nil)
    assert(good.copy(kept = kept - 3L).check(t).exists(_.startsWith("originals missing")))
    assert(good.copy(pairs = good.pairs :+ (3L -> 4L)).check(t).exists(_.startsWith("verified pairs")))
    assert(good.copy(semKept = 9).check(t).exists(_.startsWith("semdedup kept")))
    assert(good.copy(quality = 15).check(t).exists(_.startsWith("quality kept")))
    // a missed variant stays kept: allowed while recall holds, not beyond
    assert(good.copy(kept = kept + 12L, semVecs = 11, semKept = 9, semKeptIdSum = kept.sum + 12 - 15)
      .check(t).exists(_.startsWith("near-dup variant recall")))
  }

  test("the tail is the p90, interpolated between the nearest ranks") {
    def near(a: (Double, Int), b: (Double, Int)) = math.abs(a._1 - b._1) < 1e-9 && a._2 == b._2
    assert(near(Stats.tail((1 to 10).map(_.toDouble)), (9.1, 1)))
    assert(near(Stats.tail((1 to 20).reverse.map(_.toDouble)), (18.1, 2)))
    assert(near(Stats.tail(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 11.0)), (8.0, 1)))
    assert(Stats.tail(Seq(3.0)) === ((3.0, 0)))
  }

  private def smoke(workload: String): String = {
    val out = new ByteArrayOutputStream()
    val opts = Main.Opts(workload, 5, 1, trace = false, tmp.resolve(s"smoke-$workload"), Scale.tiny)
    Console.withOut(out)(Main.run(opts, spark, 2, 0.0))
    out.toString("UTF-8").trim.linesIterator.toSeq.last
  }

  test("smoke: idr_day completes with every output check passing") {
    val last = smoke("idr_day")
    assert(last.startsWith("""{"correct": true"""), last)
    Main.EndToEnd.foreach { case (k, _) => assert(last.contains(s""""$k": {"value": """), k) }
  }

  test("smoke: corpus_prep completes with every output check passing") {
    val last = smoke("corpus_prep")
    assert(last.startsWith("""{"correct": true"""), last)
  }
}
