package idrbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded document corpus with embeddings for the `corpus_prep` workload.
  *
  * Ids `0 until originals` are distinct good documents; every planted copy,
  * variant and low-quality document gets a higher id, so the survivor of
  * each duplicate group is always its original. Planted:
  *  - exact copies of originals (removed by exact dedup);
  *  - near-duplicate variants that change only the first or the last word
  *    (3-shingle Jaccard >= 0.96 with their original, so verification at
  *    0.8 accepts them whenever MinHash banding proposes them);
  *  - template siblings: originals sharing ~79% of another original's words
  *    (Jaccard ~0.65: candidate pairs that verification must reject);
  *  - low-quality documents that break one Gopher rule each (too short,
  *    '#'-heavy, all-bullet lines, numeric-heavy);
  *  - semantic clusters: embeddings of some originals placed within cosine
  *    ~0.98 of a centre original whose id is below the shard count, so the
  *    centre is a SemDeDup shard centroid and its cluster shares its shard.
  * Other embeddings are random unit vectors, far below the 0.8 cosine
  * threshold of each other.
  *
  * Beside the corpus, the generator writes the batches of new documents a
  * client lands after the pass: fresh originals, exact copies of corpus
  * originals and low-quality documents, with ids above every corpus id.
  */
object CorpusGen {

  final case class Size(originals: Int, shards: Int, files: Int)

  val Dim = 64
  /** cos >= 0.8 as tau^2 = 16/25 for the integer SemDeDup predicate. */
  val Tau2Num = 16L
  val Tau2Den = 25L
  /** Verified near-duplicate pairs need 3-shingle Jaccard >= 0.8. */
  val NearDupThresh10 = 8

  val StopWords: IndexedSeq[String] = IndexedSeq("the", "be", "to", "of", "and", "that", "have", "with")

  final case class Corpus(docs: String, embeddings: String, truth: CorpusTruth, bytes: Long,
                          shards: Int, batches: IndexedSeq[DocBatch])

  /** Documents per landed batch: fresh originals, exact copies, low quality. */
  val BatchFresh = 14
  val BatchCopies = 5
  val BatchLowQuality = 5

  private def vocab(r: SplittableRandom, n: Int): IndexedSeq[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val len = 4 + r.nextInt(6)
      out += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    out.filterNot(StopWords.contains).toIndexedSeq
  }

  private def words(r: SplittableRandom, v: IndexedSeq[String], n: Int): Array[String] =
    Array.fill(n)(if (r.nextInt(100) < 15) StopWords(r.nextInt(StopWords.length)) else v(r.nextInt(v.length)))

  /** Lines of 15-30 words. */
  private def text(r: SplittableRandom, ws: Array[String], bullet: Boolean = false): String = {
    val lines = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < ws.length) {
      val n = 15 + r.nextInt(16)
      val line = ws.slice(i, i + n).mkString(" ")
      lines += (if (bullet) s"- $line" else line)
      i += n
    }
    lines.mkString("\n")
  }

  /** A document that breaks one Gopher rule, chosen by `kind % 4`. */
  private def lowQualityText(r: SplittableRandom, v: IndexedSeq[String], kind: Int): String = kind % 4 match {
    case 0 => text(r, words(r, v, 10 + r.nextInt(30)))
    case 1 => text(r, words(r, v, 150).map(w => if (r.nextInt(100) < 25) s"#$w" else w))
    case 2 => text(r, words(r, v, 150), bullet = true)
    case _ => text(r, words(r, v, 150).map(w => if (r.nextInt(100) < 35) r.nextInt(100000).toString else w))
  }

  private def unit(r: SplittableRandom): Array[Float] = {
    val v = Array.fill(Dim)(gauss(r))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; deterministic across platforms, unlike nextGaussian's caching
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def generate(root: Path, seed: Long, size: Size, batches: Int): Corpus = {
    require(size.originals > 4 * size.shards, s"corpus: ${size.originals} originals for ${size.shards} shards")
    val r = IdrGen.rng(seed, 77)
    val v = vocab(r, 20000)
    val n = size.originals
    val docs = mutable.ArrayBuffer[(Long, String)]()
    val origWords = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      // 5% of originals (beyond the shard centroids) are template siblings
      // of the previous original: its first ~79% of words, then a fresh tail
      val ws =
        if (i > size.shards && r.nextInt(100) < 5) {
          val prev = origWords(i - 1)
          val keep = (prev.length * 0.79).toInt
          prev.take(keep) ++ words(r, v, prev.length - keep)
        } else words(r, v, 120 + r.nextInt(100))
      origWords(i) = ws
      docs += i.toLong -> text(r, ws)
      i += 1
    }
    var next = n.toLong
    // exact copies (5%) and near-duplicate variants (8%, one or two each)
    var copies = 0
    val variantOf = mutable.LinkedHashMap[Long, Long]()
    (size.shards until n).foreach { o =>
      if (r.nextInt(100) < 5) { docs += next -> docs(o)._2; next += 1; copies += 1 }
      if (r.nextInt(100) < 8) {
        val ws = origWords(o)
        val last = ws.clone(); last(ws.length - 1) = v(r.nextInt(v.length)) + "x"
        docs += next -> text(new SplittableRandom(o.toLong), last); variantOf(next) = o; next += 1
        if (r.nextBoolean()) {
          val first = ws.clone(); first(0) = v(r.nextInt(v.length)) + "y"
          docs += next -> text(new SplittableRandom(o.toLong), first); variantOf(next) = o; next += 1
        }
      }
    }
    val variants = variantOf.size
    // (line breaks are whitespace to the tokenizer, so a variant's own
    // breaks do not change its shingles)
    // low-quality documents (8%)
    val lowQuality = n * 8 / 100
    (0 until lowQuality).foreach { k =>
      docs += next -> lowQualityText(r, v, k)
      next += 1
    }

    // semantic clusters around centres 0 until min(shards, 24), members drawn
    // from originals >= shards
    val emb = new Array[Array[Float]](next.toInt)
    (0 until next.toInt).foreach(j => emb(j) = unit(r))
    val memberIds = mutable.LinkedHashSet[Int]()
    (0 until math.min(size.shards, 24)).foreach { c =>
      val m = 2 + r.nextInt(5)
      (0 until m).foreach { _ =>
        var id = size.shards + r.nextInt(n - size.shards)
        while (memberIds(id)) id = size.shards + r.nextInt(n - size.shards)
        memberIds += id
        val noisy = emb(c).map(x => x + 0.02 * gauss(r))
        val norm = math.sqrt(noisy.map(x => x * x).sum)
        emb(id) = noisy.map(x => (x / norm).toFloat)
      }
    }

    val docsDir = root.resolve("corpus/docs")
    val embDir = root.resolve("corpus/embeddings")
    val shuffled = docs.sortBy(d => IdrGen.rng(seed, d._1).nextLong())
    val per = (shuffled.length + size.files - 1) / size.files
    shuffled.grouped(per).zipWithIndex.foreach { case (chunk, f) =>
      ParquetOut.write(docsDir.resolve(f"part-$f%05d.parquet"),
        Seq(Col("id", Kind.I64), Col("text", Kind.Str)),
        chunk.map { case (id, t) => Array[Any](id, t) })
      ParquetOut.write(embDir.resolve(f"part-$f%05d.parquet"),
        Seq(Col("id", Kind.I64), Col("embedding", Kind.F32List)),
        chunk.map { case (id, _) => Array[Any](id, emb(id.toInt)) })
    }
    val truth = CorpusTruth(
      docs = docs.size.toLong,
      originals = n.toLong,
      qualityKept = (n + copies + variants).toLong,
      exactKept = (n + variants).toLong,
      variantOf = variantOf.toMap,
      semMembers = memberIds.map(_.toLong).toSet)
    val bytes = Files.walk(root.resolve("corpus")).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum
    val landed = (0 until batches).map { b =>
      val br = IdrGen.rng(seed, 5000 + b)
      val first = next + b * (BatchFresh + BatchCopies + BatchLowQuality)
      val fresh = (0 until BatchFresh).map(_ => text(br, words(br, v, 120 + br.nextInt(100))))
      val copies = (0 until BatchCopies).map(_ => docs(size.shards + br.nextInt(n - size.shards))._2)
      val low = (0 until BatchLowQuality).map(k => lowQualityText(br, v, b + k))
      // shuffled so survivors are not one id range
      val rows = (fresh.map(true -> _) ++ copies.map(false -> _) ++ low.map(false -> _))
        .zip(Iterator.continually(br.nextLong()).take(BatchFresh + BatchCopies + BatchLowQuality).toSeq)
        .sortBy(_._2).map(_._1).zipWithIndex.map { case ((keep, t), j) => (first + j, keep, t) }
      val path = root.resolve(f"corpus/batches/batch-$b%04d.parquet")
      ParquetOut.write(path, Seq(Col("id", Kind.I64), Col("text", Kind.Str)),
        rows.map { case (id, _, t) => Array[Any](id, t) })
      DocBatch(path.toString, first, rows.size, rows.collect { case (id, true, _) => id }.toSet)
    }
    Corpus(docsDir.toString, embDir.toString, truth, bytes, size.shards, landed)
  }
}

/** One landed batch: ids `first until first + size`; `survivors` are the
  * fresh originals, the only ones the quality gate and exact dedup keep. */
final case class DocBatch(path: String, first: Long, size: Int, survivors: Set[Long])

/** What the generator planted. Ids below `originals` are the originals;
  * `variantOf` maps each near-duplicate variant to its original;
  * `semMembers` are the originals whose embeddings sit in another
  * original's semantic cluster. */
final case class CorpusTruth(
    docs: Long, originals: Long, qualityKept: Long, exactKept: Long,
    variantOf: Map[Long, Long], semMembers: Set[Long]) {

  /** The only pairs with 3-shingle Jaccard >= 0.8: a variant with its
    * original, and two variants of one original. */
  def isPlantedPair(a: Long, b: Long): Boolean = {
    def family(id: Long) = if (id < originals) Some(id) else variantOf.get(id)
    a != b && family(a).isDefined && family(a) == family(b)
  }
}
