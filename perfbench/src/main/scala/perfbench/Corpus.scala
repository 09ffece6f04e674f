package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded word-count corpus: lowercase words drawn from a Zipf
  * distribution over a seeded vocabulary, written as text files of
  * space-separated words. The same seed and spec give the same bytes, and
  * the generator keeps its own exact tally of every word it wrote, which
  * is what job outputs are checked against. */
object Corpus {

  final case class Spec(files: Int, bytesPerFile: Int, vocab: Int,
      zipfS: Double, wordsPerLine: Int = 12)

  /** The distinct words of one file (as vocabulary ranks, ascending) and
    * how often each occurs. */
  final class FileTally(val name: String, val bytes: Long,
      val ranks: Array[Int], val counts: Array[Int]) {
    def words: Long = counts.iterator.map(_.toLong).sum
  }

  final class Generated(val vocab: Array[String],
      val files: IndexedSeq[FileTally]) {
    def totalBytes: Long = files.iterator.map(_.bytes).sum
    def totalWords: Long = files.iterator.map(_.words).sum

    /** Expected word counts of a job that reads the given files. */
    def expected(fileIdx: Iterable[Int] = files.indices)
        : java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      for (i <- fileIdx; t = files(i); j <- t.ranks.indices)
        m.merge(vocab(t.ranks(j)), t.counts(j).toLong, (a, b) => a + b)
      m
    }
  }

  /** `n` distinct lowercase words of 2 to 9 letters. */
  def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = new java.util.LinkedHashSet[String](n * 2)
    val sb = new java.lang.StringBuilder
    while (seen.size < n) {
      sb.setLength(0)
      val len = 2 + rng.nextInt(8)
      var i = 0
      while (i < len) { sb.append(('a' + rng.nextInt(26)).toChar); i += 1 }
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  /** Cumulative Zipf(s) distribution over ranks 0 until n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var k = 0
    while (k < n) { acc += 1.0 / math.pow(k + 1, s); cdf(k) = acc; k += 1 }
    k = 0
    while (k < n) { cdf(k) /= acc; k += 1 }
    cdf
  }

  private def draw(rng: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Write the corpus for `seed` into `dir` (created if needed) as
    * file-00000 ... and return the generator's tally. */
  def generate(seed: Long, spec: Spec, dir: Path): Generated = {
    Files.createDirectories(dir)
    val root = new SplittableRandom(seed)
    val vocab = vocabulary(root, spec.vocab)
    val bytes = vocab.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val cdf = zipfCdf(spec.vocab, spec.zipfS)
    val files = (0 until spec.files).map { f =>
      val rng = root.split()
      val out = new java.io.ByteArrayOutputStream(spec.bytesPerFile + 64)
      val drawn = new scala.collection.mutable.ArrayBuilder.ofInt
      var inLine = 0
      while (out.size < spec.bytesPerFile) {
        val r = draw(rng, cdf)
        drawn += r
        if (inLine > 0) out.write(' ')
        out.write(bytes(r))
        inLine += 1
        if (inLine == spec.wordsPerLine) { out.write('\n'); inLine = 0 }
      }
      if (inLine > 0) out.write('\n')
      val name = f"file-$f%05d"
      Files.write(dir.resolve(name), out.toByteArray)
      val sorted = drawn.result()
      java.util.Arrays.sort(sorted)
      val ranks = new scala.collection.mutable.ArrayBuilder.ofInt
      val counts = new scala.collection.mutable.ArrayBuilder.ofInt
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        ranks += sorted(i); counts += j - i
        i = j
      }
      new FileTally(name, out.size.toLong, ranks.result(), counts.result())
    }
    new Generated(vocab, files)
  }
}
