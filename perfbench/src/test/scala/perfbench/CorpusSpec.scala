package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val spec = Corpus.Spec(files = 3, bytesPerFile = 4096, vocab = 500,
    zipfS = 1.05)

  private def bytesOf(dir: Path): Seq[Seq[Byte]] =
    (0 until spec.files).map(f =>
      Files.readAllBytes(dir.resolve(f"file-$f%05d")).toSeq)

  test("the same seed writes the same bytes; another seed does not") {
    val a = Files.createTempDirectory("corpus-a")
    val b = Files.createTempDirectory("corpus-b")
    val c = Files.createTempDirectory("corpus-c")
    Corpus.generate(7, spec, a)
    Corpus.generate(7, spec, b)
    Corpus.generate(8, spec, c)
    assert(bytesOf(a) == bytesOf(b))
    assert(bytesOf(a) != bytesOf(c))
  }

  test("the tally matches a recount of the written files") {
    val dir = Files.createTempDirectory("corpus-t")
    val g = Corpus.generate(11, spec, dir)
    val recount = new java.util.HashMap[String, java.lang.Long]()
    for (f <- g.files; line <- Files.readAllLines(dir.resolve(f.name)).toArray;
         w <- line.toString.split(" ") if w.nonEmpty)
      recount.merge(w, 1L, (x, y) => x + y)
    assert(recount == g.expected())
    assert(g.totalBytes == g.files.map(f => Files.size(dir.resolve(f.name))).sum)
    // Zipf: the most frequent word dominates the tail
    val counts = recount.values.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
    assert(counts.max > 10 * counts.min)
  }

  test("a job over some files expects exactly their words") {
    val dir = Files.createTempDirectory("corpus-s")
    val g = Corpus.generate(3, spec, dir)
    val one = g.expected(Seq(1))
    assert(one.values.toArray.map(_.asInstanceOf[java.lang.Long].longValue).sum ==
      g.files(1).words)
  }
}
