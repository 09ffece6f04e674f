package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class OutputCheckSpec extends AnyFunSuite {
  private val R = 4

  test("placement follows int(md5(key).hexdigest(), 16) % R") {
    // values from Python's hashlib, the reference's own formula
    assert(OutputCheck.referencePartition("the", 8) == 7)
    assert(OutputCheck.referencePartition("apple", 8) == 7)
    assert(OutputCheck.referencePartition("zz", 2) == 0)
    assert(OutputCheck.referencePartition("", 7) == 1)
    assert(OutputCheck.referencePartition("qwerty", 5) == 4)
  }

  private val expected: java.util.Map[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    for ((w, i) <- Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa").zipWithIndex)
      m.put(w, (i + 1).toLong)
    m
  }

  /** The exact output a correct job writes: one sorted part per reducer. */
  private def parts: Map[Int, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val byPart = expected.asScala.toSeq.groupBy { case (k, _) =>
      OutputCheck.referencePartition(k, R)
    }
    (0 until R).map(i => i -> byPart.getOrElse(i, Nil).sortBy(_._1)
      .map { case (k, v) => s"$k\t$v" }).toMap
  }

  private def write(p: Map[Int, Seq[String]]): Path = {
    val dir = Files.createTempDirectory("check")
    for ((i, lines) <- p)
      Files.writeString(dir.resolve(f"part-$i%05d"),
        lines.map(_ + "\n").mkString)
    dir
  }

  test("an exact output passes") {
    assert(OutputCheck.check(write(parts), expected, R).isEmpty)
  }

  test("a planted wrong count is rejected") {
    val p = parts
    val (i, lines) = p.find(_._2.nonEmpty).get
    val bad = lines.head.replaceAll("\t.*", "\t999")
    val found = OutputCheck.check(write(p.updated(i, bad +: lines.tail)), expected, R)
    assert(found.exists(_.contains("counted 999")))
  }

  test("a line in the wrong part is rejected") {
    val p = parts
    val (from, lines) = p.find(_._2.nonEmpty).get
    val to = (from + 1) % R
    val moved = p.updated(from, lines.tail)
      .updated(to, (lines.head +: p(to)).sortBy(_.takeWhile(_ != '\t')))
    val found = OutputCheck.check(write(moved), expected, R)
    assert(found.exists(_.contains("belongs in part")))
  }

  test("unsorted lines, stray files, missing parts and lost words are rejected") {
    val p = parts
    val (i, lines) = p.find(_._2.size >= 2).get
    assert(OutputCheck.check(write(p.updated(i, lines.reverse)), expected, R)
      .exists(_.contains("sorted order")))
    val stray = write(p)
    Files.writeString(stray.resolve("_SUCCESS"), "")
    assert(OutputCheck.check(stray, expected, R).exists(_.contains("unexpected file")))
    val missing = write(p)
    Files.delete(missing.resolve("part-00000"))
    assert(OutputCheck.check(missing, expected, R).exists(_.contains("missing file")))
    assert(OutputCheck.check(write(p.updated(i, lines.tail)), expected, R)
      .exists(_.contains("distinct words expected")))
  }
}
