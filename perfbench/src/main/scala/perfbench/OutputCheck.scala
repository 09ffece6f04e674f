package perfbench

import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Independent checker for a word-count job's output directory. It shares
  * no code with the program: the expected counts come from the corpus
  * generator's tally, and part placement is recomputed from the
  * reference's partition formula
  * `int(md5(key.encode()).hexdigest(), 16) % num_partitions`. */
object OutputCheck {

  private val Hex = "0123456789abcdef".toCharArray
  private val Md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The reference formula, literally: hex digest, parsed base 16, mod R. */
  def referencePartition(key: String, numPartitions: Int): Int = {
    val digest = Md5.get().digest(key.getBytes(UTF_8))
    val hex = new Array[Char](digest.length * 2)
    for (i <- digest.indices) {
      hex(2 * i) = Hex((digest(i) >> 4) & 0xF)
      hex(2 * i + 1) = Hex(digest(i) & 0xF)
    }
    new BigInteger(new String(hex), 16)
      .mod(BigInteger.valueOf(numPartitions.toLong)).intValue
  }

  /** Problems found in `outDir` (empty when the output is exact):
    *  - the directory holds exactly part-00000 .. part-{R-1}, nothing else;
    *  - every line is `word<TAB>count` with the generator's count;
    *  - every word sits in the part its MD5 placement names;
    *  - lines within a part are in strictly ascending key order;
    *  - every expected word appears. */
  def check(outDir: Path, expected: java.util.Map[String, java.lang.Long],
      numReducers: Int, maxProblems: Int = 5): Seq[String] = {
    val problems = Vector.newBuilder[String]
    var nProblems = 0
    def problem(msg: => String): Unit = {
      if (nProblems < maxProblems) problems += msg
      nProblems += 1
    }
    val wanted = (0 until numReducers).map(i => f"part-$i%05d").toSet
    val present =
      if (Files.isDirectory(outDir)) {
        val s = Files.list(outDir)
        try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
        finally s.close()
      } else Set.empty[String]
    for (n <- (present -- wanted).toSeq.sorted) problem(s"unexpected file $n")
    for (n <- (wanted -- present).toSeq.sorted) problem(s"missing file $n")
    var seen = 0L
    for (i <- 0 until numReducers; name = f"part-$i%05d" if present(name)) {
      var prev: String = null
      val lines = Files.newBufferedReader(outDir.resolve(name), UTF_8)
      try {
        var line = lines.readLine()
        while (line != null) {
          val tab = line.indexOf('\t')
          if (tab < 0) problem(s"$name: no tab in '$line'")
          else {
            val key = line.substring(0, tab)
            val want = expected.get(key)
            if (want == null) problem(s"$name: unexpected key '$key'")
            else {
              seen += 1
              if (line.substring(tab + 1) != want.toString)
                problem(s"$name: '$key' counted ${line.substring(tab + 1)}, expected $want")
            }
            val part = referencePartition(key, numReducers)
            if (part != i) problem(s"$name: '$key' belongs in part $part")
            if (prev != null && prev.compareTo(key) >= 0)
              problem(s"$name: '$key' after '$prev' breaks sorted order")
            prev = key
          }
          line = lines.readLine()
        }
      } finally lines.close()
    }
    if (seen != expected.size)
      problem(s"${expected.size} distinct words expected, $seen found")
    val out = problems.result()
    if (nProblems > maxProblems) out :+ s"... ${nProblems - maxProblems} more" else out
  }

  /** Number of output lines across the job's parts. */
  def lineCount(outDir: Path, numReducers: Int): Long =
    (0 until numReducers).iterator.map { i =>
      val s = Files.lines(outDir.resolve(f"part-$i%05d"), UTF_8)
      try s.count() finally s.close()
    }.sum
}
