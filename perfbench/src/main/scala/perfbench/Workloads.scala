package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{Row, SparkSession}

/** One timed op: its latency (the only timed part), the input it read,
  * and what the untimed output check found. Wall-clock stamps place the
  * op's Spark jobs and Catalyst phases for the traced run. */
final case class OpResult(latencyS: Double, inputBytes: Long,
    problems: Seq[String], startMs: Long, endMs: Long,
    buildEndMs: Long = Long.MinValue, buildS: Double = 0,
    intakeS: Double = 0, outputLines: Long = 0, label: String = "")

/** A closed-loop workload with one client. `setUp` is repeated on fresh
  * sessions to time set-up; `op` runs one timed op and checks its output
  * outside the timed window. */
trait Workload {
  def setUp(spark: SparkSession): Unit
  def op(spark: SparkSession, i: Int): OpResult
  /** Ops run per round: the timed loop only stops at a round boundary,
    * so every run times whole rounds. */
  def roundSize: Int = 1
  /** Layer the workload exercises: "mr" or "query". */
  def layer: String
  def tearDown(): Unit = ()
  /** Workload-specific figures for the record (sizes, set-up details). */
  def describe: Map[String, Any] = Map.empty
}

object Workloads {
  /** Warm-up jobs per MR set-up. Job times keep falling over a JVM's
    * first ~8 jobs (JIT): the five set-ups run five, and the timed median
    * (op 20 of at least 40) lies well past that slope. */
  val MrWarmUpOps = 1

  /** Run untimed warm-up ops; a wrong output stops the run. */
  def warmUp(w: Workload, spark: SparkSession, n: Int): Unit =
    for (_ <- 0 until n) {
      val r = w.op(spark, -1)
      if (r.problems.nonEmpty)
        throw new IllegalStateException("warm-up op: " + r.problems.mkString("; "))
    }

  def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** `WordCount.job(in, out, 8).run(spark, exactPartNames = true)`, repeated
  * over one seeded Zipf corpus. */
final class MrBulk(seed: Long, work: Path) extends Workload {
  val spec = Corpus.Spec(files = 24, bytesPerFile = 64 * 1024,
    vocab = 200000, zipfS = 1.05)
  val reducers = 8
  private val in = work.resolve("mr_bulk/in")
  private val out = work.resolve("mr_bulk/out")
  private var corpus: Corpus.Generated = _
  private var expected: java.util.HashMap[String, java.lang.Long] = _
  def layer = "mr"

  def setUp(spark: SparkSession): Unit = {
    Workloads.deleteRec(in)
    corpus = Corpus.generate(seed, spec, in)
    expected = corpus.expected()
    Workloads.warmUp(this, spark, Workloads.MrWarmUpOps)
  }

  def op(spark: SparkSession, i: Int): OpResult = {
    spark.sparkContext.setJobGroup(Trace.group(i), "mr_bulk job")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    graft.mr.WordCount.job(in.toString, out.toString, reducers)
      .run(spark, exactPartNames = true)
    val s = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    OpResult(s, corpus.totalBytes, OutputCheck.check(out, expected, reducers),
      startMs, endMs, outputLines = expected.size)
  }

  override def describe = Map("input_bytes" -> corpus.totalBytes,
    "input_files" -> spec.files, "map_records" -> corpus.totalWords,
    "distinct_words" -> expected.size, "reducers" -> reducers,
    "vocabulary" -> spec.vocab, "zipf_s" -> spec.zipfS)
}

/** Small jobs submitted over `ManagerServer`'s TCP surface
  * (`new_manager_job`, wc_map.sh / wc_reduce.sh, 4 mappers, 2 reducers).
  * Each job reads 4 files drawn from a seeded pool. The server's public
  * `runner` parameter is wrapped so the harness sees each job start and
  * end. */
final class MrJobs(seed: Long, work: Path, root: Path) extends Workload {
  val spec = Corpus.Spec(files = 32, bytesPerFile = 384 * 1024,
    vocab = 200000, zipfS = 1.05)
  val filesPerJob = 4
  val mappers = 4
  val reducers = 2
  private val dir = work.resolve("mr_jobs")
  private var pool: Corpus.Generated = _
  private var server: graft.mr.ManagerServer = _
  private var picks: SplittableRandom = _
  @volatile private var current = 0
  private val done = new LinkedBlockingQueue[MrJobs.Done]()
  def layer = "mr"

  private def exec(name: String): Path = {
    val src = root.resolve("src/test/resources/mr/exec").resolve(name)
    val dst = dir.resolve("exec").resolve(name)
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setExecutable(true)
    dst
  }

  def setUp(spark: SparkSession): Unit = {
    tearDown()
    Workloads.deleteRec(dir)
    pool = Corpus.generate(seed, spec, dir.resolve("pool"))
    picks = new SplittableRandom(seed ^ 0x5eed5eedL)
    exec("wc_map.sh"); exec("wc_reduce.sh")
    server = new graft.mr.ManagerServer(spark, "localhost", 0,
      runner = (s, argv) => {
        val t0 = System.nanoTime()
        s.sparkContext.setJobGroup(Trace.group(current), "mr_jobs job")
        try {
          graft.mr.Submit.run(s, argv)
          done.put(MrJobs.Done(t0, System.nanoTime(), None))
        } catch {
          case e: Throwable =>
            done.put(MrJobs.Done(t0, System.nanoTime(), Some(e))); throw e
        } finally s.sparkContext.clearJobGroup()
      }).start()
    Workloads.warmUp(this, spark, Workloads.MrWarmUpOps)
  }

  private def send(json: String): Unit = {
    val s = new java.net.Socket("localhost", server.boundPort)
    try s.getOutputStream.write(json.getBytes("UTF-8")) finally s.close()
  }

  def op(spark: SparkSession, i: Int): OpResult = {
    // untimed: choose this job's files and lay out its input directory
    val chosen = Iterator.continually(picks.nextInt(spec.files))
      .distinct.take(filesPerJob).toVector
    val in = dir.resolve(s"in-$i")
    val out = dir.resolve(s"out-$i")
    Files.createDirectories(in)
    for (f <- chosen) {
      val name = pool.files(f).name
      Files.createLink(in.resolve(name), dir.resolve("pool").resolve(name))
    }
    val msg = s"""{"message_type": "new_manager_job", "input_directory": "$in",
      |"output_directory": "$out", "mapper_executable": "${dir.resolve("exec/wc_map.sh")}",
      |"reducer_executable": "${dir.resolve("exec/wc_reduce.sh")}",
      |"num_mappers": $mappers, "num_reducers": $reducers}""".stripMargin
    current = i
    done.clear()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    send(msg)
    val closed = System.nanoTime()
    val d = done.poll(120, TimeUnit.SECONDS)
    if (d == null) throw new IllegalStateException(s"job $i did not finish")
    val endMs = System.currentTimeMillis()
    val expected = pool.expected(chosen)
    val problems = d.error.map(e => Seq(s"job threw: $e"))
      .getOrElse(OutputCheck.check(out, expected, reducers))
    Workloads.deleteRec(in); Workloads.deleteRec(out)
    OpResult((d.endNs - t0) / 1e9, chosen.map(pool.files(_).bytes).sum,
      problems, startMs, endMs, intakeS = (d.startNs - closed) / 1e9,
      outputLines = expected.size)
  }

  override def tearDown(): Unit = if (server != null) {
    send("""{"message_type": "shutdown"}""")
    server.awaitTermination()
    server = null
  }

  override def describe = Map("pool_files" -> spec.files,
    "pool_bytes" -> pool.totalBytes, "files_per_job" -> filesPerJob,
    "mappers" -> mappers, "reducers" -> reducers,
    "vocabulary" -> spec.vocab, "zipf_s" -> spec.zipfS)
}

object MrJobs {
  private final case class Done(startNs: Long, endNs: Long,
      error: Option[Throwable])
}

/** TPC-H registry queries at sf0.1 through `SparkEntry.queries`, one op
  * per query. A round runs every query twice, in an order the seed
  * permutes. The sink collects the rows so that every op's result is
  * checked against its recorded digest. */
final class Tpch(seed: Long, fixture: Path, digests: Map[String, String])
    extends Workload {
  val queries: Seq[String] = Tpch.Queries
  private val dir = fixture.toString
  private var fixtureBytes = Map.empty[String, Long]
  /** Each query's time in the set-up (first, cold) round. */
  var coldS = Map.empty[String, Double]
  def layer = "query"
  override def roundSize: Int = 2 * queries.size

  private def order(round: Int): IndexedSeq[String] = {
    val rng = new SplittableRandom(seed * 1000003L + round)
    val a = (queries ++ queries).toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** A cold pass: each query's first run in the JVM. */
  def setUp(spark: SparkSession): Unit = {
    coldS = queries.map { q =>
      val r = run(spark, q, -1)
      if (r.problems.nonEmpty)
        throw new IllegalStateException(s"$q warm-up: " + r.problems.mkString("; "))
      q -> r.latencyS
    }.toMap
    // fixture bytes each query's plan reads (for input_mb_per_s)
    fixtureBytes = queries.map { q =>
      q -> graft.SparkEntry.queries(q)(spark, dir).inputFiles.distinct
        .map(f => new java.net.URI(f)).filter(_.getPath.startsWith(fixture.toString))
        .map(u => new java.io.File(u.getPath).length).sum
    }.toMap
  }

  def op(spark: SparkSession, i: Int): OpResult =
    run(spark, order(i / roundSize)(i % roundSize), i)

  private def run(spark: SparkSession, q: String, i: Int): OpResult = {
    val sc = spark.sparkContext
    sc.setJobGroup(Trace.group(i), q)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(q)(spark, dir)
    val buildEndMs = System.currentTimeMillis()
    val built = System.nanoTime()
    val rows = df.collect()
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    val got = Tpch.digest(df.schema.fieldNames.toSeq, rows)
    val problems = digests.get(q) match {
      case None => Seq(s"$q: no recorded digest")
      case Some(want) if want != got => Seq(s"$q: digest $got, recorded $want")
      case _ => Nil
    }
    OpResult((t1 - t0) / 1e9, fixtureBytes.getOrElse(q, 0L), problems,
      startMs, endMs, buildEndMs = buildEndMs, buildS = (built - t0) / 1e9,
      outputLines = rows.length, label = q)
  }

  override def describe = Map("queries" -> queries, "cold_s" -> coldS,
    "fixture_bytes" -> fixtureBytes)
}

object Tpch {
  /** Execution-bound queries on the exact-decimal path. A short list
    * keeps the cold first pass (the set-up) and the ops per run in budget;
    * see README.md. */
  val Queries: Seq[String] = Seq("q1_pricing", "q3_shipping",
    "q6_forecast_revenue", "q14_promo_effect", "q19_disjunctive")

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** sha256 over the column names and the rows rendered as text, rows
    * sorted, so the digest does not depend on row order. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(render).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString("\t").getBytes("UTF-8"))
    for (l <- lines) { md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Load `name -> sha256` pairs from the digest file. */
  def loadDigests(file: Path): Map[String, String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(file.toFile).get("queries")
    import scala.jdk.CollectionConverters._
    root.properties().asScala.map(e => e.getKey -> e.getValue.get("sha256").asText).toMap
  }
}
