package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, time a closed loop of ops for `--seconds`,
  * check every op's output, and write the run's record and summary as JSON
  * to `--result`.
  *
  *   perfbench.Main --workload mr_bulk --seed 1 --seconds 10 --trace 0
  *     --root <checkout> --work <scratch dir> --result <file>
  *     [--git-sha <sha>] [--source-digest <hex>]
  *
  * Normally launched by run.py, which builds the classpath first. */
object Main {

  val WorkloadNames = Seq("mr_bulk", "mr_jobs", "tpch")
  val Sf = "0.1"

  final case class Args(workload: String = "", seed: Long = 0,
      seconds: Double = 20, trace: Boolean = false, root: Path = Paths.get("."),
      work: Path = Paths.get("work"), result: Path = Paths.get("result.json"),
      gitSha: String = "", sourceDigest: String = "")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--root" :: v :: rest => parse(rest, a.copy(root = Paths.get(v).toAbsolutePath))
    case "--work" :: v :: rest => parse(rest, a.copy(work = Paths.get(v).toAbsolutePath))
    case "--result" :: v :: rest => parse(rest, a.copy(result = Paths.get(v)))
    case "--git-sha" :: v :: rest => parse(rest, a.copy(gitSha = v))
    case "--source-digest" :: v :: rest => parse(rest, a.copy(sourceDigest = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(a: Args, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.graft.oracleExport", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set-up repetitions: fresh session, inputs and warm-up each time. The
    * query workload sets up once: its warm-up fills JVM-wide code caches,
    * so a second one in the same JVM would not be a set-up. */
  def setUpReps(w: Workload): Int = if (w.layer == "mr") 5 else 1

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  /** Cumulative steal time of all CPUs, in USER_HZ ticks (0 if unknown). */
  def stealTicks(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
      finally f.close()
    } catch { case _: Exception => 0L }

  /** The process's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    import scala.jdk.CollectionConverters._
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Memory the program holds on to, in MB: the heap still live after a
    * full collection, plus committed non-heap memory (metaspace, code
    * cache). VmHWM does not show this: it is mostly the part of the fixed
    * 2 GB heap that the collector happened to touch. */
  def retainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    (mx.getHeapMemoryUsage.getUsed + mx.getNonHeapMemoryUsage.getCommitted) /
      1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv.toList)); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace(System.err)
          1
      }
    System.exit(code)
  }

  def run(a: Args): Unit = {
    require(WorkloadNames.contains(a.workload),
      s"--workload must be one of ${WorkloadNames.mkString(", ")}")
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(a.work)
    val bench = a.root.resolve("perfbench")
    val w: Workload = a.workload match {
      case "mr_bulk" => new MrBulk(a.seed, a.work)
      case "mr_jobs" => new MrJobs(a.seed, a.work, a.root)
      case "tpch" => new Tpch(a.seed, bench.resolve("fixture/sf0.1"),
        Tpch.loadDigests(bench.resolve("digests.json")))
    }

    // ---- set-up, repeated on fresh sessions ----
    var spark: SparkSession = null
    val setups = (0 until setUpReps(w)).map { rep =>
      if (spark != null) { w.tearDown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(a, cpus)
      w.setUp(spark)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up ${rep + 1}: $s%.2f s")
      s
    }
    val trace = if (a.trace) Some(new Trace(spark).register()) else None

    // ---- timed closed loop: whole rounds until `seconds` of op time and
    // at least Stats.MinSamples ops, so that a tail percentile exists ----
    val ops = Vector.newBuilder[OpResult]
    var spent = 0.0
    var i = 0
    val steal0 = stealTicks()
    val wall0 = System.nanoTime()
    while (spent < a.seconds || i < Stats.MinSamples || i % w.roundSize != 0) {
      val t0 = System.nanoTime()
      val r =
        try w.op(spark, i)
        catch {
          case e: Exception =>
            OpResult((System.nanoTime() - t0) / 1e9, 0, Seq(s"op $i threw: $e"), 0, 0)
        }
      ops += r
      spent += r.latencyS
      i += 1
    }
    val all = ops.result()
    // share of the machine's CPU time the hypervisor took during the loop
    val stealFrac = (stealTicks() - steal0) / 100.0 /
      ((System.nanoTime() - wall0) / 1e9 * cpus)
    log(f"${all.size} ops timed, $spent%.2f s of op time, steal $stealFrac%.3f")
    trace.foreach(_.drain())
    val hwm = vmHwmMb()
    val retained = retainedMb()
    w.tearDown()
    log("torn down")

    val okOps = all.filter(_.problems.isEmpty)
    val failed = all.size - okOps.size
    val lat = okOps.map(_.latencyS)
    val opTime = lat.sum
    val tail = Stats.tail(lat)
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("op_p50_s", if (lat.isEmpty) 0.0 else Stats.median(lat), "s"),
      ("op_tail_s", tail.map(_.value).getOrElse(0.0), "s"),
      ("ops_per_s", if (opTime > 0) okOps.size / opTime else 0.0, "1/s"),
      ("input_mb_per_s",
        if (opTime > 0) okOps.map(_.inputBytes).sum / 1e6 / opTime else 0.0, "MB/s"),
      ("retained_mb", retained, "MB"))
    // each op joined with its layer figures, once
    val traced = trace.map(t => all.zipWithIndex.map { case (o, i) =>
      (o, t.op(i, o.startMs, o.endMs, o.buildEndMs))
    })
    val tracedOk = traced.map(_.filter(_._1.problems.isEmpty))
    val layers = tracedOk.map(Layers.figures(w, _)).getOrElse(Nil)
    val accounted =
      tracedOk.filter(_ => w.layer == "mr").map(Layers.accountedFrac)
    val perOp = traced.map(_.map { case (o, l) =>
      Json.obj("label" -> o.label, "latency_s" -> o.latencyS, "jobs" -> l.jobs,
        "tasks" -> l.tasks, "stage_s" -> l.stageS, "task_s" -> l.taskS,
        "input_records" -> l.inputRecords, "shuffle_bytes" -> l.shuffleBytes)
    })
    trace.foreach(_.unregister())
    spark.stop()

    val problems = all.flatMap(_.problems).take(10)
    val metrics = if (a.trace) layers else endToEnd
    val summary = Json.obj(
      "correct" -> (failed == 0 && tail.isDefined),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u)
      }: _*))
    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> cpus, "sf" -> Sf,
      "git_sha" -> (if (a.gitSha.isEmpty) null else a.gitSha),
      "source_digest" -> a.sourceDigest,
      "time" -> java.time.Instant.now().toString,
      "attempted" -> all.size, "failed" -> failed,
      "failed_frac" -> (if (all.isEmpty) 0.0 else failed.toDouble / all.size),
      "setup_reps_s" -> setups,
      "cpu_steal_frac" -> stealFrac,
      "vm_hwm_mb" -> hwm,
      "op_tail_percentile" -> tail.map(_.percentile),
      "op_tail_beyond" -> tail.map(_.beyond),
      "end_to_end" -> Json.obj(endToEnd.map { case (n, v, _) => n -> v }: _*),
      "per_layer" -> Json.obj(layers.map { case (n, v, _) => n -> v }: _*),
      "stages_plus_gap_over_wall" -> accounted,
      "op_latencies_s" -> all.map(_.latencyS),
      "traced_ops" -> perOp,
      "problems" -> problems,
      "workload_detail" -> w.describe)
    Files.writeString(a.result,
      Json.render(Json.obj("record" -> record, "summary" -> summary)) + "\n")
  }
}

/** Per-layer figures of a traced run: the median over ops of each op's
  * figure. A workload reports the layer it does not exercise as 0. */
object Layers {
  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** `ls`: the run's correct ops, each with its layer figures. */
  def figures(w: Workload, ls: Seq[(OpResult, Trace.OpLayers)])
      : Seq[(String, Double, String)] = {
    def m(f: Trace.OpLayers => Double) = med(ls.map(x => f(x._2)))
    def mo(f: OpResult => Double) = med(ls.map(x => f(x._1)))
    val mr = w.layer == "mr"
    val q = w.layer == "query"
    def only(on: Boolean, v: => Double) = if (on) v else 0.0
    Seq(
      ("mr.map.stage_s", only(mr, m(_.mapStageS)), "s"),
      ("mr.map.task_s", only(mr, m(_.mapTaskS)), "s"),
      ("mr.shuffle.write_s", only(mr, m(_.shuffleWriteS)), "s"),
      ("mr.shuffle.records", only(mr, m(_.shuffleRecords.toDouble)), "count"),
      ("mr.shuffle.bytes", only(mr, m(_.shuffleBytes.toDouble)), "bytes"),
      ("mr.shuffle.spill_bytes", only(mr, m(_.spillBytes.toDouble)), "bytes"),
      ("mr.reduce.stage_s", only(mr, m(_.reduceStageS)), "s"),
      ("mr.reduce.task_s", only(mr, m(_.reduceTaskS)), "s"),
      ("mr.reduce.fetch_wait_s", only(mr, m(_.fetchWaitS)), "s"),
      ("mr.reduce.skew", only(mr, m(_.reduceSkew)), "ratio"),
      ("mr.combine_ratio", only(mr, med(ls.map { case (o, l) =>
        if (o.outputLines > 0) l.shuffleRecords.toDouble / o.outputLines else 0.0
      })), "ratio"),
      ("mr.gc_s", only(mr, m(_.gcS)), "s"),
      ("mr.intake_s", only(mr, mo(_.intakeS)), "s"),
      ("mr.jobs", only(mr, m(_.jobs.toDouble)), "count"),
      ("mr.stages", only(mr, m(_.stages.toDouble)), "count"),
      ("mr.tasks", only(mr, m(_.tasks.toDouble)), "count"),
      ("mr.driver_gap_s", only(mr, m(_.driverGapS)), "s"),
      ("query.stage_s", only(q, m(_.stageS)), "s"),
      ("query.task_s", only(q, m(_.taskS)), "s"),
      ("query.parallelism", only(q, m(l => if (l.stageS > 0) l.taskS / l.stageS else 0.0)), "ratio"),
      ("query.shuffle_bytes", only(q, m(_.shuffleBytes.toDouble)), "bytes"),
      ("query.spill_bytes", only(q, m(_.spillBytes.toDouble)), "bytes"),
      ("query.input_records", only(q, m(_.inputRecords.toDouble)), "count"),
      ("query.gc_s", only(q, m(_.gcS)), "s"),
      ("query.build_s", only(q, mo(_.buildS)), "s"),
      ("query.build_jobs", only(q, m(_.buildJobs.toDouble)), "count"),
      ("query.plan_s", only(q, m(_.planS)), "s"),
      ("query.jobs", only(q, m(_.jobs.toDouble)), "count"),
      ("query.tasks", only(q, m(_.tasks.toDouble)), "count"),
      ("query.driver_gap_s", only(q, m(_.driverGapS)), "s"),
      ("query.first_run_extra_s", only(q, firstRunExtra(w, ls.map(_._1))), "s"))
  }

  /** Median over ops of (map stage + reduce stage + driver gap) / wall.
    * The driver gap is the wall minus the union of all the op's stages, so
    * this is a consistency check, not an independent timing: it reads 1
    * unless the op has stages that are neither map nor reduce (below 1) or
    * its map and reduce stages overlap (above 1). */
  def accountedFrac(ls: Seq[(OpResult, Trace.OpLayers)]): Double =
    med(ls.map { case (_, l) =>
      if (l.wallS > 0) (l.mapStageS + l.reduceStageS + l.driverGapS) / l.wallS
      else 0.0
    })

  /** Cold (set-up round) minus median warm time over `ops`, summed over
    * queries. */
  private def firstRunExtra(w: Workload, ops: Seq[OpResult]): Double = w match {
    case t: Tpch =>
      val warm = ops.groupBy(_.label)
        .map { case (q, xs) => q -> Stats.median(xs.map(_.latencyS)) }
      t.coldS.map { case (q, c) => c - warm.getOrElse(q, c) }.sum
    case _ => 0.0
  }
}

/** JSON through the Jackson (and its Scala module) that Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** An object whose fields keep their order. */
  def obj(fields: (String, Any)*): scala.collection.immutable.ListMap[String, Any] =
    scala.collection.immutable.ListMap(fields: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
