package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer figures, gathered by a [[SparkListener]] and a
  * [[QueryExecutionListener]] that the harness registers on the session.
  *
  * Each op tags the jobs it starts with a job group (see [[Trace.group]]);
  * stages and tasks reach the op through their job. Catalyst phase times
  * carry wall-clock stamps and are matched to the op window that holds
  * them. Nothing here runs inside the program's own code. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private final class StageAgg(val id: Int) {
    var submitted, completed = 0L
    var tasks = 0
    var runMs, gcMs, fetchWaitMs = 0L
    var writeNs, writeBytes, writeRecords = 0L
    var readRecords, inputRecords, spillBytes = 0L
    val readPerTask = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val ended = mutable.HashSet.empty[Int]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, g, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { ended += e.jobId; () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.submitted = i.submissionTime.getOrElse(0L)
      s.completed = i.completionTime.getOrElse(s.submitted)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      // records, not bytes: bytesRead reported ~18 KB for q1_pricing's
      // scan of a 10.8 MB parquet file
      s.inputRecords += m.inputMetrics.recordsRead
      s.spillBytes += m.diskBytesSpilled
      s.writeNs += m.shuffleWriteMetrics.writeTime
      s.writeBytes += m.shuffleWriteMetrics.bytesWritten
      s.writeRecords += m.shuffleWriteMetrics.recordsWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.readRecords += m.shuffleReadMetrics.recordsRead
      s.readPerTask += m.shuffleReadMetrics.recordsRead
    }
  }

  private object Phases extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      for ((name, p) <- qe.tracker.phases
           if name == "analysis" || name == "optimization" || name == "planning")
        phases += ((p.startTimeMs, p.endTimeMs))
      ()
    }
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(Phases)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(Phases)
  }

  /** Wait until every event of the jobs run so far has been seen: a
    * marker job runs last, and its end event queues behind theirs. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "trace drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = synchronized {
      jobs.exists(j => j.group == MarkerGroup && ended(j.id)) &&
        jobs.forall(j => ended(j.id))
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
    // SQL phase events travel on their own listener queue; give it a beat
    Thread.sleep(200)
    synchronized { jobs.filterInPlace(_.group != MarkerGroup); () }
  }

  /** Layer figures of the op tagged `op`, whose wall window was
    * [startMs, endMs] and whose build phase (queries only) ended at
    * `buildEndMs`. Call after [[drain]]. */
  def op(op: Int, startMs: Long, endMs: Long,
      buildEndMs: Long = Long.MinValue): OpLayers = synchronized {
    val own = jobs.filter(j => j.group == group(op)).toSeq
    val ids = own.flatMap(_.stageIds).distinct
    val ss = ids.flatMap(stages.get).filter(_.completed > 0).toSeq
    val map = ss.filter(_.writeRecords > 0)
    val reduce = ss.filter(s => s.readRecords > 0 && s.writeRecords == 0)
    def wallMs(xs: Seq[StageAgg]) =
      Stats.unionLength(xs.map(s => (s.submitted, s.completed)))
    val readPerTask = reduce.flatMap(_.readPerTask)
    val wall = (endMs - startMs).toDouble / 1000
    val inStages = wallMs(ss).toDouble / 1000
    OpLayers(
      wallS = wall,
      jobs = own.size,
      buildJobs = own.count(_.start <= buildEndMs),
      stages = ss.size,
      tasks = ss.map(_.tasks).sum,
      stageS = inStages,
      taskS = ss.map(_.runMs).sum / 1000.0,
      gcS = ss.map(_.gcMs).sum / 1000.0,
      driverGapS = wall - inStages,
      mapStageS = wallMs(map) / 1000.0,
      mapTaskS = map.map(_.runMs).sum / 1000.0,
      shuffleWriteS = ss.map(_.writeNs).sum / 1e9,
      shuffleRecords = ss.map(_.writeRecords).sum,
      shuffleBytes = ss.map(_.writeBytes).sum,
      spillBytes = ss.map(_.spillBytes).sum,
      inputRecords = ss.map(_.inputRecords).sum,
      reduceStageS = wallMs(reduce) / 1000.0,
      reduceTaskS = reduce.map(_.runMs).sum / 1000.0,
      fetchWaitS = reduce.map(_.fetchWaitMs).sum / 1000.0,
      reduceSkew =
        if (readPerTask.isEmpty || readPerTask.sum == 0) 0.0
        else readPerTask.max * readPerTask.size.toDouble / readPerTask.sum,
      planS = phases.iterator
        .filter { case (s, e) => s >= startMs && e <= endMs }
        .map { case (s, e) => (e - s) / 1000.0 }.sum)
  }
}

object Trace {
  private final case class Job(id: Int, group: String, start: Long,
      stageIds: Seq[Int])

  val MarkerGroup = "perfbench-drain"
  def group(op: Int): String = s"perfbench-op-$op"

  /** One op's figures from the listeners (seconds, counts, bytes). */
  final case class OpLayers(wallS: Double, jobs: Int, buildJobs: Int,
      stages: Int, tasks: Int, stageS: Double, taskS: Double, gcS: Double,
      driverGapS: Double, mapStageS: Double, mapTaskS: Double,
      shuffleWriteS: Double, shuffleRecords: Long, shuffleBytes: Long,
      spillBytes: Long, inputRecords: Long, reduceStageS: Double,
      reduceTaskS: Double, fetchWaitS: Double, reduceSkew: Double,
      planS: Double)
}
