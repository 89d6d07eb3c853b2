package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

import scala.collection.mutable

/** One traced interval on the client JVM's wall clock (epoch ms). */
final case class Span(
    kind: String, id: String, parent: String, name: String,
    startMs: Double, endMs: Double)

/** Collects per-query layer numbers from Spark's public listeners.
  *
  * The client runs one query at a time and calls [[finish]] after each
  * one; `finish` drains the listener bus first, so every event processed
  * since [[begin]] belongs to that query. Spans and per-query records
  * stay in memory until the run writes them out.
  */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext

  // events of the current query; guarded by `this` (two bus queues call in)
  private val jobs = mutable.LinkedHashMap[Int, (Long, Long)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[StageInfo]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  // block manager contents seen since the last attach
  private val blocks = mutable.Map[BlockId, Long]()
  private var blockBytes = 0L
  private var blockPeak = 0L

  val spans = mutable.ArrayBuffer[Span]()
  val records = mutable.ArrayBuffer[Map[String, Any]]()

  /** Blocks stored while detached are not seen, so the block tally
    * restarts at each attach (blocks outliving a query are rare: loops
    * free their rounds and the context cleaner drops the rest). */
  def attach(): Unit = {
    synchronized { blocks.clear(); blockBytes = 0L }
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  def begin(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); phases.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += e.stageInfo }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val bytes = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    blockBytes += bytes - blocks.getOrElse(i.blockId, 0L)
    if (bytes > 0) blocks(i.blockId) = bytes else blocks.remove(i.blockId)
    blockPeak = math.max(blockPeak, blockBytes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        phases += ((phase, p.startTimeMs, p.endTimeMs))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var end = Double.NegativeInfinity
    clipped.foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  /** Close query `id`: build ran over [t0, t1] and the noop write over
    * [t1, t2] (epoch ms). Records spans and the per-query layer numbers. */
  def finish(id: String, name: String, t0: Double, t1: Double, t2: Double,
      outputFiles: Long): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val jobIv = jobs.toSeq.map { case (j, (s, e)) =>
        j -> (s.toDouble, if (e < 0) t2 else e.toDouble)
      }
      val stageIv = stages.toSeq.map { si =>
        si -> (si.submissionTime.getOrElse(t0.toLong).toDouble,
          si.completionTime.getOrElse(t2.toLong).toDouble)
      }
      spans += Span("query", id, "", name, t0, t2)
      spans += Span("build", s"$id/build", id, name, t0, t1)
      spans += Span("execute", s"$id/execute", id, name, t1, t2)
      phases.foreach { case (p, s, e) =>
        val parent = if (s < t1) s"$id/build" else s"$id/execute"
        spans += Span("plan", s"$id/plan/$p", parent, p, s.toDouble, e.toDouble)
      }
      jobIv.foreach { case (j, (s, e)) =>
        spans += Span("job", s"$id/job/$j", id, j.toString, s, e)
      }
      stageIv.foreach { case (si, (s, e)) =>
        spans += Span("stage", s"$id/stage/${si.stageId}",
          stageJob.get(si.stageId).fold(id)(j => s"$id/job/$j"),
          si.name.linesIterator.nextOption().getOrElse(""), s, e)
      }

      def phaseMs(p: String) = phases.collect {
        case (`p`, s, e) => (e - s).toDouble
      }.sum
      val planBuild = phases.collect { case (_, s, e) if s < t1 => (e - s).toDouble }.sum
      val planAll = phases.map { case (_, s, e) => (e - s).toDouble }.sum
      val jobs0 = jobIv.map(_._2)
      val jobBuild = covered(jobs0, t0, t1)
      val jobExec = covered(jobs0, t1, t2)
      val stageAll = covered(stageIv.map(_._2), t0, t2)
      val m = stages.map(_.taskMetrics).filter(_ != null)
      def sumL(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).sum.toDouble
      val mb = 1e6
      records += Map(
        "id" -> id, "name" -> name,
        "query.ms" -> (t2 - t0),
        "build.ms" -> (t1 - t0),
        "build.jobs" -> jobIv.count(_._2._1 < t1).toDouble,
        "catalyst.analysis_ms" -> phaseMs("analysis"),
        "catalyst.optimizer_ms" -> phaseMs("optimization"),
        "catalyst.planning_ms" -> phaseMs("planning"),
        "exec.ms" -> (t2 - t1),
        "sched.jobs" -> jobIv.size.toDouble,
        "sched.stages" -> stages.size.toDouble,
        "sched.tasks" -> stages.map(_.numTasks).sum.toDouble,
        "sched.serial_stages" -> stages.count(_.numTasks == 1).toDouble,
        "task.run_ms" -> sumL(_.executorRunTime),
        "task.cpu_ms" -> sumL(_.executorCpuTime) / 1e6,
        "task.gc_ms" -> sumL(_.jvmGCTime),
        "shuffle.write_mb" -> sumL(_.shuffleWriteMetrics.bytesWritten) / mb,
        "shuffle.read_mb" -> sumL(_.shuffleReadMetrics.totalBytesRead) / mb,
        "shuffle.fetch_wait_ms" -> sumL(_.shuffleReadMetrics.fetchWaitTime),
        "spill.mb" -> sumL(_.diskBytesSpilled) / mb,
        "scan.input_mb" -> sumL(_.inputMetrics.bytesRead) / mb,
        "scan.input_rows" -> sumL(_.inputMetrics.recordsRead),
        "output.mb" -> sumL(_.outputMetrics.bytesWritten) / mb,
        "output.files" -> outputFiles.toDouble,
        "storage.block_mb_peak" -> blockPeak / mb,
        "self.build_ms" -> ((t1 - t0) - jobBuild - planBuild),
        "self.plan_ms" -> planAll,
        "self.execute_ms" -> ((t2 - t1) - jobExec - (planAll - planBuild)),
        "self.job_ms" -> (jobBuild + jobExec - stageAll),
        "self.stage_ms" -> stageAll)
    }
  }
}
