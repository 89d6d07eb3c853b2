package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage profiler for one or more registry queries — the measurement
  * companion of [[Bench]] (find WHERE the time goes before touching
  * anything).
  *
  * For each named query it runs the plan once to warm it, then once more
  * through the noop sink with a listener attached, then prints every
  * stage's wall time, task count and input/shuffle bytes, ordered by
  * cost. Stage names carry the first line of their call site, which for
  * SQL stages is the operator that created them — enough to map a stage
  * back to the plan.
  *
  * Usage: `runMain graft.Profile q61_bootstrap graph_pagerank`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
  */
object Profile {

  private final case class StageRow(
      id: Int, name: String, tasks: Int,
      wallMs: Long, taskTimeMs: Long,
      inputMB: Double, shReadMB: Double, shWriteMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "Profile: pass query names")
    val names = Bench.queries(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv(32, "graft-profile")

    val stages = mutable.Map[Int, StageRow]()
    val submitted = mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted(e.stageInfo.stageId) = System.currentTimeMillis()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(
          System.currentTimeMillis() - submitted.getOrElse(si.stageId, 0L))
        val m = si.taskMetrics
        stages(si.stageId) = StageRow(
          si.stageId, si.name.linesIterator.next(), si.numTasks,
          wall, m.executorRunTime,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6)
      }
    }

    names.foreach { name =>
      // warmup: codegen/classload paid outside the profile
      Bench.runOnce(spark, sfDir, name)
      stages.clear(); submitted.clear()
      spark.sparkContext.addSparkListener(listener)
      val sec = Bench.runOnce(spark, sfDir, name)
      spark.sparkContext.removeSparkListener(listener)
      // listener bus is async; give completion events a moment to drain
      Thread.sleep(300)
      println(f"%n== $name  total ${sec}%.3f s  (${stages.size} stages) ==")
      println(f"${"stage"}%7s ${"wall_ms"}%8s ${"tasks"}%5s ${"cpu_ms"}%8s " +
        f"${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s  name")
      stages.values.toSeq.sortBy(-_.wallMs).take(40).foreach { r =>
        println(f"${r.id}%7d ${r.wallMs}%8d ${r.tasks}%5d ${r.taskTimeMs}%8d " +
          f"${r.inputMB}%8.1f ${r.shReadMB}%8.1f ${r.shWriteMB}%8.1f  ${r.name.take(90)}")
      }
    }
    spark.stop()
  }
}
