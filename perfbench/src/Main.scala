package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in its own JVM: one workload, one seed, one client.
  *
  * Phases, in order:
  *  1. set-up (timed as `setup_s`, from JVM start): the session and one
  *     check pass that runs every item once and keeps its output for the
  *     output check. It is also the warm-up: first executions pay class
  *     loading, JIT and code generation. A separate noop warm-up pass
  *     makes the first timed pass 10-25% faster, but it costs 10 s a run
  *     and did not narrow the run-to-run spread;
  *  2. the timed region: closed-loop passes, each a seeded permutation of
  *     the workload's items, until `--seconds` have elapsed (the last pass
  *     is finished, so every item is timed equally often);
  *  3. with `--trace 1`: every other timed pass runs with the [[Tracer]]
  *     attached, and a direct `ArrowIpc` write/read probe on `lineitem`.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --scratch DIR --out FILE`. The raw record goes to `--out`
  * (spans to `--out`.spans.jsonl); `run.py` turns it into metrics.
  */
object Main {

  /** Wall clock in epoch ms (as Spark's listener events), ticking with
    * the monotonic nanosecond timer. */
  private val epochBaseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def now(): Double = epochBaseMs + System.nanoTime() / 1e6

  private def procField(file: String, key: String): Option[String] = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.drop(key.length).trim)
    finally src.close()
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val f = procField("/proc/stat", "cpu ").get.split("\\s+").map(_.toLong)
    (f(7), f.sum)
  }

  private def loadavg(): String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim finally src.close()
  }

  /** Starts tracking the largest heap occupancy right after a garbage
    * collection; returns a reader of that peak in MB. The heap itself is
    * fixed and pre-touched, so this is where retained work shows. */
  private def heapAfterGcPeak(): () => Double = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener({ (n, _) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            peak.accumulateAndGet(used, math.max(_, _))
          }
        }, null, null)
      case _ => ()
    }
    () => peak.get / 1048576.0
  }

  /** Data files under `dir` (hidden and `_SUCCESS`-style markers excluded). */
  private def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String): String =
      opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val data = arg("data")
    val scratch = arg("scratch")
    val out = arg("out")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val heapPeak = heapAfterGcPeak()
    val cores = Runtime.getRuntime.availableProcessors
    val host = mutable.LinkedHashMap[String, Any](
      "nproc" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "loadavg_start" -> loadavg())

    val spark: SparkSession = graft.GraftSession.local(
      cores = cores, shufflePartitions = cores, appName = s"perfbench-$workload")
    val sc = spark.sparkContext
    val ioDir = s"$scratch/io"
    val items = Workloads(workload, ioDir)
    val rng = new scala.util.Random(seed)

    /** Run one item through the noop sink. Returns (t0, t1, t2) epoch ms:
      * build start, build end, write end; or the error. */
    def runOnce(item: Item, id: String): Either[String, (Double, Double, Double)] = {
      sc.setJobGroup(id, item.name)
      val t0 = now()
      try {
        val df = item.build(spark, data)
        val t1 = now()
        df.write.format("noop").mode("overwrite").save()
        Right((t0, t1, now()))
      } catch {
        case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}")
      } finally sc.clearJobGroup()
    }

    /** Row count and order-independent row-hash sum (exact, in decimal),
      * columns taken in `cols` order: equal for two frames holding the
      * same multiset of rows, up to 64-bit hash collisions. */
    def fingerprint(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).fold(BigDecimal(0))(BigDecimal(_)))
    }
    val sessionS = (now() - jvmStart) / 1e3

    // 1. set-up: the check pass, which keeps outputs for check.py
    val checks = items.map { item =>
      val rec = mutable.LinkedHashMap[String, Any]("name" -> item.name)
      sc.setJobGroup(s"check/${item.name}", item.name)
      val t0 = now()
      try {
        val df = item.build(spark, data)
        item.check match {
          case Oracle(sql) =>
            rec ++= Seq("kind" -> "oracle", "sql" -> sql)
            df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/out/${item.name}")
          case Shape =>
            rec += "kind" -> "shape"
            df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/out/${item.name}")
          case RoundTrip(source) =>
            val src = source(spark, data)
            rec ++= Seq("kind" -> "roundtrip",
              "ok" -> (fingerprint(src, src.columns) == fingerprint(df, src.columns)))
        }
      } catch {
        case e: Throwable => rec += "error" -> s"${e.getClass.getName}: ${e.getMessage}"
      } finally sc.clearJobGroup()
      rec += "s" -> (now() - t0) / 1e3
    }
    val setupS = (now() - jvmStart) / 1e3

    // 2. timed region
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val samples = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val jiffies0 = cpuJiffies()
    val start = now()
    val deadline = start + seconds * 1e3
    var pass = 0
    // traced runs alternate traced/untraced passes and end on an even
    // count, so the overhead compares equal numbers of each; the seed's
    // parity picks which comes first, as later passes run a little faster
    while (now() < deadline || (traced && pass % 2 == 1)) {
      val tracing = tracer.filter(_ => (pass + seed) % 2 == 0)
      tracing.foreach(_.attach())
      var total = 0.0
      rng.shuffle(items).zipWithIndex.foreach { case (item, seq) =>
        val id = s"$workload/$pass/$seq"
        tracing.foreach(_.begin())
        val rec = mutable.LinkedHashMap[String, Any](
          "id" -> id, "name" -> item.name, "pass" -> pass, "seq" -> seq)
        runOnce(item, id) match {
          case Right((t0, t1, t2)) =>
            rec += "s" -> (t2 - t0) / 1e3
            total += (t2 - t0) / 1e3
            tracing.foreach(_.finish(id, item.name, t0, t1, t2,
              dataFiles(new File(s"$ioDir/${item.name}")).size.toLong))
          case Left(err) =>
            rec += "error" -> err
        }
        samples += rec
      }
      tracing.foreach(_.detach())
      passes += mutable.LinkedHashMap(
        "pass" -> pass, "traced" -> tracing.isDefined, "total_s" -> total)
      pass += 1
    }
    val timedS = (now() - start) / 1e3
    val peakRssMb = procField("/proc/self/status", "VmHWM:")
      .map(_.stripSuffix("kB").trim.toDouble / 1024).getOrElse(Double.NaN)
    val jiffies1 = cpuJiffies()
    host ++= Seq("loadavg_end" -> loadavg(),
      "steal_frac" -> (jiffies1._1 - jiffies0._1).toDouble / (jiffies1._2 - jiffies0._2))

    // 3. direct graft.sources probe (traced runs only; outside the timed region)
    val sources = tracer.map { _ =>
      val src = graft.Tables.lineitem(spark, data)
      val dir = s"$scratch/probe/ipc"
      def ms(f: => Unit): Double = { val t = now(); f; now() - t }
      val reps = (1 to 3).map { _ =>
        (ms(graft.sources.ArrowIpc.write(src, dir)),
          ms(graft.sources.ArrowIpc.read(spark, dir)
            .write.format("noop").mode("overwrite").save()))
      }
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      Map(
        "ipc_write_ms" -> median(reps.map(_._1)),
        "ipc_read_ms" -> median(reps.map(_._2)),
        "ipc_bytes_per_input_byte" ->
          dataFiles(new File(dir)).map(_.length).sum.toDouble /
            new File(s"$data/lineitem.parquet").length)
    }
    spark.stop()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "host" -> host, "setup_s" -> setupS,
      "session_s" -> sessionS, "timed_s" -> timedS,
      "peak_rss_mb" -> peakRssMb, "heap_after_gc_peak_mb" -> heapPeak(),
      "checks" -> checks, "passes" -> passes, "samples" -> samples)
    tracer.foreach { t =>
      record ++= Seq("layers" -> t.records, "sources" -> sources.get)
    }
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.writeString(Paths.get(out), json.writeValueAsString(record))
    tracer.foreach { t =>
      Files.writeString(Paths.get(s"$out.spans.jsonl"),
        t.spans.map(json.writeValueAsString).mkString("", "\n", "\n"))
    }
    System.exit(0)
  }
}
