package graft

import org.apache.spark.sql.SparkSession

/** Session factory with configuration tuned for the graft engine.
  *
  * Scale notes (designed for a 1000-executor cluster over ~100 TB, tested on
  * `local[32]`):
  *  - AQE on: runtime partition coalescing, skew-join splitting and dynamic
  *    join-strategy selection replace hand-tuned partition counts.
  *  - Runtime bloom filters on: probe-side pre-filtering for selective joins —
  *    the Spark analogue of the reference's bloom-filter pushdown
  *    (reference: cpp/src/arrow/acero/hash_join_node.cc:498-532).
  *  - Parquet TIMESTAMP(NANOS) columns (unsupported by Spark's reader) are
  *    read as raw nanos via `spark.sql.legacy.parquet.nanosAsLong` and
  *    normalized to microsecond timestamps by [[Tables.events]].
  *  - Session timezone pinned to UTC so temporal results are reproducible
  *    across engines.
  */
object GraftSession {

  /** Confs that are safe to set on an already-running session. */
  val runtimeConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // parallelism-first coalescing cannot split below minPartitionSize
    // (default 1 MB) — on compact columnar rows (hashed shingles, id
    // pairs) 1 MB is ~100 K rows, so a CPU-heavy stage fed by a small-
    // byte exchange (rank windows over inverted indexes, pair verifies)
    // collapses onto ONE core. 256 KB keeps those stages at the session's
    // parallelism (a 64 KB floor over-fragmented CPU-light small
    // exchanges and was rolled back); at cluster scale big shuffles are
    // unaffected (their partitions sit near advisoryPartitionSizeInBytes)
    // and the floor only admits more small tasks where the alternative
    // was idle cores.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
  )

  /** Apply [[runtimeConf]] to an externally created session (e.g. the
    * driver's) and register the graft_* SQL functions. Unknown/static
    * confs are skipped silently. */
  def tune(spark: SparkSession): SparkSession = {
    runtimeConf.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: Throwable => () }
    }
    GraftFunctions.register(spark)
    spark
  }

  /** Local session for tests / bench. `shufflePartitions` should match the
    * local core count, not the 200 default (which only makes sense on a
    * cluster — and there AQE coalescing manages it anyway). */
  def local(
      cores: Int = 32,
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
    runtimeConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** The session of the command-line mains: [[local]] with as many cores
    * and shuffle partitions as `SPARK_GRAFT_CPUS` names, `defaultCores`
    * when it is unset. Anything but a positive integer is rejected. */
  def fromEnv(defaultCores: Int, appName: String): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS") match {
      case None => defaultCores
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }
    local(cores, cores, appName)
  }
}
