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
  *  - Generated-class cache sized to the whole registry
  *    ([[codegenCacheEntries]]), so a query compiles its classes once per
  *    JVM, not on every run — as Gandiva caches compiled projectors and
  *    filters by schema and expression (reference: cpp/src/gandiva/cache.h).
  */
object GraftSession {

  /** Entries of Spark's generated-class cache,
    * `spark.sql.codegen.cache.maxEntries` (default 100). A query's
    * whole-stage and expression classes are compiled by Janino on first
    * run (~20 ms each) and then reused from this cache. One full-registry
    * `graft.Bench` pass at sf0.01 generates 4190 distinct classes
    * (measured with an unbounded cache; a second pass adds 283 from plans
    * whose code differs run to run), and `perfbench`'s 19-query
    * `interactive` workload alone about 200. At 100 entries a rerun query
    * has been evicted and compiles again: 198 compiles, 3.1 s of a 13.3 s
    * timed `interactive` pass on 4 vCPUs. 6000 holds a full pass, its
    * run-to-run classes and slack for the cache's uneven segments. The
    * cost is Metaspace: 243 MB used after that full pass, Spark's own
    * classes included.
    *
    * The conf is static: Spark reads it once per JVM, when code is first
    * generated, so it is set when the session is built and cannot be in
    * [[runtimeConf]]. */
  val codegenCacheEntries: Int = 6000

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
    * confs are skipped silently. The codegen cache size is static, so a
    * session created elsewhere must pass
    * `spark.sql.codegen.cache.maxEntries` = [[codegenCacheEntries]] at
    * launch (e.g. `--conf` to spark-submit); this call cannot set it. */
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
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
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
