package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

/** Loaders for the test-data star schema (TESTDATA.md).
  *
  * Each loader is a plain parquet scan, so Catalyst predicate pushdown,
  * column pruning and partition pruning all apply downstream — the Spark
  * analogue of the reference's dataset-scan pushdown
  * (reference: cpp/src/arrow/dataset/scanner.h:59-78).
  *
  * Schemas are inferred once per fixture file, not once per read: a bare
  * `spark.read.parquet` runs a footer job (~100 ms) on every call, and a
  * query reads up to six tables. As in the reference, where a dataset's
  * schema is inspected once at discovery and reused by every scan
  * (`DatasetFactory::Inspect`), a loader reads with the cached
  * `StructType`, so the relation and its plan are the ones inference
  * would give. The cache holds one entry per canonical file path, stamped
  * with the file's identity (inode), mtime and size and with the session's
  * values of [[schemaConfs]], the confs Spark's parquet schema conversion
  * reads; an entry whose stamp differs is re-inferred and replaced, so a
  * rewritten file or a flipped conf is read with the schema it implies.
  * A path that is a directory (a `ScaleUp` output, a partitioned table)
  * is never cached: its files can change without its own stamp changing.
  *
  * Every file a registry query writes lives under one scratch root,
  * [[scratchRoot]] = `${java.io.tmpdir}/graft_io` (`java.io.tmpdir` is
  * `/tmp` by default on Linux), as the reference's dataset writer takes
  * its output location once (`FileSystemDatasetWriteOptions::base_dir`,
  * cpp/src/arrow/dataset/file_base.h:389-443). An output written from
  * the data at `d` lives at `<root>/<scratchKey(d)>/<name>`
  * (`scratch(d, name)`), so runs over two scale factors never share a
  * file between one's write and its read-back, and the key is a
  * directory, so a scan root's leaf name is the same on every checkout.
  * A constant-content fixture — the same bytes whatever the data: q26g's
  * and q26r's literal CSVs, q26j's literal frame — is unkeyed and lives
  * at `<root>/<name>` (`scratch(name)`): its DuckDB oracle names the path
  * in a string fixed when the registry is built, and every run writes
  * the same bytes there. Files a test writes from its own literals are
  * unkeyed for the same reason.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The SQL confs parquet-to-Spark schema conversion reads. */
  private val schemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** canonical path -> (stamp, schema) */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]()

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    cachedSchema(spark, path).fold(spark.read)(s => spark.read.schema(s)).parquet(path)
  }

  /** The schema of the parquet file at `path`, inferred once per stamp;
    * None when `path` is not a regular file. */
  private def cachedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val file = Paths.get(path)
    if (!Files.isRegularFile(file)) None
    else {
      val attrs = Files.readAttributes(file, classOf[BasicFileAttributes])
      val stamp = Seq(attrs.fileKey, attrs.lastModifiedTime, attrs.size) ++
        schemaConfs.map(k => spark.conf.get(k))
      val key = file.toRealPath().toString
      Some(Option(schemas.get(key)).collect { case (`stamp`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(key, stamp -> s)
        s
      })
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = raw(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = raw(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = raw(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = raw(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = raw(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = raw(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = raw(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = raw(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = raw(s, d, "embeddings")

  /** `events.ts` normalized to a session-zone µs TIMESTAMP whatever the
    * fixture generation wrote. The dataset has shipped with two physical
    * encodings across rounds — parquet TIMESTAMP(NANOS) (rejected by
    * Spark's reader, so read as a raw ns long via
    * `spark.sql.legacy.parquet.nanosAsLong` and truncated with integer
    * division; `ts` is far above 2^53 so double math would lose
    * precision) and plain µs TIMESTAMP (isAdjustedToUTC=false → read as
    * TIMESTAMP_NTZ) — so the loader dispatches on the read schema. The
    * NTZ→TIMESTAMP cast is value-preserving because the session zone is
    * pinned to UTC (GraftSession), matching DuckDB's naive read of the
    * same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = raw(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  private def ntzLit(micros: Long) =
    lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))

  /** `ts`, a TIMESTAMP_NTZ column as stored, within calendar `year`: a
    * half-open range on the column itself, which reaches the parquet scan
    * as a pushed filter where `year(ts) === year` cannot. */
  def inYear(ts: Column, year: Int): Column = {
    def jan1(y: Int) = java.time.LocalDate.of(y, 1, 1).toEpochDay * 86400L * 1000000L
    ts >= ntzLit(jan1(year)) && ts < ntzLit(jan1(year + 1))
  }

  /** Events with a pushdown-friendly event-time filter: the predicate is
    * applied to the column *as stored* (raw ns long, or NTZ timestamp
    * with an NTZ literal) before any conversion, so it reaches the
    * parquet scan as a range filter (row-group pruning works). At 100 TB
    * this is the difference between scanning a day and scanning the full
    * history. */
  def eventsBetween(
      s: SparkSession,
      d: String,
      fromMicros: Long,
      untilMicros: Long): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = raw(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.filter(col("ts") >= fromMicros * 1000L && col("ts") < untilMicros * 1000L)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.filter(col("ts") >= ntzLit(fromMicros) && col("ts") < ntzLit(untilMicros))
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        df.filter(col("ts") >= timestamp_micros(lit(fromMicros)) &&
          col("ts") < timestamp_micros(lit(untilMicros)))
    }
  }

  /** Fan a scan out to the session's full parallelism before CPU-heavy
    * narrow work (optimization guide §2.5: "one huge unsplittable file —
    * repartition immediately after the read"). The test fixtures are
    * single-row-group parquet files, so a scan yields ONE non-empty task
    * and everything narrow after it — shingling, hashing, per-row
    * moments — runs on one core of 32 until the first exchange; this
    * hash exchange of the (projected) input costs ~0.1-0.3 s and unlocks
    * the other 31. Keyed on the caller's unique id (deterministic under
    * task retry — round-robin `repartition(n)` would pay a local sort
    * per map task for the same retry guarantee, SPARK-23207), sized from
    * `defaultParallelism` so the driver's lower-core bench runs scale
    * the same way. At cluster scale the input arrives in thousands of
    * splits and this becomes a rebalance — keep it on operators whose
    * per-row work dominates the extra narrow pass, which is exactly
    * where it is applied. Results are unaffected: every cross-row sum in
    * the registry is order-independent by the [[graft.Det]] contract,
    * and the callers' windows/aggregates key on their own columns. */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    require(keys.nonEmpty, "spread needs a deterministic partitioning key")
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
  }

  /** Root of every file a registry query writes. */
  val scratchRoot: String =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft_io").toString

  /** Where output `name`, written from the data at `d`, lives. */
  def scratch(d: String, name: String): String = s"$scratchRoot/${scratchKey(d)}/$name"

  /** Where constant-content output `name` lives. */
  def scratch(name: String): String = s"$scratchRoot/$name"

  /** Write `text` to `path` through a temp sibling and an atomic rename,
    * so a concurrent reader sees the old bytes or the new, never a
    * truncated file; returns `path`. */
  def writeText(path: String, text: String): String = {
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, s"${target.getFileName}.", ".tmp")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    path
  }

  /** Stable scratch-directory key for a scale-factor dir: the path plus
    * the lineitem file's (mtime, size), so regenerating the dataset at
    * the same path invalidates any output derived from it. */
  def scratchKey(d: String): String = {
    val f = new java.io.File(s"$d/lineitem.parquet")
    val sig = s"$d|${f.lastModified}|${f.length}"
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
  }

  def load(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events" => events(s, d)
    case n        => raw(s, d, n)
  }

  /** Delete `f` and, if it is a directory, everything under it. */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Build-once immutable fixture directory: if `dir` lacks a `_SUCCESS`
    * marker, run `write` against a process-unique temp sibling and
    * atomically rename it into place; once present the directory is never
    * rewritten, so readers can never observe a half-deleted state (the
    * delete-then-write race of `mode("overwrite")` on a shared path).
    * Rename losers delete their temp copy and use the winner's. Stale
    * temp siblings from crashed runs (>1 h old) are swept before
    * building, so repeated crashes cannot accumulate copies. */
  def immutableFixture(dir: String)(write: String => Unit): Unit = {
    val target = new java.io.File(dir)
    if (new java.io.File(target, "_SUCCESS").exists()) return
    val parent = target.getParentFile
    Option(parent.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith(s"${target.getName}.tmp_") &&
        f.lastModified < System.currentTimeMillis() - 3600 * 1000L) rm(f)
    })
    val tmp = new java.io.File(
      parent,
      s"${target.getName}.tmp_${ProcessHandle.current().pid()}_${System.nanoTime()}")
    write(tmp.getPath)
    def winnerInstalled: Boolean = new java.io.File(target, "_SUCCESS").exists()
    if (!tmp.renameTo(target)) {
      // renameTo fails both when another writer won the race AND on exotic
      // filesystems where a direct rename is refused (cross-device /tmp
      // overlay) — only the first case leaves a winner to reuse.
      if (winnerInstalled) {
        rm(tmp) // another writer installed the fixture first — use theirs
      } else if (target.exists()) {
        // The target path is occupied but carries no _SUCCESS: a
        // concurrent writer's install is mid-flight. NEVER rename or copy
        // into an existing directory (Hadoop's rename would nest our tmp
        // tree INSIDE the winner's fixture, and its recursive listing
        // would then read duplicate part files). Wait briefly for the
        // winner's marker instead.
        val deadline = System.currentTimeMillis() + 30000L
        while (!winnerInstalled && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        rm(tmp)
        require(winnerInstalled,
          s"fixture install failed at $dir: target exists without _SUCCESS" +
            " and no concurrent writer completed within 30s")
      } else {
        // Free target path: retry through Hadoop's machinery — but NEVER
        // let its degraded copy aim at the final path (the copy is
        // non-atomic and `_SUCCESS` sorts FIRST in listing order, so a
        // concurrent reader could see the marker before the part files
        // land). Stage the copy at a fresh sibling of the target — on the
        // target's device by construction — then atomically
        // File.renameTo from there.
        val conf = new org.apache.hadoop.conf.Configuration()
        val fsPath = new org.apache.hadoop.fs.Path(target.getPath)
        val fs = fsPath.getFileSystem(conf)
        val stage = new java.io.File(
          parent,
          s"${target.getName}.tmp_${ProcessHandle.current().pid()}_${System.nanoTime()}")
        val staged = org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(tmp.getPath),
          fs, new org.apache.hadoop.fs.Path(stage.getPath),
          true /* deleteSource */, conf)
        val installed = staged && stage.renameTo(target)
        if (!installed) { rm(stage); rm(tmp) } // winner re-checked below
        require(winnerInstalled,
          s"fixture install failed at $dir: File.renameTo and the staged " +
            s"copy from ${tmp.getPath} both failed and no concurrent " +
            "writer installed the fixture")
      }
    }
  }
}
