package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** What the output check compares an item's result against. */
sealed trait Check
/** DuckDB oracle SQL over the input tables (graded by check.py). */
final case class Oracle(sql: String) extends Check
/** No oracle: row count and schema must match `expected.json`. */
case object Shape extends Check
/** Write/read round trip: the read-back frame must equal the source
  * frame as a multiset of rows (graded in the JVM). */
final case class RoundTrip(source: (SparkSession, String) => DataFrame) extends Check

/** One unit of client work. `build` returns the frame to materialize and
  * runs whatever the item does eagerly (checkpoint jobs, file writes). */
final case class Item(
    name: String,
    build: (SparkSession, String) => DataFrame,
    check: Check)

object Workloads {
  private def registry(name: String): Item = {
    val c = graft.Registry.byName(name)
    Item(name, c.run, c.oracle.fold[Check](Shape)(Oracle))
  }

  /** Short oracle-gated relational queries: bound by job latency,
    * planning and footer reads rather than CPU. */
  val interactive: Seq[String] = Seq(
    "q01_filter_project", "q02_scalar_agg", "q03_group_agg",
    "q04_inner_join", "q05_star_join", "q06_outer_joins", "q07_semi_anti",
    "q09_sort_fetch", "q10_topk", "q12_value_counts", "q14_strings",
    "q15b_temporal_ts", "q16_math", "q19_ranking", "q20_cumulative",
    "q21_asof_join", "q22_window_agg", "q23b_pivot", "q24a_array_kernels")

  /** Heavy LLM-data and graph operators: iterative checkpointed loops,
    * many jobs per query, wide shuffles and the native kernels. */
  val pipeline: Seq[String] = Seq(
    "graph_pagerank", "dedup_winnow", "dedup_ppjoin", "dedup_cc",
    "text_tfidf", "ann_lsh", "pipeline_bpe", "pipeline_e2e_v4")

  /** Registry queries of the ingest workload that write no files. */
  val ingestQueries: Seq[String] = Seq("pipeline_upsert", "pipeline_scd2")

  private def lineitem(s: SparkSession, d: String): DataFrame =
    graft.Tables.lineitem(s, d)

  /** Write `lineitem` under `dir` with `write`, read it back with `read`
    * (given the source schema, for the text formats). */
  private def trip(dir: String, name: String)(
      write: (DataFrame, String) => Unit)(
      read: (SparkSession, String, StructType) => DataFrame): Item = {
    val out = s"$dir/$name"
    Item(name, { (s, d) =>
      val src = lineitem(s, d)
      write(src, out)
      read(s, out, src.schema)
    }, RoundTrip(lineitem))
  }

  /** Round trips through the parquet, text and ORC writers and through
    * `graft.sources.ArrowIpc`, all under `dir` (the run's scratch). */
  private def roundTrips(dir: String): Seq[Item] = {
    import graft.sources.ArrowIpc
    def parquet(s: SparkSession, p: String, t: StructType) = s.read.parquet(p)
    def arrow(s: SparkSession, p: String, t: StructType) = ArrowIpc.read(s, p)
    Seq(
      trip(dir, "io_parquet")(_.write.mode("overwrite").parquet(_))(parquet),
      trip(dir, "io_parquet_partitioned")(
        _.write.mode("overwrite").partitionBy("l_returnflag", "l_linestatus")
          .parquet(_))(parquet),
      trip(dir, "io_parquet_bloom")(
        _.write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#l_orderkey", "true")
          .parquet(_))(parquet),
      trip(dir, "io_parquet_bucketed")(
        _.write.mode("overwrite").format("parquet").option("path", _)
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("perfbench_bucketed"))(
        (s, _, _) => s.table("perfbench_bucketed")),
      trip(dir, "io_compact") { (df, p) =>
        df.repartition(16).write.mode("overwrite").parquet(p)
        graft.pipeline.Compact.compact(df.sparkSession, p, 1L << 20)
      }(parquet),
      trip(dir, "io_csv")(_.write.mode("overwrite").option("header", "true")
        .csv(_))((s, p, t) => s.read.schema(t).option("header", "true").csv(p)),
      trip(dir, "io_json")(_.write.mode("overwrite").json(_))(
        (s, p, t) => s.read.schema(t).json(p)),
      trip(dir, "io_orc")(_.write.mode("overwrite").orc(_))(
        (s, p, t) => s.read.orc(p)),
      trip(dir, "io_ipc")(ArrowIpc.write(_, _))(arrow),
      trip(dir, "io_ipc_stream")(ArrowIpc.writeStream(_, _))(
        (s, p, t) => ArrowIpc.readStream(s, p)),
      trip(dir, "io_ipc_dict")(
        ArrowIpc.writeDict(_, _, Seq("l_returnflag", "l_linestatus")))(arrow),
      trip(dir, "io_ipc_ree")(
        ArrowIpc.writeRee(_, _, Seq("l_returnflag", "l_linestatus")))(arrow))
  }

  /** The items of workload `name`; `scratch` receives every file the
    * ingest round trips write. */
  def apply(name: String, scratch: String): Seq[Item] = name match {
    case "interactive" => interactive.map(registry)
    case "pipeline"    => pipeline.map(registry)
    case "ingest"      => roundTrips(scratch) ++ ingestQueries.map(registry)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (interactive|pipeline|ingest)")
  }
}
