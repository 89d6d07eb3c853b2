package graft.queries

import graft.{Capability, Tables}
import graft.sources.ArrowIpc
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nested-data and source/sink capabilities Q24–Q27 (SURVEY.md §2.4, §2.2):
  * array kernels, explode, partitioned parquet write→read with pruning,
  * CSV/JSON round-trips, exact + approximate quantiles.
  */
object NestedIOQueries {

  /** Q24a: array kernels over the 64-dim float embedding column
    * (size / element_at / slice / per-row fold — reference list_* kernels,
    * cpp/src/arrow/compute/kernels/scalar_nested.cc). The per-row sum folds
    * in double to keep it engine-deterministic. */
  private def q24a(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).cast("double").as("first_val"),
      element_at(col("embedding"), -1).cast("double").as("last_val"),
      round(aggregate(
        col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double")), 4).as("vec_sum"),
      array_max(col("embedding")).cast("double").as("vmax"),
      array_min(col("embedding")).cast("double").as("vmin"),
      // slice exercised through a scalar fold — the driver's comparator
      // sorts rows in pandas, which cannot order array-typed cells
      round(aggregate(
        slice(col("embedding"), 1, 3), lit(0.0),
        (acc, x) => acc + x.cast("double")), 4).as("head3_sum"))
      .orderBy(col("vec_id"))

  private val q24aSql =
    """SELECT vec_id,
      |  len(embedding) AS dim,
      |  CAST(embedding[1] AS DOUBLE) AS first_val,
      |  CAST(embedding[len(embedding)] AS DOUBLE) AS last_val,
      |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
      |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS vmax,
      |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS vmin,
      |  round(list_sum(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE))), 4) AS head3_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Q24b: posexplode (reference list_flatten + list_parent_indices). */
  private def q24b(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .select(col("vec_id"), col("pos"), col("val").cast("double").as("val"))
      .orderBy(col("vec_id"), col("pos"))

  private val q24bSql =
    """SELECT vec_id,
      |  generate_subscripts(embedding, 1) - 1 AS pos,
      |  CAST(unnest(embedding) AS DOUBLE) AS val
      |FROM embeddings WHERE vec_id < 50
      |ORDER BY vec_id, pos""".stripMargin

  /** Q24c: map kernels (reference MapType type.h:1323 + map_lookup,
    * scalar_nested.cc): construct → keys/size → lookup → transform_values
    * → map_concat → map_filter. The maps are built from known columns, so
    * the oracle states what each lookup must recover — the gate proves
    * the construction/lookup round-trip, without the comparator ever
    * sorting a map cell. */
  private def q24c(s: SparkSession, d: String): DataFrame = {
    val m = map_from_arrays(
      array(lit("status"), lit("prio")),
      array(col("o_orderstatus"), col("o_orderpriority")))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      size(m).as("m_size"),
      array_join(array_sort(map_keys(m)), ",").as("keys_sorted"),
      element_at(m, "status").as("status_val"),
      element_at(transform_values(m, (_, v) => upper(v)), "prio").as("prio_upper"),
      size(map_concat(m, map(lit("extra"), lit("x")))).as("mc_size"),
      size(map_filter(m, (k, _) => k === "status")).as("mf_size"))
      .orderBy(col("o_orderkey"))
  }

  private val q24cSql =
    """SELECT o_orderkey,
      |  2 AS m_size,
      |  'prio,status' AS keys_sorted,
      |  o_orderstatus AS status_val,
      |  upper(o_orderpriority) AS prio_upper,
      |  3 AS mc_size,
      |  1 AS mf_size
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Q24d: array set operations and lookup (reference unique /
    * value_counts vector kernels + is_in/index_in set lookup,
    * cpp/src/arrow/compute/kernels/vector_hash.cc, scalar_set_lookup.cc,
    * mapped onto per-row list cells): distinct, union, intersect, except,
    * position, contains over word arrays. Sizes and sorted joins keep the
    * output scalar (order of Spark's set ops is first-occurrence, DuckDB's
    * differs — cardinalities and sorted renderings are
    * engine-independent). */
  private def q24d(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val a1 = slice(words, 1, 6)
    val a2 = slice(words, 4, 6)
    Tables.documents(s, d).select(
      col("doc_id"),
      size(array_distinct(a1)).as("n_distinct"),
      size(array_union(a1, a2)).as("n_union"),
      size(array_intersect(a1, a2)).as("n_intersect"),
      size(array_except(a1, a2)).as("n_except"),
      // guarded: element_at past the end throws under ANSI, and
      // array_position rejects a null needle
      when(size(a2) > 0, array_position(a1, element_at(a2, 1)))
        .otherwise(lit(0L)).as("pos_first"),
      array_contains(a1, "the").as("has_the"),
      array_join(array_sort(array_distinct(a1)), ",").as("sorted_words"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror: set ops expressed as filter+distinct so the
    * cardinality semantics are explicit, not library-version-dependent;
    * list_position yields NULL where Spark yields 0. */
  private val q24dSql =
    """WITH w AS (
      |  SELECT doc_id,
      |    string_split(text, ' ')[1:6] AS a1,
      |    string_split(text, ' ')[4:9] AS a2
      |  FROM documents)
      |SELECT doc_id,
      |  len(list_distinct(a1)) AS n_distinct,
      |  len(list_distinct(list_concat(a1, a2))) AS n_union,
      |  len(list_distinct(list_filter(a1, x -> list_contains(a2, x)))) AS n_intersect,
      |  len(list_distinct(list_filter(a1, x -> NOT list_contains(a2, x)))) AS n_except,
      |  CASE WHEN len(a2) > 0 THEN COALESCE(list_position(a1, a2[1]), 0)
      |       ELSE 0 END AS pos_first,
      |  list_contains(a1, 'the') AS has_the,
      |  array_to_string(list_sort(list_distinct(a1)), ',') AS sorted_words
      |FROM w ORDER BY doc_id""".stripMargin

  /** Build-once immutable partitioned fixture (see
    * [[graft.Tables.immutableFixture]] for the swap protocol). */
  private def immutablePartitionedFixture(
      df: DataFrame, dir: String, key: String): Unit =
    Tables.immutableFixture(dir) { tmp =>
      df.write.mode("overwrite").partitionBy(key).parquet(tmp)
    }

  /** Q25: hive-partitioned parquet write → re-read → aggregate, proving the
    * partition layout survives a round trip (reference partitioned dataset
    * write, cpp/src/arrow/dataset/file_base.h:389-443). A filtered re-read
    * only touches the matching partition directory (partition pruning). */
  private def q25(s: SparkSession, d: String): DataFrame = {
    // q25 alone owns this layout: sharing it with q25b raced q25's
    // delete-then-write against q25b's glob read
    val out = Tables.scratch(d, "q25_roundtrip")
    Tables.lineitem(s, d)
      .write.mode("overwrite")
      .partitionBy("l_returnflag")
      .option("maxRecordsPerFile", 1000000)
      .parquet(out)
    val back = s.read.parquet(out)
    back.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  private val q25Sql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q25i: file-size-bounded write — `maxRecordsPerFile` (the reference
    * dataset writer's `max_rows_per_file`,
    * cpp/src/arrow/dataset/file_base.h:389-443 FileSystemDatasetWriteOptions)
    * splits each task's output into ≤ 20 000-row files, the knob that
    * keeps file sizes uniform for downstream scan parallelism at 100 TB.
    * Gated on content identity with q25's oracle; IoSpec asserts the
    * per-file row bound actually holds on disk. */
  private def q25i(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q25i_maxrows")
    // the knob under test splits by ROW COUNT, so the gate only needs the
    // columns its oracle reads — writing the full table would re-measure
    // q25's IO volume, not the cap
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 20000)
      .parquet(out)
    val back = s.read.parquet(out)
    back.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  /** Q25b: filename/path-encoded partitioning parsed with
    * input_file_name() (reference FilenamePartitioning,
    * cpp/src/arrow/dataset/partition.h:353) — the key is recovered from
    * the file path instead of relying on Spark's hive-partition
    * discovery (leaf files are globbed directly, bypassing discovery). */
  private def q25b(s: SparkSession, d: String): DataFrame = {
    // q25b owns its layout (built once, then immutable) — reusing q25's
    // raced its overwrite; an extra lineitem write per fresh scratch
    // tree is cheaper than a FileNotFound flake
    val out = Tables.scratch(d, "q25b_filename")
    immutablePartitionedFixture(Tables.lineitem(s, d), out, "l_returnflag")
    s.read.parquet(s"$out/l_returnflag=*/*.parquet")
      .withColumn("flag",
        regexp_extract(input_file_name(), "l_returnflag=([^/]+)/", 1))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("flag"))
  }

  private val q25bSql =
    """SELECT l_returnflag AS flag, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin

  /** Q25c: schema unification across files (reference DatasetFactory
    * Inspect/unify, cpp/src/arrow/dataset/discovery.h): two parquet
    * directories with disjoint value columns merge into one frame with
    * nulls where a column is absent. */
  private def q25c(s: SparkSession, d: String): DataFrame = {
    val base = Tables.scratch(d, "q25c_merge")
    Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$base/a")
    Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$base/b")
    s.read.option("mergeSchema", "true").parquet(s"$base/a", s"$base/b")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_price"),
        count(col("o_orderstatus")).as("n_status"))
  }

  private val q25cSql =
    """SELECT COUNT(*) * 2 AS n_rows, COUNT(*) AS n_price,
      |  COUNT(*) AS n_status FROM orders""".stripMargin

  /** Q25d: tee — persist a copy of the stream while passing it through
    * (reference "tee" node, cpp/src/arrow/dataset/file_base.cc:635). In
    * Spark the same plan both writes and continues: write the frame, then
    * return it; the written copy is verified to round-trip. */
  private def q25d(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q25d_tee")
    val df = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
    df.write.mode("overwrite").parquet(out) // the tee'd copy
    // pass-through side, cross-checked against the copy it just wrote
    df.join(s.read.parquet(out).select(col("o_orderkey").as("k")),
        col("o_orderkey") === col("k"), "left_semi")
      .orderBy(col("o_orderkey"))
  }

  private val q25dSql =
    """SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey""".stripMargin

  /** Q25e: bucketed write → co-located join with NO shuffle exchange —
    * the pre-shuffle layout for repeated big-table joins at 100 TB (both
    * sides hash-bucketed on the join key, so the join reads co-located
    * buckets; SURVEY.md "Partitioning & shuffle"). The aggregate result
    * is oracle-gated; BucketingSpec asserts the no-exchange plan shape. */
  private val q25eLock = new Object

  private def q25e(s: SparkSession, d: String): DataFrame = {
    // BUCKET ONCE, JOIN MANY: the bucketed layout is the amortized asset
    // — at 100 TB you pay the bucketing write once and every subsequent
    // join reads co-located buckets shuffle-free. Table names carry the
    // scratch key, so regenerated source data gets fresh tables while
    // repeated invocations in one session (bench passes) reuse the
    // layout instead of re-bucketing per run. Each table's files live in
    // the scratch tree (an external table), not the working directory's
    // warehouse, so a later JVM's overwrite simply replaces them.
    val key = Tables.scratchKey(d)
    val li = s"graft_q25e_li_$key"
    val ord = s"graft_q25e_ord_$key"
    q25eLock.synchronized {
      if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").option("path", Tables.scratch(d, "q25e_li"))
          .saveAsTable(li)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").option("path", Tables.scratch(d, "q25e_ord"))
          .saveAsTable(ord)
      }
    }
    s.table(li)
      .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        graft.Det.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  private val q25eSql =
    s"""SELECT o_orderpriority,
       |  COUNT(*) AS n_items,
       |  ${graft.Det.sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Q25f: compression-codec round-trip (reference Compression::ZSTD /
    * SNAPPY across parquet + IPC, cpp/src/arrow/util/compression.h): the
    * same projection written under two codecs must read back identically
    * — the gate compares the zstd read-back against the plain-table
    * oracle, and the spec-level check is that both codec dirs agree. */
  private def q25f(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val zstdDir = Tables.scratch(d, "q25f_zstd")
    val snappyDir = Tables.scratch(d, "q25f_snappy")
    proj.write.mode("overwrite").option("compression", "zstd").parquet(zstdDir)
    proj.write.mode("overwrite").option("compression", "snappy").parquet(snappyDir)
    val zstd = s.read.parquet(zstdDir)
    val snappy = s.read.parquet(snappyDir)
    // codec equivalence folded into the gated result: count of rows that
    // differ between the two codec round-trips must be zero
    zstd.join(snappy, Seq("o_orderkey", "o_orderstatus", "o_totalprice"), "full_outer")
      .groupBy()
      .agg(count(lit(1)).as("n_rows"))
      .select(col("n_rows"))
  }

  private val q25fSql = "SELECT COUNT(*) AS n_rows FROM orders"

  /** Q25g: range-partitioned, sorted-within-partition layout — the write
    * path that makes parquet min/max skipping effective at 100 TB:
    * `repartitionByRange` gives every output file a disjoint key range,
    * so a reader's range predicate prunes whole files (and row groups)
    * from footer statistics alone, where a hash-partitioned layout would
    * touch every file (reference: dataset writes carry per-fragment
    * statistics that drive scan pruning,
    * cpp/src/arrow/dataset/file_parquet.h StatisticsAsExpression). The
    * gate re-reads with a range filter — pushed to the scan — and must
    * match the plain-table oracle; IoSpec asserts the layout property
    * itself (pairwise-disjoint per-file key ranges) and the pushdown. */
  private def q25g(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q25g_sorted")
    Tables.immutableFixture(out) { tmp =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(out)
      .filter(col("l_orderkey").between(lit(200L), lit(900L)))
      .agg(
        count(lit(1)).as("n"),
        graft.Det.dsum(col("l_quantity")).as("sum_qty"),
        graft.Det.dsum(col("l_extendedprice")).as("sum_price"))
  }

  private val q25gSql =
    s"""SELECT COUNT(*) AS n,
       |  ${graft.Det.sqlSum("l_quantity")} AS sum_qty,
       |  ${graft.Det.sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem WHERE l_orderkey BETWEEN 200 AND 900""".stripMargin

  /** Q25h: z-order (Morton) clustered layout — q25g's single-key idea
    * extended to TWO filter dimensions: rows are sorted by the
    * interleaved-bit key ([[graft.functions.ZOrder.mortonKey]]), so each
    * output file covers a small bounding box in (l_partkey, l_suppkey)
    * space and a box predicate prunes most files from footer min/max
    * stats alone — a single-column sort would leave the second dimension
    * spanning its full range in every file. The gate re-reads through a
    * two-sided box filter (both pushed to the scan) against the
    * plain-table oracle; IoSpec asserts the clustering property (mean
    * per-file box area ≪ the global box). */
  private def q25h(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q25h_zorder")
    Tables.immutableFixture(out) { tmp =>
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .withColumn("_z",
          graft.functions.ZOrder.mortonKey(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(16, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(out)
      .filter(col("l_partkey").between(lit(50L), lit(150L)) &&
        col("l_suppkey").between(lit(2L), lit(8L)))
      .agg(
        count(lit(1)).as("n"),
        graft.Det.dsum(col("l_quantity")).as("sum_qty"))
  }

  private val q25hSql =
    s"""SELECT COUNT(*) AS n,
       |  ${graft.Det.sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 8""".stripMargin

  /** The frame every `orders` format round trip below writes. */
  private def roundTripFrame(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      to_date(col("o_orderdate")).as("o_date"))

  /** [[roundTripFrame]]'s schema, for readers whose format does not
    * carry one. */
  private val roundTripSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_date", DateType)))

  /** One `orders` format round trip: `write` [[roundTripFrame]] to the
    * query's scratch output `name`, `read` it back, order by key. Every
    * row of the table below is gated by [[q26Sql]]. */
  private def roundTrip(name: String)(write: (DataFrame, String) => Unit)(
      read: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => {
      val out = Tables.scratch(d, name)
      write(roundTripFrame(s, d), out)
      read(s, out).orderBy(col("o_orderkey"))
    }

  private[queries] val q26Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  CAST(o_orderdate AS DATE) AS o_date
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Q26a: CSV round-trip with explicit schema (reference CSV
    * reader/writer, cpp/src/arrow/csv/). Doubles survive because Spark
    * writes shortest round-trippable representations. */
  private val q26a = roundTrip("q26_csv")(
    _.write.mode("overwrite").option("header", "true").csv(_))(
    _.read.option("header", "true").schema(roundTripSchema).csv(_))

  /** Q26b: line-delimited JSON round-trip (reference JSON reader,
    * cpp/src/arrow/json/). */
  private val q26b = roundTrip("q26_json")(
    _.write.mode("overwrite").json(_))(
    _.read.schema(roundTripSchema).json(_))

  /** Q26c: ORC round-trip (reference ORC adapter,
    * cpp/src/arrow/adapters/orc/). */
  private val q26c = roundTrip("q26_orc")(_.write.mode("overwrite").orc(_))(_.read.orc(_))

  /** Q26d: Arrow IPC (Feather v2) round-trip via the bundled arrow-java
    * (reference: cpp/src/arrow/ipc/ — the format Spark lacks natively;
    * graft.sources.ArrowIpc adds it, one file per partition). */
  private val q26d = roundTrip("q26_ipc")(ArrowIpc.write(_, _))(ArrowIpc.read)

  /** Q26i: Arrow IPC STREAM-format round-trip (reference
    * RecordBatchStreamReader/Writer, cpp/src/arrow/ipc/reader.h:74,
    * writer.h:143) — the footerless pipe/socket framing, same oracle as
    * the file format. */
  private val q26i = roundTrip("q26_ipc_stream")(ArrowIpc.writeStream(_, _))(ArrowIpc.readStream)

  /** Q26l: compressed Arrow IPC round-trip (reference
    * IpcWriteOptions::codec, cpp/src/arrow/ipc/options.h:118-124): the
    * same projection written with zstd body-buffer compression must read
    * back identically — the reader decodes from the per-batch
    * compression header with no caller-side hint. Same oracle as q26d;
    * IoSpec additionally covers lz4 and asserts zstd bytes < plain. */
  private val q26l = roundTrip("q26_ipc_zstd")(ArrowIpc.write(_, _, codec = "zstd"))(ArrowIpc.read)

  /** Q26m: DICTIONARY-ENCODED Arrow IPC round-trip — the write half of
    * the reference's categorical transport (`dictionary_encode` is the
    * reference default for categoricals; read-side decode is q26d's
    * machinery). The status column ships as an int32 index vector plus a
    * per-file dictionary batch; reading it back must reproduce the
    * values exactly. Same oracle as q26d; IoSpec additionally asserts
    * the written file REALLY carries a dictionary-encoded field and that
    * high-cardinality columns are rejected. */
  private val q26m = roundTrip("q26_ipc_dict")(
    ArrowIpc.writeDict(_, _, dictCols = Seq("o_orderstatus")))(ArrowIpc.read)

  /** Q26n: RUN-END-ENCODED Arrow IPC round-trip — the write half of the
    * reference's second physical compression layout (`run_end_encode`
    * kernel output; read-side expansion is q26d's machinery). The status
    * column is sorted within partitions first so runs actually form (the
    * reference applies the kernel to sorted output the same way), ships
    * as (run_ends int32, values utf8) children, and must read back
    * value-identical. Same oracle as q26d; IoSpec asserts the on-disk
    * field is REALLY run-end encoded with far fewer stored values than
    * logical rows. */
  private val q26n = roundTrip("q26_ipc_ree")((df, out) =>
    ArrowIpc.writeRee(df.sortWithinPartitions(col("o_orderstatus")), out,
      reeCols = Seq("o_orderstatus")))(ArrowIpc.read)

  /** Q26o: VIEW-LAYOUT Arrow IPC round-trip — the write half of the
    * string_view transport ([[ArrowIpc.writeViews]]; read
    * decode is the view half of q26d's machinery): the status column
    * ships as STRING_VIEW (type id 39, the Arrow C++ >= 14 default
    * string layout) and must read back value-identical. Same oracle as
    * q26d; IoSpec additionally asserts the on-disk field REALLY carries
    * the Utf8View type. */
  private val q26o = roundTrip("q26_ipc_view")(
    ArrowIpc.writeViews(_, _, viewCols = Seq("o_orderstatus")))(ArrowIpc.read)

  /** Q26e: CSV schema inference (ConvertOptions auto-detection,
    * csv/options.h:79), registered with the ingest battery
    * ([[IngestQueries]]). Written WITH header, read back with
    * `inferSchema` and no explicit schema — long/double/date/string all
    * come back correctly typed (IngestSpec pins the inferred schema; the
    * gate pins the values AND dtypes against the parquet originals). */
  private[queries] val q26e = roundTrip("q26e_csv")(
    _.write.mode("overwrite").option("header", "true").csv(_))(
    _.read.option("header", "true").option("inferSchema", "true").csv(_))

  /** Q26s: MAP-layout Arrow IPC round-trip — the reference's
    * `MapType`/`MapArray` (cpp/src/arrow/array/array_nested.h): a
    * map<string,string> column survives write → read with entry order
    * and key→value association intact. The gate explodes the read-back
    * entries so the oracle (two UNION'd projections of the source
    * table) gates every key and value positionally — a map the reader
    * mangled (offsets, dictionary of the entries struct) cannot hash
    * back. */
  private def q26s(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q26_ipc_map")
    ArrowIpc.write(
      Tables.orders(s, d).select(col("o_orderkey"),
        map(lit("prio"), col("o_orderpriority"),
          lit("status"), col("o_orderstatus")).as("m")),
      out)
    ArrowIpc.read(s, out)
      .select(col("o_orderkey"), explode(col("m")))
      .select(col("o_orderkey"), col("key").as("k"), col("value").as("v"))
      .orderBy(col("o_orderkey"), col("k"))
  }

  private val q26sSql =
    """SELECT o_orderkey, k, v FROM (
      |  SELECT o_orderkey, 'prio' AS k, o_orderpriority AS v FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'status', o_orderstatus FROM orders)
      |ORDER BY o_orderkey, k""".stripMargin

  /** Q26p: HIVE-PARTITIONED Arrow IPC dataset round-trip — the
    * reference's `FileSystemDataset` + `HivePartitioning` layout
    * (cpp/src/arrow/dataset/partition.h) over IPC files: one
    * `lang=<v>` directory per key, files written per partition, read
    * back with the partition column reconstructed from the path. The
    * oracle is the source table itself (partition values re-typed as
    * the strings the path carries). */
  private def q26p(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q26_ipc_part")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("lang"))
    ArrowIpc.writePartitioned(docs, out, Seq("lang"))
    ArrowIpc.readPartitioned(s, out)
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val q26pSql =
    """SELECT doc_id, n_chars, lang FROM documents ORDER BY doc_id""".stripMargin

  /** Q25j: DYNAMIC partition overwrite — the reference dataset writer's
    * `ExistingDataBehavior::kDeleteMatching` (file_base.h:404-432: replace
    * only the partitions the new data touches, leave the rest). The gate
    * discriminates all three failure modes: the layout is seeded with a
    * HALF-full 'A' partition plus full N/R, then the full 'A' rows are
    * written under `partitionOverwriteMode=dynamic` — static overwrite
    * would delete N/R (missing rows), append would double A (extra
    * rows), and only delete-matching reproduces the full table. */
  private def q25j(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q25j_dynover")
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"))
    li.filter(col("l_returnflag") =!= "A" || col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try li.filter(col("l_returnflag") === "A")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
    s.read.parquet(out).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  /** Q25k: parquet COLUMN BLOOM FILTERS — the reference parquet writer's
    * per-column bloom properties (cpp/src/parquet/properties.h:175-273:
    * NDV, FPP, enable per path). A high-cardinality point-lookup column
    * (`l_orderkey`) gets a bloom filter in each row group, letting a
    * point predicate skip row groups whose filter excludes the key —
    * min/max stats cannot do that for uniformly-spread keys. Gated on
    * content identity; IoSpec cracks the footer open and asserts the
    * bloom really exists for the declared column only, and that a point
    * read returns exactly the matching rows. */
  private def q25k(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q25k_bloom")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"))
      .write.mode("overwrite")
      // dictionary off for the bloom column: parquet drops the bloom when
      // a chunk ends up fully dictionary-encoded (the dictionary already
      // answers membership) — the realistic pairing for a point-lookup
      // column is bloom on, dictionary off
      .option("parquet.enable.dictionary#l_orderkey", "false")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
      .parquet(out)
    val back = s.read.parquet(out)
    back.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  /** Q26q: fixed-size-list Arrow IPC round-trip — the embedding column
    * ships as `fixed_size_list<float, 64>` (type id 32), the layout
    * reference consumers expect for embeddings (and the one Spark's own
    * Arrow bridge rejects outright — [[ArrowIpc.writeFsl]]
    * writes it, [[graft.sources.ArrowIpc]]'s read boundary expands the
    * implicit offsets back). Gate: per-row dim + first/last element +
    * scalars vs the source table read directly by DuckDB; IoSpec cracks
    * the file and asserts the on-disk field REALLY is FixedSizeList and
    * full arrays survive value-identical. */
  private def q26q(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q26_ipc_fsl")
    ArrowIpc.writeFsl(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"), col("label")),
      out, fslCols = Map("embedding" -> 64))
    ArrowIpc.read(s, out)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).as("e_first"),
        element_at(col("embedding"), 64).as("e_last"))
      .orderBy(col("vec_id"))
  }

  private val q26qSql =
    """SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim,
      |  embedding[1] AS e_first, embedding[64] AS e_last
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Q27a: exact quantiles + exact distinct count — the hash-gated side of
    * the approx-aggregate family (both engines interpolate quantiles at
    * rank (n-1)*q; rounded to absorb last-ulp interpolation differences).
    * Quantiles run through the distributed rank-selection operator
    * (graft.operators.Quantiles.exact — sort + targeted fetch), NOT
    * Spark's `percentile()`, whose merge-into-one-buffer final step is a
    * single-node sort of the whole column at 100 TB. PlanSpec asserts no
    * Percentile aggregate appears in this query's plan. */
  private def q27a(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val Seq(p25, p50, p75) =
      graft.operators.Quantiles.exact(li, "l_extendedprice", Seq(0.25, 0.5, 0.75))
    val Seq(qty90) = graft.operators.Quantiles.exact(li, "l_quantity", Seq(0.9))
    li.agg(countDistinct(col("l_partkey")).as("n_parts"))
      .select(
        // literal quantiles rounded by the same Spark `round` as before
        round(lit(p25), 4).as("p25"),
        round(lit(p50), 4).as("p50"),
        round(lit(p75), 4).as("p75"),
        round(lit(qty90), 4).as("qty_p90"),
        col("n_parts"))
  }

  private val q27aSql =
    """SELECT
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |  round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90,
      |  COUNT(DISTINCT l_partkey) AS n_parts
      |FROM lineitem""".stripMargin

  /** Q27f: the reference quantile kernel's full interpolation surface
    * (QuantileOptions::Interpolation — linear/lower/higher/nearest/
    * midpoint, cpp/src/arrow/compute/kernels/aggregate_quantile.cc). One
    * Quantiles.exactMulti pass serves all five modes; the oracle derives
    * the same five from the two bracketing order statistics via sorted-
    * list indexing. Both sides compute rank positions in IEEE double
    * (the oracle casts q to DOUBLE first) so the bracketing ranks are
    * bit-identical by construction. */
  private def q27f(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qs = Seq(0.25, 0.5, 0.9)
    val modes = graft.operators.Quantiles.interpolations
    val perQ = graft.operators.Quantiles.exactMulti(
      Tables.lineitem(s, d), "l_extendedprice", qs, modes)
    val rows = for ((q, byMode) <- qs.zip(perQ); m <- modes) yield (q, m, byMode(m))
    rows.toDF("q", "mode", "value")
      .select(col("q"), col("mode"), round(col("value"), 6).as("value"))
      .orderBy(col("q"), col("mode"))
  }

  private val q27fSql =
    """WITH s AS (
      |  SELECT list_sort(list(l_extendedprice::DOUBLE)) AS xs, COUNT(*) AS n
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |qv(q) AS (VALUES (0.25), (0.5), (0.9)),
      |b AS (
      |  SELECT q,
      |    xs[CAST(floor(CAST(q AS DOUBLE) * (n - 1)) AS BIGINT) + 1] AS lo,
      |    xs[CAST(ceil(CAST(q AS DOUBLE) * (n - 1)) AS BIGINT) + 1] AS hi,
      |    CAST(q AS DOUBLE) * (n - 1) - floor(CAST(q AS DOUBLE) * (n - 1)) AS frac
      |  FROM s, qv),
      |m(mode) AS (VALUES ('linear'), ('lower'), ('higher'), ('nearest'), ('midpoint'))
      |SELECT q, mode,
      |  round(CASE mode
      |    WHEN 'linear' THEN lo + (hi - lo) * frac
      |    WHEN 'lower' THEN lo
      |    WHEN 'higher' THEN hi
      |    WHEN 'nearest' THEN CASE WHEN frac < 0.5 THEN lo ELSE hi END
      |    ELSE (lo + hi) / 2 END, 6) AS value
      |FROM b, m
      |ORDER BY q, mode""".stripMargin

  /** Q27g: exact GROUPED quantiles through the distributed
    * window-rank-selection path (graft.operators.Quantiles.exactGrouped)
    * — the exact twin of q27d's grouped t-digest sketch. One hash shuffle
    * on the group key; no `percentile()` per-group value buffer anywhere
    * in the plan (reference hash_quantile:
    * cpp/src/arrow/compute/kernels/hash_aggregate.cc). */
  private def q27g(s: SparkSession, d: String): DataFrame =
    graft.operators.Quantiles
      .exactGrouped(Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
        Seq(0.25, 0.5, 0.9))
      .select(
        col("l_returnflag"),
        round(col("q0"), 4).as("p25"),
        round(col("q1"), 4).as("p50"),
        round(col("q2"), 4).as("p90"))
      .orderBy(col("l_returnflag"))

  private val q27gSql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q39: incremental aggregation via PERSISTED mergeable sketches — the
    * pattern that makes 100 TB statistics incremental: each shard (here:
    * source domain) aggregates its Datasketches HLL sketch once, the
    * binary sketches land in parquet, and any later job merges them
    * without touching the raw data (`hll_union_agg` over the sketch
    * column). At lgConfigK = 14 the sketch is still in exact sparse mode
    * at gate cardinalities, so the estimate is oracle-exact against
    * COUNT(DISTINCT) — the capability gated is the sketch round-trip and
    * merge, not an approximation tolerance. */
  private def q39(s: SparkSession, d: String): DataFrame = {
    val dir = Tables.scratch(d, "q39_sketches")
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(hll_sketch_agg(col("doc_id"), lit(14)).as("sk"))
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("total_distinct"),
        count(lit(1)).as("n_shards"))
  }

  private val q39Sql =
    """SELECT COUNT(DISTINCT doc_id) AS total_distinct,
      |  COUNT(DISTINCT source) AS n_shards
      |FROM documents""".stripMargin

  /** Q27b: sketch-based approximate aggregates (HLL++ distinct count,
    * KLL-ish percentile sketch — reference tdigest/approximate_median,
    * cpp/src/arrow/compute/kernels/aggregate_tdigest.cc). Sketches are
    * engine-specific, so this entry has no SQL oracle; accuracy vs the
    * exact values is asserted in ApproxAggSpec. */
  private def q27b(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      approx_count_distinct(col("l_orderkey")).as("approx_orders"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median"))

  /** Q27c: t-digest quantile sketch (the reference's own sketch for
    * tdigest/approximate_median — graft.functions.expr.TDigestAgg is a
    * merging digest with the k1 scale function, built map-side and merged
    * exactly, so the shuffle carries O(δ) centroids per group). Sketch
    * estimates are engine- and order-specific → no SQL oracle; accuracy
    * vs exact quantiles is asserted in ApproxAggSpec. */
  private def q27c(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(graft.functions.expr.TDigestAgg
        .quantiles(col("l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.99)).as("qs"))
      .select(
        element_at(col("qs"), 1).as("td_p25"),
        element_at(col("qs"), 2).as("td_p50"),
        element_at(col("qs"), 3).as("td_p75"),
        element_at(col("qs"), 4).as("td_p99"))

  /** Q27d: GROUPED t-digest quantiles (reference hash_tdigest /
    * hash_approximate_median — grouped sketch aggregation): one mergeable
    * digest per group, built map-side, merged exactly on the shuffle —
    * the grouped-quantile scale path. (Grouped EXACT percentile buffers
    * every group's values in one task per group; a sketch per group is
    * the 100 TB answer, with ApproxAggSpec pinning per-group accuracy
    * against exact grouped quantiles.) */
  private def q27d(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.expr.TDigestAgg
        .quantiles(col("l_extendedprice"), Seq(0.25, 0.5, 0.75)).as("qs"))
      .select(
        col("l_returnflag"),
        element_at(col("qs"), 1).as("td_p25"),
        element_at(col("qs"), 2).as("td_p50"),
        element_at(col("qs"), 3).as("td_p75"))
      .orderBy(col("l_returnflag"))

  /** Q27h: sketch ERROR gate — the approximate aggregates (HLL++,
    * percentile_approx, t-digest scalar + grouped) measured in-Spark
    * against their exact counterparts and emitted as thresholded flags,
    * so the driver's DuckDB gate (constant oracle) — not just
    * ApproxAggSpec — covers the sketch paths. Thresholds carry wide
    * margin: HLL++ default rsd is 5% (gate 10%), percentile_approx at
    * accuracy 10000 and the t-digest at δ=100 are both well inside 1%
    * on this column (gate 2% / 5%).
    *
    * One ship-year slice (same reasoning as q16b): the gate property is
    * per-sketch ERROR, not data volume — four exact baselines over the
    * full column tripled this gate's cost for zero extra coverage, and
    * one year still holds ~85k rows at sf0.1. As a RANGE predicate, not
    * `year() = 1995`: q27h scans its input ~5 times (range-sample,
    * sort materialization, scalar agg, grouped window, grouped
    * t-digest), and the range form is the one parquet row-group stats
    * can prune on every one of those scans. */
  private def q27h(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(
      col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1996-01-01"))
    def relOk(a: Column, e: Column, tol: Double): Column =
      (abs(a - e) <= abs(e) * tol).cast("int")
    // exact medians via the rank-selection operators, never the
    // single-buffer percentile() aggregate — this gate must not embody
    // the anti-pattern Quantiles exists to avoid (q27a/q33 PlanSpec)
    val exMedian = graft.operators.Quantiles.exact(li, "l_extendedprice", Seq(0.5)).head
    // one distinct column gates the HLL++ plumbing; a second would only
    // widen the distinct-agg expand (3x the scan) for no new coverage.
    // percentile_approx accuracy 2000 keeps error ~1e-3, far inside the
    // 2% gate, at a fraction of the summary-merge cost of 10000.
    //
    // The distinct counts and the quantile sketches are DELIBERATELY two
    // aggregations cross-joined (both 1-row): fusing a distinct agg with
    // TypedImperative sketch buffers makes Catalyst route the sketches
    // through the distinct Expand — one t-digest / QuantileSummaries
    // buffer PER DISTINCT KEY in a sort aggregate (measured 4.3 s vs
    // 0.6 s here, and at 100 TB it is one sketch per key — unboundedly
    // worse than two clean passes).
    val scalar = li.agg(
      countDistinct(col("l_partkey")).cast("double").as("ex_parts"),
      approx_count_distinct(col("l_partkey")).cast("double").as("ap_parts"))
      .crossJoin(li.agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(2000)).as("ap_median"),
        graft.functions.expr.TDigestAgg
          .quantiles(col("l_extendedprice"), Seq(0.5)).as("td")))
      .withColumn("ex_median", lit(exMedian))
    val grouped = graft.operators.Quantiles
      .exactGrouped(li, "l_returnflag", "l_extendedprice", Seq(0.5))
      .select(col("l_returnflag"), col("q0").as("ex"))
      .join(
        li.groupBy(col("l_returnflag"))
          .agg(graft.functions.expr.TDigestAgg
            .quantiles(col("l_extendedprice"), Seq(0.5)).as("td")),
        "l_returnflag")
      .agg(max(abs(element_at(col("td"), 1) - col("ex")) / abs(col("ex")))
        .as("__maxerr"))
    scalar.crossJoin(grouped).select(
      relOk(col("ap_parts"), col("ex_parts"), 0.10).as("approx_distinct_ok"),
      relOk(col("ap_median"), col("ex_median"), 0.02).as("approx_median_ok"),
      relOk(element_at(col("td"), 1), col("ex_median"), 0.05).as("tdigest_p50_ok"),
      (col("__maxerr") <= 0.05).cast("int").as("grouped_tdigest_ok"))
  }

  private val q27hSql =
    """SELECT 1 AS approx_distinct_ok, 1 AS approx_median_ok,
      |  1 AS tdigest_p50_ok, 1 AS grouped_tdigest_ok""".stripMargin

  val caps: Seq[Capability] = Seq(
    Capability("q24a_array_kernels", "size/element_at/slice/fold/min/max over arrays", q24a, Some(q24aSql)),
    Capability("q24b_explode", "posexplode of array column", q24b, Some(q24bSql)),
    Capability("q24c_map_kernels", "map construct/keys/lookup/transform/concat/filter", q24c, Some(q24cSql)),
    Capability("q24d_array_setops", "array distinct/union/intersect/except/position/contains", q24d, Some(q24dSql)),
    Capability("q25_partitioned_write", "hive-partitioned parquet write → read", q25, Some(q25Sql)),
    Capability("q25i_max_rows_per_file", "file-size-bounded write (maxRecordsPerFile)", q25i,
      Some(q25Sql)),
    Capability("q25j_dynamic_overwrite",
      "dynamic partition overwrite (delete_matching existing-data behavior)", q25j,
      Some(q25Sql)),
    Capability("q25k_parquet_bloom",
      "per-column parquet bloom filters (point-lookup row-group skipping)", q25k,
      Some(q25Sql)),
    Capability("q25b_filename_partition", "path-encoded partition key via input_file_name", q25b, Some(q25bSql)),
    Capability("q25c_merge_schema", "schema unification across parquet dirs", q25c, Some(q25cSql)),
    Capability("q25d_tee", "tee: write a copy while passing the stream through", q25d, Some(q25dSql)),
    Capability("q25e_bucketed", "bucketed write → co-located join (no shuffle)", q25e, Some(q25eSql)),
    Capability("q25f_compression", "zstd/snappy parquet codec round-trip equivalence", q25f, Some(q25fSql)),
    Capability("q25g_sorted_layout", "range-partitioned sorted write → pruned range read", q25g, Some(q25gSql)),
    Capability("q25h_zorder_layout", "z-order clustered write → two-dimensional box read", q25h, Some(q25hSql)),
    Capability("q26a_csv_roundtrip", "CSV write → typed read round-trip", q26a, Some(q26Sql)),
    Capability("q26b_json_roundtrip", "JSON write → typed read round-trip", q26b, Some(q26Sql)),
    Capability("q26c_orc_roundtrip", "ORC write → read round-trip", q26c, Some(q26Sql)),
    Capability("q26d_ipc_roundtrip", "Arrow IPC write → read round-trip (arrow-java)", q26d, Some(q26Sql)),
    Capability("q26i_ipc_stream", "Arrow IPC STREAM-format round-trip (footerless framing)", q26i, Some(q26Sql)),
    Capability("q26l_ipc_zstd", "zstd-compressed Arrow IPC round-trip (body-buffer codec)", q26l, Some(q26Sql)),
    Capability("q26m_ipc_dict", "dictionary-encoded Arrow IPC round-trip (categorical transport)", q26m, Some(q26Sql)),
    Capability("q26n_ipc_ree", "run-end-encoded Arrow IPC round-trip (sorted-run transport)", q26n,
      Some(q26Sql)),
    Capability("q26p_ipc_partitioned",
      "hive-partitioned Arrow IPC dataset round-trip (HivePartitioning)",
      q26p, Some(q26pSql)),
    Capability("q26o_ipc_view", "view-layout Arrow IPC round-trip (string_view transport)", q26o,
      Some(q26Sql)),
    Capability("q26q_ipc_fsl",
      "fixed-size-list Arrow IPC round-trip (the embedding transport layout)", q26q,
      Some(q26qSql)),
    Capability("q26s_ipc_map",
      "map-layout Arrow IPC round-trip (entries exploded, every key/value gated)",
      q26s, Some(q26sSql)),
    Capability("q27a_quantiles", "exact quantiles + distinct count", q27a, Some(q27aSql)),
    Capability("q27f_quantile_interp", "all five quantile interpolation modes", q27f, Some(q27fSql)),
    Capability("q27g_grouped_quantiles", "exact grouped quantiles, single-shuffle window rank selection", q27g,
      Some(q27gSql)),
    Capability("q27b_approx", "HLL++ / percentile sketch approximations", q27b, None),
    Capability("q39_incremental_hll", "persisted mergeable HLL sketches: shard → parquet → union", q39,
      Some(q39Sql)),
    Capability("q27c_tdigest", "t-digest quantile sketch (custom TypedImperativeAggregate)", q27c, None),
    Capability("q27d_grouped_tdigest", "per-group t-digest quantiles (hash_tdigest)", q27d, None),
    Capability("q27h_sketch_err", "sketch error gate: approx aggs vs exact (constant oracle)", q27h,
      Some(q27hSql)),
  )
}
