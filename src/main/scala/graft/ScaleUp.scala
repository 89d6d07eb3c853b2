package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data builder: replicates an existing testdata
  * directory `factor`× with referential integrity preserved, so the bench
  * can measure how every flagship plan's wall-time actually scales — the
  * round-11 verdict's top item (q67's 87 s sf0.1 surprise was only caught
  * because sf0.1 got MEASURED; the remaining scale shapes were
  * documentation until this rehearsal).
  *
  * Replication model (what a 10× corpus really looks like):
  *  - dimension tables (region, nation) stay FIXED — real scale grows
  *    facts, not the country list;
  *  - every entity key shifts by `replica · 10⁸` consistently across
  *    tables (o_custkey moves with c_custkey), so join fan-outs and
  *    group cardinalities grow linearly, never quadratically;
  *  - document TEXT is word-suffixed per replica (`w` → `w_r3`), so a
  *    replica is NOT a near-duplicate of its source: shingles/fingerprints
  *    are distinct across replicas, each shingle's document frequency is
  *    UNCHANGED, and dedup pair counts scale ×factor — the honest model
  *    of "10× more data at the same duplication rate" (verbatim
  *    replication would fabricate ×factor² pair blowups no real corpus
  *    has); n_chars is recomputed to stay consistent;
  *  - event timestamps are kept, so time-window groups get ×factor rows
  *    (more traffic, same hours) — the distribution a busier pipeline
  *    actually sees;
  *  - embeddings replicate as-is (ANN throughput depends on row count
  *    and cell occupancy, not vector novelty).
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <outDir> <factor>`
  * (e.g. /root/testdata/sf0.1 /tmp/sf1 10), then
  * `SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench <query>...` with the
  * flagship + documented-quadratic set as the queries.
  */
object ScaleUp {

  private val KeyOffset = 100000000L // > any key at the source SFs

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession.fromEnv(32, "graft-scaleup")

    // replicas as a broadcast 1-column frame: the cross join is the
    // narrow factor-way fan-out, never a shuffle
    val reps = broadcast(
      spark.range(factor).select(col("id").cast("long").as("__r")))
    // key shifts collide SILENTLY if any source key reaches the offset
    // (e.g. chaining ScaleUp over its own output) — fail loudly instead
    def requireKeyRange(df: DataFrame, table: String,
        keys: Seq[String]): Unit = keys.foreach { k =>
      val mx = df.agg(max(col(k))).head
      val bad = !mx.isNullAt(0) && mx.getLong(0) >= KeyOffset
      require(!bad, s"$table.$k has keys >= $KeyOffset — replicas would " +
        "collide; scale up from the ORIGINAL testdata, not ScaleUp output")
    }
    def shiftKeys(df: DataFrame, table: String,
        keys: Seq[String]): DataFrame = {
      requireKeyRange(df, table, keys)
      keys.foldLeft(df.crossJoin(reps)) { (d, k) =>
        d.withColumn(k, col(k) + col("__r") * KeyOffset)
      }.drop("__r")
    }

    def copy(table: String): Unit =
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    def write(table: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$table.parquet")
      val n = spark.read.parquet(s"$out/$table.parquet").count()
      println(s"[scaleup] $table: $n rows")
    }
    def read(table: String): DataFrame =
      spark.read.parquet(s"$src/$table.parquet")

    copy("region"); copy("nation") // dimensions do not scale
    write("customer", shiftKeys(read("customer"), "customer", Seq("c_custkey")))
    write("supplier", shiftKeys(read("supplier"), "supplier", Seq("s_suppkey")))
    write("part", shiftKeys(read("part"), "part", Seq("p_partkey")))
    write("orders", shiftKeys(read("orders"), "orders",
      Seq("o_orderkey", "o_custkey")))
    write("lineitem", shiftKeys(read("lineitem"), "lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    // events.parquet carries TIMESTAMP(NANOS) — read through the session
    // flag the engine itself uses, write back as micros (Tables.events
    // normalizes either way)
    write("events", shiftKeys(read("events"), "events",
      Seq("event_id", "user_id")))
    requireKeyRange(read("documents"), "documents", Seq("doc_id"))
    val docs = read("documents").crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("__r") * KeyOffset)
      // NULL/empty text keeps its shape in EVERY replica: suffixing a
      // null array would silently turn NULL into '' (and '' into a
      // nonempty '_rN' token) — a row shape the source corpus never had
      .withColumn("text",
        when(col("__r") === 0L || col("text").isNull || col("text") === "",
          col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              w => concat(w, lit("_r"), col("__r"))))))
      .withColumn("n_chars", length(col("text")))
      .drop("__r")
    write("documents", docs)
    write("embeddings", shiftKeys(read("embeddings"), "embeddings",
      Seq("vec_id")))
    spark.stop()
  }
}
