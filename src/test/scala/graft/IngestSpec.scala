package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ingest-option behaviors with no SQL-expressible oracle: inferred
  * schemas, corrupt-record capture (PERMISSIVE), and strict-mode failure
  * (FAILFAST) — reference csv/options.h invalid-row handling and
  * json/options.h UnexpectedFieldBehavior. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("CSV inference recovers long/double/date/string types") {
    val df = Registry.byName("q26e_csv_infer").run(spark, sf)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("o_orderkey").isInstanceOf[IntegerType] ||
      types("o_orderkey").isInstanceOf[LongType], types("o_orderkey"))
    assert(types("o_orderstatus") == StringType)
    assert(types("o_totalprice") == DoubleType)
    assert(types("o_date") == DateType)
  }

  test("a query built at a second scale factor leaves the first one's files alone") {
    // each frame lists its files when it is built, so a second write to
    // the same directory before the first collect would delete them
    val other = "/root/testdata/sf0.01"
    for (name <- Seq("q26a_csv_roundtrip", "q25f_compression", "q26e_csv_infer")) {
      val q = Registry.byName(name)
      val first = q.run(spark, sf)
      val second = q.run(spark, other)
      for ((df, d) <- Seq(first -> sf, second -> other)) {
        val rows = df.collect()
        val n = if (name == "q25f_compression") rows.head.getLong(0) else rows.length.toLong
        assert(n == Tables.orders(spark, d).count(), s"$name built at $d")
      }
    }
  }

  test("JSON inference recovers long/boolean/double types") {
    val out = Tables.scratch(sf, "q26h_json")
    Registry.byName("q26h_json_infer").run(spark, sf).collect() // writes files
    val inferred = spark.read.json(out).schema.fields.map(f => f.name -> f.dataType).toMap
    assert(inferred("o_orderkey") == LongType)
    assert(inferred("is_f") == BooleanType)
    assert(inferred("o_totalprice") == DoubleType)
    assert(inferred("o_date_s") == StringType) // JSON has no date literal
  }

  test("messy CSV parses quotes, escapes, null markers and overrides") {
    val rows = Registry.byName("q26g_csv_messy").run(spark, sf).collect()
    assert(rows.length == 5)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1).getString(1) == "alpha|beta") // delimiter inside quotes
    assert(byId(3).getString(1) == "he said \"hi\"") // doubled-quote escape
    assert(byId(2).isNullAt(1) && byId(2).isNullAt(3)) // NA → null (string, int)
    assert(byId(4).isNullAt(2)) // NA → null (decimal)
    assert(byId(2).getDate(4).toString == "2024-02-29") // custom date format, leap day
    assert(byId(1).getDouble(2) == 1234.5) // DECIMAL(12,2) override parsed exactly
  }

  /** Shared corrupt-CSV fixture, written by whichever test runs first so
    * each test also passes in isolation. */
  private def corruptCsv(): String =
    Tables.writeText(Tables.scratch("ingest_corrupt.csv"),
      "1,alpha,2.5\n2,beta,notanumber\n3,gamma,9.0\n")

  test("PERMISSIVE mode captures corrupt CSV rows in a named column") {
    val path = corruptCsv()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("v", DoubleType),
      StructField("_bad", StringType)))
    val df = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(path)
      .cache()
    try {
      assert(df.filter(col("_bad").isNotNull).count() == 1)
      val bad = df.filter(col("_bad").isNotNull).collect().head
      assert(bad.getAs[String]("_bad") == "2,beta,notanumber")
      assert(bad.isNullAt(bad.fieldIndex("v"))) // unparsable field nulled
      assert(df.filter(col("_bad").isNull).count() == 2) // good rows intact
    } finally df.unpersist()
  }

  test("PERMISSIVE mode captures corrupt JSON lines; DROPMALFORMED drops them") {
    val path = Tables.writeText(Tables.scratch("ingest_corrupt.json"),
      "{\"id\": 1, \"v\": 2.5}\n{not json at all\n{\"id\": 3, \"v\": 9.0}\n")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", DoubleType),
      StructField("_bad", StringType)))
    // must cache before filtering on only the corrupt column — Spark
    // disallows corrupt-column-only queries on the raw file scan
    val permissive = spark.read.schema(schema)
      .option("columnNameOfCorruptRecord", "_bad").json(path).cache()
    try {
      assert(permissive.count() == 3)
      assert(permissive.filter(col("_bad").isNotNull).count() == 1)
    } finally permissive.unpersist()
    val dropped = spark.read.schema(StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(path)
    assert(dropped.count() == 2)
  }

  test("corrupt parquet file: skipped with ignoreCorruptFiles, loud without") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    Tables.documents(spark, sf).limit(100)
      .write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    val n = spark.read.option("ignoreCorruptFiles", "true").parquet(dir).count()
    assert(n == 100, "good rows must survive the bad neighbor")
    // the default contract is the opposite: fail loudly, never silently
    // drop data the caller did not opt out of
    intercept[Exception] {
      spark.read.parquet(dir).collect()
    }
  }

  test("multiline CSV: multiLine parses records; the line-split default is loud, not silent") {
    // the gated q26r fixture: 4 logical records, 3 embedded newlines
    val rows = Registry.byName("q26r_csv_multiline").run(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows(0).getString(2) == "first line\nsecond line\nthird|with pipe")
    assert(rows(1).getString(1) == "quote \"x\" title")
    assert(rows(2).isNullAt(3), "NA null marker inside a multiline file")
    // WITHOUT multiLine the reader splits on raw newlines — records shred.
    // Under FAILFAST that must be a loud parse error, never silent garbage
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("title", StringType),
      StructField("body", StringType),
      StructField("score", DoubleType)))
    intercept[org.apache.spark.SparkException] {
      spark.read
        .option("sep", "|").option("header", "true")
        .option("quote", "\"").option("escape", "\"")
        .option("mode", "FAILFAST")
        .schema(schema)
        .csv(Tables.scratch("q26r_multiline.csv"))
        .collect()
    }
  }

  test("parquet mergeSchema: sibling type conflict is loud; per-file cast union recovers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    // sibling files that agree on the column NAME but not its TYPE — the
    // schema-drift shape a long-lived 100 TB dataset actually develops
    // (a producer changed `v` from long to string mid-stream)
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/old")
    Seq((3L, "thirty"), (4L, "forty")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/new")
    // mergeSchema must REFUSE to guess between LONG and STRING
    val ex = intercept[Exception] {
      spark.read.option("mergeSchema", "true")
        .parquet(s"$dir/old", s"$dir/new").collect()
    }
    val msg = (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(""))
      .toLowerCase
    assert(msg.contains("merge") || msg.contains("incompatible"), msg)
    // the recovery recipe: per-file reads, explicit cast, unionByName —
    // the caller CHOOSES the unified type instead of the engine guessing
    val unified = spark.read.parquet(s"$dir/old")
      .select(col("id"), col("v").cast("string").as("v"))
      .unionByName(spark.read.parquet(s"$dir/new"))
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(unified.toSeq == Seq(
      (1L, "10"), (2L, "20"), (3L, "thirty"), (4L, "forty")))
  }

  test("FAILFAST mode raises on the first malformed row") {
    val path = corruptCsv()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("v", DoubleType)))
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST").csv(path).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("malformed") ||
      Option(ex.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }
}
