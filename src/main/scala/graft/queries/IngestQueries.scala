package graft.queries

import graft.{Capability, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV/JSON ingest options battery (reference csv/options.h:42-190,
  * json/options.h:42): schema inference, custom null markers, non-default
  * delimiters, comment skipping, quoted/escaped fields, custom date
  * formats, per-column type overrides. Each entry is gated against DuckDB
  * reading THE SAME files with the equivalent `read_csv` options — true
  * cross-engine option parity, not just a self-round-trip. Corrupt-record
  * capture and FAILFAST semantics (no SQL-expressible oracle) are asserted
  * in IngestSpec.
  */
object IngestQueries {

  /** Q26f: non-default delimiter + headerless + custom null marker +
    * custom date format round-trip (reference ParseOptions.delimiter,
    * ConvertOptions.null_values, csv/options.h:42-120). The planted nulls
    * (priority '3-MEDIUM' → NULL) must survive the `\N` marker in both
    * directions; any option mis-parse surfaces as a value difference
    * against the parquet originals. */
  private def q26f(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q26f_csv")
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio"),
        col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_date"))
      .write.mode("overwrite")
      .option("sep", "|").option("header", "false")
      .option("nullValue", "\\N")
      .option("dateFormat", "yyyy/MM/dd")
      .csv(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("prio", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_date", DateType)))
    s.read
      .option("sep", "|").option("header", "false")
      .option("nullValue", "\\N")
      .option("dateFormat", "yyyy/MM/dd")
      .schema(schema)
      .csv(out)
      .orderBy(col("o_orderkey"))
  }

  /** Oracle against the parquet table, not the written files: the files
    * live under the scratch key of the data they were written from, a
    * directory the oracle string, fixed when the registry is built,
    * cannot name (the fixture-based q26g keeps the
    * DuckDB-reads-Spark's-files parity check — its bytes are identical
    * on every run). The round-trip equality here still proves the
    * delimiter/null-marker/date-format options: any mis-parse would
    * surface as a value difference. */
  private val q26fSql =
    """SELECT o_orderkey,
      |  nullif(o_orderpriority, '3-MEDIUM') AS prio,
      |  o_totalprice,
      |  CAST(o_orderdate AS DATE) AS o_date
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** The messy-fixture CSV both engines must agree on: junk comment
    * lines, pipe delimiter, quoted field containing the delimiter,
    * doubled-quote escapes, 'NA' null markers in three different column
    * types, a custom date format, and a DECIMAL column read via an
    * explicit per-column type override. */
  private val messyCsv = Seq(
    "# synthetic ingest fixture -- the first two lines are junk to skip",
    "# (Spark: comment '#'; DuckDB: skip = 2)",
    "id|name|price|qty|day",
    "1|\"alpha|beta\"|1234.50|10|2024/01/15",
    "2|NA|0.75|NA|2024/02/29",
    "3|\"he said \"\"hi\"\"\"|99.99|7|2023/12/01",
    "4|delta|NA|0|2024/03/31",
    "5|epsilon|5.00|3|2024/07/04",
  ).mkString("", "\n", "\n")

  private val messyPath = Tables.scratch("q26g_messy.csv")

  /** Q26g: per-column type override + comment skipping + quote/escape +
    * null markers on a hand-written fixture (reference
    * ConvertOptions.column_types csv/options.h:78, ParseOptions
    * quoting/escaping §42-76). Spark's override is the explicit schema;
    * DuckDB's is `types = {...}` on top of header auto-naming. The
    * DECIMAL(12,2) column proves the override is applied (values like
    * 1234.50 parse exactly); surfaced as double because the gate's
    * comparator has no decimal dtype. */
  private def q26g(s: SparkSession, d: String): DataFrame = {
    val path = Tables.writeText(messyPath, messyCsv)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("price", DecimalType(12, 2)),
      StructField("qty", IntegerType),
      StructField("day", DateType)))
    s.read
      .option("sep", "|").option("header", "true")
      .option("comment", "#")
      .option("nullValue", "NA")
      .option("quote", "\"").option("escape", "\"")
      .option("dateFormat", "yyyy/MM/dd")
      .schema(schema)
      .csv(path)
      .select(col("id"), col("name"),
        col("price").cast("double").as("price"), col("qty"), col("day"))
      .orderBy(col("id"))
  }

  private val q26gSql =
    s"""SELECT id, name, CAST(price AS DOUBLE) AS price, qty, day
      |FROM read_csv('$messyPath',
      |  delim = '|', header = true, skip = 2, nullstr = 'NA',
      |  quote = '"', escape = '"', dateformat = '%Y/%m/%d',
      |  types = {'id': 'BIGINT', 'price': 'DECIMAL(12,2)',
      |           'qty': 'INTEGER', 'day': 'DATE'})
      |ORDER BY id""".stripMargin

  /** Q26h: JSON schema inference (reference json/options.h:42
    * UnexpectedFieldBehavior + type inference): line-delimited JSON read
    * back with NO schema — long/double/boolean/string inferred (JSON has
    * no date literal, so the date column round-trips as string and is
    * cast on output by both engines). */
  private def q26h(s: SparkSession, d: String): DataFrame = {
    val out = Tables.scratch(d, "q26h_json")
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        (col("o_orderstatus") === "F").as("is_f"),
        col("o_totalprice"),
        to_date(col("o_orderdate")).cast("string").as("o_date_s"))
      .write.mode("overwrite").json(out)
    s.read.json(out) // no schema: full inference
      .select(col("o_orderkey"), col("is_f"), col("o_totalprice"),
        col("o_date_s").cast("date").as("o_date"))
      .orderBy(col("o_orderkey"))
  }

  private val q26hSql =
    """SELECT o_orderkey, o_orderstatus = 'F' AS is_f, o_totalprice,
      |  CAST(o_orderdate AS DATE) AS o_date
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val q26jDir = Tables.scratch("q26j_csv_write")

  /** Q26j: CSV WRITE options (reference `WriteOptions` —
    * csv/options.h:191: quoting style, null string, header, delimiter).
    * A deterministic literal frame stressing every quoting edge (embedded
    * delimiter, embedded quote, embedded newline, preserved whitespace,
    * null marker) is written by SPARK with quoteAll + doubled-quote
    * escaping + a custom null string, and the oracle is DuckDB reading
    * SPARK'S OWN OUTPUT FILES — true write-side parity, not a
    * self-round-trip (the Spark result is its read-back of the same
    * files, so all three views must agree). */
  private def q26j(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Seq(
      (1L, Some("plain"), Some(1.5)),
      (2L, Some("comma, inside"), Some(-2.25)),
      (3L, Some("quote \" inside"), Some(0.0)),
      (4L, None, Some(3.75)),
      (5L, Some("line\nbreak"), None),
      (6L, Some("  spaces  "), Some(-0.5)))
    // the frame is a constant literal, so the written bytes are identical
    // on every run — build-once + atomic rename means a concurrent
    // verify/bench process can never glob a half-deleted directory
    Tables.immutableFixture(q26jDir) { tmp =>
      rows.toDF("id", "note", "val")
        .coalesce(1) // one part file: byte-stable output for the oracle glob
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("header", "true")
        .option("quote", "\"").option("escape", "\"")
        .option("quoteAll", "true")
        .option("nullValue", "__NULL__")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(tmp)
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("note", StringType),
      StructField("val", DoubleType)))
    s.read
      .option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("nullValue", "__NULL__")
      .option("multiLine", "true") // the quoted embedded newline
      .schema(schema)
      .csv(q26jDir)
      .orderBy(col("id"))
  }

  private val q26jSql =
    s"""SELECT id, note, val
      |FROM read_csv('$q26jDir/*.csv',
      |  header = true, quote = '"', escape = '"', nullstr = '__NULL__',
      |  types = {'id': 'BIGINT', 'note': 'VARCHAR', 'val': 'DOUBLE'})
      |ORDER BY id""".stripMargin

  /** Q26k: corrupt-file skip on a parquet directory — the operational
    * contract a 100 TB ingest lives by: one bad object (truncated upload,
    * bit-rot, a stray non-parquet file with the wrong extension) must
    * cost its own rows only, never the job. A valid copy of `documents`
    * shares a directory with a planted garbage `.parquet`; the read runs
    * with `ignoreCorruptFiles` and must return exactly the good rows
    * (oracle = the documents table itself). IngestSpec asserts the
    * complementary default: WITHOUT the option the read fails loudly. */
  private def corruptDir(s: SparkSession, d: String): String = {
    val out = Tables.scratch(d, "q26k_corrupt")
    Tables.immutableFixture(out) { tmp =>
      Tables.documents(s, d).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "part-corrupt.parquet"),
        "this is not a parquet file".getBytes("UTF-8"))
    }
    out
  }

  private def q26k(s: SparkSession, d: String): DataFrame =
    s.read
      .option("ignoreCorruptFiles", "true")
      .parquet(corruptDir(s, d))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val q26kSql =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The multiline-record fixture: quoted fields carrying the delimiter,
    * doubled-quote escapes AND embedded NEWLINES — the messy-ingest shape
    * a naive line-splitting reader silently shreds (one logical record
    * becomes several physical garbage rows). Byte-stable literal. */
  private val multilineCsv = Seq(
    "id|title|body|score",
    "1|intro|\"first line\nsecond line\nthird|with pipe\"|0.5",
    "2|\"quote \"\"x\"\" title\"|\"body with | pipe only\"|1.25",
    "3|plain|\"a\nb\"|NA",
    "4|last|simple|2.0",
  ).mkString("", "\n", "\n")

  private val multilinePath = Tables.scratch("q26r_multiline.csv")

  /** Q26r: quoted MULTILINE records (reference ParseOptions
    * newlines_in_values, csv/options.h:61) — `multiLine = true` is what
    * makes Spark parse the whole file as records instead of lines; the
    * oracle is DuckDB reading THE SAME file (its quote parser handles
    * embedded newlines natively). IngestSpec asserts the loud complement:
    * the DEFAULT line-split read on this fixture fails under FAILFAST
    * rather than silently shredding records. */
  private def q26r(s: SparkSession, d: String): DataFrame = {
    val path = Tables.writeText(multilinePath, multilineCsv)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("title", StringType),
      StructField("body", StringType),
      StructField("score", DoubleType)))
    s.read
      .option("sep", "|").option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("nullValue", "NA")
      .option("multiLine", "true")
      .schema(schema)
      .csv(path)
      .orderBy(col("id"))
  }

  private val q26rSql =
    s"""SELECT id, title, body, score
      |FROM read_csv('$multilinePath',
      |  delim = '|', header = true, quote = '"', escape = '"',
      |  nullstr = 'NA',
      |  types = {'id': 'BIGINT', 'title': 'VARCHAR',
      |           'body': 'VARCHAR', 'score': 'DOUBLE'})
      |ORDER BY id""".stripMargin

  val caps: Seq[Capability] = Seq(
    Capability("q26e_csv_infer", "CSV schema inference round-trip", NestedIOQueries.q26e,
      Some(NestedIOQueries.q26Sql)),
    Capability("q26f_csv_options", "CSV delimiter/null-marker/date-format parity on shared files",
      q26f, Some(q26fSql)),
    Capability("q26g_csv_messy", "messy CSV: comments, quotes, per-column overrides",
      q26g, Some(q26gSql)),
    Capability("q26h_json_infer", "JSON schema inference round-trip", q26h, Some(q26hSql)),
    Capability("q26j_csv_write_options", "CSV write options: quoteAll/escape/null string (DuckDB reads Spark's files)",
      q26j, Some(q26jSql)),
    Capability("q26k_corrupt_skip", "corrupt parquet file skipped, good rows intact (ignoreCorruptFiles)",
      q26k, Some(q26kSql)),
    Capability("q26r_csv_multiline", "quoted multiline CSV records parsed identically by both engines",
      q26r, Some(q26rSql)),
  )
}
