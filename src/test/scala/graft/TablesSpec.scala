package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, StandardCopyOption}

/** The loaders' schema cache: a rewritten fixture, a rewritten directory
  * and a flipped schema conf are each read with the schema they imply. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `df` as the single parquet file `dir/name.parquet`, in place of any
    * file already there. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val out = Files.createTempDirectory("graft_tables_part").toString
    df.coalesce(1).write.parquet(s"$out/t")
    val part = new java.io.File(s"$out/t").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(part.length == 1)
    Files.move(part.head.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a fixture file rewritten with other columns is read with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_file").toString
    writeFile(Seq((1L, "a")).toDF("id", "name"), dir, "region")
    assert(Tables.load(spark, dir, "region").columns.toSeq == Seq("id", "name"))
    writeFile(Seq((2L, 0.5, true)).toDF("id", "score", "flag"), dir, "region")
    val back = Tables.load(spark, dir, "region")
    assert(back.columns.toSeq == Seq("id", "score", "flag"))
    assert(back.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 0.5, true)))
  }

  test("a directory-valued table that is rewritten reads its new data and schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_dir").toString
    val table = new java.io.File(s"$dir/orders.parquet")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(table.getPath)
    assert(Tables.orders(spark, dir).count() == 2)
    // swap the files inside the same directory and put its mtime back:
    // the directory's own inode, mtime and size stay as they were
    val mtime = Files.getLastModifiedTime(table.toPath)
    Seq((3L, 1.5)).toDF("id", "price").coalesce(1).write.parquet(s"$dir/next")
    table.listFiles().foreach(_.delete())
    new java.io.File(s"$dir/next").listFiles()
      .foreach(f => Files.move(f.toPath, table.toPath.resolve(f.getName)))
    Files.setLastModifiedTime(table.toPath, mtime)
    val back = Tables.orders(spark, dir)
    assert(back.columns.toSeq == Seq("id", "price"))
    assert(back.as[(Long, Double)].collect().toSeq == Seq((3L, 1.5)))
  }

  test("flipping nanosAsLong between reads of a NANOS file gives the type each setting implies") {
    val dir = Files.createTempDirectory("graft_tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message ticks { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/ticks.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    try {
      def illegal(): Unit = {
        spark.conf.set(key, "false")
        val e = intercept[Exception](Tables.load(spark, dir, "ticks").collect())
        assert(String.valueOf(e.getMessage).contains("TIMESTAMP(NANOS"), e.getMessage)
      }
      illegal()
      spark.conf.set(key, "true")
      val ticks = Tables.load(spark, dir, "ticks")
      assert(ticks.schema("ts").dataType == LongType)
      assert(ticks.collect().map(_.getLong(0)).toSeq == Seq(1700000000123456789L))
      illegal() // not the LongType schema the previous read inferred
    } finally spark.conf.set(key, before)
  }
}
