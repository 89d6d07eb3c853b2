package graft

import graft.sources.ArrowIpc
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("Arrow IPC round-trip preserves schema and values incl. nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc").toString
    val df = Seq(
      (1L, Some("a"), Some(1.5), true),
      (2L, None, None, false),
      (3L, Some("ü"), Some(-0.25), true)
    ).toDF("id", "s", "d", "b")
    ArrowIpc.write(df, dir)
    val back = ArrowIpc.read(spark, dir).orderBy("id")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("q25g sorted layout: per-file key ranges are pairwise disjoint and the range filter is pushed") {
    // run the gated query once to install the immutable fixture
    Registry.byName("q25g_sorted_layout").run(spark, sf)
    val out = Tables.scratch(sf, "q25g_sorted")
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(ranges.length >= 2, s"expected >=2 files, got ${ranges.length}")
    ranges.sliding(2).foreach {
      case Array((fa, _, hiA), (fb, loB, _)) =>
        // equal keys land in ONE range partition, so file ranges are
        // strictly disjoint — the property parquet footer min/max
        // skipping needs to prune whole files on a range predicate
        assert(hiA < loB, s"overlapping key ranges: $fa hi=$hiA vs $fb lo=$loB")
      case _ => ()
    }
    val plan = spark.read.parquet(out)
      .filter(col("l_orderkey") <= 900L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(l_orderkey"), s"range filter not pushed:\n$plan")
  }

  test("q25h z-order layout: per-file (partkey, suppkey) bounding boxes cluster") {
    Registry.byName("q25h_zorder_layout").run(spark, sf)
    val out = Tables.scratch(sf, "q25h_zorder")
    val boxes = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(
        min(col("l_partkey")).as("px0"), max(col("l_partkey")).as("px1"),
        min(col("l_suppkey")).as("py0"), max(col("l_suppkey")).as("py1"))
      .collect()
      .map(r => ((r.getLong(2) - r.getLong(1) + 1).toDouble,
        (r.getLong(4) - r.getLong(3) + 1).toDouble))
    assert(boxes.length >= 8, s"expected >=8 files, got ${boxes.length}")
    val stats = spark.read.parquet(out)
      .agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val globalArea = (stats.getLong(1) - stats.getLong(0) + 1).toDouble *
      (stats.getLong(3) - stats.getLong(2) + 1).toDouble
    val meanFrac = boxes.map { case (w, h) => w * h / globalArea }.sum / boxes.length
    // an unclustered layout gives ~1.0 per file; Morton segments cover a
    // small box each (curve-boundary crossings allow a few large ones)
    assert(meanFrac < 0.35, s"mean per-file box area fraction $meanFrac not clustered")
  }

  test("3-dim z-order layout: per-file bounding volumes cluster in ALL dims") {
    val dir = java.nio.file.Files.createTempDirectory("graft_z3").toString + "/z3"
    Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("bigint").as("l_qty"))
      .withColumn("_z", graft.functions.ZOrder.mortonKeyN(
        Seq(col("l_partkey"), col("l_suppkey"), col("l_qty"))))
      .repartitionByRange(16, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.parquet(dir)
    val boxes = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(
        min(col("l_partkey")).as("x0"), max(col("l_partkey")).as("x1"),
        min(col("l_suppkey")).as("y0"), max(col("l_suppkey")).as("y1"),
        min(col("l_qty")).as("q0"), max(col("l_qty")).as("q1"))
      .collect()
      .map(r => (r.getLong(2) - r.getLong(1) + 1).toDouble *
        (r.getLong(4) - r.getLong(3) + 1).toDouble *
        (r.getLong(6) - r.getLong(5) + 1).toDouble)
    assert(boxes.length >= 8, s"expected >=8 files, got ${boxes.length}")
    val g = spark.read.parquet(dir)
      .agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey")),
        min(col("l_qty")), max(col("l_qty"))).head()
    val globalVol = (g.getLong(1) - g.getLong(0) + 1).toDouble *
      (g.getLong(3) - g.getLong(2) + 1).toDouble *
      (g.getLong(5) - g.getLong(4) + 1).toDouble
    val meanFrac = boxes.map(_ / globalVol).sum / boxes.length
    // unclustered ≈ 1.0 per file; 16 Morton segments must each cover a
    // small 3-d box (curve-boundary crossings allow a few larger ones)
    assert(meanFrac < 0.35, s"mean per-file volume fraction $meanFrac not clustered")
  }

  test("compressed IPC: zstd and lz4 round-trip equal, zstd file is smaller, stream format too") {
    def dirBytes(dir: String): Long = {
      val d = new java.io.File(dir)
      d.listFiles().map(_.length()).sum
    }
    val base = java.nio.file.Files.createTempDirectory("graft_ipc_codec").toString
    val orig = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
    ArrowIpc.write(orig, s"$base/plain")
    ArrowIpc.write(orig, s"$base/zstd", codec = "zstd")
    ArrowIpc.write(orig, s"$base/lz4", codec = "lz4")
    ArrowIpc.writeStream(orig, s"$base/zstds", codec = "zstd")
    val plain = ArrowIpc.read(spark, s"$base/plain").orderBy("doc_id").collect().toSeq
    assert(ArrowIpc.read(spark, s"$base/zstd").orderBy("doc_id").collect().toSeq == plain)
    assert(ArrowIpc.read(spark, s"$base/lz4").orderBy("doc_id").collect().toSeq == plain)
    assert(ArrowIpc.readStream(spark, s"$base/zstds").orderBy("doc_id").collect().toSeq == plain)
    // repetitive text must compress: the codec actually engaged
    assert(dirBytes(s"$base/zstd") < dirBytes(s"$base/plain") / 2,
      s"zstd ${dirBytes(s"$base/zstd")} vs plain ${dirBytes(s"$base/plain")}")
    intercept[IllegalArgumentException] {
      ArrowIpc.write(orig, s"$base/bad", codec = "gzip")
    }
  }

  test("IPC large types (LARGE_STRING/LARGE_BINARY/LARGE_LIST) map per the §1.2 table") {
    // a 64-bit-offset IPC file as an arrow-java producer would emit it;
    // SURVEY §1.2: large_string → string, large_binary → binary,
    // large_list<T> → array<T> (offsets widen, values unchanged)
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import org.apache.arrow.vector.{BigIntVector, LargeVarBinaryVector, LargeVarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.LargeListVector
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_large").toString
    val allocator = new RootAllocator(Long.MaxValue)
    val schema = new Schema(Seq(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("ls", FieldType.nullable(ArrowType.LargeUtf8.INSTANCE), null),
      new Field("lb", FieldType.nullable(ArrowType.LargeBinary.INSTANCE), null),
      new Field("ll", FieldType.nullable(ArrowType.LargeList.INSTANCE), Seq(
        new Field("element", FieldType.nullable(new ArrowType.Int(64, true)), null)
      ).asJava)).asJava)
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      val idV = root.getVector("id").asInstanceOf[BigIntVector]
      val lsV = root.getVector("ls").asInstanceOf[LargeVarCharVector]
      val lbV = root.getVector("lb").asInstanceOf[LargeVarBinaryVector]
      val llV = root.getVector("ll").asInstanceOf[LargeListVector]
      val llW = llV.getWriter
      val rows = Seq(
        (1L, Some("alpha"), Some(Array[Byte](1, 2, 3)), Seq(10L, 20L)),
        (2L, None, None, Seq.empty[Long]),
        (3L, Some("ü_large"), Some(Array[Byte](-1)), Seq(30L)))
      rows.zipWithIndex.foreach { case ((id, s, b, l), i) =>
        idV.setSafe(i, id)
        s match {
          case Some(v) => lsV.setSafe(i, v.getBytes("UTF-8"))
          case None => lsV.setNull(i)
        }
        b match {
          case Some(v) => lbV.setSafe(i, v)
          case None => lbV.setNull(i)
        }
        llW.setPosition(i)
        llW.startList()
        l.foreach(llW.bigInt().writeBigInt)
        llW.endList()
      }
      llW.setValueCount(rows.length)
      root.setRowCount(rows.length)
      val out = new java.io.FileOutputStream(s"$dir/part-00000.arrow")
      val writer = new ArrowFileWriter(root, null, out.getChannel)
      try { writer.start(); writer.writeBatch(); writer.end() }
      finally { writer.close(); out.close() }
    } finally { root.close(); allocator.close() }

    val back = ArrowIpc.read(spark, dir)
    import org.apache.spark.sql.types._
    assert(back.schema.map(f => (f.name, f.dataType)) == Seq(
      ("id", LongType), ("ls", StringType), ("lb", BinaryType),
      ("ll", ArrayType(LongType))),
      s"large-type mapping wrong: ${back.schema}")
    val got = back.orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("alpha"), None, Some("ü_large")))
    assert(Option(got(0).get(2)).map(_.asInstanceOf[Array[Byte]].toSeq) ==
      Some(Seq[Byte](1, 2, 3)) && got(1).isNullAt(2))
    assert(got.map(r => r.getSeq[Long](3)).toSeq ==
      Seq(Seq(10L, 20L), Seq.empty, Seq(30L)))
  }

  test("IPC view layouts (STRING_VIEW/BINARY_VIEW/LIST_VIEW) map per the §1.2 table") {
    // a view-layout IPC file as an Arrow C++ >= 14 producer would emit it
    // (type ids 39-42, reference cpp/src/arrow/type_fwd.h:458-467):
    // inline AND out-of-line string views, plus a list-view whose
    // (offset, size) pairs are deliberately NON-monotonic and overlapping
    // — legal only in the view layout, so a pass proves genuine decode,
    // not offset pass-through
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import org.apache.arrow.vector.{BigIntVector, VectorSchemaRoot, ViewVarBinaryVector, ViewVarCharVector}
    import org.apache.arrow.vector.complex.ListViewVector
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_view").toString
    val allocator = new RootAllocator(Long.MaxValue)
    val schema = new Schema(Seq(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("sv", FieldType.nullable(ArrowType.Utf8View.INSTANCE), null),
      new Field("bv", FieldType.nullable(ArrowType.BinaryView.INSTANCE), null),
      new Field("lv", FieldType.nullable(ArrowType.ListView.INSTANCE), Seq(
        new Field("element", FieldType.nullable(new ArrowType.Int(64, true)), null)
      ).asJava)).asJava)
    val longStr = "a string well beyond the twelve-byte inline view limit"
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      root.allocateNew()
      val idV = root.getVector("id").asInstanceOf[BigIntVector]
      val svV = root.getVector("sv").asInstanceOf[ViewVarCharVector]
      val bvV = root.getVector("bv").asInstanceOf[ViewVarBinaryVector]
      val lvV = root.getVector("lv").asInstanceOf[ListViewVector]
      val child = lvV.getDataVector.asInstanceOf[BigIntVector]
      Seq(100L, 200L, 300L, 400L).zipWithIndex.foreach { case (v, i) =>
        child.setSafe(i, v)
      }
      child.setValueCount(4)
      val svRows = Seq(Some("short"), None, Some(longStr), Some(""))
      val bvRows = Seq(Some(Array[Byte](1, 2)), None,
        Some(Array.tabulate[Byte](20)(_.toByte)), Some(Array.empty[Byte]))
      // (validity, offset, size): row2 starts BEFORE row0's range and
      // overlaps it — non-monotonic shared child ranges
      val lvRows = Seq((1, 2, 2), (0, 0, 0), (1, 0, 3), (1, 1, 0))
      (0 until 4).foreach { i =>
        idV.setSafe(i, i + 1L)
        svRows(i) match {
          case Some(s) => svV.setSafe(i, s.getBytes("UTF-8"))
          case None => svV.setNull(i)
        }
        bvRows(i) match {
          case Some(b) => bvV.setSafe(i, b)
          case None => bvV.setNull(i)
        }
        val (valid, off, len) = lvRows(i)
        lvV.setValidity(i, valid)
        lvV.setOffset(i, off)
        lvV.setSize(i, len)
      }
      lvV.setValueCount(4)
      root.setRowCount(4)
      val out = new java.io.FileOutputStream(s"$dir/part-00000.arrow")
      val writer = new ArrowFileWriter(root, null, out.getChannel)
      try { writer.start(); writer.writeBatch(); writer.end() }
      finally { writer.close(); out.close() }
    } finally { root.close(); allocator.close() }

    val back = ArrowIpc.read(spark, dir)
    import org.apache.spark.sql.types._
    assert(back.schema.map(f => (f.name, f.dataType)) == Seq(
      ("id", LongType), ("sv", StringType), ("bv", BinaryType),
      ("lv", ArrayType(LongType))),
      s"view-layout mapping wrong: ${back.schema}")
    val got = back.orderBy("id").collect()
    assert(got.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("short"), None, Some(longStr), Some("")))
    assert(got(0).get(2).asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2))
    assert(got(1).isNullAt(2))
    assert(got(2).get(2).asInstanceOf[Array[Byte]].length == 20)
    assert(got(3).get(2).asInstanceOf[Array[Byte]].isEmpty)
    assert(got(0).getSeq[Long](3) == Seq(300L, 400L))
    assert(got(1).isNullAt(3))
    assert(got(2).getSeq[Long](3) == Seq(100L, 200L, 300L))
    assert(got(3).getSeq[Long](3) == Seq.empty)
  }

  test("partitioned IPC read: URL-decoded values, inconsistent keys rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_part").toString
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    // value with a space, URL-escaped the way writers escape it
    ArrowIpc.write(a, s"$dir/k=a%20b")
    ArrowIpc.write(b, s"$dir/k=plain")
    val back = ArrowIpc.readPartitioned(spark, dir)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(back.toSeq == Seq((1L, "x", "a b"), (2L, "y", "a b"), (3L, "z", "plain")))
    // a second level with a DIFFERENT key name must fail loudly
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ipc_part2").toString
    ArrowIpc.write(a, s"$dir2/k=1")
    ArrowIpc.write(b, s"$dir2/other=2")
    val err = intercept[IllegalArgumentException] {
      ArrowIpc.readPartitioned(spark, dir2)
    }
    assert(err.getMessage.contains("inconsistent partition keys"), err.getMessage)
  }

  test("a view layout nested INSIDE a struct is rejected loudly at the read boundary") {
    // struct<s: string_view>: the top-level field is NOT itself a view,
    // so the per-column decode walk never sees it — the schema-level walk
    // must reject it with the documented message instead of letting it
    // fall through to an unrelated unsupported-type error
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import org.apache.arrow.vector.VectorSchemaRoot
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_nview").toString
    val allocator = new RootAllocator(Long.MaxValue)
    val schema = new Schema(Seq(
      new Field("st", FieldType.nullable(ArrowType.Struct.INSTANCE), Seq(
        new Field("s", FieldType.nullable(ArrowType.Utf8View.INSTANCE), null)
      ).asJava)).asJava)
    val root = VectorSchemaRoot.create(schema, allocator)
    try {
      root.allocateNew()
      root.setRowCount(0)
      val out = new java.io.FileOutputStream(s"$dir/part-00000.arrow")
      val writer = new ArrowFileWriter(root, null, out.getChannel)
      try { writer.start(); writer.writeBatch(); writer.end() }
      finally { writer.close(); out.close() }
    } finally { root.close(); allocator.close() }
    val err = intercept[IllegalArgumentException] {
      ArrowIpc.read(spark, dir).collect()
    }
    assert(err.getMessage.contains("below the top level"),
      s"expected the documented nested-view rejection, got: ${err.getMessage}")
  }

  test("fixed-size-list IPC: write emits REAL FixedSizeList, read expands it; ragged rejected") {
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.{ArrowFileReader, SeekableReadChannel}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_fsl").toString
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f, 3.0f))),
      (2L, Some(Seq(4.0f, 5.0f, 6.0f))),
      (3L, None)) // a NULL row is representable (only in-list nulls are not)
      .toDF("id", "emb")
    graft.sources.ArrowIpc.writeFsl(df, s"$dir/f", fslCols = Map("emb" -> 3))
    // footer really declares fixed_size_list<3>
    val allocator = new RootAllocator(Long.MaxValue)
    val file = new java.io.File(s"$dir/f").listFiles()
      .filter(_.getName.endsWith(".arrow")).head
    val fc = new java.io.FileInputStream(file).getChannel
    val reader = new ArrowFileReader(new SeekableReadChannel(fc), allocator)
    try {
      val f = reader.getVectorSchemaRoot.getSchema.getFields.asScala
        .find(_.getName == "emb").get
      assert(f.getType == new org.apache.arrow.vector.types.pojo
        .ArrowType.FixedSizeList(3), f.toString)
    } finally { reader.close(); allocator.close() }
    // read expands the implicit offsets back to plain arrays, nulls intact
    val back = graft.sources.ArrowIpc.read(spark, s"$dir/f").orderBy("id").collect()
    assert(back.length == 3)
    assert(back(0).getSeq[Float](1) == Seq(1.0f, 2.0f, 3.0f))
    assert(back(1).getSeq[Float](1) == Seq(4.0f, 5.0f, 6.0f))
    assert(back(2).isNullAt(1))
    // a ragged row fails loudly at write time
    val ragged = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "emb")
    val e = intercept[Exception] {
      graft.sources.ArrowIpc.writeFsl(ragged, s"$dir/bad", fslCols = Map("emb" -> 3))
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("fixed_size_list") || msg.contains("declared fixed"),
      s"expected the ragged-row rejection, got: ${e.getMessage}")
    // so does a NULL element inside a list
    val holey = Seq((1L, Seq(Some(1.0f), None, Some(3.0f)))).toDF("id", "emb")
    val e2 = intercept[Exception] {
      graft.sources.ArrowIpc.writeFsl(holey, s"$dir/holey", fslCols = Map("emb" -> 3))
    }
    val msg2 = Option(e2.getMessage).getOrElse("") +
      Option(e2.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg2.contains("carries a NULL element"),
      s"expected the in-list NULL rejection, got: ${e2.getMessage}")
  }

  test("writeViews emits a REAL string_view field; long and null values survive") {
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.{ArrowFileReader, SeekableReadChannel}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_wview").toString
    val longStr = "x" * 100 // out-of-line view (beyond the 12-byte inline limit)
    val df = Seq(
      (1L, Some("inline")), (2L, Some(longStr)), (3L, None), (4L, Some("")))
      .toDF("id", "s")
    graft.sources.ArrowIpc.writeViews(df, s"$dir/v", viewCols = Seq("s"))
    // footer really declares Utf8View for the encoded column
    val allocator = new RootAllocator(Long.MaxValue)
    val file = new java.io.File(s"$dir/v").listFiles()
      .filter(_.getName.endsWith(".arrow")).head
    val fc = new java.io.FileInputStream(file).getChannel
    val reader = new ArrowFileReader(new SeekableReadChannel(fc), allocator)
    try {
      val fields = reader.getVectorSchemaRoot.getSchema.getFields.asScala
      assert(fields.find(_.getName == "s").get.getType ==
        org.apache.arrow.vector.types.pojo.ArrowType.Utf8View.INSTANCE,
        fields.toString)
    } finally { reader.close(); allocator.close() }
    // values round-trip through the view decode back to plain strings
    val back = graft.sources.ArrowIpc.read(spark, s"$dir/v").orderBy("id").collect()
    assert(back.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("inline"), Some(longStr), None, Some("")))
    // a non-string/binary view column is rejected loudly
    intercept[IllegalArgumentException] {
      graft.sources.ArrowIpc.writeViews(df, s"$dir/bad", viewCols = Seq("id"))
    }
    // BINARY view columns write as BinaryView and round-trip
    val bdf = Seq(
      (1L, Some(Array[Byte](1, 2, 3))),
      (2L, Some(Array.tabulate[Byte](40)(_.toByte))), // out-of-line
      (3L, None),
      (4L, Some(Array.empty[Byte])))
      .toDF("id", "b")
    graft.sources.ArrowIpc.writeViews(bdf, s"$dir/vb", viewCols = Seq("b"))
    val alloc2 = new RootAllocator(Long.MaxValue)
    val bfile = new java.io.File(s"$dir/vb").listFiles()
      .filter(_.getName.endsWith(".arrow")).head
    val bfc = new java.io.FileInputStream(bfile).getChannel
    val breader = new ArrowFileReader(new SeekableReadChannel(bfc), alloc2)
    try {
      val fields = breader.getVectorSchemaRoot.getSchema.getFields.asScala
      assert(fields.find(_.getName == "b").get.getType ==
        org.apache.arrow.vector.types.pojo.ArrowType.BinaryView.INSTANCE,
        fields.toString)
    } finally { breader.close(); alloc2.close() }
    val bback = graft.sources.ArrowIpc.read(spark, s"$dir/vb").orderBy("id").collect()
    assert(bback(0).get(1).asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2, 3))
    assert(bback(1).get(1).asInstanceOf[Array[Byte]].length == 40)
    assert(bback(2).isNullAt(1))
    assert(bback(3).get(1).asInstanceOf[Array[Byte]].isEmpty)
  }

  test("writeViews survives multiple record batches per file") {
    import spark.implicits._
    // batchSize 7 over 40 rows -> several batches, each rebuilding the
    // view vectors; values and nulls must survive every batch boundary
    val df = (0 until 40).map { i =>
      (i.toLong, if (i % 5 == 0) None else Some("v" * (i % 20) + i.toString))
    }.toDF("id", "s")
    val dir = java.nio.file.Files.createTempDirectory("graft_wview_mb").toString
    graft.sources.ArrowIpc.writeViews(df.repartition(1), s"$dir/v",
      viewCols = Seq("s"), batchSize = 7)
    val back = graft.sources.ArrowIpc.read(spark, s"$dir/v")
      .orderBy("id").collect()
    assert(back.length == 40)
    (0 until 40).foreach { i =>
      val expect = if (i % 5 == 0) null else "v" * (i % 20) + i.toString
      assert(back(i).getString(1) == expect, s"row $i")
    }
    // the dictionary and fixed-size-list layouts cross the same boundaries
    def emb(i: Int) = if (i % 5 == 0) None else Some(Seq.tabulate(3)(j => (3 * i + j).toFloat))
    def cat(i: Int) = if (i % 7 == 0) None else Some(s"c${i % 4}")
    val ldf = (0 until 40).map(i => (i.toLong, emb(i), cat(i))).toDF("id", "emb", "c")
    graft.sources.ArrowIpc.writeDict(ldf.repartition(1), s"$dir/d",
      dictCols = Seq("c"), batchSize = 7)
    graft.sources.ArrowIpc.writeFsl(ldf.repartition(1), s"$dir/f",
      fslCols = Map("emb" -> 3), batchSize = 7)
    for (sub <- Seq("d", "f")) {
      val got = graft.sources.ArrowIpc.read(spark, s"$dir/$sub").orderBy("id").collect()
      assert(got.length == 40, sub)
      (0 until 40).foreach { i =>
        assert(Option(got(i).getSeq[Float](1)) == emb(i), s"$sub row $i")
        assert(Option(got(i).getString(2)) == cat(i), s"$sub row $i")
      }
    }
  }

  test("writePartitioned keeps rows with timestamp and NULL partition keys") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_wpart").toString
    // a timestamp prints differently under String.valueOf and a string
    // cast, and a NULL key matches no equality filter: both must still
    // land in a leaf and read back
    val df = Seq(
      (1L, Some("2020-01-01 00:00:00"), Some("a")),
      (2L, Some("2020-01-01 00:00:00"), None),
      (3L, None, Some("b")),
      (4L, None, None),
      (5L, Some("2021-06-30 12:34:56"), Some("a b")))
      .toDF("id", "ts", "k")
      .select(col("id"), to_timestamp(col("ts")).as("t"), col("k"))
    ArrowIpc.writePartitioned(df, dir, Seq("t", "k"))
    val back = ArrowIpc.readPartitioned(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSeq
    assert(back == Seq(
      (1L, Some("2020-01-01 00:00:00"), Some("a")),
      (2L, Some("2020-01-01 00:00:00"), None),
      (3L, None, Some("b")),
      (4L, None, None),
      (5L, Some("2021-06-30 12:34:56"), Some("a b"))))
  }

  test("IPC dictionary-encoded columns decode to value types, both formats") {
    // a categorical column as the reference's dictionary_encode would
    // ship it: int32 indices + one dictionary batch; the read boundary
    // must decode to plain strings in both the file and stream framings
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, FieldVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder, DictionaryProvider}
    import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter}
    import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding}
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_dict").toString
    val allocator = new RootAllocator(Long.MaxValue)
    val dictVals = new VarCharVector("d", allocator)
    val raw = new VarCharVector("color", allocator)
    try {
      dictVals.allocateNew()
      Seq("red", "green", "blue").zipWithIndex.foreach { case (s, i) =>
        dictVals.setSafe(i, s.getBytes("UTF-8"))
      }
      dictVals.setValueCount(3)
      val dictionary = new Dictionary(dictVals,
        new DictionaryEncoding(7L, false, new ArrowType.Int(32, true)))
      val provider = new DictionaryProvider.MapDictionaryProvider(dictionary)
      raw.allocateNew()
      val colors = Seq(Some("blue"), Some("red"), None, Some("red"), Some("green"))
      colors.zipWithIndex.foreach {
        case (Some(s), i) => raw.setSafe(i, s.getBytes("UTF-8"))
        case (None, i)    => raw.setNull(i)
      }
      raw.setValueCount(colors.length)
      val encoded = DictionaryEncoder.encode(raw, dictionary).asInstanceOf[FieldVector]
      val idV = new BigIntVector("id", allocator)
      idV.allocateNew()
      (0 until colors.length).foreach(i => idV.setSafe(i, i.toLong))
      idV.setValueCount(colors.length)
      val root = new VectorSchemaRoot(Seq(idV, encoded).asJava)
      try {
        val fOut = new java.io.FileOutputStream(s"$dir/part-00000.arrow")
        val fw = new ArrowFileWriter(root, provider, fOut.getChannel)
        try { fw.start(); fw.writeBatch(); fw.end() }
        finally { fw.close(); fOut.close() }
        val sOut = new java.io.FileOutputStream(s"$dir/part-00000.arrows")
        val sw = new ArrowStreamWriter(root, provider, sOut.getChannel)
        try { sw.start(); sw.writeBatch(); sw.end() }
        finally { sw.close(); sOut.close() }
      } finally root.close()
    } finally { raw.close(); dictVals.close(); allocator.close() }

    import org.apache.spark.sql.types._
    for (back <- Seq(ArrowIpc.read(spark, dir), ArrowIpc.readStream(spark, dir))) {
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        Seq(("id", LongType), ("color", StringType)),
        s"dictionary column must surface as its VALUE type: ${back.schema}")
      val got = back.orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
      assert(got == Seq(0L -> Some("blue"), 1L -> Some("red"), 2L -> None,
        3L -> Some("red"), 4L -> Some("green")))
    }
  }

  test("IPC run-end-encoded columns expand to value types, both formats") {
    // the second physical compression layout the IPC format ships
    // (run_end_encode kernel output): run_ends [2,3,5] over values
    // ["up", null, "down"] means logical rows up,up,null,down,down
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, IntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.RunEndEncodedVector
    import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter}
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_ree").toString
    val allocator = new RootAllocator(Long.MaxValue)
    val reField = new Field("run_ends",
      FieldType.notNullable(new ArrowType.Int(32, true)), null)
    val valField = new Field("values",
      FieldType.nullable(ArrowType.Utf8.INSTANCE), null)
    val reeField = new Field("status",
      FieldType.notNullable(ArrowType.RunEndEncoded.INSTANCE),
      Seq(reField, valField).asJava)
    val runEndsV = new IntVector(reField, allocator)
    val valuesV = new VarCharVector(valField, allocator)
    val ree = new RunEndEncodedVector(reeField, allocator, runEndsV, valuesV, null)
    val idV = new BigIntVector("id", allocator)
    try {
      runEndsV.allocateNew(3)
      Seq(2, 3, 5).zipWithIndex.foreach { case (e, i) => runEndsV.setSafe(i, e) }
      runEndsV.setValueCount(3)
      valuesV.allocateNew()
      valuesV.setSafe(0, "up".getBytes("UTF-8"))
      valuesV.setNull(1)
      valuesV.setSafe(2, "down".getBytes("UTF-8"))
      valuesV.setValueCount(3)
      ree.setValueCount(5)
      idV.allocateNew(5)
      (0 until 5).foreach(i => idV.setSafe(i, i.toLong))
      idV.setValueCount(5)
      val root = new VectorSchemaRoot(Seq[org.apache.arrow.vector.FieldVector](idV, ree).asJava)
      val fOut = new java.io.FileOutputStream(s"$dir/part-00000.arrow")
      val fw = new ArrowFileWriter(root, null, fOut.getChannel)
      try { fw.start(); fw.writeBatch(); fw.end() }
      finally { fw.close(); fOut.close() }
      val sOut = new java.io.FileOutputStream(s"$dir/part-00000.arrows")
      val sw = new ArrowStreamWriter(root, null, sOut.getChannel)
      try { sw.start(); sw.writeBatch(); sw.end() }
      finally { sw.close(); sOut.close() }
    } finally { ree.close(); idV.close(); allocator.close() }

    import org.apache.spark.sql.types._
    for (back <- Seq(ArrowIpc.read(spark, dir), ArrowIpc.readStream(spark, dir))) {
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        Seq(("id", LongType), ("status", StringType)),
        s"REE column must surface as its VALUE type: ${back.schema}")
      val got = back.orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
      assert(got == Seq(0L -> Some("up"), 1L -> Some("up"), 2L -> None,
        3L -> Some("down"), 4L -> Some("down")))
    }
  }

  test("IPC round-trip of a real table matches the original") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc2").toString
    val orig = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_date"))
    ArrowIpc.write(orig, dir)
    val back = ArrowIpc.read(spark, dir)
    assert(back.orderBy("o_orderkey").collect().toSeq ==
      orig.orderBy("o_orderkey").collect().toSeq)
  }

  test("Arrow IPC round-trips nested types (arrays, structs, maps)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc3").toString
    val df = Seq(
      (1L, Seq(1.5f, -2.5f), ("x", 10), Map("a" -> 1L)),
      (2L, Seq.empty[Float], ("y", 20), Map.empty[String, Long]),
      (3L, Seq(0.0f), ("z", -1), Map("b" -> 2L, "c" -> 3L))
    ).toDF("id", "vec", "pair", "m")
    ArrowIpc.write(df, dir)
    val back = ArrowIpc.read(spark, dir).orderBy("id")
    assert(back.schema("vec").dataType.typeName == "array")
    assert(back.schema("pair").dataType.typeName == "struct")
    assert(back.schema("m").dataType.typeName == "map")
    val rows = back.collect()
    assert(rows(0).getSeq[Float](1) == Seq(1.5f, -2.5f))
    assert(rows(2).getStruct(2).getInt(1) == -1)
    assert(rows(2).getMap[String, Long](3) == Map("b" -> 2L, "c" -> 3L))
  }

  test("Arrow IPC read streams batches (multiple batches per file survive)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc4").toString
    val df = spark.range(0, 10000, 1, 2).select(col("id"), (col("id") * 2).as("v"))
    ArrowIpc.write(df, dir, batchSize = 256) // forces ~20 batches per file
    val back = ArrowIpc.read(spark, dir)
    assert(back.count() == 10000)
    assert(back.agg(sum(col("v"))).head().getLong(0) == 2L * (9999L * 10000L / 2))
  }

  test("IPC stream format round-trips multi-batch files and equals the file format") {
    import spark.implicits._
    val dirS = java.nio.file.Files.createTempDirectory("graft_ipc5s").toString
    val dirF = java.nio.file.Files.createTempDirectory("graft_ipc5f").toString
    val df = spark.range(0, 10000, 1, 2)
      .select(col("id"), (col("id") * 3).as("v"),
        concat(lit("s"), col("id")).as("s"))
    ArrowIpc.writeStream(df, dirS, batchSize = 256) // ~20 batches per stream
    ArrowIpc.write(df, dirF, batchSize = 256)
    val backS = ArrowIpc.readStream(spark, dirS)
    assert(backS.count() == 10000)
    assert(backS.schema == df.schema)
    // stream and file formats carry identical data
    val s = backS.orderBy("id").collect().toSeq
    val f = ArrowIpc.read(spark, dirF).orderBy("id").collect().toSeq
    assert(s == f)
    // the stream files really use the footerless framing: first bytes are
    // a message header, not the file format's "ARROW1" magic
    val first = java.nio.file.Files.list(java.nio.file.Paths.get(dirS))
      .filter(_.toString.endsWith(".arrows")).findFirst().get()
    val head = java.nio.file.Files.readAllBytes(first).take(6)
    assert(!(new String(head, "US-ASCII")).startsWith("ARROW1"))
  }

  test("dictionary-encoded WRITE round-trips and really encodes on disk") {
    import spark.implicits._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowFileReader
    val df = Seq.tabulate(500)(i => (i.toLong, Seq("red", "green", "blue")(i % 3), s"payload$i"))
      .toDF("id", "color", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_wdict").toString
    graft.sources.ArrowIpc.writeDict(df.repartition(2), dir, dictCols = Seq("color"))
    // round-trip through our own reader (which decodes dictionaries)
    val back = graft.sources.ArrowIpc.read(spark, dir)
    assert(back.schema("color").dataType == org.apache.spark.sql.types.StringType)
    val a = df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val b = back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(a.sameElements(b))
    // on-disk proof: the field is dictionary-encoded int32 indices with a
    // dictionary batch carrying exactly the 3 sorted values
    val file = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".arrow")).findFirst().get()
    val allocator = new RootAllocator(Long.MaxValue)
    val ch = java.nio.file.Files.newByteChannel(file)
    val reader = new ArrowFileReader(ch, allocator)
    try {
      val f = reader.getVectorSchemaRoot.getSchema.findField("color")
      assert(f.getDictionary != null, "color field must carry a dictionary encoding")
      assert(f.getType == new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true))
      assert(reader.loadNextBatch())
      val dict = reader.lookup(f.getDictionary.getId)
      assert(dict != null)
      val dv = dict.getVector
      val vals = (0 until dv.getValueCount).map(i =>
        new String(dv.asInstanceOf[org.apache.arrow.vector.VarCharVector].get(i), "UTF-8"))
      assert(vals == Seq("blue", "green", "red")) // sorted id assignment
    } finally { reader.close(); ch.close(); allocator.close() }
  }

  test("dictionary write rejects high-cardinality columns loudly") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong, s"unique$i")).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_wdict_hc").toString
    val e = intercept[IllegalArgumentException] {
      graft.sources.ArrowIpc.writeDict(df, dir, dictCols = Seq("v"), maxDictSize = 10)
    }
    assert(e.getMessage.contains("maxDictSize"))
    // non-string columns are rejected too
    intercept[IllegalArgumentException] {
      graft.sources.ArrowIpc.writeDict(df, dir, dictCols = Seq("id"))
    }
  }

  test("graft_* functions are callable from SQL") {
    GraftFunctions.register(spark)
    val names = GraftFunctions.table.map(_.name)
    assert(names.distinct == names, s"duplicate names in the table: $names")
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    // [n, M_0, M_1, G_00, G_01, G_10, G_11], moments in units of 2^40
    val u = 1L << 40
    val gm = spark.sql(
      "SELECT graft_gram_matrix(array(CAST(v AS DOUBLE), 1.0D), 2) AS g " +
        "FROM VALUES (1), (2) AS t(v)").head().getSeq[Long](0)
    assert(gm == Seq(2L, 3 * u, 2 * u, 5 * u, 3 * u, 3 * u, 2 * u))
    val c = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val fp = spark.sql("SELECT graft_fingerprint('abc') AS f").head().getLong(0)
    val expected = "abc".foldLeft(0L)((acc, ch) => (acc * 31 + ch) % 1000000007L)
    assert(fp == expected)
    val tk = spark.sql(
      "SELECT graft_top_k(CAST(v AS DOUBLE), CAST(v AS BIGINT), 2) AS tk " +
        "FROM VALUES (3), (1), (9), (7) AS t(v)").head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getDouble(0), r.getLong(1)))
    assert(tk == Seq((9.0, 9L), (7.0, 7L)))
  }

  test("run-end-encoded WRITE round-trips and really encodes on disk") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    // the gated query writes the layout as a side effect
    val back = Registry.byName("q26n_ipc_ree").run(spark, sf)
    val orig = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_date"))
      .orderBy(col("o_orderkey")).collect().toSeq
    assert(back.collect().toSeq == orig)

    // crack a part file open raw: the status field must be REE on disk,
    // with far fewer stored values than logical rows (runs really formed)
    val out = new java.io.File(Tables.scratch(sf, "q26_ipc_ree"))
    val part = out.listFiles().filter(_.getName.endsWith(".arrow")).minBy(_.getName)
    val allocator = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val ch = new java.io.FileInputStream(part).getChannel
    val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(ch, allocator)
    try {
      val f = reader.getVectorSchemaRoot.getSchema.getFields.asScala
        .find(_.getName == "o_orderstatus").get
      assert(f.getType.isInstanceOf[
        org.apache.arrow.vector.types.pojo.ArrowType.RunEndEncoded], f.toString)
      var logical = 0L; var stored = 0L
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        val ree = root.getVector("o_orderstatus")
          .asInstanceOf[org.apache.arrow.vector.complex.RunEndEncodedVector]
        logical += root.getRowCount
        stored += ree.getValuesVector.getValueCount
      }
      // 3 distinct statuses over sorted-within-partition batches: stored
      // runs are a tiny fraction of the logical rows
      assert(logical > 0 && stored * 10 <= logical,
        s"expected real runs, got $stored stored values for $logical rows")
    } finally { reader.close(); ch.close(); allocator.close() }
  }

  test("parquet bloom filters exist for the declared column and point reads are exact") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    Registry.byName("q25k_parquet_bloom").run(spark, sf).collect()
    val out = new java.io.File(Tables.scratch(sf, "q25k_bloom"))
    val part = out.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val rg = reader.getFooter.getBlocks.asScala.head
      val byCol = rg.getColumns.asScala.map(c =>
        c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(byCol("l_orderkey"), s"no bloom filter on l_orderkey: $byCol")
      assert(!byCol("l_returnflag"), s"bloom leaked onto undeclared column: $byCol")
    } finally reader.close()
    // point lookup returns exactly the matching rows
    val some = Tables.lineitem(spark, sf).select(col("l_orderkey")).head().getLong(0)
    val expect = Tables.lineitem(spark, sf).filter(col("l_orderkey") === some).count()
    val got = spark.read.parquet(out.getAbsolutePath)
      .filter(col("l_orderkey") === some).count()
    assert(got == expect && got > 0)
  }

  test("dynamic partition overwrite replaces only matching partitions; static deletes all") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dynover").toString
    val rows = Seq((1L, "A"), (2L, "A"), (3L, "N"), (4L, "R"))
    rows.toDF("id", "p").write.mode("overwrite").partitionBy("p").parquet(dir)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    try {
      // STATIC overwrite of A-only data wipes the whole layout
      spark.conf.set(key, "static")
      Seq((9L, "A")).toDF("id", "p").write.mode("overwrite").partitionBy("p").parquet(dir)
      assert(spark.read.parquet(dir).select("p").distinct().collect()
        .map(_.getString(0)).toSet == Set("A"))
      // re-seed, then DYNAMIC overwrite replaces only partition A
      rows.toDF("id", "p").write.mode("overwrite").partitionBy("p").parquet(dir)
      spark.conf.set(key, "dynamic")
      Seq((9L, "A")).toDF("id", "p").write.mode("overwrite").partitionBy("p").parquet(dir)
      val back = spark.read.parquet(dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(back == Set((9L, "A"), (3L, "N"), (4L, "R")))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    // the other two reference ExistingDataBehavior values map to SaveModes:
    // kError → errorifexists (refuses), kOverwriteOrIgnore → ignore (no-op)
    intercept[Exception] {
      Seq((1L, "A")).toDF("id", "p").write.mode("errorifexists").parquet(dir)
    }
    Seq((99L, "Z")).toDF("id", "p").write.mode("ignore").parquet(dir)
    assert(!spark.read.parquet(dir).collect().exists(_.getLong(0) == 99L),
      "ignore mode must leave existing data untouched")
  }

  test("run-end-encoded WRITE round-trips null runs and singleton runs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ree_nulls").toString
    // runs of nulls, runs of values, and a no-repetition tail — the three
    // shapes the run scanner must handle; written across several batches
    val rows: Seq[(Long, Option[String])] =
      (0L until 50L).map(i => i -> Some("x")) ++
        (50L until 90L).map(i => i -> (None: Option[String])) ++
        (90L until 130L).map(i => i -> Some(s"v$i"))
    val df = rows.toDF("id", "s").repartition(1).sortWithinPartitions("id")
    graft.sources.ArrowIpc.writeRee(df, dir, Seq("s"), batchSize = 16)
    val back = graft.sources.ArrowIpc.read(spark, dir)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(back == rows.sortBy(_._1))
  }

  test("maxRecordsPerFile bounds every on-disk file at the declared cap") {
    import org.apache.spark.sql.functions._
    // the gated query writes the layout as a side effect
    Registry.byName("q25i_max_rows_per_file").run(spark, sf).collect()
    val out = Tables.scratch(sf, "q25i_maxrows")
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perFile.nonEmpty)
    assert(perFile.forall(_._2 <= 20000L),
      s"files over the cap: ${perFile.filter(_._2 > 20000L).mkString(", ")}")
    // a corpus above the cap must be split across files (test-SF lineitem
    // is below it, so exercise the bound on a frame that must split)
    val forced = s"$out.forced"
    spark.range(0, 45000, 1, 1).toDF("id")
      .write.mode("overwrite").option("maxRecordsPerFile", 20000).parquet(forced)
    val forcedFiles = spark.read.parquet(forced)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(forcedFiles.length == 3 && forcedFiles.forall(_ <= 20000L),
      s"45k rows at cap 20k should yield 3 files, got ${forcedFiles.mkString(",")}")
  }
}
