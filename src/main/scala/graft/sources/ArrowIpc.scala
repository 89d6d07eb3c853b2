package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.channels.{Channels, SeekableByteChannel, WritableByteChannel}

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.{ArrowBuf, RootAllocator}
import org.apache.arrow.vector.{BigIntVector, FieldVector, IntVector, SmallIntVector, TypeLayout, VarCharVector, VariableWidthFieldVector, VectorLoader, VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.complex.{FixedSizeListVector, LargeListViewVector, ListVector, ListViewVector, RunEndEncodedVector}
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowReader, ArrowStreamReader, ArrowStreamWriter, ArrowWriter, ReadChannel, SeekableReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.{ArrowFieldNode, ArrowRecordBatch, IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType, StructType}

/** Hadoop `Configuration` is not Java-serializable; standard writable
  * wrapper so executor tasks see the driver's filesystem configuration. */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Arrow IPC source/sink in BOTH reference formats: the random-access
  * file format (Feather v2 — reference `RecordBatchFileReader`,
  * cpp/src/arrow/ipc/reader.h:109, writer.h:167) and the streaming
  * format (`RecordBatchStreamReader`, reader.h:74, writer.h:143 — the
  * pipe/socket interchange framing: schema message, record batches, end
  * marker, no footer and no seeks). SURVEY.md §2.4.
  *
  * Fully vectorized: the write path runs Spark's own InternalRow→Arrow
  * columnar serializer (the engine behind toPandas/mapInArrow) per
  * partition and streams record batches into one IPC file per partition;
  * the read path streams batches back through the inverse converter into
  * an InternalRow RDD — no per-row `Row.get`/`setSafe`, no whole-file
  * row materialization, and every Spark type Arrow interop supports
  * (nested arrays/structs/maps included) comes along for free. All file
  * IO goes through the Hadoop FileSystem API, so any configured scheme
  * (file://, hdfs://, s3a://) works, and discovery is an FS glob, not a
  * driver-local directory listing.
  *
  * Layouts (SURVEY §1.2): dictionary, run-end, view (string/binary/list
  * views) and fixed-size-list columns are PHYSICAL layout variants of one
  * logical type, and so are the 64-bit-offset LARGE_* types. Spark's
  * Arrow bridge speaks only the plain value layouts, so each variant is
  * converted at the boundary, batch by batch, top-level columns only:
  * the writers encode flat value vectors into the declared layout
  * ([[Layout.encode]]) and the readers decode every layout back to its
  * value type ([[Layout.decode]]) — memory is one batch, never the file.
  * The large-offset types are the exception: they differ from their
  * 32-bit twins only in the offsets buffer, so the read path narrows that
  * buffer in place ([[narrowBatch]]) and never touches values. Layouts
  * nested below the top level are read only for the large types; nested
  * views are rejected loudly.
  */
object ArrowIpc {

  /** Minimal seekable-channel view over a Hadoop input stream (the IPC
    * footer is read via seeks). */
  private final class HadoopSeekableChannel(in: FSDataInputStream, length: Long)
    extends SeekableByteChannel {
    private var open = true
    override def read(dst: ByteBuffer): Int = {
      val buf = new Array[Byte](dst.remaining())
      val n = in.read(buf, 0, buf.length)
      if (n > 0) dst.put(buf, 0, n)
      n
    }
    override def write(src: ByteBuffer): Int = throw new UnsupportedOperationException
    override def position(): Long = in.getPos
    override def position(newPosition: Long): SeekableByteChannel = { in.seek(newPosition); this }
    override def size(): Long = length
    override def truncate(size: Long): SeekableByteChannel = throw new UnsupportedOperationException
    override def isOpen: Boolean = open
    override def close(): Unit = { open = false; in.close() }
  }

  /** IPC body-buffer compression (reference `IpcWriteOptions::codec`,
    * cpp/src/arrow/ipc/options.h:118-124): "none", "zstd" or "lz4"
    * (LZ4_FRAME — the only LZ4 framing the IPC spec admits). Readers
    * decode transparently from the per-batch compression header. */
  private def codecOf(codec: String): Option[CodecType] =
    codec match {
      case "none" => None
      case "zstd" => Some(CodecType.ZSTD)
      case "lz4"  => Some(CodecType.LZ4_FRAME)
      case other  => throw new IllegalArgumentException(
        s"unknown IPC codec '$other' (none|zstd|lz4)")
    }

  private type MkWriter = (VectorSchemaRoot, DictionaryProvider, WritableByteChannel) => ArrowWriter

  private def fileWriter(ct: Option[CodecType]): MkWriter = (root, dicts, ch) => ct match {
    case None => new ArrowFileWriter(root, dicts, ch)
    case Some(c) => new ArrowFileWriter(root, dicts, ch,
      null, IpcOption.DEFAULT, CommonsCompressionFactory.INSTANCE, c)
  }

  private def streamWriter(ct: Option[CodecType]): MkWriter = (root, dicts, ch) => ct match {
    case None => new ArrowStreamWriter(root, dicts, ch)
    case Some(c) => new ArrowStreamWriter(root, dicts, ch,
      IpcOption.DEFAULT, CommonsCompressionFactory.INSTANCE, c)
  }

  /** Write `df` as a directory of Arrow IPC files, one per partition.
    * Per partition: Spark's columnar serializer produces framed record
    * batches; a VectorLoader moves their buffers into the file writer —
    * buffer transfers end to end (compressed at the writer when a codec
    * is set). */
  def write(df: DataFrame, dir: String, batchSize: Int = 4096,
      codec: String = "none"): Unit =
    writeWith(df, dir, batchSize, "arrow", fileWriter(codecOf(codec)))

  /** Write `df` in the IPC STREAM format (`.arrows`), one stream per
    * partition — byte-for-byte what a socket peer would send. */
  def writeStream(df: DataFrame, dir: String, batchSize: Int = 4096,
      codec: String = "none"): Unit =
    writeWith(df, dir, batchSize, "arrows", streamWriter(codecOf(codec)))

  /** Write `df` with the named string columns DICTIONARY-ENCODED — the
    * write half of the reference's categorical transport
    * (`dictionary_encode` is the reference default for categorical
    * columns, so a file we hand to an Arrow consumer should offer the
    * same layout). Each encoded column ships as an int32 index vector
    * plus one dictionary batch per file.
    *
    * The dictionary is GLOBAL and computed by one distributed
    * distinct-aggregate whose result lands on the driver — a bounded
    * exchange by contract: dictionary encoding only makes sense for
    * low-cardinality columns, and `maxDictSize` rejects anything else
    * loudly rather than building a multi-gigabyte dictionary. Ids are
    * assigned in sorted value order, so the file layout is a pure
    * function of the data. `df` must be deterministic (it is scanned
    * once for the dictionary and once for the rows — the same contract
    * as every two-pass writer).
    *
    * At 100 TB: the distinct shuffle carries only (column value) partial
    * sets with map-side combine; row batches encode per partition
    * against the broadcast dictionary with an O(1) hash lookup per
    * value; nothing else changes vs [[write]]. */
  def writeDict(df: DataFrame, dir: String, dictCols: Seq[String],
      batchSize: Int = 4096, maxDictSize: Int = 1 << 16): Unit = {
    require(dictCols.nonEmpty, "writeDict needs at least one dictionary column")
    requireColumns(df, dictCols, "dictionary", "string")(_ == StringType)
    // one bounded driver exchange per declared categorical column
    val dictionaries = dictCols.zipWithIndex.map { case (c, i) =>
      val vals = df.select(col(c)).filter(col(c).isNotNull).distinct()
        .orderBy(col(c)).limit(maxDictSize + 1).collect().map(_.getString(0))
      require(vals.length <= maxDictSize,
        s"column '$c' exceeds maxDictSize=$maxDictSize distinct values — " +
          "not a categorical column; write it unencoded")
      i.toLong -> vals
    }
    writeWith(df, dir, batchSize, "arrow", fileWriter(None),
      dictCols.zipWithIndex.map { case (c, i) => c -> Dict(i.toLong) }.toMap,
      dictionaries.toMap)
  }

  /** Run-end-encoded IPC WRITE — the transport half of the reference's
    * `run_end_encode` kernel (ArrowType::RUN_END_ENCODED, type id 38):
    * each declared string column is written as (run_ends int32, values
    * utf8) children instead of a flat vector. The win is proportional to
    * run length, so sort-within-partitions by the encoded column first
    * (the caller's job, mirroring how the reference applies the kernel to
    * sorted output); a column with no repetition degrades to nnz runs,
    * never breaks. Nulls ride the values child (the REE layout has no
    * top-level validity). */
  def writeRee(df: DataFrame, dir: String, reeCols: Seq[String],
      batchSize: Int = 4096): Unit = {
    require(reeCols.nonEmpty, "writeRee needs at least one run-end column")
    requireColumns(df, reeCols, "run-end", "string")(_ == StringType)
    writeWith(df, dir, batchSize, "arrow", fileWriter(None),
      reeCols.map(_ -> RunEnd).toMap)
  }

  /** View-layout IPC WRITE: each declared string/binary column ships in
    * the STRING_VIEW/BINARY_VIEW layout (type ids 39/40, reference
    * cpp/src/arrow/type_fwd.h:458-467 — the default string layout for
    * Arrow C++ >= 14 consumers): a 16-byte (length, prefix, buffer_id,
    * offset) view struct per element, short strings inlined, long ones
    * referenced in variadic data buffers. Values are copied once into the
    * view vector per batch. */
  def writeViews(df: DataFrame, dir: String, viewCols: Seq[String],
      batchSize: Int = 4096): Unit = {
    require(viewCols.nonEmpty, "writeViews needs at least one view column")
    requireColumns(df, viewCols, "view", "string or binary")(
      dt => dt == StringType || dt == BinaryType)
    writeWith(df, dir, batchSize, "arrow", fileWriter(None),
      viewCols.map(_ -> View).toMap)
  }

  /** Fixed-size-list IPC WRITE: each declared array column ships as
    * `fixed_size_list<child, size>` (type id 32), THE Arrow transport
    * reference consumers expect for embedding columns (and the storage
    * layout of fixed_shape_tensor). Offsets are implicit, so the on-disk
    * column drops the offset buffer entirely — 4 bytes/row smaller and
    * aligned for vectorized readers. Every row must carry exactly `size`
    * elements and no nulls inside the list (the fixed layout has nowhere
    * to put raggedness) — both enforced LOUDLY per row. */
  def writeFsl(df: DataFrame, dir: String, fslCols: Map[String, Int],
      batchSize: Int = 4096): Unit = {
    require(fslCols.nonEmpty, "writeFsl needs at least one fixed-size column")
    fslCols.foreach { case (c, sz) =>
      require(sz >= 1, s"fixed size for '$c' must be >= 1, got $sz")
    }
    requireColumns(df, fslCols.keys, "fixed-size", "an array")(_.isInstanceOf[ArrayType])
    writeWith(df, dir, batchSize, "arrow", fileWriter(None),
      fslCols.map { case (c, sz) => c -> FixedSize(sz) })
  }

  private def requireColumns(df: DataFrame, cols: Iterable[String], what: String,
      want: String)(ok: DataType => Boolean): Unit =
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(ok(dt), s"$what column '$c' must be $want, got $dt")
    }

  /** The one partition loop under every writer: per partition, Spark's
    * columnar serializer produces framed record batches and a
    * VectorLoader moves their buffers into `root`. With no `layouts` the
    * writer writes `root` itself; otherwise each batch is encoded column
    * by column into a second root of the written fields (a buffer
    * transfer for plain columns). `dictionaries` (id → sorted values)
    * back the [[Dict]] layouts as one task-local dictionary provider. */
  private def writeWith(
      df: DataFrame, dir: String, batchSize: Int, ext: String, mkWriter: MkWriter,
      layouts: Map[String, Layout] = Map.empty,
      dictionaries: Map[Long, Array[String]] = Map.empty): Unit = {
    val schema = df.schema
    val hconf = new SerializableHadoopConf(df.sparkSession.sparkContext.hadoopConfiguration)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(hconf.value)
    if (fs.exists(dirPath)) fs.delete(dirPath, true) // overwrite semantics
    fs.mkdirs(dirPath)
    Bridge.toInternalRdd(df).foreachPartition { rows =>
      if (rows.nonEmpty) {
        val part = TaskContext.getPartitionId()
        val path = new Path(dir, f"part-$part%05d.$ext")
        val pfs = path.getFileSystem(hconf.value)
        val allocator = new RootAllocator(Long.MaxValue)
        val valueSchema = Bridge.toArrowSchema(schema)
        val root = VectorSchemaRoot.create(valueSchema, allocator)
        val loader = new VectorLoader(root)
        val dicts = new DictionaryProvider.MapDictionaryProvider(
          dictionaries.toSeq.map { case (id, vals) => Dict(id).dictionary(vals, allocator) }: _*)
        // built from vectors: list children then carry arrow-java's `$data$`
        // name, the on-disk schema the layout writers have always written
        val outRoot =
          if (layouts.isEmpty) root
          else new VectorSchemaRoot(valueSchema.getFields.asScala
            .map(f => layouts.get(f.getName).fold(f)(_.written(f)).createVector(allocator)).asJava)
        val out = pfs.create(path, true)
        val writer = mkWriter(outRoot, dicts, Channels.newChannel(out))
        try {
          writer.start()
          Bridge.toArrowBatchIterator(rows, schema, batchSize, TaskContext.get()).foreach { bytes =>
            // framed record-batch payload → ArrowRecordBatch (buffer move)
            val batch = MessageSerializer.deserializeRecordBatch(
              new ReadChannel(Channels.newChannel(new java.io.ByteArrayInputStream(bytes))),
              allocator)
            try loader.load(batch) finally batch.close()
            if (outRoot ne root) {
              root.getFieldVectors.asScala.zip(outRoot.getFieldVectors.asScala).foreach {
                case (src, dst) => layouts.get(src.getName) match {
                  case Some(l) => l.encode(src, dst, dicts)
                  case None => src.makeTransferPair(dst).transfer()
                }
              }
              outRoot.setRowCount(root.getRowCount)
            }
            writer.writeBatch()
          }
          writer.end()
        } finally {
          writer.close(); out.close()
          if (outRoot ne root) outRoot.close()
          root.close(); dicts.close(); allocator.close()
        }
      }
    }
  }

  // --- column layouts ------------------------------------------------------

  /** One physical layout of a top-level column (see the object scaladoc).
    * `written`/`encode` are the write half (flat value vector → layout),
    * `valueField`/`decode` the read half (layout → the value type
    * Spark's bridge reads). `dicts` resolves dictionary ids: the task's
    * provider on write, the reader on read. */
  private sealed trait Layout extends Serializable {
    /** The field value column `f` is written as. */
    def written(f: Field): Field
    /** Encode one batch of `src` (a value vector) into `dst`, a vector of
      * `written(src.getField)`. */
    def encode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit
    /** The value field an on-disk column `f` of this layout reads as. */
    def valueField(f: Field, dicts: DictionaryProvider): Field
    /** Decode one batch of `src` into `dst`, a fresh vector of
      * `valueField(src.getField, dicts)`. */
    def decode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit
  }

  /** The layout an on-disk field uses, or None for a plain value layout. */
  private def layoutOf(f: Field): Option[Layout] =
    if (f.getDictionary != null) Some(Dict(f.getDictionary.getId))
    else f.getType match {
      case _: ArrowType.RunEndEncoded => Some(RunEnd)
      case t if isViewType(t) => Some(View)
      case t: ArrowType.FixedSizeList => Some(FixedSize(t.getListSize))
      case _ => None
    }

  /** Dictionary encoding (the reference's `dictionary_encode`, default for
    * categorical columns; reference cpp/src/arrow/ipc/reader.cc dictionary
    * handling): int32 indices plus a dictionary batch per file. Indices
    * are resolved by hash lookup on write and against the reader's
    * dictionary provider on read; the dictionary itself stays loaded
    * once per file, exactly as the reader framing delivers it. */
  private final case class Dict(id: Long) extends Layout {
    def encoding = new DictionaryEncoding(id, /*ordered=*/ false, new ArrowType.Int(32, true))
    /** A task-local utf8 dictionary over `vals` (index = position). */
    def dictionary(vals: Array[String], allocator: RootAllocator): Dictionary = {
      val vec = new VarCharVector(s"dict-$id", allocator)
      vec.allocateNew(vals.length)
      vals.zipWithIndex.foreach { case (v, i) => vec.setSafe(i, v.getBytes("UTF-8")) }
      vec.setValueCount(vals.length)
      new Dictionary(vec, encoding)
    }
    def written(f: Field): Field =
      new Field(f.getName,
        new FieldType(f.isNullable, new ArrowType.Int(32, true), encoding, f.getMetadata),
        java.util.Collections.emptyList[Field]())
    def encode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit = {
      val encoded = DictionaryEncoder.encode(src, dicts.lookup(id))
      try encoded.makeTransferPair(dst).transfer() finally encoded.close()
    }
    /** The dictionary VALUES' type and children under the encoded
      * column's name and nullability (indices may be null independently
      * of the values). */
    def valueField(f: Field, dicts: DictionaryProvider): Field = {
      val values = lookup(f, dicts).getVector.getField
      new Field(f.getName,
        new FieldType(f.isNullable, values.getType, null, f.getMetadata),
        values.getChildren)
    }
    def decode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit = {
      val decoded = DictionaryEncoder.decode(src, lookup(src.getField, dicts), dst.getAllocator)
      try decoded.makeTransferPair(dst).transfer() finally decoded.close()
    }
    private def lookup(f: Field, dicts: DictionaryProvider): Dictionary = {
      val dict = dicts.lookup(id)
      require(dict != null,
        s"field ${f.getName} references dictionary $id " +
          "but the file carries no such dictionary batch")
      dict
    }
  }

  /** Run-end encoding (reference ArrowType::RUN_END_ENCODED,
    * cpp/src/arrow/type.h; `run_end_encode` kernel in
    * compute/kernels/vector_run_end_encode.cc): (run_ends, values)
    * children. Written as int32 ends over utf8 values; read with int16,
    * int32 or int64 ends over any value type arrow-java can
    * `copyFromSafe` (nested included). */
  private case object RunEnd extends Layout {
    def written(f: Field): Field =
      new Field(f.getName, FieldType.notNullable(ArrowType.RunEndEncoded.INSTANCE),
        Seq(new Field("run_ends", FieldType.notNullable(new ArrowType.Int(32, true)), null),
          new Field("values", FieldType.nullable(ArrowType.Utf8.INSTANCE), null)).asJava)
    def encode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit = {
      // scan the flat column into (run_end, value) pairs
      val sv = src.asInstanceOf[VarCharVector]
      val ree = dst.asInstanceOf[RunEndEncodedVector]
      val ends = ree.getRunEndsVector.asInstanceOf[IntVector]
      val vals = ree.getValuesVector.asInstanceOf[VarCharVector]
      def same(a: Int, b: Int): Boolean =
        if (sv.isNull(a)) sv.isNull(b)
        else !sv.isNull(b) && java.util.Arrays.equals(sv.get(a), sv.get(b))
      val n = sv.getValueCount
      ends.allocateNew()
      vals.allocateNew()
      var runs = 0
      var r = 0
      while (r < n) {
        var e = r + 1
        while (e < n && same(r, e)) e += 1
        ends.setSafe(runs, e)
        if (sv.isNull(r)) vals.setNull(runs) else vals.setSafe(runs, sv.get(r))
        runs += 1
        r = e
      }
      ends.setValueCount(runs)
      vals.setValueCount(runs)
      ree.setValueCount(n)
    }
    /** Child 1 ("values") under the column's name; run boundaries cannot
      * be null, so nullability comes from the values child. */
    def valueField(f: Field, dicts: DictionaryProvider): Field = {
      require(f.getChildren.size == 2,
        s"run-end-encoded field ${f.getName} must have [run_ends, values] " +
          s"children, got ${f.getChildren.size}")
      val values = f.getChildren.get(1)
      new Field(f.getName,
        new FieldType(values.isNullable, values.getType, null, f.getMetadata),
        values.getChildren)
    }
    /** Repeat each values entry through its run. */
    def decode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit = {
      val ree = src.asInstanceOf[RunEndEncodedVector]
      val values = ree.getValuesVector
      val getEnd: Int => Int = ree.getRunEndsVector match {
        case iv: IntVector      => iv.get(_)
        case sv: SmallIntVector => sv.get(_).toInt
        case bv: BigIntVector   => (i: Int) => math.toIntExact(bv.get(i))
        case other => throw new IllegalArgumentException(
          s"run ends must be int16/int32/int64, got ${other.getField.getType}")
      }
      val n = ree.getValueCount
      dst.setInitialCapacity(n)
      var pos = 0
      var r = 0
      while (pos < n) {
        val end = math.min(getEnd(r), n)
        require(end > pos,
          s"run ends must be strictly increasing: run $r ends at $end, " +
            s"position already $pos")
        while (pos < end) { dst.copyFromSafe(r, pos, values); pos += 1 }
        r += 1
      }
      dst.setValueCount(n)
    }
  }

  /** View layouts (reference type ids 39-42, cpp/src/arrow/type_fwd.h:
    * 458-467): STRING_VIEW/BINARY_VIEW store (length, prefix, buffer_id,
    * offset) structs over out-of-line variadic data buffers; LIST_VIEW/
    * LARGE_LIST_VIEW store independent (offset, size) pairs that need not
    * be monotonic or disjoint. View data is not contiguous in element
    * order, so unlike the large-offset narrowing no buffer rewrite can
    * avoid touching values: elements are copied in order. Written for
    * string/binary; all four read back as utf8/binary/32-bit list. */
  private case object View extends Layout {
    def written(f: Field): Field =
      new Field(f.getName,
        new FieldType(f.isNullable,
          if (f.getType.isInstanceOf[ArrowType.Binary]) ArrowType.BinaryView.INSTANCE
          else ArrowType.Utf8View.INSTANCE,
          null, f.getMetadata),
        java.util.Collections.emptyList[Field]())
    def encode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit =
      copyValues(src, dst)
    def valueField(f: Field, dicts: DictionaryProvider): Field = {
      val (t, children) = f.getType match {
        case _: ArrowType.Utf8View => (ArrowType.Utf8.INSTANCE, java.util.Collections.emptyList[Field]())
        case _: ArrowType.BinaryView => (ArrowType.Binary.INSTANCE, java.util.Collections.emptyList[Field]())
        case _ => (ArrowType.List.INSTANCE, f.getChildren)
      }
      new Field(f.getName, new FieldType(f.isNullable, t, null, f.getMetadata), children)
    }
    def decode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit = src match {
      case lv: ListViewVector =>
        // read (offset, size) straight from the buffers: the vector's
        // getElementEndIndex returns the SIZE, not offset+size
        val (off, sz) = (lv.getOffsetBuffer, lv.getSizeBuffer)
        copyLists(lv, lv.getDataVector, dst, { i =>
          val s = off.getInt(i.toLong * 4)
          (s, s + sz.getInt(i.toLong * 4))
        })
      case lv: LargeListViewVector =>
        val (off, sz) = (lv.getOffsetBuffer, lv.getSizeBuffer)
        copyLists(lv, lv.getDataVector, dst, { i =>
          val s = math.toIntExact(off.getLong(i.toLong * 8))
          (s, s + math.toIntExact(sz.getLong(i.toLong * 8)))
        })
      case _ => copyValues(src, dst)
    }
  }

  /** FIXED_SIZE_LIST (reference type id 32, type_fwd.h:435): THE standard
    * transport for embedding columns (fixed_size_list<float, d>) and the
    * storage layout of fixed_shape_tensor, which Spark's Arrow bridge
    * rejects outright (UNSUPPORTED_ARROWTYPE). The logical type is a
    * plain ArrayType whose offsets are implicit (i·size); the size
    * constraint is layout-only and is dropped on read (enforce per-row
    * width downstream when it matters). */
  private final case class FixedSize(size: Int) extends Layout {
    def written(f: Field): Field =
      new Field(f.getName,
        new FieldType(f.isNullable, new ArrowType.FixedSizeList(size), null, f.getMetadata),
        f.getChildren)
    def encode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit = {
      val sv = src.asInstanceOf[ListVector]
      val fv = dst.asInstanceOf[FixedSizeListVector]
      val n = sv.getValueCount
      fv.clear()
      fv.setInitialCapacity(n)
      fv.allocateNew()
      val sData = sv.getDataVector
      val dData = fv.getDataVector
      var r = 0
      while (r < n) {
        if (sv.isNull(r)) fv.setNull(r)
        else {
          val s0 = sv.getElementStartIndex(r)
          val e0 = sv.getElementEndIndex(r)
          require(e0 - s0 == size,
            s"writeFsl: column '${src.getName}' row has ${e0 - s0} elements " +
              s"but is declared fixed_size_list<$size>")
          var j = s0
          while (j < e0) {
            require(!sData.isNull(j),
              s"writeFsl: column '${src.getName}' carries a NULL element — " +
                "the fixed layout requires dense values")
            j += 1
          }
          fv.setNotNull(r)
          j = s0
          while (j < e0) {
            dData.copyFromSafe(j, r * size + (j - s0), sData)
            j += 1
          }
        }
        r += 1
      }
      fv.setValueCount(n)
      dData.setValueCount(n * size)
    }
    def valueField(f: Field, dicts: DictionaryProvider): Field =
      new Field(f.getName,
        new FieldType(f.isNullable, ArrowType.List.INSTANCE, null, f.getMetadata),
        f.getChildren)
    def decode(src: FieldVector, dst: FieldVector, dicts: DictionaryProvider): Unit = {
      val fv = src.asInstanceOf[FixedSizeListVector]
      val sz = fv.getListSize
      copyLists(fv, fv.getDataVector, dst, i => (i * sz, i * sz + sz))
    }
  }

  /** Copy `src`'s string/binary elements, in order and nulls included,
    * into `dst` (plain or view layout, either direction). */
  private def copyValues(src: FieldVector, dst: FieldVector): Unit = {
    val s = src.asInstanceOf[VariableWidthFieldVector]
    val d = dst.asInstanceOf[VariableWidthFieldVector]
    val n = s.getValueCount
    d.clear()
    d.allocateNew(n)
    var i = 0
    while (i < n) {
      if (s.isNull(i)) d.setNull(i) else d.setSafe(i, s.get(i))
      i += 1
    }
    d.setValueCount(n)
  }

  /** Copy each non-null list `i` of `src` — child elements
    * `bounds(i)` = [start, end) of `srcChild` — in order into the plain
    * list vector `dst`. */
  private def copyLists(
      src: FieldVector, srcChild: FieldVector, dst: FieldVector,
      bounds: Int => (Int, Int)): Unit = {
    val out = dst.asInstanceOf[ListVector]
    val n = src.getValueCount
    out.allocateNew()
    val dChild = out.getDataVector
    var pos = 0
    var i = 0
    while (i < n) {
      if (src.isNull(i)) out.setNull(i)
      else {
        out.startNewValue(i)
        val (s, e) = bounds(i)
        var j = s
        while (j < e) { dChild.copyFromSafe(j, pos, srcChild); pos += 1; j += 1 }
        out.endValue(i, e - s)
      }
      i += 1
    }
    out.setValueCount(n)
    // setValueCount derives the child count from internal lastSet
    // bookkeeping that startNewValue/endValue don't maintain reliably;
    // the loop knows exactly how many child values it wrote
    dChild.setValueCount(pos)
  }

  private def isViewType(t: ArrowType): Boolean = t match {
    case _: ArrowType.Utf8View | _: ArrowType.BinaryView |
         _: ArrowType.ListView | _: ArrowType.LargeListView => true
    case _ => false
  }

  /** Views are decoded only as top-level columns, and the loud rejection
    * must fire even when the top-level field is not itself a view (e.g.
    * `struct<s: string_view>`, which would otherwise fall through to an
    * unrelated unsupported-type error downstream). Checked once per file
    * at both read boundaries (schema and batches). */
  private def requireNoNestedViews(s: ArrowSchema): Unit = {
    def walk(f: Field, top: String): Unit = f.getChildren.asScala.foreach { c =>
      require(!isViewType(c.getType),
        s"column $top nests a ${c.getType} layout below the top level — " +
          "view layouts are decoded only as top-level columns")
      walk(c, top)
    }
    s.getFields.asScala.foreach(f => walk(f, f.getName))
  }

  // --- 64-bit-offset layout variants -------------------------------------
  // LARGE_STRING / LARGE_BINARY / LARGE_LIST (reference type ids 34/35/36,
  // cpp/src/arrow/type.h:442-448) are narrowed at the batch level: the
  // int64 offsets buffer is rewritten as int32 (rejecting any offset past
  // 2^31-1 — a single task-local >2 GiB column has no 32-bit
  // representation), every other buffer passes through untouched, at any
  // nesting depth. Values are never copied — only offsets.

  private def narrowType(t: ArrowType): ArrowType = t match {
    case _: ArrowType.LargeUtf8   => ArrowType.Utf8.INSTANCE
    case _: ArrowType.LargeBinary => ArrowType.Binary.INSTANCE
    case _: ArrowType.LargeList   => ArrowType.List.INSTANCE
    case other                    => other
  }

  private def narrowField(f: Field): Field =
    new Field(f.getName,
      new FieldType(f.isNullable, narrowType(f.getType), f.getDictionary, f.getMetadata),
      f.getChildren.asScala.map(narrowField).toSeq.asJava)

  private def narrowSchema(s: ArrowSchema): ArrowSchema =
    new ArrowSchema(s.getFields.asScala.map(narrowField).toSeq.asJava)

  private def hasLargeTypes(fields: Seq[Field]): Boolean =
    fields.exists { f =>
      (f.getType ne narrowType(f.getType)) ||
        hasLargeTypes(f.getChildren.asScala.toSeq)
    }

  /** Rewrite one record batch from 64-bit-offset layouts to 32-bit ones.
    * Node list and pass-through buffers are reused; only offsets buffers
    * of large-type vectors are re-encoded. The returned batch retains all
    * its buffers, so both it and `batch` must be closed by the caller. */
  private def narrowBatch(
      fields: Seq[Field], batch: ArrowRecordBatch,
      allocator: RootAllocator): ArrowRecordBatch = {
    val nodes = batch.getNodes.iterator()
    val bufs = batch.getBuffers.iterator()
    val outNodes = new java.util.ArrayList[ArrowFieldNode]()
    val outBufs = new java.util.ArrayList[ArrowBuf]()
    val scratch = new java.util.ArrayList[ArrowBuf]()
    def narrowOffsets(src: ArrowBuf, len: Int): ArrowBuf =
      if (src.capacity() == 0) src // zero-length vector, empty offsets
      else {
        val n = len + 1
        val dst = allocator.buffer(n.toLong * 4)
        var i = 0
        while (i < n) {
          val v = src.getLong(i.toLong * 8)
          require(v >= 0 && v <= Int.MaxValue,
            s"large-type offset $v does not fit the 32-bit layout " +
              "(a single >2 GiB column chunk cannot be narrowed)")
          dst.setInt(i.toLong * 4, v.toInt)
          i += 1
        }
        dst.writerIndex(n.toLong * 4) // serialized size is readableBytes
        scratch.add(dst)
        dst
      }
    def walk(field: Field): Unit = {
      val node = nodes.next()
      outNodes.add(node)
      field.getType match {
        case _: ArrowType.LargeUtf8 | _: ArrowType.LargeBinary =>
          outBufs.add(bufs.next()) // validity
          outBufs.add(narrowOffsets(bufs.next(), node.getLength))
          outBufs.add(bufs.next()) // data
        case _: ArrowType.LargeList =>
          outBufs.add(bufs.next()) // validity
          outBufs.add(narrowOffsets(bufs.next(), node.getLength))
          field.getChildren.forEach(walk(_))
        case t =>
          var i = 0
          val n = TypeLayout.getTypeBufferCount(t)
          while (i < n) { outBufs.add(bufs.next()); i += 1 }
          field.getChildren.forEach(walk(_))
      }
    }
    fields.foreach(walk)
    val out = new ArrowRecordBatch(batch.getLength, outNodes, outBufs)
    scratch.forEach(_.close()) // the new batch holds its own retains
    out
  }

  /** Stream one file's record batches as framed payloads (the format
    * [[Bridge.fromArrowBatchIterator]] consumes). Batch-at-a-time: peak
    * memory is one batch, not the file. */
  private def openReader(
      conf: Configuration, file: String, stream: Boolean,
      allocator: RootAllocator): ArrowReader = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    // always hand the reader the codec factory: uncompressed batches never
    // consult it, compressed ones (zstd / lz4_frame) decode transparently
    val codecs = CommonsCompressionFactory.INSTANCE
    if (stream) new ArrowStreamReader(in, allocator, codecs)
    else {
      val len = fs.getFileStatus(path).getLen
      new ArrowFileReader(
        new SeekableReadChannel(new HadoopSeekableChannel(in, len)), allocator, codecs)
    }
  }

  /** Re-throw malformed-input failures with a diagnostic naming the file
    * and framing — arrow-java surfaces some corruptions as bare
    * message-less exceptions (e.g. an IndexOutOfBounds from a lying
    * framing length), which is loud but undiagnosable at dataset scale
    * (IpcFuzzSpec pins that every corruption case carries a message).
    * Intentional IllegalArgumentExceptions (our own schema-shape
    * rejections — always message-carrying, and what IoSpec intercepts)
    * pass through untouched; a MESSAGE-LESS IAE is arrow-java's own
    * (a bare Preconditions check tripped by corrupt metadata) and gets
    * wrapped like any other corruption signal. */
  private def loud[T](file: String, stream: Boolean)(body: => T): T =
    try body catch {
      case e: IllegalArgumentException if e.getMessage != null => throw e
      case scala.util.control.NonFatal(e) =>
        throw new java.io.IOException(
          s"malformed Arrow IPC ${if (stream) "stream" else "file"} input $file: " +
            s"${e.getClass.getSimpleName}${Option(e.getMessage).fold("")(m => s": $m")}", e)
    }

  private def batchBytes(
      conf: Configuration, file: String, stream: Boolean): Iterator[Array[Byte]] = {
    val allocator = new RootAllocator(Long.MaxValue)
    val reader = openReader(conf, file, stream, allocator)
    val srcRoot = loud(file, stream)(reader.getVectorSchemaRoot)
    requireNoNestedViews(srcRoot.getSchema)
    val layouts = srcRoot.getSchema.getFields.asScala.toSeq.map(layoutOf)
    var closed = false
    def closeAll(): Unit = if (!closed) { closed = true; reader.close(); allocator.close() }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
    new Iterator[Array[Byte]] {
      private var advanced = false
      private var hasBatch = false
      private def advance(): Unit = if (!advanced) {
        hasBatch = !closed && loud(file, stream)(reader.loadNextBatch())
        if (!hasBatch) closeAll()
        advanced = true
      }
      override def hasNext: Boolean = { advance(); hasBatch }
      override def next(): Array[Byte] = {
        advance()
        if (!hasBatch) throw new NoSuchElementException
        advanced = false
        // decode every layout column into a plain value vector; decoded
        // vectors are batch-local, closed after serialize
        val decoded = new java.util.ArrayList[FieldVector]()
        val root =
          if (layouts.forall(_.isEmpty)) srcRoot
          else try new VectorSchemaRoot(srcRoot.getFieldVectors.asScala.zip(layouts).map {
            case (v, None) => v
            case (v, Some(l)) =>
              val d = l.valueField(v.getField, reader).createVector(allocator)
              decoded.add(d)
              l.decode(v, d, reader)
              d
          }.asJava) catch {
            // a layout's own rejection does not know which file it read
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"$file: ${e.getMessage}", e)
          }
        val fields = root.getSchema.getFields.asScala.toSeq
        val src = new VectorUnloader(root).getRecordBatch
        val batch = if (hasLargeTypes(fields)) narrowBatch(fields, src, allocator) else src
        val bos = new ByteArrayOutputStream()
        try MessageSerializer.serialize(new WriteChannel(Channels.newChannel(bos)), batch)
        finally {
          if (batch ne src) batch.close(); src.close()
          decoded.forEach(_.close())
        }
        bos.toByteArray
      }
    }
  }

  /** Read a directory of Arrow IPC files back into a DataFrame; schema
    * from the first file's footer (Spark's own Arrow↔Spark type mapping,
    * nested types included), one read task per file. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readWith(spark, dir, "*.arrow", stream = false)

  /** Read a directory of IPC STREAM files (`.arrows`) — sequential
    * schema-then-batches framing, no footer, no seeks (a pure forward
    * read, exactly what a pipe would deliver). */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    readWith(spark, dir, "*.arrows", stream = true)

  /** Write `df` as a HIVE-PARTITIONED Arrow IPC dataset: one
    * `key=value` directory level per partition column (URL-escaped
    * values), [[write]]'s file layout inside each leaf. The distinct
    * partition tuples are the one bounded driver exchange (they ARE the
    * directory listing — a layout with more leaves than a driver can
    * hold is unusable anyway); each leaf's data is written by the
    * cluster through the normal path. A leaf's value is the key's
    * `cast("string")` — the same text its slice filter compares, so
    * every row lands in exactly one leaf — and a NULL key goes to
    * Spark's `__HIVE_DEFAULT_PARTITION__` leaf. Partition columns are
    * dropped from the files exactly like Spark's own partitioned
    * writers — [[readPartitioned]] reconstructs them from the path. */
  def writePartitioned(df: DataFrame, dir: String,
      partitionCols: Seq[String], batchSize: Int = 4096): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    // overwrite semantics for the whole dataset, like write(): a stale
    // leaf from a previous layout must not survive into the new one
    val rootPath = new Path(dir)
    val rfs = rootPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (rfs.exists(rootPath)) rfs.delete(rootPath, true)
    val specs = df.select(partitionCols.map(c => col(c).cast("string")): _*).distinct()
      .collect().map(r => partitionCols.zipWithIndex.map { case (c, i) =>
        c -> Option(r.getString(i))
      })
    specs.foreach { spec =>
      val leaf = spec.map { case (k, v) =>
        s"$k=${v.fold(HiveDefaultPartition)(java.net.URLEncoder.encode(_, "UTF-8"))}"
      }.mkString("/")
      val slice = spec.foldLeft(df) { case (d, (k, v)) =>
        d.filter(v.fold(col(k).isNull)(col(k).cast("string") === _))
      }.drop(partitionCols: _*)
      write(slice, s"$dir/$leaf", batchSize)
    }
  }

  /** The leaf value Spark's partitioned writers use for a NULL key. */
  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Read a HIVE-PARTITIONED Arrow IPC dataset — `key=value` directory
    * levels become (string-typed) partition columns appended after the
    * file columns, mirroring the reference's `HivePartitioning`
    * (`cpp/src/arrow/dataset/partition.h`) and Spark's own layout
    * convention. Each partition's files read through the full decode
    * machinery (every column layout and the large types); values are
    * URL-decoded the way both writers escape them, and a
    * `__HIVE_DEFAULT_PARTITION__` segment reads as NULL. Cast partition
    * columns downstream when a typed key is needed — the reference
    * infers types only when asked, and a lossless string never lies. */
  def readPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val base = fs.getFileStatus(dirPath).getPath // normalized
    def walk(p: Path): Seq[Path] = {
      val (dirs, files) = fs.listStatus(p).toSeq.partition(_.isDirectory)
      files.map(_.getPath).filter(_.getName.endsWith(".arrow")) ++
        dirs.flatMap(d => walk(d.getPath))
    }
    val all = walk(base)
    require(all.nonEmpty, s"ArrowIpc.readPartitioned: no .arrow files under $dir")
    def specOf(f: Path): Seq[(String, String)] = {
      val rel = f.toString.stripPrefix(base.toString).stripPrefix("/")
      rel.split("/").dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"non-hive path segment '$seg' under $dir")
        seg.substring(0, i) ->
          java.net.URLDecoder.decode(seg.substring(i + 1), "UTF-8")
      }
    }
    val bySpec = all.groupBy(specOf).toSeq.sortBy(_._1.toString)
    val keys = bySpec.head._1.map(_._1)
    require(bySpec.forall(_._1.map(_._1) == keys),
      s"inconsistent partition keys under $dir: " +
        bySpec.map(_._1.map(_._1).mkString("/")).distinct.mkString(", "))
    bySpec.map { case (spec, files) =>
      val part = readFiles(spark, files.map(_.toString).sorted, stream = false)
      spec.foldLeft(part) { case (df, (k, v)) =>
        df.withColumn(k,
          if (v == HiveDefaultPartition) lit(null).cast("string") else lit(v))
      }
    }.reduce(_ unionByName _)
  }

  private def readWith(
      spark: SparkSession, dir: String, glob: String, stream: Boolean): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val files = Option(fs.globStatus(new Path(dirPath, glob)))
      .getOrElse(Array.empty).map(_.getPath.toString).sorted
    require(files.nonEmpty, s"ArrowIpc.read: no $glob files in $dir")
    readFiles(spark, files.toIndexedSeq, stream)
  }

  private def readFiles(
      spark: SparkSession, files: Seq[String], stream: Boolean): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(files.nonEmpty, "ArrowIpc.readFiles: empty file list")
    val schema: StructType = {
      val allocator = new RootAllocator(Long.MaxValue)
      val reader = openReader(conf, files.head, stream, allocator)
      // every layout maps to its value type and the large-offset variants
      // to the same Spark types (§1.2); batchBytes decodes/narrows the
      // buffers to match
      try loud(files.head, stream) {
        val raw = reader.getVectorSchemaRoot.getSchema
        requireNoNestedViews(raw)
        // dictionary batches arrive with the data (stream) or are
        // footer-indexed (file); one batch load materializes them
        if (raw.getFields.asScala.exists(_.getDictionary != null)) reader.loadNextBatch()
        Bridge.fromArrowSchema(narrowSchema(new ArrowSchema(raw.getFields.asScala
          .map(f => layoutOf(f).fold(f)(_.valueField(f, reader))).asJava)))
      } finally { reader.close(); allocator.close() }
    }
    val hconf = new SerializableHadoopConf(conf)
    val rows = spark.sparkContext
      .parallelize(files.toIndexedSeq, files.length)
      .flatMap(f => batchBytes(hconf.value, f, stream))
      .mapPartitions(it => Bridge.fromArrowBatchIterator(it, schema, TaskContext.get()))
    Bridge.internalCreateDataFrame(spark, rows, schema)
  }
}
