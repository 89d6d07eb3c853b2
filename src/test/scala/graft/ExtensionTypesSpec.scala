package graft

import graft.types.{Bool8, Json, Tensor, Uuid}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** UDT extension types (reference uuid / json / bool8 /
  * fixed_shape_tensor extension types, cpp/src/arrow/extension/):
  * encode, round-trip through parquet, and stay usable in expressions on
  * the storage representation.
  */
case class UuidRec(id: Long, uid: Uuid)
case class TensorRec(id: Long, t: Tensor)
case class JsonRec(id: Long, doc: Json)
case class Bool8Rec(id: Long, flag: Bool8)
case class OpaqueRec(id: Long, blob: graft.types.Opaque)
case class VarTensorRec(id: Long, t: graft.types.VarTensor)
case class SparseTensorRec(id: Long, t: graft.types.SparseTensor)
case class SparseMatrixRec(id: Long, m: graft.types.SparseMatrix)
case class SparseCSFRec(id: Long, t: graft.types.SparseCSFTensor)
case class TimeRec(id: Long, t: graft.types.TimeOfDay)

class ExtensionTypesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("uuid UDT round-trips through parquet and groups/joins on equality") {
    import spark.implicits._
    val rows = Seq(
      UuidRec(1L, Uuid(0x1122334455667788L, 0x99AABBCCDDEEFF00L)),
      UuidRec(2L, Uuid(0L, 42L)),
      UuidRec(3L, Uuid(0L, 42L)))
    val out = Tables.scratch("uuid_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[UuidRec].collect().sortBy(_.id)
    assert(back.toSeq.map(r => (r.id, r.uid)) == rows.map(r => (r.id, r.uid)))
    // equality on the UDT column distributes (groupBy on storage bytes)
    val counts = spark.read.parquet(out)
      .groupBy(col("uid")).count().collect().map(_.getLong(1)).sorted
    assert(counts.toSeq == Seq(1L, 2L))
    assert(back.head.uid.toString == "11223344-5566-7788-99aa-bbccddeeff00")
  }

  test("tensor UDT preserves shape/values and row-major indexing") {
    import spark.implicits._
    val t = Tensor(Seq(2, 3), Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    assert(t(0, 0) == 1.0 && t(0, 2) == 3.0 && t(1, 0) == 4.0 && t(1, 2) == 6.0)
    val out = Tables.scratch("tensor_udt")
    Seq(TensorRec(1L, t)).toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[TensorRec].head()
    assert(back.t.shape == Seq(2, 3))
    assert(back.t.values.toSeq == t.values.toSeq)
    // field access on a UDT column requires the typed view (Spark does
    // not auto-extract from UDT storage structs)
    val sum = spark.read.parquet(out).as[TensorRec]
      .map(_.t.values.sum).head()
    assert(sum == 21.0)
  }

  test("json UDT round-trips through parquet; storage stays queryable JSON text") {
    import spark.implicits._
    val rows = Seq(
      JsonRec(1L, Json("""{"a": 1, "b": [true, null]}""")),
      JsonRec(2L, Json("""{"a": 2}""")))
    val out = Tables.scratch("json_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[JsonRec].collect().sortBy(_.id)
    assert(back.map(r => (r.id, r.doc.value)).toSeq ==
      rows.map(r => (r.id, r.doc.value)))
    // the utf8 storage is real JSON: castable and queryable in SQL
    val a = spark.read.parquet(out)
      .select(get_json_object(col("doc").cast("string"), "$.a").as("a"))
      .collect().map(_.getString(0)).sorted
    assert(a.toSeq == Seq("1", "2"))
  }

  test("bool8 UDT stores one byte per value, 0=false nonzero=true") {
    import spark.implicits._
    val rows = Seq(
      Bool8Rec(1L, Bool8(0)), Bool8Rec(2L, Bool8(1)), Bool8Rec(3L, Bool8(-3)))
    val out = Tables.scratch("bool8_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[Bool8Rec].collect().sortBy(_.id)
    // raw bytes preserved (reference: storage is NOT canonicalized)…
    assert(back.map(_.flag.raw).toSeq == Seq[Byte](0, 1, -3))
    // …and the boolean view follows the 0/nonzero contract
    assert(back.map(_.flag.toBoolean).toSeq == Seq(false, true, true))
    // boolean view distributes through the typed Dataset path (a UDT
    // column is opaque to SQL casts by design)
    val n = spark.read.parquet(out).as[Bool8Rec]
      .filter(_.flag.toBoolean).count()
    assert(n == 2)
  }

  test("variable-shape tensor UDT: ragged ranks and extents in ONE column") {
    import graft.types.VarTensor
    import spark.implicits._
    val rows = Seq(
      VarTensorRec(1L, VarTensor(Seq(2, 2), Array(1.0, 2.0, 3.0, 4.0))),
      VarTensorRec(2L, VarTensor(Seq(3), Array(5.0, 6.0, 7.0))),      // rank 1
      VarTensorRec(3L, VarTensor(Seq(1, 2, 2), Array(8.0, 9.0, 10.0, 11.0))),
      VarTensorRec(4L, VarTensor(Seq(0), Array.emptyDoubleArray)))    // empty
    val out = Tables.scratch("vtensor_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[VarTensorRec].collect().sortBy(_.id)
    assert(back.map(r => (r.id, r.t.shape, r.t.values.toSeq)).toSeq ==
      rows.map(r => (r.id, r.t.shape, r.t.values.toSeq)))
    assert(back.map(_.t.ndim).toSeq == Seq(2, 1, 3, 1))
    assert(back(0).t(1, 0) == 3.0)
    assert(back(2).t(0, 1, 1) == 11.0)
    // typed aggregation over ragged sizes distributes
    val total = spark.read.parquet(out).as[VarTensorRec]
      .map(_.t.numElements).collect().sum
    assert(total == 11)
    intercept[IllegalArgumentException] { VarTensor(Seq(-1), Array.emptyDoubleArray) }
    intercept[IllegalArgumentException] { back(1).t(0, 0) } // rank mismatch
    // per-dimension bounds: (0,5) on a 2x2 must fail, not alias to (1,1)
    intercept[IllegalArgumentException] { back(0).t(0, 5) }
    intercept[IllegalArgumentException] { back(0).t(-1, 0) }
  }

  test("COO sparse tensor UDT: parquet round-trip, lookup, dense conversion") {
    import graft.types.{SparseTensor, Tensor}
    import spark.implicits._
    // 3x4 with nonzeros at (0,1)=5, (1,0)=7, (2,3)=9 — canonical order
    val s = SparseTensor(Seq(3, 4), Array(0L, 1L, 1L, 0L, 2L, 3L),
      Array(5.0, 7.0, 9.0))
    val rows = Seq(
      SparseTensorRec(1L, s),
      SparseTensorRec(2L, SparseTensor(Seq(2, 2), Array.emptyLongArray,
        Array.emptyDoubleArray)), // all-zero tensor: nnz = 0
      SparseTensorRec(3L, SparseTensor(Seq(5), Array(4L), Array(1.5))))
    val out = Tables.scratch("sparse_tensor_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[SparseTensorRec].collect().sortBy(_.id)
    assert(back.map(r => (r.id, r.t)).toSeq == rows.map(r => (r.id, r.t)))
    // coordinate lookup: stored nonzeros + implicit zeros
    assert(back(0).t(0, 1) == 5.0 && back(0).t(1, 0) == 7.0 && back(0).t(2, 3) == 9.0)
    assert(back(0).t(0, 0) == 0.0 && back(0).t(2, 2) == 0.0)
    assert(back(1).t(1, 1) == 0.0)
    // dense↔sparse round-trip both ways
    val dense = s.toDense
    assert(dense.shape == Seq(3, 4))
    assert(dense.values.toSeq ==
      Seq(0.0, 5.0, 0.0, 0.0, 7.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 9.0))
    assert(SparseTensor.fromDense(dense) == s)
    assert(SparseTensor.fromDense(Tensor(Seq(2, 2),
      Array(0.0, 0.0, 0.0, 0.0))).nnz == 0)
    // typed aggregation distributes
    val nnzTotal = spark.read.parquet(out).as[SparseTensorRec]
      .map(_.t.nnz).collect().sum
    assert(nnzTotal == 4)
    // contract violations: bounds, arity, canonical order, duplicates
    intercept[IllegalArgumentException] {
      SparseTensor(Seq(2, 2), Array(0L, 2L), Array(1.0)) // coord out of bounds
    }
    intercept[IllegalArgumentException] {
      SparseTensor(Seq(2, 2), Array(0L), Array(1.0)) // arity mismatch
    }
    intercept[IllegalArgumentException] {
      SparseTensor(Seq(2, 2), Array(1L, 0L, 0L, 1L), Array(1.0, 2.0)) // unsorted
    }
    intercept[IllegalArgumentException] {
      SparseTensor(Seq(2, 2), Array(0L, 1L, 0L, 1L), Array(1.0, 2.0)) // duplicate
    }
    intercept[IllegalArgumentException] { back(0).t(0, 4) } // lookup bounds
    intercept[IllegalArgumentException] { back(0).t(0) }    // lookup arity
  }

  test("CSR/CSC sparse matrix UDT: parquet round-trip, lookup, COO conversion") {
    import graft.types.{SparseMatrix, SparseTensor}
    import spark.implicits._
    // 3x4 with nonzeros at (0,1)=5, (1,0)=7, (1,3)=2, (2,3)=9
    val coo = SparseTensor(Seq(3, 4),
      Array(0L, 1L, 1L, 0L, 1L, 3L, 2L, 3L), Array(5.0, 7.0, 2.0, 9.0))
    val csr = SparseMatrix.csrFromCOO(coo)
    val csc = SparseMatrix.cscFromCOO(coo)
    // compressed layouts are what the reference's contract says they are
    assert(csr.indptr.toSeq == Seq(0L, 1L, 3L, 4L))
    assert(csr.indices.toSeq == Seq(1L, 0L, 3L, 3L))
    assert(csc.indptr.toSeq == Seq(0L, 1L, 2L, 2L, 4L))
    assert(csc.indices.toSeq == Seq(1L, 0L, 1L, 2L))
    assert(csc.values.toSeq == Seq(7.0, 5.0, 2.0, 9.0))
    // both compressions decompress back to the same canonical COO
    assert(csr.toCOO == coo && csc.toCOO == coo)
    // point lookups agree across all three formats (incl. implicit zeros)
    for (r <- 0 until 3; c <- 0 until 4)
      assert(csr(r, c) == coo(r, c) && csc(r, c) == coo(r, c))
    // parquet round-trip of both axis variants in one column
    val rows = Seq(SparseMatrixRec(1L, csr), SparseMatrixRec(2L, csc),
      SparseMatrixRec(3L, SparseMatrix(byRow = true, 2, 2,
        Array(0L, 0L, 0L), Array.emptyLongArray, Array.emptyDoubleArray)))
    val out = Tables.scratch("sparse_matrix_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[SparseMatrixRec].collect().sortBy(_.id)
    assert(back.map(r => (r.id, r.m)).toSeq == rows.map(r => (r.id, r.m)))
    assert(back(2).m.nnz == 0 && back(2).m(1, 1) == 0.0)
    // contract violations: indptr arity/monotonicity/end, minor order
    intercept[IllegalArgumentException] {
      SparseMatrix(byRow = true, 2, 2, Array(0L, 1L), Array(0L), Array(1.0))
    } // indptr too short
    intercept[IllegalArgumentException] {
      SparseMatrix(byRow = true, 2, 2, Array(0L, 1L, 0L), Array(0L), Array(1.0))
    } // indptr must end at nnz
    intercept[IllegalArgumentException] {
      SparseMatrix(byRow = true, 1, 2, Array(0L, 2L), Array(1L, 0L),
        Array(1.0, 2.0))
    } // minor coords unsorted within a slice
    intercept[IllegalArgumentException] {
      SparseMatrix.csrFromCOO(SparseTensor(Seq(2), Array(0L), Array(1.0)))
    } // rank-1 has no CSR
  }

  test("CSF sparse tensor UDT: layout contract, parquet round-trip, lookup, COO") {
    import graft.types.{SparseCSFTensor, SparseTensor}
    import spark.implicits._
    // 2x3x4 rank-3 tensor with nonzeros sharing outer fibers:
    // (0,0,1)=1, (0,0,3)=2, (0,2,0)=3, (1,1,2)=4, (1,1,3)=5
    val coo = SparseTensor(Seq(2, 3, 4),
      Array(0L, 0L, 1L, 0L, 0L, 3L, 0L, 2L, 0L, 1L, 1L, 2L, 1L, 1L, 3L),
      Array(1.0, 2.0, 3.0, 4.0, 5.0))
    val csf = SparseCSFTensor.fromCOO(coo)
    // layout contract (the reference's prefix tree): level 0 stores each
    // outer coordinate ONCE; indptr ranges point at child spans
    assert(csf.indices(0).toSeq == Seq(0L, 1L))          // outer coords
    assert(csf.indices(1).toSeq == Seq(0L, 2L, 1L))      // middle per fiber
    assert(csf.indices(2).toSeq == Seq(1L, 3L, 0L, 2L, 3L)) // leaves = nnz
    assert(csf.indptr(0).toSeq == Seq(0L, 2L, 3L))
    assert(csf.indptr(1).toSeq == Seq(0L, 2L, 3L, 5L))
    assert(csf.values.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    // O(nnz) both ways: decompression reproduces canonical COO exactly
    assert(csf.toCOO == coo)
    // point lookups agree with COO everywhere, implicit zeros included
    for (i <- 0 until 2; j <- 0 until 3; k <- 0 until 4)
      assert(csf(i, j, k) == coo(i, j, k), s"($i,$j,$k)")
    // non-identity axis order: innermost-first tree, same data back
    val perm = SparseCSFTensor.fromCOO(coo, Seq(2, 1, 0))
    assert(perm.indices(0).toSeq == Seq(0L, 1L, 2L, 3L)) // axis-2 outer
    assert(perm.toCOO == coo, "permuted CSF must round-trip to canonical COO")
    for (i <- 0 until 2; j <- 0 until 3; k <- 0 until 4)
      assert(perm(i, j, k) == coo(i, j, k), s"perm ($i,$j,$k)")
    // parquet round-trip (identity + permuted in one column)
    val rows = Seq(SparseCSFRec(1L, csf), SparseCSFRec(2L, perm))
    val out = Tables.scratch("sparse_csf_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[SparseCSFRec].collect().sortBy(_.id)
    assert(back.map(r => (r.id, r.t)).toSeq == rows.map(r => (r.id, r.t)))
    // contract violations fail loudly
    intercept[IllegalArgumentException] {
      SparseCSFTensor(Seq(2, 2), Seq(0, 0), csf.indptr.take(1),
        csf.indices.take(2), csf.values) // axisOrder not a permutation
    }
    intercept[IllegalArgumentException] {
      SparseCSFTensor(Seq(2, 2), Seq(0, 1),
        Seq(Array(0L, 0L, 1L)), // empty child range for node 0
        Seq(Array(0L, 1L), Array(0L)), Array(1.0))
    }
    intercept[IllegalArgumentException] {
      SparseCSFTensor(Seq(2, 2), Seq(0, 1),
        Seq(Array(0L, 2L)),
        Seq(Array(0L), Array(1L, 0L)), Array(1.0, 2.0)) // siblings unsorted
    }
    intercept[IllegalArgumentException] { csf(0, 0) } // lookup arity
    intercept[IllegalArgumentException] { csf(0, 0, 4) } // lookup bounds
  }

  test("opaque UDT carries foreign payloads losslessly with type/vendor tags") {
    import spark.implicits._
    val rows = Seq(
      OpaqueRec(1L, graft.types.Opaque("geometry", "postgis", Array[Byte](1, 2, 3, -1))),
      OpaqueRec(2L, graft.types.Opaque("hll", "redis", Array.emptyByteArray)))
    val out = Tables.scratch("opaque_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[OpaqueRec].collect().sortBy(_.id)
    assert(back.map(_.blob).toSeq == rows.map(_.blob))
    assert(back.head.blob.typeName == "geometry")
    assert(back.head.blob.vendorName == "postgis")
  }

  test("tensor shape mismatch is rejected at construction") {
    intercept[IllegalArgumentException] {
      Tensor(Seq(2, 2), Array(1.0, 2.0, 3.0))
    }
    // per-dimension bounds on the fixed-shape tensor too
    val t = Tensor(Seq(2, 3), Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    intercept[IllegalArgumentException] { t(0, 3) }
    intercept[IllegalArgumentException] { t(2, 0) }
  }

  test("time-of-day UDT: parquet round-trip, unit conversion, range rejection") {
    import spark.implicits._
    import graft.types.TimeOfDay
    val rows = Seq(
      TimeRec(1L, TimeOfDay(0L)),                       // midnight
      TimeRec(2L, TimeOfDay(86399999999L)),             // 23:59:59.999999
      TimeRec(3L, TimeOfDay.fromTime32(8 * 3600, "s")), // 08:00:00 time32[s]
      TimeRec(4L, TimeOfDay.fromTime64(12L * 3600 * 1000000000L + 1500L, "ns")))
    val out = Tables.scratch("time_udt")
    rows.toDS().write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[TimeRec].collect().sortBy(_.id)
    // the LOGICAL type survives the round-trip (this is the §1.2 gap
    // being closed), not just the µs values
    assert(spark.read.parquet(out).schema("t").dataType
      .isInstanceOf[graft.types.TimeOfDayType])
    assert(back.map(r => (r.id, r.t.micros)).toSeq ==
      rows.map(r => (r.id, r.t.micros)))
    assert(back(2).t.toString == "08:00:00.000000")
    assert(back(3).t.micros == 12L * 3600 * 1000000L + 1L) // ns truncates
    // out-of-range and bad-unit values fail loudly at construction
    intercept[IllegalArgumentException] { TimeOfDay(-1L) }
    intercept[IllegalArgumentException] { TimeOfDay(86400000000L) }
    intercept[IllegalArgumentException] { TimeOfDay.fromTime32(5, "us") }
  }
}
