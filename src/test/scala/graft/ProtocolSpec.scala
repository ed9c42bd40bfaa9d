package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Protocol feature gates (the Delta minReaderVersion/minWriterVersion
  * analogue): `_protocol` records the features a reader/writer must
  * understand, is written the moment a feature first materializes —
  * never speculatively — and an UNKNOWN required feature refuses loudly
  * instead of silently returning wrong answers (a pre-DV build reading
  * a DV chain would resurrect deleted rows). */
class ProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  test("no gratuitous gating: a plain table carries no protocol entry; " +
    "each feature registers exactly when it materializes") {
    val root = fresh("proto")
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    VersionedTable.append(Seq((3L, "c")).toDF("k", "s"), root)
    assert(VersionedTable.protocolOf(root) == (Set.empty, Set.empty))
    assert(!new java.io.File(root).listFiles().exists(
      _.getName.startsWith("_protocol")),
      "a plain table must not carry a protocol entry")
    // writer-only registration: constraints gate writers, not readers
    VersionedTable.addCheckConstraint(spark, root, "k_pos", "k > 0")
    assert(VersionedTable.protocolOf(root) ==
      (Set.empty[String], Set("checkConstraints")))
    // a DV commit is the classic reader hazard: gate readers
    VersionedTable.deleteWhereVector(spark, root, col("k") === 2L)
    val (r1, w1) = VersionedTable.protocolOf(root)
    assert(r1 == Set("dv"))
    assert(w1 == Set("dv", "checkConstraints"))
    // schema-only slices gate readers (a slice-blind reader breaks on
    // partitioned chains)
    VersionedTable.addColumns(spark, root,
      Seq("extra" -> org.apache.spark.sql.types.IntegerType))
    assert(VersionedTable.protocolOf(root)._1 ==
      Set("dv", "schemaOnlySlices"))
    // column mapping gates readers (physical names must re-label)
    VersionedTable.setTblProperties(root,
      Map("gvt.columnMapping" -> "name"))
    VersionedTable.renameColumn(spark, root, "s", "s2")
    assert(VersionedTable.protocolOf(root)._1 ==
      Set("dv", "schemaOnlySlices", "columnMapping"))
    // everything this build wrote, this build reads
    assert(VersionedTable.readLatest(spark, root).count() == 2)
  }

  test("an unknown REQUIRED reader feature refuses reads and writes " +
    "loudly; removing the requirement restores access") {
    val root = fresh("protoreader")
    VersionedTable.write(Seq((1L, "a")).toDF("k", "s"), root)
    Files.writeString(java.nio.file.Paths.get(root, "_protocol.v1"),
      "reader=dv,futureMagic\nwriter=dv,futureMagic")
    val er = intercept[UnsupportedOperationException] {
      VersionedTable.readLatest(spark, root)
    }
    assert(er.getMessage.contains("futureMagic"))
    assert(er.getMessage.contains("reader"))
    // metadata-only paths are gated too (a wrong COUNT is still wrong)
    intercept[UnsupportedOperationException] {
      VersionedTable.metaRowCount(root)
    }
    val ew = intercept[UnsupportedOperationException] {
      VersionedTable.append(Seq((2L, "b")).toDF("k", "s"), root)
    }
    assert(ew.getMessage.contains("futureMagic"))
    Files.delete(java.nio.file.Paths.get(root, "_protocol.v1"))
    // deleting an entry out-of-band violates the chain's append-only
    // invariant (requirements are monotone in normal operation), so the
    // forward-probe tip cache must be dropped explicitly — the same
    // contract as any filesystem metadata cache
    VersionedTable.invalidateSnapshots()
    assert(VersionedTable.readLatest(spark, root).count() == 1)
  }

  test("an unknown WRITER-only feature leaves reads working and " +
    "refuses writes") {
    val root = fresh("protowriter")
    VersionedTable.write(Seq((1L, "a")).toDF("k", "s"), root)
    Files.writeString(java.nio.file.Paths.get(root, "_protocol.v1"),
      "reader=\nwriter=futureWriterThing")
    assert(VersionedTable.readLatest(spark, root).count() == 1)
    val e = intercept[UnsupportedOperationException] {
      VersionedTable.append(Seq((2L, "b")).toDF("k", "s"), root)
    }
    assert(e.getMessage.contains("futureWriterThing"))
    assert(e.getMessage.contains("writer"))
  }

  test("a shallow clone of a DV-bearing table inherits the dv reader " +
    "requirement (it reads through the source's vectors)") {
    val src = fresh("protosrc")
    val dst = fresh("protodst")
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), src)
    VersionedTable.deleteWhereVector(spark, src, col("k") === 2L)
    VersionedTable.cloneTable(spark, src, dst, shallow = true)
    assert(VersionedTable.protocolOf(dst)._1.contains("dv"))
    assert(VersionedTable.readLatest(spark, dst).count() == 1)
  }

  test("DESCRIBE DETAIL reports the protocol") {
    val root = fresh("protodetail")
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    VersionedTable.deleteWhereVector(spark, root, col("k") === 2L)
    GraftSession.withExtensions(spark) { sess =>
      val row = sess.sql(s"DESCRIBE DETAIL gvt.`$root`").collect().head
      assert(row.getAs[String]("reader_features") == "dv")
      assert(row.getAs[String]("writer_features") == "dv")
    }
  }
}
