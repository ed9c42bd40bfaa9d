package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** VACUUM's file-granular pass: a data file fully masked by deletion
  * vectors, whose last masking commit is at-or-below every retained
  * read point, is physically reclaimed — the storage of a masked-out
  * partition goes away without the O(live) REORG PURGE rewrite. The
  * `_purged` record keeps elision and the metadata row-count arithmetic
  * exact after the footers are gone. */
class VacuumPurgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def mk(root: String): Unit = {
    VersionedTable.write((1 to 400).map(i =>
      (i.toLong, if (i % 4 == 0) "a" else "b")).toDF("id", "part"),
      root, partitionBy = Seq("part")) // v1
    VersionedTable.deleteWhereVector(spark, root, col("part") === "a") // v2
  }

  private def physFiles(root: String, sub: String): Seq[String] = {
    val d = new java.io.File(s"$root/$sub")
    if (!d.isDirectory) Nil
    else d.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
      && !f.getName.startsWith(".")).map(_.getName).toSeq
  }

  test("RETAIN 0 reclaims fully-masked files; reads and counts stay exact") {
    val root = fresh("vacp")
    mk(root)
    assert(physFiles(root, "v=1/part=a").nonEmpty)
    VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
    // the dead partition's bytes are GONE from disk
    assert(physFiles(root, "v=1/part=a").isEmpty,
      "fully-masked files must be physically reclaimed")
    // live partition untouched
    assert(physFiles(root, "v=1/part=b").nonEmpty)
    // reads work from a cold cache (elision by record, no footer read)
    VersionedTable.invalidateSnapshots()
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 300)
    assert(live.filter(col("part") === "a").count() == 0)
    // metadata row count stays exact though the masked footers are gone
    assert(VersionedTable.metaRowCount(root) == 300L)
    // pruned reads don't trip over the reclaimed files either
    assert(VersionedTable.readPruned(spark, root, "id", 1, 400).count() == 300)
  }

  test("a partially-masked file is never reclaimed") {
    val root = fresh("vacpp")
    VersionedTable.write((1 to 100).map(i => (i.toLong, "x")).toDF("id", "part"),
      root, partitionBy = Seq("part"))
    VersionedTable.deleteWhereVector(spark, root, col("id") <= 40)
    VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
    assert(physFiles(root, "v=1/part=x").nonEmpty,
      "a file with live rows must survive the pass")
    assert(VersionedTable.readLatest(spark, root).count() == 60)
  }

  test("a young masking commit blocks the reclaim (retention window)") {
    val root = fresh("vacpy")
    mk(root)
    // default 24h retention: v2 (the masking commit) is a retained read
    // point's predecessor — the file must survive
    VersionedTable.vacuum(root, keep = 1)
    assert(physFiles(root, "v=1/part=a").nonEmpty,
      "masking commit inside retention must block the purge")
    assert(VersionedTable.readLatest(spark, root).count() == 300)
  }

  test("a change feed needing reclaimed files fails with the retention contract") {
    val root = fresh("vacpc")
    mk(root)
    VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
    val e = intercept[graft.streaming.ChangeFeed.CursorBehindRetention] {
      VersionedTable.changes(spark, root, 1L, 2L, Seq("id")).collect()
    }
    assert(e.getMessage.contains("retention"))
  }

  test("time travel below the purge floor refuses LOUDLY (never a " +
    "silently smaller snapshot)") {
    val root = fresh("vacpf")
    mk(root)
    // before the purge, v1 serves its full 400 rows
    assert(VersionedTable.readVersion(spark, root, 1).count() == 400)
    VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
    VersionedTable.invalidateSnapshots()
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, 1).count()
    }
    assert(e.getMessage.contains("purge floor"), e.getMessage)
    // the floor gates only the reclaimed range — the live tip reads fine
    assert(VersionedTable.readLatest(spark, root).count() == 300)
  }

  test("a crash between the _purged record and the deletes leaves the " +
    "table exact, and the next VACUUM finishes the reclaim") {
    val root = fresh("vacpx")
    mk(root)
    // snapshot the doomed files, run the pass, then restore them —
    // exactly the recorded-but-still-present state a crash after the
    // record (but before the deletes) leaves behind
    val deadDir = new java.io.File(s"$root/v=1/part=a")
    val saved = deadDir.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toSeq
    assert(saved.nonEmpty)
    VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
    saved.foreach { case (name, bytes) =>
      java.nio.file.Files.write(new java.io.File(deadDir, name).toPath, bytes)
    }
    VersionedTable.invalidateSnapshots()
    // recorded-but-present: reads elide by record, counts stay exact
    assert(VersionedTable.readLatest(spark, root).count() == 300)
    assert(VersionedTable.metaRowCount(root) == 300L)
    assert(VersionedTable.analyzeTable(spark, root)._2 == 300L)
    // the next pass self-heals: the leftover files go away again
    VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
    assert(physFiles(root, "v=1/part=a").isEmpty,
      "re-run VACUUM must re-delete recorded-but-present leftovers")
    VersionedTable.invalidateSnapshots()
    assert(VersionedTable.readLatest(spark, root).count() == 300)
  }

  test("ANALYZE and DESCRIBE-DETAIL-class stats stay exact after the purge") {
    val root = fresh("vacpa")
    mk(root)
    VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
    val (_, rows, bytes) = VersionedTable.analyzeTable(spark, root)
    assert(rows == 300L)
    assert(bytes > 0L)
  }
}
