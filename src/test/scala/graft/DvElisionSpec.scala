package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Whole-file deletion-vector elision: a file whose EVERY row the
  * chain's vectors mask drops out of the scan entirely (the read-cost
  * shape of Delta removing fully-deleted files from its manifest) —
  * proven by the `_dvc` per-file mask counts each DV commit persists
  * vs the file's parquet footer row count. Partial masks keep their
  * files; chains without the sidecar degrade to plain anti-join reads,
  * never to a wrong answer. */
class DvElisionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  /** Data files the latest-version read actually plans over (the `_dv`
    * sidecar scans excluded). */
  private def plannedDataFiles(root: String): Seq[String] =
    VersionedTable.readLatest(spark, root).inputFiles.toSeq
      .filterNot(f => f.contains("/_dv"))

  test("whole-partition DV delete drops the partition's files from the scan") {
    val root = fresh("elide")
    val df = (1 to 1000).map(i => (i.toLong, if (i % 4 == 0) "a" else "b"))
      .toDF("id", "part")
    VersionedTable.write(df, root, partitionBy = Seq("part")) // v1
    VersionedTable.deleteWhereVector(spark, root, col("part") === "a") // v2
    // correctness first: only p=b rows survive
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 750)
    assert(live.filter(col("part") === "a").count() == 0)
    // elision: no p=a data file is even planned, let alone read
    // (the DV commit's own empty schema slice may appear — only the
    // partition-carrying data files matter)
    val files = plannedDataFiles(root).filter(_.contains("part="))
    assert(files.nonEmpty)
    assert(!files.exists(_.contains("part=a")),
      s"fully-masked partition files still scanned:\n${files.mkString("\n")}")
    assert(files.forall(_.contains("part=b")))
  }

  test("partial mask keeps the file; stacking to a full mask elides it") {
    val root = fresh("elide_stack")
    VersionedTable.write((1 to 100).map(i => (i.toLong, "x")).toDF("id", "part"),
      root, partitionBy = Seq("part")) // v1, one partition
    VersionedTable.deleteWhereVector(spark, root, col("id") <= 40) // v2
    assert(VersionedTable.readLatest(spark, root).count() == 60)
    val partial = plannedDataFiles(root)
    assert(partial.exists(_.contains("part=x")),
      "partially-masked file must still be scanned")
    // second vector finishes the job — the two commits' counts SUM to
    // the footer row count and the file drops
    VersionedTable.deleteWhereVector(spark, root, col("id") > 40) // v3
    assert(VersionedTable.readLatest(spark, root).count() == 0)
    assert(!plannedDataFiles(root).exists(_.contains("part=x")),
      "stacked fully-masking vectors must elide the file")
  }

  test("pruned reads compose elision with zone-map skipping") {
    val root = fresh("elide_pruned")
    val df = (1 to 1000).map(i => (i.toLong, i % 2)).toDF("id", "k")
    VersionedTable.write(
      df.repartitionByRange(4, col("id")), root, statsCols = Seq("id")) // v1
    // range boundaries are sampled, not exact — delete EXACTLY the file
    // holding the smallest ids, by its own zone-map upper bound
    val hi = spark.read.parquet(s"$root/v=1/_stats")
      .orderBy(col("min_id")).select("max_id").head.getDouble(0)
    VersionedTable.deleteWhereVector(spark, root, col("id") <= hi) // v2
    val pruned = VersionedTable.readPruned(spark, root, "id", 1, 1000)
    assert(pruned.count() == 1000 - hi.toLong)
    val fs = pruned.inputFiles.toSeq
      .filterNot(_.contains("/_dv")).filter(_.contains("/v=1/"))
    assert(fs.size == 3, s"expected the fully-masked range file elided, got $fs")
  }

  test("missing _dvc sidecar degrades to the plain anti-join read") {
    val root = fresh("elide_nosidecar")
    VersionedTable.write((1 to 50).map(i => (i.toLong, "x")).toDF("id", "part"),
      root, partitionBy = Seq("part"))
    VersionedTable.deleteWhereVector(spark, root, col("part") === "x")
    // simulate a pre-sidecar chain: drop the counts out-of-band
    val dvc = new java.io.File(s"$root/v=2/_dvc")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(dvc)
    VersionedTable.invalidateSnapshots()
    // correctness holds (anti-join still masks), files merely rescan
    assert(VersionedTable.readLatest(spark, root).count() == 0)
    assert(plannedDataFiles(root).exists(_.contains("part=x")),
      "without counts, elision must stay off (sound degradation)")
  }

  test("the SQL relation's sizeInBytes discounts fully-masked files " +
    "(mostly-deleted dims broadcast before compaction or ANALYZE)") {
    val root = fresh("elide_size")
    val df = (1 to 2000).map(i =>
      (i.toLong, if (i <= 1900) "dead" else "live", s"pad_$i")).toDF("id", "part", "s")
    VersionedTable.write(df, root, partitionBy = Seq("part"))
    def relSize(): BigInt = GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW elide_size_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.table("elide_size_t").queryExecution.optimizedPlan.stats.sizeInBytes
    }
    val before = relSize()
    VersionedTable.deleteWhereVector(spark, root, col("part") === "dead")
    val after = relSize()
    assert(after < before / 2,
      s"fully-masked partition must not count against broadcast sizing " +
        s"(before=$before after=$after)")
    assert(after > 0)
  }

  test("a DV-free versioned read pays ZERO elision cost — no footer " +
    "probes, no _dvc/_purged metadata reads") {
    import graft.sources.{CountingFileStore, LogStore}
    spark.conf.set("spark.graft.logstore.file",
      classOf[CountingFileStore].getName)
    LogStore.invalidateCustomStores()
    try {
      val root = fresh("elide_dvfree")
      VersionedTable.write((1 to 500).map(i => (i.toLong, s"s$i"))
        .toDF("id", "s"), root) // v1
      VersionedTable.append((501 to 600).map(i => (i.toLong, s"s$i"))
        .toDF("id", "s"), root) // v2 (chain read, still DV-free)
      VersionedTable.invalidateSnapshots()
      VersionedTable.elisionFooterProbes.set(0L)
      CountingFileStore.clear()
      assert(VersionedTable.readLatest(spark, root).count() == 600)
      assert(VersionedTable.readVersion(spark, root, 1).count() == 500)
      assert(VersionedTable.elisionFooterProbes.get() == 0L,
        "a DV-free read must never probe a parquet footer for elision")
      for (side <- Seq("_dvc", "_purged")) {
        val n = CountingFileStore.totalUnder(CountingFileStore.reads, root,
          contains = side)
        assert(n == 0L, s"DV-free read issued $n $side metadata reads")
      }
    } finally {
      spark.conf.unset("spark.graft.logstore.file")
      LogStore.invalidateCustomStores()
    }
  }

  test("DV commits record footer totals in _dvc — the cold elision " +
    "resolve replays from text alone, zero footer probes") {
    val root = fresh("elide_totals")
    VersionedTable.write((1 to 1000).map(i =>
      (i.toLong, if (i % 4 == 0) "a" else "b")).toDF("id", "part"),
      root, partitionBy = Seq("part")) // v1
    VersionedTable.deleteWhereVector(spark, root, col("part") === "a") // v2
    // the sidecar carries file TAB masked TAB total
    val dvc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/v=2/_dvc")), "UTF-8")
    assert(dvc.linesIterator.filter(_.nonEmpty)
      .forall(_.split('\t').length == 3),
      s"_dvc lines must carry the commit-recorded footer total:\n$dvc")
    // cold resolve (all caches dropped): elision decides from the
    // sidecar text — not one footer read
    VersionedTable.invalidateSnapshots()
    VersionedTable.elisionFooterProbes.set(0L)
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 750)
    assert(!plannedDataFiles(root).exists(_.contains("part=a")))
    assert(VersionedTable.elisionFooterProbes.get() == 0L,
      "elision over a totals-bearing _dvc chain must not read footers")
  }

  test("a reclaimed file missing from a legacy (total-less) chain with " +
    "no _purged record elides instead of failing every read") {
    val root = fresh("elide_crash")
    VersionedTable.write((1 to 400).map(i =>
      (i.toLong, if (i % 4 == 0) "a" else "b")).toDF("id", "part"),
      root, partitionBy = Seq("part")) // v1
    VersionedTable.deleteWhereVector(spark, root, col("part") === "a") // v2
    // simulate a legacy chain (no totals) hit by a crashed pre-record
    // vacuum: strip the third _dvc field, delete the masked data files,
    // leave NO _purged record
    val dvcPath = java.nio.file.Paths.get(s"$root/v=2/_dvc")
    val legacy = new String(java.nio.file.Files.readAllBytes(dvcPath), "UTF-8")
      .linesIterator.filter(_.nonEmpty).map { l =>
        val p = l.split('\t'); s"${p.dropRight(1).mkString("\t")}"
      }.mkString("\n")
    java.nio.file.Files.write(dvcPath, legacy.getBytes("UTF-8"))
    val dead = new java.io.File(s"$root/v=1/part=a")
    dead.listFiles().filter(_.isFile).foreach(_.delete())
    VersionedTable.invalidateSnapshots()
    // the read survives: the missing candidate is treated as elided
    // (nothing it could serve is reachable), never a FileNotFound
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 300)
    assert(live.filter(col("part") === "a").count() == 0)
  }

  test("elision keeps an evolved column alive when its only files mask away") {
    val root = fresh("elide_evolve")
    VersionedTable.write((1 to 10).map(i => Tuple1(i.toLong)).toDF("id"), root) // v1
    VersionedTable.append((11 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "tag"),
      root, allowEvolution = true) // v2 carries the evolved column
    VersionedTable.deleteWhereVector(spark, root, col("id") > 10) // v3 masks ALL of v2
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.contains("tag"),
      "zero-row schema anchor must keep the evolved column")
    assert(live.count() == 10)
    assert(live.filter(col("tag").isNotNull).count() == 0)
  }
}
