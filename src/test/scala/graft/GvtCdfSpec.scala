package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.sources.VersionedTable

/** `spark.readStream.format("gvt-cdf")`: committed versions as streaming
  * offsets — per-commit changelog micro-batches, checkpointed resume,
  * append fast path, rewrite-commit key diffs, skipChangeCommits. */
class GvtCdfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("graft_gvtcdf").toString

  test("commits stream as changelog micro-batches with _commit_version") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 50).toDF("k").withColumn("status", lit("A")), root)
    VersionedTable.append((51 to 60).toDF("k").withColumn("status", lit("B")), root)
    val q = spark.readStream.format("gvt-cdf").option("keys", "k").load(root)
      .writeStream.format("memory").queryName("gvt_cdf_mem")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gvt_cdf_mem")
      // bootstrap commit: all-insert snapshot tagged v1; append tagged v2
      assert(got.filter(col("_commit_version") === 1).count() == 50)
      assert(got.filter(col("_commit_version") === 2).count() == 10)
      // the _commit_timestamp audit column carries each commit's wall clock
      assert(got.filter(col("_commit_timestamp").isNull).count() == 0)
      assert(got.select("_commit_version", "_commit_timestamp").distinct().count() == 2)
      assert(got.select("_change_type").distinct().as[String].collect().toSeq ==
        Seq("insert"))
      // commits landing while the stream runs arrive incrementally —
      // an append (fast path) and a keyed DELETE (diff path)
      VersionedTable.append((61 to 65).toDF("k").withColumn("status", lit("C")), root)
      VersionedTable.write(VersionedTable.readLatest(spark, root)
        .filter(!(col("k") === 1)), root)
      q.processAllAvailable()
      val all = spark.table("gvt_cdf_mem")
      assert(all.filter(col("_commit_version") === 3).count() == 5)
      val del = all.filter(col("_commit_version") === 4).collect()
      assert(del.length == 1 &&
        del.head.getAs[String]("_change_type") == "delete" &&
        del.head.getAs[Int]("k") == 1)
    } finally q.stop()
  }

  test("checkpointed restart resumes at the committed offset — exactly-once to a file sink") {
    val dir = freshDir()
    val root = s"$dir/t"
    val out = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    VersionedTable.write((1 to 30).toDF("k").withColumn("status", lit("A")), root)
    VersionedTable.append((31 to 40).toDF("k").withColumn("status", lit("B")), root)
    def startStream() = spark.readStream.format("gvt-cdf").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    // commits land while NO stream is running
    VersionedTable.append((41 to 45).toDF("k").withColumn("status", lit("C")), root)
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out)
    // every row delivered exactly once: 45 inserts, no replays
    assert(rows.count() == 45)
    assert(rows.select("k").distinct().count() == 45)
    assert(rows.groupBy("_commit_version").count()
      .as[(Long, Long)].collect().toMap == Map(1L -> 30L, 2L -> 10L, 3L -> 5L))
  }

  test("rewrite commits: fail loudly without keys, skipped with skipChangeCommits") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 20).toDF("k").withColumn("status", lit("A")), root)
    VersionedTable.write(VersionedTable.readLatest(spark, root)
      .filter(!(col("k") === 5)), root)                   // rewrite commit
    // no keys, no skip: the stream must fail rather than mis-emit
    val q = spark.readStream.format("gvt-cdf").load(root)
      .writeStream.format("memory").queryName("gvt_cdf_fail")
      .option("checkpointLocation", s"$dir/ckpt1").start()
    try {
      intercept[StreamingQueryException] { q.processAllAvailable() }
    } finally q.stop()
    // skipChangeCommits: the rewrite is ignored, bootstrap still flows
    val q2 = spark.readStream.format("gvt-cdf")
      .option("skipChangeCommits", "true").load(root)
      .writeStream.format("memory").queryName("gvt_cdf_skip")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      q2.processAllAvailable()
      // offset 0 bootstraps at the earliest retained commit (v1: all 20)
      // and v2 (the rewrite) is skipped
      val got = spark.table("gvt_cdf_skip")
      assert(got.filter(col("_commit_version") === 1).count() == 20)
      assert(got.filter(col("_commit_version") === 2).count() == 0)
    } finally q2.stop()
  }

  test("startingTimestamp: only commits at or after the timestamp are emitted") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 20).toDF("k"), root)
    Thread.sleep(10L)
    val ts = System.currentTimeMillis
    Thread.sleep(10L)
    VersionedTable.append((21 to 30).toDF("k"), root)
    val q = spark.readStream.format("gvt-cdf")
      .option("startingTimestamp", ts.toString).load(root)
      .writeStream.format("memory").queryName("gvt_cdf_ts")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gvt_cdf_ts")
      assert(got.count() == 10, s"only the post-timestamp commit should emit")
      assert(got.select("k").as[Int].collect().toSet == (21 to 30).toSet)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog then terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 30).toDF("k"), root)
    VersionedTable.append((31 to 40).toDF("k"), root)
    VersionedTable.append((41 to 45).toDF("k"), root)
    // rows mode: the table's rows stream; AvailableNow processes the
    // whole backlog and stops on its own (the batch-job-over-a-stream
    // pattern Delta users run for catch-up loads)
    // file sink: the memory sink cannot recover a checkpoint (NOTES),
    // and the restart half below is the point of the test
    val q = spark.readStream.format("gvt").load(root)
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt_av")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    assert(spark.read.parquet(s"$dir/out").count() == 45)
    // a later commit is NOT picked up (the query ended at the backlog)
    VersionedTable.append((46 to 50).toDF("k"), root)
    assert(spark.read.parquet(s"$dir/out").count() == 45)
    // restarting from the SAME checkpoint resumes past the drained
    // offsets and picks up only the new commit
    val q2 = spark.readStream.format("gvt").load(root)
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt_av")
      .trigger(Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000))
    assert(spark.read.parquet(s"$dir/out").count() == 50)
  }

  test("maxVersionsPerTrigger bounds the commits per micro-batch on a backlog") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 10).toDF("k"), root)
    VersionedTable.append((11 to 20).toDF("k"), root)
    VersionedTable.append((21 to 30).toDF("k"), root)
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("gvt-cdf")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, df.count())) }; ()
      }.start()
    try {
      q.processAllAvailable()
      val counts = batches.synchronized(batches.toSeq).map(_._2)
      // three pending commits, cap 1 → three separate micro-batches
      assert(counts == Seq(10L, 10L, 10L),
        s"backlog must drain one commit per trigger, got $counts")
    } finally q.stop()
  }

  test("readStream.format(gvt): appended ROWS stream (Delta stream-from-table)") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 20).toDF("k"), root)
    VersionedTable.append((21 to 30).toDF("k"), root)
    val q = spark.readStream.format("gvt").load(root)
      .writeStream.format("memory").queryName("gvt_rows_mem")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gvt_rows_mem")
      // plain table schema — no audit columns, just the rows
      assert(got.columns.toSeq == Seq("k"))
      assert(got.as[Int].collect().toSet == (1 to 30).toSet)
      // appends while running arrive; a rewrite commit fails the stream
      VersionedTable.append((31 to 35).toDF("k"), root)
      q.processAllAvailable()
      assert(spark.table("gvt_rows_mem").count() == 35)
      VersionedTable.write(VersionedTable.readLatest(spark, root)
        .filter(!(col("k") === 1)), root)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    // with ignoreChanges the rewrite is skipped and appends keep flowing
    val q2 = spark.readStream.format("gvt")
      .option("ignoreChanges", "true").load(root)
      .writeStream.format("memory").queryName("gvt_rows_mem2")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("gvt_rows_mem2").count() == 35) // bootstrap + skip
      VersionedTable.append((36 to 40).toDF("k"), root)
      q2.processAllAvailable()
      assert(spark.table("gvt_rows_mem2").count() == 40)
    } finally q2.stop()
  }

  test("compaction-family commits are stream-transparent in every mode " +
    "(Delta dataChange=false)") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 40).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "part"), root, partitionBy = Seq("part"))
    VersionedTable.append((41 to 60).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "part"), root)
    // rows mode WITHOUT skipChangeCommits: the scoped optimize must be
    // skipped, not fail the stream, and must not re-emit its rows
    val q = spark.readStream.format("gvt").load(root)
      .writeStream.format("memory").queryName("gvt_rows_opt")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gvt_rows_opt").count() == 60)
      VersionedTable.compactWhere(spark, root, col("part") === "a")
      VersionedTable.append(Seq((61, "b")).toDF("k", "part"), root)
      q.processAllAvailable()
      // the optimize emitted NOTHING; the append after it still flows
      assert(spark.table("gvt_rows_opt").count() == 61)
    } finally q.stop()
    // cdf mode: the optimize hop contributes no changelog rows either
    val q2 = spark.readStream.format("gvt-cdf").option("keys", "k").load(root)
      .writeStream.format("memory").queryName("gvt_cdf_opt")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("gvt_cdf_opt")
      assert(got.count() == 61) // bootstrap + post-optimize append only
      assert(got.select("_change_type").distinct().as[String]
        .collect().toSeq == Seq("insert"))
    } finally q2.stop()
  }

  test("a cdf stream crosses a column-mapped chain's renames: every hop " +
    "aligns to the stream's pinned schema") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 10).map(i => (i.toLong, i.toLong * 10))
      .toDF("k", "w"), root)                                         // v1
    VersionedTable.setTblProperties(root, Map("gvt.columnMapping" -> "name"))
    VersionedTable.renameColumn(spark, root, "w", "val2")            // v2
    VersionedTable.append((11 to 12).map(i => (i.toLong, i.toLong * 10))
      .toDF("k", "val2"), root)                                      // v3
    val q = spark.readStream.format("gvt-cdf").option("keys", "k").load(root)
      .writeStream.format("memory").queryName("gvt_cdf_cm")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gvt_cdf_cm")
      // the pinned schema is the LIVE (renamed) one
      assert(got.columns.contains("val2") && !got.columns.contains("w"))
      // the pre-rename bootstrap hop emits its values UNDER the renamed
      // name (physical identity), the rename hop emits nothing, the
      // post-rename append flows as usual
      assert(got.filter(col("_commit_version") === 1)
        .agg(sum("val2")).as[Long].head() == (1 to 10).map(_ * 10L).sum)
      assert(got.filter(col("_commit_version") === 2).count() == 0)
      assert(got.filter(col("_commit_version") === 3).count() == 2)
      // a rename landing WHILE the stream runs keeps rows flowing under
      // the pinned name
      VersionedTable.renameColumn(spark, root, "val2", "val3")       // v4
      VersionedTable.append(Seq((13L, 130L)).toDF("k", "val3"), root) // v5
      q.processAllAvailable()
      val all = spark.table("gvt_cdf_cm")
      assert(all.filter(col("_commit_version") === 5)
        .select("val2").as[Long].head() == 130L)
      assert(all.count() == 13)
    } finally q.stop()
  }

  test("vacuum past the stream checkpoint fails the source instead of re-emitting") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 10).toDF("k"), root)
    def startStream(name: String) = spark.readStream.format("gvt-cdf")
      .option("keys", "k").load(root)
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q1 = startStream("gvt_cdf_vac1")
    try q1.processAllAvailable() finally q1.stop()
    // two commits + vacuum drop everything below the new head: the
    // checkpointed offset (v1) is now behind the horizon
    VersionedTable.write((1 to 20).toDF("k"), root)
    VersionedTable.write((1 to 25).toDF("k"), root)
    VersionedTable.vacuum(root, keep = 1, orphanGraceMs = 0L, retainMinMs = 0L)
    val q2 = startStream("gvt_cdf_vac2")
    try {
      intercept[StreamingQueryException] { q2.processAllAvailable() }
    } finally q2.stop()
  }

  test("batch CDF via the readChangeFeed read option (Delta surface): " +
      "inclusive version range, DV deletes classified") {
    val root = s"${freshDir()}/t"
    VersionedTable.write((1 to 40).map(i => (i.toLong, i * 10L))
      .toDF("k", "v"), root)                                          // v1
    VersionedTable.append((41L to 50L).toDF("k")
      .withColumn("v", col("k") * 10L), root)                         // v2
    VersionedTable.deleteWhereVector(spark, root, col("k") <= 5L)     // v3
    val feed = spark.read.format("gvt")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "3")
      .option("keys", "k").load(root)
    val byType = feed.groupBy(col("_change_type"))
      .count().as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 10L, "delete" -> 5L), byType.toString)
    // startingVersion is INCLUSIVE (Delta contract): v1's bootstrap
    // inserts appear when the range starts at 1
    val all = spark.read.format("gvt").option("readChangeFeed", "true")
      .option("startingVersion", "1").option("keys", "k").load(root)
    assert(all.filter(col("_commit_version") === 1).count() == 40)
    assert(all.count() == 55)
    // startingVersion is required
    intercept[IllegalArgumentException] {
      spark.read.format("gvt").option("readChangeFeed", "true").load(root)
    }
    // timestamp boundaries: starting at v2's commit time covers v2+v3
    val ts2 = VersionedTable.history(spark, root)
      .filter(col("version") === 2L).select("commit_ts_millis")
      .as[Long].head()
    val byTs = spark.read.format("gvt").option("readChangeFeed", "true")
      .option("startingTimestamp", ts2.toString)
      .option("keys", "k").load(root)
    assert(byTs.select("_commit_version").distinct()
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("a KEYLESS cdf stream drains append + DELETE_DV + sidecar-bearing " +
    "UPDATE_DV commits without a keys option") {
    val dir = freshDir()
    val root = s"$dir/t"
    VersionedTable.write((1 to 30).map(i => (i.toLong, i * 10L))
      .toDF("k", "v"), root)                                          // v1
    VersionedTable.setTblProperties(root,
      Map("gvt.enableChangeDataFeed" -> "true"))
    VersionedTable.append((31L to 35L).toDF("k")
      .withColumn("v", col("k") * 10L), root)                         // v2
    VersionedTable.deleteWhereVector(spark, root, col("k") <= 3L)     // v3
    VersionedTable.updateWhereVector(spark, root, col("k") === 10L,
      Map("v" -> lit(42L)))                                           // v4
    val q = spark.readStream.format("gvt-cdf").load(root) // NO keys
      .writeStream.format("memory").queryName("gvt_cdf_keyless")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gvt_cdf_keyless")
      val byType = got.groupBy("_change_type").count()
        .as[(String, Long)].collect().toMap
      assert(byType == Map("insert" -> 35L, "delete" -> 3L,
        "update_preimage" -> 1L, "update_postimage" -> 1L), byType.toString)
      assert(got.filter(col("_change_type") === "update_postimage")
        .select("v").as[Long].head() == 42L)
    } finally q.stop()
  }

  test("KEYLESS CDF: appends and DELETE_DV derive without keys; the " +
    "gvt.enableChangeDataFeed sidecar serves UPDATE_DV and MERGE " +
    "rewrites; sidecar-less rewrites refuse with the property hint") {
    val root = s"${freshDir()}/t"
    VersionedTable.write((1 to 40).map(i => (i.toLong, i * 10L))
      .toDF("k", "v"), root)                                          // v1
    VersionedTable.append((41L to 50L).toDF("k")
      .withColumn("v", col("k") * 10L), root)                         // v2
    VersionedTable.deleteWhereVector(spark, root, col("k") <= 5L)     // v3
    // sidecar-less UPDATE_DV: keyless refuses loudly, keyed still works
    VersionedTable.updateWhereVector(spark, root, col("k") === 10L,
      Map("v" -> lit(777L)))                                          // v4
    // append hop, keyless
    assert(VersionedTable.changes(spark, root, 1L, 2L)
      .filter(col("_change_type") === "insert").count() == 10)
    // DELETE_DV hop, keyless, no sidecar needed (no pairing involved)
    val del = VersionedTable.changes(spark, root, 2L, 3L)
    assert(del.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap == Map("delete" -> 5L))
    val e = intercept[UnsupportedOperationException] {
      VersionedTable.changes(spark, root, 3L, 4L).collect()
    }
    assert(e.getMessage.contains("gvt.enableChangeDataFeed"))
    assert(VersionedTable.changes(spark, root, 3L, 4L, Seq("k")).count() == 2)
    // property ON: UPDATE_DV and MERGE capture sidecars at commit
    VersionedTable.setTblProperties(root,
      Map("gvt.enableChangeDataFeed" -> "true"))
    VersionedTable.updateWhereVector(spark, root, col("k") === 20L,
      Map("v" -> lit(888L)))                                          // v5
    val up = VersionedTable.changes(spark, root, 4L, 5L)
      .as[(Long, Long, String)].collect().toSet
    assert(up == Set((20L, 200L, "update_preimage"),
      (20L, 888L, "update_postimage")), up.toString)
    VersionedTable.merge(spark, root,
      Seq((20L, 999L), (100L, 1000L)).toDF("k", "v"), Seq("k"))       // v6
    val mg = VersionedTable.changes(spark, root, 5L, 6L)
      .as[(Long, Long, String)].collect().toSet
    assert(mg == Set((20L, 888L, "update_preimage"),
      (20L, 999L, "update_postimage"), (100L, 1000L, "insert")), mg.toString)
    // the keyless TVF (Delta's 3-argument signature) serves the same hop
    GraftSession.withExtensions(spark) { sess =>
      val tvf = sess.sql(
        s"SELECT k, v, _change_type FROM table_changes('$root', 5, 6)")
        .as[(Long, Long, String)].collect().toSet
      assert(tvf == mg, tvf.toString)
    }
    // keyed and keyless agree on the sidecar-bearing hop
    assert(VersionedTable.changes(spark, root, 5L, 6L, Seq("k"))
      .as[(Long, Long, String)].collect().toSet == mg)
  }

  test("CDF backfill: enabling gvt.enableChangeDataFeed via ALTER TABLE " +
    "materializes sidecars for PRE-EXISTING UPDATE_DV commits — keyless " +
    "table_changes then serves the full history") {
    val root = s"${freshDir()}/t"
    VersionedTable.write((1 to 30).map(i => (i.toLong, i * 10L))
      .toDF("k", "v"), root)                                          // v1
    VersionedTable.updateWhereVector(spark, root, col("k") === 3L,
      Map("v" -> lit(111L)))                                          // v2 (no sidecar)
    VersionedTable.updateWhereVector(spark, root, col("k") === 7L,
      Map("v" -> lit(222L)))                                          // v3 (no sidecar)
    // before enablement: keyless refuses the sidecar-less hops
    intercept[UnsupportedOperationException] {
      VersionedTable.changes(spark, root, 1L, 2L).collect()
    }
    // ALTER … SET TBLPROPERTIES backfills history (Delta can't)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES " +
        "('gvt.enableChangeDataFeed' = 'true')")
    }
    val h1 = VersionedTable.changes(spark, root, 1L, 2L)
      .as[(Long, Long, String)].collect().toSet
    assert(h1 == Set((3L, 30L, "update_preimage"),
      (3L, 111L, "update_postimage")), h1.toString)
    val h2 = VersionedTable.changes(spark, root, 2L, 3L)
      .as[(Long, Long, String)].collect().toSet
    assert(h2 == Set((7L, 70L, "update_preimage"),
      (7L, 222L, "update_postimage")), h2.toString)
    // backfilled history must equal a keyed diff of the same hops
    assert(VersionedTable.changes(spark, root, 1L, 2L, Seq("k"))
      .as[(Long, Long, String)].collect().toSet == h1)
    // idempotent: a second backfill touches nothing
    assert(VersionedTable.backfillChangeFeed(spark, root).isEmpty)
    // and future DML captures its sidecar at commit as before
    VersionedTable.updateWhereVector(spark, root, col("k") === 9L,
      Map("v" -> lit(333L)))                                          // v4
    assert(VersionedTable.changes(spark, root, 3L, 4L)
      .as[(Long, Long, String)].collect().toSet ==
      Set((9L, 90L, "update_preimage"), (9L, 333L, "update_postimage")))
  }
}
