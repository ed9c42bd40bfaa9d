package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("versioned overwrite keeps snapshots readable (time travel) and flips latest atomically") {
    val root = Files.createTempDirectory("graft_vt").toString
    val v1 = VersionedTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), root)
    val v2 = VersionedTable.write(Seq((3, "c")).toDF("id", "s"), root)
    assert(v1 == 1 && v2 == 2)
    assert(VersionedTable.readLatest(spark, root).count() == 1)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 2) // time travel
    assert(VersionedTable.versions(root) == Seq(1L, 2L))
  }

  test("schema enforcement: type change always rejected; add column gated by allowEvolution") {
    val root = Files.createTempDirectory("graft_vt2").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root)
    // type change id: int -> string
    intercept[IllegalArgumentException] {
      VersionedTable.write(Seq(("x", "a")).toDF("id", "s"), root)
    }
    // added column rejected by default (like overwriteSchema=false)...
    intercept[IllegalArgumentException] {
      VersionedTable.write(Seq((1, "a", 0.5)).toDF("id", "s", "score"), root)
    }
    // ...but accepted with allowEvolution (overwriteSchema=true analogue)
    val v = VersionedTable.write(Seq((1, "a", 0.5)).toDF("id", "s", "score"),
      root, allowEvolution = true)
    assert(v == 2 && VersionedTable.readLatest(spark, root).columns.contains("score"))
  }

  test("merge upserts by key into a new version; old snapshot still readable") {
    val root = Files.createTempDirectory("graft_vt_merge").toString
    VersionedTable.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"), root)
    val v2 = VersionedTable.merge(spark, root,
      Seq((2, "B"), (4, "d")).toDF("id", "s"), Seq("id"))
    assert(v2 == 2)
    val latest = VersionedTable.readLatest(spark, root)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(latest == Map(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d")) // update + insert + passthrough
    assert(VersionedTable.readVersion(spark, root, 1).count() == 3) // time travel unchanged
  }

  test("explicit file: URI root works end-to-end through the Hadoop FS API") {
    val root = "file:" + Files.createTempDirectory("graft_vt_uri").toString
    val v1 = VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root)
    val v2 = VersionedTable.merge(spark, root, Seq((2, "b")).toDF("id", "s"), Seq("id"))
    assert(v1 == 1 && v2 == 2)
    assert(VersionedTable.latestVersion(root).contains(2L))
    assert(VersionedTable.readLatest(spark, root).count() == 2)
    assert(VersionedTable.versions(root) == Seq(1L, 2L))
  }

  test("a stale claim from a crashed writer skips its number, write still commits") {
    val root = Files.createTempDirectory("graft_vt_claim").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root) // v1
    // simulate a crashed writer holding the claim for v2 (claim file
    // present, no data directory, no commit)
    Files.createFile(java.nio.file.Paths.get(root, "_claim_v=2"))
    val v = VersionedTable.write(Seq((2, "b")).toDF("id", "s"), root)
    assert(v == 3L) // skipped the held slot
    assert(VersionedTable.latestVersion(root).contains(3L))
    assert(VersionedTable.versions(root) == Seq(1L, 3L)) // gap is harmless
    assert(VersionedTable.readLatest(spark, root).count() == 1)
  }

  test("two interleaved writers: first commit wins, loser raises ConcurrentWriteException") {
    val root = Files.createTempDirectory("graft_vt_occ").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root) // v1
    // both writers base their data on v1; A commits first
    val base = VersionedTable.latestVersion(root)
    VersionedTable.write(Seq((2, "by-A")).toDF("id", "s"), root, baseVersion = base)
    val e = intercept[VersionedTable.ConcurrentWriteException] {
      VersionedTable.write(Seq((3, "by-B")).toDF("id", "s"), root, baseVersion = base)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // winner's snapshot is live; loser's orphan directory was removed
    assert(VersionedTable.readLatest(spark, root)
      .collect().map(_.getString(1)).toSeq == Seq("by-A"))
    assert(VersionedTable.versions(root) == Seq(1L, 2L))
    assert(!new java.io.File(s"$root/_claim_v=3").exists())
  }

  test("merge retries past a concurrent commit and keeps both writers' rows") {
    val root = Files.createTempDirectory("graft_vt_occ_merge").toString
    VersionedTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), root) // v1
    // two merges race on the same table: whichever loses the commit must
    // detect the conflict, re-read the winner's snapshot and re-apply —
    // a blind re-commit would lose the winner's row
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      Seq((2, "B2")).toDF("id", "s") -> Seq("id"),
      Seq((3, "c")).toDF("id", "s") -> Seq("id")
    ).map { case (updates, keys) =>
      new Thread(() => {
        try VersionedTable.merge(spark, root, updates, keys)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"merge threads failed: $errs")
    val latest = VersionedTable.readLatest(spark, root)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(latest == Map(1 -> "a", 2 -> "B2", 3 -> "c"))
    assert(VersionedTable.versions(root).size == 3) // v1 + one per merge
  }

  test("restore re-commits an old snapshot as a new version; timestamp travel finds it") {
    val root = Files.createTempDirectory("graft_vt_restore").toString
    VersionedTable.write(Seq((1, "good")).toDF("id", "s"), root)   // v1
    val afterV1 = System.currentTimeMillis
    Thread.sleep(5)
    VersionedTable.write(Seq((2, "bad"), (3, "bad")).toDF("id", "s"), root) // v2
    val v3 = VersionedTable.restore(spark, root, 1L)
    assert(v3 == 3L)
    assert(VersionedTable.readLatest(spark, root)
      .as[(Int, String)].collect().toSeq == Seq((1, "good")))
    assert(VersionedTable.readVersion(spark, root, 2L).count() == 2) // history kept
    // timestamp travel: as-of a moment after v1 committed → v1's content
    assert(VersionedTable.readAsOf(spark, root, afterV1)
      .as[(Int, String)].collect().toSeq == Seq((1, "good")))
    intercept[IllegalArgumentException] { // before any commit
      VersionedTable.readAsOf(spark, root, 0L)
    }
    // restore across schema evolution drops the later column
    VersionedTable.write(Seq((1, "good", 0.5)).toDF("id", "s", "score"),
      root, allowEvolution = true)
    val v5 = VersionedTable.restore(spark, root, 1L)
    assert(v5 == 5L &&
      !VersionedTable.readLatest(spark, root).columns.contains("score"))
  }

  test("crash-orphaned version directories never surface in time travel or history") {
    val root = Files.createTempDirectory("graft_vt_orphan").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root) // v1
    VersionedTable.write(Seq((2, "b")).toDF("id", "s"), root) // v2
    // simulate a writer that crashed after its data write but BEFORE its
    // pointer flip (the JVM cleanup never ran): data + pre-flip meta
    // present, never committed
    Seq((9, "poison")).toDF("id", "s").write.parquet(s"$root/v=3")
    Files.writeString(java.nio.file.Paths.get(s"$root/v=3/_commit_ts"),
      System.currentTimeMillis.toString)
    assert(VersionedTable.latestVersion(root).contains(2L))
    assert(VersionedTable.committedVersions(root) == Seq(1L, 2L))
    // timestamp travel "now" must serve v2, never the orphan
    assert(VersionedTable.readAsOf(spark, root, System.currentTimeMillis + 1000)
      .as[(Int, String)].collect().toSeq == Seq((2, "b")))
    assert(VersionedTable.history(spark, root)
      .select(col("version")).as[Long].collect().toSeq == Seq(2L, 1L))
    // the next writer skips the orphan's number; the chain stays clean
    val v4 = VersionedTable.write(Seq((4, "d")).toDF("id", "s"), root)
    assert(v4 == 4L)
    assert(VersionedTable.committedVersions(root) == Seq(1L, 2L, 4L))
  }

  test("history lists versions newest-first with their operations and timestamps") {
    val root = Files.createTempDirectory("graft_vt_hist").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root)
    VersionedTable.merge(spark, root, Seq((2, "b")).toDF("id", "s"), Seq("id"))
    VersionedTable.compact(spark, root)
    VersionedTable.restore(spark, root, 1L)
    val h = VersionedTable.history(spark, root)
      .select("version", "commit_ts_millis", "operation")
      .as[(Long, Option[Long], String)].collect().toSeq
    assert(h.map(_._1) == Seq(4L, 3L, 2L, 1L))
    assert(h.map(_._3) == Seq("RESTORE(v=1)", "COMPACT", "MERGE", "WRITE"))
    assert(h.forall(_._2.exists(_ > 0)))
    // timestamps are monotone non-decreasing along the commit order
    val ts = h.reverse.map(_._2.get)
    assert(ts == ts.sorted)
  }

  test("changes() roundtrip: applying the feed to v1 reconstructs v2 (random tables)") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val root = Files.createTempDirectory(s"graft_vt_cdf_prop$trial").toString
      def randTable() = (0 to 30).flatMap { k =>
        if (rng.nextBoolean()) Some((k, rng.nextInt(3).toString, rng.nextInt(5))) else None
      }
      val v1rows = randTable(); val v2rows = randTable()
      VersionedTable.write(v1rows.toDF("id", "s", "x"), root)
      VersionedTable.write(v2rows.toDF("id", "s", "x"), root)
      val ch = VersionedTable.changes(spark, root, 1L, 2L, Seq("id"))
        .as[(Int, String, Int, String)].collect().toSeq
      val removedKeys = ch.collect {
        case (k, _, _, "delete") => k
        case (k, _, _, "update_preimage") => k
      }.toSet
      val addedRows = ch.collect {
        case (k, s, x, "insert") => (k, s, x)
        case (k, s, x, "update_postimage") => (k, s, x)
      }
      val reconstructed =
        (v1rows.filterNot(r => removedKeys(r._1)) ++ addedRows).sorted
      assert(reconstructed == v2rows.sorted, s"trial $trial")
    }
  }

  test("changes(): insert/delete/update classification, unchanged rows dropped") {
    val root = Files.createTempDirectory("graft_vt_cdf").toString
    VersionedTable.write(
      Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "s", "x"), root)
    VersionedTable.write( // 1 unchanged, 2 updated, 3 deleted, 4 inserted
      Seq((1, "a", 10), (2, "B", 21), (4, "d", 40)).toDF("id", "s", "x"), root)
    val ch = VersionedTable.changes(spark, root, 1L, 2L, Seq("id"))
      .orderBy(col("id"), col("_change_type"))
      .as[(Int, String, Int, String)].collect().toSeq
    assert(ch == Seq(
      (2, "B", 21, "update_postimage"), (2, "b", 20, "update_preimage"),
      (3, "c", 30, "delete"), (4, "d", 40, "insert")))
  }

  test("changes() across schema evolution: the added column reads NULL in v1 rows") {
    val root = Files.createTempDirectory("graft_vt_cdf_evo").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root)
    VersionedTable.write(Seq((1, "a", 0.5)).toDF("id", "s", "score"), root,
      allowEvolution = true)
    val ch = VersionedTable.changes(spark, root, 1L, 2L, Seq("id"))
      .orderBy(col("_change_type"))
      .as[(Int, String, Option[Double], String)].collect().toSeq
    assert(ch == Seq((1, "a", Some(0.5), "update_postimage"),
      (1, "a", None, "update_preimage")))
  }

  test("compact rewrites a fragmented snapshot into few files with identical content") {
    val root = Files.createTempDirectory("graft_vt_compact").toString
    // fragment: 16-partition write → 16 small files
    VersionedTable.write(spark.range(1000L).repartition(16).toDF(), root)
    def parquetFiles(v: Long) =
      new java.io.File(s"$root/v=$v").listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(1) == 16)
    val v2 = VersionedTable.compact(spark, root, targetFileBytes = 1L << 30)
    assert(v2 == 2 && parquetFiles(2) == 1) // well under one target file
    assert(VersionedTable.readLatest(spark, root).agg(sum(col("id"))).head.getLong(0)
      == 499500L) // content identical
  }

  test("compact preserves a partitioned snapshot's directory layout") {
    val root = Files.createTempDirectory("graft_vt_compact_p").toString
    val df = spark.range(100L)
      .select(col("id"), (col("id") % 2).cast("int").as("part"))
      .repartition(8)
    VersionedTable.write(df.toDF(), root, partitionBy = Seq("part"))
    val v2 = VersionedTable.compact(spark, root, targetFileBytes = 1L << 30)
    val dirs = new java.io.File(s"$root/v=$v2").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("part=0", "part=1"), s"layout flattened: $dirs")
    assert(VersionedTable.readLatest(spark, root).count() == 100L)
  }

  test("vacuum retains the newest snapshots and never the live pointer") {
    val root = Files.createTempDirectory("graft_vt3").toString
    (1 to 4).foreach(i => VersionedTable.write(Seq(i).toDF("v"), root))
    val dropped = VersionedTable.vacuum(root, keep = 2, retainMinMs = 0L)
    assert(dropped == Seq(1L, 2L))
    assert(VersionedTable.versions(root) == Seq(3L, 4L))
    assert(VersionedTable.readLatest(spark, root).as[Int].head() == 4)
  }

  // ── Cross-driver commit arbitration (filesystem put-if-absent) ──────

  test("two racing writers on the same base: filesystem marker arbitrates, no lock") {
    val root = Files.createTempDirectory("graft_vt_race").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root) // v1
    val base = VersionedTable.latestVersion(root)
    // both writers base on v1 and race the commit concurrently — nothing
    // JVM-scoped serializes them anymore (the old per-root lock is gone),
    // so this is exactly the two-driver interleaving, arbitrated solely
    // by the create-no-overwrite commit marker
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq("A", "B").map { who =>
      new Thread(() => {
        start.await()
        try results.put(who, Right(VersionedTable.write(
          Seq((2, s"by-$who")).toDF("id", "s"), root, baseVersion = base)))
        catch { case e: Throwable => results.put(who, Left(e)) }
      })
    }
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
    val (winners, losers) = results.values().toArray.toSeq
      .map(_.asInstanceOf[Either[Throwable, Long]]).partition(_.isRight)
    assert(winners.size == 1, s"expected exactly one winner: $results")
    assert(losers.forall {
      case Left(e) => e.isInstanceOf[VersionedTable.ConcurrentWriteException]
      case _ => false
    }, s"loser must raise ConcurrentWriteException: $results")
    val winV = winners.head.toOption.get
    assert(VersionedTable.committedVersions(root) == Seq(1L, winV)) // linear, no lost commit
    assert(VersionedTable.readLatest(spark, root).count() == 1)
    // the loser's orphan directory was removed
    assert(VersionedTable.versions(root) == Seq(1L, winV))
  }

  test("a second driver's commit is durable at marker creation: stale _LATEST heals forward") {
    val root = Files.createTempDirectory("graft_vt_xdrv").toString
    VersionedTable.write(Seq((1, "a")).toDF("id", "s"), root) // v1
    VersionedTable.write(Seq((2, "b")).toDF("id", "s"), root) // v2
    // simulate a SEPARATE driver process that claimed v3, wrote its data
    // and chain metadata, won the commit marker — and crashed before
    // refreshing the _LATEST hint. All files written with raw java.nio,
    // not the library's FileContext client.
    Seq((3, "by-driver-2")).toDF("id", "s").write.parquet(s"$root/v=3")
    val p = (n: String) => java.nio.file.Paths.get(root, n)
    Files.writeString(p("v=3/_prev"), "2")
    Files.writeString(p("v=3/_commit_ts"), System.currentTimeMillis.toString)
    Files.writeString(p("v=3/_operation"), "WRITE")
    Files.createDirectories(p("_commits"))
    Files.writeString(p("_commits/after=2"), "3")
    // _LATEST still says 2 — readers must heal forward through the marker
    assert(Files.readString(p("_LATEST")).trim == "2")
    assert(VersionedTable.latestVersion(root).contains(3L))
    assert(VersionedTable.committedVersions(root) == Seq(1L, 2L, 3L))
    assert(VersionedTable.readLatest(spark, root)
      .collect().map(_.getString(1)).toSeq == Seq("by-driver-2"))
    // a local writer that read the stale hint and based on v2 must LOSE
    val e = intercept[VersionedTable.ConcurrentWriteException] {
      VersionedTable.write(Seq((9, "stale")).toDF("id", "s"), root,
        baseVersion = Some(2L))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // and a fresh writer bases on the healed latest and extends the chain
    val v4 = VersionedTable.write(Seq((4, "d")).toDF("id", "s"), root)
    assert(v4 == 4L)
    assert(VersionedTable.committedVersions(root) == Seq(1L, 2L, 3L, 4L))
  }

  // ── Committed-chain checkpoint ──────────────────────────────────────

  test("checkpoint bounds metadata reads; chain identical with and without it") {
    val root = Files.createTempDirectory("graft_vt_ckpt").toString
    (1 to 25).foreach(i => VersionedTable.write(Seq(i).toDF("v"), root))
    // periodic checkpoint landed (interval 10) → _checkpoint covers v<=20
    assert(new java.io.File(s"$root/_checkpoint").exists())
    val withCp = VersionedTable.committedChain(root)
    val pureWalk = VersionedTable.committedChain(root, useCheckpoint = false)
    assert(withCp == pureWalk)
    assert(withCp.map(_.version) == (1L to 25L))
    assert(VersionedTable.history(spark, root)
      .select(col("version")).as[Long].collect().toSeq == (1L to 25L).reverse)
    // bounded reads: checkpoint (1) + tail 21..25 (3 reads each) + hint
    // resolution — far under the 77 reads of the full walk. A cached
    // snapshot serves the chain with no walk at all, so the checkpointed
    // read runs cold (snapshots dropped); the pure walk ignores the
    // checkpoint and every cached chain
    VersionedTable.invalidateSnapshots()
    VersionedTable.metaReads.set(0L)
    VersionedTable.committedVersions(root)
    val bounded = VersionedTable.metaReads.get()
    VersionedTable.metaReads.set(0L)
    VersionedTable.committedChain(root, useCheckpoint = false)
    val full = VersionedTable.metaReads.get()
    assert(bounded <= 30, s"checkpointed chain read cost $bounded metadata reads")
    assert(bounded < full, s"checkpoint ($bounded reads) must beat the walk ($full)")
    // and the memo beats both: a warm repeat pays only live-pointer
    // resolution
    VersionedTable.metaReads.set(0L)
    VersionedTable.committedVersions(root)
    assert(VersionedTable.metaReads.get() <= 4)
  }

  test("chain memo: a repeated chain read costs O(1) metadata reads, " +
    "a new commit refreshes it, vacuum invalidates it") {
    val root = Files.createTempDirectory("graft_vt_chmemo").toString
    (1 to 6).foreach(i => VersionedTable.write(Seq(i).toDF("v"), root))
    val chain1 = VersionedTable.committedChain(root)
    VersionedTable.metaReads.set(0L)
    val chain2 = VersionedTable.committedChain(root)
    val hit = VersionedTable.metaReads.get()
    assert(chain2 == chain1)
    // hit cost: the live-pointer resolution (hint + marker miss) only —
    // never the 3-reads-per-version walk
    assert(hit <= 4, s"chain memo hit cost $hit metadata reads")
    // a new commit moves the tip: the next read walks the new hop and
    // serves the extended chain
    VersionedTable.write(Seq(7).toDF("v"), root)
    assert(VersionedTable.committedVersions(root) == (1L to 7L))
    // vacuum (history surgery under an unchanged tip) invalidates: the
    // served chain reflects the dropped versions immediately
    VersionedTable.vacuum(root, keep = 2, orphanGraceMs = 0L, retainMinMs = 0L)
    assert(VersionedTable.committedVersions(root) == Seq(6L, 7L))
  }

  test("vacuum retains committed snapshots only and GCs aged orphans") {
    val root = Files.createTempDirectory("graft_vt_vac2").toString
    (1 to 4).foreach(i => VersionedTable.write(Seq(i).toDF("v"), root)) // v1..v4
    // crash-orphaned directory with the NEWEST number — must not occupy
    // a keep slot, and must be GC'd once older than the grace period
    Seq(99).toDF("v").write.parquet(s"$root/v=9")
    val dropped = VersionedTable.vacuum(root, keep = 2, orphanGraceMs = 0L, retainMinMs = 0L)
    assert(dropped == Seq(1L, 2L, 9L)) // committed beyond keep + aged orphan
    assert(VersionedTable.versions(root) == Seq(3L, 4L)) // two COMMITTED kept
    assert(VersionedTable.committedVersions(root) == Seq(3L, 4L))
    assert(VersionedTable.readLatest(spark, root).as[Int].head() == 4)
    // an orphan younger than the grace period survives (in-flight writer)
    Seq(100).toDF("v").write.parquet(s"$root/v=10")
    val dropped2 = VersionedTable.vacuum(root, keep = 2, retainMinMs = 0L)
    assert(dropped2.isEmpty)
    assert(VersionedTable.versions(root) == Seq(3L, 4L, 10L))
  }

  test("append commits are O(batch): tip dir holds only the delta, readers union the chain") {
    val root = Files.createTempDirectory("graft_vt_app").toString
    VersionedTable.write((1 to 100).toDF("id"), root)              // v1 full
    VersionedTable.append((101 to 110).toDF("id"), root)           // v2 = +10 rows
    VersionedTable.append((111 to 115).toDF("id"), root)           // v3 = +5 rows
    // physical: the tip version directory holds ONLY its batch
    assert(spark.read.parquet(s"$root/v=3").count() == 5)
    // logical: snapshots are the chain unions; time travel still works
    assert(VersionedTable.readLatest(spark, root).as[Int].collect().toSet ==
      (1 to 115).toSet)
    assert(VersionedTable.readVersion(spark, root, 2).count() == 110)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 100)
    // CDF sees appends as inserts
    val feed = VersionedTable.changes(spark, root, 2, 3, Seq("id"))
    assert(feed.count() == 5 &&
      feed.select("_change_type").distinct().as[String].head() == "insert")
    // appends never evolve the schema
    intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((1, "x")).toDF("id", "s"), root)
    }
    // history records the operation
    assert(VersionedTable.history(spark, root).select("operation")
      .as[String].collect().count(_ == "APPEND") == 2)
  }

  test("vacuum keeps append ancestors; compact folds the chain so they can drop") {
    val root = Files.createTempDirectory("graft_vt_app2").toString
    VersionedTable.write((1 to 50).toDF("id"), root)                // v1 full
    VersionedTable.append((51 to 60).toDF("id"), root)              // v2
    VersionedTable.append((61 to 70).toDF("id"), root)              // v3
    // keep=1 retains v3 — but v3's rows live in v1/v2: they must survive
    assert(VersionedTable.vacuum(root, keep = 1, orphanGraceMs = 0L, retainMinMs = 0L).isEmpty)
    assert(VersionedTable.readLatest(spark, root).count() == 70)
    // compaction folds the chain into one full snapshot (no _parent)...
    val v4 = VersionedTable.compact(spark, root, targetFileBytes = 1L << 30)
    assert(spark.read.parquet(s"$root/v=$v4").count() == 70)
    assert(VersionedTable.readMeta(root, v4, "_parent").isEmpty)
    // ...after which retention can reclaim the whole chain
    assert(VersionedTable.vacuum(root, keep = 1, orphanGraceMs = 0L, retainMinMs = 0L) ==
      Seq(1L, 2L, 3L))
    assert(VersionedTable.readLatest(spark, root).count() == 70)
  }

  test("CHECK constraints gate every write path; NULL passes; add validates live data") {
    val root = Files.createTempDirectory("graft_vt_check").toString
    VersionedTable.write(Seq((1, Some(10.0)), (2, None)).toDF("id", "price"), root)
    // adding a constraint the live snapshot violates is rejected
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.addCheckConstraint(spark, root, "big", "price > 100")
    }
    assert(VersionedTable.constraints(root).isEmpty)
    // NULL passes (SQL CHECK semantics): row (2, None) is fine
    VersionedTable.addCheckConstraint(spark, root, "pos", "price > 0")
    assert(VersionedTable.constraints(root) == Map("pos" -> "price > 0"))
    // violating write rejected, no version claimed or committed
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.write(Seq((3, Some(-1.0))).toDF("id", "price"), root)
    }
    assert(VersionedTable.committedVersions(root) == Seq(1L))
    // violating MERGE rejected through the same gate
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.merge(spark, root,
        Seq((1, Some(-5.0))).toDF("id", "price"), Seq("id"))
    }
    // valid write (with a NULL) passes; constraint persists across commits
    val v2 = VersionedTable.write(
      Seq((3, Some(2.0)), (4, None)).toDF("id", "price"), root)
    assert(v2 == 2L)
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.write(Seq((5, Some(0.0))).toDF("id", "price"), root)
    }
    // dropped constraint stops gating
    VersionedTable.dropCheckConstraint(root, "pos")
    assert(VersionedTable.write(Seq((5, Some(0.0))).toDF("id", "price"), root) == 3L)
  }

  test("generated columns: computed when absent, validated when supplied") {
    val root = Files.createTempDirectory("graft_vt_gen").toString
    VersionedTable.write(Seq((1, 10.0), (2, 20.0)).toDF("id", "price"), root)
    VersionedTable.addGeneratedColumn(spark, root, "price_band", "floor(price / 10)")
    // absent column materializes on the next write (schema evolves)
    VersionedTable.write(Seq((1, 10.0), (2, 25.0)).toDF("id", "price"), root,
      allowEvolution = true)
    assert(VersionedTable.readLatest(spark, root)
      .select("id", "price_band").as[(Int, Long)].collect().toSet ==
      Set((1, 1L), (2, 2L)))
    // supplied-and-consistent passes; supplied-and-wrong is rejected
    VersionedTable.write(
      Seq((1, 10.0, 1L), (3, 33.0, 3L)).toDF("id", "price", "price_band"), root)
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.write(
        Seq((1, 10.0, 7L)).toDF("id", "price", "price_band"), root)
    }
    // registering a definition the live data disagrees with is rejected
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.addGeneratedColumn(spark, root, "price_band", "floor(price)")
    }
    // a MERGE changeset may omit the generated column — computed up front
    VersionedTable.merge(spark, root,
      Seq((1, 44.0), (9, 99.0)).toDF("id", "price"), Seq("id"))
    assert(VersionedTable.readLatest(spark, root)
      .filter($"id".isin(1, 9)).select("id", "price_band")
      .as[(Int, Long)].collect().toSet == Set((1, 4L), (9, 9L)))
  }

  test("compact(zorderBy) z-orders the rewrite: skipping works on both keys, rows unchanged") {
    val root = Files.createTempDirectory("graft_vt_zc").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    // accrete 16 single-file commits (the small-file problem OPTIMIZE fixes)
    VersionedTable.write(li.repartition(16), root)
    val v = VersionedTable.compact(spark, root,
      targetFileBytes = 8L * 1024, zorderBy = Seq("l_orderkey", "l_partkey"))
    assert(VersionedTable.readVersion(spark, root, v).count() == li.count())
    assert(VersionedTable.history(spark, root).select("operation")
      .as[String].collect().exists(_.startsWith("COMPACT(zorder=")))
    val files = VersionedTable.readVersion(spark, root, v).inputFiles.length
    assert(files > 4, s"need a multi-file layout to demonstrate skipping, got $files")
    // zone maps collected during compaction prune on EITHER key
    val bounds = li.agg(min("l_partkey"), max("l_partkey")).head
    val (bmin, bmax) = (bounds.getLong(0), bounds.getLong(1))
    val lo = bmin + (bmax - bmin) / 2.0
    val hi = lo + (bmax - bmin) / 16.0
    val pruned = VersionedTable.readPruned(spark, root, "l_partkey", lo, hi)
    assert(pruned.inputFiles.length < files,
      s"z-ordered compaction must skip files on the second key: " +
        s"${pruned.inputFiles.length} of $files read")
    // pruning is result-invisible
    assert(pruned.count() ==
      li.filter(col("l_partkey") >= lo && col("l_partkey") <= hi).count())
  }

  // ── Round 9: append-aware CDF, partitioned chains, retention guard ──

  test("changes() APPEND fast path: single scan of the batch dirs, no snapshot join") {
    val root = Files.createTempDirectory("graft_vt_cdffast").toString
    VersionedTable.write((1 to 100).toDF("id"), root)     // v1 full
    VersionedTable.append((101 to 110).toDF("id"), root)  // v2
    VersionedTable.append((111 to 115).toDF("id"), root)  // v3
    val feed = VersionedTable.changes(spark, root, 1L, 3L, Seq("id"))
    // plan contract: the delta is the two batch dirs — NO join anywhere
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"append fast path must not diff snapshots:\n$plan")
    // content: exactly the appended rows, all inserts
    assert(feed.filter(col("_change_type") === "insert").count() == 15)
    assert(feed.select("id").as[Int].collect().toSet == (101 to 115).toSet)
    // the fast-path scan must read ONLY the batch dirs, never the base
    assert(feed.inputFiles.forall(f => f.contains("/v=2/") || f.contains("/v=3/")),
      s"fast path scanned base files: ${feed.inputFiles.mkString(",")}")
    // a rewrite commit breaks the chain: falls back to the diff join
    VersionedTable.write(VersionedTable.readLatest(spark, root)
      .filter(!(col("id") === 1)), root)                  // v4 full rewrite
    val slow = VersionedTable.changes(spark, root, 3L, 4L, Seq("id"))
    assert(slow.queryExecution.executedPlan.toString.toLowerCase.contains("join"))
    assert(slow.select("_change_type").as[String].collect().toSeq == Seq("delete"))
  }

  test("partitioned append chain: batches follow the base layout, pruning works") {
    val root = Files.createTempDirectory("graft_vt_partapp").toString
    val mk = (r: Range) => r.toDF("id")
      .withColumn("part", (col("id") % 2).cast("int"))
    VersionedTable.write(mk(1 to 40), root, partitionBy = Seq("part")) // v1
    VersionedTable.append(mk(41 to 60), root)                          // v2
    VersionedTable.append(mk(61 to 70), root)                          // v3
    // batch dirs carry the name=value layout (no flat/partitioned mixing)
    val v2dirs = new java.io.File(s"$root/v=2").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(v2dirs == Seq("part=0", "part=1"), s"append flattened layout: $v2dirs")
    // logical union is exact and the partition column survives
    val latest = VersionedTable.readLatest(spark, root)
    assert(latest.columns.contains("part"))
    assert(latest.select("id").as[Int].collect().toSet == (1 to 70).toSet)
    assert(latest.filter(col("part") === 0).count() == 35)
    // partition pruning reaches every chain member's scan (inputFiles is
    // pre-pruning, so assert on the executed scans directly)
    val q = latest.filter(col("part") === 0)
    q.collect()
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      s"every chain scan must carry the partition filter: $scans")
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned < latest.inputFiles.length,
      s"partition pruning must cut the scanned file count: $scanned of ${latest.inputFiles.length}")
    // compact preserves the layout across the fold
    val v4 = VersionedTable.compact(spark, root, targetFileBytes = 1L << 30)
    val v4dirs = new java.io.File(s"$root/v=$v4").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(v4dirs == Seq("part=0", "part=1"))
    assert(VersionedTable.readLatest(spark, root).count() == 70)
    // CDF fast path on the partitioned chain still yields the batch rows
    val feed = VersionedTable.changes(spark, root, 1L, 3L, Seq("id"))
    assert(feed.select("id").as[Int].collect().toSet == (41 to 70).toSet)
  }

  test("multi-column readPruned intersects zone maps on every predicate column") {
    val root = Files.createTempDirectory("graft_vt_multiskip").toString + "/t"
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val b = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head
    val (amin, amax, bmin, bmax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val zk = graft.ops.ZOrder.zorder2(
      graft.ops.ZOrder.rangeBucket(col("l_orderkey"), lit(amin), lit(amax), 16),
      graft.ops.ZOrder.rangeBucket(col("l_partkey"), lit(bmin), lit(bmax), 16))
    VersionedTable.write(
      li.withColumn("zk", zk).repartitionByRange(16, col("zk")).drop("zk"),
      root, statsCols = Seq("l_orderkey", "l_partkey"))
    val (aLo, aHi) = (amin + (amax - amin) / 2.0, amin + (amax - amin) / 2.0 + (amax - amin) / 8.0)
    val (bLo, bHi) = (bmin + (bmax - bmin) / 2.0, bmin + (bmax - bmin) / 2.0 + (bmax - bmin) / 8.0)
    val one = VersionedTable.readPruned(spark, root, "l_orderkey", aLo, aHi)
    val both = VersionedTable.readPruned(spark, root,
      Seq(("l_orderkey", aLo, aHi), ("l_partkey", bLo, bHi)))
    // conjunction prunes at least as hard as either column alone, and
    // on a z-ordered layout strictly harder than the single-column read
    assert(both.inputFiles.length <= one.inputFiles.length,
      s"2-col pruning (${both.inputFiles.length}) must not exceed 1-col (${one.inputFiles.length})")
    assert(both.inputFiles.length < 16)
    // result-invisible vs the raw filter
    assert(both.count() == li.filter(
      col("l_orderkey") >= aLo && col("l_orderkey") <= aHi &&
        col("l_partkey") >= bLo && col("l_partkey") <= bHi).count())
  }

  test("vacuum retention guard: young snapshots survive whatever their rank") {
    val root = Files.createTempDirectory("graft_vt_retain").toString
    (1 to 4).foreach(i => VersionedTable.write(Seq(i).toDF("v"), root))
    // all four snapshots are seconds old: the default retention window
    // (24h) must protect them even at keep=1
    assert(VersionedTable.vacuum(root, keep = 1).isEmpty)
    assert(VersionedTable.versions(root) == Seq(1L, 2L, 3L, 4L))
    // with the window waived, retention rank applies again
    assert(VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L) ==
      Seq(1L, 2L, 3L))
  }

  test("compact(zorderBy) on an empty snapshot falls back instead of NPE") {
    val root = Files.createTempDirectory("graft_vt_zempty").toString
    VersionedTable.write((1 to 10).toDF("a").withColumn("b", col("a") * 2), root)
    VersionedTable.write(
      (1 to 10).toDF("a").withColumn("b", col("a") * 2).limit(0), root) // empty v2
    val v = VersionedTable.compact(spark, root, zorderBy = Seq("a", "b"))
    assert(VersionedTable.readVersion(spark, root, v).count() == 0)
    assert(VersionedTable.readMeta(root, v, "_operation").exists(_.startsWith("COMPACT")))
  }

  test("deletion vectors: O(delete) commits, stacked composition, compact materializes") {
    val root = Files.createTempDirectory("graft_vt_dv").toString
    VersionedTable.write((1 to 1000).toDF("id").repartition(4), root) // v1
    VersionedTable.deleteWhereVector(spark, root, col("id") % 10 === 0) // v2
    // O(delete): the DELETE commit's dir holds NO table data (empty
    // slice) — the parent files were not rewritten
    assert(spark.read.parquet(s"$root/v=2").count() == 0)
    assert(new java.io.File(s"$root/v=2/_dv").isDirectory)
    assert(spark.read.parquet(s"$root/v=2/_dv").count() == 100)
    // semantics: deleted rows gone, everything else intact
    assert(VersionedTable.readLatest(spark, root).count() == 900)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("id") % 10 === 0).count() == 0)
    // stacked vectors compose (the second predicate sees the DV'd view)
    VersionedTable.deleteWhereVector(spark, root, col("id") % 7 === 0) // v3
    assert(VersionedTable.readLatest(spark, root).count() ==
      (1 to 1000).count(i => i % 10 != 0 && i % 7 != 0))
    // time travel: pre-delete snapshots unchanged
    assert(VersionedTable.readVersion(spark, root, 1).count() == 1000)
    assert(VersionedTable.readVersion(spark, root, 2).count() == 900)
    // the change feed classifies DV-deleted rows as deletes
    val feed = VersionedTable.changes(spark, root, 1L, 3L, Seq("id"))
    assert(feed.filter(col("_change_type") === "delete").count() ==
      1000 - (1 to 1000).count(i => i % 10 != 0 && i % 7 != 0))
    // appends on top of a DV commit: new rows are not affected by
    // the parent's vectors
    VersionedTable.append((2001 to 2010).toDF("id"), root) // v4
    assert(VersionedTable.readLatest(spark, root).count() ==
      (1 to 1000).count(i => i % 10 != 0 && i % 7 != 0) + 10)
    // vacuum never drops a kept DV commit's parent chain
    assert(VersionedTable.vacuum(root, keep = 1,
      orphanGraceMs = 0L, retainMinMs = 0L).isEmpty)
    assert(VersionedTable.readLatest(spark, root).count() ==
      (1 to 1000).count(i => i % 10 != 0 && i % 7 != 0) + 10)
    // compact folds the vectors into a full snapshot; after it, the
    // whole old chain can drop and results are unchanged
    val vC = VersionedTable.compact(spark, root, targetFileBytes = 1L << 30)
    assert(VersionedTable.readMeta(root, vC, "_dv_parent").isEmpty)
    assert(VersionedTable.vacuum(root, keep = 1,
      orphanGraceMs = 0L, retainMinMs = 0L) == Seq(1L, 2L, 3L, 4L))
    assert(VersionedTable.readLatest(spark, root).count() ==
      (1 to 1000).count(i => i % 10 != 0 && i % 7 != 0) + 10)
    // operation history records the DV deletes
    assert(VersionedTable.history(spark, root).select("operation")
      .as[String].collect().count(_ == "DELETE_DV") == 0) // vacuumed away
  }

  test("updateWhereVector: O(changed) commit — updated copies + old-position vector") {
    val root = Files.createTempDirectory("graft_vt_dvu").toString
    VersionedTable.write((1 to 1000).toDF("id")
      .withColumn("v", col("id") * 10L).repartition(4), root) // v1
    VersionedTable.updateWhereVector(spark, root, col("id") % 100 === 0,
      Map("v" -> (col("v") + 1L))) // v2
    // O(changed): the commit dir holds exactly the 10 updated copies
    assert(spark.read.parquet(s"$root/v=2").count() == 10)
    assert(spark.read.parquet(s"$root/v=2/_dv").count() == 10)
    // semantics: updated rows changed, everything else intact, no dups
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 1000)
    assert(live.filter(col("id") % 100 === 0)
      .select("v").as[Long].collect().toSet ==
      (1 to 10).map(i => i * 100L * 10L + 1L).toSet)
    assert(live.filter(col("id") === 50).select("v").as[Long].head() == 500L)
    // stacked on a DV delete, and CDF classifies the update pairs
    VersionedTable.deleteWhereVector(spark, root, col("id") === 100) // v3
    assert(VersionedTable.readLatest(spark, root).count() == 999)
    val feed = VersionedTable.changes(spark, root, 1L, 2L, Seq("id"))
    assert(feed.filter(col("_change_type") === "update_postimage").count() == 10)
    // txn watermark helper: per-app versions resolve chain-walking
    VersionedTable.append((1001 to 1002).toDF("id")
      .withColumn("v", col("id") * 10L), root,
      metaFiles = Map(VersionedTable.txnKey("loaderA") -> "7"))
    VersionedTable.deleteWhereVector(spark, root, col("id") === 1001)
    assert(VersionedTable.txnVersion(root, "loaderA") == Some(7L))
    assert(VersionedTable.txnVersion(root, "loaderB").isEmpty)
  }

  test("racing DV delete vs append: the commit marker arbitrates, state stays consistent") {
    val root = Files.createTempDirectory("graft_vt_dvrace").toString
    VersionedTable.write((1 to 100).toDF("id"), root) // v1
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    // the protocol's contract is succeed-or-ConcurrentWriteException:
    // anything else escaping a racer is a protocol bug — record it, or
    // a silently-dead thread reads as "both landed" and the assertion
    // below misdiagnoses the state (seen once in r11: errors=0 rows=110
    // with no exception identity to debug)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq(
      () => VersionedTable.deleteWhereVector(spark, root, col("id") <= 10),
      () => VersionedTable.append((101 to 110).toDF("id"), root)
    ).map { op =>
      new Thread(() => {
        start.await()
        try { op(); () }
        catch {
          case _: VersionedTable.ConcurrentWriteException =>
            errors.incrementAndGet(); ()
          case t: Throwable => unexpected.add(t); ()
        }
      })
    }
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
    assert(unexpected.isEmpty, s"racer died with a non-retryable " +
      s"exception: ${unexpected.asScala.map(t =>
        s"${t.getClass.getName}: ${t.getMessage}\n  " +
          t.getStackTrace.take(8).mkString("\n  ")).mkString("; ")}")
    val n = VersionedTable.readLatest(spark, root).count()
    if (errors.get == 1)
      // exactly one commit landed: either the delete (90) or the append (110)
      assert(n == 90 || n == 110, s"inconsistent post-race state: $n rows")
    else {
      // both landed (serialized by timing): order-independent result
      assert(errors.get == 0 && n == 100, s"errors=${errors.get}, rows=$n")
    }
    // the chain stays linear and readable either way
    assert(VersionedTable.committedVersions(root).nonEmpty)
    assert(VersionedTable.history(spark, root).count() ==
      VersionedTable.committedVersions(root).size)
  }

  test("mergeInto applies clause-level MERGE: delete, conditional update, insert") {
    val root = Files.createTempDirectory("graft_vt_mc").toString
    VersionedTable.write(Seq((1, "F", 10L), (2, "O", 20L), (3, "F", 30L))
      .toDF("k", "status", "cents"), root)
    // source: matches 1 (F → delete), 2 (O → update), new key 4 (insert)
    VersionedTable.mergeInto(spark, root,
      Seq((1, "X", 1L), (2, "X", 5L), (4, "N", 40L)).toDF("k", "status", "cents"),
      Seq("k"),
      matchedDelete = Some(col("t.status") === "F"),
      matchedUpdate = Map("cents" -> (col("t.cents") + col("s.cents"))))
    val got = VersionedTable.readLatest(spark, root)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (2, "O", 25L),   // updated: cents summed, status keeps target value
      (3, "F", 30L),   // target-only: untouched (delete needs a MATCH)
      (4, "N", 40L)))  // inserted
    // insertNotMatched=false: source-only keys are ignored
    VersionedTable.mergeInto(spark, root,
      Seq((9, "Z", 9L)).toDF("k", "status", "cents"), Seq("k"),
      insertNotMatched = false)
    assert(VersionedTable.readLatest(spark, root).count() == 3)
  }

  test("compactChain folds ONLY the batch dirs: base never rewritten, O(appended) cost") {
    val root = Files.createTempDirectory("graft_vt_cchain").toString
    VersionedTable.write((1 to 1000).toDF("id").repartition(4), root,
      statsCols = Seq("id"), metaFiles = Map("_batch" -> "0"))     // v1 base
    VersionedTable.append((1001 to 1100).toDF("id"), root,
      statsCols = Seq("id"), metaFiles = Map("_batch" -> "1"))     // v2
    VersionedTable.append((1101 to 1200).toDF("id"), root,
      statsCols = Seq("id"), metaFiles = Map("_batch" -> "2"))     // v3
    val baseFiles = spark.read.parquet(s"$root/v=1").inputFiles.sorted.toSeq
    val vF = VersionedTable.compactChain(spark, root)
    // the base snapshot's files are EXACTLY the ones from before
    assert(spark.read.parquet(s"$root/v=1").inputFiles.sorted.toSeq == baseFiles)
    // the folded commit is an append off the base holding both batches
    assert(VersionedTable.readMeta(root, vF, "_parent").map(_.trim) == Some("1"))
    assert(spark.read.parquet(s"$root/v=$vF").count() == 200)
    assert(VersionedTable.readLatest(spark, root).count() == 1200)
    // batch stats were re-collected: chain pruning keeps working
    val pruned = VersionedTable.readPruned(spark, root, "id", 1050, 1060)
    assert(pruned.count() == 11)
    assert(pruned.inputFiles.forall(!_.contains("/v=1/")),
      "a batch-range predicate must skip every base file")
    // the watermark carried into the fold: retention can reclaim the
    // folded-away tips without losing replay safety
    VersionedTable.vacuum(root, keep = 1, orphanGraceMs = 0L, retainMinMs = 0L)
    assert(VersionedTable.versions(root).toSet == Set(1L, vF))
    assert(VersionedTable.readLatest(spark, root).count() == 1200)
    assert(VersionedTable.readMetaLatest(root, "_batch").map(_.trim) == Some("2"))
    // ≤1 batch in the chain: folding is a no-op
    assert(VersionedTable.compactChain(spark, root) == vF)
  }

  test("deletion vectors over a hive-partitioned append chain") {
    val root = Files.createTempDirectory("graft_vt_dvpart").toString
    val mk = (r: Range) => r.toDF("id")
      .withColumn("part", (col("id") % 2).cast("int"))
    VersionedTable.write(mk(1 to 40), root, partitionBy = Seq("part")) // v1
    VersionedTable.append(mk(41 to 60), root)                          // v2
    VersionedTable.deleteWhereVector(spark, root, col("id") % 5 === 0) // v3
    val live = VersionedTable.readLatest(spark, root)
    // partition column survives the DV anti-join and values are right
    assert(live.columns.contains("part"))
    assert(live.count() == (1 to 60).count(_ % 5 != 0))
    assert(live.filter(col("part") === 0).count() ==
      (1 to 60).count(i => i % 2 == 0 && i % 5 != 0))
    // the DV commit stored only the vector, nothing partition-shaped
    assert(spark.read.parquet(s"$root/v=3/_dv").count() == 12)
    // updates stack on the partitioned DV chain too
    VersionedTable.updateWhereVector(spark, root, col("id") === 1,
      Map("id" -> lit(1001)))
    val after = VersionedTable.readLatest(spark, root)
    assert(after.filter(col("id") === 1001).count() == 1)
    assert(after.filter(col("id") === 1).count() == 0)
    // compact folds vectors and keeps the layout
    val vC = VersionedTable.compact(spark, root, targetFileBytes = 1L << 30)
    val dirs = new java.io.File(s"$root/v=$vC").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("part=0", "part=1"))
    assert(VersionedTable.readLatest(spark, root).count() == after.count())
  }

  test("replaceWhere swaps exactly the predicate scope in one O(changed) commit") {
    val root = Files.createTempDirectory("graft_vt_replw").toString
    VersionedTable.write((1 to 100).toDF("id")
      .withColumn("grp", (col("id") % 4).cast("int"))
      .withColumn("v", col("id") * 10L).repartition(4), root)
    // replace grp=1's 25 rows with 5 fresh ones
    VersionedTable.replaceWhere(spark, root, col("grp") === 1,
      (201 to 205).toDF("id").withColumn("grp", lit(1).cast("int"))
        .withColumn("v", lit(0L)))
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 80)
    assert(live.filter(col("grp") === 1).select("id").as[Int].collect().toSet ==
      (201 to 205).toSet)
    // other groups bit-identical; commit stored only the delta
    assert(live.filter(col("grp") =!= 1).count() == 75)
    assert(spark.read.parquet(s"$root/v=2").count() == 5)
    assert(spark.read.parquet(s"$root/v=2/_dv").count() == 25)
    // out-of-scope rows are rejected before anything commits
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.replaceWhere(spark, root, col("grp") === 2,
        Seq((999, 3, 0L)).toDF("id", "grp", "v"))
    }
    assert(VersionedTable.readLatest(spark, root).count() == 80)
  }

  test("cloneTable: shallow = metadata-only pinned view, deep = independent copy") {
    val dir = Files.createTempDirectory("graft_vt_clone").toString
    val (src, sh, dp) = (s"$dir/src", s"$dir/shallow", s"$dir/deep")
    VersionedTable.write((1 to 100).toDF("id"), src)      // v1
    VersionedTable.write((1 to 50).toDF("id"), src)       // v2
    // shallow clone PINNED at v1: O(1) data cost — the clone dir holds
    // no table rows, reads resolve through the source chain
    VersionedTable.cloneTable(spark, src, sh, version = Some(1L), shallow = true)
    assert(spark.read.parquet(s"$sh/v=1").count() == 0)
    assert(VersionedTable.readLatest(spark, sh).count() == 100)
    // later source commits are invisible to the pinned clone
    VersionedTable.write((1 to 10).toDF("id"), src)       // v3
    assert(VersionedTable.readLatest(spark, sh).count() == 100)
    // commits on the clone stack locally and never touch the source
    VersionedTable.append((101 to 110).toDF("id"), sh)
    assert(VersionedTable.readLatest(spark, sh).count() == 110)
    assert(VersionedTable.readLatest(spark, src).count() == 10)
    // compaction materializes the clone into a self-contained snapshot:
    // the source can then be reclaimed entirely
    VersionedTable.compact(spark, sh, targetFileBytes = 1L << 30)
    VersionedTable.vacuum(sh, keep = 1, orphanGraceMs = 0L, retainMinMs = 0L)
    VersionedTable.vacuum(src, keep = 1, orphanGraceMs = 0L, retainMinMs = 0L)
    assert(VersionedTable.readLatest(spark, sh).count() == 110)
    // deep clone: rows copied, fully decoupled from day one
    VersionedTable.cloneTable(spark, src, dp)
    assert(spark.read.parquet(s"$dp/v=1").count() == 10)
    VersionedTable.write(VersionedTable.readLatest(spark, src)
      .filter(!(col("id") <= 5)), src)
    assert(VersionedTable.readLatest(spark, dp).count() == 10)
    assert(VersionedTable.history(spark, dp).select("operation")
      .as[String].head().startsWith("CLONE(deep"))
    // clone targets must be empty
    intercept[IllegalArgumentException] {
      VersionedTable.cloneTable(spark, src, sh)
    }
  }

  test("shallow clone: a source DELETE + VACUUM invalidates the clone's " +
    "snapshot through its source root — same rows, no missing file") {
    val dir = Files.createTempDirectory("graft_vt_clonevac").toString
    val (src, sh) = (s"$dir/src", s"$dir/shallow")
    VersionedTable.write((1 to 100).toDF("id")
      .withColumn("part", col("id") % 4), src, partitionBy = Seq("part")) // v1
    // v2 carries a deletion vector that fully masks the part=0 files
    VersionedTable.deleteWhereVector(spark, src, col("part") === 0)      // v2
    VersionedTable.cloneTable(spark, src, sh, version = Some(2L), shallow = true)
    def rows() = VersionedTable.readLatest(spark, sh)
      .select("id").as[Int].collect().sorted.toSeq
    val before = rows() // warms the clone's snapshot over src v2
    assert(before == (1 to 100).filter(_ % 4 != 0))
    val warm = VersionedTable.snapshot(sh, 1L)
    assert(warm.roots == Set(sh, src))
    VersionedTable.deleteWhereVector(spark, src, col("id") <= 10)        // v3
    // retention keeps the cloned v2 (the shallow-clone contract); the
    // DV-dead pass reclaims the part=0 files masked at or below it
    VersionedTable.vacuum(src, keep = 2, orphanGraceMs = 0L, retainMinMs = 0L)
    assert(VersionedTable.purgedEntries(src).nonEmpty,
      "the vacuum must reclaim the v2-masked files for this case to bite")
    // no invalidation call: the source's vacuum dropped the clone's
    // snapshot because its chain reads from the source root
    assert(!(VersionedTable.snapshot(sh, 1L) eq warm))
    assert(rows() == before)
    assert(VersionedTable.readLatest(spark, src).count() == 75 - 8)
  }

  test("generated partition key: computed on every append, pruning trustworthy") {
    val root = Files.createTempDirectory("graft_vt_genpart").toString
    // the canonical Delta use: a derived partition key that writers can
    // never set inconsistently with its source column
    VersionedTable.addGeneratedColumn(spark, root, "bucket", "id % 3")
    val mk = (r: Range) => r.toDF("id") // writers OMIT the generated column
    VersionedTable.write(mk(1 to 30), root, partitionBy = Seq("bucket"))
    VersionedTable.append(mk(31 to 45), root)
    // both commits materialized the column and followed the layout
    val v2dirs = new java.io.File(s"$root/v=2").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(v2dirs == Seq("bucket=0", "bucket=1", "bucket=2"))
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 45)
    assert(live.filter(col("bucket") =!= col("id") % 3).count() == 0)
    // a writer supplying a DISAGREEING value is rejected (pruning would
    // silently return wrong results if this committed)
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.append(
        mk(46 to 50).withColumn("bucket", lit(99)), root)
    }
  }

  test("readMetaLatest walks past non-sink commits to the newest watermark") {
    val root = Files.createTempDirectory("graft_vt_metawalk").toString
    VersionedTable.write((1 to 10).toDF("id"), root,
      metaFiles = Map("_batch" -> "0"))
    VersionedTable.append((11 to 20).toDF("id"), root,
      metaFiles = Map("_batch" -> "1"))
    // a non-sink commit lands on the same root: no _batch on the tip
    VersionedTable.write(VersionedTable.readLatest(spark, root)
      .filter(!(col("id") === 1)), root)
    assert(VersionedTable.readMeta(root,
      VersionedTable.latestVersion(root).get, "_batch").isEmpty)
    // the chain walk still resolves the applied watermark
    assert(VersionedTable.readMetaLatest(root, "_batch").map(_.trim) == Some("1"))
  }

  test("DV DML locate scans are zone-map pruned to the predicate's implied bounds") {
    val root = Files.createTempDirectory("graft_vt_dmlprune").toString
    VersionedTable.write(
      (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartitionByRange(10, col("id")),
      root, statsCols = Seq("id"))
    val total = VersionedTable.readLatest(spark, root).inputFiles.length
    assert(total == 10)
    // predicateRanges extracts conjunctive attribute-vs-literal bounds…
    assert(VersionedTable.predicateRanges(col("id") >= 301 && col("id") <= 350)
      == Seq(("id", 301.0, 350.0)))
    assert(VersionedTable.predicateRanges(col("id") === 500) == Seq(("id", 500.0, 500.0)))
    // …and an OR (not implied) contributes nothing
    assert(VersionedTable.predicateRanges(col("id") === 1 || col("id") === 999).isEmpty)
    // the locate scan (prunedVersionRead keepMeta) reads only the
    // surviving files — untouched files never reach it
    val locate = VersionedTable.prunedVersionRead(spark,
      VersionedTable.snapshot(root, 1L),
      VersionedTable.predicateRanges(col("id") >= 301 && col("id") <= 350),
      keepMeta = true)
    assert(locate.inputFiles.length < total,
      s"locate scan must prune: ${locate.inputFiles.length}/$total")
    // the pruned DML commits are still exactly right
    VersionedTable.deleteWhereVector(spark, root, col("id") >= 301 && col("id") <= 350)
    assert(VersionedTable.readLatest(spark, root).count() == 950)
    VersionedTable.updateWhereVector(spark, root, col("id") === 500L,
      Map("s" -> lit("X")))
    val live = VersionedTable.readLatest(spark, root)
    assert(live.filter(col("s") === "X").count() == 1 && live.count() == 950)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: delete + update target-only rows") {
    val root = Files.createTempDirectory("graft_vt_nms").toString
    VersionedTable.write(
      (1 to 10).map(i => (i, i * 10L, "old")).toDF("id", "v", "tag"), root)
    // source matches 1..4; 5..10 are NOT MATCHED BY SOURCE:
    // delete those with v > 80, stamp the rest "stale"
    VersionedTable.mergeInto(spark, root,
      (1 to 4).map(i => (i, i * 100L, "new")).toDF("id", "v", "tag"), Seq("id"),
      matchedUpdate = Map("v" -> col("s.v"), "tag" -> col("s.tag")),
      insertNotMatched = false,
      nmsDelete = Some(col("t.v") > 80L),
      nmsUpdate = Map("tag" -> lit("stale")))
    val got = VersionedTable.readLatest(spark, root).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == (1 to 4).map(i => (i, i * 100L, "new")) ++
      (5 to 8).map(i => (i, i * 10L, "stale")),
      got.toString) // 9, 10 deleted (v = 90, 100 > 80)
  }

  test("z-order within hive partitions: layout preserved, per-key pruning works") {
    val root = Files.createTempDirectory("graft_vt_zpart").toString
    val df = (1 to 2000).map { i =>
      (i % 2, i.toLong, ((i * 37) % 2000).toLong)
    }.toDF("part", "a", "b")
    VersionedTable.write(df.repartition(8), root, partitionBy = Seq("part"))
    intercept[IllegalArgumentException] { // partition keys can't z-order
      VersionedTable.compact(spark, root, zorderBy = Seq("part", "a"))
    }
    VersionedTable.compact(spark, root,
      targetFileBytes = 4096, zorderBy = Seq("a", "b"))
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 2000)
    // hive layout preserved through the z-order rewrite
    assert(VersionedTable.readLatest(spark, root).columns.contains("part"))
    assert(live.filter(col("part") === 1).count() == 1000)
    // zone maps on both keys exist and prune a tight a-range
    val pruned = VersionedTable.readPruned(spark, root, "a", 100, 160)
    assert(pruned.count() == 61)
    assert(pruned.inputFiles.length < live.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${live.inputFiles.length}")
  }

  test("evolved-chain DV feed keeps the evolved column's preimage values") {
    val root = Files.createTempDirectory("graft_vt_dvevo").toString
    VersionedTable.write((1 to 100).map(i => (i, s"v$i")).toDF("id", "s"), root) // v1
    VersionedTable.append(
      (101 to 200).map(i => (i, s"v$i", i * 1.5)).toDF("id", "s", "w"),
      root, allowEvolution = true)                                               // v2
    // the delete touches rows in BOTH the pre- and post-evolution files
    VersionedTable.deleteWhereVector(spark, root,
      col("id") === 50 || col("id") === 150)                                     // v3
    val feed = VersionedTable.changes(spark, root, 2L, 3L, Seq("id"))
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[Any]("w"),
        r.getAs[String]("_change_type")))
    // a multi-path schema inference sampling the OLD footer would NULL
    // the evolved column on row 150's preimage — it must carry 225.0
    assert(feed.toSet == Set((50, null, "delete"), (150, 225.0, "delete")),
      feed.toSeq.toString)
  }

  test("STRING-predicate DML locate scans prune via string zone maps") {
    val root = Files.createTempDirectory("graft_vt_strprune").toString
    VersionedTable.write(
      (1 to 800).map(i => (i.toLong, ('A' + i % 8).toChar.toString))
        .toDF("id", "grade").repartitionByRange(8, col("grade")),
      root, statsCols = Seq("grade"))
    // string bounds extracted from the predicate…
    assert(VersionedTable.predicateStrRanges(col("grade") === "C")
      == Seq(("grade", Some("C"), Some("C"))))
    assert(VersionedTable.predicateStrRanges(col("grade") >= "G")
      == Seq(("grade", Some("G"), None)))
    // …and the locate scan reads only the matching file(s)
    val locate = VersionedTable.prunedVersionRead(spark,
      VersionedTable.snapshot(root, 1L), Seq.empty,
      keepMeta = true,
      strRanges = VersionedTable.predicateStrRanges(col("grade") === "C"))
    assert(locate.inputFiles.length < 8,
      s"string locate scan must prune: ${locate.inputFiles.length}/8")
    // the pruned DML is exactly right
    VersionedTable.deleteWhereVector(spark, root, col("grade") === "C")
    assert(VersionedTable.readLatest(spark, root).count() == 700)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("grade") === "C").count() == 0)
  }

  test("append(allowEvolution): added columns NULL-pad older chain members at read") {
    val root = Files.createTempDirectory("graft_vt_appevo").toString
    VersionedTable.write((1 to 20).map(i => (i, s"u$i")).toDF("id", "name"), root)
    // evolution OFF (default): a new column is rejected loudly
    intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((21, "u21", 0.5)).toDF("id", "name", "score"), root)
    }
    // evolution ON: the batch adds a nullable column…
    VersionedTable.append(
      (21 to 30).map(i => (i, s"u$i", i * 1.5)).toDF("id", "name", "score"),
      root, allowEvolution = true)
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.toSeq == Seq("id", "name", "score"))
    assert(live.count() == 30)
    // …and the base chain member's rows read NULL there
    assert(live.filter(col("id") <= 20 && col("score").isNull).count() == 20)
    assert(live.filter(col("score").isNotNull).count() == 10)
    // a later batch may also OMIT columns (its rows read NULL)
    VersionedTable.append(Seq((31, "u31")).toDF("id", "name"), root,
      allowEvolution = true)
    val live2 = VersionedTable.readLatest(spark, root)
    assert(live2.count() == 31 &&
      live2.filter(col("id") === 31 && col("score").isNull).count() == 1)
    // the gvt DataSource serves the evolved union schema too
    assert(spark.read.format("gvt").load(root).columns.contains("score"))
    assert(spark.read.format("gvt").load(root)
      .filter(col("score").isNotNull).count() == 10)
    // chain folding preserves the evolved rows
    VersionedTable.compactChain(spark, root)
    val folded = VersionedTable.readLatest(spark, root)
    assert(folded.count() == 31 && folded.filter(col("score").isNotNull).count() == 10)
  }

  test("DV-hop change feed is O(changed): touched files only, same classification") {
    val root = Files.createTempDirectory("graft_vt_dvcdf").toString
    VersionedTable.write(
      (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartitionByRange(10, col("id")), root)                        // v1
    VersionedTable.deleteWhereVector(spark, root,
      col("id") >= 301 && col("id") <= 350)                              // v2
    val feed = VersionedTable.changes(spark, root, 1L, 2L, Seq("id"))
    // the feed reads ONLY the touched base file(s), never the full table
    val baseScanned = feed.inputFiles.count(_.contains("/v=1/"))
    assert(baseScanned >= 1 && baseScanned < 10,
      s"DV feed must scan touched files only, got $baseScanned/10")
    val del = feed.collect()
    assert(del.forall(_.getAs[String]("_change_type") == "delete"))
    assert(del.map(_.getAs[Long]("id")).sorted.toSeq == (301L to 350L))
    // UPDATE_DV hop → preimage/postimage pair for exactly the hit key
    VersionedTable.updateWhereVector(spark, root, col("id") === 500L,
      Map("s" -> lit("X")))                                              // v3
    val upd = VersionedTable.changes(spark, root, 2L, 3L, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("s"),
        r.getAs[String]("_change_type"))).sortBy(_._3)
    assert(upd.toSeq == Seq((500L, "X", "update_postimage"),
      (500L, "r500", "update_preimage")), upd.toSeq.toString)
    // REPLACE_WHERE hop → deletes of the old scope + inserts of the new
    VersionedTable.replaceWhere(spark, root, col("id") >= 900,
      (9001 to 9003).map(i => (i.toLong, s"n$i")).toDF("id", "s"))       // v4
    val rw = VersionedTable.changes(spark, root, 3L, 4L, Seq("id"))
      .groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rw == Map("delete" -> 101L, "insert" -> 3L), rw.toString)
    // streaming drain equivalence: commitFeeds walks the same hops
    val total = graft.streaming.ChangeFeed
      .commitFeeds(spark, root, Seq("id"), fromV = 1L)
      .map(_._2.count()).sum
    assert(total == 50L + 2L + 104L)
  }

  test("compactChain carries EVERY folded dir's watermarks, not just the tip's") {
    val root = Files.createTempDirectory("graft_vt_carry").toString
    VersionedTable.write((1 to 100).toDF("id"), root)                    // v1 base
    // app A's txn watermark lands in an EARLY batch dir…
    VersionedTable.append((101 to 110).toDF("id"), root,
      metaFiles = Map(VersionedTable.txnKey("appA") -> "5"))             // v2
    // …and a second sink's _batch in a LATER one (the tip)
    VersionedTable.append((111 to 120).toDF("id"), root,
      metaFiles = Map("_batch" -> "7"))                                  // v3
    val vF = VersionedTable.compactChain(spark, root)
    // newest-per-key union must carry BOTH into the folded commit
    assert(VersionedTable.readMeta(root, vF, VersionedTable.txnKey("appA"))
      .map(_.trim) == Some("5"))
    assert(VersionedTable.readMeta(root, vF, "_batch").map(_.trim) == Some("7"))
    // retention reclaims the folded-away dirs; replay guards still hold
    VersionedTable.vacuum(root, keep = 1, orphanGraceMs = 0L, retainMinMs = 0L)
    assert(VersionedTable.txnVersion(root, "appA") == Some(5L))
    assert(VersionedTable.readMetaLatest(root, "_batch").map(_.trim) == Some("7"))
    // a newer value for the SAME key wins over an older dir's copy
    VersionedTable.append((121 to 125).toDF("id"), root,
      metaFiles = Map(VersionedTable.txnKey("appA") -> "9"))
    VersionedTable.append((126 to 130).toDF("id"), root)
    val vF2 = VersionedTable.compactChain(spark, root)
    assert(VersionedTable.readMeta(root, vF2, VersionedTable.txnKey("appA"))
      .map(_.trim) == Some("9"))
  }

  test("statsCols reject unsupported types loudly (no NULL-stats mis-prune)") {
    val root = Files.createTempDirectory("graft_vt_statstype").toString
    // numeric and string columns are supported; anything else (here a
    // boolean) would need stats semantics of its own — fail loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.write(Seq((1, "a", true), (2, "b", false))
        .toDF("id", "s", "flag"), root, statsCols = Seq("flag"))
    }
    assert(e.getMessage.contains("numeric and string"))
    // the failed write never committed
    assert(VersionedTable.latestVersion(root).isEmpty)
    // numeric + string stats work side by side
    VersionedTable.write(Seq((1, "a", true), (2, "b", false))
      .toDF("id", "s", "flag"), root, statsCols = Seq("id", "s"))
    assert(VersionedTable.readPruned(spark, root, "id", 2, 2).count() == 1)
  }

  test("mergeInto accepts a PARTIAL source: keys + updated columns only") {
    val root = Files.createTempDirectory("graft_vt_partialsrc").toString
    VersionedTable.write(
      Seq((1, "ann", 10), (2, "bob", 20), (3, "cat", 30))
        .toDF("id", "name", "score"), root)
    // update-only merge: source carries just (id, score) — Delta
    // supports this; referencing the missing s.name must not be needed
    VersionedTable.mergeInto(spark, root,
      Seq((2, 99)).toDF("id", "score"), Seq("id"),
      matchedUpdate = Map("score" -> col("s.score")),
      insertNotMatched = false)
    val got = VersionedTable.readLatest(spark, root)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq((1, "ann", 10), (2, "bob", 99), (3, "cat", 30)))
    // with inserts ON, a target column the source omits inserts as NULL
    VersionedTable.mergeInto(spark, root,
      Seq((4, 40)).toDF("id", "score"), Seq("id"),
      matchedUpdate = Map("score" -> col("s.score")))
    val r4 = VersionedTable.readLatest(spark, root).filter(col("id") === 4).head()
    assert(r4.isNullAt(1) && r4.getInt(2) == 40)
  }

  // a full-snapshot rewrite, a DV update's slice, merge and restore
  // preserve the hive layout; a zero-row rewrite degrades to a
  // layout-carrying schema slice
  test("hive layout survives rewrites and zero-row writes") {
    def hiveDirs(root: String): Boolean = {
      val v = VersionedTable.latestVersion(root).get
      val d = new java.io.File(s"$root/v=$v")
      d.listFiles().exists(f => f.isDirectory && f.getName.startsWith("p="))
    }
    val root = Files.createTempDirectory("graft_vtlayout").toString + "/t"
    VersionedTable.write(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a"))
        .toDF("k", "v", "p"),
      root, partitionBy = Seq("p"))
    def rewriteWhere(p: org.apache.spark.sql.Column): Long =
      VersionedTable.write(VersionedTable.readLatest(spark, root).filter(!p),
        root, partitionBy = Seq("p"))
    rewriteWhere(col("k") === 2L)
    assert(hiveDirs(root), "a full-snapshot delete stripped the layout")
    VersionedTable.updateWhereVector(spark, root, col("k") === 1L,
      Map("v" -> lit(99L)))
    assert(hiveDirs(root), "a DV update stripped the layout")
    VersionedTable.merge(spark, root,
      Seq((4L, 40L, "b")).toDF("k", "v", "p"), Seq("k"))
    assert(hiveDirs(root), "merge stripped the layout")
    VersionedTable.restore(spark, root, 1L)
    assert(hiveDirs(root), "restore stripped the layout")
    assert(VersionedTable.readLatest(spark, root).count() == 3)
    // all-rows full-snapshot delete: a zero-row dynamic-partition write
    // has no files to carry the layout — the commit degrades to a
    // schema-only slice with the DECLARED layout, so the next append
    // still partitions
    rewriteWhere(lit(true))
    assert(VersionedTable.readLatest(spark, root).count() == 0)
    VersionedTable.append(Seq((9L, 90L, "c")).toDF("k", "v", "p"), root)
    assert(hiveDirs(root), "layout lost across the empty rewrite")
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("p") === "c").count() == 1)
  }
}
