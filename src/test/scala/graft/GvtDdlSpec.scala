package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The round-10 DDL/utility SQL surface over gvt tables (Delta
  * parity): TBLPROPERTIES (SET/UNSET/SHOW), ALTER TABLE ADD COLUMNS
  * (schema-only evolution commits), DESCRIBE DETAIL, CREATE TABLE …
  * [SHALLOW|DEEP] CLONE, and COPY INTO's file-level idempotent load. */
class GvtDdlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  test("TBLPROPERTIES: set upserts, unset removes, show lists sorted") {
    val root = fresh("props")
    VersionedTable.write((1 to 10).toDF("id"), root)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES " +
        "('owner' = 'alpha', 'quality.tier' = 'silver', ttl_days = '30')")
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES " +
        "('quality.tier' = 'gold')") // overwrite wins
      sess.sql(s"ALTER TABLE gvt.`$root` UNSET TBLPROPERTIES IF EXISTS " +
        "(ttl_days, never_set)")
      val rows = sess.sql(s"SHOW TBLPROPERTIES gvt.`$root`")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows == Seq("owner" -> "alpha", "quality.tier" -> "gold"))
    }
    // API surface agrees with the SQL surface
    assert(VersionedTable.tblProperties(root) ==
      Map("owner" -> "alpha", "quality.tier" -> "gold"))
    // properties survive compaction (root-level, not snapshot state)
    VersionedTable.append((11 to 20).toDF("id"), root)
    VersionedTable.compact(spark, root)
    assert(VersionedTable.tblProperties(root)("owner") == "alpha")
  }

  test("SHOW TBLPROPERTIES on a registered gvt view resolves the root") {
    val root = fresh("propsv")
    VersionedTable.write((1 to 5).toDF("id"), root)
    VersionedTable.setTblProperties(root, Map("k" -> "v"))
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW props_t USING gvt " +
        s"OPTIONS (path '$root')")
      assert(sess.sql("SHOW TBLPROPERTIES props_t").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq == Seq("k" -> "v"))
    }
  }

  test("ADD COLUMNS: schema-only commit, older members NULL-pad, " +
      "history keeps its schema") {
    val root = fresh("addcol")
    val o = (1 to 30).map(i => (i.toLong, s"s${i % 3}")).toDF("k", "status")
    VersionedTable.write(o, root)
    GraftSession.withExtensions(spark) { sess =>
      val nv = sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS " +
        "(bonus BIGINT, tag STRING)").as[Long].head()
      assert(nv == 2L)
    }
    // live: new columns exist, all NULL; row count unchanged
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.toSeq == Seq("k", "status", "bonus", "tag"))
    assert(live.count() == 30)
    assert(live.filter(col("bonus").isNotNull || col("tag").isNotNull).isEmpty)
    // historical snapshot keeps the original schema
    assert(VersionedTable.readVersion(spark, root, 1L).columns.toSeq ==
      Seq("k", "status"))
    // appends may now carry the new column (no evolution flag needed) …
    VersionedTable.append(
      (31 to 40).map(i => (i.toLong, "s9", i.toLong * 10, "x"))
        .toDF("k", "status", "bonus", "tag"), root)
    // … or omit it (reads NULL)
    VersionedTable.append((41 to 45).map(i => (i.toLong, "s0"))
      .toDF("k", "status"), root, allowEvolution = true)
    val all = VersionedTable.readLatest(spark, root)
    assert(all.count() == 45)
    assert(all.agg(sum("bonus")).as[Long].head() ==
      (31 to 40).map(_ * 10L).sum)
    // duplicate add fails loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, root,
        Seq("bonus" -> org.apache.spark.sql.types.LongType))
    }
    assert(e.getMessage.contains("already exist"))
  }

  test("ADD COLUMNS on a hive-partitioned chain keeps the layout") {
    val root = fresh("addcolp")
    val o = (1 to 30).map(i => (i.toLong, s"p${i % 3}")).toDF("k", "part")
    VersionedTable.write(o, root, partitionBy = Seq("part"))
    VersionedTable.addColumns(spark, root,
      Seq("extra" -> org.apache.spark.sql.types.LongType))
    VersionedTable.append(
      (31 to 36).map(i => (i.toLong, s"p${i % 3}", i.toLong)).toDF("k", "part", "extra"),
      root)
    val live = VersionedTable.readLatest(spark, root)
    assert(live.count() == 36)
    assert(live.filter(col("part") === "p0").count() == 12)
    assert(live.agg(sum("extra")).as[Long].head() == (31L to 36L).sum)
    // the FILE-INDEX read path (spark.read.format("gvt") / SQL views)
    // must survive the flat zero-row schema slice too: per-dir partition
    // discovery skips `_schema_only` dirs, so the layout-consistency
    // check sees only real data dirs (r10 regression: it threw
    // 'inconsistent partition layouts' here)
    val viaIndex = spark.read.format("gvt").load(root)
    assert(viaIndex.count() == 36)
    assert(viaIndex.filter(col("part") === "p0").count() == 12)
    assert(viaIndex.agg(sum("extra")).as[Long].head() == (31L to 36L).sum)
  }

  test("DESCRIBE DETAIL reports the live snapshot's layout") {
    val root = fresh("detail")
    val o = (1 to 40).map(i => (i.toLong, s"p${i % 2}")).toDF("k", "part")
    VersionedTable.write(o, root, partitionBy = Seq("part"))
    VersionedTable.setTblProperties(root, Map("owner" -> "alpha"))
    GraftSession.withExtensions(spark) { sess =>
      val d = sess.sql(s"DESCRIBE DETAIL gvt.`$root`").head()
      assert(d.getString(0) == "gvt")
      assert(d.getString(1) == root)
      assert(d.getLong(2) == 1L)    // version
      assert(d.getLong(3) == 1L)    // num_versions
      assert(d.getLong(4) > 0L)     // num_files
      assert(d.getLong(5) > 0L)     // size_bytes
      assert(d.getLong(6) == 40L)   // num_rows (metadata-only)
      assert(d.getString(7) == "part")
      assert(d.getString(8) == "")      // clustering_columns: none yet
      assert(d.getString(9) == "owner=alpha")
      sess.sql(s"ALTER TABLE gvt.`$root` CLUSTER BY (k)")
      assert(sess.sql(s"DESCRIBE DETAIL gvt.`$root`").head().getString(8)
        == "k")
    }
    // a DV commit adds a version but the counted files stay DATA files;
    // num_rows subtracts the vector's cardinality without a scan
    VersionedTable.deleteWhereVector(spark, root, col("k") % 5 === 0)
    val d2 = VersionedTable.detail(root)
    assert(d2.version == 2L && d2.numVersions == 2L)
    assert(d2.numRows == 32L)
  }

  test("CREATE TABLE … CLONE: deep decouples, shallow stacks local DML, " +
      "VERSION AS OF pins") {
    val src = fresh("clonesrc")
    val o = (1 to 50).map(i => (i.toLong, i.toLong * 100)).toDF("k", "cents")
    VersionedTable.write(o, src)
    VersionedTable.append((51 to 60).map(i => (i.toLong, i.toLong * 100))
      .toDF("k", "cents"), src)
    GraftSession.withExtensions(spark) { sess =>
      val deep = fresh("clonedeep")
      sess.sql(s"CREATE TABLE gvt.`$deep` CLONE gvt.`$src`").collect()
      assert(VersionedTable.readLatest(sess, deep).count() == 60)
      // deep clone decoupled: source DML does not touch it
      VersionedTable.deleteWhereVector(sess, src, col("k") <= 10)
      assert(VersionedTable.readLatest(sess, deep).count() == 60)
      assert(VersionedTable.readLatest(sess, src).count() == 50)
      // shallow clone of a PAST version (pre-append)
      val shallow = fresh("cloneshal")
      sess.sql(s"CREATE TABLE gvt.`$shallow` SHALLOW CLONE gvt.`$src` " +
        "VERSION AS OF 1").collect()
      assert(VersionedTable.readLatest(sess, shallow).count() == 50)
      // local DML on the shallow clone never touches the source
      VersionedTable.deleteWhereVector(sess, shallow, col("k") % 2 === 0)
      assert(VersionedTable.readLatest(sess, shallow).count() == 25)
      assert(VersionedTable.readLatest(sess, src).count() == 50)
    }
  }

  test("COPY INTO: file-level idempotency, incremental files, pattern") {
    val srcDir = Files.createTempDirectory("graft_copysrc").toString
    val root = fresh("copy")
    val a = (1 to 40).map(i => (i.toLong, s"s${i % 3}")).toDF("k", "status")
    a.repartition(3).write.mode("overwrite").parquet(srcDir)
    GraftSession.withExtensions(spark) { sess =>
      // first copy creates the table and loads every data file
      val r1 = sess.sql(s"COPY INTO gvt.`$root` FROM '$srcDir' " +
        "FILEFORMAT = PARQUET").head()
      assert(r1.getLong(0) == 3L && r1.getLong(1) == 40L)
      // identical rerun: a no-op
      val r2 = sess.sql(s"COPY INTO gvt.`$root` FROM '$srcDir' " +
        "FILEFORMAT = PARQUET").head()
      assert(r2.getLong(0) == 0L && r2.getLong(1) == 0L)
      // files appended to the directory later load incrementally
      (41 to 50).map(i => (i.toLong, "s9")).toDF("k", "status")
        .repartition(2).write.mode("append").parquet(srcDir)
      val r3 = sess.sql(s"COPY INTO gvt.`$root` FROM '$srcDir' " +
        "FILEFORMAT = PARQUET").head()
      assert(r3.getLong(0) == 2L && r3.getLong(1) == 10L)
      assert(VersionedTable.readLatest(sess, root).count() == 50)
      // PATTERN filters on file name
      val root2 = fresh("copypat")
      val rp = sess.sql(s"COPY INTO gvt.`$root2` FROM '$srcDir' " +
        "FILEFORMAT = PARQUET PATTERN = '*.parquet'").head()
      assert(rp.getLong(0) == 5L && rp.getLong(1) == 50L)
      val rn = sess.sql(s"COPY INTO gvt.`$root2` FROM '$srcDir' " +
        "FILEFORMAT = PARQUET PATTERN = 'nomatch-*'").head()
      assert(rn.getLong(0) == 0L)
    }
    // the loaded-file registry survives chain folding (meta carried)
    VersionedTable.compactChain(spark, root)
    assert(VersionedTable.copyInto(spark, root, srcDir)._1 == 0L)
  }

  test("VACUUM DRY RUN reports without deleting; TRUNCATE empties; " +
      "RESTORE TIMESTAMP AS OF resolves") {
    val root = fresh("maint2")
    VersionedTable.write((1 to 10).toDF("id"), root)
    Thread.sleep(5L)
    val tsAfterV1 = System.currentTimeMillis
    Thread.sleep(5L)
    VersionedTable.write((1 to 20).toDF("id"), root)
    VersionedTable.write((1 to 30).toDF("id"), root)
    GraftSession.withExtensions(spark) { sess =>
      import sess.implicits._
      // DRY RUN: v1/v2 would drop, nothing actually deleted
      val would = sess.sql(s"VACUUM gvt.`$root` RETAIN 0 HOURS DRY RUN")
        .as[Long].collect().toSeq
      assert(would == Seq(1L, 2L))
      assert(VersionedTable.versions(root).toSet == Set(1L, 2L, 3L))
      // RESTORE TIMESTAMP AS OF: newest snapshot at/before the ts = v1
      sess.sql(s"RESTORE TABLE gvt.`$root` TO TIMESTAMP AS OF '$tsAfterV1'")
        .collect()
      assert(VersionedTable.readLatest(sess, root).count() == 10)
      // TRUNCATE: empty snapshot, schema kept, history intact
      sess.sql(s"TRUNCATE TABLE gvt.`$root`").collect()
      val live = VersionedTable.readLatest(sess, root)
      assert(live.count() == 0 && live.columns.toSeq == Seq("id"))
      assert(VersionedTable.readVersion(sess, root, 3L).count() == 30)
    }
  }

  test("identity columns: monotonic unique ids across appends, " +
      "explicit values push the watermark, merge fills new rows") {
    val root = fresh("ident")
    val o = (1 to 10).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    VersionedTable.write(o, root)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS " +
        "(rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 2))")
    }
    assert(VersionedTable.identityColumns(root) == Map("rid" -> (100L, 2L)))
    // pre-registration rows read NULL (no silent backfill)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).isEmpty)
    // first assigning append: ids from 100 by 2
    VersionedTable.append((11 to 15).map(i => (i.toLong, s"s$i"))
      .toDF("k", "s").coalesce(1).sortWithinPartitions("k"), root,
      allowEvolution = true)
    val ids1 = VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).select("rid").as[Long]
      .collect().toSeq.sorted
    assert(ids1 == Seq(100L, 102L, 104L, 106L, 108L))
    // second append continues above the watermark — never reuses
    VersionedTable.append(Seq((16L, "s16")).toDF("k", "s"), root,
      allowEvolution = true)
    val ids2 = VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).select("rid").as[Long].collect().toSeq
    assert(ids2.distinct.size == 6 && ids2.max == 110L)
    // explicit value passes through and pushes the watermark past it
    VersionedTable.append(Seq((17L, "s17", 500L)).toDF("k", "s", "rid"),
      root, allowEvolution = true)
    VersionedTable.append(Seq((18L, "s18")).toDF("k", "s"), root,
      allowEvolution = true)
    val ids3 = VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).select("rid").as[Long].collect().toSeq
    assert(ids3.contains(500L) && ids3.max == 502L)
    assert(ids3.distinct.size == ids3.size)
    // the watermark survives compaction (carried meta)
    VersionedTable.compact(spark, root)
    VersionedTable.append(Seq((19L, "s19")).toDF("k", "s"), root,
      allowEvolution = true)
    val ids4 = VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).select("rid").as[Long].collect().toSeq
    assert(ids4.max == 504L && ids4.distinct.size == ids4.size)
  }

  test("identity columns: multi-partition batches assign the exact " +
    "contiguous run (columnar per-partition offsets)") {
    val root = fresh("identmp")
    VersionedTable.write((1 to 10).map(i => (i.toLong, s"s$i")).toDF("k", "s"),
      root)
    VersionedTable.addIdentityColumn(spark, root, "rid")
    // 8-partition batch, ids must be exactly the next contiguous run
    VersionedTable.append(
      (11 to 210).map(i => (i.toLong, s"s$i")).toDF("k", "s").repartition(8),
      root, allowEvolution = true)
    val ids1 = VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).select("rid").as[Long].collect().toSeq
    assert(ids1.sorted == (1L to 200L))
    // a second multi-partition batch MIXING explicit and missing values
    // continues past the pushed watermark, still no dup or gap beyond it
    VersionedTable.append(
      (211 to 310).map(i => (i.toLong, s"s$i", if (i % 3 == 0) 1000L + i else -1L))
        .toDF("k", "s", "rid")
        .withColumn("rid", when(col("rid") === -1L, lit(null)).otherwise(col("rid")))
        .repartition(5), root)
    val all = VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).select("rid").as[Long].collect().toSeq
    assert(all.distinct.size == all.size) // never a duplicate
    val explicit = (211 to 310).filter(_ % 3 == 0).map(1000L + _)
    val hw = explicit.max // the max explicit value pushes the watermark
    val assigned2 = all.toSet -- ids1.toSet -- explicit.toSet
    // the 67 missing values got the contiguous run AFTER the pushed max
    assert(assigned2.size == 100 - explicit.size)
    assert(assigned2 == ((hw + 1) to (hw + assigned2.size)).toSet)
  }

  test("identity columns: racing writers never commit duplicate ids") {
    val root = fresh("identrace")
    VersionedTable.write((1 to 5).map(i => (i.toLong, s"s$i")).toDF("k", "s"),
      root)
    VersionedTable.addIdentityColumn(spark, root, "rid")
    // two writers, each appending 4 batches with bounded retry on the
    // commit-marker conflict: the loser re-reads the watermark, so
    // committed ids can never collide
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def writer(tag: Int): Future[Unit] = Future {
      for (b <- 1 to 4) {
        val batch = Seq((tag * 1000L + b, s"w$tag-$b")).toDF("k", "s")
        var done = false
        var spins = 0
        while (!done) {
          try { VersionedTable.append(batch, root, allowEvolution = true); done = true }
          catch { case _: VersionedTable.ConcurrentWriteException =>
            spins += 1; assert(spins < 50); Thread.sleep(5L)
          }
        }
      }
    }
    try Await.result(Future.sequence(Seq(writer(1), writer(2))), 120.seconds)
    finally pool.shutdown()
    val ids = VersionedTable.readLatest(spark, root)
      .filter(col("rid").isNotNull).select("rid").as[Long].collect().toSeq
    assert(ids.size == 8, s"expected 8 assigned ids, got ${ids.size}")
    assert(ids.distinct.size == 8, s"duplicate identity ids committed: $ids")
    assert(ids.toSet == (1L to 8L).toSet, s"ids not the contiguous run: $ids")
  }

  test("ADD COLUMNS … GENERATED ALWAYS AS (expr): omitted values " +
      "compute, wrong explicit values refuse, old rows read NULL") {
    val root = fresh("gencol")
    VersionedTable.write((1 to 10).map(i => (i.toLong, i.toLong * 100))
      .toDF("k", "cents"), root)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS " +
        "(cents2 BIGINT GENERATED ALWAYS AS (cents * 2))")
    }
    assert(VersionedTable.generatedColumns(root) == Map("cents2" -> "cents * 2"))
    // rows predating the registration read NULL (write-time contract)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("cents2").isNotNull).isEmpty)
    // appends omitting the column compute it
    VersionedTable.append(Seq((11L, 1100L)).toDF("k", "cents"), root,
      allowEvolution = true)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("k") === 11L).select("cents2").as[Long].head() == 2200L)
    // a frame supplying a DISAGREEING value refuses to commit
    intercept[VersionedTable.CheckConstraintViolation] {
      VersionedTable.append(Seq((12L, 1200L, 9L)).toDF("k", "cents", "cents2"),
        root)
    }
  }

  test("ADD COLUMNS is atomic: a failing add leaves no partial state") {
    val root = fresh("addatomic")
    VersionedTable.write((1 to 10).map(i => (i.toLong, s"s$i")).toDF("k", "s"),
      root)
    GraftSession.withExtensions(spark) { sess =>
      // name clash detected up front: the generated column in the SAME
      // list must NOT stay registered (r10: registration ran first)
      val e1 = intercept[IllegalArgumentException] {
        sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS " +
          "(g BIGINT GENERATED ALWAYS AS (k * 2), s STRING)")
      }
      assert(e1.getMessage.contains("already exist"))
      assert(VersionedTable.generatedColumns(root).isEmpty)
      assert(VersionedTable.latestVersion(root).contains(1L))
      // identity BIGINT check runs BEFORE the schema commit (r10: it ran
      // after, leaving the column added without its registration)
      val e2 = intercept[IllegalArgumentException] {
        sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS " +
          "(rid INT GENERATED ALWAYS AS IDENTITY)")
      }
      assert(e2.getMessage.contains("BIGINT"))
      assert(VersionedTable.latestVersion(root).contains(1L))
      assert(VersionedTable.identityColumns(root).isEmpty)
      assert(!VersionedTable.readLatest(sess, root).columns.contains("rid"))
    }
  }

  test("column DEFAULT: fills omitted columns at write, explicit NULL " +
      "stays NULL, DROP DEFAULT stops the fill") {
    val root = fresh("dflt")
    VersionedTable.write((1 to 10).map(i => (i.toLong, s"s$i")).toDF("k", "s"),
      root)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS (tier STRING)")
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN tier SET DEFAULT " +
        "'bronze'")
    }
    // omitted → filled
    VersionedTable.append(Seq((11L, "s11")).toDF("k", "s"), root,
      allowEvolution = true)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("k") === 11L).select("tier").as[String].head() == "bronze")
    // explicit NULL stays NULL (SQL DEFAULT contract)
    VersionedTable.append(
      Seq((12L, "s12", null.asInstanceOf[String])).toDF("k", "s", "tier"),
      root)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("k") === 12L).select("tier").isEmpty === false)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("k") === 12L && col("tier").isNull).count() == 1)
    // pre-registration rows stay NULL (write-time, never backfill)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("k") <= 10L && col("tier").isNull).count() == 10)
    // DROP DEFAULT stops the fill
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN tier DROP DEFAULT")
    }
    VersionedTable.append(Seq((13L, "s13")).toDF("k", "s"), root,
      allowEvolution = true)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("k") === 13L && col("tier").isNull).count() == 1)
    // unknown-column registration refused
    intercept[IllegalArgumentException] {
      VersionedTable.setColumnDefault(spark, root, "nope", "'x'")
    }
  }

  test("bloom skipping: point lookup on an UNCLUSTERED column prunes " +
      "files; absent value touches zero files; un-bloomed dirs stay sound") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = fresh("bloom")
    val o = (1 to 400).map(i => (i.toLong, i.toLong * 10)).toDF("k", "cents")
      .withColumn("id", md5(concat(lit("id-"), col("k").cast("string"))))
    // hash-repartition: ids scatter across files — zone maps CANNOT
    // prune equality here (every file spans the whole value space)
    VersionedTable.write(o.repartition(8, col("k")), root)
    VersionedTable.collectBlooms(spark, root, 1L, Seq("id"))
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numFiles").value).sum
    }
    def probe(k: Int): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s"id-$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // present value: exactly its file survives (±bloom FPs, far under 8)
    val hit = spark.read.format("gvt").load(root)
      .filter(col("id") === probe(7))
    assert(hit.count() == 1)
    assert(scanned(spark.read.format("gvt").load(root)
      .filter(col("id") === probe(7))) <= 2,
      "bloom pruning dead: point lookup scanned most files")
    // absent value: NO file can contain it — zero files planned
    assert(scanned(spark.read.format("gvt").load(root)
      .filter(col("id") === probe(99999))) == 0)
    // IN-list probe (r11): the union of per-value candidate sets — a
    // 3-value lookup plans at most 3 files' worth (+FPs), not all 8,
    // and the rows all land
    val in3 = spark.read.format("gvt").load(root)
      .filter(col("id").isin(probe(7), probe(123), probe(333)))
    assert(in3.count() == 3)
    assert(scanned(spark.read.format("gvt").load(root)
      .filter(col("id").isin(probe(7), probe(123), probe(333)))) <= 5,
      "IN-list bloom pruning dead: scanned most files")
    // an all-absent IN list plans zero files
    assert(scanned(spark.read.format("gvt").load(root)
      .filter(col("id").isin(probe(99998), probe(99997)))) == 0)
    // an appended dir WITHOUT blooms is kept whole (sound), and its
    // rows are findable
    VersionedTable.append(
      Seq((401L, 4010L)).toDF("k", "cents")
        .withColumn("id", md5(concat(lit("id-"), col("k").cast("string")))),
      root)
    // the writer-option surface collects blooms per append commit
    Seq((402L, 4020L)).toDF("k", "cents")
      .withColumn("id", md5(concat(lit("id-"), col("k").cast("string"))))
      .write.format("gvt").mode("append")
      .option("bloomFilterCols", "id").save(root)
    assert(new java.io.File(s"$root/v=3/_bloom").exists())
    assert(spark.read.format("gvt").load(root)
      .filter(col("id") === probe(402)).count() == 1)
    assert(spark.read.format("gvt").load(root)
      .filter(col("id") === probe(401)).count() == 1)
    assert(spark.read.format("gvt").load(root)
      .filter(col("id") === probe(7)).count() == 1)
  }

  test("CREATE BLOOMFILTER INDEX: backfills the live chain, future " +
    "commits auto-collect, DROP removes sidecars and readers degrade") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = fresh("bloomidx")
    def mk(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, i.toLong * 10)).toDF("k", "cents")
        .withColumn("id", md5(concat(lit("id-"), col("k").cast("string"))))
    VersionedTable.write(mk(1, 200).repartition(4, col("k")), root)
    VersionedTable.append(mk(201, 400).repartition(4, col("k")), root)
    def probe(k: Int): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s"id-$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numFiles").value).sum
    }
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE BLOOMFILTER INDEX ON TABLE gvt.`$root` " +
        "FOR COLUMNS (id)")
      // backfill covers BOTH chain dirs
      assert(new java.io.File(s"$root/v=1/_bloom").exists())
      assert(new java.io.File(s"$root/v=2/_bloom").exists())
      assert(scanned(sess.read.format("gvt").load(root)
        .filter(col("id") === probe(7))) <= 2)
      assert(scanned(sess.read.format("gvt").load(root)
        .filter(col("id") === probe(99999))) == 0)
      // future commits collect automatically under the property
      VersionedTable.append(mk(401, 420), root)
      assert(new java.io.File(s"$root/v=3/_bloom").exists(),
        "the index property did not auto-collect on append")
      assert(sess.read.format("gvt").load(root)
        .filter(col("id") === probe(405)).count() == 1)
      // unknown column refuses
      intercept[Exception] {
        sess.sql(s"CREATE BLOOMFILTER INDEX ON TABLE gvt.`$root` " +
          "FOR COLUMNS (nope)")
      }
      // DROP removes sidecars; lookups stay correct, just unskipped
      sess.sql(s"DROP BLOOMFILTER INDEX ON TABLE gvt.`$root`")
      assert(!new java.io.File(s"$root/v=1/_bloom").exists())
      assert(!new java.io.File(s"$root/v=3/_bloom").exists())
      assert(sess.read.format("gvt").load(root)
        .filter(col("id") === probe(7)).count() == 1)
      VersionedTable.append(mk(421, 425), root)
      assert(!new java.io.File(s"$root/v=4/_bloom").exists(),
        "collection kept running after DROP")
    }
  }

  test("SHOW CREATE TABLE emits re-executable DDL: running it on a " +
    "fresh path recreates schema, layout, and registrations") {
    val root = fresh("showcreate")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE TABLE gvt.`$root` (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY (START WITH 5 INCREMENT BY 2), k BIGINT NOT NULL, " +
        "src STRING DEFAULT 'boot', v2 BIGINT GENERATED ALWAYS AS (k * 2), " +
        "part STRING) USING gvt PARTITIONED BY (part) " +
        "TBLPROPERTIES ('owner' = 'dds')")
      sess.sql(s"ALTER TABLE gvt.`$root` ADD CONSTRAINT k_small " +
        "CHECK (k < 1000)")
      val stmts = sess.sql(s"SHOW CREATE TABLE gvt.`$root`")
        .collect().map(_.getString(0)).toSeq
      assert(stmts.head.contains("NOT NULL"))
      assert(stmts.head.contains("GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 5 INCREMENT BY 2)"))
      assert(stmts.head.contains("GENERATED ALWAYS AS (k * 2)"))
      assert(stmts.head.contains("DEFAULT 'boot'"))
      assert(stmts.head.contains("PARTITIONED BY (part)"))
      assert(stmts.head.contains("'owner' = 'dds'"))
      assert(stmts.exists(_.contains("ADD CONSTRAINT k_small")))
      // round trip: replay the DDL at a fresh root
      val root2 = fresh("showcreate2")
      stmts.map(_.replace(root, root2)).foreach(sess.sql(_))
      assert(VersionedTable.readLatest(sess, root2).schema ==
        VersionedTable.readLatest(sess, root).schema)
      assert(VersionedTable.identityColumns(root2) ==
        VersionedTable.identityColumns(root))
      assert(VersionedTable.generatedColumns(root2) ==
        VersionedTable.generatedColumns(root))
      assert(VersionedTable.columnDefaults(root2) ==
        VersionedTable.columnDefaults(root))
      assert(VersionedTable.constraints(root2) ==
        VersionedTable.constraints(root))
      assert(VersionedTable.tblProperties(root2) ==
        VersionedTable.tblProperties(root))
      // and the recreated table behaves: identity + default + layout
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sc2_t USING gvt " +
        s"OPTIONS (path '$root2')")
      sess.sql("INSERT INTO sc2_t (k, part) VALUES (1, 'p0')")
      val row = VersionedTable.readLatest(sess, root2).head()
      assert(row.getAs[Long]("id") == 5L)
      assert(row.getAs[String]("src") == "boot")
      assert(row.getAs[Long]("v2") == 2L)
    }
  }

  test("bloom pruning reaches the DV-relation path (string equality " +
      "through prunedVersionRead)") {
    import graft.sources.gvt.GvtDvRelation
    val root = fresh("bloomdv")
    val o = (1 to 400).map(i => (i.toLong, i.toLong * 10)).toDF("k", "cents")
      .withColumn("id", md5(concat(lit("id-"), col("k").cast("string"))))
    VersionedTable.write(o.repartition(8, col("k")), root,
      statsCols = Seq("id"))
    VersionedTable.collectBlooms(spark, root, 1L, Seq("id"))
    // a pending deletion vector routes format("gvt") through the
    // resolving relation — the prunedVersionRead path
    VersionedTable.deleteWhereVector(spark, root, col("k") === 400L)
    def probe(k: Int): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s"id-$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    GvtDvRelation.captureScanFiles = true
    try {
      val got = spark.read.format("gvt").load(root)
        .filter(col("id") === probe(7)).collect()
      assert(got.length == 1 && got.head.getAs[Long]("k") == 7L)
      // budget: the probed data file (+ bloom FPs) + the DV commit's
      // empty slice + the _dv payload — an unpruned scan reads all 8
      // data files and lands at 10+
      assert(GvtDvRelation.lastScanFiles <= 5,
        s"DV-path bloom pruning dead: ${GvtDvRelation.lastScanFiles} files")
      // deleted row stays deleted even when its file survives the probe
      assert(spark.read.format("gvt").load(root)
        .filter(col("id") === probe(400)).isEmpty)
    } finally GvtDvRelation.captureScanFiles = false
  }

  test("catalog CREATE TABLE … USING gvt works end to end") {
    val root = fresh("cat")
    VersionedTable.write((1 to 25).toDF("id"), root)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql("DROP TABLE IF EXISTS gvt_cat_t")
      sess.sql(s"CREATE TABLE gvt_cat_t USING gvt OPTIONS (path '$root')")
      try {
        assert(sess.sql("SELECT count(*) AS n FROM gvt_cat_t")
          .as[Long].head() == 25L)
        // DML through the catalog table name
        sess.sql("DELETE FROM gvt_cat_t WHERE id % 5 = 0")
        sess.catalog.refreshTable("gvt_cat_t")
        assert(sess.sql("SELECT count(*) AS n FROM gvt_cat_t")
          .as[Long].head() == 20L)
        // maintenance SQL resolves the catalog name too
        assert(sess.sql("DESCRIBE HISTORY gvt_cat_t").count() == 2L)
        // MERGE WITH SCHEMA EVOLUTION widens a catalog-named target
        // (the source view must live in the SIBLING session's catalog)
        sess.createDataFrame(Seq((3, "x"), (99, "y"))).toDF("id", "tag")
          .createOrReplaceTempView("cat_evo_src")
        sess.sql("""MERGE WITH SCHEMA EVOLUTION INTO gvt_cat_t t
          USING cat_evo_src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
        val evolved = VersionedTable.readLatest(sess, root)
        assert(evolved.columns.toSeq == Seq("id", "tag"))
        assert(evolved.filter(col("tag").isNotNull).count() == 2L)
        // catalog CTAS routes through the commit protocol out of the box
        val ctasRoot = fresh("ctas")
        sess.sql("DROP TABLE IF EXISTS gvt_ctas_t")
        sess.sql(s"CREATE TABLE gvt_ctas_t USING gvt OPTIONS (path " +
          s"'$ctasRoot') AS SELECT id, id * 10 AS v FROM gvt_cat_t")
        try {
          assert(sess.sql("SELECT count(*) AS n FROM gvt_ctas_t")
            .as[Long].head() ==
            sess.sql("SELECT count(*) AS n FROM gvt_cat_t").as[Long].head())
          assert(VersionedTable.latestVersion(ctasRoot).contains(1L))
        } finally sess.sql("DROP TABLE IF EXISTS gvt_ctas_t")
      } finally sess.sql("DROP TABLE IF EXISTS gvt_cat_t")
    }
  }

  test("SHOW PARTITIONS: hive specs from directory names, across an " +
      "append chain; catalog SHOW PARTITIONS untouched") {
    val root = fresh("showparts")
    VersionedTable.write((1 to 40).map(i => (i.toLong, s"p${i % 2}", i % 2))
      .toDF("k", "part", "b"), root, partitionBy = Seq("part", "b"))
    // the append contributes a NEW partition value
    VersionedTable.append(Seq((41L, "p9", 9)).toDF("k", "part", "b"), root)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW parts_t USING gvt " +
        s"OPTIONS (path '$root')")
      val got = sess.sql("SHOW PARTITIONS parts_t")
        .as[String].collect().toSeq
      assert(got == Seq("part=p0/b=0", "part=p1/b=1", "part=p9/b=9"))
      // an unpartitioned gvt table refuses, like Spark's own verb
      val flat = fresh("showflat")
      VersionedTable.write((1 to 5).toDF("id"), flat)
      assert(intercept[IllegalArgumentException] {
        sess.sql(s"SHOW PARTITIONS gvt.`$flat`").collect()
      }.getMessage.contains("not partitioned"))
    }
  }

  test("CONVERT TO GVT: in-place conversion renames files, never copies; " +
      "the converted table appends, time-travels, and prunes") {
    val dir = Files.createTempDirectory("graft_convert").toString + "/t"
    val o = (1 to 80).map(i => (i.toLong, s"p${i % 2}", i * 10L))
      .toDF("k", "part", "v")
    o.write.partitionBy("part").parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeFiles = before.inputFiles.map(f =>
      new org.apache.hadoop.fs.Path(f).getName).toSet
    val v1 = GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CONVERT TO GVT parquet.`$dir`").collect().head.getLong(0)
    }
    assert(v1 == 1L)
    val t = VersionedTable.readLatest(spark, dir)
    assert(t.count() == 80)
    assert(t.agg(sum("v")).as[Long].head() == (1 to 80).map(_ * 10L).sum)
    // zero-copy: the converted snapshot reads the SAME files (renamed)
    val afterFiles = t.inputFiles.map(f =>
      new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(afterFiles == beforeFiles)
    assert(t.inputFiles.forall(_.contains("/v=1/")))
    // hive layout survives: partition pruning works on the conversion
    assert(t.filter(col("part") === "p1").count() == 40)
    // the table is fully live: append + history + time travel
    VersionedTable.append((81 to 90).map(i => (i.toLong, s"p${i % 2}", i * 10L))
      .toDF("k", "part", "v"), dir)
    assert(VersionedTable.readLatest(spark, dir).count() == 90)
    assert(VersionedTable.readVersion(spark, dir, 1L).count() == 80)
    assert(VersionedTable.history(spark, dir).select("operation")
      .as[String].collect().toSeq.contains("CONVERT"))
    // converting an existing gvt table refuses
    assert(intercept[IllegalArgumentException] {
      VersionedTable.convertFromParquet(spark, dir)
    }.getMessage.contains("already"))
    // a stray non-parquet data file refuses (and reverts the renames)
    val dir2 = Files.createTempDirectory("graft_convert2").toString + "/t"
    (1 to 5).toDF("id").write.parquet(dir2)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "junk.txt"),
      "x".getBytes)
    assert(intercept[IllegalArgumentException] {
      VersionedTable.convertFromParquet(spark, dir2)
    }.getMessage.contains("non-parquet"))
    // untouched: no v=1 appeared, the parquet files still sit at top level
    val d2 = new java.io.File(dir2)
    assert(!new java.io.File(d2, "v=1").exists())
    assert(d2.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("ALTER COLUMN TYPE: lossless widening without a rewrite; history " +
    "keeps the narrow type; narrowing refused") {
    val root = fresh("widen")
    VersionedTable.write((1 to 30).map(i => (i, i.toFloat / 2, s"s$i"))
      .toDF("k", "w", "s"), root)                               // v1: int, float
    val filesBefore = VersionedTable.readLatest(spark, root).inputFiles.toSet
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN k TYPE BIGINT").collect()
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN w TYPE DOUBLE").collect()
      // live schema widened, values intact, no data file rewritten
      val live = VersionedTable.readLatest(sess, root)
      assert(live.schema("k").dataType == org.apache.spark.sql.types.LongType)
      assert(live.schema("w").dataType == org.apache.spark.sql.types.DoubleType)
      assert(live.count() == 30)
      assert(live.agg(sum("k")).as[Long].head() == (1 to 30).sum.toLong)
      assert(filesBefore.subsetOf(live.inputFiles.toSet))
      // the FILE-RELATION read path widens too (parquet reader promotion)
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW widen_t USING gvt " +
        s"OPTIONS (path '$root')")
      assert(sess.sql("SELECT sum(k) AS s FROM widen_t").as[Long].head() ==
        (1 to 30).sum.toLong)
      // appends carry the widened type; the union coerces old files
      VersionedTable.append(Seq((31L, 15.5d, "s31")).toDF("k", "w", "s"), root)
      assert(VersionedTable.readLatest(sess, root).agg(sum("k"))
        .as[Long].head() == (1 to 31).sum.toLong)
      // history keeps the narrow type (time travel)
      assert(VersionedTable.readVersion(sess, root, 1L).schema("k").dataType ==
        org.apache.spark.sql.types.IntegerType)
      // narrowing and lossy changes fail loudly, nothing committed
      val vBefore = VersionedTable.latestVersion(root).get
      val e = intercept[IllegalArgumentException] {
        sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN k TYPE INT").collect()
      }
      assert(e.getMessage.contains("widening"))
      intercept[IllegalArgumentException] {
        VersionedTable.widenColumnType(sess, root, "s",
          org.apache.spark.sql.types.LongType)
      }
      assert(VersionedTable.latestVersion(root).contains(vBefore))
    }
  }

  test("SQL INSERT INTO: positional, VALUES, column list with DEFAULT, " +
    "static PARTITION, OVERWRITE, OVERWRITE PARTITION = replaceWhere") {
    val root = fresh("insert")
    VersionedTable.write(
      Seq((1L, "a", "p0"), (2L, "b", "p1")).toDF("k", "s", "part"),
      root, partitionBy = Seq("part"))
    GraftSession.withExtensions(spark) { sess =>
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW ins_t " +
        s"USING gvt OPTIONS (path '$root')")
      view()
      // positional VALUES append (store-assignment casts: int → long)
      sess.sql("INSERT INTO ins_t VALUES (3, 'c', 'p0'), (4, 'd', 'p1')")
      assert(VersionedTable.readLatest(sess, root).count() == 4)
      // INSERT … SELECT
      sess.sql("INSERT INTO ins_t SELECT 5L, 'e', 'p0'")
      assert(VersionedTable.readLatest(sess, root)
        .filter(col("part") === "p0").count() == 3)
      // static PARTITION spec: the value becomes the column
      sess.sql("INSERT INTO ins_t PARTITION (part='p2') VALUES (6, 'f')")
      assert(VersionedTable.readLatest(sess, root)
        .filter(col("part") === "p2").select("k").as[Long].head() == 6L)
      // column list: unlisted column fills from its DEFAULT
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN s SET DEFAULT 'dflt'")
      sess.sql("INSERT INTO ins_t (k, part) VALUES (7, 'p0')")
      assert(VersionedTable.readLatest(sess, root)
        .filter(col("k") === 7).select("s").as[String].head() == "dflt")
      // hive layout preserved by the appends
      assert(VersionedTable.readLatest(sess, root)
        .filter(col("part") === "p0").count() == 4)
      // OVERWRITE PARTITION: one replaceWhere commit, p1 untouched
      view()
      sess.sql("INSERT OVERWRITE ins_t PARTITION (part='p0') VALUES (10, 'x')")
      val live = VersionedTable.readLatest(sess, root)
      assert(live.filter(col("part") === "p0").count() == 1)
      assert(live.filter(col("part") === "p1").count() == 2)
      // full OVERWRITE replaces everything, keeps the layout
      view()
      sess.sql("INSERT OVERWRITE ins_t VALUES (20, 'z', 'p9')")
      assert(VersionedTable.readLatest(sess, root).count() == 1)
      assert(VersionedTable.partColsOf(new org.apache.hadoop.fs.Path(
        s"$root/v=${VersionedTable.latestVersion(root).get}")) == Seq("part"))
      // inexpressible shapes fail loudly
      view()
      intercept[Exception] {
        sess.sql("INSERT INTO ins_t VALUES (1, 'too-few')")
      }
    }
  }

  test("SQL INSERT OVERWRITE dynamic partitions: only the batch's " +
    "partitions are replaced; untouched partition files stay on disk") {
    val root = fresh("insdyn")
    VersionedTable.write(
      Seq((1L, "a", "p0"), (2L, "b", "p1"), (3L, "c", "p2"),
        (4L, "d", "p3"), (5L, "e", "p1")).toDF("k", "s", "part"),
      root, partitionBy = Seq("part"))
    GraftSession.withExtensions(spark) { sess =>
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW dyn_t " +
        s"USING gvt OPTIONS (path '$root')")
      view()
      // v1's data files are never rewritten by the replaceWhere commit
      val v1Files = {
        val d = new java.io.File(s"$root/v=1")
        def walk(f: java.io.File): Seq[(String, Long)] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else Seq((f.getPath, f.length()))
        walk(d).sorted
      }
      // explicit dynamic spec: p1 and p2 get replaced, p0/p3 untouched
      sess.sql("INSERT OVERWRITE dyn_t PARTITION (part) " +
        "VALUES (10, 'x', 'p1'), (11, 'y', 'p2'), (12, 'z', 'p2')")
      val live = VersionedTable.readLatest(sess, root)
      assert(live.filter(col("part") === "p0").select("k").as[Long]
        .collect().toSet == Set(1L))
      assert(live.filter(col("part") === "p1").select("k").as[Long]
        .collect().toSet == Set(10L))
      assert(live.filter(col("part") === "p2").select("k").as[Long]
        .collect().toSet == Set(11L, 12L))
      assert(live.filter(col("part") === "p3").select("k").as[Long]
        .collect().toSet == Set(4L))
      val v1After = {
        val d = new java.io.File(s"$root/v=1")
        def walk(f: java.io.File): Seq[(String, Long)] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else Seq((f.getPath, f.length()))
        walk(d).sorted
      }
      assert(v1After == v1Files, "the dynamic overwrite rewrote v1 files")
      // bare INSERT OVERWRITE under partitionOverwriteMode=dynamic:
      // the table's layout columns resolve dynamically
      view()
      val prior = sess.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static")
      sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try sess.sql("INSERT OVERWRITE dyn_t VALUES (20, 'w', 'p3')")
      finally sess.conf.set(
        "spark.sql.sources.partitionOverwriteMode", prior)
      val live2 = VersionedTable.readLatest(sess, root)
      assert(live2.filter(col("part") === "p3").select("k").as[Long]
        .collect().toSet == Set(20L))
      assert(live2.count() == 5) // p0(1) p1(1) p2(2) p3(1)
      // NULL dynamic partition value: hive default partition round-trips
      view()
      sess.sql("INSERT OVERWRITE dyn_t PARTITION (part) " +
        "VALUES (30, 'n', CAST(NULL AS STRING))")
      val live3 = VersionedTable.readLatest(sess, root)
      assert(live3.filter(col("part").isNull).select("k").as[Long]
        .collect().toSet == Set(30L))
      assert(live3.count() == 6)
      // a second NULL-partition overwrite replaces the first
      view()
      sess.sql("INSERT OVERWRITE dyn_t PARTITION (part) " +
        "VALUES (31, 'n', CAST(NULL AS STRING))")
      val live4 = VersionedTable.readLatest(sess, root)
      assert(live4.filter(col("part").isNull).select("k").as[Long]
        .collect().toSet == Set(31L))
      // a dynamic key that is not a hive layout column fails loudly
      view()
      val e = intercept[Exception] {
        sess.sql("INSERT OVERWRITE dyn_t PARTITION (s) " +
          "VALUES (40, 'p5', 'oops')")
      }
      assert(String.valueOf(e.getMessage).contains("layout"))
    }
  }

  test("SQL INSERT OVERWRITE dynamic: multi-level layouts replace per " +
    "tuple; static+dynamic mix pins the static level") {
    val root = fresh("insdyn2")
    VersionedTable.write(
      Seq((1L, "a", "x", "p0"), (2L, "b", "x", "p1"),
        (3L, "c", "y", "p0"), (4L, "d", "y", "p1"))
        .toDF("k", "s", "a", "b"),
      root, partitionBy = Seq("a", "b"))
    GraftSession.withExtensions(spark) { sess =>
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW dyn2_t " +
        s"USING gvt OPTIONS (path '$root')")
      view()
      // both levels dynamic: only (x,p1) and (y,p0) replaced
      sess.sql("INSERT OVERWRITE dyn2_t PARTITION (a, b) " +
        "VALUES (10, 'u', 'x', 'p1'), (11, 'v', 'y', 'p0')")
      val live = VersionedTable.readLatest(sess, root)
      assert(live.select("k").as[Long].collect().toSet ==
        Set(1L, 4L, 10L, 11L))
      // static a='x' + dynamic b: replaces (x,p0) only; y rows untouched
      view()
      sess.sql("INSERT OVERWRITE dyn2_t PARTITION (a='x', b) " +
        "VALUES (20, 'w', 'p0')")
      val live2 = VersionedTable.readLatest(sess, root)
      assert(live2.select("k").as[Long].collect().toSet ==
        Set(4L, 10L, 11L, 20L))
    }
  }

  test("writer Overwrite under partitionOverwriteMode=dynamic replaces " +
    "only the touched partitions; plain Overwrite still replaces all") {
    val root = fresh("wdyn")
    Seq((1L, "p0"), (2L, "p1"), (3L, "p2")).toDF("k", "part")
      .write.format("gvt").option("partitionBy", "part").save(root)
    // dynamic: only p1 is in the batch — p0/p2 survive
    Seq((10L, "p1")).toDF("k", "part")
      .write.format("gvt").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").save(root)
    val live = VersionedTable.readLatest(spark, root)
    assert(live.select("k").as[Long].collect().toSet == Set(1L, 10L, 3L))
    // plain Overwrite (static default): the whole table is replaced
    Seq((20L, "p9")).toDF("k", "part")
      .write.format("gvt").mode("overwrite")
      .option("partitionBy", "part").save(root)
    assert(VersionedTable.readLatest(spark, root)
      .select("k").as[Long].collect().toSet == Set(20L))
  }

  test("SQL INSERT OVERWRITE dynamic: raced writers on different " +
    "partitions both land via retry") {
    val root = fresh("insdynrace")
    VersionedTable.write(
      Seq((1L, "p0"), (2L, "p1"), (3L, "p2"), (4L, "p3"))
        .toDF("k", "part"),
      root, partitionBy = Seq("part"))
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW dynrace_t " +
        s"USING gvt OPTIONS (path '$root')")
      val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val ts = (0 to 3).map { i =>
        new Thread(() => {
          start.await()
          try sess.sql(s"INSERT OVERWRITE dynrace_t PARTITION (part) " +
            s"VALUES (${100 + i}, 'p$i')")
          catch { case t: Throwable => unexpected.add(t); () }
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
      assert(unexpected.isEmpty, s"raced dynamic overwrite died: " +
        unexpected.asScala.map(t =>
          s"${t.getClass.getName}: ${t.getMessage}").mkString("; "))
      val live = VersionedTable.readLatest(sess, root)
      assert(live.select("k").as[Long].collect().toSet ==
        Set(100L, 101L, 102L, 103L))
    }
  }

  test("SQL INSERT INTO: raced inserts both commit via retry (no corruption)") {
    val root = fresh("insertrace")
    VersionedTable.write(Seq((0L, "seed")).toDF("k", "s"), root)
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW ins_race " +
        s"USING gvt OPTIONS (path '$root')")
      val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val ts = (1 to 4).map { i =>
        new Thread(() => {
          start.await()
          try sess.sql(s"INSERT INTO ins_race VALUES ($i, 'w$i')")
          catch { case t: Throwable => unexpected.add(t); () }
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
      assert(unexpected.isEmpty, s"raced INSERT died: ${unexpected.asScala
        .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("; ")}")
      val live = VersionedTable.readLatest(sess, root)
      assert(live.count() == 5)
      assert(live.select("k").as[Long].collect().toSet == (0L to 4L).toSet)
    }
  }

  test("CREATE TABLE (schema-first DDL): empty partitioned table, " +
    "INSERTs land on it, duplicate create refuses, IF NOT EXISTS no-ops") {
    val root = fresh("create")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT, s STRING, " +
        s"part STRING) USING gvt PARTITIONED BY (part) " +
        s"TBLPROPERTIES ('owner' = 'dds')")
      // a schema-only v1: zero rows, full declared schema, layout meta
      assert(VersionedTable.latestVersion(root).contains(1L))
      val empty = VersionedTable.readLatest(sess, root)
      assert(empty.columns.toSeq == Seq("k", "s", "part"))
      assert(empty.count() == 0)
      assert(VersionedTable.tblProperties(root)("owner") == "dds")
      // SELECT over the empty table through the relation works
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW create_t USING gvt " +
        s"OPTIONS (path '$root')")
      assert(sess.sql("SELECT count(*) AS n FROM create_t")
        .as[Long].head() == 0L)
      // SHOW PARTITIONS on the empty table: declared layout, no values
      assert(sess.sql(s"SHOW PARTITIONS gvt.`$root`").collect().isEmpty)
      // INSERTs land through the commit protocol WITH the declared layout
      sess.sql("INSERT INTO create_t VALUES (1, 'a', 'p0'), (2, 'b', 'p1')")
      sess.sql("INSERT INTO create_t PARTITION (part='p2') VALUES (3, 'c')")
      val live = VersionedTable.readLatest(sess, root)
      assert(live.count() == 3)
      assert(live.filter(col("part") === "p2").select("k").as[Long]
        .head() == 3L)
      // the first data commit materialized the declared hive layout
      val dataDir = new java.io.File(s"$root/v=2")
      assert(dataDir.listFiles().exists(f =>
        f.isDirectory && f.getName.startsWith("part=")),
        "declared layout not materialized as hive directories")
      assert(sess.sql(s"SHOW PARTITIONS gvt.`$root`").collect()
        .map(_.getString(0)).sorted.toSeq ==
        Seq("part=p0", "part=p1", "part=p2"))
      // duplicate create refuses; IF NOT EXISTS is a no-op
      intercept[Exception] {
        sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT) USING gvt")
      }
      sess.sql(s"CREATE TABLE IF NOT EXISTS gvt.`$root` (other INT) USING gvt")
      assert(VersionedTable.readLatest(sess, root).columns.toSeq ==
        Seq("k", "s", "part"))
    }
  }

  test("CREATE TABLE: catalog name registers; identity and generated " +
    "column suffixes register at create") {
    val root = fresh("createcat")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql("DROP TABLE IF EXISTS gvt_created_t")
      sess.sql(s"CREATE TABLE gvt_created_t (id BIGINT GENERATED ALWAYS " +
        s"AS IDENTITY (START WITH 10 INCREMENT BY 2), v INT, " +
        s"v2 INT GENERATED ALWAYS AS (v * 2)) USING gvt " +
        s"OPTIONS (path '$root')")
      try {
        // the name resolves through the catalog
        assert(sess.sql("SELECT count(*) AS n FROM gvt_created_t")
          .as[Long].head() == 0L)
        // identity fills on insert; generated column fills from v —
        // through the catalog name (the registered relation routes the
        // INSERT into the commit protocol)
        sess.sql("INSERT INTO gvt_created_t (v) VALUES (1), (2)")
        val live = VersionedTable.readLatest(sess, root)
        assert(live.select("id").as[Long].collect().toSet == Set(10L, 12L))
        assert(live.select("v2").as[Int].collect().toSet == Set(2, 4))
      } finally sess.sql("DROP TABLE IF EXISTS gvt_created_t")
    }
  }

  test("CREATE OR REPLACE TABLE redefines schema, layout and " +
    "registrations in one commit; history stays time-travelable") {
    val root = fresh("replace")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT, s STRING DEFAULT 'x') " +
        s"USING gvt TBLPROPERTIES ('owner' = 'one')")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW repl_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("INSERT INTO repl_t (k) VALUES (1)")
      val vOld = VersionedTable.latestVersion(root).get
      // redefinition: k becomes STRING (a type change CREATE alone could
      // never make), new partition layout, new properties, old DEFAULT
      // gone
      sess.sql(s"CREATE OR REPLACE TABLE gvt.`$root` (k STRING, " +
        s"n INT, part STRING) USING gvt PARTITIONED BY (part) " +
        s"TBLPROPERTIES ('owner' = 'two')")
      val live = VersionedTable.readLatest(sess, root)
      assert(live.columns.toSeq == Seq("k", "n", "part"))
      assert(live.schema("k").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(live.count() == 0)
      assert(VersionedTable.tblProperties(root) == Map("owner" -> "two"))
      assert(VersionedTable.columnDefaults(root).isEmpty)
      // the new layout holds for appends
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW repl_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("INSERT INTO repl_t VALUES ('a', 1, 'p0')")
      val v = VersionedTable.latestVersion(root).get
      assert(new java.io.File(s"$root/v=$v").listFiles().exists(f =>
        f.isDirectory && f.getName == "part=p0"))
      // history: the old definition's snapshot still serves
      val old = VersionedTable.readVersion(sess, root, vOld)
      assert(old.columns.toSeq == Seq("k", "s"))
      assert(old.count() == 1)
      // OR REPLACE + IF NOT EXISTS refuses
      intercept[Exception] {
        sess.sql(s"CREATE OR REPLACE TABLE IF NOT EXISTS gvt.`$root` " +
          "(z INT) USING gvt")
      }
    }
  }

  test("DEFAULT column suffix registers at CREATE TABLE and ADD COLUMNS") {
    val root = fresh("createdflt")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT, src STRING " +
        s"DEFAULT 'boot') USING gvt")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW dflt_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("INSERT INTO dflt_t (k) VALUES (1)")
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS " +
        "(score INT DEFAULT 7)")
      sess.sql("INSERT INTO dflt_t (k) VALUES (2)")
      val live = VersionedTable.readLatest(sess, root).orderBy("k")
      assert(live.select("src").as[String].collect().toSeq ==
        Seq("boot", "boot"))
      // the pre-existing row reads NULL for the later-added column
      // (defaults are write-time, Delta semantics); the new row fills
      assert(live.select("score").collect().map(r =>
        if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq == Seq(-1, 7))
    }
  }

  test("NOT NULL column constraints: CREATE enforces on every write; " +
    "ADD COLUMNS refuses NOT NULL onto existing rows") {
    val root = fresh("notnull")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT NOT NULL, " +
        s"s STRING NOT NULL DEFAULT 'x', v INT) USING gvt")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW nn_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("INSERT INTO nn_t (k) VALUES (1)") // s fills from DEFAULT
      val e = intercept[Exception] {
        sess.sql("INSERT INTO nn_t VALUES (CAST(NULL AS BIGINT), 'a', 2)")
      }
      assert(String.valueOf(e.getMessage).contains("k_not_null"))
      assert(VersionedTable.readLatest(sess, root).count() == 1)
      // adding NOT NULL onto a table with rows refuses (all-NULL column)
      val e2 = intercept[Exception] {
        sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS (w INT NOT NULL)")
      }
      assert(String.valueOf(e2.getMessage).contains("w_not_null"))
    }
  }

  test("CREATE OR REPLACE from partitioned to UNPARTITIONED does not " +
    "resurrect the old layout (the replace commit shadows _layout)") {
    val root = fresh("replaceflat")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT, part STRING) " +
        s"USING gvt PARTITIONED BY (part)")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW rf_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("INSERT INTO rf_t VALUES (1, 'p0')")
      // redefine UNPARTITIONED, dropping the old partition column
      sess.sql(s"CREATE OR REPLACE TABLE gvt.`$root` (k BIGINT, v INT) " +
        "USING gvt")
      assert(VersionedTable.latestSnapshot(root).get.layout.isEmpty,
        "stale declared layout resurrected across REPLACE")
      assert(!sess.sql(s"SHOW CREATE TABLE gvt.`$root`").first()
        .getString(0).contains("PARTITIONED BY"))
      // the next insert lands FLAT — before the fix it partitioned by
      // (or failed on) the dropped column
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW rf_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("INSERT INTO rf_t VALUES (2, 7)")
      val v = VersionedTable.latestVersion(root).get
      assert(!new java.io.File(s"$root/v=$v").listFiles().exists(f =>
        f.isDirectory && f.getName.contains("=")),
        "insert after unpartitioned REPLACE wrote hive directories")
      assert(VersionedTable.readLatest(sess, root).count() == 1)
    }
  }

  test("a DEFAULT expression containing NOT NULL is not corrupted by " +
    "the NOT NULL constraint scanner (depth- and quote-aware strip)") {
    val root = fresh("nnexpr")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT, " +
        "flag BOOLEAN DEFAULT (1 IS NOT NULL), " +
        "tag STRING NOT NULL DEFAULT 'NOT NULL-ish') USING gvt")
      // the parenthesized NOT NULL stayed expression text: flag carries
      // no constraint and its default survived intact
      assert(VersionedTable.columnDefaults(root)("flag")
        .replaceAll("\\s+", " ").toLowerCase.contains("is not null"))
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW nne_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("INSERT INTO nne_t (k) VALUES (1)")
      val row = VersionedTable.readLatest(sess, root).first()
      assert(row.getAs[Boolean]("flag"))
      assert(row.getAs[String]("tag") == "NOT NULL-ish")
      // flag is NULLABLE (no constraint was invented for it)...
      sess.sql("INSERT INTO nne_t VALUES (2, CAST(NULL AS BOOLEAN), 'y')")
      // ...while tag's real NOT NULL (outside parens) enforces
      val e = intercept[Exception] {
        sess.sql("INSERT INTO nne_t VALUES (3, true, CAST(NULL AS STRING))")
      }
      assert(String.valueOf(e.getMessage).contains("tag_not_null"))
      assert(VersionedTable.readLatest(sess, root).count() == 2)
    }
  }

  test("TRUNCATE on a partitioned table keeps the declared layout for " +
    "later appends") {
    val root = fresh("trunclayout")
    VersionedTable.write(
      Seq((1L, "p0"), (2L, "p1")).toDF("k", "part"),
      root, partitionBy = Seq("part"))
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"TRUNCATE TABLE gvt.`$root`")
      assert(VersionedTable.readLatest(sess, root).count() == 0)
      VersionedTable.append(Seq((3L, "p2")).toDF("k", "part"), root)
      val v = VersionedTable.latestVersion(root).get
      val dataDir = new java.io.File(s"$root/v=$v")
      assert(dataDir.listFiles().exists(f =>
        f.isDirectory && f.getName == "part=p2"),
        "layout lost across TRUNCATE")
      assert(VersionedTable.readLatest(sess, root)
        .filter(col("part") === "p2").count() == 1)
    }
  }

  test("DESCRIBE HISTORY carries per-commit operation metrics " +
    "(files, bytes, DV masked rows)") {
    val root = fresh("histm")
    VersionedTable.write((1 to 100).toDF("id"), root)
    VersionedTable.append((101 to 120).toDF("id"), root)
    VersionedTable.deleteWhereVector(spark, root, col("id") <= 10)
    val h = VersionedTable.history(spark, root)
      .orderBy("version").collect()
    assert(h.length == 3)
    // every commit stamped: data files + bytes present
    h.foreach { r =>
      assert(r.getAs[Long]("num_files") >= 0L)
      assert(!r.isNullAt(r.fieldIndex("size_bytes")))
    }
    assert(h(0).getAs[Long]("num_files") >= 1L)
    assert(h(0).getAs[Long]("size_bytes") > 0L)
    // non-DV commits carry NO masked-row metric; the DELETE commit
    // reports exactly its vector's cardinality
    assert(h(0).isNullAt(h(0).fieldIndex("num_masked_rows")))
    assert(h(2).getAs[Long]("num_masked_rows") == 10L)
    // commits predating the stamp surface NULL metrics, never an error
    new java.io.File(s"$root/v=1/_metrics").delete()
    val h1 = VersionedTable.history(spark, root).orderBy("version").head
    assert(h1.isNullAt(h1.fieldIndex("num_files")))
    // SQL surface agrees
    GraftSession.withExtensions(spark) { sess =>
      val sq = sess.sql(s"DESCRIBE HISTORY gvt.`$root`")
      assert(sq.columns.toSeq.takeRight(3) ==
        Seq("num_files", "size_bytes", "num_masked_rows"))
      assert(sq.filter(col("version") === 3)
        .head.getAs[Long]("num_masked_rows") == 10L)
    }
  }
}
