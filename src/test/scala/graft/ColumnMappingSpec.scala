package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Column mapping (Delta columnMapping=name analogue): DROP COLUMN /
  * RENAME COLUMN as O(1) metadata commits — logical names resolve
  * through the chain's `_colmap`, historical snapshots keep their
  * schema, retired physical storage can never resurface under a
  * re-added name, and every read/write/DML/maintenance path keeps
  * working on a mapped chain. */
class ColumnMappingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def mapped(root: String): Unit =
    VersionedTable.setTblProperties(root, Map("gvt.columnMapping" -> "name"))

  test("drop/rename refuse without the columnMapping property") {
    val root = fresh("cmgate")
    VersionedTable.write((1 to 5).map(i => (i, i * 2)).toDF("a", "b"), root)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "b", "c")
    }
    assert(e.getMessage.contains("gvt.columnMapping"))
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, root, Seq("b"))
    }
  }

  test("RENAME COLUMN: live logical view renames, data files untouched, " +
      "history keeps the old name, appends and DML speak the new name") {
    val root = fresh("cmren")
    val o = (1 to 40).map(i => (i.toLong, s"s${i % 3}", i.toLong * 100))
      .toDF("k", "status", "cents")
    VersionedTable.write(o, root)
    mapped(root)
    val filesBefore = VersionedTable.readLatest(spark, root).inputFiles.toSet
    VersionedTable.renameColumn(spark, root, "cents", "amount")
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.toSeq == Seq("k", "status", "amount"))
    assert(live.agg(sum("amount")).as[Long].head() == (1 to 40).map(_ * 100L).sum)
    // O(1): the original data files are still the ones being read
    assert(filesBefore.subsetOf(live.inputFiles.toSet))
    // history: v1 still reads under the OLD name
    assert(VersionedTable.readVersion(spark, root, 1L).columns.toSeq ==
      Seq("k", "status", "cents"))
    // appends speak the new logical name
    VersionedTable.append((41 to 50).map(i => (i.toLong, "s9", i.toLong * 100))
      .toDF("k", "status", "amount"), root)
    assert(VersionedTable.readLatest(spark, root).count() == 50)
    // DML predicates/assignments speak the new logical name
    VersionedTable.deleteWhereVector(spark, root, col("amount") > 4500L)
    assert(VersionedTable.readLatest(spark, root).count() == 45)
    VersionedTable.updateWhereVector(spark, root, col("k") === 1L,
      Map("amount" -> lit(9999L)))
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("k") === 1L).select("amount").as[Long].head() == 9999L)
    // compact materializes and the logical view survives
    VersionedTable.compact(spark, root)
    val post = VersionedTable.readLatest(spark, root)
    assert(post.columns.toSeq == Seq("k", "status", "amount"))
    assert(post.count() == 45)
  }

  test("DROP COLUMN + re-ADD: old values can never resurface") {
    val root = fresh("cmdrop")
    val o = (1 to 20).map(i => (i.toLong, s"secret$i", i.toLong))
      .toDF("k", "note", "v")
    VersionedTable.write(o, root)
    mapped(root)
    VersionedTable.dropColumns(spark, root, Seq("note"))
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.toSeq == Seq("k", "v"))
    // history keeps it
    assert(VersionedTable.readVersion(spark, root, 1L)
      .filter(col("note") === "secret7").count() == 1)
    // re-add the SAME logical name: fresh physical storage — every row
    // reads NULL, never the dropped values (THE column-mapping hazard)
    VersionedTable.addColumns(spark, root,
      Seq("note" -> org.apache.spark.sql.types.StringType))
    val readd = VersionedTable.readLatest(spark, root)
    assert(readd.columns.toSeq == Seq("k", "v", "note"))
    assert(readd.filter(col("note").isNotNull).isEmpty,
      "dropped values resurfaced under the re-added column")
    // and the re-added column is writable going forward
    VersionedTable.append(Seq((21L, 21L, "fresh")).toDF("k", "v", "note"), root)
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("note") === "fresh").count() == 1)
    // the ORIGINAL dropped values remain time-travelable before the drop
    assert(VersionedTable.readVersion(spark, root, 1L)
      .filter(col("note").startsWith("secret")).count() == 20)
  }

  test("mapped chain through the gvt DataSource, SQL DML, and CDF") {
    val root = fresh("cmgvt")
    val o = (1 to 40).map(i => (i.toLong, s"s${i % 3}", i.toLong * 100))
      .toDF("k", "status", "cents")
    VersionedTable.write(o.repartitionByRange(4, col("k")), root,
      statsCols = Seq("k"))
    mapped(root)
    VersionedTable.renameColumn(spark, root, "cents", "amount")
    GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW cm_t USING gvt " +
        s"OPTIONS (path '$root')")
      val sums = sess.sql(
        "SELECT sum(amount) AS s FROM cm_t WHERE k >= 1").as[Long].head()
      assert(sums == (1 to 40).map(_ * 100L).sum)
      // SQL RENAME + DROP through the parser
      sess.sql("ALTER TABLE cm_t RENAME COLUMN amount TO amt").collect()
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW cm_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("DELETE FROM cm_t WHERE amt > 3500")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW cm_t USING gvt " +
        s"OPTIONS (path '$root')")
      assert(sess.sql("SELECT count(*) AS n FROM cm_t").as[Long].head() == 35L)
      // time travel through SQL sees the pre-rename schema
      assert(sess.sql("SELECT sum(cents) AS s FROM cm_t VERSION AS OF 1")
        .as[Long].head() == (1 to 40).map(_ * 100L).sum)
    }
    // CDF across the mapped chain classifies under logical names
    val feed = VersionedTable.changes(spark, root, 3L, 4L, Seq("k"))
    assert(feed.filter(col("_change_type") === "delete").count() == 5L)
  }

  test("CDF fast paths survive a mapped chain: O(batch) insert-only feed " +
    "under logical names, no base rescan") {
    val root = fresh("cmcdf")
    VersionedTable.write((1 to 30).map(i => (i.toLong, i.toLong * 10))
      .toDF("k", "w"), root)                                  // v1
    mapped(root)
    VersionedTable.renameColumn(spark, root, "w", "val2")     // v2
    VersionedTable.append((31 to 40).map(i => (i.toLong, i.toLong * 10))
      .toDF("k", "val2"), root)                               // v3
    // single append hop: insert-only, logical names, batch files ONLY
    val feed = VersionedTable.changes(spark, root, 2L, 3L, Seq("k"))
    assert(feed.columns.contains("val2"))
    val rows = feed.collect()
    assert(rows.length == 10 && rows.forall(_.getAs[String]("_change_type") == "insert"))
    assert(feed.select(sum("val2")).as[Long].head() == (31 to 40).map(_ * 10L).sum)
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/v=3")),
      s"append feed rescanned the base: ${feed.inputFiles.toSeq}")
    // a range CROSSING the rename stays on the fast path: the mapping
    // commit is metadata-only and emits NO rows for pre-existing data
    // (the Delta CDF contract) — previously this fell back to an
    // O(table) snapshot diff emitting an update pair per base row
    val feed2 = VersionedTable.changes(spark, root, 1L, 3L, Seq("k"))
    assert(feed2.count() == 10L)
    assert(feed2.inputFiles.forall(f => f.contains("/v=2") || f.contains("/v=3")),
      s"cross-rename feed rescanned the base: ${feed2.inputFiles.toSeq}")
    // the DV hop translates too: delete under the renamed schema
    VersionedTable.deleteWhereVector(spark, root, col("val2") >= 380L) // v4
    val feed3 = VersionedTable.changes(spark, root, 3L, 4L, Seq("k"))
    assert(feed3.filter(col("_change_type") === "delete")
      .select(sum("val2")).as[Long].head() == Seq(380L, 390L, 400L).sum)
    assert(feed3.inputFiles.forall(f => !f.contains("/v=1")),
      s"DV feed read beyond the touched files: ${feed3.inputFiles.toSeq}")
  }

  test("zone-map pruning keeps working on a renamed column") {
    val root = fresh("cmprune")
    val o = (1 to 400).map(i => (i.toLong, i.toLong * 10))
      .toDF("k", "cents")
    VersionedTable.write(o.repartitionByRange(8, col("k")), root,
      statsCols = Seq("k"))
    mapped(root)
    VersionedTable.renameColumn(spark, root, "k", "id")
    // readPruned speaks the LOGICAL (renamed) name; stats on disk are
    // keyed by the physical name — translation happens inside
    val pruned = VersionedTable.readPruned(spark, root, "id", 1.0, 50.0)
    assert(pruned.count() == 50)
    assert(pruned.inputFiles.length < 8,
      s"pruning dead: ${pruned.inputFiles.length} files reached the scan")
  }

  test("compactChain folds a mapped chain and keeps the logical view") {
    val root = fresh("cmfold")
    val o = (1 to 30).map(i => (i.toLong, i.toLong)).toDF("k", "v")
    VersionedTable.write(o.filter(col("k") <= 10), root)
    mapped(root)
    VersionedTable.renameColumn(spark, root, "v", "val")
    VersionedTable.append((11 to 20).map(i => (i.toLong, i.toLong))
      .toDF("k", "val"), root)
    VersionedTable.append((21 to 30).map(i => (i.toLong, i.toLong))
      .toDF("k", "val"), root)
    VersionedTable.compactChain(spark, root)
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.toSeq == Seq("k", "val"))
    assert(live.agg(sum("val")).as[Long].head() == (1L to 30L).sum)
  }

  test("RESTORE to before a rename resurrects the old logical schema") {
    val root = fresh("cmrestore")
    VersionedTable.write((1 to 10).map(i => (i.toLong, i.toLong))
      .toDF("k", "v"), root)
    mapped(root)
    VersionedTable.renameColumn(spark, root, "v", "w")
    VersionedTable.append(Seq((11L, 11L)).toDF("k", "w"), root)
    VersionedTable.restore(spark, root, 1L)
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.toSeq == Seq("k", "v"))
    assert(live.count() == 10)
  }

  test("shallow clone of a mapped source resolves and stacks local schema") {
    val src = fresh("cmclsrc")
    val o = (1 to 20).map(i => (i.toLong, i.toLong)).toDF("k", "v")
    VersionedTable.write(o, src)
    mapped(src)
    VersionedTable.renameColumn(spark, src, "v", "w")
    val dst = fresh("cmcldst")
    VersionedTable.cloneTable(spark, src, dst, shallow = true)
    assert(VersionedTable.readLatest(spark, dst).columns.toSeq == Seq("k", "w"))
    // clone-local rename does not touch the source
    mapped(dst)
    VersionedTable.renameColumn(spark, dst, "w", "z")
    assert(VersionedTable.readLatest(spark, dst).columns.toSeq == Seq("k", "z"))
    assert(VersionedTable.readLatest(spark, src).columns.toSeq == Seq("k", "w"))
  }

  test("model-based: random rename/drop/add/append/delete sequences " +
      "match an in-memory model, including time travel") {
    // Column identity model: every column gets a permanent pid (the
    // model's physical name); schema = ordered (logical, pid) pairs.
    // rename relabels a pid, drop removes the pair (values retired),
    // add allocates a fresh pid, append stores values BY PID — exactly
    // the resurface-proof semantics column mapping must implement.
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val root = fresh(s"cmmodel$seed")
      var schema = Vector("k" -> "pid_k", "c0" -> "pid_0")
      var rows = Map[Long, Map[String, Long]](
        (1L to 6L).map(k => k -> Map("pid_k" -> k, "pid_0" -> k * 10)): _*)
      def df(keys: Seq[Long], cols: Seq[(String, String)],
             vals: Map[Long, Map[String, Long]]) = {
        val data = keys.map(k => org.apache.spark.sql.Row.fromSeq(
          cols.map { case (_, p) => vals(k).get(p).map(Long.box).orNull }))
        spark.createDataFrame(
          spark.sparkContext.parallelize(data, 1),
          org.apache.spark.sql.types.StructType(cols.map { case (l, _) =>
            org.apache.spark.sql.types.StructField(l,
              org.apache.spark.sql.types.LongType) }))
      }
      VersionedTable.write(df(rows.keys.toSeq.sorted, schema, rows), root)
      mapped(root)
      var snapshots = Map(1L -> (schema, rows))
      var nextCol = 1
      var nextKey = 7L
      for (_ <- 1 to 14) {
        val dataCols = schema.filter(_._1 != "k")
        val v: Long = rnd.nextInt(5) match {
          case 0 => // ADD a fresh logical name (may equal a retired one!)
            val name = if (rnd.nextBoolean() && nextCol > 1) {
              // 50%: reuse a logical name seen before — the resurface trap
              s"c${rnd.nextInt(nextCol)}"
            } else s"c$nextCol"
            if (schema.exists(_._1 == name)) -1L
            else {
              nextCol += 1
              val pid = s"pid_${name}_${nextCol}"
              schema = schema :+ (name -> pid)
              VersionedTable.addColumns(spark, root,
                Seq(name -> org.apache.spark.sql.types.LongType))
            }
          case 1 if dataCols.size > 1 => // DROP
            val (l, _) = dataCols(rnd.nextInt(dataCols.size))
            schema = schema.filterNot(_._1 == l)
            VersionedTable.dropColumns(spark, root, Seq(l))
          case 2 => // RENAME
            val (l, p) = dataCols(rnd.nextInt(dataCols.size))
            val to = s"c$nextCol"; nextCol += 1
            schema = schema.map { case (ll, pp) =>
              if (ll == l) (to, pp) else (ll, pp) }
            VersionedTable.renameColumn(spark, root, l, to)
          case 3 if rows.nonEmpty => // DELETE one key (DV commit)
            val k = rows.keys.toSeq.sorted.apply(rnd.nextInt(rows.size))
            rows -= k
            VersionedTable.deleteWhereVector(spark, root, col("k") === k)
          case _ => // APPEND, randomly omitting some columns
            val keep = schema.filter { case (l, _) =>
              l == "k" || rnd.nextInt(4) > 0 }
            val newKeys = (0 until 2).map(_ => { nextKey += 1; nextKey })
            newKeys.foreach { k =>
              rows += k -> (keep.map { case (_, p) =>
                p -> (if (p == "pid_k") k else k * 100 + rnd.nextInt(50))
              }.toMap)
            }
            VersionedTable.append(df(newKeys, keep, rows), root,
              allowEvolution = true)
        }
        if (v > 0) snapshots += v -> (schema, rows)
      }
      def check(got: Array[org.apache.spark.sql.Row],
                sch: Vector[(String, String)],
                want: Map[Long, Map[String, Long]], tag: String): Unit = {
        assert(got.length == want.size, s"$tag: row count")
        got.foreach { r =>
          val k = r.getAs[Long]("k")
          sch.foreach { case (l, p) =>
            val w = want(k).get(p)
            val g = Option(r.getAs[Any](l)).map(_.asInstanceOf[Long])
            assert(g == w, s"$tag: key $k col $l (pid $p): got $g want $w")
          }
        }
      }
      val live = VersionedTable.readLatest(spark, root)
      assert(live.columns.toSeq == schema.map(_._1),
        s"seed $seed: live schema order")
      check(live.collect(), schema, rows, s"seed $seed live")
      // time travel: every recorded snapshot must read under ITS schema
      val versions = snapshots.keys.toSeq.sorted
      for (v <- rnd.shuffle(versions).take(4)) {
        val (sch, want) = snapshots(v)
        val df0 = VersionedTable.readVersion(spark, root, v)
        assert(df0.columns.toSeq == sch.map(_._1), s"seed $seed v=$v schema")
        check(df0.collect(), sch, want, s"seed $seed v=$v")
      }
    }
  }

  test("columnMapping=id: stable field ids ride every data file, never " +
    "reused across drop/re-add; an id-resolving reader survives " +
    "physical-name rewrites") {
    val root = fresh("cmid")
    VersionedTable.write((1 to 20).map(i => (i.toLong, i.toLong * 10, s"s$i"))
      .toDF("k", "w", "s"), root)                                   // v1
    VersionedTable.setTblProperties(root, Map("gvt.columnMapping" -> "id"))
    VersionedTable.renameColumn(spark, root, "w", "val2")           // v2: ids materialize
    VersionedTable.append((21 to 25).map(i => (i.toLong, i.toLong * 10, s"s$i"))
      .toDF("k", "val2", "s"), root)                                // v3
    // the id-mode batch's parquet files carry the field ids (Spark
    // round-trips the field metadata through the footer)
    val v3file = new java.io.File(s"$root/v=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toString
    val sc3 = spark.read.parquet(v3file).schema
    val ids3 = sc3.fields.map(f =>
      f.name -> f.metadata.getLong("parquet.field.id")).toMap
    assert(ids3.keySet == Set("k", "w", "s")) // physical names
    assert(ids3.values.toSeq.distinct.size == 3)
    // semantics match name mode: rename is O(1), values intact
    assert(VersionedTable.readLatest(spark, root).agg(sum("val2"))
      .as[Long].head() == (1 to 25).map(_ * 10L).sum)
    // drop + re-add: the fresh physical takes a FRESH id (never reuse)
    VersionedTable.dropColumns(spark, root, Seq("s"))               // v4
    VersionedTable.append(
      (26 to 28).map(i => (i.toLong, i.toLong * 10, s"n$i"))
        .toDF("k", "val2", "s"), root, allowEvolution = true)       // v5
    val cm = {
      val m = VersionedTable.latestSnapshot(root).get.colmap.get
      assert(m.ids.contains("s")) // retired physical keeps its id
      m
    }
    val freshPhys = cm.active.toMap.apply("s")
    assert(freshPhys != "s")
    assert(cm.ids(freshPhys) != cm.ids("s"))
    assert(cm.ids(freshPhys) > cm.ids.values.filterNot(_ == cm.ids(freshPhys)).max)
    // external-engine simulation: rewrite a data file with JUNK column
    // names but the same field ids — an id-resolving read (the Delta
    // columnMapping=id interop contract) still lands every value
    val rew = Files.createTempDirectory("graft_cmid_rw").toString
    val junk = spark.read.parquet(s"$root/v=3") // whole batch, all part files
    junk.select(junk.schema.fields.zipWithIndex.map { case (f, i) =>
      col(f.name).as(s"junk_$i", f.metadata) }.toSeq: _*)
      .write.mode("overwrite").parquet(rew)
    val idSchema = org.apache.spark.sql.types.StructType(sc3.fields)
    val prev = spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      val back = spark.read.schema(idSchema).parquet(rew)
      assert(back.agg(sum("w")).as[Long].head() == (21 to 25).map(_ * 10L).sum)
      assert(back.select("s").as[String].collect().toSet ==
        (21 to 25).map(i => s"s$i").toSet)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.fieldId.read.enabled", v)
      case None => spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }

  test("guards: partition columns and constraint/generated references " +
      "refuse to drop or rename") {
    val root = fresh("cmguard")
    val o = (1 to 20).map(i => (i.toLong, s"p${i % 2}", i.toLong))
      .toDF("k", "part", "v")
    VersionedTable.write(o, root, partitionBy = Seq("part"))
    mapped(root)
    assert(intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "part", "bucket")
    }.getMessage.contains("partition"))
    VersionedTable.addCheckConstraint(spark, root, "v_pos", "v >= 0")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, root, Seq("v"))
    }.getMessage.contains("constraint"))
    VersionedTable.dropCheckConstraint(root, "v_pos")
    // now it drops fine
    VersionedTable.dropColumns(spark, root, Seq("v"))
    assert(VersionedTable.readLatest(spark, root).columns.toSeq ==
      Seq("k", "part"))
  }

  test("REORG APPLY (PURGE): vectors materialize, retired physical data " +
      "leaves the files, mapping resets, history keeps its view") {
    val root = fresh("cmpurge")
    val o = (1 to 60).map(i => (i.toLong, s"secret$i", i.toLong * 100))
      .toDF("k", "note", "cents")
    VersionedTable.write(o, root)                                      // v1
    mapped(root)
    VersionedTable.dropColumns(spark, root, Seq("note"))               // v2
    VersionedTable.renameColumn(spark, root, "cents", "amount")        // v3
    VersionedTable.deleteWhereVector(spark, root, col("k") % 5 === 0L) // v4
    assert(VersionedTable.snapshot(root, 4L).colmap.isDefined)
    val purged = GraftSession.withExtensions(spark) { sess =>
      sess.sql(s"REORG TABLE gvt.`$root` APPLY (PURGE)")
        .collect().head.getLong(0)
    }
    // logical view unchanged by the rewrite
    val live = VersionedTable.readLatest(spark, root)
    assert(live.columns.toSeq == Seq("k", "amount"))
    assert(live.count() == 48)
    assert(live.agg(sum("amount")).as[Long].head() ==
      (1 to 60).filter(_ % 5 != 0).map(_ * 100L).sum)
    // physically clean: no mapping, no pending vectors, and the new
    // snapshot's files carry the LOGICAL names — the dropped column's
    // data is gone from storage, not just hidden
    assert(VersionedTable.snapshot(root, purged).colmap.isEmpty)
    assert(VersionedTable.snapshot(root, purged).dvDirs.isEmpty)
    val raw = spark.read.parquet(s"$root/v=$purged")
    assert(raw.schema.fieldNames.toSeq == Seq("k", "amount"))
    assert(raw.count() == 48)
    // history below the purge keeps its own mapped view
    assert(VersionedTable.readVersion(spark, root, 1L).columns.toSeq ==
      Seq("k", "note", "cents"))
    assert(VersionedTable.readVersion(spark, root, 3L).columns.toSeq ==
      Seq("k", "amount"))
    // the property survives: a post-purge drop starts a FRESH mapping
    VersionedTable.dropColumns(spark, root, Seq("amount"))
    assert(VersionedTable.readLatest(spark, root).columns.toSeq == Seq("k"))
    assert(VersionedTable.readVersion(spark, root, purged).columns.toSeq ==
      Seq("k", "amount"))
  }
}
