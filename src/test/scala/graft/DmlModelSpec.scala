package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Model-based randomized DML sequences over a versioned table: random
  * interleavings of append / DV-delete / DV-update / full-rewrite
  * delete / compact / restore, checked after EVERY op against a plain
  * in-memory row-set model, plus time-travel spot checks against the
  * recorded per-version model states. The targeted specs pin each
  * operator's contract; this one hunts INTERACTION bugs (a DV applied
  * across a compact boundary, a restore resurrecting vectored-out rows,
  * an update stacked on a delete stacked on an append chain …). */
class DmlModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def liveSet(root: String): Set[(Long, Long)] =
    VersionedTable.readLatest(spark, root)
      .select("k", "v").as[(Long, Long)].collect().toSet

  test("randomized DML interleavings match the in-memory model at every step") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(100L + trial)
      val root = Files.createTempDirectory(s"graft_dmlmodel$trial").toString + "/t"
      var nextK = 1L
      def freshBatch(n: Int): Seq[(Long, Long)] = {
        val b = (nextK until nextK + n).map(k => (k, k * 10))
        nextK += n
        b
      }
      var model: Set[(Long, Long)] = freshBatch(20).toSet
      val v0 = VersionedTable.write(model.toSeq.toDF("k", "v"), root)
      // committed version → the model state it must serve forever
      var history = Map(v0 -> model)
      for (step <- 1 to 14) {
        val op = rnd.nextInt(8)
        val v: Long = op match {
          case 0 => // append fresh keys
            val b = freshBatch(2 + rnd.nextInt(6))
            model ++= b
            VersionedTable.append(b.toDF("k", "v"), root)
          case 1 => // O(changed) DV delete
            val (m, r) = (2 + rnd.nextInt(4), rnd.nextInt(2))
            model = model.filterNot { case (k, _) => k % m == r }
            VersionedTable.deleteWhereVector(spark, root,
              col("k") % m === r)
          case 2 => // O(changed) DV update (simultaneous assignment)
            val (m, r) = (2 + rnd.nextInt(4), rnd.nextInt(2))
            model = model.map { case (k, v0) =>
              if (k % m == r) (k, v0 + 1000L) else (k, v0) }
            VersionedTable.updateWhereVector(spark, root,
              col("k") % m === r, Map("v" -> (col("v") + 1000L)))
          case 3 => // full-rewrite delete
            val cut = nextK / 2
            model = model.filterNot { case (k, _) => k > cut && k % 7 == 3 }
            VersionedTable.write(VersionedTable.readLatest(spark, root)
              .filter(!(col("k") > cut && col("k") % 7 === 3)), root)
          case 4 => // maintenance: materializes DVs, rows must not move
            VersionedTable.compact(spark, root)
          case 5 => // restore to a random committed version
            val target = {
              val vs = history.keys.toSeq.sorted
              vs(rnd.nextInt(vs.size))
            }
            model = history(target)
            VersionedTable.restore(spark, root, target)
          case 6 => // MERGE upsert: update the touched keys, insert fresh
            val touched = model.toSeq.sortBy(_._1).take(3).map(_._1)
            val fresh = freshBatch(2)
            val src = (touched.map(k => (k, k * 10 + 7)) ++ fresh)
              .toDF("k", "v")
            model = model.map { case (k, v0) =>
              if (touched.contains(k)) (k, k * 10 + 7) else (k, v0)
            } ++ fresh
            VersionedTable.mergeInto(spark, root, src, Seq("k"),
              matchedUpdate = Map("v" -> col("s.v")))
          case 7 => // replaceWhere: swap out one key-range slice
            val lo = 1L + rnd.nextInt(math.max(1, nextK.toInt - 1))
            val hi = lo + 5
            val repl = (lo to hi by 2).map(k => (k, k * 10 + 55))
            model = model.filterNot { case (k, _) => k >= lo && k <= hi } ++
              repl
            VersionedTable.replaceWhere(spark, root,
              col("k") >= lo && col("k") <= hi, repl.toDF("k", "v"))
        }
        assert(liveSet(root) == model,
          s"trial $trial step $step op $op diverged at v=$v")
        history += (v -> model)
      }
      // time travel: every recorded version still serves its state
      // (vacuum never ran, so the whole history is retained)
      val probes = rnd.shuffle(history.keys.toSeq).take(4)
      probes.foreach { pv =>
        val got = VersionedTable.readVersion(spark, root, pv)
          .select("k", "v").as[(Long, Long)].collect().toSet
        assert(got == history(pv), s"trial $trial time travel to v=$pv diverged")
      }
      // and the change feed across the whole run nets to the final state
      // when replayed insert/delete-wise from the first snapshot
      val tip = VersionedTable.latestVersion(root).get
      if (tip != v0) {
        val feed = VersionedTable.changes(spark, root, v0, tip, Seq("k"))
          .select("k", "v", "_change_type").collect()
        val replayed = feed.foldLeft(history(v0).toMap) { (m, r) =>
          val (k, vv, t) = (r.getLong(0), r.getLong(1), r.getString(2))
          t match {
            case "insert" | "update_postimage" => m + (k -> vv)
            case "delete" => m - k
            case "update_preimage" => m
          }
        }
        assert(replayed.toSet.map((kv: (Long, Long)) => kv) == model,
          s"trial $trial feed replay diverged")
      }
    }
  }

  test("randomized PARTITIONED interleavings with dynamic overwrite " +
    "match the model at every step") {
    def liveP(root: String): Set[(Long, Long, String)] =
      VersionedTable.readLatest(spark, root)
        .select("k", "v", "p").as[(Long, Long, String)].collect().toSet
    val parts = Seq("p0", "p1", "p2", "p3")
    for (trial <- 1 to 2) {
      val rnd = new scala.util.Random(500L + trial)
      val root = Files.createTempDirectory(s"graft_dynmodel$trial")
        .toString + "/t"
      var nextK = 1L
      def freshBatch(n: Int): Seq[(Long, Long, String)] = {
        val b = (nextK until nextK + n).map(k =>
          (k, k * 10, parts(rnd.nextInt(parts.size))))
        nextK += n
        b
      }
      var model: Set[(Long, Long, String)] = freshBatch(16).toSet
      val v0 = VersionedTable.write(model.toSeq.toDF("k", "v", "p"), root,
        partitionBy = Seq("p"))
      var history = Map(v0 -> model)
      for (step <- 1 to 14) {
        val op = rnd.nextInt(7)
        val v: Long = op match {
          case 0 => // append
            val b = freshBatch(2 + rnd.nextInt(5))
            model ++= b
            VersionedTable.append(b.toDF("k", "v", "p"), root)
          case 1 => // dynamic overwrite of the batch's partitions
            val chosen = rnd.shuffle(parts).take(1 + rnd.nextInt(2))
            val repl = chosen.flatMap { pv =>
              val n = 1 + rnd.nextInt(3)
              val b = (nextK until nextK + n).map(k => (k, k * 10 + 5, pv))
              nextK += n
              b
            }
            model = model.filterNot { case (_, _, pv) =>
              chosen.contains(pv) } ++ repl
            VersionedTable.dynamicOverwrite(spark, root,
              repl.toDF("k", "v", "p"), Seq("p"))
          case 2 => // DV delete
            val (m, r) = (2 + rnd.nextInt(4), rnd.nextInt(2))
            model = model.filterNot { case (k, _, _) => k % m == r }
            VersionedTable.deleteWhereVector(spark, root, col("k") % m === r)
          case 3 => // maintenance
            VersionedTable.compact(spark, root)
          case 4 => // restore
            val vs = history.keys.toSeq.sorted
            val target = vs(rnd.nextInt(vs.size))
            model = history(target)
            VersionedTable.restore(spark, root, target)
          case 5 => // scoped maintenance: one partition, rows must not move
            VersionedTable.compactWhere(spark, root,
              col("p") === parts(rnd.nextInt(parts.size)))
          case 6 => // small-file bin-pack: every file is a candidate at
            // this scale — a DV-based full re-pack, rows must not move
            VersionedTable.compactSmall(spark, root,
              smallFileBytes = Long.MaxValue)
        }
        assert(liveP(root) == model,
          s"trial $trial step $step op $op diverged at v=$v")
        history += (v -> model)
      }
      // time travel still serves every recorded state
      rnd.shuffle(history.keys.toSeq).take(3).foreach { pv =>
        val got = VersionedTable.readVersion(spark, root, pv)
          .select("k", "v", "p").as[(Long, Long, String)].collect().toSet
        assert(got == history(pv), s"trial $trial time travel v=$pv diverged")
      }
      // RETAIN-0 vacuum (version drop + the DV-dead file pass) must
      // leave the LIVE state and its metadata row count exact — its own
      // invalidation makes the next read cold
      VersionedTable.vacuum(root, keep = 1, retainMinMs = 0L)
      assert(liveP(root) == model, s"trial $trial diverged after vacuum")
      assert(VersionedTable.metaRowCount(root) == model.size.toLong,
        s"trial $trial metaRowCount diverged after vacuum purge")
    }
  }
}
