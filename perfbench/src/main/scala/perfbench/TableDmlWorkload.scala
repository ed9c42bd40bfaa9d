package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.sources.{MaterializedView, VersionedTable}
import graft.sources.MaterializedView.AggSpec

/** `table_dml`: a seeded sequence of small commits and reads on gvt tables
  * built from the seeded `orders`/`lineitem`/`customer`. Every pass
  * rebuilds the tables (partitioned by status, zone-map stats on the key,
  * one aggregate MV and one join MV) and replays the same sequence, so
  * every pass starts from the same table state and reaches the same chain
  * length. A plain in-memory model of the orders table replays each write;
  * reads are compared with it, and the whole snapshot, one
  * `VERSION AS OF` and one `table_changes` range are compared at fixed
  * points and at the end of each pass. */
final class TableDmlWorkload(ctx: Ctx) extends Workload {
  import TableDmlWorkload._
  import ctx._
  private val dataDir = spec("data_dir")
  private val root = dir("dml")

  // static sides, also held by the model
  private def t(name: String): DataFrame = graft.sources.Tables.t(spark, dataDir, name)
  private val ordersSrc = t("orders").select(col("o_orderkey").as("k"), col("o_custkey").as("ck_o"),
    col("o_orderpriority").as("prio"),
    floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
    col("o_orderstatus").as("status"))
  private val lineSrc = t("lineitem").select(col("l_orderkey").as("lk"),
    col("l_quantity").cast("long").as("qty"), col("l_returnflag").as("flag"))
  private val custSrc = t("customer").select(col("c_custkey").as("ck"), col("c_mktsegment").as("segment"))
  private lazy val initial: Map[Long, R] = ordersSrc.collect().map(R.of).map(r => r.k -> r).toMap
  private lazy val maxQty: Map[Long, Long] = lineSrc.groupBy("lk").agg(max("qty")).collect()
    .map(r => r.getLong(0) -> r.getLong(1)).toMap
  private lazy val maxQtyR: Long = lineSrc.filter(col("flag") === "R").agg(max("qty")).head.getLong(0)
  private lazy val segment: Map[Long, String] = custSrc.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  // The same operations in the same order for every seed, reads between
  // the commits; the seed picks the data and each operation's keys,
  // predicates and batches.
  private val plan: IndexedSeq[String] = IndexedSeq(
    "append", "latest", "delete", "point", "update", "as_of", "merge", "mv_refresh",
    "mv_rewrite", "delete_corr", "point", "update_scalar", "cdf", "replace_where",
    "append", "mv_join", "optimize")

  // per-pass state
  private var ordRoot, liRoot, custRoot, mvAgg, mvJoin = ""
  private var state: Map[Long, R] = Map.empty
  private val history = mutable.LinkedHashMap.empty[Long, Map[Long, R]]
  private var nextKey = 0L
  private val created = mutable.Map.empty[String, Long] // files created this pass → bytes
  private var baseline = Set.empty[String] // files of the freshly built table
  private var plainBytes = 0.0
  private val builds = mutable.ArrayBuffer.empty[Double]
  private val passBytes = mutable.Map.empty[Int, Bytes]
  private val chain = mutable.Map.empty[Int, Long]

  private def sql(q: String): DataFrame = GraftSession.withExtensions(spark)(_.sql(q))
  private def views(): Unit = GraftSession.withExtensions(spark) { s =>
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW dml_t USING gvt OPTIONS (path '$ordRoot')")
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW dml_l USING gvt OPTIONS (path '$liRoot')")
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW dml_c USING gvt OPTIONS (path '$custRoot')")
  }
  private def latest: Long = VersionedTable.latestVersion(ordRoot).get

  private def build(p: Int): Unit = {
    val t0 = System.nanoTime()
    val d = new File(root, s"pass-$p")
    ordRoot = s"$d/orders"; liRoot = s"$d/lineitem"; custRoot = s"$d/customer"
    mvAgg = s"$d/mv_agg"; mvJoin = s"$d/mv_join"
    VersionedTable.write(ordersSrc.repartitionByRange(4, col("k")), ordRoot,
      partitionBy = Seq("status"), statsCols = Seq("k"))
    VersionedTable.write(lineSrc.repartitionByRange(4, col("lk")), liRoot, statsCols = Seq("lk"))
    VersionedTable.write(custSrc, custRoot)
    MaterializedView.create(spark, ordRoot, mvAgg, Seq("status", "prio"),
      Seq(AggSpec("sum", "cents", "sum_cents"), AggSpec("count", "*", "n_orders")))
    views()
    sql(s"CREATE MATERIALIZED VIEW gvt.`$mvJoin` AS SELECT segment, sum(cents) AS sum_cents, " +
      "count(*) AS n_orders FROM dml_t JOIN dml_c ON ck_o = ck GROUP BY segment").collect()
    state = initial
    history.clear(); history(latest) = state
    nextKey = initial.keys.max + 1
    created.clear()
    baseline = listFiles(new File(ordRoot)).map(_.getPath).toSet
    builds += (System.nanoTime() - t0) / 1e9
  }

  /** Record every file under the orders table root (to count bytes a pass
    * creates, including files a later commit or VACUUM removes). */
  private def track(): Unit = listFiles(new File(ordRoot)).foreach { f =>
    if (!baseline.contains(f.getPath)) created.getOrElseUpdate(f.getPath, f.length())
  }
  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  override def setup(): Map[String, Double] = {
    rec.probe.foreach(pr => GraftSession.withExtensions(spark)(pr.watch))
    initial; maxQty; segment
    val t0 = System.nanoTime()
    pass(0)
    Map("warm_s" -> (System.nanoTime() - t0) / 1e9)
  }

  override def pass(p: Int): Unit = {
    Dirs.delete(root)
    build(p)
    val v0 = latest
    plan.zipWithIndex.foreach { case (kind, i) =>
      val rnd = new Random(seed * 100003 + i)
      if (isWrite(kind)) write(p, kind, rnd) else read(p, kind, rnd)
      if (i == plan.size / 2) checkSnapshot(p, s"snapshot@$i", None) // a fixed point
    }
    val vLast = latest
    checkSnapshot(p, "snapshot@end", None)
    val mid = history.keys.toSeq(history.size / 2)
    checkSnapshot(p, s"as_of@$mid", Some(mid))
    rec.op(p, "check", "sources", "cdf@pass")(
      sql(s"SELECT * FROM table_changes('$ordRoot', $v0, $vLast, 'k')").collect())(rows =>
      foldCheck(rows, history(v0), history(vLast)))
    rec.op(p, "write", "sources", "vacuum")(sql("VACUUM dml_t RETAIN 0 HOURS").collect())()
    checkSnapshot(p, "snapshot@vacuum", None)
    // byte accounting: created vs on disk vs a plain-Parquet copy of the
    // final snapshot (the same snapshot every pass, so copied once)
    if (plainBytes == 0.0) {
      val plainDir = new File(work, "plain")
      VersionedTable.readLatest(spark, ordRoot).write.parquet(plainDir.getPath)
      plainBytes = listFiles(plainDir).filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble
    }
    val onDisk = listFiles(new File(ordRoot))
    passBytes(p) = Bytes(created.size, created.values.sum, onDisk.size, onDisk.map(_.length).sum, plainBytes)
    chain(p) = vLast - v0
    MaterializedView.drop(mvAgg); MaterializedView.drop(mvJoin)
  }

  private def commit(): Unit = { history(latest) = state; track() }

  private def write(p: Int, kind: String, rnd: Random): Unit = {
    def pickKeys(n: Int): Seq[Long] = Iterator.continually(rnd.nextLong(nextKey))
      .filter(state.contains).take(n).toSeq.distinct
    val m = 20 + rnd.nextInt(40); val r = rnd.nextInt(m)
    val prio = PRIOS(rnd.nextInt(PRIOS.size))
    kind match {
      case "append" =>
        val rows = (0 until 25).map(j => R(nextKey + j, rnd.nextInt(segment.size).toLong,
          PRIOS(rnd.nextInt(PRIOS.size)), 100000L + rnd.nextInt(50000000), STATUS(rnd.nextInt(3))))
        rec.op(p, "write", "sources", kind)(VersionedTable.append(df(rows), ordRoot))()
        state ++= rows.map(x => x.k -> x); nextKey += rows.size
      case "delete" =>
        rec.op(p, "write", "sources", kind)(
          sql(s"DELETE FROM dml_t WHERE k % $m = $r AND prio = '$prio'").collect())()
        state = state.filterNot { case (k, x) => k % m == r && x.prio == prio }
      case "delete_corr" =>
        val q = 30 + rnd.nextInt(20)
        if (rnd.nextBoolean()) {
          rec.op(p, "write", "sources", kind)(sql(s"DELETE FROM dml_t WHERE k % $m = $r AND EXISTS " +
            s"(SELECT 1 FROM dml_l WHERE lk = k AND qty > $q)").collect())()
          state = state.filterNot { case (k, _) => k % m == r && maxQty.get(k).exists(_ > q) }
        } else {
          rec.op(p, "write", "sources", kind)(sql(s"DELETE FROM dml_t WHERE k % $m = $r AND NOT EXISTS " +
            "(SELECT 1 FROM dml_l WHERE lk = k)").collect())()
          state = state.filterNot { case (k, _) => k % m == r && !maxQty.contains(k) }
        }
      case "update" =>
        val d = rnd.nextInt(10000)
        rec.op(p, "write", "sources", kind)(sql(s"UPDATE dml_t SET cents = cents + $d, prio = '$prio' " +
          s"WHERE k % $m = $r").collect())()
        state = state.map { case (k, x) => k -> (if (k % m == r) x.copy(cents = x.cents + d, prio = prio) else x) }
      case "update_scalar" =>
        rec.op(p, "write", "sources", kind)(sql("UPDATE dml_t SET cents = cents + " +
          s"(SELECT max(qty) FROM dml_l WHERE flag = 'R') WHERE k % $m = $r").collect())()
        state = state.map { case (k, x) => k -> (if (k % m == r) x.copy(cents = x.cents + maxQtyR) else x) }
      case "merge" =>
        val hits = pickKeys(15).map(k => state(k).copy(cents = rnd.nextInt(100000).toLong))
        val fresh = (0 until 15).map(j => R(nextKey + j, rnd.nextInt(segment.size).toLong, prio,
          rnd.nextInt(100000).toLong, STATUS(rnd.nextInt(3))))
        GraftSession.withExtensions(spark)(s => s.createDataFrame(
          spark.sparkContext.parallelize((hits ++ fresh).map(_.row), 1), SCHEMA).createOrReplaceTempView("dml_src"))
        rec.op(p, "write", "sources", kind)(sql("""MERGE INTO dml_t t USING dml_src s ON t.k = s.k
          WHEN MATCHED AND t.status = 'F' THEN DELETE
          WHEN MATCHED THEN UPDATE SET cents = t.cents + s.cents
          WHEN NOT MATCHED THEN INSERT *""").collect())()
        hits.foreach { s =>
          val x = state(s.k)
          state = if (x.status == "F") state - s.k else state.updated(s.k, x.copy(cents = x.cents + s.cents))
        }
        state ++= fresh.map(x => x.k -> x); nextKey += fresh.size
      case "replace_where" =>
        val lo = rnd.nextLong(nextKey); val hi = lo + 100
        val rows = state.valuesIterator.filter(x => x.k >= lo && x.k < hi && x.k % 3 != 0)
          .map(x => x.copy(cents = x.cents + 1)).toSeq
        rec.op(p, "write", "sources", kind)(VersionedTable.replaceWhere(spark, ordRoot,
          col("k") >= lo && col("k") < hi, df(rows)))()
        state = state.filterNot { case (k, _) => k >= lo && k < hi } ++ rows.map(x => x.k -> x)
      case "optimize" =>
        rec.op(p, "write", "sources", kind)(sql("OPTIMIZE dml_t").collect())()
      case "mv_refresh" =>
        rec.op(p, "write", "sources", kind) {
          MaterializedView.refresh(spark, mvAgg)
          sql(s"REFRESH MATERIALIZED VIEW gvt.`$mvJoin`").collect()
        }()
    }
    views() // a gvt view pins its snapshot: re-resolve after every commit
    commit()
  }

  private def read(p: Int, kind: String, rnd: Random): Unit = kind match {
    case "latest" =>
      rec.op(p, "read", "sources", kind)(sql(
        "SELECT status, count(*) AS n, sum(cents) AS s FROM dml_t GROUP BY status").collect())(rows =>
        same(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet, byStatus(state)))
    case "point" =>
      val k = Iterator.continually(rnd.nextLong(nextKey)).filter(state.contains).next()
      rec.op(p, "read", "sources", kind)(sql(
        s"SELECT k, ck_o, prio, cents, status FROM dml_t WHERE k = $k").collect())(rows =>
        same(rows.map(R.of).toSet, state.get(k).toSet))
    case "as_of" =>
      val v = history.keys.toSeq(history.size / 2)
      rec.op(p, "read", "sources", kind)(sql(
        s"SELECT count(*) AS n, sum(cents) AS s FROM dml_t VERSION AS OF $v").collect())(rows =>
        same(rows.map(r => (r.getLong(0), r.getLong(1))).toSet,
          Set((history(v).size.toLong, history(v).valuesIterator.map(_.cents).sum))))
    case "cdf" => // the last three commits
      val vs = history.keys.toSeq
      val a = vs(math.max(0, vs.size - 4)); val b = vs.last
      rec.op(p, "read", "sources", kind)(
        sql(s"SELECT * FROM table_changes('$ordRoot', $a, $b, 'k')").collect())(rows =>
        foldCheck(rows, history(a), history(b)))
    case "mv_rewrite" =>
      rec.op(p, "read", "sources", kind)(GraftSession.withExtensions(spark)(_.read.format("gvt")
        .load(ordRoot).groupBy(col("status"))
        .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_orders")).collect()))(rows =>
        same(rows.map(r => (r.getString(0), r.getLong(2), r.getLong(1))).toSet, byStatus(state)))
    case "mv_join" =>
      rec.op(p, "read", "sources", kind)(sql("SELECT segment, sum(cents) AS sum_cents, " +
        "count(*) AS n_orders FROM dml_t JOIN dml_c ON ck_o = ck GROUP BY segment").collect())(rows =>
        same(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
          state.values.groupBy(x => segment(x.ck)).map { case (s, xs) =>
            (s, xs.map(_.cents).sum, xs.size.toLong) }.toSet))
  }

  private def checkSnapshot(p: Int, name: String, version: Option[Long]): Unit = {
    val want = version.map(history).getOrElse(state)
    rec.op(p, "check", "sources", name)(version match {
      case Some(v) => VersionedTable.readVersion(spark, ordRoot, v).select(COLS.map(col): _*).collect()
      case None => VersionedTable.readLatest(spark, ordRoot).select(COLS.map(col): _*).collect()
    })(rows => diff(rows.map(R.of).toSeq, want))
  }

  override def pipelineSeconds(p: Int): Double =
    rec.ops.filter(o => o.pass == p && o.kind != "check").map(_.seconds).sum

  private def writesOf(passes: Int => Boolean) =
    rec.ops.filter(o => passes(o.pass) && o.kind == "write").map(_.seconds).toSeq

  override def endToEnd(): Map[String, Double] = {
    val untraced = passBytes.keys.filter(p => p >= 1 && !rec.tracedPass(p)).toSeq
    def med(f: Bytes => Double) = Stats.median(untraced.map(p => f(passBytes(p))))
    val w = writesOf(p => p >= 1 && !rec.tracedPass(p))
    Map("write_p50_s" -> Stats.pct(w, 0.5), "write_p90_s" -> Stats.pct(w, 0.9),
      "writes" -> w.size.toDouble,
      "write_bytes_per_live_byte" -> med(b => b.bytesWritten / b.plainBytes),
      "space_bytes_per_live_byte" -> med(b => b.bytesOnDisk / b.plainBytes),
      "chain_length" -> Stats.median(chain.values.map(_.toDouble).toSeq),
      "build_s" -> Stats.median(builds.toSeq))
  }

  override def layers(traced: Set[Int]): Map[String, Double] = {
    val ops = rec.ops.filter(o => traced.contains(o.pass))
    def med(names: String*) = Stats.median(ops.filter(o => names.contains(o.name)).map(_.seconds).toSeq)
    val tb = traced.toSeq.flatMap(passBytes.get)
    def bytes(f: Bytes => Double) = Stats.median(tb.map(f))
    val w = writesOf(traced.contains)
    Map(
      "sources.write_s.append" -> med("append"),
      "sources.write_s.delete" -> med("delete", "delete_corr"),
      "sources.write_s.update" -> med("update", "update_scalar"),
      "sources.write_s.merge" -> med("merge"),
      "sources.write_s.replace_where" -> med("replace_where"),
      "sources.write_s.optimize" -> med("optimize"),
      "sources.write_s.vacuum" -> med("vacuum"),
      "sources.write_s.mv_refresh" -> med("mv_refresh"),
      "sources.read_s.latest" -> med("latest", "point"),
      "sources.read_s.as_of" -> med("as_of"),
      "sources.read_s.cdf" -> med("cdf"),
      "sources.read_s.mv_rewrite" -> med("mv_rewrite", "mv_join"),
      "sources.files_written" -> bytes(_.filesWritten), "sources.bytes_written" -> bytes(_.bytesWritten),
      "sources.files_live" -> bytes(_.filesOnDisk), "sources.bytes_live" -> bytes(_.bytesOnDisk),
      "sources.write_p50_s" -> Stats.pct(w, 0.5), "sources.write_p90_s" -> Stats.pct(w, 0.9),
      "sources.write_bytes_per_live_byte" -> bytes(b => b.bytesWritten / b.plainBytes),
      "sources.space_bytes_per_live_byte" -> bytes(b => b.bytesOnDisk / b.plainBytes))
  }

  private def df(rows: Seq[R]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.row), 1), SCHEMA)
}

object TableDmlWorkload {
  /** A pass's file accounting under the orders table root: created by its
    * commits, on disk after VACUUM, and a plain-Parquet copy's bytes. */
  final case class Bytes(filesWritten: Double, bytesWritten: Double, filesOnDisk: Double,
                         bytesOnDisk: Double, plainBytes: Double)

  final case class R(k: Long, ck: Long, prio: String, cents: Long, status: String) {
    def row: Row = Row(k, ck, prio, cents, status)
  }
  object R {
    def of(r: Row): R = R(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))
  }
  val COLS = Seq("k", "ck_o", "prio", "cents", "status")
  val SCHEMA: StructType = StructType(Seq(StructField("k", LongType), StructField("ck_o", LongType),
    StructField("prio", StringType), StructField("cents", LongType), StructField("status", StringType)))
  val PRIOS = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val STATUS = IndexedSeq("F", "O", "P")

  def isWrite(kind: String): Boolean = !Set("latest", "point", "as_of", "cdf", "mv_rewrite", "mv_join")(kind)

  def byStatus(s: Map[Long, R]): Set[(String, Long, Long)] =
    s.values.groupBy(_.status).map { case (st, xs) => (st, xs.size.toLong, xs.map(_.cents).sum) }.toSet

  def same[A](got: Set[A], want: Set[A]): Option[String] =
    if (got == want) None else Some(s"got ${got.take(5)} want ${want.take(5)}")

  def diff(got: Seq[R], want: Map[Long, R]): Option[String] = {
    val g = got.map(x => x.k -> x).toMap
    if (g.size != got.size) return Some(s"${got.size - g.size} duplicate keys in the snapshot")
    val missing = want.keySet -- g.keySet; val extra = g.keySet -- want.keySet
    val changed = want.keySet.intersect(g.keySet).filter(k => want(k) != g(k))
    if (missing.isEmpty && extra.isEmpty && changed.isEmpty) None
    else Some(s"missing ${missing.size} (e.g. ${missing.take(3)}), extra ${extra.size} (e.g. ${extra.take(3)}), " +
      s"changed ${changed.size} (e.g. ${changed.take(3).map(k => (want(k), g(k)))})")
  }

  /** Apply a change feed to the `from` snapshot and compare with `to`:
    * per commit (when the feed carries `_commit_version`), removals
    * (delete, update_preimage) before additions (insert, update_postimage). */
  def foldCheck(rows: Array[Row], from: Map[Long, R], to: Map[Long, R]): Option[String] = {
    if (rows.isEmpty) return diff(from.values.toSeq, to)
    val schema = rows.head.schema
    val ct = schema.fieldIndex("_change_type")
    val cv = schema.fieldNames.indexOf("_commit_version")
    def rOf(r: Row) = R(r.getAs[Long]("k"), r.getAs[Long]("ck_o"), r.getAs[String]("prio"),
      r.getAs[Long]("cents"), r.getAs[String]("status"))
    val byCommit = if (cv < 0) Seq(rows.toSeq) else rows.toSeq.groupBy(_.getLong(cv)).toSeq.sortBy(_._1).map(_._2)
    var s = from
    byCommit.foreach { rs =>
      rs.foreach { r => r.getString(ct) match {
        case "delete" | "update_preimage" => s -= rOf(r).k
        case _ => ()
      } }
      rs.foreach { r => r.getString(ct) match {
        case "insert" | "update_postimage" => val x = rOf(r); s = s.updated(x.k, x)
        case _ => ()
      } }
    }
    diff(s.values.toSeq, to).map("change feed: " + _)
  }
}
