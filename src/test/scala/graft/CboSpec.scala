package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Cost-based optimization: with ANALYZE-computed table + column stats,
  * Catalyst's CBO join reorder rewrites a badly-written join chain
  * (big ⋈ big first, selective dimension last) so the selective join
  * runs first — at 100 TB the difference between shuffling the full
  * fact⋈fact intermediate and pre-shrinking it by the dimension filter.
  * The rule needs real statistics: it does nothing without ANALYZE. */
class CboSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("join reorder with stats moves the selective dimension join first") {
    val dir = "/root/testdata/sf0.001"
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      for (t <- Seq("lineitem", "orders", "customer")) {
        spark.sql(s"DROP TABLE IF EXISTS cbo_$t")
        spark.read.parquet(s"$dir/$t.parquet").write.saveAsTable(s"cbo_$t")
      }
      spark.sql("ANALYZE TABLE cbo_lineitem COMPUTE STATISTICS FOR ALL COLUMNS")
      spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
      spark.sql("ANALYZE TABLE cbo_customer COMPUTE STATISTICS FOR ALL COLUMNS")
      // written order: big ⋈ big first, tiny filtered dim last
      def query() = spark.sql(
        """SELECT c.c_mktsegment, sum(l.l_quantity) AS qty
          |FROM cbo_lineitem l
          |JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
          |JOIN cbo_customer c ON o.o_custkey = c.c_custkey
          |WHERE c.c_mktsegment = 'BUILDING'
          |GROUP BY c.c_mktsegment""".stripMargin)
      def joinOrder(on: Boolean): String = {
        spark.conf.set("spark.sql.cbo.enabled", on.toString)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", on.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = query().queryExecution.optimizedPlan.toString
        // sequence of base relations as they appear in the join tree
        "cbo_(lineitem|orders|customer)".r.findAllIn(plan).toSeq.mkString(",")
      }
      val without = joinOrder(on = false)
      val withCbo = joinOrder(on = true)
      assert(without != withCbo,
        s"expected stats-driven reorder to change the join tree; both = $withCbo")
      // orders⋈customer (selective) must join before lineitem enters
      assert(withCbo.indexOf("cbo_customer") < withCbo.indexOf("cbo_lineitem"),
        s"selective dim join should come first with CBO: $withCbo")
      // and the reordered plan still computes the same result
      assert(query().collect().nonEmpty)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      for (t <- Seq("lineitem", "orders", "customer"))
        spark.sql(s"DROP TABLE IF EXISTS cbo_$t")
    }
  }

  test("ANALYZE TABLE over a gvt relation: a DV-heavy dimension reports " +
    "its LIVE size and broadcasts again; DESCRIBE DETAIL shows the stats") {
    import spark.implicits._
    import graft.sources.VersionedTable
    GraftSession.withExtensions(spark) { sess =>
      val dim = java.nio.file.Files.createTempDirectory("graft_cbogvt")
        .toString + "/dim"
      // ~wide rows so the raw chain bytes comfortably exceed a small
      // broadcast threshold
      VersionedTable.write((1 to 20000)
        .map(i => (i.toLong, "x" * 64)).toDF("id", "pad"), dim)
      // delete 99% — live rows: id % 100 == 0
      VersionedTable.deleteWhereVector(sess, dim, col("id") % 100 =!= 0)
      // STATIC planning (sparkPlan, before AQE's runtime re-optimization,
      // which would broadcast from observed sizes regardless): exactly
      // the decision logical-plan stats drive on a real cluster
      def plannedJoin(): String = {
        sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW cbo_dim USING gvt " +
          s"OPTIONS (path '$dim')")
        // the fact frame must live in the EXTENSIONS session's catalog
        sess.createDataFrame((1 to 20000).map(i => (i.toLong, i * 3L)))
          .toDF("id", "m").createOrReplaceTempView("cbo_fact")
        sess.sql("SELECT count(*) AS n FROM " +
          "cbo_fact f JOIN cbo_dim d ON f.id = d.id")
          .queryExecution.sparkPlan.toString
      }
      val saved = sess.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        // threshold between the scaled LIVE size (~1% of raw) and raw
        val rawBytes = VersionedTable.chainDataBytes(
          VersionedTable.latestSnapshot(dim).get)
        val threshold = math.max(rawBytes / 4L, 4096L)
        sess.conf.set("spark.sql.autoBroadcastJoinThreshold",
          threshold.toString)
        val before = plannedJoin()
        assert(!before.contains("BroadcastHashJoin"),
          s"raw chain bytes should exceed the threshold:\n$before")
        val rec = sess.sql(s"ANALYZE TABLE gvt.`$dim` COMPUTE STATISTICS")
          .collect().head
        assert(rec.getAs[Long]("num_rows") == 200)
        val liveBytes = rec.getAs[Long]("size_bytes")
        assert(liveBytes < threshold && liveBytes > 0,
          s"scaled live bytes should sit under the threshold: $liveBytes")
        val after = plannedJoin()
        assert(after.contains("BroadcastHashJoin"),
          s"ANALYZE stats should re-enable the broadcast:\n$after")
        // DESCRIBE DETAIL surfaces the record; a new commit stales it
        val det = sess.sql(s"DESCRIBE DETAIL gvt.`$dim`").collect().head
        assert(det.getAs[Long]("analyzed_rows") == 200)
        assert(det.getAs[Long]("analyzed_bytes") == liveBytes)
        VersionedTable.append(Seq((999999L, "y")).toDF("id", "pad"), dim)
        val det2 = sess.sql(s"DESCRIBE DETAIL gvt.`$dim`").collect().head
        assert(det2.isNullAt(det2.fieldIndex("analyzed_rows")),
          "stats for an older version must not be served")
      } finally saved match {
        case Some(v) => sess.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => sess.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }
}
