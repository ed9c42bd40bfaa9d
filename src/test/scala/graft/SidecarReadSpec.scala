package graft

import java.nio.file.Files
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** A gvt version dir's `_`-prefixed Parquet payloads (`_dv`, `_stats`,
  * `_bloom`, `_cdf`) are read from their listed files: Spark is never
  * handed the hidden dir, so it never logs "All paths were ignored". */
class SidecarReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Every WARN+ message the session logs while attached. */
  private final class Capture extends AbstractAppender(
      "graft-sidecar-capture", null, null, true, Property.EMPTY_ARRAY) {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      lines.add(e.getMessage.getFormattedMessage)
  }

  test("DV DML and DV-masked, pruned, time-travel, CDF and OPTIMIZE WHERE " +
    "reads log no ignored-path WARN") {
    // Spark's own logger context (the one its classes log through),
    // after session start-up has (re)loaded the logging configuration
    spark.sparkContext
    val ctx = LogManager.getContext(
      classOf[org.apache.spark.sql.execution.datasources.DataSource].getClassLoader,
      false).asInstanceOf[LoggerContext]
    val rootLog = ctx.getConfiguration.getRootLogger
    val capture = new Capture
    capture.start()
    rootLog.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    val root = Files.createTempDirectory("graft_sidecar").toString + "/t"
    try GraftSession.withExtensions(spark) { sess =>
      def count(q: String): Long = sess.sql(q).count()
      def view(): Unit = sess.sql(
        s"CREATE OR REPLACE TEMPORARY VIEW sidecar_t USING gvt OPTIONS (path '$root')")
      // v1: 40 rows in two hive partitions, zone maps on k and id
      VersionedTable.write((1 to 40).map(k =>
          (k.toLong, s"id-$k", k * 10L, if (k % 2 == 0) "a" else "b"))
        .toDF("k", "id", "cents", "p"), root,
        partitionBy = Seq("p"), statsCols = Seq("k", "id"))
      VersionedTable.setTblProperties(root, Map(
        "gvt.enableChangeDataFeed" -> "true", "gvt.dataSkippingCols" -> "k,id"))
      sess.sql(s"CREATE BLOOMFILTER INDEX ON TABLE gvt.`$root` FOR COLUMNS (id)")
      view()
      // bloom-probed point read of the DV-free snapshot
      assert(count("SELECT * FROM sidecar_t WHERE id = 'id-21'") == 1)
      sess.sql("DELETE FROM sidecar_t WHERE k = 3")                  // v2
      view()
      sess.sql("UPDATE sidecar_t SET cents = cents + 1 WHERE k <= 10") // v3
      view()
      assert(new java.io.File(s"$root/v=3/_bloom").exists() &&
        new java.io.File(s"$root/v=3/_stats").exists() &&
        new java.io.File(s"$root/v=3/_cdf").exists())
      // zone-map point reads over the DV-masked chain
      assert(count("SELECT * FROM sidecar_t WHERE k = 20") == 1)
      assert(count("SELECT * FROM sidecar_t WHERE k = 3") == 0)
      assert(VersionedTable.readPruned(spark, root, "k", 5.0, 5.0)
        .filter(col("cents") === 51L).count() == 1)
      // bloom-probed point read over the DV-masked chain
      assert(count("SELECT * FROM sidecar_t WHERE id = 'id-21'") == 1)
      assert(count("SELECT * FROM sidecar_t WHERE id = 'id-3'") == 0)
      assert(count(s"SELECT * FROM sidecar_t VERSION AS OF 2") == 39)
      // keyless feed: served from the `_cdf` sidecars
      assert(count(s"SELECT * FROM table_changes('$root', 1, 2)") == 1)
      assert(count(s"SELECT * FROM table_changes('$root', 2, 3)") == 18)
      sess.sql(s"OPTIMIZE gvt.`$root` WHERE p = 'a'")                // v4
      assert(VersionedTable.history(spark, root).select("operation")
        .as[String].head().startsWith("OPTIMIZE_WHERE"))
      assert(VersionedTable.readLatest(spark, root).count() == 39)
      assert(VersionedTable.readLatest(spark, root)
        .agg(sum("cents")).head().getLong(0) == (1 to 40).map(_ * 10L).sum - 30 + 9)
    } finally {
      rootLog.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    val ignored = capture.lines.toArray.map(_.toString)
      .filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }
}
