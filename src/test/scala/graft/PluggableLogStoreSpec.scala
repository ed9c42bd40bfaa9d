package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** A config-registered [[LogStore]] that DELEGATES to the built-in NIO
  * store while counting every read()/list() per path — the proof shape
  * for two contracts at once:
  *
  *  1. `spark.graft.logstore.<scheme> = <class>` routes that scheme's
  *     gvt METADATA through a user-supplied store with no library
  *     change (the production target is an S3 `PUT If-None-Match`
  *     adapter validated against [[LogStore.InMemory]]'s contract
  *     block);
  *  2. protocol feature checks are FORWARD PROBES (immutable
  *     `_protocol.v<N>` reads from a cached tip), never root LISTINGS —
  *     the per-resolve listing cost the round-12 write-then-read
  *     microbenchmarks paid is structurally gone.
  */
class CountingFileStore extends LogStore {
  private val fc = FileContext.getFileContext(new Configuration())
  private val delegate = new LogStore.Nio(fc)
  import CountingFileStore._
  override def read(p: HPath): Option[String] = {
    bump(reads, p); delegate.read(p)
  }
  override def putIfAbsent(p: HPath, s: String): Unit = delegate.putIfAbsent(p, s)
  override def overwrite(p: HPath, s: String): Unit = delegate.overwrite(p, s)
  override def delete(p: HPath, recursive: Boolean): Boolean =
    delegate.delete(p, recursive)
  override def list(p: HPath): Seq[String] = {
    bump(lists, p); delegate.list(p)
  }
  override def exists(p: HPath): Boolean = delegate.exists(p)
}

object CountingFileStore {
  val reads = new ConcurrentHashMap[String, AtomicLong]()
  val lists = new ConcurrentHashMap[String, AtomicLong]()
  private def bump(m: ConcurrentHashMap[String, AtomicLong], p: HPath): Unit = {
    m.computeIfAbsent(p.toUri.getPath, _ => new AtomicLong(0L))
      .incrementAndGet(); ()
  }
  def clear(): Unit = { reads.clear(); lists.clear() }
  def totalUnder(m: ConcurrentHashMap[String, AtomicLong],
                 prefix: String, contains: String = ""): Long = {
    import scala.jdk.CollectionConverters._
    m.asScala.collect { case (k, v)
      if k.startsWith(prefix) && k.contains(contains) => v.get }.sum
  }
}

class PluggableLogStoreSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private val confKey = "spark.graft.logstore.file"

  /** Run `body` with the counting store registered for file:, restoring
    * the default routing afterwards (suites run sequentially in the
    * forked test JVM, so the session-wide flip is scoped safely). */
  private def withCountingStore[A](body: => A): A = {
    spark.conf.set(confKey, classOf[CountingFileStore].getName)
    LogStore.invalidateCustomStores()
    try body
    finally {
      spark.conf.unset(confKey)
      LogStore.invalidateCustomStores()
    }
  }

  private def fresh(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  test("a config-registered store carries a full gvt commit chain " +
    "end-to-end (write, append, DV delete, read, time travel)") {
    import spark.implicits._
    withCountingStore {
      CountingFileStore.clear()
      val root = fresh("plug")
      VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
      VersionedTable.append(Seq((3L, "c")).toDF("k", "s"), root)
      VersionedTable.deleteWhereVector(spark, root, col("k") === 2L)
      assert(VersionedTable.readLatest(spark, root)
        .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      assert(VersionedTable.readVersion(spark, root, 2).count() == 3)
      // the registered store actually carried the metadata traffic
      assert(CountingFileStore.totalUnder(CountingFileStore.reads, root) > 0,
        "custom store saw no reads — registration did not route")
    }
  }

  test("protocol feature checks issue ZERO root list() calls — newest " +
    "entry resolves by forward probe of immutable _protocol.v<N> files") {
    import spark.implicits._
    withCountingStore {
      val root = fresh("plugproto")
      // two protocol entries: checkConstraints (writer), then dv (reader)
      VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
      VersionedTable.addCheckConstraint(spark, root, "k_pos", "k > 0")
      VersionedTable.deleteWhereVector(spark, root, col("k") === 2L)

      // cold probe (cache dropped): reads entries + one miss, no listing
      VersionedTable.invalidateSnapshots()
      CountingFileStore.clear()
      assert(VersionedTable.protocolOf(root) ==
        (Set("dv"), Set("dv", "checkConstraints")))
      val protoReadsCold = CountingFileStore.totalUnder(
        CountingFileStore.reads, s"$root/_protocol")
      assert(protoReadsCold >= 2 && protoReadsCold <= 4,
        s"cold probe should read the chain + one miss, saw $protoReadsCold")
      assert(CountingFileStore.totalUnder(
        CountingFileStore.lists, root) == 0,
        "protocol resolution must not list the table root")

      // warm probes: exactly ONE miss read per check, still zero listings
      CountingFileStore.clear()
      VersionedTable.protocolOf(root)
      VersionedTable.checkReadProtocol(root)
      VersionedTable.checkWriteProtocol(root)
      assert(CountingFileStore.totalUnder(
        CountingFileStore.reads, s"$root/_protocol") == 3,
        "each warm check should pay exactly one tip-miss probe")
      assert(CountingFileStore.totalUnder(
        CountingFileStore.lists, root) == 0)
    }
  }

  test("the raw-scheme hook resolves a registered store without any " +
    "Hadoop filesystem for the scheme") {
    spark.conf.set("spark.graft.logstore.fakestore",
      classOf[CountingFileStore].getName)
    LogStore.invalidateCustomStores()
    try {
      val p = new HPath("fakestore://bucket/table/_probe")
      assert(LogStore.forRawScheme(p).exists(_.isInstanceOf[CountingFileStore]))
      assert(LogStore.forRawScheme(new HPath("/tmp/x")).isEmpty,
        "scheme-less paths must keep resolving through defaultFS routing")
    } finally {
      spark.conf.unset("spark.graft.logstore.fakestore")
      LogStore.invalidateCustomStores()
    }
  }
}
