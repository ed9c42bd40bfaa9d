package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.layers.Medallion
import graft.quality.DataQualityError

/** End-to-end bronze→silver→gold on a generated Instacart-shaped CSV
  * fixture, including the gate-halts-pipeline behavior (README.md:78). */
class MedallionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private def fixtureRoot(name: String, orphanOrderProducts: Boolean = false): String = {
    val root = Files.createTempDirectory(name).toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    writeFixture(s"$root/raw", orphanOrderProducts)
    root
  }

  private def under(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator.asScala.toSeq

  private def drainEvents(): Unit =
    org.apache.spark.sql.graft.NativeColumns.drainListenerBus(spark)

  private def writeFixture(dir: String, orphanOrderProducts: Boolean = false): Unit = {
    def w(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(s"$dir/$name"), String.join("\n", lines: _*).getBytes)
    w("orders.csv",
      "order_id,user_id,eval_set,order_number,order_dow,order_hour_of_day,days_since_prior_order" +:
        Seq(
          "1,10,prior,1,0,8,",        // first order: null days_since_prior
          "2,10,prior,2,3,14,7.0",
          "3,10,train,3,5,19,14.0",
          "4,20,prior,1,1,9,",
          "5,20,prior,2,2,22,3.0",
          "5,20,prior,2,2,22,3.0",    // duplicate order row → silver dedups
          "6,30,test,1,6,11,"))
    w("order_products_prior.csv",
      "order_id,product_id,add_to_cart_order,reordered" +:
        (Seq("1,100,1,0", "1,101,2,0", "2,100,1,1", "2,102,2,0",
          "4,101,1,0", "5,100,1,1", "5,101,2,1", "5,101,2,1") ++ // dup (5,101)
          (if (orphanOrderProducts) Seq("99,100,1,0") else Seq())))
    w("order_products_train.csv",
      "order_id,product_id,add_to_cart_order,reordered" +:
        Seq("3,100,1,1", "3,102,2,1"))
    w("products.csv",
      "product_id,product_name,aisle_id,department_id" +:
        Seq("100,Bananas,1,1", "101,Milk,2,2", "102,Bread,3,2"))
    w("aisles.csv", "aisle_id,aisle" +: Seq("1,fresh fruits", "2,milk", "3,bread"))
    w("departments.csv", "department_id,department" +: Seq("1,produce", "2,dairy eggs"))
  }

  // thresholds scaled for the 7-row fixture: 3/6 orders are first orders
  // (null days_since_prior) and dedup removes 1/7 rows — rates the real
  // dataset keeps under 7% / 0.1% (BASELINE.md)
  private def cfg(root: String) = Medallion.Config(
    rawDir = s"$root/raw", bronzeDir = s"$root/bronze",
    silverDir = s"$root/silver", goldDir = s"$root/gold",
    nullRateDaysSincePrior = 0.6, reconDrift = 0.2,
    velocityMinPurchases = 1L) // reference HAVING >= 50; fixture has 9 line items

  test("full pipeline: bronze counts, silver dedup, gold marts, partitioned fct") {
    val root = Files.createTempDirectory("graft_medallion").toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    writeFixture(s"$root/raw")
    val counts = Medallion.runAll(spark, cfg(root))
    assert(counts("order_products") == 9)   // 10 bronze (8 prior + 2 train) - 1 dup
    assert(counts("orders") == 6)           // 7 bronze - 1 dup
    assert(counts("fct_orders") == 9)       // star join preserves silver grain
    assert(counts("dim_users") == 3)
    assert(counts("dim_products") == 3)     // one row per product
    // prior-scope base: orders 1,2,4,5 → 7 line items over 2 departments
    assert(counts("mart_dept_performance") == 2)
    // velocity buckets (eval_set != test): product 100 → 1st/2nd/3rd,
    // 101 → 1st/2nd, 102 → 1st/2nd = 7 (product, bucket) groups
    assert(counts("mart_reorder_velocity") == 7)
    // spot-check mart semantics on the fixture
    import spark.implicits._
    val dept = spark.read.parquet(s"$root/gold/mart_dept_performance/v=1")
    val pctSum = dept.agg(org.apache.spark.sql.functions.sum($"pct_of_total_items"))
      .as[Double].head()
    assert(math.abs(pctSum - 1.0) < 1e-4, s"dept pcts sum to $pctSum")
    val vel = spark.read.parquet(s"$root/gold/mart_reorder_velocity/v=1")
      .filter($"product_id" === 100 && $"order_position_bucket" === "2nd_purchase")
      .select($"reorder_rate_at_position").as[Double].head()
    assert(vel == 1.0) // the single 2nd purchase of product 100 was a reorder
    // partitionBy(eval_set) layout → partition pruning for eval_set filters
    val parts = new java.io.File(s"$root/gold/fct_orders/v=1").listFiles()
      .map(_.getName).filter(_.startsWith("eval_set="))
    assert(parts.toSet == Set("eval_set=prior", "eval_set=train"))
    // silver enrichment columns present with reference semantics
    val silver = spark.read.parquet(s"$root/silver/orders")
    import spark.implicits._
    val day = silver.filter($"order_id" === 1)
      .select($"order_day_name", $"order_time_bucket", $"is_first_order")
      .as[(String, String, Boolean)].head()
    assert(day == ("Saturday", "Morning", true)) // dow=0 → Saturday (02:73-79)
  }

  test("referential-integrity gate halts the pipeline on orphan FKs") {
    val root = Files.createTempDirectory("graft_medallion_bad").toString
    Files.createDirectories(Paths.get(s"$root/raw"))
    writeFixture(s"$root/raw", orphanOrderProducts = true)
    val c = cfg(root)
    Medallion.runBronze(spark, c)
    intercept[DataQualityError](Medallion.runSilver(spark, c))
    // gate fired BEFORE the silver order_products write (halt semantics)
    assert(!Files.exists(Paths.get(s"${c.silverDir}/order_products")))
    // the audited staging files are gone; orders, which passed, is published
    assert(!under(c.silverDir).exists(_.getFileName.toString.endsWith(".staging")))
    assert(graft.sources.VersionedTable.readParquetDir(spark, s"${c.silverDir}/orders")
      .count() == 6)
  }

  test("an empty bronze source fails the layer after every table build has finished") {
    val root = fixtureRoot("graft_medallion_empty")
    Files.write(Paths.get(s"$root/raw/aisles.csv"), "aisle_id,aisle".getBytes)
    val c = cfg(root)
    val e = intercept[DataQualityError](Medallion.runBronze(spark, c))
    assert(e.getMessage.contains("aisles"))
    assert(!under(c.bronzeDir).exists(_.getFileName.toString == "_temporary"))
    for (t <- Seq("orders", "products", "departments", "order_products"))
      assert(Files.exists(Paths.get(s"${c.bronzeDir}/$t/_SUCCESS")), t)
  }

  test("silver computes each deduped table once; bronze and silver count no output") {
    val c = cfg(fixtureRoot("graft_medallion_once"))
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe)
    }
    def executed(run: => Unit): Seq[QueryExecution] = {
      drainEvents(); plans.clear(); run; drainEvents()
      plans.asScala.toSeq
    }
    // a plan whose only result is a row count of files under `dir`
    def countsRowsUnder(dir: String)(qe: QueryExecution): Boolean = qe.optimizedPlan match {
      case a: Aggregate if a.groupingExpressions.isEmpty &&
          a.aggregateExpressions.forall(_.find(_.isInstanceOf[Count]).isDefined) =>
        val canon = new java.io.File(dir).getCanonicalPath
        a.collectLeaves().forall {
          case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
            h.location.rootPaths.forall(_.toUri.getPath.startsWith(canon + "/"))
          case _ => false
        }
      case _ => false
    }
    spark.listenerManager.register(listener)
    try {
      val bronze = executed(Medallion.runBronze(spark, c))
      val silver = executed(Medallion.runSilver(spark, c))
      assert(silver.count(qe => find(qe.executedPlan)(_.isInstanceOf[WindowExec]).isDefined) == 2)
      assert(!bronze.exists(countsRowsUnder(c.bronzeDir)))
      assert(!silver.exists(countsRowsUnder(c.silverDir)))
    } finally spark.listenerManager.unregister(listener)
  }

  test("jobs of the concurrent table builds carry the caller's local properties") {
    val c = cfg(fixtureRoot("graft_medallion_props"))
    val sc = spark.sparkContext
    val tags = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).flatMap(p => Option(p.getProperty("medallion.spec.caller"))))
    }
    Medallion.runBronze(spark, c)
    Medallion.runSilver(spark, c)
    drainEvents()
    sc.addSparkListener(listener)
    sc.setLocalProperty("medallion.spec.caller", "pipeline")
    try {
      Medallion.runBronze(spark, c)
      Medallion.runGold(spark, c)
      drainEvents()
    } finally {
      sc.setLocalProperty("medallion.spec.caller", null)
      sc.removeSparkListener(listener)
    }
    assert(!tags.isEmpty)
    assert(tags.asScala.forall(_.contains("pipeline")))
  }
}
