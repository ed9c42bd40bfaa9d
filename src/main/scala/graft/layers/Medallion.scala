package graft.layers

import java.util.concurrent.{ExecutionException, Executors}
import scala.util.{Failure, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.{Tables, InstacartSchemas, VersionedTable}
import graft.quality.Gates
import graft.ops.RelationalOps._

/** The reference's medallion pipeline (Bronze → Silver → Gold) end-to-end,
  * on the Instacart-shaped schemas — the workload semantics of
  * notebooks/01-03 with the corrected serverless-SQL behavior
  * (SURVEY.md §2.9, §2.11, §3).
  *
  * Deviations from the reference, by design:
  * - Parquet instead of Delta (no Delta jars offline — SURVEY.md §7);
  *   identical overwrite/partitionBy semantics.
  * - Deterministic dedup tie-break (add_to_cart_order / order_number)
  *   instead of `monotonically_increasing_id()` (02_silver_transform.py:50)
  *   which is partition-layout-dependent.
  * - Gates run as ONE profiling scan per table ([[Gates.profile]]) instead
  *   of 2 count-jobs per gate (§3 step 4) — same thresholds, same failure
  *   behavior, ~10× fewer jobs on a 100 TB table.
  * - Independent table builds run concurrently ([[runBuilds]]): the five
  *   bronze ingests, and the five gold tables over the shared silver
  *   caches; silver runs its tables in order.
  * - Silver is write-audit-publish: each gated table is computed and
  *   written once to a staging dir, the gates audit the staged files, and
  *   only then does it replace the published table (the reference gates
  *   the unwritten frame, recomputing it per gate action). A failed gate
  *   leaves the published table as it was.
  * - Bronze and silver row counts are the written files' parquet footer
  *   sums, not count jobs over tables just written.
  */
object Medallion {

  final case class Config(
    rawDir: String, bronzeDir: String, silverDir: String, goldDir: String,
    nullRateRequired: Double = 0.0,      // required cols: 02_silver_transform.py:59-63
    nullRateDefault: Double = 0.001,     // pipeline_config.yml:14
    nullRateDaysSincePrior: Double = 0.07, // pipeline_config.yml:15
    duplicateRate: Double = 0.0,          // pipeline_config.yml:18-19
    reconDrift: Double = 0.001,           // pipeline_config.yml:23
    velocityMinPurchases: Long = 50L)     // HAVING COUNT(*) >= 50 (03_serverless:369)

  /** Load a [[Config]] from a pipeline_config.yml — the reference drives
    * paths/thresholds from configs/pipeline_config.yml; this reads the same
    * file shape via [[graft.util.PipelineConfig]]. Thresholds missing from
    * the file keep the reference defaults. */
  def configFromYaml(path: String): Config = {
    val c = graft.util.PipelineConfig.load(path)
    Config(
      rawDir = c.str("paths.data"),
      bronzeDir = c.str("paths.bronze"),
      silverDir = c.str("paths.silver"),
      goldDir = c.str("paths.gold"),
      nullRateRequired = c.double("quality_thresholds.null_rate_required", 0.0),
      nullRateDefault = c.double("quality_thresholds.null_rate_default", 0.001),
      nullRateDaysSincePrior = c.double("quality_thresholds.null_rate_days_since_prior", 0.07),
      duplicateRate = c.double("quality_thresholds.duplicate_rate_pk", 0.0),
      reconDrift = c.double("quality_thresholds.reconciliation_threshold", 0.001),
      velocityMinPurchases = c.int("gold.velocity_min_purchases", 50).toLong)
  }

  private val log = graft.util.Log("medallion")

  /** 01_bronze_ingest: CSV → enforced schema → metadata cols → write;
    * prior+train order_products unioned (01:120-140). */
  def runBronze(spark: SparkSession, cfg: Config): Map[String, Long] = {
    log.info(s"bronze ingest: ${cfg.rawDir} -> ${cfg.bronzeDir}")
    def csv(file: String, schema: StructType) =
      Tables.readCsv(spark, s"${cfg.rawDir}/$file", schema)
    val sources = Seq(
      ("orders", csv("orders.csv", InstacartSchemas.orders), "orders.csv"),
      ("products", csv("products.csv", InstacartSchemas.products), "products.csv"),
      ("aisles", csv("aisles.csv", InstacartSchemas.aisles), "aisles.csv"),
      ("departments", csv("departments.csv", InstacartSchemas.departments), "departments.csv"),
      // prior + train union (positional, same schema)
      ("order_products", csv("order_products_prior.csv", InstacartSchemas.orderProducts)
        .union(csv("order_products_train.csv", InstacartSchemas.orderProducts)),
        "order_products_*.csv"))
    runBuilds(spark, sources.map { case (name, df, file) => name -> (() => {
      val dir = s"${cfg.bronzeDir}/$name"
      Tables.overwrite(Tables.withBronzeMeta(df, file, "v1"), dir)
      val n = VersionedTable.parquetDirRowCount(dir)
      Gates.assertRowCountNonzero(n, name)
      Gates.logLayerStats("bronze", name, n)
      n
    })})
  }

  /** Silver orders gate battery, shared by the full-refresh and
    * incremental paths (one definition so a threshold change cannot gate
    * the two paths differently). Single-scan profile — the reference runs
    * 6 null gates as 6 separate count-job pairs (02:59-65); here ONE
    * aggregation computes every rate, then each is gated at its reference
    * threshold: required columns at 0.0 (zero tolerance, 02:59-63),
    * days_since_prior_order at cfg's rate (valid nulls for first orders,
    * 02:64-65). Returns the profiled row count. */
  def gateSilverOrders(ordersDedup: DataFrame, cfg: Config, layer: String): Long = {
    val requiredCols = Seq("order_id", "user_id", "order_number",
      "order_dow", "order_hour_of_day")
    val (n, nullRates) = Gates.profile(ordersDedup,
      requiredCols :+ "days_since_prior_order")
    requiredCols.foreach(c =>
      Gates.gateNullRate(nullRates(c), c, cfg.nullRateRequired, layer))
    Gates.gateNullRate(nullRates("days_since_prior_order"),
      "days_since_prior_order", cfg.nullRateDaysSincePrior, layer)
    Gates.checkDuplicateRate(ordersDedup, Seq("order_id"), cfg.duplicateRate)
    n
  }

  /** Silver orders enrichment (02:71-84), shared by the full-refresh and
    * incremental paths. */
  def enrichOrders(ordersDedup: DataFrame): DataFrame =
    ordersDedup.withColumns(Map(
      "is_first_order" -> (col("order_number") === 1),           // 02:72
      "order_day_name" -> dayNameInstacart(col("order_dow")),    // 02:73-79
      "order_time_bucket" -> hourBucket(col("order_hour_of_day")), // 02:80-83
      "_silver_processed_at" -> current_timestamp()))            // 02:84

  /** 02_silver_transform: dedup → enrich → write-audit-publish
    * ([[writeAuditPublish]]). `orders` is published first: the
    * order_products RI gate reads it. */
  def runSilver(spark: SparkSession, cfg: Config): Map[String, Long] = {
    log.info(s"silver transform: ${cfg.bronzeDir} -> ${cfg.silverDir}")
    def bronze(t: String) =
      Tables.dropBronzeMeta(VersionedTable.readParquetDir(spark, s"${cfg.bronzeDir}/$t"))
    def bronzeRows(t: String) = VersionedTable.parquetDirRowCount(s"${cfg.bronzeDir}/$t")
    // --- orders (02:44-98) ---
    val ordersDedup = dedupFirst(bronze("orders"), Seq("order_id"),
      Seq(col("user_id"), col("order_number")))
    val nOrders = writeAuditPublish(spark, enrichOrders(ordersDedup),
      s"${cfg.silverDir}/orders") { (staged, n) =>
      gateSilverOrders(staged, cfg, "silver")
      Gates.reconcileRowCounts(bronzeRows("orders"), n, cfg.reconDrift, "orders")
    }
    Gates.logLayerStats("silver", "orders", nOrders)

    // --- order_products (02:104-142) ---
    val opEnriched = dedupFirst(bronze("order_products"), Seq("order_id", "product_id"),
      Seq(col("add_to_cart_order")))
      .withColumn("is_reordered", col("reordered") === 1)        // 02:129
      .withColumn("_silver_processed_at", current_timestamp())
    val nOp = writeAuditPublish(spark, opEnriched,
      s"${cfg.silverDir}/order_products") { (staged, n) =>
      Gates.checkDuplicateRate(staged, Seq("order_id", "product_id"), cfg.duplicateRate)
      // referential integrity: child FKs must exist in silver orders (02:124)
      Gates.checkReferentialIntegrity(staged, "order_id",
        VersionedTable.readParquetDir(spark, s"${cfg.silverDir}/orders"), "order_id")
      Gates.reconcileRowCounts(bronzeRows("order_products"), n, cfg.reconDrift,
        "order_products")
    }

    // --- lookups passed through with metadata (02:148-175) ---
    for (name <- Seq("products", "aisles", "departments"))
      Tables.overwrite(bronze(name).withColumn("_silver_processed_at", current_timestamp()),
        s"${cfg.silverDir}/$name")
    Gates.logLayerStats("silver", "order_products", nOp)
    Map("orders" -> nOrders, "order_products" -> nOp)
  }

  /** Write-audit-publish: `df` is written once to `<target>.staging`,
    * `audit` gates the staged rows (given their footer row count), and
    * only then does the staged dir replace `target`. The staging dir is
    * removed however this ends, so a failed audit leaves `target` as it
    * was. Returns the published row count. */
  private def writeAuditPublish(spark: SparkSession, df: DataFrame, target: String)
                               (audit: (DataFrame, Long) => Unit): Long = {
    val staged = new Path(s"$target.staging")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Tables.overwrite(df, staged.toString)
      val n = VersionedTable.parquetDirRowCount(staged.toString)
      audit(VersionedTable.readParquetDir(spark, staged.toString), n)
      val published = new Path(target)
      fs.delete(published, true)
      if (!fs.rename(staged, published))
        throw new java.io.IOException(s"could not publish $staged as $target")
      n
    } finally fs.delete(staged, true)
  }

  /** 03_gold_metrics (serverless semantics): all FIVE gold tables —
    * fct_orders (star join + md5 surrogate key, partitioned by eval_set),
    * dim_users, dim_products, mart_dept_performance, mart_reorder_velocity
    * (03_gold_metrics_serverless.py:72-371). */
  def runGold(spark: SparkSession, cfg: Config): Map[String, Long] = {
    log.info(s"gold metrics: ${cfg.silverDir} -> ${cfg.goldDir}")
    // Silver hot tables cached ONCE and shared by all five mart builds
    // (reference 03_gold_metrics.py:42-44, 73 — S9); without this each
    // mart re-scans order_products from parquet: 5 full re-reads at 33M+
    // rows (and 100 TB at scale). Lookups stay uncached: they broadcast.
    def silver(t: String) = VersionedTable.readParquetDir(spark, s"${cfg.silverDir}/$t")
    val orders = silver("orders").drop("_silver_processed_at").cache()
    val op = silver("order_products").drop("_silver_processed_at").cache()
    val products = silver("products")
    val aisles = silver("aisles")
    val departments = silver("departments")

    // fct_orders (03_serverless:72-121): 4-way star join, broadcast dims
    val fct = op
      .join(orders, Seq("order_id"))
      .join(broadcast(products.drop("_silver_processed_at")), Seq("product_id"))
      .join(broadcast(aisles.drop("_silver_processed_at")), Seq("aisle_id"))
      .join(broadcast(departments.drop("_silver_processed_at")), Seq("department_id"))
      .withColumn("order_product_key", surrogateKey(col("order_id"), col("product_id")))
      .withColumn("aisle_name", col("aisle"))
      .withColumn("department_name", col("department"))
      .withColumn("_gold_computed_at", current_timestamp())

    // dim_users (03_serverless:124-189)
    val orderStats = op.groupBy(col("order_id")).agg(
      count(lit(1)).as("basket_size"),
      sum(col("reordered")).as("reordered_items"))
      .withColumn("order_reorder_rate",
        rnd(safeDiv(col("reordered_items").cast("double") * 100.0,
          col("basket_size").cast("double")), 0))
    val dimUsers = orders.join(orderStats, Seq("order_id"), "left")
      .groupBy(col("user_id")).agg(
        countDistinct(col("order_id")).as("total_orders"),
        coalesce(sum(col("basket_size")), lit(0L)).as("lifetime_items"),
        rnd(avg(col("basket_size")), 2).as("avg_basket_size"),
        max(col("order_number")).as("max_order_sequence"),
        avg(col("days_since_prior_order")).as("avg_days_between_orders"),
        rnd(avg(col("order_reorder_rate")), 4).as("avg_reorder_rate_pct"))
      .withColumns(Map(
        "frequency_segment" ->                                    // 03_serverless:165-181
          when(col("total_orders") >= 50, "power")
            .when(col("total_orders") >= 20, "regular")
            .when(col("total_orders") >= 5, "occasional").otherwise("new"),
        "basket_segment" ->
          when(col("avg_basket_size") >= 15, "large")
            .when(col("avg_basket_size") >= 8, "medium").otherwise("small"),
        "_gold_computed_at" -> current_timestamp()))

    // dim_products (03_serverless:192-242): per-product stats from the
    // op⋈orders join, LEFT JOINs to the aisle/department hierarchy,
    // COALESCE defaults for never-ordered products, popularity tier
    val productStats = op.join(orders.select("order_id", "user_id"), Seq("order_id"))
      .groupBy(col("product_id")).agg(
        count(col("order_id")).as("times_ordered"),
        countDistinct(col("user_id")).as("unique_users"),
        sum(col("reordered")).as("reorder_count"),
        rnd(avg(col("reordered").cast("double")), 4).as("reorder_rate"),
        rnd(avg(col("add_to_cart_order")), 2).as("avg_cart_position"))
    val dimProducts = products.drop("_silver_processed_at")
      .join(broadcast(aisles.drop("_silver_processed_at")), Seq("aisle_id"), "left")
      .join(broadcast(departments.drop("_silver_processed_at")), Seq("department_id"), "left")
      .join(productStats, Seq("product_id"), "left")
      .select(
        col("product_id"), col("product_name"),
        col("aisle_id"), col("aisle").as("aisle_name"),
        col("department_id"), col("department").as("department_name"),
        coalesce(col("times_ordered"), lit(0L)).as("times_ordered"),
        coalesce(col("unique_users"), lit(0L)).as("unique_users"),
        coalesce(col("reorder_count"), lit(0L)).as("reorder_count"),
        coalesce(col("reorder_rate"), lit(0.0)).as("reorder_rate"),
        col("avg_cart_position"))
      .withColumn("popularity_tier",
        when(col("times_ordered") >= 10000, "Top Seller")
          .when(col("times_ordered") >= 1000, "Mid Tier")
          .otherwise("Long Tail"))
      .withColumn("_gold_computed_at", current_timestamp())

    // mart_dept_performance (03_serverless:245-308): prior-scope base,
    // department KPIs + day/time-bucket shares + pct-of-grand-total.
    // The grand total is derived from the aggregated frame itself, so the
    // base join executes once: the ~21 department rows gather into one
    // row beside their total and explode back (an unpartitioned window
    // would do the same, with a Spark WARN on every run).
    val deptBase = op
      .join(orders.filter(col("eval_set") === "prior")
        .select("order_id", "user_id", "order_day_name", "order_time_bucket"), Seq("order_id"))
      .join(broadcast(products.select("product_id", "department_id")), Seq("product_id"))
      .join(broadcast(departments.drop("_silver_processed_at")), Seq("department_id"))
    val deptAgg = deptBase
      .groupBy(col("department_id"), col("department").as("department_name"))
      .agg(
        countDistinct(col("order_id")).as("total_orders"),
        count(lit(1)).as("total_line_items"),
        countDistinct(col("user_id")).as("unique_users"),
        countDistinct(col("product_id")).as("unique_products"),
        sum(col("reordered")).as("reorder_line_items"),
        rnd(avg(col("reordered").cast("double")), 4).as("reorder_rate"),
        rnd(avg(col("add_to_cart_order")), 2).as("avg_cart_position"),
        rnd(share(col("order_day_name") === "Saturday"), 4).as("pct_saturday"),
        rnd(share(col("order_day_name") === "Sunday"), 4).as("pct_sunday"),
        rnd(share(col("order_time_bucket") === "Morning"), 4).as("pct_morning"),
        rnd(share(col("order_time_bucket") === "Afternoon"), 4).as("pct_afternoon"),
        rnd(share(col("order_time_bucket") === "Evening"), 4).as("pct_evening"),
        rnd(share(col("order_time_bucket") === "Night"), 4).as("pct_night"))
    val deptCols = deptAgg.columns.toSeq
    val martDept = deptAgg
      .agg(collect_list(struct(deptCols.map(col): _*)).as("d"),
        sum(col("total_line_items")).as("grand_total"))
      .select(explode(col("d")).as("d"), col("grand_total"))
      .select(deptCols.map(c => col(s"d.$c")) :+
        rnd(col("d.total_line_items") / col("grand_total"), 6)
          .as("pct_of_total_items"): _*)
      .withColumn("_gold_computed_at", current_timestamp())
      .orderBy(col("total_line_items").desc)

    // mart_reorder_velocity (03_serverless:311-371): purchase-sequence rank
    // + previous-purchase reorder flag per (user, product), position
    // buckets, HAVING-gated agg. order_number is the per-user order
    // sequence (unique within a user), so the window order is deterministic.
    val seqBase = op
      .join(orders.filter(col("eval_set") =!= "test")
        .select("order_id", "user_id", "order_number"), Seq("order_id"))
      .join(broadcast(products.select("product_id", "product_name", "department_id")), Seq("product_id"))
      .join(broadcast(departments.drop("_silver_processed_at")), Seq("department_id"))
    val ranked = lagPrev(
      sequenceRank(seqBase, Seq("user_id", "product_id"),
        Seq(col("order_number")), as = "order_rank"),
      col("reordered"), Seq("user_id", "product_id"), Seq(col("order_number")),
      0, "prev_reordered")
      .withColumn("order_position_bucket",
        when(col("order_rank") === 1, "1st_purchase")
          .when(col("order_rank") === 2, "2nd_purchase")
          .when(col("order_rank") === 3, "3rd_purchase")
          .when(col("order_rank") <= 5, "4th_5th_purchase")
          .otherwise("6th_plus_purchase"))
    val martVelocity = ranked
      .groupBy(col("product_id"), col("product_name"),
        col("department"), col("order_position_bucket"))
      .agg(
        count(lit(1)).as("purchase_count"),
        rnd(avg(col("reordered").cast("double")), 4).as("reorder_rate_at_position"))
      .filter(col("purchase_count") >= cfg.velocityMinPurchases)
      .withColumn("_gold_computed_at", current_timestamp())
      .orderBy(col("product_id"), col("order_position_bucket"))

    // the caches are built once, before the five builds that share them;
    // gold snapshots are versioned (time travel + schema gate) — the
    // Delta-table semantics of the reference, on plain Parquet
    val out = try {
      runBuilds(spark, Seq("orders" -> (() => orders.count()),
        "order_products" -> (() => op.count())))
      runBuilds(spark, Seq(
        ("fct_orders", fct, Seq("eval_set")), ("dim_users", dimUsers, Nil),
        ("dim_products", dimProducts, Nil), ("mart_dept_performance", martDept, Nil),
        ("mart_reorder_velocity", martVelocity, Nil)).map { case (table, df, parts) =>
        table -> (() => {
          val root = s"${cfg.goldDir}/$table"
          VersionedTable.write(df, root, allowEvolution = true, partitionBy = parts)
          VersionedTable.readLatest(spark, root).count()
        })
      })
    } finally { orders.unpersist(); op.unpersist() }
    out.foreach { case (table, n) => Gates.logLayerStats("gold", table, n) }
    out
  }

  /** Run a layer's independent table builds at once, one pool thread per
    * build, each with the caller's active session and local properties
    * (job groups, scheduler pool, tracing tags). Returns once every build
    * has finished: the results by table, or else the first failure in
    * table order with the others added as suppressed. */
  private def runBuilds[A](spark: SparkSession, builds: Seq[(String, () => A)]): Map[String, A] = {
    val pool = Executors.newFixedThreadPool(builds.size)
    try {
      val running = builds.map { case (table, build) =>
        table -> SQLExecution.withThreadLocalCaptured(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(build())
      }
      val done = running.map { case (table, f) =>
        table -> Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
      }
      done.collect { case (_, Failure(e)) => e } match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => done.map { case (table, r) => table -> r.get }.toMap
      }
    } finally pool.shutdown()
  }

  /** Full pipeline: bronze → silver → gold with gates between layers. */
  def runAll(spark: SparkSession, cfg: Config): Map[String, Long] =
    runBronze(spark, cfg) ++ runSilver(spark, cfg) ++ runGold(spark, cfg)
}
