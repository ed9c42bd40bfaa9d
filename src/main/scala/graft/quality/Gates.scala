package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Raised when a quality gate breaches its threshold, halting the pipeline
  * before downstream writes — reference utils/quality.py:21-23, README.md:78. */
final class DataQualityError(msg: String) extends RuntimeException(msg)

/** The reference's quality-gate operator library (utils/quality.py, SURVEY.md
  * §2.8), re-expressed as single-pass Spark aggregations.
  *
  * The reference runs each gate as 1-2 extra Spark jobs (two `count()`
  * actions for a null-rate check, a full window + filter + count for a
  * duplicate check — SURVEY.md §3 step 4). At 100 TB that job-storm pattern
  * re-scans the fact table once per gate. Here every rate is computed in ONE
  * aggregation (partial/final hash-agg, map-side combine), and
  * [[Gates.profile]] fuses an arbitrary set of null-rate gates into a single
  * scan. Duplicate detection uses groupBy-count (partial aggregation
  * shrinks the shuffle to one row per key) instead of the reference's
  * window-over-partition (which shuffles every input row) —
  * same result, strictly less shuffle IO at scale.
  */
object Gates {

  /** G1 `check_null_rate` — reference quality.py:28-62.
    * Fraction of rows where `column` is null; fails above `threshold`. */
  def checkNullRate(df: DataFrame, column: String, threshold: Double,
                    layer: String = "silver"): Double =
    gateNullRate(profile(df, Seq(column))._2(column), column, threshold, layer)

  /** G2 `check_duplicate_rate` — reference quality.py:65-94.
    * Fraction of rows belonging to a key-group of size > 1. Accepts a
    * composite key (the reference calls it per-column; 02_silver_transform.py
    * :121 gates on order_id+product_id via two calls). */
  def checkDuplicateRate(df: DataFrame, columns: Seq[String], threshold: Double,
                         layer: String = "silver"): Double = {
    val rate = duplicateRateAgg(df, columns)
    gate(rate <= threshold,
      f"[$layer] duplicate_rate(${columns.mkString(",")})=$rate%.6f exceeds threshold $threshold%.6f")
    rate
  }

  /** Two-level aggregation: per-key counts (map-side combined), then one
    * scalar agg. No window, no second scan. */
  private[graft] def duplicateRateAgg(df: DataFrame, columns: Seq[String]): Double = {
    val perKey = df.groupBy(columns.map(col): _*).agg(count(lit(1)).as("_n"))
    val r = perKey.agg(
      sum(when(col("_n") > 1, col("_n")).otherwise(lit(0L))).as("dup_rows"),
      sum(col("_n")).as("total_rows")).head
    if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
    else r.getLong(0).toDouble / r.getLong(1).toDouble
  }

  /** G3 `check_referential_integrity` — reference quality.py:97-130.
    * Rate of non-null child FK values with no matching parent key. Parent
    * side is reduced to distinct keys first so a small-dim parent
    * broadcasts (no shuffle of the child fact). */
  def checkReferentialIntegrity(child: DataFrame, childCol: String,
                                parent: DataFrame, parentCol: String,
                                layer: String = "silver",
                                threshold: Double = 0.0): Double = {
    val (orphans, nonNull) = orphanCounts(child, childCol, parent, parentCol)
    val rate = if (nonNull == 0L) 0.0 else orphans.toDouble / nonNull.toDouble
    gate(rate <= threshold,
      f"[$layer] orphan_rate($childCol→$parentCol)=$rate%.6f ($orphans/$nonNull) exceeds $threshold%.6f")
    rate
  }

  /** (orphans, non-null child keys) in one pass over the child: non-null
    * child keys LEFT JOIN distinct parent keys, then one aggregate. */
  private[graft] def orphanCounts(child: DataFrame, childCol: String,
                                  parent: DataFrame, parentCol: String): (Long, Long) = {
    val c = child.select(col(childCol).as("_fk")).filter(col("_fk").isNotNull)
    val p = parent.select(col(parentCol).as("_pk")).distinct()
    val r = c.join(p, col("_fk") === col("_pk"), "left").agg(
      count(lit(1)),
      coalesce(sum(when(col("_pk").isNull, 1L).otherwise(0L)), lit(0L))).head()
    (r.getLong(1), r.getLong(0))
  }

  /** G4 `reconcile_row_counts` — reference quality.py:133-160. Pure scalar:
    * relative drift |target-source|/source; zero source → zero drift
    * (no div-by-zero, reference test_quality.py:45-48). */
  def reconcileRowCounts(sourceCount: Long, targetCount: Long, threshold: Double,
                         tableName: String): Double = {
    val drift =
      if (sourceCount == 0L) 0.0
      else math.abs(targetCount - sourceCount).toDouble / sourceCount.toDouble
    gate(drift <= threshold,
      f"[recon] $tableName drift=$drift%.6f ($sourceCount→$targetCount) exceeds $threshold%.6f")
    drift
  }

  private val log = graft.util.Log("quality")

  /** G5 `assert_row_count_nonzero` — reference quality.py:163-170. */
  def assertRowCountNonzero(count: Long, tableName: String): Unit = {
    gate(count > 0L, s"[ingest] $tableName has 0 rows — empty ingestion")
    log.info(s"assert_nonzero | PASS | $tableName | $count rows")
  }

  /** G6 `log_layer_stats` — reference quality.py:173-178; emitted through
    * the structured logger (utils/logger.py format) so the
    * `LAYER_COMPLETE | ...` lines stay a grep-able stdout contract. */
  def logLayerStats(layer: String, table: String, rowCount: Long): Unit =
    log.info(s"LAYER_COMPLETE | layer=$layer | table=$table | rows=$rowCount" +
      s" | timestamp=${java.time.Instant.now()}")

  /** Gate a null rate already computed elsewhere (e.g. by [[profile]]'s
    * fused scan) — same failure contract as [[checkNullRate]] without
    * re-scanning the table. */
  def gateNullRate(rate: Double, column: String, threshold: Double,
                   layer: String = "silver"): Double = {
    gate(rate <= threshold,
      f"[$layer] null_rate($column)=$rate%.6f exceeds threshold $threshold%.6f")
    rate
  }

  private def gate(ok: Boolean, msg: String): Unit =
    if (!ok) throw new DataQualityError(msg)

  // ---- Single-scan audit profile (engine extension) ----------------------

  /** Fuse many null-rate gates + a row count into ONE scan of `df`.
    * At 100 TB this replaces the reference's N×2 count-jobs with a single
    * partial/final aggregate. Returns (rowCount, column→nullRate). */
  def profile(df: DataFrame, nullCols: Seq[String]): (Long, Map[String, Double]) = {
    val aggs: Seq[Column] = count(lit(1)).as("_cnt") +:
      nullCols.map(c => coalesce(avg(when(col(c).isNull, 1.0).otherwise(0.0)), lit(0.0)).as(s"_null_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head
    val cnt = row.getLong(0)
    (cnt, nullCols.zipWithIndex.map { case (c, i) => c -> row.getDouble(i + 1) }.toMap)
  }
}
