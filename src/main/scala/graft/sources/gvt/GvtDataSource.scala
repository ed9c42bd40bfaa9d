package graft.sources.gvt

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.graft.StreamingBridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{Decimal, StructType}
import graft.sources.{Snapshot, VersionedTable}

/** `spark.read.format("gvt")` — the DataSource surface of
  * [[graft.sources.VersionedTable]], mirroring how the reference
  * consumes its tables: `spark.read.format("delta")` with time-travel
  * options and plain `spark.sql` over registered tables (reference
  * 01_bronze_ingest.py:96-102, 02_silver_transform.py:46,
  * 03_gold_metrics_serverless.py:57-64).
  *
  * Architecture (the one Delta itself uses on Spark): a V1
  * `RelationProvider` returning a [[HadoopFsRelation]] over a CUSTOM
  * FileIndex ([[GvtFileIndex]], the TahoeFileIndex analogue). The
  * relation plans as a normal parquet `FileSourceScanExec` — full
  * vectorized reads, whole-stage codegen, column pruning, parquet
  * filter pushdown, hive partition pruning — while the FileIndex
  * resolves the snapshot's `_parent` chain and applies ZONE-MAP file
  * skipping inside `listFiles`: pushed range predicates prune files AT
  * PLANNING, before any scan task exists. This subsumes the opt-in
  * `VersionedTable.readPruned` side API: any `df.filter` / SQL WHERE
  * over a gvt relation prunes automatically, on every statted column
  * at once (multi-column conjunctions intersect).
  *
  * Options:
  *  - `path` (required): the table root.
  *  - `versionAsOf`: read snapshot N instead of the live version.
  *  - `timestampAsOf`: epoch millis or `yyyy-MM-dd HH:mm:ss` — newest
  *    commit at or before it (Delta's option names).
  *
  * SQL: `CREATE TEMPORARY VIEW t USING gvt OPTIONS (path '…')` (or a
  * catalog `CREATE TABLE … USING gvt`) then plain `SELECT`. The
  * relation pins its snapshot at resolution time — re-resolve (or
  * `spark.catalog.refreshTable`) to see later commits, exactly the
  * read-snapshot isolation a pinned version gives.
  *
  * Writes: `df.write.format("gvt").mode(…).save(root)` maps Overwrite
  * to a new full snapshot, Append to an O(batch) append commit (first
  * write creates the table), honoring options `partitionBy` and
  * `statsCols` (comma-separated), `mergeSchema` (schema evolution on
  * append — Delta's option), `overwriteSchema` (evolution on
  * overwrite), and `replaceWhere` (predicate-scoped overwrite in one
  * O(replaced+new) commit — requires mode Overwrite; incoming rows
  * must all satisfy the predicate).
  *
  * Streaming sink: `df.writeStream.format("gvt").option("path", …)` —
  * one atomic versioned commit per micro-batch, with the applied batch
  * id committed INSIDE the snapshot (chain-walking replay guard, the
  * same exactly-once contract as
  * [[graft.streaming.EventsStream.appendSink]]). Output modes: Append →
  * O(batch) append commits (the streaming fact-table path); Complete →
  * full-snapshot overwrite per batch (the aggregate-MV path); Update →
  * key-merge per batch (requires the `keys` option; rows within a
  * batch must be key-unique).
  */
class DefaultSource extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "gvt"

  // ── streaming READ of the table's rows (Delta stream-from-table) ──
  // `spark.readStream.format("gvt").load(root)`: append commits stream
  // their batch ROWS; rewrite commits fail loudly unless
  // skipChangeCommits/ignoreChanges. Offsets, rate limiting, horizon
  // guard and exactly-once checkpointing shared with format("gvt-cdf").

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), GvtCdfSource.tableSchema(sqlContext, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GvtCdfSource(sqlContext, parameters, rowsOnly = true)

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = pathOf(parameters)
    // Delta's batch CDF read surface:
    //   spark.read.format("gvt").option("readChangeFeed", "true")
    //     .option("startingVersion", n)[.option("endingVersion", m)]
    // startingVersion/endingVersion are INCLUSIVE commit versions
    // (Delta's contract); VersionedTable.changes takes an exclusive
    // base, hence the -1. `keys` names the row identity for rewrite
    // commits, exactly as the table_changes TVF requires.
    if (parameters.get("readChangeFeed").exists(_.trim.equalsIgnoreCase("true"))) {
      // startingTimestamp = every commit AT OR AFTER the timestamp
      // (strictly-before resolution); endingTimestamp = the newest
      // commit at or before it — Delta's boundary semantics
      val fromExcl = parameters.get("startingVersion").map(_.trim.toLong - 1)
        .orElse(parameters.get("startingTimestamp").map(ts =>
          VersionedTable.versionBefore(root, parseTs(ts))))
        .getOrElse(throw new IllegalArgumentException(
          "gvt readChangeFeed: option startingVersion or " +
            "startingTimestamp is required"))
      val to = parameters.get("endingVersion").map(_.trim.toLong)
        .orElse(parameters.get("endingTimestamp").map(ts =>
          VersionedTable.versionAsOf(root, parseTs(ts))))
        .orElse(VersionedTable.latestVersion(root)).getOrElse(
          throw new IllegalArgumentException(s"gvt: no versions at $root"))
      val keys = parameters.get("keys").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      return new GvtChangeFeedRelation(spark, sqlContext, root,
        fromExcl, to, keys)
    }
    // pinned = explicitly version-addressed (time travel): a READ-ONLY
    // view of history — SQL DML refuses it (you can't DELETE the past)
    val pinned = parameters.contains("versionAsOf") ||
      parameters.contains("timestampAsOf")
    val version = parameters.get("versionAsOf").map(_.trim.toLong)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        VersionedTable.versionAsOf(root, parseTs(ts))))
      .getOrElse(VersionedTable.latestVersion(root).getOrElse(
        throw new IllegalArgumentException(s"gvt: no versions at $root")))
    val snap = VersionedTable.snapshot(root, version)
    if (snap.dvDirs.nonEmpty || snap.colmap.isDefined)
      // a snapshot carrying un-materialized deletion vectors (the
      // vectors must anti-join out) or a column mapping (physical
      // footer names must surface under their logical labels) cannot be
      // served as a plain file relation; it plans through the
      // resolving relation instead — zone-map pruning and
      // filter/column pushdown preserved inside
      return new GvtDvRelation(spark, sqlContext, snap, pinned)
    val index = new GvtFileIndex(spark, snap,
      VersionedTable.fileStats(spark, snap), pinned)
    val partitionSchema = index.partitionSchema
    val dataSchema = StructType(
      snap.schema.filterNot(f => partitionSchema.fieldNames.contains(f.name)))
    HadoopFsRelation(index, partitionSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val root = pathOf(parameters)
    val statsCols = parameters.get("statsCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val partitionBy = parameters.get("partitionBy").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // Delta's writer-option surface: `mergeSchema` evolves on append,
    // `overwriteSchema` on overwrite, `replaceWhere` scopes an
    // overwrite to exactly the predicate's rows (one O(replaced+new)
    // DV-shaped commit; incoming rows are validated against the
    // predicate — out-of-scope rows fail the whole write)
    def flag(name: String): Boolean =
      parameters.get(name).exists(_.trim.equalsIgnoreCase("true"))
    val replaceWhere = parameters.get("replaceWhere").map(_.trim).filter(_.nonEmpty)
    if (replaceWhere.isDefined && mode != SaveMode.Overwrite)
      throw new IllegalArgumentException(
        s"gvt: replaceWhere requires mode Overwrite (got $mode)")
    // bloomFilterCols: per-file Bloom sidecars collected on the written
    // version (Delta BLOOMFILTER INDEX's writer-side half) — point
    // lookups on these columns prune files at planning
    val bloomCols = parameters.get("bloomFilterCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // optimizeWrite: explicit true/false wins; absent = the
    // `gvt.optimizeWrite` table property decides (Delta's
    // autoOptimize.optimizeWrite surface)
    val ow = parameters.get("optimizeWrite").map(_.trim.toBoolean)
    val exists = VersionedTable.latestVersion(root).isDefined
    val written: Option[Long] = mode match {
      case SaveMode.Overwrite if replaceWhere.isDefined && exists =>
        Some(VersionedTable.replaceWhere(sqlContext.sparkSession, root,
          org.apache.spark.sql.functions.expr(replaceWhere.get), data))
      case SaveMode.Overwrite =>
        // Delta's partitionOverwriteMode=dynamic writer surface: under
        // the option (or the session conf) an Overwrite of an existing
        // PARTITIONED table replaces only the partitions the batch
        // touches — one O(replaced+new) commit via dynamicOverwrite
        val dynMode = parameters.get("partitionOverwriteMode").map(_.trim)
          .getOrElse(sqlContext.sparkSession.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"))
          .equalsIgnoreCase("dynamic")
        val layout =
          if (!exists) Seq.empty
          else VersionedTable.latestSnapshot(root).map(_.layout)
            .getOrElse(Seq.empty)
        if (dynMode && layout.nonEmpty)
          Some(VersionedTable.dynamicOverwrite(sqlContext.sparkSession,
            root, data, layout))
        else Some(VersionedTable.write(data, root, partitionBy = partitionBy,
          statsCols = statsCols, allowEvolution = flag("overwriteSchema"),
          optimizeWrite = ow))
      case SaveMode.Append =>
        if (exists) Some(VersionedTable.append(data, root, statsCols = statsCols,
          allowEvolution = flag("mergeSchema"), optimizeWrite = ow))
        else Some(VersionedTable.write(data, root, partitionBy = partitionBy,
          statsCols = statsCols, optimizeWrite = ow))
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"gvt: table already exists at $root (mode=ErrorIfExists)")
        Some(VersionedTable.write(data, root, partitionBy = partitionBy,
          statsCols = statsCols, optimizeWrite = ow))
      case SaveMode.Ignore =>
        if (!exists) Some(VersionedTable.write(data, root,
          partitionBy = partitionBy, statsCols = statsCols,
          optimizeWrite = ow))
        else None
    }
    if (bloomCols.nonEmpty) written.foreach(v =>
      VersionedTable.collectBlooms(sqlContext.sparkSession, root, v, bloomCols))
    createRelation(sqlContext, parameters)
  }

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val root = pathOf(parameters)
    val keys = parameters.get("keys").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val statsCols = parameters.get("statsCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    if (outputMode == OutputMode.Update() && keys.isEmpty)
      throw new IllegalArgumentException(
        "gvt sink: Update mode merges by key — pass option keys=<cols>")
    // Delta auto-compaction analogue: once the append chain reaches
    // this many version dirs, FOLD THE BATCHES (compactChain — the base
    // snapshot's files are never rewritten, so the fold costs
    // O(appended data) however large the table). The folded commit
    // carries the _batch watermark, so replay safety is unaffected.
    val autoCompactEvery = parameters.get("autoCompactEvery").map(_.trim.toInt)
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val batch = StreamingBridge.asBatch(data)
        if (batch.isEmpty) return
        // replay guard: the applied batch id lives INSIDE the snapshot
        // (resolved by chain walk — interleaved non-sink commits can't
        // hide it); a replayed id ≤ the watermark no-ops. Complete/
        // Update replays are also idempotent by construction, but the
        // guard saves their write cost either way.
        val applied = VersionedTable.readMetaLatest(root, "_batch")
          .map(_.trim.toLong)
        if (applied.exists(_ >= batchId)) return
        val meta = Map("_batch" -> batchId.toString)
        val exists = VersionedTable.latestVersion(root).isDefined
        outputMode match {
          case m if m == OutputMode.Complete() =>
            VersionedTable.write(batch, root, allowEvolution = true,
              partitionBy = partitionColumns, statsCols = statsCols,
              metaFiles = meta)
          case m if m == OutputMode.Update() && exists =>
            // conditional-commit merge with bounded retry: a concurrent
            // writer landing between the snapshot read and the commit
            // CONFLICTS and the merge re-reads + re-applies (never
            // silently clobbered); the batch watermark commits
            // atomically WITH the merged snapshot via metaFiles
            VersionedTable.merge(batch.sparkSession, root, batch, keys,
              metaFiles = meta)
          case _ if !exists =>
            VersionedTable.write(batch, root,
              partitionBy = partitionColumns, statsCols = statsCols,
              metaFiles = meta)
          case _ =>
            VersionedTable.append(batch, root, metaFiles = meta,
              statsCols = statsCols)
            for (n <- autoCompactEvery) {
              if (VersionedTable.latestSnapshot(root).exists(_.dataDirs.size >= n))
                VersionedTable.compactChain(batch.sparkSession, root,
                  statsCols = statsCols)
            }
        }
        ()
      }
      override def toString: String = s"GvtSink[$root, $outputMode]"
    }
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "gvt: 'path' option (the table root) is required"))

  private def parseTs(ts: String): Long =
    scala.util.Try(ts.trim.toLong).getOrElse(
      java.sql.Timestamp.valueOf(ts.trim).getTime)
}

/** The gvt relation for a snapshot whose chain carries un-materialized
  * DELETION VECTORS (a `deleteWhereVector` / `updateWhereVector` /
  * `replaceWhere` commit not yet compacted): a [[PrunedFilteredScan]]
  * whose scan is the DV-applied read — the chain's files, zone-map
  * pruned against the pushed filters
  * ([[VersionedTable.prunedVersionRead]]), anti-joined with the
  * broadcast-sized `_dv` union on parquet row positions, exactly the
  * [[VersionedTable.readVersion]] shape. SQL over a gvt view keeps
  * working the moment a DV commit lands (the reference consumes its
  * tables through SQL — 03_gold_metrics_serverless.py:57-64), instead
  * of failing until compact().
  *
  * Scan quality: the pushed filters and the column projection are
  * applied INSIDE the inner DataFrame, so parquet column pruning,
  * predicate pushdown, and whole-stage codegen all happen in the inner
  * plan; `needConversion = false` hands its InternalRows through
  * without per-row conversion. Spark re-evaluates every pushed filter
  * above the scan (default `unhandledFilters`), so partial translation
  * is always sound. The vector-free path stays on [[HadoopFsRelation]]
  * (planning-time pruning in the FileIndex) — this relation exists
  * only while vectors are pending materialization. */
class GvtDvRelation(
    spark: SparkSession, override val sqlContext: SQLContext,
    snap: Snapshot, val pinned: Boolean = false)
  extends BaseRelation with PrunedFilteredScan {

  val root: String = snap.root
  val version: Long = snap.version

  override val schema: StructType = snap.schema

  /** Real size, not the never-broadcast default: without this a 10 MB
    * dimension table with ONE pending deletion vector (or a column
    * mapping) would report `spark.sql.defaultSizeInBytes` and every
    * star join against it would silently fall from broadcast to
    * shuffle until compaction. An ANALYZE TABLE record for THIS version
    * is authoritative (it discounts DV'd rows — a 95%-deleted dimension
    * broadcasts again without waiting for compaction); otherwise the
    * chain's file-size sum is the safe overestimate (vectors only
    * shrink the row set) in the exact direction broadcast planning
    * needs, at one metadata listing — the same class as building the
    * relation's schema. */
  override val sizeInBytes: Long =
    VersionedTable.tableStats(root, version).map(_._2).getOrElse {
      // whole-file elision refines the overestimate for free: fully
      // masked files carry no servable row, so their bytes don't count
      // against the broadcast threshold — a partition-wise-deleted
      // dimension broadcasts again BEFORE compaction or ANALYZE
      VersionedTable.chainDataBytes(snap, excluding = snap.elided)
    }

  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val ranges = GvtV1Filters.ranges(filters)
    val base = VersionedTable.prunedVersionRead(spark, snap, ranges,
      strRanges = GvtV1Filters.strRanges(filters))
    val filtered = filters.flatMap(GvtV1Filters.toColumn)
      .foldLeft(base)(_ filter _)
    val projected = filtered.select(requiredColumns.map(col).toSeq: _*)
    if (GvtDvRelation.captureScanFiles) // test-only: inputFiles walks the plan
      GvtDvRelation.lastScanFiles = projected.inputFiles.length
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  override def toString: String = s"GvtDvRelation($root, v=$version)"

  /** Semantic equality on (root, version, pinned) — same rationale as
    * [[GvtFileIndex.equals]]: independent reads of one snapshot must
    * compare equal for `sameResult`/CacheManager/MV matching. */
  override def equals(other: Any): Boolean = other match {
    case o: GvtDvRelation =>
      root == o.root && version == o.version && pinned == o.pinned
    case _ => false
  }
  override def hashCode(): Int = (root, version, pinned).hashCode()
}

/** Batch change-data-feed relation (Delta `readChangeFeed` analogue):
  * the committed changes in versions `(fromV, toV]`, one
  * [[VersionedTable.changes]] hop per committed pair, tagged with the
  * feed's `_change_type` / `_commit_version` / `_commit_timestamp`
  * columns. `fromV = 0` bootstraps from the earliest retained snapshot
  * as an all-insert batch (the streaming source's contract); a
  * non-zero `fromV` below the retention horizon fails loudly instead
  * of silently re-emitting history. Pure-append hops ride the
  * O(batch-dirs) fast path — never a snapshot join. */
class GvtChangeFeedRelation(
    spark: SparkSession, override val sqlContext: SQLContext,
    val root: String, val fromV: Long, val toV: Long, keys: Seq[String])
  extends BaseRelation with TableScan {

  private val df: DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val chain = VersionedTable.committedVersions(root)
    val pairs = chain.zip(None +: chain.init.map(Option(_)))
      .filter { case (v, _) => v > fromV && v <= toV }
    require(pairs.nonEmpty, s"gvt readChangeFeed: no committed versions " +
      s"in (${fromV}, $toV] at $root (latest: ${chain.lastOption.orNull})")
    val feeds = pairs.map { case (v, pred) =>
      val base = pred match {
        case None if fromV > 0 => throw new IllegalArgumentException(
          s"gvt readChangeFeed: startingVersion ${fromV + 1} is below the " +
            s"retention horizon (earliest retained: v=$v) — history was " +
            "vacuumed; start at or above the horizon")
        case None => VersionedTable.readVersion(spark, root, v)
          .withColumn("_change_type", lit("insert"))
        case Some(p) => VersionedTable.changes(spark, root, p, v, keys)
      }
      val ts = VersionedTable.readMeta(root, v, "_commit_ts").map(_.trim.toLong)
      base.withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(ts.orNull).cast("long"))
    }
    feeds.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  override val schema: StructType = df.schema

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]

  override def toString: String = s"GvtChangeFeedRelation($root, ($fromV, $toV])"
}

private[graft] object GvtDvRelation {
  /** Test instrumentation: data-file count of the most recent DV-path
    * scan (post zone-map pruning) — the numFiles analogue the
    * FileSourceScanExec metric provides on the vector-free path.
    * Captured only when `captureScanFiles` is set (the inputFiles walk
    * is pure overhead in production scans). */
  @volatile private[graft] var captureScanFiles: Boolean = false
  @volatile private[graft] var lastScanFiles: Int = -1
}

/** V1 `sources.Filter` helpers for the DV relation: conservative
  * numeric range extraction (same soundness contract as [[GvtFilters]]
  * — unrecognized shapes contribute nothing) and best-effort
  * Filter→Column translation so pushed predicates evaluate INSIDE the
  * inner plan (reaching the parquet reader); untranslatable filters
  * are skipped — Spark re-applies all of them above the scan. */
private[gvt] object GvtV1Filters {
  import org.apache.spark.sql.{sources => sf}
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.Column

  private def num(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    case d: java.math.BigDecimal => Some(d.doubleValue())
    case _ => None
  }

  def ranges(filters: Array[Filter]): Seq[(String, Double, Double)] = {
    val bounds = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def narrow(c: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = bounds.getOrElse(c,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      bounds(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    def visit(f: Filter): Unit = f match {
      case sf.And(l, r) => visit(l); visit(r)
      case sf.EqualTo(a, v) => num(v).foreach(d => narrow(a, d, d))
      case sf.GreaterThan(a, v) =>
        num(v).foreach(d => narrow(a, d, Double.PositiveInfinity))
      case sf.GreaterThanOrEqual(a, v) =>
        num(v).foreach(d => narrow(a, d, Double.PositiveInfinity))
      case sf.LessThan(a, v) =>
        num(v).foreach(d => narrow(a, Double.NegativeInfinity, d))
      case sf.LessThanOrEqual(a, v) =>
        num(v).foreach(d => narrow(a, Double.NegativeInfinity, d))
      case _ => ()
    }
    filters.foreach(visit)
    bounds.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  /** Lexicographic bounds from string comparisons in V1 filters. */
  def strRanges(filters: Array[Filter])
      : Seq[(String, Option[String], Option[String])] = {
    val bounds = scala.collection.mutable
      .Map.empty[String, (Option[String], Option[String])]
    def narrow(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = bounds.getOrElse(c, (None: Option[String], None: Option[String]))
      bounds(c) = ((l0 ++ lo).reduceOption((a, b) => if (a >= b) a else b),
        (h0 ++ hi).reduceOption((a, b) => if (a <= b) a else b))
    }
    def s(v: Any): Option[String] = v match {
      case x: String => Some(x)
      case _ => None
    }
    def visit(f: Filter): Unit = f match {
      case sf.And(l, r) => visit(l); visit(r)
      case sf.EqualTo(a, v) => s(v).foreach(x => narrow(a, Some(x), Some(x)))
      case sf.GreaterThan(a, v) => s(v).foreach(x => narrow(a, Some(x), None))
      case sf.GreaterThanOrEqual(a, v) => s(v).foreach(x => narrow(a, Some(x), None))
      case sf.LessThan(a, v) => s(v).foreach(x => narrow(a, None, Some(x)))
      case sf.LessThanOrEqual(a, v) => s(v).foreach(x => narrow(a, None, Some(x)))
      case _ => ()
    }
    filters.foreach(visit)
    bounds.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  /** Column form of a pushed filter, None when untranslatable (nested
    * field names with dots are skipped rather than mis-parsed). */
  def toColumn(f: Filter): Option[Column] = {
    def c(name: String): Option[Column] =
      if (name.contains(".")) None else Some(col(name))
    f match {
      case sf.EqualTo(a, v) => c(a).map(_ === lit(v))
      case sf.EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case sf.GreaterThan(a, v) => c(a).map(_ > lit(v))
      case sf.GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case sf.LessThan(a, v) => c(a).map(_ < lit(v))
      case sf.LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case sf.In(a, vs) => c(a).map(_.isin(vs.toSeq: _*))
      case sf.IsNull(a) => c(a).map(_.isNull)
      case sf.IsNotNull(a) => c(a).map(_.isNotNull)
      case sf.StringStartsWith(a, v) => c(a).map(_.startsWith(v))
      case sf.StringEndsWith(a, v) => c(a).map(_.endsWith(v))
      case sf.StringContains(a, v) => c(a).map(_.contains(v))
      case sf.And(l, r) =>
        for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
      case sf.Or(l, r) =>
        for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
      case sf.Not(x) => toColumn(x).map(!_)
      case _ => None
    }
  }
}

/** [[InMemoryFileIndex]] over a snapshot's `_parent` chain directories,
  * with per-file zone-map skipping applied in `listFiles` — the point
  * in planning where `FileSourceScanExec` hands the pushed partition
  * and data filters to the index (the same hook Delta's TahoeFileIndex
  * uses for its stats-based skipping). Partition pruning is inherited
  * from the parent class; zone maps then drop every file whose
  * [min,max] cannot intersect the conjunction of pushed range
  * predicates. Pruning is result-invisible: the scan still evaluates
  * the full residual filter on surviving files. */
class GvtFileIndex(
    spark: SparkSession, snap: Snapshot,
    private[graft] val stats: Option[VersionedTable.FileZoneMaps],
    val pinned: Boolean = false)
  extends FileIndex {

  val tableRoot: String = snap.root
  private val roots: Seq[Path] = snap.dataDirs.map(new Path(_))
  private val fullSchema: StructType = snap.schema

  // ADD COLUMNS' footer-only slices hold zero rows and (on partitioned
  // tables) no partition layout — drop them before building children,
  // or per-dir partition discovery infers an empty partition schema for
  // the slice and the layout-consistency require below fails. The
  // slice's schema contribution is irrelevant here: the relation's
  // schema is the snapshot's, not the index's.
  private val dataRoots: Seq[Path] =
    if (snap.dataBearingDirs.nonEmpty) snap.dataBearingDirs.map(new Path(_))
    else roots

  // a partitioned multi-dir chain needs ONE index per version dir (each
  // dir is its own partition-discovery base — a single index over all
  // roots raises CONFLICTING_DIRECTORY_STRUCTURES); everything else is
  // cheapest as one index over all roots
  private val children: Seq[InMemoryFileIndex] =
    if (dataRoots.size > 1 && snap.dirLayout.nonEmpty)
      dataRoots.map(r => new InMemoryFileIndex(spark, Seq(r), Map.empty, None))
    else Seq(new InMemoryFileIndex(spark, dataRoots, Map.empty, None))

  override def rootPaths: Seq[Path] = roots

  override def partitionSchema: StructType = {
    val ps = children.map(_.partitionSchema)
    require(ps.forall(_ == ps.head),
      s"gvt: inconsistent partition layouts across the chain: $ps")
    ps.head
  }

  /** Partition pruning is delegated to the child indexes; zone maps
    * then drop every surviving file whose [min,max] cannot intersect
    * the pushed range conjunction. Duplicate partition values across
    * chain members are fine — the scan concatenates each directory's
    * files under its values. */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // generated-column derivation: a filter on the BASE column of a
    // monotone generated PARTITION column implies a partition bound —
    // derived here so the child indexes prune directories at planning
    val derivedPF =
      if (fullSchema.isEmpty) Seq.empty
      else GeneratedPruning.derive(spark, tableRoot, fullSchema,
        partitionSchema, dataFilters)
    val base0 = children.flatMap(
      _.listFiles(partitionFilters ++ derivedPF, dataFilters))
    // Bloom-filter skipping for pushed EQUALITY predicates (point
    // lookups on unclustered high-cardinality columns — where zone
    // maps can't help): per chain dir with a `_bloom` sidecar for the
    // column, only files whose filter contains ALL probe positions
    // survive; dirs without a bloom keep everything (sound). A false
    // positive costs a wasted scan, never a wrong answer — the scan
    // still evaluates the full residual filter.
    val eqs = GvtFilters.equalities(dataFilters)
    val base =
      if (eqs.isEmpty) base0
      else {
        val keep: String => Boolean = {
          val perDir = roots.map { r =>
            val dir = r.toString
            // per column: a file survives if its bloom may contain ANY
            // of the value set (IN-list = union of per-value probes);
            // across columns the sets intersect. An EMPTY value set
            // (conjuncts proved contradictory) keeps zero files.
            val cands: Seq[Option[Set[String]]] = eqs.toSeq.map {
              case (_, vs) if vs.isEmpty => Some(Set.empty[String])
              case (c, vs) =>
                val per = vs.map(v =>
                  VersionedTable.bloomCandidates(spark, dir, c, v))
                if (per.exists(_.isEmpty)) None // no bloom for the column
                else Some(per.flatten.reduce(_ union _)
                  .map(f => new Path(f).toUri.getPath))
            }
            dir -> cands.flatten.reduceOption(_ intersect _)
          }.toMap
          // Anchor each dir prefix on a trailing '/' and take the
          // LONGEST match: '/t/v=1' is a bare string prefix of
          // '/t/v=12/part.parquet', so an unanchored find() could
          // attribute a v=12 file to v=1's candidate set (which cannot
          // contain it) and silently drop live rows.
          val anchored = perDir.keys
            .map(d => (new Path(d).toUri.getPath.stripSuffix("/") + "/", d))
            .toSeq
          (path: String) => {
            val dir = anchored.filter { case (p, _) => path.startsWith(p) }
              .sortBy(-_._1.length).headOption.map(_._2)
            dir.flatMap(perDir(_)).forall(_.contains(path))
          }
        }
        base0.map(pd => pd.copy(files = pd.files.filter(f =>
          keep(f.getPath.toUri.getPath)))).filter(_.files.nonEmpty)
      }
    val ranges = stats.map(_ => GvtFilters.ranges(dataFilters)).getOrElse(Map.empty)
    val sRanges = stats.map(_ => GvtFilters.strRanges(dataFilters)).getOrElse(Map.empty)
    if (ranges.isEmpty && sRanges.isEmpty) base
    else {
      val zm = stats.get
      base.map { pd =>
        pd.copy(files = pd.files.filter { f =>
          val path = f.getPath.toUri.getPath
          val numCols = zm.num.getOrElse(path, Map.empty)
          val strCols = zm.str.getOrElse(path, Map.empty)
          ranges.forall { case (c, (lo, hi)) =>
            numCols.get(c) match {
              case Some((mi, ma)) =>
                // NaN marks an all-null file: no range can match there
                if (mi.isNaN) false else ma >= lo && mi <= hi
              case None => true // unstatted column: cannot prune, keep
            }
          } && sRanges.forall { case (c, (lo, hi)) =>
            strCols.get(c) match {
              case Some(s) =>
                // nonNull=0: genuinely all-null file, no value matches;
                // smax None = unbounded above (truncated at collection).
                // Comparisons use UTF-8 BYTE order — the order Spark
                // computed min/max in — not Java's UTF-16 code units,
                // which diverge on supplementary characters.
                s.nonNull > 0 &&
                  lo.forall(l => s.smax.forall(GvtFilters.utf8Cmp(_, l) >= 0)) &&
                  hi.forall(h => s.smin.forall(GvtFilters.utf8Cmp(_, h) <= 0))
              case None => true
            }
          }
        })
      }.filter(_.files.nonEmpty)
    }
  }

  override def inputFiles: Array[String] = children.flatMap(_.inputFiles).toArray
  override def refresh(): Unit = children.foreach(_.refresh())
  override def sizeInBytes: Long = children.map(_.sizeInBytes).sum

  /** Semantic equality: two indexes over the same chain dirs serve the
    * same snapshot, whatever instances built them. This is what lets
    * `LogicalPlan.sameResult` (and through it Spark's CacheManager and
    * the exact-match MV rewrite) recognize two independent reads of one
    * gvt table version as the same relation — HadoopFsRelation equality
    * recurses into its FileIndex, which would otherwise be by
    * reference. */
  override def equals(other: Any): Boolean = other match {
    case o: GvtFileIndex =>
      roots.map(_.toString) == o.rootPaths.map(_.toString) &&
        tableRoot == o.tableRoot && pinned == o.pinned
    case _ => false
  }
  override def hashCode(): Int =
    (roots.map(_.toString), tableRoot, pinned).hashCode()
}

/** Conservative range extraction from pushed Catalyst data filters:
  * per-column [lo,hi] bounds from =, <, <=, >, >= conjuncts between an
  * attribute (possibly under a numeric Cast) and a literal. Strict
  * inequalities widen to inclusive bounds and unrecognized predicates
  * contribute nothing — both directions only KEEP more files, never
  * skip a matching one. */
private[gvt] object GvtFilters {

  def ranges(filters: Seq[Expression]): Map[String, (Double, Double)] = {
    val bounds = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def narrow(c: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = bounds.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
      bounds(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(AttrOf(c), LitOf(v)) => narrow(c, v, v)
      case EqualTo(LitOf(v), AttrOf(c)) => narrow(c, v, v)
      case GreaterThan(AttrOf(c), LitOf(v)) => narrow(c, v, Double.PositiveInfinity)
      case GreaterThanOrEqual(AttrOf(c), LitOf(v)) => narrow(c, v, Double.PositiveInfinity)
      case LessThan(AttrOf(c), LitOf(v)) => narrow(c, Double.NegativeInfinity, v)
      case LessThanOrEqual(AttrOf(c), LitOf(v)) => narrow(c, Double.NegativeInfinity, v)
      case GreaterThan(LitOf(v), AttrOf(c)) => narrow(c, Double.NegativeInfinity, v)
      case GreaterThanOrEqual(LitOf(v), AttrOf(c)) => narrow(c, Double.NegativeInfinity, v)
      case LessThan(LitOf(v), AttrOf(c)) => narrow(c, v, Double.PositiveInfinity)
      case LessThanOrEqual(LitOf(v), AttrOf(c)) => narrow(c, v, Double.PositiveInfinity)
      case _ => ()
    }
    filters.foreach(visit)
    bounds.toMap
  }

  /** Attribute side, looking through VALUE-PRESERVING numeric casts
    * only (the coercion casts Catalyst wraps mixed-width comparisons
    * in). A cast qualifies when the cast value, viewed as a double,
    * equals the raw value's double image — then a bound in cast space
    * IS a bound in the (double-typed) stats space. That holds for
    * `canUpCast` numeric widening (int→long, int→decimal, float→double)
    * and for any numeric→double cast (the stats map itself — monotone
    * and identical to how `collectStats` computed min/max). A
    * NARROWING cast (`cast(doubleCol AS int) = 5`) is NOT
    * value-preserving — 5.3 satisfies it but lies outside [5,5] — so it
    * contributes no bound (same guard as
    * [[graft.plans.RangeJoinRewrite]]'s widening-only operand unwrap). */
  /** UTF-8 byte-order string comparison — the collation Spark's
    * min/max aggregates use (UTF8String binary order). Java's String
    * compareTo orders UTF-16 code units, which DISAGREES for
    * supplementary characters (surrogates 0xD800+ sort below 0xE000+
    * in UTF-16 but encode as 0xF0… > 0xEE… in UTF-8) — comparing
    * stats with it could prune a file containing matches. */
  def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Bare `attr = literal` equality conjuncts (both orders, NO casts —
    * a cast would change the type the bloom collection hashed) with
    * the external-typed probe value. Used for Bloom-filter file
    * skipping; unsupported shapes simply contribute nothing. */
  /** Per-column equality VALUE SETS from pushed conjuncts: `=` gives a
    * singleton, `IN (…)` its literal list (capped — every value costs a
    * bloom probe per file). A file survives bloom skipping if it may
    * contain ANY of a column's values; multiple conjuncts on one column
    * intersect (the tightest sound set — an empty intersection proves
    * no file can match). */
  def equalities(filters: Seq[Expression]): Map[String, Seq[Any]] = {
    val maxInList = 64
    val out = scala.collection.mutable.Map.empty[String, Seq[Any]]
    def ext(v: Any): Option[Any] = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float |
                _: Double | _: Boolean) => Some(n)
      case _ => None
    }
    def add(name: String, vs: Seq[Any]): Unit = {
      val cleaned = vs.flatMap(ext)
      if (cleaned.size == vs.size) // every value extractable, else skip
        out(name) = out.get(name)
          .map(_.intersect(cleaned)).getOrElse(cleaned.distinct)
    }
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(a: Attribute, Literal(v, _)) if v != null =>
        add(a.name, Seq(v))
      case EqualTo(Literal(v, _), a: Attribute) if v != null =>
        add(a.name, Seq(v))
      case In(a: Attribute, list)
          if list.nonEmpty && list.size <= maxInList &&
            list.forall { case Literal(v, _) => v != null; case _ => false } =>
        add(a.name, list.map { case Literal(v, _) => v })
      case InSet(a: Attribute, hset)
          if hset.nonEmpty && hset.size <= maxInList &&
            !hset.contains(null) =>
        add(a.name, hset.toSeq)
      case _ => ()
    }
    filters.foreach(visit)
    out.toMap
  }

  /** Lexicographic per-column bounds from string comparisons: bare
    * attribute vs string literal only (a cast on a string attribute is
    * never value-preserving into string space, so it contributes
    * nothing). None = that side unbounded. */
  def strRanges(filters: Seq[Expression])
      : Map[String, (Option[String], Option[String])] = {
    import org.apache.spark.sql.types.StringType
    val bounds = scala.collection.mutable
      .Map.empty[String, (Option[String], Option[String])]
    object SA {
      def unapply(e: Expression): Option[String] = e match {
        case a: Attribute if a.dataType == StringType => Some(a.name)
        case _ => None
      }
    }
    object SL {
      def unapply(e: Expression): Option[String] = e match {
        case Literal(v, StringType) if v != null => Some(v.toString)
        case _ => None
      }
    }
    def narrow(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = bounds.getOrElse(c, (None: Option[String], None: Option[String]))
      bounds(c) = ((l0 ++ lo).reduceOption((a, b) => if (a >= b) a else b),
        (h0 ++ hi).reduceOption((a, b) => if (a <= b) a else b))
    }
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(SA(c), SL(v)) => narrow(c, Some(v), Some(v))
      case EqualTo(SL(v), SA(c)) => narrow(c, Some(v), Some(v))
      case GreaterThan(SA(c), SL(v)) => narrow(c, Some(v), None)
      case GreaterThanOrEqual(SA(c), SL(v)) => narrow(c, Some(v), None)
      case LessThan(SA(c), SL(v)) => narrow(c, None, Some(v))
      case LessThanOrEqual(SA(c), SL(v)) => narrow(c, None, Some(v))
      case GreaterThan(SL(v), SA(c)) => narrow(c, None, Some(v))
      case GreaterThanOrEqual(SL(v), SA(c)) => narrow(c, None, Some(v))
      case LessThan(SL(v), SA(c)) => narrow(c, Some(v), None)
      case LessThanOrEqual(SL(v), SA(c)) => narrow(c, Some(v), None)
      case _ => ()
    }
    filters.foreach(visit)
    bounds.toMap
  }

  private object AttrOf {
    import org.apache.spark.sql.types.{DataType, DoubleType, NumericType}
    private def valuePreserving(from: DataType, to: DataType): Boolean =
      (from, to) match {
        case (_: NumericType, DoubleType) => true
        case (f: NumericType, t: NumericType) => Cast.canUpCast(f, t)
        case _ => false
      }
    def unapply(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case c: Cast if valuePreserving(c.child.dataType, c.dataType) =>
        unapply(c.child)
      case _ => None
    }
  }

  /** Literal side: a bare numeric literal, or a FOLDABLE numeric cast
    * of one — evaluated, so the extracted double is exactly the value
    * the comparison runs against (no unwrap-and-hope; a narrowing cast
    * of a literal folds to its real post-cast value). */
  private object LitOf {
    import org.apache.spark.sql.types.NumericType
    private def num(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case d: Decimal => Some(d.toDouble)
      case _ => None
    }
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v, _) => num(v)
      case c: Cast if c.foldable && c.dataType.isInstanceOf[NumericType] =>
        Option(c.eval(null)).flatMap(num)
      case _ => None
    }
  }
}
