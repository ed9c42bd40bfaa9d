package graft.sources.gvt

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StreamingBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.VersionedTable
import graft.streaming.ChangeFeed

/** `spark.readStream.format("gvt-cdf")` — the change feed of a
  * [[VersionedTable]] as a REAL Structured Streaming source (the Delta
  * `readStream.option("readChangeFeed", true)` surface the ticker-based
  * [[ChangeFeed]] drains approximate): committed versions are the
  * offsets, each micro-batch is the changelog of the commits in
  * `(startOffset, endOffset]`, and the stream checkpoint gives
  * exactly-once delivery into any Structured Streaming sink — restart
  * resumes from the checkpointed version, nothing re-emitted.
  *
  * Output schema: the table's columns + `_change_type`
  * (insert / delete / update_preimage / update_postimage) +
  * `_commit_version` + `_commit_timestamp` epoch-millis (the Delta CDF
  * audit columns), fixed at stream start (schema evolution mid-stream
  * requires a restart, as in Delta).
  *
  * Per-commit cost follows [[VersionedTable.changes]]: an APPEND commit
  * is its batch directory read straight through (O(batch), no join —
  * the streaming-ingestion path); a rewrite commit diffs two snapshots
  * with one co-partitioned join when the `keys` option is given.
  * Without `keys`, the KEYLESS feed applies per hop: DELETE_DV /
  * REPLACE_WHERE derive from the commit's own artifacts, and any DML
  * that committed under `gvt.enableChangeDataFeed=true` serves its
  * O(changed) `_cdf` sidecar; a sidecar-less UPDATE_DV or full rewrite
  * fails loudly (default) or is skipped with `skipChangeCommits=true`
  * (Delta's option of the same name).
  *
  * Options:
  *  - `path` (required): table root (must already have ≥1 commit —
  *    the schema is read from the live snapshot).
  *  - `keys`: comma-separated key columns for rewrite-commit diffs.
  *  - `startingVersion` (default 0): emit commits AFTER this version;
  *    0 bootstraps from the earliest retained snapshot (all-insert).
  *    A non-zero cursor below the vacuum horizon fails with
  *    [[ChangeFeed.CursorBehindRetention]] rather than double-emitting.
  *  - `startingTimestamp`: epoch millis or `yyyy-MM-dd HH:mm:ss` —
  *    emit every commit at or after it (Delta's option name/semantics).
  *  - `skipChangeCommits`: skip rewrite commits instead of failing
  *    when no `keys` are given.
  *  - `maxVersionsPerTrigger`: cap how many source commits one
  *    micro-batch may cover (the Delta `maxFilesPerTrigger` trade: a
  *    backlogged stream catches up in bounded batches instead of one
  *    giant one). The cap window tracks the last served/committed
  *    offset — including the checkpointed one on restart
  *    (deserializeOffset) — so recovery can never stall below it.
  */
class GvtCdfSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "gvt-cdf"

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), GvtCdfSource.feedSchema(sqlContext, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GvtCdfSource(sqlContext, parameters)
}

private[gvt] object GvtCdfSource {
  def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "gvt-cdf: 'path' option (the table root) is required"))

  def tableSchema(sqlContext: SQLContext,
                  parameters: Map[String, String]): StructType = {
    val root = rootOf(parameters)
    val v = VersionedTable.latestVersion(root).getOrElse(
      throw new IllegalArgumentException(
        s"gvt streaming: no versions at $root (the stream reads the schema " +
          "from the live snapshot — create the table first)"))
    VersionedTable.readVersion(sqlContext.sparkSession, root, v).schema
  }

  def feedSchema(sqlContext: SQLContext,
                 parameters: Map[String, String]): StructType =
    StructType(tableSchema(sqlContext, parameters).fields
      :+ StructField("_change_type", StringType, nullable = false)
      :+ StructField("_commit_version", LongType, nullable = false)
      :+ StructField("_commit_timestamp", LongType, nullable = true))
}

/** `rowsOnly = true` is the `spark.readStream.format("gvt")` mode —
  * Delta's stream-FROM-a-table surface: append commits stream their
  * batch ROWS (no audit columns), rewrite commits fail loudly unless
  * `skipChangeCommits` (Delta's option of the same name; its
  * `ignoreChanges`/`ignoreDeletes` map here too). The offsets, rate
  * limiting, vacuum-horizon guard and exactly-once checkpointing are
  * identical to the CDF mode. */
private[gvt] class GvtCdfSource(sqlContext: SQLContext,
                                parameters: Map[String, String],
                                rowsOnly: Boolean = false) extends Source {

  private val root = GvtCdfSource.rootOf(parameters)
  private val keys = parameters.get("keys").toSeq
    .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  private val startingVersion =
    parameters.get("startingVersion").map(_.trim.toLong)
      .orElse(parameters.get("startingTimestamp").map { ts =>
        // Delta semantics: emit every commit AT or AFTER the timestamp —
        // the cursor is the newest commit strictly before it
        val millis = scala.util.Try(ts.trim.toLong).getOrElse(
          java.sql.Timestamp.valueOf(ts.trim).getTime)
        VersionedTable.versionBefore(root, millis)
      })
      .getOrElse(0L)
  private val skipChangeCommits =
    Seq("skipChangeCommits", "ignoreChanges", "ignoreDeletes")
      .exists(o => parameters.get(o).exists(_.trim.toBoolean))
  private val maxVersionsPerTrigger =
    parameters.get("maxVersionsPerTrigger").map(_.trim.toInt)

  override val schema: StructType =
    if (rowsOnly) GvtCdfSource.tableSchema(sqlContext, parameters)
    else GvtCdfSource.feedSchema(sqlContext, parameters)

  // the column mapping the stream's FIXED schema was derived under —
  // hop frames align to it (logical names drift along a mapped chain)
  private val anchorCm =
    VersionedTable.latestSnapshot(root).flatMap(_.colmap)

  /** A hop's frame arrives under the HOP's logical column names; on a
    * column-mapped chain those drift (rename/drop) while the stream's
    * schema is pinned at start. Physical identity is stable, so each
    * schema column resolves hop-side via anchor-logical → physical →
    * hop-logical; schema columns the hop cannot supply (added after the
    * hop, or dropped before it) read NULL, and hop columns outside the
    * pinned schema (added after stream start) are not representable and
    * fall out — rows always flow, the stream never dies on a rename in
    * its history (previously: UNRESOLVED_COLUMN on the first pre-rename
    * hop). */
  private def alignToAnchor(f: DataFrame, hopV: Long): DataFrame = {
    val hopCm = VersionedTable.snapshot(root, hopV).colmap
    if (hopCm == anchorCm) return f // same mapping (incl. both unmapped)
    val ancL2P = anchorCm.map(_.active.toMap).getOrElse(Map.empty[String, String])
    val hopP2L = hopCm.map(_.active.map(_.swap).toMap).getOrElse(Map.empty[String, String])
    val audit = Set("_change_type", "_commit_version", "_commit_timestamp")
    val cols = schema.fields.filterNot(fd => audit(fd.name)).map { fd =>
      val p = ancL2P.getOrElse(fd.name, fd.name)
      val h = hopP2L.getOrElse(p, p)
      if (f.columns.contains(h)) col(h).as(fd.name)
      else lit(null).cast(fd.dataType).as(fd.name)
    }.toSeq ++
      (if (f.columns.contains("_change_type")) Seq(col("_change_type"))
       else Seq.empty)
    f.select(cols: _*)
  }

  private def spark = sqlContext.sparkSession

  /** High-water mark of offsets this source has served or seen
    * committed (checkpoint restores included) — the base the
    * rate-limit window advances from. */
  private val servedV =
    new java.util.concurrent.atomic.AtomicLong(startingVersion)

  private def bump(v: Long): Unit =
    servedV.updateAndGet(cur => math.max(cur, v))

  override def getOffset: Option[Offset] = {
    val chain = VersionedTable.committedVersions(root)
    val capped = maxVersionsPerTrigger match {
      case Some(n) =>
        // serve at most n COMMITS past the high-water mark (version
        // numbers may have gaps, so count chain entries, not ids)
        chain.filter(_ > servedV.get).take(n).lastOption
          .orElse(chain.lastOption)
      case None => chain.lastOption
    }
    capped.filter(_ > startingVersion).map(LongOffset(_))
  }

  /** `LongOffset.json` is the bare version number, so parsing `json`
    * handles both live LongOffsets and checkpoint-restored
    * SerializedOffsets. */
  private def versionOf(o: Offset): Long = o.json.trim.toLong

  override def deserializeOffset(json: String)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    bump(json.trim.toLong) // checkpointed progress — never stall below it
    LongOffset(json.trim.toLong)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val fromV = start.map(versionOf).getOrElse(startingVersion)
    val endV = versionOf(end)
    bump(endV)
    val chain = VersionedTable.committedVersions(root)
    val pairs = chain.zip(None +: chain.init.map(Option(_)))
      .filter { case (v, _) => v > fromV && v <= endV }
    val outCols =
      if (rowsOnly) schema.fieldNames.toSeq
      else schema.fieldNames.dropRight(2).toSeq // + audit cols below
    val feeds = pairs.flatMap { case (v, pred) =>
      val isAppend = pred.exists(p =>
        VersionedTable.readMeta(root, v, "_parent").map(_.trim.toLong).contains(p))
      val feedOpt: Option[DataFrame] =
        if (pred.isEmpty && fromV > 0)
          throw new ChangeFeed.CursorBehindRetention(
            s"$root: earliest retained version v=$v exceeds stream offset " +
              s"$fromV (vacuumed past the checkpoint) — restart the stream " +
              "with a fresh sink (full refresh)")
        else if (pred.isEmpty)
          Some(VersionedTable.readVersion(spark, root, v)
            .withColumn("_change_type", lit("insert")))
        else if (VersionedTable.readMeta(root, v, "_operation").map(_.trim)
                   .exists(o => o.startsWith("COMPACT") || o.startsWith("OPTIMIZE")))
          // compaction-family commits (COMPACT / OPTIMIZE … WHERE) are
          // content-identical — Delta's dataChange=false: transparent in
          // EVERY stream mode. A rows stream must not fail on them, and
          // a feed stream must not pay a snapshot diff to learn
          // "nothing changed".
          None
        else if (isAppend || (!rowsOnly && keys.nonEmpty))
          // changes() takes the append fast path on its own when the
          // _parent chain connects; keys are then only column order
          Some(VersionedTable.changes(spark, root, pred.get, v, keys))
        else if (skipChangeCommits) None
        else if (rowsOnly) throw new IllegalStateException(
          s"$root: commit v=$v rewrites the snapshot — a rows-mode stream " +
            "cannot represent updates/deletes; set skipChangeCommits=true " +
            "(or ignoreChanges=true) to stream appends only, or use " +
            "format(\"gvt-cdf\") for the row-level change feed")
        else
          // keyless feed: DELETE_DV / REPLACE_WHERE hops and any commit
          // carrying a `_cdf` sidecar (gvt.enableChangeDataFeed) serve
          // without keys; anything else refuses loudly inside changes()
          // with the property hint — never a mis-paired emission
          Some(VersionedTable.changes(spark, root, pred.get, v))
      val ts = VersionedTable.readMeta(root, v, "_commit_ts").map(_.trim.toLong)
      feedOpt.map { f0 =>
        val f = alignToAnchor(f0, v)
        if (rowsOnly) f.select(outCols.map(col): _*)
        else f.select(outCols.map(col) :+ lit(v).as("_commit_version") :+
          lit(ts.orNull).cast("long").as("_commit_timestamp"): _*)
      }
    }
    val batch =
      if (feeds.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else feeds.reduce(_ unionByName _)
    StreamingBridge.asStreaming(batch)
  }

  override def commit(end: Offset): Unit = bump(versionOf(end))
  override def stop(): Unit = ()
}
