package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Incremental corpus dedup against a PERSISTED fingerprint index — the
  * shape a 100 TB ingestion pipeline actually runs: batches arrive over
  * days, and each batch must dedup against the WHOLE accepted corpus so
  * far at O(batch) cost, never by rescanning (or re-pairing) history.
  *
  * The index is a gvt table of `(band_id, band, doc_id)` rows — one row
  * per fingerprint band of each ACCEPTED document. Exact dedup is the
  * one-band case (`band` = a content hash); near-dup is banded MinHash
  * or SimHash (any banded scheme whose collision predicate is band
  * equality). Per ingested batch:
  *
  *  1. intra-batch: a document is dropped when any of its bands equals
  *     a band of a SMALLER-id document in the same batch (the
  *     bucket-min rule — deterministic and order-free, so the whole
  *     batch resolves in one `groupBy(band)` + join, no sequential
  *     greedy pass; on exact hashes it equals classic keep-first,
  *     on banded near-dup it is RefinedWeb's "keep the bucket minimum",
  *     slightly more aggressive than sequential-greedy on collision
  *     CHAINS, documented contract);
  *  2. cross-batch: dropped when any band equals an INDEX band — an
  *     equi-join on `(band_id, band)` against the index table;
  *  3. the survivors' bands APPEND to the index as one O(batch) commit
  *     (first ingest creates the table, hive-partitioned by `band_id`),
  *     and the survivors are returned for the caller's corpus append.
  *
  * Scale shape: everything is equi-joins and per-bucket aggregates on
  * the band key — map-side combinable, no all-pairs product, no driver
  * state; the index side arrives pre-partitioned by `band_id` and a
  * cluster deployment would additionally bucket it by `band` so the
  * candidate probe co-locates (the one shuffle left is batch-sized).
  * Crash safety rides the gvt commit protocol: the index append is one
  * atomic commit, so a re-run of a failed ingest re-dedups against the
  * last committed index state instead of observing half a batch. */
object IncrementalDedup {

  /** Melt a signature frame `(doc_id, <bandCols…>)` into the index row
    * shape `(band_id, band, doc_id)`. NULL bands are dropped — a NULL
    * fingerprint (e.g. md5 of a NULL text) matches nothing. */
  def meltBands(sigs: DataFrame, bandCols: Seq[String]): DataFrame = {
    require(bandCols.nonEmpty, "meltBands: no band columns")
    sigs.select(col("doc_id"),
      explode(array(bandCols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("band_id"), col(c).cast("string").as("band"))
      }: _*)).as("b"))
      .select(col("b.band_id").as("band_id"), col("b.band").as("band"),
        col("doc_id"))
      .filter(col("band").isNotNull)
  }

  /** Ingest one batch: returns the ACCEPTED rows of `sigs` (all its
    * columns) and appends their bands to the index at `indexRoot`.
    * `sigs` must carry a unique `doc_id` plus the band columns.
    * `txn` optionally stamps the index commit with a
    * [[VersionedTable.txnKey]] watermark (the replay guard
    * [[ingestReplaySafe]] builds on). */
  /** `autoCompactEvery`: once the index's append chain reaches that
    * many version dirs, fold it via [[VersionedTable.compactChain]]
    * (base untouched, O(appended) cost) — daily ingestion otherwise
    * accretes one chain hop per batch and every probe pays the
    * per-dir read fan-out. 0 = never (compact on your own schedule). */
  /** `broadcastBytes`: the cross-batch probe broadcasts the batch's
    * bands only while their MATERIALIZED size stays under this ceiling
    * (default 64 MB — the sane executor-memory envelope for a broadcast
    * hash relation); larger batches take the shuffle equi-join. The
    * size is read from the block manager's entry for the checkpointed
    * batch — exact, and no extra job. */
  def ingest(spark: SparkSession, indexRoot: String,
             sigs: DataFrame, bandCols: Seq[String],
             txn: Option[(String, Long)] = None,
             autoCompactEvery: Int = 0,
             broadcastBytes: Long = 64L << 20): DataFrame = {
    // the caller's signature frame is consumed TWICE (the band melt
    // below and the accepted-rows anti-join) and its expressions are the
    // expensive part of the batch (minhash folds / content hashes over
    // the raw text) — materialize it once so both consumers scan stored
    // rows instead of re-evaluating the signature computation (guide §5
    // reuse; measured: the anti-join re-paid the full minhash fold)
    val sigsM = sigs.localCheckpoint(false) // materialized by bb's job
    // one narrow batch-sized table consumed three times (intra minima,
    // cross probe, index append) — materialize once, the same
    // signature-table break every production dedup pipeline has
    val bb = meltBands(sigsM, bandCols).localCheckpoint()
    // rule 1: bucket-min within the batch
    val intraHit = intraBucketHits(bb)
    // rule 2: any band already in the accepted-corpus index. The
    // steady state is batch ≪ index, so the probe BROADCASTS the
    // batch's bands and streams ONE scan of the index through the
    // broadcast hash — the index (the table that grows without bound)
    // is never shuffled. A genuinely huge batch falls back to the
    // shuffle equi-join, which moves O(batch + index) once. The
    // decision is BYTE-sized against the checkpointed batch's block
    // manager entry (an unknowable size falls back to the shuffle —
    // never an oversized broadcast).
    val exists = VersionedTable.latestVersion(indexRoot).isDefined
    val crossHit =
      if (!exists) intraHit.limit(0)
      else {
        val index = VersionedTable.readLatest(spark, indexRoot)
          .select(col("band_id"), col("band"))
        crossProbe(index, bb,
          checkpointedBytes(spark, bb).getOrElse(Long.MaxValue),
          broadcastBytes)
      }
    // no distinct: the only consumer is a left-anti join, whose result
    // is identical under duplicate right-side rows — a DISTINCT here
    // would re-shuffle every candidate hit just to dedup what the
    // anti-join's build deduplicates anyway (guide §2.4)
    val dropped = intraHit.union(crossHit)
    runDedup(spark, indexRoot, sigsM, bb, dropped, txn, autoCompactEvery,
      exists)
  }

  /** The materialized byte size of an eagerly-checkpointed frame, from
    * its block-manager entry (memory + spilled disk) — exact, no job.
    * None when the frame is not a checkpointed RDD or the entry is
    * gone (evicted): callers must then assume it is too big to
    * broadcast. */
  private[graft] def checkpointedBytes(spark: SparkSession,
                                     df: DataFrame): Option[Long] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.flatMap(id => spark.sparkContext.getRDDStorageInfo
      .find(_.id == id).map(i => i.memSize + i.diskSize))

  /** Intra-batch bucket-min hits: the doc_ids of rows that share a
    * band with a SMALLER-id document of the same batch. A window over
    * the band key — ONE shuffle of the bands; the groupBy(min) +
    * join-back shape this replaces shuffled the bands twice (agg input
    * AND join probe side) for the identical per-bucket minimum
    * (guide §2.4). */
  private[graft] def intraBucketHits(bb: DataFrame): DataFrame =
    bb.withColumn("mn", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("band"))))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id"))

  /** The cross-batch index probe: broadcast the batch under the byte
    * ceiling (the unbounded index streams once, never shuffles), else
    * the shuffle left-semi. Returns the batch doc_ids that hit the
    * index. */
  private[graft] def crossProbe(index: DataFrame, bb: DataFrame,
                              bbBytes: Long, broadcastBytes: Long): DataFrame =
    if (bbBytes <= broadcastBytes)
      index.join(broadcast(bb), Seq("band_id", "band"))
        .select(col("doc_id"))
    else bb.join(index, Seq("band_id", "band"), "left_semi")
      .select(col("doc_id"))

  private def runDedup(spark: SparkSession, indexRoot: String,
                       sigs: DataFrame, bb: DataFrame, dropped: DataFrame,
                       txn: Option[(String, Long)], autoCompactEvery: Int,
                       exists: Boolean): DataFrame = {
    val accepted = sigs.join(dropped, Seq("doc_id"), "left_anti")
      .localCheckpoint() // consumed twice: index append + caller
    val newBands = bb.join(accepted.select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .select(col("band_id"), col("band"), col("doc_id"))
      .localCheckpoint()
    // a fully-deduped batch changes no state: committing its zero rows
    // would be a fileless dynamic-partition write (no schema carrier)
    if (!newBands.isEmpty) {
      val meta = txn.map { case (app, v) =>
        VersionedTable.txnKey(app) -> v.toString }.toMap
      if (exists) VersionedTable.append(newBands, indexRoot,
        metaFiles = meta, operation = "DEDUP_INGEST")
      else VersionedTable.write(newBands, indexRoot,
        partitionBy = Seq("band_id"), metaFiles = meta,
        operation = "DEDUP_INGEST")
      if (autoCompactEvery > 0 && VersionedTable.latestSnapshot(indexRoot)
            .exists(_.dataDirs.size >= autoCompactEvery))
        VersionedTable.compactChain(spark, indexRoot)
    }
    accepted
  }

  /** Replay-safe streaming ingest (`foreachBatch` body): dedups the
    * batch, appends the survivors' bands to the index AND the
    * survivors' rows (minus the band columns) to the corpus table, with
    * per-table `txnKey(appId) = batchId` watermarks so a RETRIED micro
    * batch converges instead of corrupting either table. The two
    * appends cannot be one atomic commit (two tables), so every
    * crash point replays cleanly:
    *   - before the index commit: recompute — the index is unchanged,
    *     the same accepted set falls out;
    *   - between index and corpus commits: the index watermark says the
    *     batch's bands landed, and the accepted set is RECOVERED from
    *     the index itself (its rows carry doc_id; batch ids are unique
    *     corpus-wide) — recomputing instead would dedup the batch
    *     against its own bands and drop everything;
    *   - after the corpus commit: the corpus watermark skips the batch
    *     entirely.
    * A fully-deduped batch commits nothing anywhere and replays as the
    * same no-op. */
  def ingestReplaySafe(spark: SparkSession, indexRoot: String,
                       corpusRoot: String, sigs: DataFrame,
                       bandCols: Seq[String], appId: String,
                       batchId: Long): Unit = {
    if (VersionedTable.txnVersion(corpusRoot, appId).exists(_ >= batchId))
      return // fully applied
    val ixDone = VersionedTable.txnVersion(indexRoot, appId).exists(_ >= batchId)
    val accepted =
      if (ixDone)
        sigs.join(VersionedTable.readLatest(spark, indexRoot)
            .select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
      else ingest(spark, indexRoot, sigs, bandCols,
        txn = Some(appId -> batchId))
    val rows = accepted.drop(bandCols: _*)
    if (!rows.isEmpty) {
      val meta = Map(VersionedTable.txnKey(appId) -> batchId.toString)
      if (VersionedTable.latestVersion(corpusRoot).isDefined)
        VersionedTable.append(rows, corpusRoot, metaFiles = meta,
          operation = "DEDUP_CORPUS")
      else VersionedTable.write(rows, corpusRoot, metaFiles = meta,
        operation = "DEDUP_CORPUS")
    }
  }
}
