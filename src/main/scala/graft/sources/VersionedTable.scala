package graft.sources

import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Snapshot-versioned Parquet tables: the Delta-Lake semantics the
  * reference leans on (atomic full-refresh overwrite, `overwriteSchema`
  * gating, time travel) re-created on plain Parquet for the offline
  * environment (SURVEY.md §1: Delta jars unavailable).
  *
  * Layout: `<root>/v=<N>/…parquet` per snapshot + `<root>/_LATEST`
  * containing the current version number. Writes go to a NEW version
  * directory and the pointer flips last (atomic move of a one-line file)
  * — readers never observe a half-written snapshot, and old versions stay
  * readable (`readVersion`).
  *
  * Concurrency (Delta optimistic-transaction analogue), arbitrated by
  * the FILESYSTEM, not a JVM lock — safe across separate driver
  * processes:
  *  1. version numbers are claimed with an atomic create of
  *     `_claim_v=N` (put-if-absent), so two writers never target the
  *     same directory;
  *  2. the COMMIT itself is an atomic create-no-overwrite of
  *     `_commits/after=<base>` (content = the new version number) —
  *     the exact analogue of Delta's `_delta_log/N.json` put-if-absent.
  *     At most one marker can exist per predecessor version, so the
  *     committed chain is linear by construction; the loser's create
  *     fails with FileAlreadyExistsException → [[ConcurrentWriteException]]
  *     and its orphaned snapshot directory is removed. No lock anywhere.
  *  3. `_LATEST` is a CACHE of the chain head, flipped after the marker
  *     wins; readers heal a stale hint by following `_commits/after=*`
  *     markers forward, so a writer that crashes between marker and flip
  *     has still durably committed.
  * `merge` resolves conflicts by re-reading the new latest snapshot and
  * re-applying its updates (bounded retries), like Delta's MERGE retry.
  *
  * Storage access: all metadata IO (pointer, claims, meta files,
  * listings, deletes) goes through the Hadoop FileContext API, so a
  * table root can be any Hadoop-supported filesystem URI — `file:`,
  * `hdfs:`, or an object store with a Hadoop connector. Atomicity
  * caveats are the usual Hadoop ones: create-no-overwrite and rename
  * are atomic on file:/HDFS; an S3-style store without atomic rename
  * needs a commit-log service for the flip (as Delta does) — the same
  * boundary Delta draws.
  */
object VersionedTable {

  /** A concurrent writer committed between this writer's base snapshot
    * and its pointer flip; the write was NOT committed. */
  class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** The keyless change feed cannot reconstruct a commit hop in the
    * requested range (a sidecar-less rewrite needs user keys or the
    * commit-time CDF sidecar to pair pre/post images). A dedicated
    * subtype so feed consumers (MV refresh) can degrade on EXACTLY this
    * refusal — a genuine bug surfacing as a bare
    * UnsupportedOperationException must not be silently masked as "the
    * feed refused". */
  final class ChangeFeedUnavailable(msg: String)
    extends UnsupportedOperationException(msg)

  // ── Hadoop-FS metadata IO ────────────────────────────────────────────
  // FileContext, not FileSystem: the local AbstractFileSystem is raw (no
  // .crc sidecar files to corrupt on overwrite-rename), create flags
  // give atomic create-no-overwrite, and rename supports OVERWRITE.

  /** FileContext cache, keyed by URI scheme+authority: metadata ops are
    * called many times per table operation (pointer reads, claims, chain
    * walks) and `sessionState.newHadoopConf()` CLONES the full Hadoop
    * configuration — per-op construction is pure driver-side waste. */
  private val fileContexts =
    new java.util.concurrent.ConcurrentHashMap[String, FileContext]()

  private def fcOf(p: HPath): FileContext = {
    val uri = p.toUri
    val key = s"${uri.getScheme}://${uri.getAuthority}"
    fileContexts.computeIfAbsent(key, _ => {
      val conf = SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      if (uri.getScheme == null) FileContext.getFileContext(conf)
      else FileContext.getFileContext(uri, conf)
    })
  }

  /** The active session's Hadoop conf, shared: a fresh Configuration()
    * re-parses the XML default resources per construction (driver
    * samples caught the parse mid-commit) and ignores installed `fs.*`
    * settings. Driver-side reads only — Configuration lookups are
    * thread-safe. */
  private[sources] def sessionHadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Drop every cached FileContext: call after changing the active
    * session's Hadoop conf (credentials, fs settings) so the next
    * metadata op rebuilds contexts from the NEW conf — the cache is
    * otherwise first-touch-wins per scheme+authority. */
  def invalidateFileContextCache(): Unit = fileContexts.clear()

  /** Metadata-read instrumentation (tests): number of small-file reads
    * issued. The checkpoint exists to BOUND this per table operation. */
  private[graft] val metaReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Storage seam ([[LogStore]]): put-if-absent / read / list routed by
    * the RESOLVED filesystem of each path — a scheme-less path follows
    * `fs.defaultFS`, so claims and markers land where every other
    * writer and reader looks for them, never on the driver's local disk
    * by accident. Schemes without an atomic put-if-absent (S3A-class)
    * are refused at commit time, loudly — unless a conditional-put
    * store is registered for the scheme (`spark.graft.logstore.<scheme>`,
    * consulted on the RAW scheme first so a metadata-only scheme needs
    * no Hadoop filesystem at all). */
  private def storeOf(p: HPath): LogStore =
    LogStore.forRawScheme(p).getOrElse(LogStore.forPath(p, fcOf(p)))

  /** Dev-only breakdown of [[metaReads]] by (digit-normalized) file
    * name — populated only under SPARK_GRAFT_META_DEBUG (ProfileQ). */
  private[graft] val metaReadNames = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private val metaDebug = sys.env.contains("SPARK_GRAFT_META_DEBUG")

  private[sources] def readString(p: HPath): Option[String] = {
    metaReads.incrementAndGet()
    if (metaDebug) {
      val k = p.getName.replaceAll("[0-9]+", "N")
      metaReadNames.computeIfAbsent(k,
        _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    }
    storeOf(p).read(p)
  }

  private[sources] def writeString(p: HPath, s: String,
                          overwrite: Boolean): Unit =
    if (overwrite) storeOf(p).overwrite(p, s)
    else storeOf(p).putIfAbsent(p, s)

  private[sources] def delete(p: HPath, recursive: Boolean): Boolean =
    storeOf(p).delete(p, recursive)

  private[sources] def listNames(p: HPath): Seq[String] = storeOf(p).list(p)

  private def latestFile(root: String) = new HPath(root, "_LATEST")

  /** Commit-marker path for "the commit whose predecessor is `base`"
    * (`None` = the table's first commit). Created with the atomic
    * create-no-overwrite flag, this file IS the commit: the filesystem
    * admits at most one successor per predecessor, which is exactly the
    * linearity the old JVM lock only guaranteed within one driver. */
  private def commitMarker(root: String, base: Option[Long]): HPath =
    new HPath(s"$root/_commits", s"after=${base.map(_.toString).getOrElse("none")}")

  /** Resolve the committed successor of `base`, if any. The marker file
    * becomes VISIBLE at its atomic create but its content (the successor
    * version number) lands a moment later, so an empty read means a
    * commit in flight: bounded spin (≤100ms, normally zero) until the
    * content appears. Still empty after the bound — a writer crashed
    * between create and write — resolves to None (chain ends at `base`);
    * vacuum() GCs such husk markers past the grace period so the base
    * isn't blocked forever. */
  private def readMarker(root: String, base: Option[Long]): Option[Long] = {
    var s = readString(commitMarker(root, base))
    var tries = 0
    while (s.exists(_.trim.isEmpty) && tries < 50) {
      Thread.sleep(2L); tries += 1
      s = readString(commitMarker(root, base))
    }
    s.map(_.trim).filter(_.nonEmpty).map(_.toLong)
  }

  /** Claim the next free version number: atomic create-no-overwrite of
    * `_claim_v=N` fails (FileAlreadyExistsException) if another writer —
    * any process — holds N, and the claimer moves on to N+1. A crashed
    * writer's stale claim just skips a number; `versions()` only lists
    * committed-or-in-flight `v=` directories, so gaps are harmless.
    *
    * The post-claim RE-VERIFICATION closes a data-loss race the
    * identity racing-writer spec exposed: claim files release AFTER
    * commit, so a writer whose directory listing predates a concurrent
    * commit could win the claim for that ALREADY-COMMITTED number
    * (listing: no dir; claim attempt: file just released) and then
    * overwrite — and on its own conflict, DELETE — committed data. A
    * released claim implies its commit marker is already visible, so
    * checking the marker-chain head after winning the claim catches
    * every such interleaving; the claim is returned and the claimer
    * moves up. */
  private def claimNextVersion(root: String): Long = {
    var n = math.max(versions(root).lastOption.getOrElse(0L),
      latestVersion(root).getOrElse(0L)) + 1L
    while (true) {
      val won =
        try { writeString(new HPath(root, s"_claim_v=$n"), "", overwrite = false); true }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      if (won) {
        if (latestVersion(root).forall(_ < n)) return n
        delete(new HPath(root, s"_claim_v=$n"), recursive = false)
      }
      n += 1
    }
    -1L // unreachable
  }

  def versions(root: String): Seq[Long] =
    listNames(new HPath(root))
      .filter(_.startsWith("v=")).map(_.drop(2).toLong).sorted

  /** Tiny thread-safe LRU (access-order LinkedHashMap under its own
    * lock): bounded eviction keeps the hot set, where a wholesale clear
    * at a size cap would re-pay every entry at once. */
  private final class Lru[K, V](max: Int) {
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > max
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    def clear(): Unit = m.synchronized(m.clear())
    def removeIf(p: (K, V) => Boolean): Unit = m.synchronized {
      m.entrySet.removeIf(e => p(e.getKey, e.getValue)); ()
    }
  }

  /** True when some path segment is a `v=<n>` version dir — write-once
    * by the commit protocol, so its mtime alone fingerprints it. */
  private def isVersionPath(d: String): Boolean =
    d.split('/').exists(seg => seg.length > 2 && seg.startsWith("v=") &&
      seg.drop(2).forall(_.isDigit))

  /** Fingerprint of a directory — the validity key of cached snapshots
    * (their version dir) and of the file memo. Version dirs: the dir
    * mtime (the write-once argument). Every other dir (testdata drops, layer
    * overwrite targets) is REWRITABLE: a delete+rewrite inside one
    * mtime tick (or on a coarse-mtime store) must not serve the stale
    * entry (ADVICE r16), so the child listing — count, mtime sum, byte
    * sum — folds into the fingerprint. One driver-side listing, no
    * Spark job. */
  private def dirFingerprint(dir: HPath): Long = {
    val mtime = try fcOf(dir).getFileStatus(dir).getModificationTime
      catch { case scala.util.control.NonFatal(_) => return -1L }
    if (isVersionPath(dir.toString)) mtime
    else {
      val kids = try fcOf(dir).util.listStatus(dir)
        catch { case scala.util.control.NonFatal(_) =>
          Array.empty[org.apache.hadoop.fs.FileStatus] }
      var h = mtime * 31 + kids.length
      kids.foreach { st => // order-independent: listStatus order varies
        h += st.getModificationTime * 31 + st.getLen
      }
      h
    }
  }

  /** Hive-style partition columns of a snapshot data directory: the
    * first chain of `name=value` subdirectories (empty = unpartitioned).
    * One listing per nesting level — metadata-sized; snapshot chains
    * carry the result per dir ([[Snapshot.flat]], [[Snapshot.layout]]). */
  private[graft] def partColsOf(dir: HPath): Seq[String] = {
    val fc = fcOf(dir)
    if (!fc.util.exists(dir)) Seq.empty
    else fc.util.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .find(n => n.contains("=") && !n.startsWith("_")) match {
      case Some(nv) => nv.takeWhile(_ != '=') +: partColsOf(new HPath(dir, nv))
      case None => Seq.empty
    }
  }

  /** Read a set of snapshot data directories as ONE DataFrame. A
    * hive-partitioned layout (probed on the chain base — appends follow
    * the base's layout by construction) is read per-dir with that dir as
    * its own basePath so `name=value` partition columns survive, then
    * unioned — predicate pushdown and partition pruning push through
    * union children, so the plan quality matches a single scan. An
    * unpartitioned multi-dir chain with ONE schema stays one multi-path
    * scan (a single FileSourceScan — the cheaper plan, kept for the
    * dominant case); an EVOLVED chain (`append(allowEvolution)` added a
    * column) reads per-dir and NULL-pads missing columns via
    * `unionByName(allowMissingColumns)` — a blind multi-path scan would
    * silently drop the new column when schema inference sampled an old
    * file. Schema probing is one footer read per dir, driver-side,
    * chain-length-bounded by compaction. */
  private def readDirs(spark: SparkSession, dirs: Seq[String],
                       flat: Option[Boolean] = None,
                       tag: DataFrame => DataFrame = identity): DataFrame =
    if (dirs.size == 1) tag(readDirCached(spark, dirs.head))
    // the single multi-dir read is legal only when EVERY member is
    // layout-free: one hive member (or a mixed flat/hive chain — a
    // layout-preserving rewrite stacked on a legacy flat DML commit)
    // must read per-dir with its own basePath, or Spark's partition
    // discovery throws CONFLICTING_DIRECTORY_STRUCTURES
    else if (flat.getOrElse(dirs.forall(d => partColsOf(new HPath(d)).isEmpty))) {
      val schemas = dirs.map(d => parquetDirSchema(spark, d))
      if (schemas.forall(_ == schemas.head))
        tag(spark.read.schema(schemas.head).parquet(dirs: _*))
      else dirs.map(d => tag(readDirCached(spark, d)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
    else dirs.map(d => tag(readDirCached(spark, d, basePath = true)))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Tag each row with its `(__gvt_file, __gvt_pos)` provenance — the
    * `_metadata` struct resolves only directly against a file relation,
    * so it must attach BEFORE any union. */
  private def withRowIds(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col("*"), col("_metadata.file_path").as("__gvt_file"),
      col("_metadata.row_index").as("__gvt_pos"))
  }

  /** The live version: the `_LATEST` hint healed FORWARD through commit
    * markers. A commit is durable the instant its `after=<base>` marker
    * lands, so a writer that crashed before refreshing `_LATEST` (or a
    * concurrent writer mid-flip) leaves the hint one-or-more commits
    * behind; each forward hop is one marker read, and an up-to-date hint
    * costs exactly one miss. */
  def latestVersion(root: String): Option[Long] = {
    var cur = readString(latestFile(root)).map(_.trim.toLong)
    var next = readMarker(root, cur)
    while (next.isDefined) {
      cur = next
      next = readMarker(root, cur)
    }
    cur
  }

  // ── Snapshots (Delta Snapshot analogue) ─────────────────────────────
  //
  // Every metadata fact about a table version — committed chain, data
  // chain across `_parent` / `_dv_parent` / `_clone_src`, deletion-vector
  // dirs and their `_dvc` counts, column mapping, partition layout,
  // schema-only slices, logical schema, fully-masked files, purge floor,
  // protocol — is resolved ONCE into an immutable [[Snapshot]], which
  // every reader and writer of a statement shares. Snapshots live in one
  // bounded LRU keyed (root, version).
  //
  // Version dirs are write-once (a commit stamps its files before its
  // marker publishes), so a snapshot stays valid until something edits
  // history under an unchanged version. Exactly three things do, and
  // each calls [[invalidate]], the one place snapshots are dropped:
  //  - VACUUM, which drops versions and purges DV-dead data files;
  //  - [[backfillChangeFeed]], which writes `_cdf` into an OLD version
  //    dir without moving the tip (possibly within one mtime tick);
  //  - [[invalidateSnapshots]], the hook for tests that edit table files
  //    out of band or measure a cold resolve.
  // A shallow clone's chain crosses into its source root, so dropping a
  // root drops every snapshot whose chain READS from it. A cached entry
  // also records its version dir's [[dirFingerprint]], so a table
  // dropped and recreated at the same root is never served the old
  // incarnation. Resolving a new tip extends its predecessor's cached
  // snapshot: a commit pays only for its own hop. Root-level mutable
  // state (`_LATEST`, commit markers, properties, constraints) is never
  // cached.

  private val snapshots = new Lru[(String, Long), Snapshot](4096)

  /** The snapshot of `(root, version)`: cached, or resolved now — the
    * data chain is walked down to the nearest cached snapshot, then each
    * uncached hop extends the one below it (iteratively: an uncompacted
    * append chain can be arbitrarily long). */
  private[graft] def snapshot(root: String, version: Long): Snapshot = {
    var hops = List.empty[Hop]
    var below: Option[Snapshot] = None
    var cur: Option[(String, Long)] = Some((root, version))
    while (cur.isDefined && below.isEmpty) {
      val (r, v) = cur.get
      val stamp = dirFingerprint(new HPath(s"$r/v=$v"))
      snapshots.get((r, v)).filter(_.stamp == stamp) match {
        case Some(s) => below = Some(s)
        case None =>
          val hop = readHop(r, v, stamp)
          hops = hop :: hops
          cur = hop.link
      }
    }
    hops.foldLeft(below) { (parent, hop) =>
      val s = extend(hop, parent)
      if (hop.stamp != -1L) snapshots.put((hop.root, hop.version), s)
      Some(s)
    }.get
  }

  /** The snapshot of the live version, if the table has one. */
  private[graft] def latestSnapshot(root: String): Option[Snapshot] =
    latestVersion(root).map(snapshot(root, _))

  /** A cached, still-valid snapshot — never resolves. */
  private def cachedSnapshot(root: String, version: Long): Option[Snapshot] =
    snapshots.get((root, version)).filter(
      _.stamp == dirFingerprint(new HPath(s"$root/v=$version")))

  private def liveSnapshot(root: String): Snapshot =
    latestSnapshot(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))

  /** Drop every cached snapshot whose data chain reads from `root`, and
    * the file facts under it (None: everything). */
  private def invalidate(root: Option[String]): Unit = root match {
    case None => snapshots.clear(); fileMemo.clear()
    case Some(r) =>
      val under = normFileId(r).stripSuffix("/") + "/"
      snapshots.removeIf((_, s) => s.roots.contains(r))
      fileMemo.removeIf((k, _) => normFileId(k._1).startsWith(under))
  }

  /** Test hook: forget every snapshot and file fact — for tests that
    * edit table files out of band or measure a cold resolve. */
  private[graft] def invalidateSnapshots(): Unit = invalidate(None)

  /** Meta files a resolve lists but does not read: presence markers and
    * history-only payloads ([[Snapshot.meta]] reads them on demand). */
  private val unreadMetas = Set("_SUCCESS", "_schema_only", "_metrics")

  /** One version dir's own commit files, read for a resolve. */
  private final case class Hop(root: String, version: Long, stamp: Long,
                               metaNames: Set[String],
                               metas: Map[String, String]) {
    def num(name: String): Option[Long] =
      metas.get(name).map(_.trim).filter(_ != "none").map(_.toLong)
    /** The data-chain predecessor: an APPEND's `_parent`, a DV commit's
      * `_dv_parent`, or a shallow clone's jump into its source table. */
    def link: Option[(String, Long)] =
      num("_parent").orElse(num("_dv_parent")).map(p => (root, p))
        .orElse(metas.get("_clone_src").map(_.split('\t')).collect {
          case Array(sr, sv) => (sr, sv.trim.toLong)
        })
  }

  /** A version dir's meta FILES (`_`-prefixed plain files): one listing,
    * then one read per file present — absent files cost nothing. */
  private def readHop(root: String, v: Long, stamp: Long): Hop = {
    val dir = new HPath(s"$root/v=$v")
    val names = (try fcOf(dir).util.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })
      .filter(st => st.isFile && st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSet
    Hop(root, v, stamp, names, names.filterNot(unreadMetas).toSeq
      .flatMap(n => readString(new HPath(dir, n)).map(n -> _)).toMap)
  }

  /** The snapshot of `hop`'s version, extending its data parent's. */
  private def extend(hop: Hop, parent: Option[Snapshot]): Snapshot = {
    val Hop(root, v, stamp, metaNames, metas) = hop
    val dir = s"$root/v=$v"
    val prev = hop.num("_prev")
    val info = CommitInfo(v, prev, hop.num("_commit_ts"),
      metas.getOrElse("_operation", "WRITE"))
    val prior = prev.flatMap(cachedSnapshot(root, _))
    // a Vector: each tip's chain shares its predecessor's structure
    val chain = prior.map(_.chain).getOrElse(
      prev.filter(p => fcOf(new HPath(root)).util.exists(new HPath(s"$root/v=$p")))
        .map(p => chainWalk(root, useCheckpoint = true, Some(p)))
        .getOrElse(Nil)).toVector :+ info
    // root-level facts that only VACUUM moves (and VACUUM invalidates):
    // inherited from any cached snapshot of the same root
    val sameRoot = prior.orElse(parent.filter(_.root == root))
    val floor = sameRoot.map(_.purgeFloor).getOrElse(readPurgeFloor(root))
    val protocol = probeProtocol(root,
      sameRoot.map(_.protocol).getOrElse(noProtocol))
    val isDv = metas.contains("_dv_parent")
    val ownParts = partColsOf(new HPath(dir))
    val schemaOnly = parent.map(_.schemaOnly).getOrElse(Set.empty[String]) ++
      (if (metaNames.contains("_schema_only")) Set(dir) else Set.empty[String])
    new Snapshot(root, v, stamp, metaNames, metas, chain,
      dataDirs = parent.map(_.dataDirs).getOrElse(Nil) :+ dir,
      dvDirs = parent.map(_.dvDirs).getOrElse(Nil) ++
        (if (isDv) Seq(s"$dir/_dv") else Nil),
      dvCounts = parent.map(_.dvCounts).getOrElse(Nil) ++
        (if (isDv) Seq(metas.getOrElse("_dvc", "")) else Nil),
      schemaOnly = schemaOnly,
      colmap = metas.get("_colmap").map(parseColmap)
        .orElse(parent.flatMap(_.colmap)),
      flat = parent.forall(_.flat) && ownParts.isEmpty,
      dirLayout = parent.filter(_.dataBearingDirs.nonEmpty).map(_.dirLayout)
        .getOrElse(if (schemaOnly(dir)) Nil else ownParts),
      purgeFloor = floor, protocol = protocol,
      // a commit without vectors of its own masks exactly what its
      // data parent masks
      elide = s => parent.filter(_ => !isDv).map(_.elided)
        .getOrElse(fullyMaskedFiles(s)))
  }

  /** The newest `_layout` declared along `s`'s committed chain (CREATE /
    * TRUNCATE / REPLACE of a table with no data-bearing dir yet). */
  private[sources] def declaredLayout(s: Snapshot): Seq[String] =
    metaLatest(s, "_layout")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Read a meta file committed into snapshot `v` via `write(metaFiles)`
    * (e.g. a streaming writer's applied-batch watermark) — from the
    * version's cached snapshot when there is one. */
  def readMeta(root: String, version: Long, name: String): Option[String] =
    cachedSnapshot(root, version) match {
      case Some(s) => s.meta(name)
      case None => readString(new HPath(s"$root/v=$version", name))
    }

  /** The newest committed version's value for meta file `name`, walking
    * the chain TIP-BACKWARD — not just the tip: a non-sink commit
    * (merge / DELETE / a write without metaFiles) interleaved
    * between a sink's batches carries no watermark, and a tip-only read
    * would resolve to None and let a crash-replayed micro-batch
    * double-apply. The walk is checkpoint-bounded metadata work and
    * stops at the first chain entry carrying the file. */
  def readMetaLatest(root: String, name: String): Option[String] =
    latestSnapshot(root).flatMap(metaLatest(_, name))

  private def metaLatest(s: Snapshot, name: String): Option[String] =
    s.chain.reverseIterator.flatMap(c =>
      if (c.version == s.version) s.meta(name)
      else readMeta(s.root, c.version, name)).nextOption()

  /** One committed snapshot's chain record. */
  private[graft] case class CommitInfo(version: Long, prev: Option[Long],
                                       tsMillis: Option[Long], operation: String)

  private def commitInfoOf(root: String, v: Long): CommitInfo = CommitInfo(
    v,
    readMeta(root, v, "_prev").filter(_ != "none").map(_.trim.toLong),
    readMeta(root, v, "_commit_ts").map(_.trim.toLong),
    readMeta(root, v, "_operation").getOrElse("WRITE"))

  // ── Committed-chain checkpoint (Delta `_last_checkpoint` analogue) ──
  //
  // The chain walk pays 3 metadata reads PER VERSION; a long-lived table
  // (thousands of commits) would turn every history()/readAsOf() into a
  // linear metadata scan. Every `checkpointInterval` commits the full
  // chain is materialized as ONE file (`_checkpoint`, tab-separated
  // ascending), so a chain read costs 1 checkpoint read + the tail
  // since the last checkpoint. vacuum() rewrites the checkpoint after
  // dropping snapshots (and deletes it if the rewrite fails), so
  // checkpoint entries always name live directories.

  private[graft] val checkpointInterval = 10

  private def checkpointFile(root: String) = new HPath(root, "_checkpoint")

  private def readCheckpoint(root: String): Seq[CommitInfo] =
    readString(checkpointFile(root)).toSeq.flatMap(_.linesIterator).flatMap { ln =>
      ln.split('\t') match {
        case Array(v, p, t, op) => Some(CommitInfo(v.toLong,
          Some(p).filter(_ != "none").map(_.toLong),
          Some(t).filter(_ != "none").map(_.toLong), op))
        case _ => None
      }
    }.toSeq

  /** Materialize the committed chain (computed by pure walk, never from
    * a possibly-stale prior checkpoint) into `_checkpoint`, atomically. */
  def checkpoint(root: String): Unit = {
    val chain = committedChain(root, useCheckpoint = false)
    val body = chain.map(c => Seq(c.version.toString,
      c.prev.map(_.toString).getOrElse("none"),
      c.tsMillis.map(_.toString).getOrElse("none"),
      c.operation).mkString("\t")).mkString("\n")
    // writeString(overwrite) is temp-write + atomic rename in every
    // FcStore — the hand-rolled tmp+rename dance (and its forking
    // FileContext link-status probes) is no longer needed at any flip
    writeString(checkpointFile(root), body, overwrite = true)
  }

  /** The COMMITTED version chain, ascending, with per-commit metadata:
    * walk `_prev` links back from the live pointer, splicing in the
    * checkpointed prefix as soon as the walk reaches a checkpointed
    * version. A directory NOT on the chain — an in-flight writer's, or
    * an orphan from a writer that crashed after its data write but
    * before its commit marker — is unreachable here, so time travel and
    * history can never surface a never-committed snapshot that
    * `versions()`'s raw listing would. The walk stops at a vacuumed
    * (missing) predecessor; pre-`_prev` snapshots end the walk
    * conservatively by including themselves. The live snapshot holds
    * it; a new tip's resolve extends its predecessor's chain. */
  private[graft] def committedChain(root: String,
                                    useCheckpoint: Boolean = true): Seq[CommitInfo] =
    if (!useCheckpoint) chainWalk(root, useCheckpoint = false, latestVersion(root))
    else latestSnapshot(root).map(_.chain).getOrElse(Nil)

  private def chainWalk(root: String, useCheckpoint: Boolean,
                        tip: Option[Long]): Seq[CommitInfo] = {
    val cp = if (useCheckpoint) readCheckpoint(root) else Seq.empty
    val cpIdx = cp.iterator.zipWithIndex.map { case (c, i) => c.version -> i }.toMap
    var chain = List.empty[CommitInfo]
    var cur = tip
    while (cur.isDefined) {
      val v = cur.get
      // a cached snapshot's chain is a valid prefix (history below a
      // committed version is immutable; vacuum invalidates) — splice it
      // like an in-memory checkpoint
      val memo: Option[Seq[CommitInfo]] =
        if (!useCheckpoint) None else cachedSnapshot(root, v).map(_.chain)
      (memo, cpIdx.get(v)) match {
        case (Some(prefix), _) =>
          chain = prefix.toList ::: chain
          cur = None
        case (None, Some(i)) => // checkpointed prefix covers v and before
          chain = cp.take(i + 1).toList ::: chain
          cur = None
        case (None, None) =>
          val info = commitInfoOf(root, v)
          chain = info :: chain
          cur = info.prev.filter(p =>
            fcOf(new HPath(s"$root/v=$p")).util.exists(new HPath(s"$root/v=$p")))
      }
    }
    chain
  }

  def committedVersions(root: String): Seq[Long] =
    committedChain(root).map(_.version)

  /** Schema gate (the reference's enforced-StructType contract,
    * 01_bronze_ingest.py:36-68 / README.md:69): an existing table only
    * accepts a write whose schema matches, unless `allowEvolution` — the
    * `overwriteSchema=true` analogue (01:100) — permits adding nullable
    * columns. Field order is not significant; types are. */
  /** The widenings the versioned schema admits: numeric→numeric
    * upcasts only. `Cast.canUpCast` alone would also admit
    * atomic→string — a representation change, not a widening — so the
    * numeric gate is explicit. */
  private[graft] def losslessWiden(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
    case (f: org.apache.spark.sql.types.NumericType,
          t: org.apache.spark.sql.types.NumericType) =>
      org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f, t)
    case _ => false
  }

  private def checkSchema(existing: StructType, incoming: StructType,
                          allowEvolution: Boolean): Unit = {
    val old = existing.fields.map(f => f.name -> f.dataType).toMap
    val nu = incoming.fields.map(f => f.name -> f.dataType).toMap
    val typeChanged = old.keySet.intersect(nu.keySet)
      .filter(k => old(k) != nu(k))
    val dropped = old.keySet.diff(nu.keySet)
    val added = nu.keySet.diff(old.keySet)
    // under evolution, a LOSSLESS NUMERIC widening (int→long,
    // float→double, …) is legal — the widenColumnType commit and any
    // wider evolved batch land without rewriting a file; chain reads
    // coerce older narrow files through the union's common type.
    // Anything else (narrowing, string↔numeric — note bare canUpCast
    // admits atomic→string, which is a REPRESENTATION change, not a
    // widening) stays rejected in every mode.
    val illegal =
      if (!allowEvolution) typeChanged
      else typeChanged.filterNot(k => losslessWiden(old(k), nu(k)))
    if (illegal.nonEmpty)
      throw new IllegalArgumentException(
        s"schema enforcement: type change on ${illegal.mkString(",")} " +
          s"(old=$existing new=$incoming)" +
          (if (!allowEvolution && typeChanged.exists(k =>
            losslessWiden(old(k), nu(k))))
            "; a lossless widening needs allowEvolution=true " +
              "(or ALTER COLUMN … TYPE)" else ""))
    if ((dropped.nonEmpty || added.nonEmpty) && !allowEvolution)
      throw new IllegalArgumentException(
        s"schema enforcement: evolution not allowed (added=${added.mkString(",")} dropped=${dropped.mkString(",")}); pass allowEvolution=true")
  }

  // ── CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` analogue) ──
  //
  // Table-level row predicates enforced on EVERY write path (write /
  // merge / compact / restore all funnel through write()). SQL CHECK
  // semantics: a row passes unless the expression is definitively FALSE
  // (NULL passes). Constraints live in one `_constraints` metadata file
  // at the root (name → SQL expression, updated by atomic rename);
  // adding a constraint validates the EXISTING live snapshot first,
  // exactly as Delta does. Enforcement costs one validating pass over
  // the incoming frame per constrained write (early-exit limit(1) scan)
  // — callers writing an expensive derived frame should persist it
  // first, the same trade collectStats documents.

  /** Incoming data (or the live snapshot, on add) failed a CHECK
    * constraint; nothing was committed. */
  class CheckConstraintViolation(msg: String) extends RuntimeException(msg)

  private def constraintsFile(root: String) = new HPath(root, "_constraints")

  /** Registered CHECK constraints: name → SQL boolean expression. */
  def constraints(root: String): Map[String, String] =
    readString(constraintsFile(root)).toSeq.flatMap(_.linesIterator).flatMap { ln =>
      ln.split('\t') match {
        case Array(n, e) => Some(n -> e)
        case _ => None
      }
    }.toMap

  private def writeConstraints(root: String, cs: Map[String, String]): Unit =
    if (cs.isEmpty) delete(constraintsFile(root), recursive = false)
    else {
      writeString(constraintsFile(root),
        cs.toSeq.sorted.map { case (n, e) => s"$n\t$e" }.mkString("\n"),
        overwrite = true)
    }

  /** First constraint `df` violates, if any — one early-exit job per
    * constraint (typical constraint counts are single-digit). */
  private def firstViolated(df: DataFrame,
                            cs: Map[String, String]): Option[String] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    cs.toSeq.sorted.collectFirst {
      case (n, e) if !df.filter(not(coalesce(expr(e), lit(true)))).isEmpty =>
        s"$n CHECK($e)"
    }
  }

  /** Register a CHECK constraint. The LIVE snapshot must already satisfy
    * it (Delta's add-constraint contract) — otherwise
    * [[CheckConstraintViolation]] and no metadata change.
    *
    * Concurrency: a writer that read `_constraints` BEFORE this
    * registration's rename landed may commit unvalidated rows
    * concurrently. After the rename, any head that moved during
    * registration is RE-validated; on violation the constraint is
    * rolled back and the violation thrown — the table never silently
    * holds data an active constraint forbids. Residual window: a
    * writer that read-before AND commits after the final re-check
    * (closing it fully needs a transactional commit log — the same
    * boundary the Scaladoc at the top of this file draws for
    * rename-less object stores). */
  def addCheckConstraint(spark: SparkSession, root: String,
                         name: String, exprSql: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') &&
      !exprSql.exists(c => c == '\t' || c == '\n'),
      "constraint name/expression must not contain tabs or newlines")
    def validate(v: Long): Unit =
      firstViolated(readVersion(spark, root, v), Map(name -> exprSql)).foreach(c =>
        throw new CheckConstraintViolation(
          s"$root: existing snapshot v=$v violates new constraint $c"))
    val before = latestVersion(root)
    before.foreach(validate)
    requireFeature(root, "checkConstraints", reader = false)
    writeConstraints(root, constraints(root) + (name -> exprSql))
    revalidateMovedHead(root, before) { v =>
      try validate(v)
      catch { case e: CheckConstraintViolation =>
        writeConstraints(root, constraints(root) - name); throw e }
    }
  }

  /** Re-validate any commit that landed while a metadata registration
    * was in flight: bounded loop until the head is stable (each new
    * head validated once). */
  private def revalidateMovedHead(root: String, seen0: Option[Long])
                                 (validate: Long => Unit): Unit = {
    var seen = seen0
    var cur = latestVersion(root)
    var spins = 0
    while (cur != seen && spins < 5) {
      cur.foreach(validate)
      seen = cur; cur = latestVersion(root); spins += 1
    }
  }

  def dropCheckConstraint(root: String, name: String): Unit =
    writeConstraints(root, constraints(root) - name)

  // ── Identity columns (Delta GENERATED BY DEFAULT AS IDENTITY) ────────
  //
  // A BIGINT column whose missing/NULL values every write path fills
  // with fresh, never-reused ids. Registration (column, start, step)
  // lives in the root-level `_identity` file; the HIGH-WATER MARK is
  // transactional state and rides per-commit meta (`_idhw_<col>`,
  // newest-wins via readMetaLatest, carried across compaction folds) —
  // a concurrent writer that read a stale watermark loses the commit
  // marker and re-reads on retry, so committed ids never collide.
  // Assignment is the BY DEFAULT semantics (explicit non-NULL values
  // pass through and push the watermark past them); uniqueness is
  // guaranteed, gaplessness is NOT promised across batches (Delta's
  // exact contract). Distributed assignment costs one extra pass over
  // the batch (zipWithIndex: a count job + the tagged pass) — O(batch),
  // never O(table).

  private def identityFile(root: String) = new HPath(root, "_identity")

  /** Registered identity columns: name → (start, step). */
  def identityColumns(root: String): Map[String, (Long, Long)] =
    readString(identityFile(root)).toSeq.flatMap(_.linesIterator).flatMap { ln =>
      ln.split('\t') match {
        case Array(n, s, st) => Some(n -> (s.trim.toLong, st.trim.toLong))
        case _ => None
      }
    }.toMap

  /** Register an identity column. On an existing table the column may
    * be new (rows before registration read NULL until backfilled — run
    * one `updateWhereVector` assigning it if gapless history matters)
    * or an existing BIGINT column (future writes fill its NULLs). `step`
    * must be non-zero; negative steps count down. */
  def addIdentityColumn(spark: SparkSession, root: String, name: String,
                        start: Long = 1L, step: Long = 1L): Unit = {
    require(step != 0L, "identity step must be non-zero")
    require(!name.exists(c => c == '\t' || c == '\n'),
      "identity column name must be tab/newline-free")
    require(!identityColumns(root).contains(name),
      s"identity column $name already registered")
    require(!generatedColumns(root).contains(name),
      s"$name is a generated column — it cannot also be an identity")
    requireFeature(root, "identityColumns", reader = false)
    val cur = identityColumns(root) + (name -> (start, step))
    writeString(identityFile(root), cur.toSeq.sorted.map { case (n, (s, st)) =>
      s"$n\t$s\t$st" }.mkString("\n"), overwrite = true)
  }

  private def idhwKey(col: String): String = s"_idhw_$col"

  // ── Column DEFAULT values (Delta/SQL DEFAULT analogue) ───────────────
  //
  // A registered default fills a column a write OMITS ENTIRELY (the
  // SQL DEFAULT contract: an explicit NULL stays NULL — only an absent
  // column takes the default). Registration lives in the root-level
  // `_defaults` file (name → SQL expression, foldable recommended);
  // the fill happens in the write() funnel so every data-arrival path
  // (write/append/merge/replaceWhere/COPY INTO/sinks) honors it.
  // Historical rows are untouched — rows written before the column
  // existed still read NULL (defaults are write-time, not read-time,
  // exactly Delta's semantics).

  private def defaultsFile(root: String) = new HPath(root, "_defaults")

  /** Registered column defaults: name → SQL expression. */
  def columnDefaults(root: String): Map[String, String] =
    readString(defaultsFile(root)).toSeq.flatMap(_.linesIterator).flatMap { ln =>
      ln.split('\t') match {
        case Array(n, e) => Some(n -> e)
        case _ => None
      }
    }.toMap

  private def writeDefaults(root: String, ds: Map[String, String]): Unit =
    if (ds.isEmpty) delete(defaultsFile(root), recursive = false)
    else {
      writeString(defaultsFile(root),
        ds.toSeq.sorted.map { case (n, e) => s"$n\t$e" }.mkString("\n"),
        overwrite = true)
    }

  /** Register (or replace) a column DEFAULT. The column must exist in
    * the live schema and must not be an identity or generated column
    * (those own their fill rules). */
  def setColumnDefault(spark: SparkSession, root: String,
                       name: String, exprSql: String): Unit = {
    require(!(name + exprSql).exists(c => c == '\t' || c == '\n'),
      "default name/expression must be tab/newline-free")
    require(!identityColumns(root).contains(name),
      s"$name is an identity column — it cannot also carry a DEFAULT")
    require(!generatedColumns(root).contains(name),
      s"$name is a generated column — it cannot also carry a DEFAULT")
    latestVersion(root).foreach { v =>
      require(readVersion(spark, root, v).columns.contains(name),
        s"setColumnDefault: no column $name in the live schema")
    }
    requireFeature(root, "defaults", reader = false)
    writeDefaults(root, columnDefaults(root) + (name -> exprSql))
  }

  def dropColumnDefault(root: String, name: String): Unit =
    writeDefaults(root, columnDefaults(root) - name)

  /** Fill columns the frame OMITS with their registered defaults, cast
    * to the live schema's type for the column. */
  private def applyDefaults(df: DataFrame, root: String,
                            existing: Option[StructType]): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val ds = columnDefaults(root)
      .filterNot { case (n, _) => df.columns.contains(n) }
    if (ds.isEmpty) df
    else ds.toSeq.sorted.foldLeft(df) { case (d, (n, e)) =>
      val col0 = expr(e)
      val typed = existing.flatMap(_.find(_.name == n).map(_.dataType))
        .map(t => col0.cast(t)).getOrElse(col0)
      d.withColumn(n, typed)
    }
  }

  /** Fill missing/NULL identity values with fresh ids above the chain's
    * high-water mark. Returns the completed frame plus the new
    * watermark meta entries (empty when nothing was assigned). The
    * id order follows the frame's partition order (deterministic for a
    * deterministic input plan). */
  private def applyIdentity(df0: DataFrame, root: String,
                            ids: Map[String, (Long, Long)])
      : (DataFrame, Map[String, String]) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, element_at,
      lit, max, spark_partition_id, typedLit, when}
    import org.apache.spark.sql.graft.NativeColumns
    if (ids.isEmpty) return (df0, Map.empty)
    var df = df0
    var frozen = false
    var meta = Map.empty[String, String]
    ids.toSeq.sortBy(_._1).foreach { case (name, (start, step)) =>
      val hw0 = readMetaLatest(root, idhwKey(name)).map(_.trim.toLong)
      val present = df.columns.contains(name)
      // Columnar assignment, never leaving Tungsten (the previous
      // rdd.zipWithIndex paid full InternalRow→Row deserialization):
      //  1. freeze the frame's physical execution so the stats pass and
      //     the write see identical partitioning (what persist() used
      //     to guarantee — without caching a byte, ADVICE r10: the
      //     persisted frames were never unpersisted);
      //  2. ONE aggregate job collects per-partition null counts + the
      //     batch's explicit max (metadata-sized: one row per
      //     partition);
      //  3. ONE projection fills the gaps: hw + step * (partition
      //     offset + rank-among-null-rows + 1), the offsets a
      //     broadcast-sized map literal, the rank a stateful codegen'd
      //     expression ([[graft.functions.NullRankInPartition]]).
      // Assignment order within a partition is row order — the
      // single-partition-sorted-batch contract q_identity's oracle
      // replays is unchanged.
      val src0 = if (frozen) df else { frozen = true; NativeColumns.freeze(df) }
      val withCol =
        if (present) src0
        else src0.withColumn(name, lit(null).cast("long"))
      val pc = withCol
        .select(spark_partition_id().as("__pid"), col(name).as("__v"))
        .groupBy(col("__pid"))
        .agg(count(when(col("__v").isNull, 1)).as("__nulls"),
          max(col("__v")).as("__max"))
        .collect()
      val totalNulls = pc.map(_.getLong(1)).sum
      // explicit values push the watermark past themselves so future
      // assignments can never re-issue them (BY DEFAULT semantics)
      val explicitMax: Option[Long] =
        if (!present) None
        else {
          val ms = pc.flatMap(r => Option(r.get(2))
            .map(_.asInstanceOf[Number].longValue()))
          if (ms.isEmpty) None
          else Some(if (step > 0) ms.max else ms.min)
        }
      if (totalNulls == 0L) {
        explicitMax.foreach { m =>
          val hw = hw0.getOrElse(start - step)
          val pushed = if (step > 0) math.max(hw, m) else math.min(hw, m)
          if (pushed != hw || hw0.isEmpty)
            meta += (idhwKey(name) -> pushed.toString)
        }
        df = withCol
      } else {
        val hwBase0 = hw0.getOrElse(start - step)
        val hwBase = explicitMax match {
          case Some(m) if step > 0 => math.max(hwBase0, m)
          case Some(m) if step < 0 => math.min(hwBase0, m)
          case _ => hwBase0
        }
        // partition → count of ids assigned BEFORE it (partition order)
        val offsets: Map[Int, Long] = {
          var acc = 0L
          pc.sortBy(_.getInt(0)).map { r =>
            val o = r.getInt(0) -> acc; acc += r.getLong(1); o
          }.toMap
        }
        val fill = lit(hwBase) + lit(step) *
          (element_at(typedLit(offsets), spark_partition_id()) +
            NativeColumns.nullRank(col(name)) + lit(1L))
        df = withCol.withColumn(name, coalesce(col(name), fill))
        meta += (idhwKey(name) -> (hwBase + step * totalNulls).toString)
      }
    }
    (df, meta)
  }

  // ── Table properties (Delta TBLPROPERTIES analogue) ──────────────────
  //
  // Free-form key→value table metadata, root-level like `_constraints`
  // (properties are table state, not snapshot state — Delta keeps them
  // in the latest metaData action; here the root file is the single
  // authority and survives compaction/vacuum by construction). Surface:
  // ALTER TABLE … SET/UNSET TBLPROPERTIES and SHOW TBLPROPERTIES via
  // [[graft.plans.GvtSqlParser]].

  private def propertiesFile(root: String) = new HPath(root, "_properties")

  /** Registered table properties: key → value, both free-form strings
    * (no tabs/newlines). */
  def tblProperties(root: String): Map[String, String] =
    readString(propertiesFile(root)).toSeq.flatMap(_.linesIterator).flatMap { ln =>
      ln.split('\t') match {
        case Array(k, v) => Some(k -> v)
        case Array(k) if ln.endsWith("\t") => Some(k -> "")
        case _ => None
      }
    }.toMap

  private def writeProperties(root: String, ps: Map[String, String]): Unit =
    if (ps.isEmpty) delete(propertiesFile(root), recursive = false)
    else {
      writeString(propertiesFile(root),
        ps.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("\n"),
        overwrite = true)
    }

  // ── Column mapping (Delta columnMapping=name analogue) ───────────────
  //
  // DROP COLUMN / RENAME COLUMN without rewriting data: logical (user-
  // facing) column names map to PHYSICAL (parquet footer) names via a
  // `_colmap` file committed in each version directory (cumulative per
  // commit, resolved newest-first along the data chain — so time travel
  // sees each snapshot under the schema it had). A rename changes the
  // logical label and keeps the physical column; a drop retires the
  // physical name; re-adding a dropped/renamed-away logical name
  // allocates a FRESH physical name (`<name>_c<version>`) so old values
  // can never resurface — exactly the hazard Delta's column mapping
  // exists to prevent. Mirroring Delta's contract, drops/renames
  // require the table property first:
  //
  //   ALTER TABLE t SET TBLPROPERTIES ('gvt.columnMapping' = 'name')
  //
  // Until a drop/rename commits the first `_colmap`, NO path pays any
  // mapping cost (the chain walk finds nothing and every read/write
  // stays byte-identical to an unmapped table). Once mapped: reads
  // apply the mapping as a final projection; every write renames its
  // logical frame to physical before the parquet write and re-commits
  // the (possibly extended) mapping. Partition columns and columns
  // referenced by CHECK constraints or generated columns refuse to
  // drop/rename (their registered SQL would silently break — Delta
  // refuses these too).

  /** The logical→physical column mapping of one commit: `active` in
    * logical schema order; `retired` = physical names that must never
    * be re-allocated (dropped columns' storage). */
  /** `ids`: physical name → STABLE field id (id mode only; empty = name
    * mode). Ids ride with their physical name for life — a retired
    * physical keeps its id so no future column can ever reuse it. */
  private[graft] case class Colmap(active: Seq[(String, String)],
                                   retired: Set[String],
                                   ids: Map[String, Int] = Map.empty)

  private def serializeColmap(cm: Colmap): String =
    (cm.active.map { case (l, p) =>
      cm.ids.get(p).map(id => s"$l\t$p\t$id").getOrElse(s"$l\t$p") } ++
      cm.retired.toSeq.sorted.map(p =>
        cm.ids.get(p).map(id => s"\t$p\t$id").getOrElse(s"\t$p")))
      .mkString("\n")

  private def parseColmap(s: String): Colmap = {
    val lines = s.linesIterator.toSeq.filter(_.nonEmpty)
    val (ret, act) = lines.partition(_.startsWith("\t"))
    var ids = Map.empty[String, Int]
    val active = act.map { ln =>
      val parts = ln.split('\t')
      require(parts.length >= 2 && parts(0).nonEmpty,
        s"malformed _colmap line: '$ln'")
      if (parts.length >= 3) ids += (parts(1) -> parts(2).toInt)
      (parts(0), parts(1))
    }
    val retired = ret.map { ln =>
      val parts = ln.split('\t') // leading \t → parts(0) = ""
      require(parts.length >= 2, s"malformed _colmap line: '$ln'")
      if (parts.length >= 3) ids += (parts(1) -> parts(2).toInt)
      parts(1)
    }.toSet
    Colmap(active, retired, ids)
  }

  /** The column-mapping mode the table property requests: `name` or
    * `id` (id = name-mode semantics PLUS stable field ids written into
    * every data file's parquet schema — the Delta columnMapping=id
    * analogue, for engines that resolve columns by field id and survive
    * physical-name rewrites). None = unmapped. */
  def columnMappingMode(root: String): Option[String] =
    tblProperties(root).get("gvt.columnMapping")
      .filter(m => m == "name" || m == "id")

  /** Is a column-mapping table property set? Gates NEW drops/renames
    * only — an already-mapped chain keeps resolving through its
    * committed `_colmap`s regardless. */
  def columnMappingActive(root: String): Boolean =
    columnMappingMode(root).isDefined

  /** In id mode, make sure every physical the mapping knows carries a
    * field id (assigns schema-order ids on first materialization, and
    * upgrades a name-mode mapping in place — ids attach to physicals
    * that never change, so the upgrade is monotone). */
  private def ensureIds(cm: Colmap, root: String): Colmap =
    if (!columnMappingMode(root).contains("id")) cm
    else {
      val missing = (cm.active.map(_._2) ++ cm.retired.toSeq)
        .filterNot(cm.ids.contains)
      if (missing.isEmpty) cm
      else {
        var next = (cm.ids.values ++ Seq(0)).max + 1
        cm.copy(ids = cm.ids ++ missing.map { p =>
          val v = next; next += 1; p -> v })
      }
    }

  /** Physical→logical projection: select each mapped physical column
    * under its logical name, in mapping order (dropped physicals simply
    * fall out of the projection). */
  private def applyColmap(df: DataFrame, cm: Colmap,
                          keepMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val metaCols =
      if (keepMeta) Seq(col("__gvt_file"), col("__gvt_pos")) else Seq.empty
    df.select(cm.active.map { case (l, p) => col(p).as(l) } ++ metaCols: _*)
  }

  /** Crude-but-safe reference check for drop/rename guards: a word-
    * boundary match of the column name in any registered constraint or
    * generated-column expression refuses the operation (over-refusal is
    * safe; silent breakage of registered SQL is not). */
  private def referencedIn(colName: String, exprs: Iterable[String]): Boolean = {
    val re = ("(?i)\\b" + java.util.regex.Pattern.quote(colName) + "\\b").r
    exprs.exists(e => re.findFirstIn(e).isDefined)
  }

  private def mappingGuards(spark: SparkSession, root: String,
                            base: Long, cols: Seq[String],
                            op: String): (DataFrame, Colmap, Seq[String]) = {
    require(columnMappingActive(root),
      s"$root: $op requires column mapping — run ALTER TABLE … SET " +
        "TBLPROPERTIES ('gvt.columnMapping' = 'name') (or 'id') first " +
        "(the Delta columnMapping.mode contract)")
    val snap = snapshot(root, base)
    val live = readSnapshot(spark, snap)
    val cm0 = ensureIds(snap.colmap.getOrElse(
      Colmap(live.columns.toSeq.map(c => (c, c)), Set.empty)), root)
    val act = cm0.active.toMap
    val parts = snap.layout
    val refs = (constraints(root).values ++ generatedColumns(root).values ++
      generatedColumns(root).keys ++ identityColumns(root).keys).toSeq
    cols.foreach { c =>
      require(act.contains(c), s"$op: unknown column $c")
      require(!parts.contains(act(c)),
        s"$op: $c is a partition column — repartition via compact() instead")
      require(!referencedIn(c, refs),
        s"$op: $c is referenced by a CHECK constraint, generated column, " +
          "or identity registration — drop those first")
    }
    (live, cm0, parts)
  }

  /** DROP COLUMN(s) as an O(1) metadata commit: the columns vanish from
    * the live logical schema (and every later snapshot) while historical
    * snapshots keep them; no data file is rewritten — the physical
    * columns are RETIRED so a future add of the same name maps to fresh
    * storage and old values cannot resurface. Requires the
    * `gvt.columnMapping = name` table property. */
  def dropColumns(spark: SparkSession, root: String,
                  cols: Seq[String]): Long = {
    require(cols.nonEmpty, "dropColumns: no columns given")
    require(cols.distinct.size == cols.size, "dropColumns: duplicate names")
    val base = latestVersion(root).getOrElse(throw new IllegalArgumentException(
      s"no versions at $root"))
    val (live, cm0, _) = mappingGuards(spark, root, base, cols, "dropColumns")
    require(cm0.active.size > cols.size,
      "dropColumns: cannot drop every column")
    val act = cm0.active.toMap
    val remaining = cm0.active.filterNot { case (l, _) => cols.contains(l) }
    val cm = Colmap(remaining, cm0.retired ++ cols.map(act), cm0.ids)
    val slice = live.limit(0).select(remaining.map { case (l, _) =>
      org.apache.spark.sql.functions.col(l) }: _*)
    write(slice, root, allowEvolution = true,
      metaFiles = Map("_parent" -> base.toString,
        "_colmap" -> serializeColmap(cm)),
      baseVersion = Some(base),
      operation = s"DROP COLUMNS(${cols.mkString(",")})")
  }

  /** RENAME COLUMN as an O(1) metadata commit: the logical label
    * changes, the physical column (and every data file) stays; history
    * keeps the old name. Requires `gvt.columnMapping = name`. */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    require(to.nonEmpty && !to.exists(c => c == '\t' || c == '\n'),
      "renameColumn: target name must be non-empty and tab/newline-free")
    val base = latestVersion(root).getOrElse(throw new IllegalArgumentException(
      s"no versions at $root"))
    val (live, cm0, _) = mappingGuards(spark, root, base, Seq(from),
      "renameColumn")
    require(!cm0.active.exists(_._1.equalsIgnoreCase(to)),
      s"renameColumn: column $to already exists")
    val cm = Colmap(cm0.active.map { case (l, p) =>
      if (l == from) (to, p) else (l, p) }, cm0.retired, cm0.ids)
    val slice = live.limit(0).withColumnRenamed(from, to)
    write(slice, root, allowEvolution = true,
      metaFiles = Map("_parent" -> base.toString,
        "_colmap" -> serializeColmap(cm)),
      baseVersion = Some(base), operation = s"RENAME COLUMN($from -> $to)")
  }

  /** Upsert table properties (existing keys overwrite — Delta's SET
    * TBLPROPERTIES contract). */
  def setTblProperties(root: String, props: Map[String, String]): Unit = {
    props.foreach { case (k, v) =>
      require(k.nonEmpty && !(k + v).exists(c => c == '\t' || c == '\n'),
        s"property key/value must be non-empty and tab/newline-free: '$k'")
    }
    if (props.nonEmpty) writeProperties(root, tblProperties(root) ++ props)
  }

  /** Remove table properties; absent keys are ignored (UNSET … IF
    * EXISTS semantics — Delta errors without IF EXISTS, but an absent
    * key is the idempotent outcome either way). */
  def unsetTblProperties(root: String, keys: Seq[String]): Unit =
    writeProperties(root, tblProperties(root) -- keys)

  // ── Generated columns (Delta generated-column analogue) ─────────────
  //
  // A column DEFINED AS an expression over the other columns, registered
  // in `_generated` table metadata. On every write path: a frame that
  // omits the column gets it computed; a frame that supplies it is
  // VALIDATED (null-safe equality against the expression, early-exit
  // scan) so a writer can never commit a value that disagrees with the
  // definition. The canonical use is a derived partition key (e.g.
  // month(ts)) that must stay consistent with its source column for
  // partition pruning to be trustworthy at 100 TB.

  private def generatedFile(root: String) = new HPath(root, "_generated")

  /** Registered generated columns with the session TIMEZONE recorded at
    * registration (3rd field; legacy 2-field lines carry None). The tz
    * matters because timestamp↔date chains map base→generated values
    * PER SESSION TIMEZONE: partition-bound derivation
    * ([[gvt.GeneratedPruning]]) is only sound when every stored value
    * was computed under one known zone. */
  private def generatedEntries(root: String)
      : Map[String, (String, Option[String])] =
    readString(generatedFile(root)).toSeq.flatMap(_.linesIterator).flatMap { ln =>
      ln.split('\t') match {
        case Array(n, e) => Some(n -> (e, None))
        case Array(n, e, tz) => Some(n -> (e, Some(tz)))
        case _ => None
      }
    }.toMap

  /** Registered generated columns: name → SQL expression. */
  def generatedColumns(root: String): Map[String, String] =
    generatedEntries(root).map { case (n, (e, _)) => n -> e }

  /** name → registration-time session timezone (absent for legacy
    * registrations, which disable tz-dependent derivation). */
  private[graft] def generatedColumnTz(root: String): Map[String, String] =
    generatedEntries(root).collect { case (n, (_, Some(tz))) => n -> tz }

  private def writeGeneratedEntries(
      root: String, gens: Map[String, (String, Option[String])]): Unit =
    if (gens.isEmpty) delete(generatedFile(root), recursive = false)
    else {
      writeString(generatedFile(root),
        gens.toSeq.sortBy(_._1).map { case (n, (e, tz)) =>
          (Seq(n, e) ++ tz.toSeq).mkString("\t") }.mkString("\n"),
        overwrite = true)
    }

  /** Register a generated column. If the live snapshot already has the
    * column, its values must agree with the expression
    * ([[CheckConstraintViolation]] otherwise); a missing column is fine
    * — it materializes on the next write. */
  def addGeneratedColumn(spark: SparkSession, root: String,
                         name: String, exprSql: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') &&
      !exprSql.exists(c => c == '\t' || c == '\n'),
      "generated-column name/expression must not contain tabs or newlines")
    import org.apache.spark.sql.functions.{col, expr, not}
    def validate(v: Long): Unit = {
      val snap = readVersion(spark, root, v)
      if (snap.columns.contains(name) &&
        !snap.filter(not(col(name) <=> expr(exprSql))).isEmpty)
        throw new CheckConstraintViolation(
          s"$root: existing snapshot v=$v disagrees with generated column " +
            s"$name AS $exprSql")
    }
    val before = latestVersion(root)
    before.foreach(validate)
    requireFeature(root, "generatedColumns", reader = false)
    // record the registering session's timezone: tz-dependent chains
    // (timestamp↔date) derive partition bounds only in sessions pinned
    // to this zone, and writes under a DIFFERENT zone refuse loudly
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    writeGeneratedEntries(root,
      generatedEntries(root) + (name -> (exprSql, Some(tz))))
    // same moved-head re-validation contract as addCheckConstraint
    revalidateMovedHead(root, before) { v =>
      try validate(v)
      catch { case e: CheckConstraintViolation =>
        writeGeneratedEntries(root, generatedEntries(root) - name); throw e }
    }
  }

  /** Remove a generated-column registration (future writes stop
    * filling/validating it; data is untouched). Also the rollback hook
    * for DDL that registers-then-commits. */
  def removeGeneratedColumn(root: String, name: String): Unit =
    writeGeneratedEntries(root, generatedEntries(root) - name)

  /** Refuse a write whose session timezone differs from the zone a
    * TZ-DEPENDENT monotone generated chain was registered under: the
    * stored base→generated mapping would no longer be one function, and
    * [[gvt.GeneratedPruning]]'s derived partition bounds would prune
    * files that hold matching rows — a silently wrong ANSWER later, so
    * the write fails loudly now. Legacy registrations (no recorded tz)
    * never derive tz-dependent bounds, so they pass. Non-monotone or
    * tz-independent chains derive nothing tz-sensitive — they pass. */
  private def checkGeneratedTz(spark: SparkSession, root: String,
                               gens: Map[String, String],
                               schema: StructType): Unit = {
    if (gens.isEmpty) return
    val sess = spark.sessionState.conf.sessionLocalTimeZone
    val tzs = generatedColumnTz(root)
    gens.foreach { case (n, e) =>
      tzs.get(n).filter(_ != sess).foreach { recorded =>
        if (gvt.GeneratedPruning.tzDependentChain(spark, schema, e))
          throw new UnsupportedOperationException(
            s"$root: generated column $n AS $e is timezone-dependent and " +
              s"registered under session timezone $recorded, but this " +
              s"writer session runs $sess — values computed here would " +
              "break generated-column partition pruning (a silently " +
              "wrong prune); set spark.sql.session.timeZone to " +
              s"$recorded or re-register the column in this session")
      }
    }
  }

  /** Materialize absent generated columns; validate supplied ones. */
  private def applyGenerated(df: DataFrame,
                             gens: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, not}
    gens.toSeq.sorted.foldLeft(df) { case (d, (n, e)) =>
      if (!d.columns.contains(n)) d.withColumn(n, expr(e))
      else if (!d.filter(not(col(n) <=> expr(e))).isEmpty)
        throw new CheckConstraintViolation(
          s"incoming data disagrees with generated column $n AS $e; " +
            "omit the column to have it computed")
      else d
    }
  }

  /** Write a new snapshot; returns the new version number. When
    * `statsCols` is non-empty, per-file zone maps for those (numeric)
    * columns are collected into the snapshot BEFORE the pointer flips —
    * readers never observe a stats-less live snapshot. `metaFiles`
    * (name → content; underscore-prefix the names so parquet readers
    * ignore them) are likewise written into the version directory
    * BEFORE the flip, so metadata commits atomically WITH the data —
    * the hook non-idempotent writers (additive streaming merges) use to
    * persist their applied-batch watermark transactionally.
    *
    * `baseVersion`: the snapshot this write's data derives from. Default
    * None captures the live version at entry — right for self-contained
    * overwrites. A caller that READ the table earlier and computed `df`
    * from it (merge) must pass the version it read, so a commit that
    * landed in between is detected as a conflict, not silently clobbered. */
  def write(df0: DataFrame, root: String, allowEvolution: Boolean = false,
            partitionBy: Seq[String] = Seq.empty,
            statsCols: Seq[String] = Seq.empty,
            metaFiles: Map[String, String] = Map.empty,
            baseVersion: Option[Long] = None,
            operation: String = "WRITE",
            subdirWrites: Map[String, DataFrame] = Map.empty,
            physicalInput: Boolean = false,
            assignIdentity: Boolean = true,
            optimizeWrite: Option[Boolean] = None,
            replaceSchema: Boolean = false): Long = {
    val base = baseVersion.orElse(latestVersion(root))
    // the one snapshot this commit derives from
    val baseSnap = base.map(snapshot(root, _))
    // protocol: refuse when the table demands features this build lacks;
    // then declare the features THIS commit materializes BEFORE anything
    // publishes, so no reader can see their bytes ungated
    var proto = checkWriteProtocol(root,
      baseSnap.map(_.protocol).getOrElse(noProtocol))
    if (metaFiles.contains("_dv_parent") || subdirWrites.contains("_dv"))
      proto = requireFeature(root, "dv", reader = true, proto)
    if (metaFiles.contains("_schema_only"))
      proto = requireFeature(root, "schemaOnlySlices", reader = true, proto)
    // `physicalInput` (compactChain's fold): the frame is the table's
    // own committed files read back in PHYSICAL column space — schema /
    // constraint / generated-column gates already passed when those rows
    // first committed, and re-running them against logical-name
    // registrations would mis-resolve on a column-mapped table
    // logical-snapshot schema (NOT the raw tip directory: a
    // deletion-vector commit's dir holds only an empty slice + _dv).
    // This read is non-transactional: under concurrent writers it can
    // observe a version whose directory a racing loser's cleanup (or a
    // racing vacuum) removes before the file listing resolves — that is
    // a CONFLICT, not a corrupt table, so it surfaces as the retryable
    // signal instead of an opaque PATH_NOT_FOUND (the racing-writer
    // spec exercises exactly this window)
    val existingSchema: Option[StructType] =
      if (physicalInput) None
      else try latestVersion(root).map(v =>
        // the snapshot's logical schema — building the full chain-read
        // plan just to take its .schema is pure driver latency
        baseSnap.filter(_.version == v).getOrElse(snapshot(root, v)).schema)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new ConcurrentWriteException(
            s"$root: schema-gate snapshot read raced a concurrent " +
              s"commit/cleanup (${String.valueOf(e.getMessage).take(140)}); " +
              "re-read the table and retry")
      }
    // `replaceSchema` skips the OLD definition's registrations the same
    // way physicalInput does: a redefinition replaces its rules — the
    // old generated columns must not be re-materialized onto the new
    // schema, nor old constraints analyzed against it (replaceTable
    // clears the registrations right after this commit publishes)
    val (df, idMeta) =
      if (physicalInput || replaceSchema) (df0, Map.empty[String, String])
      else {
        // defaults fill OMITTED columns on the same data-arrival paths
        // as identity (a RESTORE to before a column existed must
        // resurrect the old schema, not re-fill the column)
        val gensAll = generatedColumns(root)
        checkGeneratedTz(df0.sparkSession, root, gensAll, df0.schema)
        val gen0 = applyGenerated(df0, gensAll)
        val gen = if (assignIdentity) applyDefaults(gen0, root, existingSchema)
          else gen0
        // identity fills only on DATA-ARRIVAL paths (write/append/
        // replaceWhere/COPY INTO/sinks): maintenance and row-rewrite
        // paths pass rows through verbatim — compact/restore/UPDATE
        // must never invent values for rows that predate registration
        if (assignIdentity) applyIdentity(gen, root, identityColumns(root))
        else (gen, Map.empty[String, String])
      }
    val metaFiles1 = metaFiles ++ idMeta
    // `replaceSchema` (CREATE OR REPLACE TABLE): the caller explicitly
    // declares the new schema REPLACES the old — the gate that protects
    // accidental drift must not veto a deliberate redefinition
    if (!replaceSchema) existingSchema.foreach(existing =>
      checkSchema(existing, df.schema, allowEvolution))
    // CHECK constraints gate every write path (merge/compact/restore
    // funnel through here) BEFORE a version is claimed
    val cs = if (physicalInput || replaceSchema) Map.empty[String, String]
      else constraints(root)
    if (cs.nonEmpty) firstViolated(df, cs).foreach(c =>
      throw new CheckConstraintViolation(
        s"$root: incoming data violates constraint $c; nothing committed"))
    // column mapping: an explicit `_colmap` in metaFiles (drop/rename/
    // restore/clone commits) is authoritative; otherwise a mapped base
    // chain carries its mapping forward, extended with fresh physical
    // names for any NEW logical columns (never reusing an active or
    // retired physical, so re-added names cannot resurface old values)
    // `_colmap` -> "" is the explicit UNMAP sentinel ([[purge]] / REORG
    // PURGE): the commit neither inherits the base chain's mapping nor
    // writes a `_colmap` — the new snapshot's physical layout IS its
    // logical view, and reads return to the plain file-relation path
    val unmap = metaFiles.get("_colmap").contains("")
    val cmPrior: Option[Colmap] =
      if (physicalInput || unmap) None
      else metaFiles.get("_colmap").map(parseColmap)
        .orElse(baseSnap.flatMap(_.colmap))
    if (cmPrior.isDefined)
      proto = requireFeature(root, "columnMapping", reader = true, proto)
    // `gvt.dataSkippingCols` (Delta auto-data-skipping analogue): when
    // the property names columns and the caller passed no statsCols,
    // EVERY data commit collects their zone maps — DML slices and
    // maintenance rewrites included — so a 100 TB table's rewritten
    // rows stay prunable without each call site remembering statsCols.
    // Columns the commit's schema lacks, or of un-zone-mappable types,
    // are skipped rather than failing the write.
    val props = try tblProperties(root) catch {
      case scala.util.control.NonFatal(_) => Map.empty[String, String]
    }
    val statsCols1 =
      if (statsCols.nonEmpty) statsCols
      else props.get("gvt.dataSkippingCols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        .filter { c =>
          df.schema.find(_.name == c).map(_.dataType).exists(dt =>
            dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
              dt == org.apache.spark.sql.types.StringType)
        }
    val next = claimNextVersion(root)
    var committed = false
    try {
      val (dfW, partsW, statsW, metaW) = cmPrior match {
        case None => (df, partitionBy, statsCols1,
          if (unmap) metaFiles1 - "_colmap" else metaFiles1)
        case Some(prior0) =>
          // id mode: every physical (incl. the adds below) carries a
          // stable field id; ids attach to physicals, which never
          // change, so a name-mode chain upgrades monotonically
          val prior = ensureIds(prior0, root)
          val cm = ensureIds(
            if (metaFiles.contains("_colmap")) prior
            else {
              val known = prior.active.map(_._1).toSet
              val used = prior.active.map(_._2).toSet ++ prior.retired
              val adds = df.schema.fieldNames.toSeq.filterNot(known).map { n =>
                n -> (if (used(n)) s"${n}_c$next" else n) }
              Colmap(prior.active ++ adds, prior.retired, prior.ids)
            }, root)
          val physOf = cm.active.toMap
          import org.apache.spark.sql.functions.col
          // physical rename + (id mode) parquet field-id metadata:
          // Spark's parquet writer honors the `parquet.field.id`
          // field metadata, so every data file carries the stable ids
          // and an id-resolving engine survives physical-name drift
          val renamed = df.select(df.columns.map(c =>
            col(c).as(physOf.getOrElse(c, c))).toSeq: _*)
          val withIds =
            if (cm.ids.isEmpty) renamed
            else renamed.select(renamed.schema.fields.map { f =>
              cm.ids.get(f.name) match {
                case Some(id) =>
                  val md = new org.apache.spark.sql.types.MetadataBuilder()
                    .withMetadata(f.metadata)
                    .putLong("parquet.field.id", id.toLong).build()
                  col(f.name).as(f.name, md)
                case None => col(f.name)
              }
            }.toSeq: _*)
          (withIds,
            partitionBy.map(c => physOf.getOrElse(c, c)),
            statsCols1.map(c => physOf.getOrElse(c, c)),
            metaFiles1 + ("_colmap" -> serializeColmap(cm)))
      }
      // Optimized writes (Delta autoOptimize.optimizeWrite analogue):
      // an AQE REBALANCE shuffle keyed on the partition columns right
      // before the file write, so each hive partition's rows land in
      // ~advisory-sized files instead of one sliver per upstream task —
      // the small-files problem killed at the source. Explicit
      // `optimizeWrite` wins; else the `gvt.optimizeWrite` table
      // property applies to DATA-ARRIVAL paths only (assignIdentity
      // marks them) — maintenance rewrites control their own layout
      // (a rebalance on top of a z-order compaction would destroy the
      // clustering it just built).
      val ow = optimizeWrite.getOrElse(assignIdentity &&
        props.get("gvt.optimizeWrite").exists(_.trim.equalsIgnoreCase("true")))
      val dfOut =
        if (!ow) dfW
        else if (partsW.nonEmpty)
          dfW.hint("rebalance",
            partsW.map(org.apache.spark.sql.functions.col): _*)
        else dfW.hint("rebalance")
      val w = dfOut.write.mode("overwrite")
      (if (partsW.nonEmpty) w.partitionBy(partsW: _*) else w)
        .parquet(s"$root/v=$next")
      // a ZERO-ROW dynamic-partition write produces NO files — the
      // snapshot would lose its schema (unreadable dir). Detect by the
      // dir listing (metadata-cheap, no job) and fall back to the same
      // shape TRUNCATE/CREATE use: a flat footer-only slice marked
      // `_schema_only`, with the layout carried as declared `_layout`
      // so later appends keep partitioning
      var metaW2 = metaW
      if (partsW.nonEmpty) {
        val vDir = new HPath(s"$root/v=$next")
        val hasFiles = fcOf(vDir).util.listStatus(vDir).exists(st =>
          !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
        if (!hasFiles) {
          dfW.limit(0).write.mode("overwrite").parquet(s"$root/v=$next")
          metaW2 = metaW + ("_schema_only" -> "1",
            "_layout" -> partsW.mkString(","))
          proto = requireFeature(root, "schemaOnlySlices", reader = true, proto)
        }
      }
      // a schema-only slice (a DELETE_DV commit's empty anchor) carries
      // no prunable file — skip the empty stats job
      if (statsW.nonEmpty && !metaW2.contains("_schema_only"))
        collectStats(df.sparkSession, root, next, statsW)
      // persistent bloom index (gvt.bloomIndexCols table property, the
      // Delta BLOOMFILTER INDEX analogue): every commit collects its
      // version's sidecars BEFORE the marker, so a committed snapshot is
      // never observably index-less. O(version data) — O(batch) on
      // appends, the rewrite's own cost class on full snapshots.
      val bloomIdx = props.get("gvt.bloomIndexCols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        .filter(dfW.columns.contains)
      if (bloomIdx.nonEmpty && !metaW2.contains("_schema_only"))
        collectBlooms(df.sparkSession, root, next, bloomIdx)
      // auxiliary parquet payloads (underscore-prefix the names so
      // snapshot readers ignore them — e.g. a DELETE commit's deletion
      // vector), committed atomically WITH the data like metaFiles
      var dvCounts: Option[Seq[(String, Long)]] = None
      subdirWrites.foreach { case (name, sdf) =>
        sdf.write.mode("overwrite").parquet(s"$root/v=$next/$name")
        // per-file mask counts (`_dvc`) ride every DV commit: readers
        // compare them against parquet footer row counts to drop FULLY
        // masked files from scans entirely (Delta removes fully-deleted
        // files from its manifest; this sidecar is how gvt derives the
        // same set without one). Derived by re-reading the just-written
        // payload — never re-runs the locate scan — and persisted as a
        // TEXT meta file so RESOLVES read it driver-side with zero
        // Spark jobs. Touched-file-count-sized: the Delta-log driver
        // class (Delta drivers hold full file manifests).
        if (name == "_dv") {
          val counts = readSidecar(sdf.sparkSession, Seq(s"$root/v=$next/_dv"))
            .groupBy("_dv_file").count().collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          dvCounts = Some(counts)
          // each line also records the touched file's TOTAL footer row
          // count (a per-file constant — data files are immutable), so
          // read-side whole-file elision resolves from `_dvc` text
          // alone: zero footer IO on ANY subsequent read of the chain.
          // One pooled footer read per touched file, paid ONCE at
          // commit time where the file is hot — the write-once/read-
          // many amortization Delta gets from its manifest row counts.
          val totals = footerRowsOf(counts.map(_._1))
          writeString(new HPath(s"$root/v=$next", "_dvc"),
            counts.map { case (f, n) =>
              totals.get(f).map(t => s"$f\t$n\t$t").getOrElse(s"$f\t$n")
            }.mkString("\n"),
            overwrite = true)
        }
      }
      metaW2.foreach { case (name, content) =>
        writeString(new HPath(s"$root/v=$next", name), content, overwrite = true)
      }
      // operation metrics (Delta DESCRIBE HISTORY operationMetrics
      // analogue): the commit's OWN data-file count + bytes, and — on a
      // DV commit — the masked-row count from the vector's footers. One
      // listing of the just-written dir plus O(dv files) footer reads —
      // commit-sized driver metadata, never a scan.
      locally {
        def walk(d: HPath): (Long, Long) = {
          val fc = fcOf(d)
          if (!fc.util.exists(d)) (0L, 0L)
          else fc.util.listStatus(d).map { st =>
            val nm = st.getPath.getName
            if (nm.startsWith("_") || nm.startsWith(".")) (0L, 0L)
            else if (st.isDirectory) walk(st.getPath)
            else (1L, st.getLen)
          }.foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
        }
        val (nF, nB) = walk(new HPath(s"$root/v=$next"))
        val dvRows = dvCounts.map(_.map(_._2).sum).getOrElse(-1L)
        writeString(new HPath(s"$root/v=$next", "_metrics"),
          s"$nF\t$nB\t$dvRows", overwrite = true)
      }
      // commit wall-clock (epoch millis, for timestamp time travel) and
      // operation name (for history()) — written AFTER user metaFiles so
      // compaction's carried copies of an older snapshot's values cannot
      // shadow this commit's own
      writeString(new HPath(s"$root/v=$next", "_commit_ts"),
        System.currentTimeMillis.toString, overwrite = true)
      writeString(new HPath(s"$root/v=$next", "_operation"),
        operation, overwrite = true)
      // fast-fail validation (best-effort — the marker create below is
      // the real arbiter): if someone already committed past our base,
      // fail before paying the marker round-trip
      val current = latestVersion(root)
      if (current != base)
        throw new ConcurrentWriteException(
          s"$root: concurrent commit detected (base=$base, now=$current); " +
            "re-read the table and retry")
      // predecessor link — the committed-chain record committedVersions
      // walks; written before the marker so the chain is complete the
      // instant the commit becomes visible
      writeString(new HPath(s"$root/v=$next", "_prev"),
        base.map(_.toString).getOrElse("none"), overwrite = true)
      // THE COMMIT: put-if-absent successor-of-`base` marker. The
      // filesystem admits exactly one winner per predecessor — atomic
      // across driver processes, no lock. Losing the create IS the
      // concurrent-commit signal.
      try writeString(commitMarker(root, base), next.toString, overwrite = false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          val winner = readString(commitMarker(root, base)).map(_.trim).getOrElse("?")
          throw new ConcurrentWriteException(
            s"$root: concurrent commit detected (base=$base already has " +
              s"successor v=$winner); re-read the table and retry")
      }
      committed = true
      // refresh the hint + periodic checkpoint — both best-effort: the
      // commit is already durable, and readers heal a stale hint forward
      try {
        writeString(latestFile(root), next.toString, overwrite = true)
        if (next % checkpointInterval == 0) checkpoint(root)
      } catch { case scala.util.control.NonFatal(_) => () }
      next
    } catch {
      case e: Throwable if !committed =>
        // never-committed snapshot: remove so it can't inflate versions()
        // or survive as an unreachable time-travel target
        delete(new HPath(s"$root/v=$next"), recursive = true)
        throw e
    } finally delete(new HPath(root, s"_claim_v=$next"), recursive = false)
  }

  // ── Data skipping (Delta stats / zone-map analogue) ──────────────────
  //
  // Per-FILE min/max of chosen numeric columns, stored as parquet under
  // `v=N/_stats` (underscore-prefixed → invisible to snapshot readers,
  // like _SUCCESS). A pruned read intersects the predicate range with
  // each file's [min,max] and hands the planner ONLY the surviving
  // files: at 100 TB the win is scan-planning and IO proportional to the
  // selectivity of the CLUSTERED dimension, before row-group stats even
  // apply. Pairs with ops/ZOrder: a z-ordered layout keeps per-file
  // ranges tight on ALL interleaved keys, so skipping works on any of
  // them (a linear sort only serves its leading key).
  //
  // Stats values are cast to double: exact for integral values < 2^53
  // (every key column here); collection costs one extra scan of the
  // written snapshot, the Delta trade made explicit.

  /** Collect per-file zone maps for `cols` into `v=N/_stats` — over the
    * version's OWN files only (an append commit stats just its batch,
    * keeping the commit O(batch); full snapshots are their own files).
    * [[readPruned]] unions the chain's stats at read time. */
  /** Longest string stored in a string zone map. Truncation stays
    * SOUND: the stored lower bound is a PREFIX of the true min (a
    * prefix is lexicographically ≤ the original), and an upper bound
    * that would need truncation is stored as NULL = "unbounded above"
    * (a file is then never pruned by an upper comparison). */
  private val strStatMaxLen = 64

  def collectStats(spark: SparkSession, root: String, version: Long,
                   cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, length, lit, max, min, substring, when}
    import org.apache.spark.sql.types.{NumericType, StringType}
    val snap = readDirCached(spark, s"$root/v=$version")
    // zone maps exist for NUMERIC columns (double min/max; NULL = the
    // file has no non-null values → skip on any range) and STRING
    // columns (truncation-sound smin/smax + non-null count — a plain
    // double-cast of a string col would yield NULL stats for files
    // FULL of data and silently mis-prune, the r9 ADVICE class). Any
    // other type fails loudly at collection.
    cols.foreach { c =>
      val dt = snap.schema(c).dataType // throws on a missing column
      require(dt.isInstanceOf[NumericType] || dt == StringType,
        s"statsCols: $c is $dt — zone maps support numeric and string " +
          "columns only")
    }
    val aggs = cols.flatMap { c =>
      snap.schema(c).dataType match {
        case _: NumericType => Seq(
          min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c"))
        case _ => Seq(
          substring(min(col(c)), 1, strStatMaxLen).as(s"smin_$c"),
          when(length(max(col(c))) <= strStatMaxLen, max(col(c)))
            .as(s"smax_$c"),
          count(col(c)).as(s"nn_$c"))
      }
    } :+ count(lit(1)).as("n_rows")
    snap.select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // one row per data file — metadata-sized
      .write.mode("overwrite").parquet(s"$root/v=$version/_stats")
  }

  // ── Bloom-filter file skipping (Delta BLOOMFILTER INDEX analogue) ────
  //
  // Zone maps prune RANGE predicates on clustered columns; a point
  // lookup on an UNCLUSTERED high-cardinality column (an id, a hash, a
  // URL) gets nothing from min/max — every file spans the whole value
  // space. A per-file Bloom filter answers "can value v be in file f?"
  // probabilistically: `collectBlooms` stores, per (file, column), the
  // DISTINCT bit positions of k=4 double-hashed probes (Kirsch-
  // Mitzenmacher: h_i = h1 + i·h2 mod m) as plain parquet rows under
  // `v=N/_bloom`. The gvt FileIndex consults them for pushed EQUALITY
  // predicates at planning: a file missing any probe position cannot
  // contain the value and is skipped — false positives only cost a
  // wasted scan, never a wrong answer. A saturated filter (n ≫ m)
  // degrades to "keep everything", still sound. Probe hashing uses
  // Catalyst's own XxHash64 evaluated driver-side, so the planner's
  // hashes are bit-identical to the collection scan's `xxhash64`.

  private val bloomK = 4

  /** Collect per-file Bloom position sets for `cols` into
    * `v=N/_bloom` (schema: file, colname, pos). `mBits` is the filter
    * width per file (default 2^16 ≈ 1% FP at ~8k distinct values/file
    * with k=4). One scan of the version's files, metadata-sized
    * output. */
  def collectBlooms(spark: SparkSession, root: String, version: Long,
                    cols: Seq[String], mBits: Int = 1 << 16): Unit = {
    import org.apache.spark.sql.functions.{col, explode, lit, pmod, xxhash64, array}
    require(cols.nonEmpty, "collectBlooms: no columns given")
    val snap = readDirCached(spark, s"$root/v=$version")
    cols.foreach(c => require(snap.columns.contains(c),
      s"collectBlooms: no column $c in v=$version"))
    val perCol = cols.map { c =>
      // mod-first (overflow-free under ANSI): (h1 + i·h2) mod m ==
      // ((h1 mod m) + i·(h2 mod m)) mod m
      val h1 = pmod(xxhash64(col(c)), lit(mBits.toLong))
      val h2 = pmod(xxhash64(col(c), lit(1L)), lit(mBits.toLong))
      val positions = array((0 until bloomK).map(i =>
        pmod(h1 + lit(i.toLong) * h2, lit(mBits.toLong))): _*)
      snap.filter(col(c).isNotNull)
        .select(col("_metadata.file_path").as("file"),
          lit(c).as("colname"), explode(positions).as("pos"))
    }
    perCol.reduce(_ unionByName _).distinct()
      .coalesce(1) // ≤ files · cols · min(k·n, m) rows — metadata-sized
      .write.mode("overwrite").parquet(s"$root/v=$version/_bloom")
    writeString(new HPath(s"$root/v=$version", "_bloom_m"),
      mBits.toString, overwrite = true)
  }

  /** Driver-side probe hashes, bit-identical to `xxhash64(col)` /
    * `xxhash64(col, 1L)` in the collection scan. */
  private def bloomProbe(value: Any, mBits: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val lit0 = Literal(value)
    def pm(x: Long): Long = (x % mBits + mBits) % mBits
    val h1 = pm(XxHash64(Seq(lit0), 42L).eval(null).asInstanceOf[Long])
    val h2 = pm(XxHash64(Seq(lit0, Literal(1L)), 42L).eval(null).asInstanceOf[Long])
    (0 until bloomK).map(i => pm(h1 + i * h2))
  }

  /** The files of `dir` that MIGHT contain `value` in `colname`,
    * according to the dir's `_bloom` sidecar: None when the dir has no
    * bloom for the column (caller keeps everything — sound). The probe
    * runs as one tiny scan of the sidecar (positions pushed into the
    * parquet filter), the Delta bloom-index read shape. */
  /** Remove a chain dir's bloom sidecar (DROP BLOOMFILTER INDEX —
    * blooms are advisory, so mid-drop readers just stop skipping). */
  private[graft] def deleteBloomSidecar(dir: String): Unit = {
    delete(new HPath(dir, "_bloom"), recursive = true)
    ()
  }

  private[graft] def bloomCandidates(spark: SparkSession, dir: String,
                                     colname: String, value: Any): Option[Set[String]] = {
    import org.apache.spark.sql.functions.col
    val p = new HPath(s"$dir/_bloom")
    if (!fcOf(p).util.exists(p)) return None
    val bloom = readSidecar(spark, Seq(s"$dir/_bloom"))
    if (!bloom.schema.fieldNames.contains("colname")) return None
    // m is not stored: derive it as the next power of two above the
    // max position is WRONG (positions are data-dependent) — store m
    // implicitly by convention instead: collectBlooms always uses one
    // width per table, recorded in `_bloom_m`
    val m = readString(new HPath(s"$dir/_bloom_m")).map(_.trim.toInt)
      .getOrElse(1 << 16)
    val probes = bloomProbe(value, m)
    val hasCol = !bloom.filter(col("colname") === colname).isEmpty
    if (!hasCol) return None
    val hits = bloom.filter(col("colname") === colname &&
        col("pos").isin(probes.distinct: _*))
      .groupBy(col("file")).count()
      .collect().filter(_.getLong(1) >= probes.distinct.size)
      .map(_.getString(0)).toSet
    Some(hits)
  }

  /** Range-pruned read of the latest snapshot: only files whose
    * [min,max] zone intersects [lo,hi] reach the scan; the residual
    * filter is applied regardless, so results are identical to a full
    * scan + filter with or without stats (files of all-NULL values have
    * NULL stats and are skipped — NULL never satisfies a range).
    *
    * Append chains prune too — each commit statted its own batch, and
    * the read unions the chain's zone maps (Delta's add-file stats
    * shape). Falls back to the full filtered scan when ANY chain member
    * lacks stats (a partially-statted chain cannot prune soundly). */
  def readPruned(spark: SparkSession, root: String, column: String,
                 lo: Double, hi: Double): DataFrame =
    readPruned(spark, root, Seq((column, lo, hi)))

  /** Multi-column pruned read: a CONJUNCTION of range predicates, every
    * one zone-map-checked — a file survives only if each predicate's
    * [lo,hi] intersects that file's [min,max] for the column. This is
    * the read-side payoff of z-ordered layouts ([[compact]] zorderBy):
    * per-file ranges stay tight on ALL interleaved keys, so a 2-key
    * predicate prunes multiplicatively where a linear sort serves only
    * its leading key.
    *
    * PARTIAL pruning: each chain member prunes independently — a dir
    * that stats every predicate column contributes only its surviving
    * files, a dir without (an unstatted batch, a deletion-vector
    * commit's update rows) is read WHOLE (sound: keeping a file never
    * loses rows, and the residual filter always applies). Deletion
    * vectors compose: the pruned union anti-joins the chain's vectors
    * exactly as [[readVersion]] does. */
  def readPruned(spark: SparkSession, root: String,
                 ranges: Seq[(String, Double, Double)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(ranges.nonEmpty, "readPruned needs at least one (column, lo, hi)")
    val v = latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    ranges.foldLeft(prunedVersionRead(spark, snapshot(root, v), ranges)) {
      case (df, (c, lo, hi)) => df.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Zone-map-pruned read of logical snapshot `version` — the shared
    * core of [[readPruned]], the DV-bearing gvt relation's scan, and
    * the DML locate scans. Only files whose per-file [min,max] can
    * intersect EVERY range survive; the caller applies its own
    * residual predicate on top (pruning alone keeps whole files, so it
    * never loses a matching row — soundness does not depend on the
    * residual). Deletion vectors are anti-joined exactly as
    * [[readVersion]] does. `keepMeta` returns the `(__gvt_file,
    * __gvt_pos)` provenance columns (the DML locate scans need them to
    * build their `_dv` payload). Empty `ranges` = no pruning (the
    * plain chain read). PARTIAL pruning per chain member: a dir
    * without stats for every range column is read WHOLE. */
  private[graft] def prunedVersionRead(spark: SparkSession, snap: Snapshot,
                                       ranges: Seq[(String, Double, Double)],
                                       keepMeta: Boolean = false,
                                       strRanges: Seq[(String, Option[String], Option[String])] = Seq.empty)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val dirs = snap.dataDirs
    val dvDirs = snap.dvDirs
    val needMeta = dvDirs.nonEmpty || keepMeta
    // column-mapped chain: callers speak LOGICAL names — stats and
    // footers are keyed physical, so the range columns translate on the
    // way in and the result projects back to logical on the way out
    val cm = snap.colmap
    val phys = cm.map(_.active.toMap).getOrElse(Map.empty[String, String])
    val rangesP = ranges.map { case (c, lo, hi) =>
      (phys.getOrElse(c, c), lo, hi) }
    val strRangesP = strRanges.map { case (c, lo, hi) =>
      (phys.getOrElse(c, c), lo, hi) }
    def logicalize(df: DataFrame): DataFrame =
      cm.map(applyColmap(df, _, keepMeta = keepMeta)).getOrElse(df)
    def finish(tagged: DataFrame): DataFrame = {
      val dv = if (dvDirs.nonEmpty) applyDv(spark, tagged, dvDirs, keepMeta = true)
        else tagged
      logicalize(if (keepMeta) dv else dv.drop("__gvt_file", "__gvt_pos"))
    }
    lazy val elided = snap.elided
    def full(): DataFrame =
      if (!needMeta) logicalize(readDirs(spark, dirs, Some(snap.flat)))
      else finish(readDirsMetaEliding(spark, snap))
    if (ranges.isEmpty && strRanges.isEmpty) return full()
    // per-dir stats coverage (a multi-dir stats read would silently
    // NULL-fill a member's missing column and mis-skip its files — so
    // coverage is judged per dir and stats are read per dir)
    val (statted, pass) = dirs.partition { d =>
      val p = new HPath(s"$d/_stats")
      fcOf(p).util.exists(p) && {
        val have = parquetDirSchema(spark, s"$d/_stats").fieldNames.toSet
        rangesP.forall { case (c, _, _) => have(s"min_$c") && have(s"max_$c") } &&
        strRangesP.forall { case (c, _, _) =>
          have(s"smin_$c") && have(s"smax_$c") && have(s"nn_$c") }
      }
    }
    if (statted.isEmpty) return full()
    val partitioned = snap.dirLayout.nonEmpty
    def tag(df: DataFrame): DataFrame = if (needMeta) withRowIds(df) else df
    // NULL numeric stats = a file with no non-null values for the
    // column: no range predicate can match there, so the file is
    // skipped (sound — a row must satisfy the range to matter, and
    // NULL never does). String bounds are truncation-sound: smin is a
    // PREFIX of the true min (≤ it), smax NULL means unbounded above,
    // and nn=0 marks the genuinely all-null file.
    val pred = (rangesP.map { case (c, lo, hi) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    } ++ strRangesP.map { case (c, lo, hi) =>
      val base = col(s"nn_$c") > 0
      val loOk = lo.map(l =>
        col(s"smax_$c").isNull || col(s"smax_$c") >= lit(l))
      val hiOk = hi.map(h => col(s"smin_$c") <= lit(h))
      (Seq(base) ++ loOk ++ hiOk).reduce(_ && _)
    }).reduce(_ && _)
    val files0 = readSidecar(spark, statted.map(d => s"$d/_stats"))
      .filter(pred).select("file").collect().map(_.getString(0)).toSeq
    // Bloom refinement: a string EQUALITY predicate (lo == hi) also
    // probes each dir's `_bloom` sidecar — the type-exact case (a
    // numeric equality's range has lost the value's original type, so
    // only strings probe). Files whose filter misses any probe
    // position drop; dirs without a bloom for the column keep theirs.
    // File strings compare RAW (`_metadata.file_path` form on both
    // sides — the sidecars are collected identically).
    val eqStrs = strRangesP.collect {
      case (c, Some(l), Some(h)) if l == h => (c, l) }
    val files = if (eqStrs.isEmpty) files0 else {
      val vdir = "^(.*/v=\\d+)/".r
      def dirOf(f: String): String =
        vdir.findFirstMatchIn(f).map(_.group(1)).getOrElse("")
      val cands: Map[(String, String), Option[Set[String]]] =
        (for { d <- files0.map(dirOf).distinct; (c, v) <- eqStrs }
          yield (d, c) -> bloomCandidates(spark, d, c, v)).toMap
      files0.filter { f =>
        eqStrs.forall { case (c, _) =>
          cands.getOrElse((dirOf(f), c), None).forall(_.contains(f)) }
      }
    }
    // fully-DV-masked files drop here too (stats can't know a later
    // commit emptied their file; the DV anti-join would drop the rows
    // anyway — this drops the IO)
    val filesLive =
      if (elided.isEmpty) files
      else files.filterNot(f => elided(normFileId(f)))
    val fileReads: Seq[DataFrame] =
      if (filesLive.isEmpty) Seq.empty
      else readFileGroups(spark, filesLive, partitioned, tag)
    // a pass dir the vacuum's file-granular pass emptied has no footer
    // to infer from — and no rows to contribute
    val passLive =
      if (elided.isEmpty) pass
      else pass.filter(d => listDataFiles(d).nonEmpty)
    val passReads = passLive.map { d =>
      tag(readDirCached(spark, d, basePath = partitioned))
    }
    val reads = fileReads ++ passReads
    if (reads.isEmpty) return full().limit(0)
    // a mapped chain needs every ACTIVE physical column present for the
    // final logical projection — pruning may have dropped every file of
    // the dir that carries a late-added column, so a zero-row full-
    // schema anchor keeps the union's shape complete (planning-only
    // cost, and only on mapped chains)
    val anchor =
      if (cm.isEmpty) Seq.empty
      else Seq(readDirs(spark, dirs, Some(snap.flat), tag).limit(0))
    // allowMissingColumns: an evolved chain's older members NULL-pad
    val unioned = (reads ++ anchor)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    if (!needMeta) logicalize(unioned) else finish(unioned)
  }

  /** Read an explicit data-file list, grouped by version dir. A
    * partitioned group reads under ITS basePath (`name=value` columns
    * survive); unpartitioned groups with DIFFERING schemas read
    * per-group so the caller's `unionByName(allowMissingColumns)`
    * NULL-pads an evolved chain's older files — one multi-path read
    * would infer the schema from a single footer and silently drop the
    * evolved column (the readDirs hazard, on the file-list path).
    * Uniform unpartitioned groups collapse to the single multi-path
    * scan (the cheap plan); the schema probe is one footer read per
    * involved dir. */
  private def readFileGroups(spark: SparkSession, files: Seq[String],
                             partitioned: Boolean,
                             tag: DataFrame => DataFrame): Seq[DataFrame] = {
    val vdir = "^(.*/v=\\d+)/".r
    val groups = files.groupBy(f =>
      vdir.findFirstMatchIn(f).map(_.group(1)).getOrElse(""))
      .toSeq.sortBy(_._1)
    // per-group schema from the version dir's memo (the file lives in
    // it, so the dir schema IS the file's logical shape) — no footer
    // inference per construction; a group without a resolvable version
    // dir falls back to plain inference
    def groupSchema(d: String) =
      if (d.isEmpty) None
      else scala.util.Try(parquetDirSchema(spark, d)).toOption
    def readFs(d: String, fs: Seq[String], basePath: Boolean): DataFrame = {
      val r0 = groupSchema(d) match {
        case Some(s) => spark.read.schema(s)
        case None => spark.read
      }
      val r = if (basePath && d.nonEmpty) r0.option("basePath", d) else r0
      r.parquet(fs: _*)
    }
    if (partitioned)
      groups.map { case (d, fs) => tag(readFs(d, fs, basePath = true)) }
    else if (groups.size <= 1)
      Seq(tag(readFs(groups.headOption.map(_._1).getOrElse(""), files,
        basePath = false)))
    else {
      val schemas = groups.map { case (d, fs) =>
        groupSchema(d).getOrElse(spark.read.parquet(fs.head).schema) }
      if (schemas.forall(_ == schemas.head))
        Seq(tag(spark.read.schema(schemas.head).parquet(files: _*)))
      else groups.map { case (d, fs) => tag(readFs(d, fs, basePath = false)) }
    }
  }

  /** Conservative per-column [lo,hi] bounds IMPLIED by a predicate
    * Column: conjuncts comparing a bare attribute to a numeric literal
    * contribute; everything else (OR branches, casts, expressions over
    * the column) contributes nothing — pruning with an implied bound
    * only drops files no matching row can live in. Used to zone-map-
    * prune the DML locate scans ([[deleteWhereVector]] /
    * [[updateWhereVector]] / [[replaceWhere]]): an O(changed) commit
    * then also pays only O(pruned) read. */
  private[graft] def predicateRanges(pred: org.apache.spark.sql.Column)
      : Seq[(String, Double, Double)] = predicateBounds(pred)._1

  private[graft] def predicateStrRanges(pred: org.apache.spark.sql.Column)
      : Seq[(String, Option[String], Option[String])] = predicateBounds(pred)._2

  /** Both bound kinds implied by a predicate: numeric [lo,hi] per
    * column, and lexicographic [lo,hi] per string column (None = that
    * side unbounded). */
  private def predicateBounds(pred: org.apache.spark.sql.Column)
      : (Seq[(String, Double, Double)],
         Seq[(String, Option[String], Option[String])]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    val bounds =
      scala.collection.mutable.Map.empty[String, (Double, Double)]
    val sBounds =
      scala.collection.mutable.Map.empty[String, (Option[String], Option[String])]
    def narrow(c: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = bounds.getOrElse(c,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      bounds(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    def narrowS(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = sBounds.getOrElse(c, (None: Option[String], None: Option[String]))
      val l = (l0 ++ lo).reduceOption((a, b) => if (a >= b) a else b)
      val h = (h0 ++ hi).reduceOption((a, b) => if (a <= b) a else b)
      sBounds(c) = (l, h)
    }
    object A {
      def unapply(e: Expression): Option[String] = e match {
        case u: UnresolvedAttribute if u.nameParts.size == 1 =>
          Some(u.nameParts.head)
        case a: Attribute => Some(a.name)
        case _ => None
      }
    }
    object L {
      def unapply(e: Expression): Option[Double] = e match {
        case Literal(n: java.lang.Number, _) => Some(n.doubleValue())
        case Literal(d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
        case _ => None
      }
    }
    object S {
      def unapply(e: Expression): Option[String] = e match {
        case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
          Some(s.toString)
        case _ => None
      }
    }
    // strict < / > widen to inclusive bounds — only ever KEEPS more files
    def cmp(op: String, l: Expression, r: Expression): Unit = (op, l, r) match {
      case ("=", A(c), L(v)) => narrow(c, v, v)
      case ("=", L(v), A(c)) => narrow(c, v, v)
      case (">" | ">=", A(c), L(v)) => narrow(c, v, Double.PositiveInfinity)
      case (">" | ">=", L(v), A(c)) => narrow(c, Double.NegativeInfinity, v)
      case ("<" | "<=", A(c), L(v)) => narrow(c, Double.NegativeInfinity, v)
      case ("<" | "<=", L(v), A(c)) => narrow(c, v, Double.PositiveInfinity)
      case ("=", A(c), S(v)) => narrowS(c, Some(v), Some(v))
      case ("=", S(v), A(c)) => narrowS(c, Some(v), Some(v))
      case (">" | ">=", A(c), S(v)) => narrowS(c, Some(v), None)
      case (">" | ">=", S(v), A(c)) => narrowS(c, None, Some(v))
      case ("<" | "<=", A(c), S(v)) => narrowS(c, None, Some(v))
      case ("<" | "<=", S(v), A(c)) => narrowS(c, Some(v), None)
      case _ => ()
    }
    def visit(e: Expression): Unit = e match {
      // the Column DSL converts to UnresolvedFunction calls…
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.size == 1 && f.arguments.size == 2 =>
        val Seq(l, r) = f.arguments
        f.nameParts.head match {
          case "and" => visit(l); visit(r)
          case "=" | "==" => cmp("=", l, r)
          case ">" => cmp(">", l, r)
          case ">=" => cmp(">=", l, r)
          case "<" => cmp("<", l, r)
          case "<=" => cmp("<=", l, r)
          case _ => ()
        }
      // …and a caller-built (or resolved) expression tree uses these
      case And(l, r) => visit(l); visit(r)
      case EqualTo(l, r) => cmp("=", l, r)
      case GreaterThan(l, r) => cmp(">", l, r)
      case GreaterThanOrEqual(l, r) => cmp(">=", l, r)
      case LessThan(l, r) => cmp("<", l, r)
      case LessThanOrEqual(l, r) => cmp("<=", l, r)
      case _ => ()
    }
    visit(org.apache.spark.sql.graft.NativeColumns.toExpr(pred))
    (bounds.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => (c, lo, hi) },
      sBounds.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => (c, lo, hi) })
  }

  /** Per-file zone maps of logical snapshot `version`, for planner-side
    * pruning (the `gvt` DataSource's FileIndex): scheme-stripped file
    * path → statted column → (min, max). A column with no non-null
    * values in a file maps to (NaN, NaN) — "skip on any range". A file
    * whose version dir lacks stats for a column simply omits that
    * column (consumers must KEEP such files — absence of stats is not
    * absence of data). None when NO chain member has stats. Stats are
    * read per-dir so chain members statting different column sets can't
    * NULL-bleed into each other. Metadata-sized: one small parquet read
    * + one O(files) collect per dir. */
  /** One file's STRING zone map: truncation-sound lexicographic bounds
    * (`smin` is a prefix of the true min; `smax` None = unbounded
    * above) plus the non-null count (0 = genuinely all-null file). */
  private[graft] case class StrStats(smin: Option[String],
                                     smax: Option[String], nonNull: Long)

  /** Per-file zone maps of a snapshot: numeric columns + string
    * columns, for planner-side pruning. */
  private[graft] case class FileZoneMaps(
      num: Map[String, Map[String, (Double, Double)]],
      str: Map[String, Map[String, StrStats]])

  private[graft] def fileStats(spark: SparkSession, snap: Snapshot)
      : Option[FileZoneMaps] = {
    val dirs = snap.dataDirs.filter { d =>
      val p = new HPath(s"$d/_stats")
      fcOf(p).util.exists(p)
    }
    if (dirs.isEmpty) return None
    val num = scala.collection.mutable.Map.empty[String, Map[String, (Double, Double)]]
    val str = scala.collection.mutable.Map.empty[String, Map[String, StrStats]]
    dirs.foreach { d =>
      val df = readSidecar(spark, Seq(s"$d/_stats"))
      val fields = df.schema.fieldNames.toSet
      val nCols = df.schema.fieldNames.filter(_.startsWith("min_"))
        .map(_.stripPrefix("min_")).filter(c => fields(s"max_$c")).toSeq
      val sCols = df.schema.fieldNames.filter(_.startsWith("smin_"))
        .map(_.stripPrefix("smin_"))
        .filter(c => fields(s"smax_$c") && fields(s"nn_$c")).toSeq
      df.collect().foreach { r =>
        val file = new HPath(r.getAs[String]("file")).toUri.getPath
        num(file) = nCols.map { c =>
          val (mi, ma) = (r.getAs[Any](s"min_$c"), r.getAs[Any](s"max_$c"))
          if (mi == null || ma == null) c -> (Double.NaN, Double.NaN)
          else c -> (mi.asInstanceOf[Double], ma.asInstanceOf[Double])
        }.toMap
        str(file) = sCols.map { c =>
          c -> StrStats(Option(r.getAs[String](s"smin_$c")),
            Option(r.getAs[String](s"smax_$c")), r.getAs[Long](s"nn_$c"))
        }.toMap
      }
    }
    Some(FileZoneMaps(num.toMap, str.toMap))
  }

  // ── Metadata-only row counts (Delta OptimizeMetadataOnlyDeltaQuery) ──

  /** Non-hidden files under `dir`, recursive — hive partition subdirs
    * included; `_`/`.`-prefixed names (sidecars like `_stats`, `_bloom`,
    * `_dv`, commit markers, success files) excluded at every level.
    * Listing order is irrelevant to the callers (sums). */
  private[graft] def listDataFiles(dir: String): Seq[String] =
    listDataFilesWithSize(dir).map(_._1)

  /** Total byte size of logical snapshot `version`'s data files
    * (sidecars and schema-only slices excluded) — the planner-facing
    * `sizeInBytes` of a chain snapshot. One filesystem listing per
    * chain dir; no data read. */
  private[graft] def chainDataBytes(snap: Snapshot,
                                    excluding: Set[String] = Set.empty): Long = {
    def walk(d: HPath): Long = {
      val fc = fcOf(d)
      if (!fc.util.exists(d)) 0L
      else fc.util.listStatus(d).map { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) 0L
        else if (st.isDirectory) walk(st.getPath)
        else if (excluding.nonEmpty &&
          excluding(st.getPath.toUri.getPath)) 0L
        else st.getLen
      }.sum
    }
    snap.dataBearingDirs.map(d => walk(new HPath(d))).sum
  }

  /** Sum of the parquet FOOTER row counts of `files` — exact row counts
    * with zero data pages read (row counts are mandatory in every
    * parquet footer). Driver-side IO over a bounded pool: this is the
    * Delta-log access shape — O(#files) tiny metadata reads, the same
    * cost class as the planner's own file listing, NOT a table scan. */
  private[graft] def footerRowCount(files: Seq[String]): Long = {
    if (files.isEmpty) return 0L
    val conf = sessionHadoopConf
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, files.size))
    try {
      val futs = files.map { f =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new HPath(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }
        })
      }
      futs.map(_.get()).sum
    } finally pool.shutdown()
  }

  /** Row count of logical snapshot `version` (default: latest) computed
    * ENTIRELY from metadata: footer row counts of the chain's data files
    * (schema-only ADD COLUMNS slices skipped) minus the chain's
    * deletion-vector cardinality (each `_dv` payload names positions of
    * rows that were VISIBLE when the delete committed, so vectors never
    * double-count a position). No Spark job, no data page read — the
    * cost is one footer read per file, same class as planning. */
  def metaRowCount(root: String, version: Option[Long] = None): Long = {
    val v = version.orElse(latestVersion(root)).getOrElse(
      throw new IllegalArgumentException(s"metaRowCount: no versions at $root"))
    liveRows(snapshot(root, v))._2
  }

  /** (raw footer rows, live rows) of a snapshot, from metadata alone. A
    * `_purged`-recorded file that is STILL present (the crash window
    * between the record landing and the delete) does not count: its
    * masks are fully represented in the DV sum AND in the purged
    * correction, so including its footer would double-add its rows. */
  private def liveRows(snap: Snapshot): (Long, Long) = {
    refuseUnknownReader(snap.root, snap.readerFeatures)
    val isPurged = purgedIn(snap.root) // bind once: one _purged read
    val raw = footerRowCount(snap.dataBearingDirs
      .flatMap(listDataFiles).filterNot(isPurged))
    (raw, raw - footerRowCount(snap.dvDirs.flatMap(listDataFiles)) +
      purgedMaskedRows(snap))
  }

  /** Membership test against the root's `_purged` record, in
    * [[normFileId]] space. */
  private def purgedIn(root: String): String => Boolean = {
    val rec = purgedEntries(root)
    if (rec.isEmpty) _ => false else f => rec.contains(normFileId(f))
  }

  /** Masked rows of files the vacuum's file-granular pass reclaimed
    * whose masking vectors are still in `version`'s chain: their data
    * footers are gone but the vector entries remain, so the metadata
    * row-count arithmetic adds them back. Scoped to files under THIS
    * chain's data dirs — a post-purge full rewrite (compact / REORG)
    * drops the old dirs and the correction with them. */
  private def purgedMaskedRows(snap: Snapshot): Long = {
    val dvDirs = snap.dvDirs
    if (dvDirs.isEmpty) return 0L
    val dirs = snap.dataDirs.map(d => normFileId(d) + "/")
    rootsOfDvDirs(dvDirs).flatMap(purgedEntries).collect {
      case (f, n) if dirs.exists(f.startsWith) => n
    }.sum
  }

  // ── ANALYZE TABLE statistics (the CBO table-stats surface) ──────────

  private def statsFile(root: String) = new HPath(root, "_stats")

  /** `ANALYZE TABLE … COMPUTE STATISTICS` over a gvt table: persist
    * (liveRows, liveBytes) for the CURRENT version — METADATA-ONLY.
    * Rows are footer counts minus DV cardinality ([[metaRowCount]]'s
    * arithmetic, no data scan, no Spark job); bytes are the chain's
    * file sizes SCALED by the live-row fraction, because deleted rows
    * still occupy file bytes until compaction but the PLANNER wants the
    * live relation's size (a 95%-deleted dimension should broadcast).
    * The record is stamped with the analyzed version and served to the
    * planner only while the live version still matches — stale stats
    * are ignored, never wrong. At 100 TB this is the hours-vs-minutes
    * lever: join order and broadcast selection on multi-fact queries
    * follow these sizes. Returns (version, rows, bytes). */
  def analyzeTable(spark: SparkSession, root: String): (Long, Long, Long) = {
    val snap = liveSnapshot(root)
    val v = snap.version
    val (raw, live) = liveRows(snap)
    val rawBytes = chainDataBytes(snap)
    val bytes = if (raw <= 0L) rawBytes
      else math.max(1L, (rawBytes.toDouble * live / raw).toLong)
    writeString(statsFile(root), s"$v\t$live\t$bytes", overwrite = true)
    (v, live, bytes)
  }

  /** The persisted ANALYZE record (rows, bytes), iff it was computed at
    * exactly `version`. */
  private[graft] def tableStats(root: String,
                                version: Long): Option[(Long, Long)] =
    readString(statsFile(root)).flatMap { s =>
      s.trim.split('\t') match {
        case Array(v, r, b)
            if scala.util.Try(v.toLong).toOption.contains(version) =>
          scala.util.Try((r.toLong, b.toLong)).toOption
        case _ => None
      }
    }

  /** Incremental MERGE (Delta `MERGE` analogue): upsert `updates` into the
    * latest snapshot by `keys` and write the result as a new version —
    * update rows replace matching target rows, new keys insert. Readers
    * keep seeing the old snapshot until the pointer flips.
    *
    * Conflict resolution (Delta's MERGE retry): the commit is conditional
    * on the snapshot the upsert read; if a concurrent writer commits in
    * between, the merge re-reads the NEW latest snapshot, re-applies its
    * updates and retries — upserts commute with other writers' rows, so
    * a retried merge is correct where a blind re-commit would lose them.
    *
    * Schema evolution (Delta `mergeSchema=true` analogue): with
    * `allowEvolution`, updates may carry NEW columns — pre-existing rows
    * get NULLs for them — and may omit target columns (update rows get
    * NULLs). Type changes are rejected in every mode by the write-side
    * schema gate. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            keys: Seq[String], maxRetries: Int = 3,
            allowEvolution: Boolean = false,
            metaFiles: Map[String, String] = Map.empty): Long = {
    var attempt = 0
    // a changeset may omit generated columns — compute them up front so
    // the schema gate below sees the completed frame (same contract as
    // the write path)
    val updates2 = applyGenerated(updates, generatedColumns(root))
    while (true) {
      val snap = liveSnapshot(root)
      val base = snap.version
      val target = readSnapshot(spark, snap)
      // gate the CHANGESET schema up front (clear schema-enforcement error
      // instead of a unionByName analysis failure downstream)
      checkSchema(target.schema, updates2.schema, allowEvolution)
      val merged = graft.ops.RelationalOps.mergeUpsert(
        target, updates2, keys, allowMissingColumns = allowEvolution)
      // change-data sidecar (gvt.enableChangeDataFeed): captured at
      // commit with the keys the merge already owns → keyless
      // table_changes works across this rewrite (Delta's CDC-file shape)
      val cdfRows =
        if (!cdfEnabled(root)) Map.empty[String, DataFrame]
        else Map("_cdf" -> keyDiff(target, merged, keys))
      try return write(merged, root, allowEvolution = allowEvolution,
        partitionBy = snap.layout,
        baseVersion = Some(base), operation = "MERGE", metaFiles = metaFiles,
        assignIdentity = false, subdirWrites = cdfRows)
      catch {
        case e: ConcurrentWriteException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Clause-level MERGE into the live snapshot — the full Delta
    * `MERGE INTO` surface (WHEN MATCHED [AND c] DELETE / UPDATE SET,
    * WHEN NOT MATCHED INSERT) via
    * [[graft.ops.RelationalOps.mergeClauses]], with [[merge]]'s
    * conditional-commit retry: a concurrent writer re-reads the new
    * snapshot and re-applies the clauses. Conditions/assignments
    * reference `col("t.x")` / `col("s.x")`.
    *
    * Schema evolution (Delta `MERGE WITH SCHEMA EVOLUTION` /
    * autoMerge): with `allowEvolution`, source columns absent from the
    * target JOIN the target schema — the target side is widened with
    * typed NULLs before the clause join, so `UPDATE SET`/INSERT
    * assignments may reference `s.<new>` and untouched target rows
    * read NULL, and the commit carries the evolved schema through the
    * write-side evolution gate (same contract as [[merge]]). */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
                keys: Seq[String],
                matchedDelete: Option[org.apache.spark.sql.Column] = None,
                matchedUpdate: Map[String, org.apache.spark.sql.Column] = Map.empty,
                insertNotMatched: Boolean = true,
                maxRetries: Int = 3,
                nmsDelete: Option[org.apache.spark.sql.Column] = None,
                nmsUpdate: Map[String, org.apache.spark.sql.Column] = Map.empty,
                allowEvolution: Boolean = false,
                insertClauses: Seq[graft.ops.RelationalOps.MergeInsert] =
                  Seq.empty): Long = {
    import org.apache.spark.sql.functions.lit
    var attempt = 0
    while (true) {
      val snap = liveSnapshot(root)
      val base = snap.version
      val target0 = readSnapshot(spark, snap)
      val target =
        if (!allowEvolution) target0
        else source.schema.filterNot(f => target0.columns.contains(f.name))
          .foldLeft(target0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
      val merged = graft.ops.RelationalOps.mergeClauses(
        target, source, keys,
        matchedDelete, matchedUpdate, insertNotMatched,
        nmsDelete, nmsUpdate, insertClauses)
      // change-data sidecar (gvt.enableChangeDataFeed): the merge KNOWS
      // its keys, so the commit captures the classified diff — one extra
      // key join at commit, and keyless table_changes works across the
      // rewrite (exactly Delta's CDC-file shape for MERGE)
      val cdfRows =
        if (!cdfEnabled(root)) Map.empty[String, DataFrame]
        else Map("_cdf" -> keyDiff(target, merged, keys))
      try return write(merged, root, baseVersion = Some(base),
        partitionBy = snap.layout,
        operation = "MERGE", assignIdentity = false,
        allowEvolution = allowEvolution,
        subdirWrites = cdfRows)
      catch {
        case e: ConcurrentWriteException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Row-level UPDATE as a deletion-vector commit: O(changed rows) at
    * any table size — the commit's version dir holds the UPDATED copies
    * of the matching rows as data, plus the deletion vector of their
    * OLD positions; the parent's files are never rewritten. A reader of
    * the chain unions the new copies in and anti-joins the old
    * positions out — the same resolution [[deleteWhereVector]] uses, so
    * stacking, compaction, time travel, vacuum, and the change feed all
    * compose unchanged. Returns the new version. */
  def updateWhereVector(spark: SparkSession, root: String,
                        predicate: org.apache.spark.sql.Column,
                        assignments: Map[String, org.apache.spark.sql.Column],
                        locateJoins: Seq[LocateSemiJoin] = Seq.empty,
                        scalarJoins: Seq[LocateScalarJoin] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = liveSnapshot(root)
    // locate scan zone-map-pruned by the bounds the predicate implies:
    // an O(changed) commit pays only O(pruned) read, not O(table)
    val live = prunedVersionRead(spark, snap,
      predicateRanges(predicate), keepMeta = true,
      strRanges = predicateStrRanges(predicate))
    val cdf = cdfEnabled(root)
    val scan = applyScalarJoins(live, scalarJoins)
    val csCols = scalarJoinCols(scalarJoins)
    val hit0 = applyLocateJoins(scan.filter(predicate), locateJoins)
    // the scalar-join scratch columns are visible to the RHS and
    // excluded from the output
    val outCols = hit0.columns
      .filterNot(Set("__gvt_file", "__gvt_pos") ++ csCols)
    assignments.keys.foreach(c => require(outCols.contains(c),
      s"UPDATE assigns unknown column $c"))
    val hit = if (!cdf) hit0
      else hit0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SIMULTANEOUS assignment (SQL UPDATE semantics): every RHS reads
    // the OLD row — one select, never a sequential withColumn fold
    // (which would let `SET a = b, b = a` read a's NEW value)
    val base = hit.drop("__gvt_file", "__gvt_pos")
    val updated = base.select(outCols.map(c =>
      assignments.get(c).map(_.as(c)).getOrElse(col(c))).toSeq: _*)
    // the updated slice keeps the table's hive layout (Delta rewrites
    // files within their partitions): partition pruning keeps working
    // on the rewritten rows, and the chain never mixes flat and hive
    // members. Updating a PARTITION column itself moves the row to its
    // new directory — also the Delta behavior. The change-data sidecar
    // holds pre/post image pairs captured AT COMMIT — the only point
    // the pairing exists without row identity.
    commitDv(spark, snap, hit, Some(updated), "UPDATE_DV",
      cdf = Option.when(cdf)(base.drop(csCols: _*)
        .withColumn("_change_type", lit("update_preimage"))
        .unionByName(updated
          .withColumn("_change_type", lit("update_postimage")))))
  }

  /** Predicate-scoped overwrite (Delta `replaceWhere` analogue):
    * atomically replace exactly the rows matching `predicate` with
    * `df`'s rows, in ONE commit — the partition-refresh pattern
    * (`INSERT OVERWRITE … WHERE part = 'x'`) without touching any other
    * partition's files. Delta's validation applies: every incoming row
    * must itself satisfy the predicate ([[CheckConstraintViolation]]
    * otherwise — a silent out-of-scope row would corrupt the
    * non-replaced remainder). Storage shape = the deletion-vector
    * commit: the old matching rows' positions become the `_dv` payload
    * and `df` lands as the version's data — O(replaced + new) commit
    * cost at any table size; compact() materializes as usual. Returns
    * the new version. */
  def replaceWhere(spark: SparkSession, root: String,
                   predicate: org.apache.spark.sql.Column,
                   df0: DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val snap = liveSnapshot(root)
    // the validation scan below plus the write would compute an
    // expensive upstream `df0` TWICE — persist for the operation's span
    // (skipped if the caller already cached it)
    val precached = df0.storageLevel.useMemory || df0.storageLevel.useDisk
    val df = if (precached) df0
      else df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!df.filter(not(coalesce(predicate, lit(false)))).isEmpty)
        throw new CheckConstraintViolation(
          s"$root: replaceWhere data contains rows NOT matching the " +
            "predicate — they would silently escape the replaced scope")
      // locate scan zone-map-pruned by the predicate's implied bounds
      val live = prunedVersionRead(spark, snap,
        predicateRanges(predicate), keepMeta = true,
        strRanges = predicateStrRanges(predicate))
      val cdf = cdfEnabled(root)
      val hit0 = live.filter(predicate)
      val hit = if (!cdf) hit0
        else hit0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the replacing batch lands in the table's hive layout (see
      // updateWhereVector) and, being arriving data, takes identity
      // values. Delta's replaceWhere CDC shape: replaced rows as
      // deletes, the incoming batch as inserts (no key concept, no
      // update pairing).
      commitDv(spark, snap, hit, Some(df), "REPLACE_WHERE",
        cdf = Option.when(cdf)(hit.drop("__gvt_file", "__gvt_pos")
          .withColumn("_change_type", lit("delete"))
          .unionByName(df.withColumn("_change_type", lit("insert")),
            allowMissingColumns = true)),
        assignIdentity = true)
    } finally if (!precached) df.unpersist()
  }

  /** Dynamic-partition overwrite (Delta/Hive `partitionOverwriteMode =
    * dynamic`): replace EXACTLY the partitions `df` touches — the
    * batch's distinct values of `dynCols` become one [[replaceWhere]]
    * commit over their disjunction, O(replaced + new); untouched
    * partitions keep their files. `staticPred` (a static `PARTITION
    * (k=v)` prefix) conjoins. `dynCols` must be hive layout columns —
    * the directory layout is the unit of replacement. NULL partition
    * values round-trip through the hive default partition (null-safe
    * predicates). Shared by SQL `INSERT OVERWRITE … PARTITION (p)` and
    * the writer's Overwrite + dynamic mode. Returns the new version. */
  def dynamicOverwrite(spark: SparkSession, root: String, df0: DataFrame,
                       dynCols: Seq[String],
                       staticPred: Option[org.apache.spark.sql.Column] = None)
      : Long = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    require(dynCols.nonEmpty, "dynamicOverwrite: no dynamic partition columns")
    val layout = liveSnapshot(root).layout
    dynCols.foreach(k => require(layout.contains(k),
      s"$root: dynamic PARTITION column $k is not a hive layout column " +
        s"(${layout.mkString(", ")}) — only layout partitions can be " +
        "replaced dynamically; use replaceWhere for arbitrary predicates"))
    // the batch is consumed up to three times (tuple distinct,
    // replaceWhere's validation scan, the write) — persist for the span
    val precached = df0.storageLevel.useMemory || df0.storageLevel.useDisk
    val df = if (precached) df0
      else df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one O(batch) pass; the result is metadata-sized (bounded by the
      // number of partitions one batch touches)
      val tuples = df.select(dynCols.map(col): _*).distinct().collect()
      val dynPred: Column =
        if (tuples.isEmpty) lit(false) // empty batch replaces nothing
        else if (dynCols.size == 1) {
          // single-column spec: one IN (InSet past the conversion
          // threshold — scales to thousands of partitions); NULL values
          // (hive default partition) match via isNull
          val vs = tuples.map(_.get(0))
          val (nulls, vals) = vs.partition(_ == null)
          val in = if (vals.isEmpty) lit(false)
            else col(dynCols.head).isin(vals.toSeq: _*)
          if (nulls.isEmpty) in else in || col(dynCols.head).isNull
        } else {
          // multi-column: a disjunction of per-tuple null-safe
          // conjunctions, capped — the predicate is evaluated per
          // candidate row, so a 100k-partition batch must not build one
          require(tuples.length <= 10000,
            s"$root: the batch touches ${tuples.length} distinct " +
              "partition tuples — beyond the dynamic-overwrite predicate " +
              "envelope; split the batch or overwrite fully")
          tuples.map(t => dynCols.zipWithIndex.map { case (k, idx) =>
            col(k) <=> lit(t.get(idx)): Column }.reduce(_ && _))
            .reduce(_ || _)
        }
      replaceWhere(spark, root,
        staticPred.map(_ && dynPred).getOrElse(dynPred), df)
    } finally if (!precached) df.unpersist()
  }

  /** Per-application transaction watermark (Delta `txnAppId`/`txnVersion`
    * analogue): multiple independent idempotent writers each commit
    * their own monotonically-increasing version inside the snapshots
    * they write (`metaFiles = Map(txnKey(appId) -> n)`), and replay
    * guards read it back chain-walking — the multi-writer
    * generalization of the single `_batch` watermark the streaming
    * sinks use. */
  def txnKey(appId: String): String = s"_txn_$appId"

  def txnVersion(root: String, appId: String): Option[Long] =
    readMetaLatest(root, txnKey(appId)).map(_.trim.toLong)

  /** Row-level CHANGE DATA FEED between two snapshots (Delta CDF
    * analogue): every key classified insert / delete / update, updates
    * emitted as Delta's update_preimage + update_postimage pair. No
    * change log is stored — the retained snapshots ARE the log, so the
    * feed is one key-partitioned full-outer join of the two versions
    * (storage-free CDF, read-side diff cost; Delta stores per-commit
    * change files to trade write-side space for read-side work — at a
    * 100 TB base either way the work is ONE co-partitioned join, not a
    * base rescan). Unchanged rows are dropped via a null-safe full-row
    * struct compare. Schema evolution between the versions is handled:
    * columns absent on one side read as NULL there (so a column added
    * in `toV` makes every surviving row differ — correctly an update).
    *
    * APPEND fast path: when `toV`'s `_parent` chain reaches `fromV` —
    * every commit in between was an append off the same chain — the
    * delta is EXACTLY the appended version directories: all `insert`
    * rows, read with a single scan of the batch dirs and NO join, so a
    * change-feed consumer drains streaming ingestion at O(batch) per
    * commit instead of O(table). Any non-append commit in the range
    * (full write, DELETE/UPDATE, compaction) breaks the chain and falls
    * back to the snapshot diff. Column-mapped chains take the same fast
    * paths, translated physical→logical through `toV`'s mapping — a
    * mapping-only commit in the range (RENAME/DROP COLUMN, an `_parent`
    * append of a zero-row slice) therefore emits NO change rows for
    * pre-existing data, the Delta CDF contract for metadata-only
    * operations (the old snapshot-diff fallback would have emitted an
    * O(table) update pair per base row on a rename — wrong shape AND
    * wrong cost).
    *
    * Output: key columns + the union of both versions' non-key columns
    * + `_change_type`. */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long,
              keys: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = snapshot(root, toV)
    if (keys.isEmpty) return keylessChanges(spark, to, fromV)
    // a column-mapped chain's raw files carry PHYSICAL names — the
    // O(batch)/O(changed) fast paths below read files directly, so a
    // mapped chain's frames are translated physical→logical through
    // toV's mapping before classification. The translation is sound at
    // any point in the range because a physical name's meaning never
    // changes (fresh physicals for re-adds, retired names never
    // reused): a physical outside toV's active set is a dropped column
    // (excluded — the feed emits toV's schema), a physical an old batch
    // lacks reads NULL (exactly its value at toV).
    appendDeltaDirs(to, fromV).foreach { dirs =>
      val delta = mapToLogical(spark, readDirs(spark, dirs), to)
      val dataCols = delta.columns.filterNot(keys.contains).toSeq
      return delta.select(keys.map(col) ++ dataCols.map(col) :+
        lit("insert").as("_change_type"): _*)
    }
    // DV fast path: a single deletion-vector hop (DELETE_DV/UPDATE_DV/
    // REPLACE_WHERE) is reconstructed from the commit's OWN artifacts —
    // the removed positions' rows (read from the touched files only)
    // diffed against the commit's data slice — at O(changed) cost,
    // never a base rescan. Per-commit drains (ChangeFeed.commitFeeds,
    // the gvt-cdf source) are always single hops, so the whole DML
    // family now feeds consumers at O(changed), like the append path.
    if (to.meta("_dv_parent").map(_.trim.toLong).contains(fromV))
      return dvCommitChanges(spark, to, fromV, keys)
    keyDiff(readVersion(spark, root, fromV), readSnapshot(spark, to), keys)
  }

  /** KEYLESS change feed (Delta parity: Delta's `table_changes` takes no
    * key argument) — per commit class:
    *  - pure-append ranges: the batch dirs as inserts (no identity
    *    needed — same O(batch) fast path as the keyed feed);
    *  - a DV hop with a `_cdf` sidecar (gvt.enableChangeDataFeed was set
    *    when the DML committed): read the sidecar — O(changed), no join
    *    at all, the exact Delta CDC-file read;
    *  - a sidecar-less DELETE_DV hop: the removed positions' rows emit
    *    as deletes (no pairing needed);
    *  - a sidecar-less REPLACE_WHERE hop: replaced rows as deletes, the
    *    commit's slice as inserts (Delta's replaceWhere CDC shape);
    *  - a sidecar-less UPDATE_DV or full-rewrite hop: REFUSED loudly —
    *    pre/post pairing needs either user keys or the commit-time
    *    sidecar; a silently mis-paired feed would corrupt downstream
    *    incremental state. */
  private def keylessChanges(spark: SparkSession, to: Snapshot,
                             fromV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (root, toV) = (to.root, to.version)
    appendDeltaDirs(to, fromV).foreach { dirs =>
      val delta = mapToLogical(spark, readDirs(spark, dirs), to)
      return delta.select(delta.columns.map(col).toSeq :+
        lit("insert").as("_change_type"): _*)
    }
    val op = to.chain.last.operation.trim
    // compaction-family hops (COMPACT / OPTIMIZE … WHERE) rewrite
    // content-identically — Delta's CDF contract: an OPTIMIZE commit
    // emits NO changes (a keyed diff would pair everything away; the
    // keyless feed short-circuits to the same answer without the scan)
    if (op.startsWith("COMPACT") || op.startsWith("OPTIMIZE"))
      return emptySnapshot(spark, to)
        .withColumn("_change_type", lit("insert"))
    def refuse(): Nothing = throw new ChangeFeedUnavailable(
      s"$root: keyless table_changes across v=$fromV→v=$toV ($op) — this " +
        "rewrite commit carries no change-data sidecar. Either pass key " +
        "columns, or set TBLPROPERTIES ('gvt.enableChangeDataFeed'='true') " +
        "before the DML commits so the feed is captured at write time " +
        "(Delta's CDC-file contract)")
    if (to.meta("_dv_parent").map(_.trim.toLong).contains(fromV)) {
      val cdfDir = new HPath(s"$root/v=$toV/_cdf")
      if (fcOf(cdfDir).util.exists(cdfDir))
        return readSidecar(spark, Seq(cdfDir.toString))
      if (op.startsWith("DELETE_DV"))
        return dvRemovedRows(spark, to, fromV)
          .withColumn("_change_type", lit("delete"))
      if (op.startsWith("REPLACE_WHERE"))
        return dvRemovedRows(spark, to, fromV)
          .withColumn("_change_type", lit("delete"))
          .unionByName(
            mapToLogical(spark, readDirCached(spark, s"$root/v=$toV"), to)
              .withColumn("_change_type", lit("insert")),
            allowMissingColumns = true)
      refuse()
    }
    // a MERGE (or any rewrite) hop that captured its sidecar serves it —
    // single-hop only (fromV must be the commit's predecessor; per-commit
    // drains, the ChangeFeed shape, always are)
    val cdfDir = new HPath(s"$root/v=$toV/_cdf")
    if (to.chain.last.prev.contains(fromV) &&
        fcOf(cdfDir).util.exists(cdfDir))
      return readSidecar(spark, Seq(cdfDir.toString))
    refuse()
  }

  /** Materialize `_cdf` change-data sidecars for HISTORICAL
    * sidecar-less UPDATE_DV commits, so keyless `table_changes` serves
    * the chain's full history after `gvt.enableChangeDataFeed` is
    * enabled late. Delta has no backfill — enabling CDF there serves
    * only future commits; gvt reconstructs each UPDATE_DV hop from the
    * commit's OWN artifacts (the removed positions' rows as preimages —
    * touched files only — and the commit's data slice as postimages,
    * the exact union the commit-time capture persists), at O(changed)
    * per backfilled commit, never a base rescan. Hops whose touched
    * files the vacuum reclaimed fail loudly with the retention
    * contract. Idempotent: sidecar-bearing commits skip. Returns the
    * versions backfilled. */
  def backfillChangeFeed(spark: SparkSession, root: String): Seq[Long] = {
    import org.apache.spark.sql.functions.lit
    val done = scala.collection.mutable.ArrayBuffer.empty[Long]
    committedChain(root).foreach { c =>
      val v = c.version
      val op = c.operation.trim
      val cdfDir = new HPath(s"$root/v=$v/_cdf")
      lazy val to = snapshot(root, v)
      lazy val fromV = to.meta("_dv_parent").map(_.trim.toLong)
      if (op.startsWith("UPDATE_DV") && fromV.isDefined &&
          !fcOf(cdfDir).util.exists(cdfDir)) {
        // a hop whose touched files VACUUM already reclaimed (or whose
        // base is below the purge floor) cannot be reconstructed —
        // SKIP it rather than fail the whole enablement half-applied:
        // that hop keeps its loud read-time refusal, every reachable
        // hop still backfills, and future commits capture at write
        // time (the Delta forward-only floor, as the worst case)
        try {
          val pre = dvRemovedRows(spark, to, fromV.get)
            .withColumn("_change_type", lit("update_preimage"))
          val post = mapToLogical(spark,
            readDirCached(spark, s"$root/v=$v"), to)
            .withColumn("_change_type", lit("update_postimage"))
          pre.unionByName(post, allowMissingColumns = true)
            .write.mode("overwrite").parquet(cdfDir.toString)
          done += v
        } catch {
          case scala.util.control.NonFatal(e) =>
            graft.util.Log("gvt").warn(
              s"CDF backfill skipped v=$v at $root (history not " +
                s"reconstructable: ${e.getMessage}) — keyless " +
                "table_changes keeps refusing that hop")
        }
      }
    }
    // the sidecars landed in OLD version dirs under an unchanged tip
    if (done.nonEmpty) invalidate(Some(root))
    done.toSeq
  }

  /** The rows a DV hop removed, read from the TOUCHED FILES ONLY and
    * translated to `toV`'s logical schema — the dvCommitChanges
    * restriction, factored for the keyless paths. */
  private def dvRemovedRows(spark: SparkSession, to: Snapshot,
                            fromV: Long): DataFrame = {
    val (root, toV) = (to.root, to.version)
    val dv = readSidecar(spark, Seq(s"$root/v=$toV/_dv"))
    val files = dv.select("_dv_file").distinct()
      .collect().map(_.getString(0)).toSeq
    // a hop whose touched files the vacuum's file-granular pass already
    // reclaimed is below the supported retention window — fail with the
    // retention contract, not a file-not-found
    locally {
      val purged = purgedEntries(root)
      if (purged.nonEmpty && files.exists(f => purged.contains(normFileId(f))))
        throw new graft.streaming.ChangeFeed.CursorBehindRetention(
          s"$root: change feed across v=$fromV→v=$toV needs data files " +
            "VACUUM's DV-dead pass already reclaimed — the hop is below " +
            "the retention window; restart the consumer with a fresh " +
            "sink (full refresh)")
    }
    val old =
      if (files.isEmpty) emptySnapshot(spark, snapshot(root, fromV))
      else {
        val partitioned = snapshot(root, fromV).layout.nonEmpty
        val reads = readFileGroups(spark, files, partitioned, withRowIds)
        val tagged = reads.reduce(_.unionByName(_, allowMissingColumns = true))
        joinDv(tagged, dv, "left_semi").drop("__gvt_file", "__gvt_pos")
      }
    mapToLogical(spark, old, to)
  }

  /** Translate a raw (physical-name) frame into `version`'s LOGICAL
    * schema: each active (logical, physical) pair projects the physical
    * column under its logical name, NULL-padding physicals the frame
    * lacks (an old batch written before the column existed — its value
    * at `version` IS null); physicals outside the active set (dropped
    * columns) fall out. Identity on unmapped chains. */
  private def mapToLogical(spark: SparkSession, raw: DataFrame,
                           snap: Snapshot): DataFrame =
    snap.colmap match {
      case None => raw
      case Some(cm) =>
        import org.apache.spark.sql.functions.{col, lit}
        val have = raw.columns.toSet
        val logicalTypes = snap.schema.map(f => f.name -> f.dataType).toMap
        raw.select(cm.active.map { case (l, p) =>
          (if (have(p)) col(p) else lit(null).cast(logicalTypes(l))).as(l)
        }: _*)
    }

  /** The key-classified diff of two row sets — the changes() core,
    * shared by the full snapshot diff and the DV-hop fast path (whose
    * inputs are just RESTRICTED to the touched rows: any key in
    * neither side yields nothing, so the restricted diff equals the
    * full diff under the feed's key-uniqueness contract). */
  private def keyDiff(from: DataFrame, to: DataFrame,
                      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, not, struct}
    val keySet = keys.toSet
    val dataCols = (from.columns ++ to.columns.filterNot(from.columns.contains))
      .filterNot(keySet).toSeq
    val typeOf = (to.schema.fields ++ from.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    def packed(df: DataFrame, as: String) = {
      val have = df.columns.toSet
      df.select(keys.map(col) :+ struct(dataCols.map(c =>
        (if (have(c)) col(c) else lit(null).cast(typeOf(c))).as(c)): _*).as(as): _*)
    }
    val img = (side: String, tpe: String) =>
      struct(col(side).as("img"), lit(tpe).as("t"))
    packed(from, "o").join(packed(to, "n"), keys, "full_outer")
      .filter(col("o").isNull || col("n").isNull || not(col("o") <=> col("n")))
      .select(keys.map(col) :+ explode(
        org.apache.spark.sql.functions.when(col("o").isNull, array(img("n", "insert")))
          .when(col("n").isNull, array(img("o", "delete")))
          .otherwise(array(img("o", "update_preimage"),
            img("n", "update_postimage")))).as("c"): _*)
      .select(keys.map(col) ++
        dataCols.map(c => col(s"c.img.$c").as(c)) :+
        col("c.t").as("_change_type"): _*)
  }

  /** O(changed) change feed of one deletion-vector hop: the commit's
    * `_dv` names the removed positions — their ROWS are read from the
    * TOUCHED FILES ONLY (the distinct `_dv_file` set is
    * touched-file-count-sized driver metadata, the Delta-log shape)
    * via a broadcast semi-join on (file, row-position); the commit's
    * own data slice supplies the new rows. [[keyDiff]] over the two
    * restricted sets classifies exactly as the full snapshot diff
    * would (positions were live at `fromV` by construction, so no
    * earlier vector can intersect). DELETE_DV → deletes; UPDATE_DV →
    * preimage/postimage pairs; REPLACE_WHERE → the mix its key overlap
    * implies. Cost: O(touched files + slice), at any table size. */
  private def dvCommitChanges(spark: SparkSession, to: Snapshot,
                              fromV: Long, keys: Seq[String]): DataFrame =
    // mapped chains: both restricted sets translate physical→logical
    // (a DV commit never changes the mapping, so toV's applies to both)
    keyDiff(dvRemovedRows(spark, to, fromV),
      mapToLogical(spark, readDirCached(spark, s"${to.root}/v=${to.version}"),
        to), keys)

  // ── Append commits (Delta add-file-only transaction analogue) ────────
  //
  // A full-refresh write costs O(table) per commit — fine for the
  // reference's daily overwrite marts, catastrophic for the dominant
  // 100 TB pattern (streaming/batch ingestion appending to a fact
  // table). An APPEND commit writes ONLY the new batch into its version
  // directory plus a `_parent` link to the base snapshot; a logical
  // snapshot is the union of its `_parent` chain, resolved at read
  // planning (metadata-sized walk, bounded by compaction — compact()
  // folds the chain back into one full snapshot, exactly Delta's
  // OPTIMIZE after many small commits). Commit cost: O(batch) data + one
  // marker, at any table size. Concurrency, time travel, CDF, CHECK
  // constraints, and history all compose unchanged because append rides
  // the same write() path: the delta rows pass the constraint gate (the
  // parent's rows passed at their own commits), the marker arbitrates
  // racing appends, and readVersion/changes() see the logical union.

  /** Append `df` to the live snapshot as an O(batch) commit. The table
    * must exist (the first write creates it). By default the schema
    * must match exactly; `allowEvolution` (Delta's `mergeSchema`
    * analogue) admits a batch ADDING nullable columns — older chain
    * members NULL-pad them at read (the readDirs evolved-chain union)
    * — or omitting columns (the batch's rows read NULL there). Type
    * changes are rejected in every mode.
    *
    * A hive-partitioned table's batches are written in the SAME
    * `name=value` layout (probed from the chain base, as compact()
    * does) — partition pruning keeps working across the whole chain,
    * and a flat batch can never corrupt a partitioned chain's
    * directory structure. */
  def append(df: DataFrame, root: String,
             metaFiles: Map[String, String] = Map.empty,
             statsCols: Seq[String] = Seq.empty,
             allowEvolution: Boolean = false,
             operation: String = "APPEND",
             optimizeWrite: Option[Boolean] = None): Long = {
    val snap = latestSnapshot(root).getOrElse(throw new IllegalArgumentException(
      s"append requires an existing table at $root (first write creates it)"))
    val base = snap.version
    write(df, root, partitionBy = snap.layout, allowEvolution = allowEvolution,
      metaFiles = metaFiles + ("_parent" -> base.toString),
      statsCols = statsCols, baseVersion = Some(base), operation = operation,
      optimizeWrite = optimizeWrite)
  }

  /** The appended version directories in `(fromV, toV]` when `toV`'s
    * `_parent` chain reaches `fromV` — i.e. every commit in the range
    * was an APPEND off the same chain. None when any link is missing
    * (a full write / DELETE / UPDATE / compaction broke the chain) —
    * callers fall back to the two-snapshot diff. */
  private def appendDeltaDirs(to: Snapshot, fromV: Long): Option[Seq[String]] = {
    val root = to.root
    var dirs = List.empty[String]
    var cur = to.version
    while (cur != fromV) {
      (if (cur == to.version) to.meta("_parent")
       else readMeta(root, cur, "_parent")).map(_.trim.toLong) match {
        case Some(p) if p < cur => dirs = s"$root/v=$cur" :: dirs; cur = p
        case _ => return None
      }
    }
    Some(dirs)
  }

  /** A version's data-chain predecessor: `_parent` (APPEND commit) or
    * `_dv_parent` (deletion-vector DELETE commit). */
  private def chainLink(root: String, v: Long): Option[Long] =
    readMeta(root, v, "_parent").orElse(readMeta(root, v, "_dv_parent"))
      .map(_.trim.toLong)

  // ── Protocol feature gates (Delta minReaderVersion/minWriterVersion
  //    analogue) ──────────────────────────────────────────────────────
  //
  // The root-level `_protocol` file records which FEATURES a reader or
  // writer must understand to use this table correctly. Without it, a
  // build predating deletion vectors that reads a DV-bearing chain via
  // the raw parquet path would silently INCLUDE deleted rows — a wrong
  // ANSWER, not an error. The entry is written the first time a feature
  // materializes (never speculatively — no gratuitous gating of plain
  // tables), is monotone (features are only ever added), and is checked
  // at every snapshot resolve: an unknown REQUIRED feature refuses
  // loudly with the feature name, exactly Delta's protocol action
  // contract (delta-io/delta PROTOCOL.md "Protocol Evolution").

  /** Reader features THIS build understands. A `_protocol` demanding
    * anything else refuses reads. */
  private[graft] val supportedReaderFeatures: Set[String] =
    Set("dv", "columnMapping", "schemaOnlySlices")

  /** Writer features THIS build understands (superset of reader: a
    * writer must also read). */
  private[graft] val supportedWriterFeatures: Set[String] =
    supportedReaderFeatures ++
      Set("checkConstraints", "generatedColumns", "identityColumns",
        "defaults")

  // the entry is an append-only CAS chain of `_protocol.v<N>` files —
  // the newest N is authoritative. putIfAbsent on v<N+1> is the update
  // primitive: exactly one concurrent registrar wins each N (the same
  // LogStore atom the commit protocol rests on), losers re-read and
  // re-union — no overwrite, so no rename delete-window a concurrent
  // reader could catch. N is bounded by the handful of features that
  // exist plus transient race losses — metadata-sized forever.
  //
  // RESOLUTION COST: entries are immutable once written (putIfAbsent)
  // and the chain is append-only, never vacuumed, and GAPLESS (a CAS
  // loser retries at the refreshed tip+1), so the newest entry is
  // discoverable by FORWARD PROBE from any known tip — one existence
  // read past the tip per check, ZERO root listings. A snapshot records
  // the tip it saw; a known tip can only be BEHIND the truth (entries
  // are never removed), and the probe recovers forward. Readers of a
  // snapshot gate on the features recorded when it resolved: a feature
  // materializes in the commit that needs it, so an older snapshot's
  // bytes never depend on a later entry.

  private val noProtocol: (Long, (Set[String], Set[String])) =
    (0L, (Set.empty, Set.empty))

  /** The newest `_protocol` entry: (N, (reader, writer)), N=0 when the
    * chain is empty. Forward probe from the known tip `from`. */
  private def probeProtocol(root: String, from: (Long, (Set[String], Set[String])))
      : (Long, (Set[String], Set[String])) = {
    var (n, cur) = from
    var next = readString(new HPath(root, s"_protocol.v${n + 1}"))
    while (next.isDefined) {
      n += 1
      cur = parseProtocol(next.get)
      next = readString(new HPath(root, s"_protocol.v${n + 1}"))
    }
    (n, cur)
  }

  /** The newest entry, probed forward from the live snapshot's tip when
    * it is cached (a fresh resolve has just probed). */
  private def protocolTip(root: String): (Long, (Set[String], Set[String])) =
    latestVersion(root) match {
      case None => probeProtocol(root, noProtocol)
      case Some(v) => cachedSnapshot(root, v) match {
        case Some(s) => probeProtocol(root, s.protocol)
        case None => snapshot(root, v).protocol
      }
    }

  private def parseProtocol(s: String): (Set[String], Set[String]) = {
    val m = s.split('\n').toSeq.map(_.split('=')).collect {
      case Array(k, v) => k.trim -> v.split(',').map(_.trim)
        .filter(_.nonEmpty).toSet
    }.toMap
    (m.getOrElse("reader", Set.empty), m.getOrElse("writer", Set.empty))
  }

  /** The table's required (readerFeatures, writerFeatures). No entry =
    * no requirements (a plain table any build can use). */
  def protocolOf(root: String): (Set[String], Set[String]) =
    protocolTip(root)._2

  /** Record that `feature` is now REQUIRED (reader and/or writer) —
    * called by the commit paths the moment the feature first
    * materializes, BEFORE the commit publishes, so no reader can
    * observe the feature's bytes without the protocol demanding it.
    * Monotone union via the CAS chain; a no-op when already recorded
    * (the common case). */
  private[graft] def requireFeature(root: String, feature: String,
                                    reader: Boolean): Unit = {
    requireFeature(root, feature, reader, protocolTip(root)); ()
  }

  /** [[requireFeature]] from a known tip; returns the tip after it. A
    * feature the known tip already carries is recorded (entries are
    * monotone) — no read at all. */
  private def requireFeature(root: String, feature: String, reader: Boolean,
                             from: (Long, (Set[String], Set[String])))
      : (Long, (Set[String], Set[String])) = {
    var tip = from
    var spins = 0
    while (spins < 32) {
      val (n, (r, w)) = tip
      val (r2, w2) = (if (reader) r + feature else r, w + feature)
      if (r2 == r && w2 == w) return tip // converged (the common case)
      val next = n + 1L
      try {
        writeString(new HPath(root, s"_protocol.v$next"),
          s"reader=${r2.toSeq.sorted.mkString(",")}\n" +
            s"writer=${w2.toSeq.sorted.mkString(",")}", overwrite = false)
        return (next, (r2, w2)) // we won the CAS: v<next> carries our union
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          // another registrar advanced the chain — re-read and re-union
          spins += 1
          tip = probeProtocol(root, tip)
      }
    }
    throw new IllegalStateException(
      s"$root: protocol registration of '$feature' kept losing races — " +
        "refusing to publish the feature ungated")
  }

  /** Refuse a read when `_protocol` demands a reader feature this build
    * does not understand — loud and actionable, never a silently wrong
    * answer. */
  private[graft] def checkReadProtocol(root: String): Unit =
    refuseUnknownReader(root, protocolOf(root)._1)

  private def refuseUnknownReader(root: String, required: Set[String]): Unit = {
    val unknown = required -- supportedReaderFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"$root: this table requires reader feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} that this build does " +
        "not support — reading would return wrong results (e.g. " +
        "resurrect deleted rows); upgrade the library to a build that " +
        "understands them")
  }

  /** Refuse a write when `_protocol` demands a writer feature this
    * build does not understand (writing would corrupt invariants the
    * feature maintains — e.g. skip a CHECK constraint). One protocol
    * fetch checks both sides (a writer must also read). */
  private[graft] def checkWriteProtocol(root: String): Unit =
    refuseUnknownWriter(root, protocolOf(root))

  /** [[checkWriteProtocol]] probing forward from a known tip (the
    * commit's base snapshot); returns the tip it checked. */
  private def checkWriteProtocol(root: String,
                                 from: (Long, (Set[String], Set[String])))
      : (Long, (Set[String], Set[String])) = {
    val tip = probeProtocol(root, from)
    refuseUnknownWriter(root, tip._2)
    tip
  }

  private def refuseUnknownWriter(root: String,
                                  features: (Set[String], Set[String])): Unit = {
    val (r, w) = features
    refuseUnknownReader(root, r)
    val unknown = w -- supportedWriterFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"$root: this table requires writer feature(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} that this build does " +
        "not support — writing could corrupt invariants those features " +
        "maintain; upgrade the library or write to a copy")
  }

  /** CLONE (Delta `CREATE TABLE … CLONE` analogue). `shallow = false`
    * (deep): copy snapshot `version`'s rows into `dstRoot` as an
    * independent v1 — O(data), fully decoupled. `shallow = true`:
    * METADATA-ONLY commit pointing at the source snapshot (`_clone_src`)
    * — O(1) data cost; reads resolve through the source's chain, and
    * commits on the clone (appends, DML, compaction) stack on top
    * without ever touching the source. The clone pins the source
    * VERSION, so later source commits are invisible to it. Delta's
    * caveat applies verbatim: vacuuming the SOURCE below the cloned
    * version breaks shallow clones — retain accordingly (the same
    * contract as [[vacuum]]'s `retainMinMs` reader window). */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
                 version: Option[Long] = None,
                 shallow: Boolean = false): Long = {
    val v = version.getOrElse(latestVersion(srcRoot).getOrElse(
      throw new IllegalArgumentException(s"no versions at $srcRoot")))
    require(latestVersion(dstRoot).isEmpty,
      s"clone target $dstRoot already has versions")
    require(!srcRoot.contains("\t"), "source root must not contain tabs")
    if (shallow) {
      // the clone reads THROUGH the source chain, so every reader
      // feature the source demands (e.g. dv) the clone demands too —
      // registered BEFORE the clone commit publishes, the same
      // feature-before-bytes ordering every write path enforces: a
      // reader hitting the fresh clone can never resolve a DV-bearing
      // chain ungated (the root path needs no versions to carry a
      // protocol entry)
      val src = snapshot(srcRoot, v)
      protocolOf(srcRoot)._1.foreach(f =>
        requireFeature(dstRoot, f, reader = true))
      // a mapped source's mapping rides the clone commit, so clone-local
      // reads and DML resolve it without crossing roots, and clone-local
      // schema changes stack independently of the source
      write(emptySnapshot(spark, src), dstRoot,
        metaFiles = Map("_clone_src" -> s"$srcRoot\t$v") ++
          src.colmap.map("_colmap" -> serializeColmap(_)),
        operation = s"CLONE(shallow,$srcRoot@v$v)")
    }
    else
      // deep clone: an independent table — logical names become its
      // physical names, no mapping carried (none needed)
      write(readVersion(spark, srcRoot, v), dstRoot,
        operation = s"CLONE(deep,$srcRoot@v$v)", assignIdentity = false)
  }

  /** ALTER TABLE … ADD COLUMNS (Delta schema-evolution DDL): commit a
    * SCHEMA-ONLY evolution — a zero-row slice carrying the widened
    * schema, linked as an O(1) `_parent` append. Chain reads NULL-pad
    * the new columns for every older member (the same
    * `unionByName(allowMissingColumns)` machinery evolved appends use),
    * historical snapshots keep their original schema, and subsequent
    * appends may carry or omit the new columns. Cost: one footer-only
    * parquet file — metadata-sized at any table size. Columns must be
    * new; nested-field adds are not supported (top-level only). */
  def addColumns(spark: SparkSession, root: String,
                 cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Long = {
    import org.apache.spark.sql.functions.lit
    require(cols.nonEmpty, "addColumns: no columns given")
    val base = latestVersion(root).getOrElse(throw new IllegalArgumentException(
      s"addColumns requires an existing table at $root"))
    val live = readVersion(spark, root, base)
    val clash = cols.map(_._1).filter(n =>
      live.columns.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty, s"addColumns: column(s) already exist: " +
      clash.mkString(", "))
    require(cols.map(_._1.toLowerCase).distinct.size == cols.size,
      "addColumns: duplicate column names in the add list")
    // the empty slice is written FLAT (no partitionBy) even on a
    // hive-partitioned table: a zero-row dynamic-partition write would
    // produce no files at all, losing the schema the commit exists to
    // carry; the flat footer-only file contributes the partition
    // columns as ordinary (empty) columns and the chain's unionByName
    // lines everything up
    val evolved = cols.foldLeft(live.limit(0)) { case (d, (n, t)) =>
      d.withColumn(n, lit(null).cast(t)) }
    // `_schema_only` marks the slice as footer-only so file-index reads
    // of a PARTITIONED chain can skip it: the flat zero-row dir would
    // otherwise make per-dir partition discovery infer an empty
    // partition schema and fail the chain's layout-consistency check.
    // Never carried by compaction (a folded dir holds real data).
    write(evolved, root, allowEvolution = true,
      metaFiles = Map("_parent" -> base.toString, "_schema_only" -> "1"),
      baseVersion = Some(base),
      operation = s"ADD COLUMNS(${cols.map(_._1).mkString(",")})")
  }

  /** Schema-first table creation (`CREATE TABLE t (cols…) USING gvt`,
    * Delta's empty-table DDL): commit a SCHEMA-ONLY v1 — one zero-row
    * footer-only parquet slice carrying the declared schema, O(1) at
    * any scale — so INSERT / writer appends / streaming sinks land on
    * an existing table instead of each racing to be "the creating
    * write". A declared `partitionBy` cannot ride directory names yet
    * (there are no data files), so it rides the commit's `_layout`
    * meta; [[Snapshot.layout]] serves it to every layout consumer until the
    * first data commit materializes the hive directories. Refuses an
    * already-versioned root (CREATE is never an overwrite). */
  def createTable(spark: SparkSession, root: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partitionBy: Seq[String] = Seq.empty): Long = {
    require(latestVersion(root).isEmpty,
      s"createTable: a table already exists at $root (versions present)")
    require(schema.nonEmpty, "createTable: empty schema")
    partitionBy.foreach(p => require(schema.fieldNames.contains(p),
      s"createTable: PARTITIONED BY column $p is not in the schema"))
    // partition columns last, Delta/hive's canonical order — the first
    // real write partitions by them, and positional INSERT expects them
    // trailing exactly as on any written gvt table
    val ordered = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionBy.contains(f.name)) ++
        partitionBy.map(p => schema(schema.fieldIndex(p))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ordered)
    write(empty, root,
      metaFiles = Map("_schema_only" -> "1") ++
        (if (partitionBy.nonEmpty) Map("_layout" -> partitionBy.mkString(","))
         else Map.empty),
      operation = "CREATE TABLE", assignIdentity = false)
  }

  /** CREATE OR REPLACE TABLE: redefine the table in ONE commit — an
    * empty snapshot carrying the NEW schema and layout (schema-only
    * slice, O(1)), with every registration of the old definition
    * (constraints, defaults, generated, identity) cleared and any
    * column mapping reset (the unmap sentinel — a replaced table's
    * physical layout IS its logical view). History stays
    * time-travelable until vacuumed; the protocol entry is monotone
    * and survives (old snapshots still need their features). */
  def replaceTable(spark: SparkSession, root: String,
                   schema: org.apache.spark.sql.types.StructType,
                   partitionBy: Seq[String] = Seq.empty): Long = {
    require(latestVersion(root).isDefined,
      s"replaceTable: no table at $root (use createTable)")
    require(schema.nonEmpty, "replaceTable: empty schema")
    partitionBy.foreach(p => require(schema.fieldNames.contains(p),
      s"replaceTable: PARTITIONED BY column $p is not in the schema"))
    val ordered = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionBy.contains(f.name)) ++
        partitionBy.map(p => schema(schema.fieldIndex(p))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ordered)
    // `_layout` is written UNCONDITIONALLY — an empty value for an
    // unpartitioned redefinition, so it SHADOWS any older create's
    // declared layout in the newest-wins meta walk. Omitting it here
    // resurrected the replaced definition's layout: the next INSERT on a
    // partitioned→unpartitioned replace re-partitioned by (or failed on)
    // a dropped column.
    val nv = write(empty, root, replaceSchema = true,
      metaFiles = Map("_schema_only" -> "1", "_colmap" -> "",
        "_layout" -> partitionBy.mkString(",")),
      operation = "REPLACE TABLE", assignIdentity = false)
    // The OLD definition's registrations (constraints, defaults,
    // generated, identity) are root-level unversioned state; they are
    // cleared AFTER the redefining commit publishes so the table is
    // never live under the OLD schema with its integrity rules stripped
    // (a concurrent writer in a drop-first window could commit
    // old-schema data unvalidated). Residual window on the other side —
    // a crash here leaves the NEW schema with STALE registrations —
    // fails loudly instead (validation against a missing column is an
    // AnalysisException; re-running the same replaceTable clears them).
    constraints(root).keys.foreach(dropCheckConstraint(root, _))
    columnDefaults(root).keys.foreach(dropColumnDefault(root, _))
    generatedColumns(root).keys.foreach(removeGeneratedColumn(root, _))
    if (identityColumns(root).nonEmpty)
      delete(identityFile(root), recursive = false)
    nv
  }

  /** ALTER COLUMN … TYPE (Delta's type-widening surface): widen a
    * column's declared type as a SCHEMA-ONLY commit — one zero-row
    * footer slice carrying the widened schema, no data file rewritten.
    * Chain reads coerce older narrow files through the union's common
    * type (and the parquet reader's widening promotion on the
    * file-relation path); historical snapshots keep their original
    * type via time travel. Only LOSSLESS upcasts (`Cast.canUpCast`:
    * int→long, float→double, int→decimal(10+,0), …) are accepted —
    * narrowing would corrupt existing rows and fails loudly. Appends
    * after the widen carry the widened type (a still-narrow batch
    * needs `allowEvolution`, which admits upcasts only). */
  def widenColumnType(spark: SparkSession, root: String, name: String,
                      newType: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.functions.col
    val snap = latestSnapshot(root).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumnType requires an existing table at $root"))
    val base = snap.version
    val live = readSnapshot(spark, snap)
    require(live.columns.contains(name), s"widenColumnType: no column $name " +
      s"in the live schema (${live.columns.mkString(", ")})")
    val oldType = live.schema(name).dataType
    if (oldType == newType) return base // no-op: already that type
    require(losslessWiden(oldType, newType),
      s"widenColumnType: $oldType → $newType is not a lossless numeric " +
        "widening — only upcasts are supported (narrowing would corrupt " +
        "existing rows); rewrite explicitly via overwrite if you really " +
        "mean it")
    val parts = snap.layout
    require(!parts.contains(name),
      s"widenColumnType: $name is a hive partition column (values live in " +
        "directory names) — change the layout via compact() instead")
    require(!identityColumns(root).contains(name),
      s"widenColumnType: $name is an identity column (already BIGINT)")
    val slice = live.limit(0).withColumn(name, col(name).cast(newType))
    write(slice, root, allowEvolution = true,
      metaFiles = Map("_parent" -> base.toString, "_schema_only" -> "1"),
      baseVersion = Some(base),
      operation = s"ALTER COLUMN TYPE($name $oldType->$newType)")
  }

  /** COPY INTO (Delta's idempotent bulk-file load): append the files
    * under `from` (non-recursive; `pattern` = a `*`/`?` glob on file
    * names) that have NOT already been loaded into this table, as one
    * O(batch) append commit. Idempotency is FILE-level, exactly Delta's
    * contract: the cumulative loaded-file set rides in the commit's
    * `_copied` meta (newest-wins via [[readMetaLatest]], carried across
    * compaction folds), so re-running the same COPY INTO is a no-op and
    * files added to the directory later load incrementally. Returns
    * (filesLoaded, rowsLoaded). A concurrent commit retries against the
    * refreshed loaded-set (bounded), like merge(). First COPY INTO on an
    * empty root creates the table. */
  def copyInto(spark: SparkSession, root: String, from: String,
               pattern: Option[String] = None,
               format: String = "parquet"): (Long, Long) = {
    require(format.equalsIgnoreCase("parquet") || format.equalsIgnoreCase("orc"),
      s"copyInto: unsupported FILEFORMAT $format (parquet|orc)")
    val src = new HPath(from)
    val fc = fcOf(src)
    require(fc.util.exists(src), s"copyInto: source path $from does not exist")
    val re = pattern.map(g => ("\\Q" + g.replace("*", "\\E.*\\Q")
      .replace("?", "\\E.\\Q") + "\\E").r)
    val files = fc.util.listStatus(src).toSeq.filter(_.isFile)
      .map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .filter(p => re.forall(_.matches(p.getName)))
      .map(_.toUri.getPath).sorted
    var attempts = 0
    while (true) {
      val loaded = readMetaLatest(root, "_copied").toSeq
        .flatMap(_.linesIterator).toSet
      val fresh = files.filterNot(loaded)
      if (fresh.isEmpty) return (0L, 0L)
      val df =
        if (format.equalsIgnoreCase("orc")) spark.read.orc(fresh: _*)
        else spark.read.parquet(fresh: _*)
      val rows = df.count()
      val cumulative = (loaded ++ fresh).toSeq.sorted.mkString("\n")
      try {
        if (latestVersion(root).isDefined)
          append(df, root, metaFiles = Map("_copied" -> cumulative),
            operation = s"COPY INTO($from)")
        else write(df, root, metaFiles = Map("_copied" -> cumulative),
          operation = s"COPY INTO($from)")
        return (fresh.size.toLong, rows)
      } catch {
        case _: ConcurrentWriteException if attempts < 5 => attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One-row table summary (Delta DESCRIBE DETAIL): live version, data
    * file count/bytes across the snapshot's chain (auxiliary payloads —
    * stats, deletion vectors, meta — excluded), partition layout,
    * constraint/property registrations. Metadata-only: file listings of
    * the chain dirs, no data read. */
  case class TableDetail(format: String, location: String, version: Long,
                         numVersions: Long, numFiles: Long, sizeBytes: Long,
                         numRows: Long,
                         partitionColumns: Seq[String],
                         constraints: Map[String, String],
                         properties: Map[String, String],
                         readerFeatures: Set[String] = Set.empty,
                         writerFeatures: Set[String] = Set.empty)

  def detail(root: String): TableDetail = {
    val snap = liveSnapshot(root)
    val v = snap.version
    def walk(p: HPath): Seq[(Long, Long)] = {
      val fc = fcOf(p)
      fc.util.listStatus(p).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((1L, st.getLen))
        }
    }
    val counts = snap.dataDirs.flatMap(d => walk(new HPath(d)))
    TableDetail("gvt", root, v, snap.chain.size.toLong,
      counts.map(_._1).sum, counts.map(_._2).sum,
      liveRows(snap)._2, // footer counts − DV cardinality
      snap.layout,
      constraints(root), tblProperties(root),
      protocolOf(root)._1, protocolOf(root)._2)
  }

  def readLatest(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root")))

  // ── File memo ───────────────────────────────────────────────────────
  //
  // The one memo below snapshots, for facts about plain parquet paths:
  //  - a directory's inferred schema, keyed (path, [[dirFingerprint]]).
  //    EVERY `spark.read.parquet(dir)` construction otherwise pays
  //    schema inference (a listing plus a footer-reading Spark job);
  //    readers pass the memoized schema explicitly and skip it. Version
  //    dirs are write-once (their mtime keys them); the testdata drops
  //    and the medallion layers' `readParquetDir` targets are
  //    rewritable, so their child listing folds into the key;
  //  - a data file's footer row count, keyed (path, [[footerKey]]) —
  //    data files are immutable.
  // Snapshot invalidation drops the entries under the invalidated root.

  private val fileMemo =
    new Lru[(String, Long), Either[StructType, Long]](65536)
  private val footerKey = Long.MinValue

  /** Inferred schema of one parquet directory, memoized on
    * (path, [[dirFingerprint]]). Hive-partitioned dirs include their
    * partition columns, as plain inference would. */
  private[graft] def parquetDirSchema(spark: SparkSession,
                                      d: String): org.apache.spark.sql.types.StructType = {
    val key = (d, dirFingerprint(new HPath(d)))
    fileMemo.get(key).collect { case Left(s) => s }.getOrElse {
      val s = footerSparkSchema(d).getOrElse(spark.read.parquet(d).schema)
      fileMemo.put(key, Left(s))
      s
    }
  }

  /** First-touch fast path for [[parquetDirSchema]]: Spark serializes
    * the EXACT logical schema it will re-infer into every footer it
    * writes (`org.apache.spark.sql.parquet.row.metadata`), and
    * file-source relations surface it `asNullable` — so for a FLAT
    * Spark-written dir one driver-side footer read reproduces
    * `spark.read.parquet(d).schema` without the inference Spark job.
    * Hive-partitioned dirs (partition-column types come from directory
    * names) and non-Spark files (no metadata key) return None and take
    * the plain inference path. Equality with inference is pinned by
    * DirSchemaSpec. */
  private def footerSparkSchema(d: String): Option[StructType] =
    try {
      val dp = new HPath(d)
      val fc = fcOf(dp)
      if (!fc.util.exists(dp)) return None
      val direct = fc.util.listStatus(dp).filter { st =>
        val n = st.getPath.getName
        !st.isDirectory && !n.startsWith("_") && !n.startsWith(".")
      }
      // a dir with subdirectories (hive layout) or no direct data file
      // takes the inference path
      if (direct.isEmpty ||
          fc.util.listStatus(dp).exists(st => st.isDirectory &&
            !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))) return None
      // the SESSION's Hadoop conf, not a fresh Configuration(): a fresh
      // one re-parses the XML defaults per call (driver samples caught
      // the wstx parse mid-commit) and bypasses the installed local FS
      // and any credentialed scheme settings (ADVICE r16)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(direct.head.getPath, sessionHadoopConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val kv = try r.getFooter.getFileMetaData.getKeyValueMetaData
        finally r.close()
      Option(kv.get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(j => scala.util.Try(
          allNullable(org.apache.spark.sql.types.DataType.fromJson(j))
            .asInstanceOf[StructType]).toOption)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** File-source relations surface their data schema with every level
    * forced nullable (Spark's private `DataType.asNullable`) — mirror
    * it exactly so the fast path is byte-identical to inference
    * (DirSchemaSpec pins the equality). */
  private def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(allNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(allNullable(m.keyType),
        allNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Public variant of the memoized single-dir read for the layer
    * pipelines and persisted-index readers — identical result to
    * `spark.read.parquet(dir)` minus the per-construction inference
    * job. */
  def readParquetDir(spark: SparkSession, d: String): DataFrame =
    readDirCached(spark, d)

  /** Row count of a plain parquet directory from its files' footers —
    * what `readParquetDir(spark, d).count()` returns, with no Spark job. */
  def parquetDirRowCount(d: String): Long = footerRowCount(listDataFiles(d))

  /** `spark.read.parquet(dir)` with the memoized schema — no inference
    * job. `basePath` keeps `name=value` partition columns alive across
    * a later union (the readDirs per-dir contract). */
  private def readDirCached(spark: SparkSession, d: String,
                            basePath: Boolean = false): DataFrame = {
    val r = spark.read.schema(parquetDirSchema(spark, d))
    (if (basePath) r.option("basePath", d) else r).parquet(d)
  }

  /** A version dir's `_`-prefixed Parquet payload (`_dv`, `_stats`,
    * `_bloom`, `_cdf`) across `dirs`, read from the payloads' listed
    * data files with the memoized schema: Spark is never handed the
    * hidden dir itself, which it skips with an "All paths were ignored"
    * warning. Dirs of one schema read as one scan; a mix (a legacy
    * chain) reads per schema and NULL-pads by name. */
  private def readSidecar(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val schemas = dirs.map(parquetDirSchema(spark, _))
    schemas.distinct.map { schema =>
      val files = dirs.zip(schemas).collect { case (d, `schema`) => d }
        .flatMap(listDataStatuses)
      // the index is handed this listing: past 32 paths
      // (`parallelPartitionDiscovery.threshold`) `spark.read` would list
      // the files again in a Spark job
      val listed = new FileStatusCache {
        private val byPath = files.map(f => f.getPath -> Array(f)).toMap
        override def getLeafFiles(p: HPath): Option[Array[FileStatus]] = byPath.get(p)
        override def putLeafFiles(p: HPath, fs: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      spark.baseRelationToDataFrame(HadoopFsRelation(
        new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty, Some(schema), listed),
        new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** A zero-row frame with the snapshot's LOGICAL schema — the schema
    * anchor the DML/maintenance commits and CDF empty returns need,
    * built from the resolved schema instead of constructing (and
    * re-analyzing) the whole chain-read plan just to drop its rows. */
  private def emptySnapshot(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      snap.schema)

  /** Time travel: read any retained snapshot (for an append commit, the
    * union of its `_parent` chain; hive-partitioned chains are read
    * per-dir with basePath so partition columns survive; a chain with
    * deletion-vector commits anti-joins the vectors on parquet row
    * positions). */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    readSnapshot(spark, snapshot(root, version))

  /** [[readVersion]] of an already-resolved snapshot. */
  private[graft] def readSnapshot(spark: SparkSession, s: Snapshot): DataFrame = {
    refuseUnknownReader(s.root, s.readerFeatures)
    s.purgeFloor.foreach(fl => if (s.version < fl)
      throw new IllegalArgumentException(
        s"${s.root}: version ${s.version} is below the purge floor $fl — " +
          "VACUUM's file-granular pass reclaimed data files this snapshot " +
          "may need (the version-drop retention contract); read a " +
          "version >= the floor"))
    val raw =
      if (s.dvDirs.isEmpty) readDirs(spark, s.dataDirs, Some(s.flat))
      else applyDv(spark, readDirsMetaEliding(spark, s), s.dvDirs)
    // column-mapped chain: physical columns surface under the logical
    // names this snapshot's `_colmap` assigns (dropped columns fall out)
    s.colmap.map(applyColmap(raw, _)).getOrElse(raw)
  }

  // ── Deletion-vector commits ──────────────────────────────────────
  //
  // A DV commit's version dir holds its data slice, a `_dv_parent` link
  // to the version it masks, and the `_dv` payload: one
  // `(_dv_file, _dv_pos)` row per masked row, in the `_metadata`
  // file-path / row-index form [[withRowIds]] tags rows with. write()
  // derives the `_dvc` counts from the payload. [[commitDv]] is the one
  // producer; [[applyDv]] and [[dvRemovedRows]] read the payload back
  // through [[readSidecar]] and join it with [[joinDv]].

  /** Commit a deletion-vector version over `snap`: the `located` rows'
    * `(__gvt_file, __gvt_pos)` provenance becomes the `_dv` payload and
    * `data` the version's slice in the table's layout (None: a DELETE's
    * zero-row schema anchor, written flat). `cdf` rides as the `_cdf`
    * change-data sidecar; `metaFiles` add to `_dv_parent`. `located` is
    * released afterwards; `data` and `operation` are evaluated inside
    * that scope, so a slice that fails to build still releases it. */
  private def commitDv(spark: SparkSession, snap: Snapshot,
                       located: DataFrame, data: => Option[DataFrame],
                       operation: => String,
                       cdf: Option[DataFrame] = None,
                       statsCols: Seq[String] = Seq.empty,
                       metaFiles: Map[String, String] = Map.empty,
                       assignIdentity: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    try {
      val slice = data
      write(slice.getOrElse(emptySnapshot(spark, snap)), snap.root,
        partitionBy = if (slice.isDefined) snap.layout else Seq.empty,
        statsCols = statsCols,
        metaFiles = metaFiles + ("_dv_parent" -> snap.version.toString),
        subdirWrites = Map("_dv" -> located.select(
          col("__gvt_file").as("_dv_file"), col("__gvt_pos").as("_dv_pos"))) ++
          cdf.map("_cdf" -> _),
        baseVersion = Some(snap.version), operation = operation,
        assignIdentity = assignIdentity)
    } finally { located.unpersist(); () }
  }

  /** `tagged` rows joined to deletion vector `dv` on (file, row-position). */
  private def joinDv(tagged: DataFrame, dv: DataFrame, how: String): DataFrame =
    tagged.join(dv, tagged("__gvt_file") === dv("_dv_file") &&
      tagged("__gvt_pos") === dv("_dv_pos"), how)

  /** Drop the rows named by the chain's deletion vectors: one anti-join
    * on (file, row-position). The vector side is deleted-rows-sized —
    * Spark broadcasts it below the threshold, exactly the read-cost
    * shape Delta's deletion vectors have. */
  private def applyDv(spark: SparkSession, tagged: DataFrame,
                      dvDirs: Seq[String],
                      keepMeta: Boolean = false): DataFrame = {
    val joined = joinDv(tagged, readSidecar(spark, dvDirs), "left_anti")
    if (keepMeta) joined else joined.drop("__gvt_file", "__gvt_pos")
  }

  // ── Whole-file deletion-vector elision ────────────────────────────
  //
  // Every DV commit persists a `_dvc` sidecar (file → masked-row
  // count). Positions are disjoint ACROSS commits (a vector names rows
  // that were LIVE when it committed), so summing the chain's counts
  // per file and comparing against the file's parquet footer row count
  // proves which files have NO surviving rows — those drop out of the
  // scan entirely instead of being read and anti-joined away. This is
  // the read-cost shape of Delta's remove-on-full-delete: a partition
  // fully deleted (or rewritten by OPTIMIZE … WHERE / replaceWhere /
  // dynamic overwrite) stops costing IO at the NEXT read, not at
  // compaction. Chains whose DV commits predate the sidecar contribute
  // no counts — elision degrades to off, never to wrong (a file is
  // elided only when counted masks prove it empty). Driver cost per
  // uncached chain: one deleted-files-sized `_dvc` read plus one footer
  // read per candidate file — the Delta-log metadata class.

  /** A data-file identity in scheme-free `toUri.getPath` form — the
    * meeting point of `_metadata.file_path` URIs (url-encoded, the
    * `_dv_file`/`_stats.file` form) and driver-side listing paths. */
  private def normFileId(f: String): String =
    (try new HPath(new java.net.URI(f))
     catch { case _: Exception => new HPath(f) }).toUri.getPath

  private def purgedFile(root: String) = new HPath(root, "_purged")
  private def purgeFloorFile(root: String) = new HPath(root, "_purge_floor")

  /** The minimum version a read may address after the vacuum's
    * file-granular pass reclaimed data files: versions below it could
    * silently miss reclaimed files, so [[readSnapshot]] refuses them
    * loudly. None until a purge has happened. Snapshots carry it (the
    * floor only rises, and only via [[vacuum]], which invalidates). */
  private def readPurgeFloor(root: String): Option[Long] =
    readString(purgeFloorFile(root))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  /** The DV-dead files [[vacuum]]'s file-granular pass physically
    * reclaimed: [[normFileId]] → the masked-row count their vectors
    * carried. Readers use it to (a) treat the files as elided without
    * touching their (gone) footers and (b) keep the metadata row-count
    * arithmetic exact while the masking vectors remain in the chain. */
  private[graft] def purgedEntries(root: String): Map[String, Long] =
    readString(purgedFile(root)).map {
      _.linesIterator.filter(_.nonEmpty).flatMap { line =>
        val i = line.lastIndexOf('\t')
        if (i <= 0) None
        else scala.util.Try((line.take(i), line.drop(i + 1).toLong)).toOption
      }.toMap
    }.getOrElse(Map.empty)

  /** The distinct table roots a DV-dir set spans (a shallow-cloned
    * chain crosses into its source root). */
  private def rootsOfDvDirs(dvDirs: Seq[String]): Seq[String] =
    dvDirs.map(d => d.substring(0, d.lastIndexOf("/v="))).distinct

  /** One `_dvc` sidecar line → (file, masked-row count, total footer
    * rows if the commit recorded it). Two-field lines predate the
    * total; their files resolve through a footer probe instead. */
  private def parseDvcLine(line: String): Option[(String, Long, Option[Long])] = {
    val parts = line.split('\t')
    if (parts.length >= 3)
      (for {
        n <- scala.util.Try(parts(parts.length - 2).toLong).toOption
        t <- scala.util.Try(parts(parts.length - 1).toLong).toOption
      } yield (parts.dropRight(2).mkString("\t"), n, Some(t)))
        .orElse(parseTwoField(line))
    else parseTwoField(line)
  }

  private def parseTwoField(line: String): Option[(String, Long, Option[Long])] = {
    val i = line.lastIndexOf('\t')
    if (i <= 0) None
    else scala.util.Try(line.drop(i + 1).toLong).toOption
      .map(n => (line.take(i), n, None))
  }

  /** Diagnostic counter: footer probes issued by the elision resolve.
    * A DV-free read, or a read over commits whose `_dvc` carries
    * totals, must leave this at zero — pinned by DvElisionSpec. */
  private[graft] val elisionFooterProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pooled parquet-footer row counts for `files` (URI-form paths, the
    * `_dv_file` / `_metadata.file_path` shape). Missing/unreadable
    * files are absent from the result — callers decide the semantics.
    * Successful reads memoize in the file memo. */
  private def footerRowsOf(files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val known = files.distinct.map(f =>
      f -> fileMemo.get((f, footerKey)).collect { case Right(n) => n })
    val hits = known.collect { case (f, Some(n)) => f -> n }
    val misses = known.collect { case (f, None) => f }
    val fresh: Map[String, Long] =
      if (misses.isEmpty) Map.empty
      else {
        val conf = sessionHadoopConf
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, misses.size))
        try {
          misses.map { f =>
            f -> pool.submit(new java.util.concurrent.Callable[Option[Long]] {
              override def call(): Option[Long] =
                try {
                  elisionFooterProbes.incrementAndGet()
                  val in = org.apache.parquet.hadoop.util.HadoopInputFile
                    .fromPath(new HPath(new java.net.URI(f)), conf)
                  val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                  try Some(r.getRecordCount) finally r.close()
                } catch {
                  case _: java.io.FileNotFoundException => None
                }
            })
          }.flatMap { case (f, fut) =>
            fut.get().map { n => fileMemo.put((f, footerKey), Right(n)); (f, n) }
          }.toMap
        } finally pool.shutdown()
      }
    hits.toMap ++ fresh
  }

  /** Files of the snapshot's chain whose every row the chain's deletion
    * vectors mask, as [[normFileId]] strings — [[Snapshot.elided]]. */
  private def fullyMaskedFiles(snap: Snapshot): Set[String] = {
    val dvDirs = snap.dvDirs
    if (dvDirs.isEmpty) return Set.empty
    // each DV commit's `_dvc` text rides its snapshot. Lines carrying
    // the commit-recorded TOTAL resolve with zero footer IO; two-field
    // legacy lines fall back to one pooled footer probe per file.
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val totals = scala.collection.mutable.Map.empty[String, Long]
    snap.dvCounts.foreach {
      _.linesIterator.filter(_.nonEmpty).foreach { line =>
        parseDvcLine(line).foreach { case (f, n, t) =>
          counts(f) = counts.getOrElse(f, 0L) + n
          t.foreach(totals(f) = _)
        }
      }
    }
    val out: Set[String] =
      if (counts.isEmpty) Set.empty
      else {
        // files the vacuum's file-granular pass already reclaimed are
        // elided by RECORD — their footers are gone
        val purged = rootsOfDvDirs(dvDirs)
          .flatMap(r => purgedEntries(r).keys).toSet
        val sums = counts.toSeq
        val probed = footerRowsOf(sums.map(_._1)
          .filterNot(f => purged(normFileId(f)))
          .filterNot(totals.contains))
        sums.collect {
          case (f, _) if purged(normFileId(f)) => normFileId(f)
          case (f, n) if totals.get(f).exists(n >= _) => normFileId(f)
          case (f, n) if !totals.contains(f) && probed.get(f).exists(n >= _) =>
            normFileId(f)
          // a mask-counted candidate whose footer is GONE and whose
          // rows-total is unrecorded: nothing it could serve is
          // reachable (its masks cover whatever a reader would want, or
          // the file was reclaimed by a crashed pre-record vacuum) —
          // elide rather than propagate a FileNotFound that would make
          // the whole table permanently unreadable (the r13 ADVICE
          // class). LOUD: external loss of a partially-masked file
          // lands here too, so the tolerance is announced every cold
          // resolve, never silent.
          case (f, n) if !totals.contains(f) && !purged(normFileId(f)) &&
            !probed.contains(f) =>
            graft.util.Log("gvt").warn(
              s"data file missing but $n masked rows recorded — treating " +
                s"as fully masked (crashed pre-record VACUUM?): $f")
            normFileId(f)
        }.toSet
      }
    out
  }

  /** The snapshot's dirs with [[withRowIds]], minus the fully-masked
    * files ([[Snapshot.elided]]): per-dir listings
    * filtered against `elided`, read as explicit file groups (hive
    * layouts keep their partition columns under each dir's own
    * basePath). A zero-row full-schema anchor keeps the union's shape
    * complete even when the elided files were the sole carriers of an
    * evolved column — planning-only cost, no data read. */
  private def readDirsMetaEliding(spark: SparkSession, snap: Snapshot): DataFrame = {
    val (dirs, elided) = (snap.dataDirs, snap.elided)
    if (elided.isEmpty) return readDirs(spark, dirs, Some(snap.flat), withRowIds)
    val keep = dirs.flatMap(d =>
      listDataFiles(d).filterNot(f => elided(normFileId(f))))
    // the anchor skips dirs the vacuum's file-granular pass EMPTIED —
    // a footer-less dir cannot serve schema (zero-row slices are never
    // purgeable, so some chain member always keeps one)
    val anchorDirs = dirs.filter(d => listDataFiles(d).nonEmpty)
    require(anchorDirs.nonEmpty,
      s"chain has no readable data file left (every member emptied?): $dirs")
    val anchor = readDirs(spark, anchorDirs, Some(snap.flat), withRowIds).limit(0)
    if (keep.isEmpty) anchor
    else readFileGroups(spark, keep, snap.dirLayout.nonEmpty, withRowIds)
      .foldLeft(anchor)(_.unionByName(_, allowMissingColumns = true))
  }

  /** Row-level DELETE as a DELETION-VECTOR commit (Delta
    * deletion-vector analogue): O(delete) commit cost at ANY table size
    * — the new version stores only the (file, row-position) pairs of
    * the deleted rows (`_dv` parquet payload) plus an empty schema
    * slice; the parent snapshot's files are never rewritten. Readers
    * anti-join the chain's vectors on parquet row positions
    * (`_metadata.file_path` / `row_index`); stacked DV commits compose;
    * [[compact]] materializes the vectors away (the OPTIMIZE pairing
    * Delta prescribes) and the change feed classifies the removed rows
    * as deletes via the snapshot diff. [[readPruned]] composes the
    * vectors into its pruned union, and the gvt DataSource serves a
    * DV-bearing snapshot through its DV-applying relation — SQL reads
    * keep working without waiting for compact(). Returns the new
    * version. */
  def deleteWhereVector(spark: SparkSession, root: String,
                        predicate: org.apache.spark.sql.Column,
                        locateJoins: Seq[LocateSemiJoin] = Seq.empty,
                        scalarJoins: Seq[LocateScalarJoin] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.lit
    val snap = liveSnapshot(root)
    // locate scan zone-map-pruned by the predicate's implied bounds
    val live = prunedVersionRead(spark, snap,
      predicateRanges(predicate), keepMeta = true,
      strRanges = predicateStrRanges(predicate))
    val cdf = cdfEnabled(root)
    val hit0 = applyLocateJoins(
      applyScalarJoins(live, scalarJoins).filter(predicate), locateJoins)
    val hit = if (!cdf) hit0
      else hit0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    commitDv(spark, snap, hit, None, "DELETE_DV",
      cdf = Option.when(cdf)(hit.drop(
          "__gvt_file" +: "__gvt_pos" +: scalarJoinCols(scalarJoins): _*)
        .withColumn("_change_type", lit("delete"))))
  }

  /** Delta `delta.enableChangeDataFeed` analogue: when set, DML commits
    * also persist their CHANGE ROWS as an O(changed) `_cdf` sidecar in
    * the commit's version dir (the Delta `_change_data` file shape), so
    * [[changes]] / `table_changes` need NO user keys across rewrite
    * commits — the feed reads the sidecar instead of diffing by join. */
  private def cdfEnabled(root: String): Boolean =
    (try tblProperties(root)
     catch { case scala.util.control.NonFatal(_) => Map.empty[String, String] })
      .get("gvt.enableChangeDataFeed").exists(_.trim.equalsIgnoreCase("true"))

  /** A subquery-shaped locate refinement for the DV DELETE/UPDATE paths:
    * keep only locate-scan rows whose `values` tuple appears
    * (`negated = false`, SQL `IN (SELECT …)`) — or does not appear
    * (`negated = true`, SQL `NOT IN (SELECT …)`, single value only) —
    * among `source`'s rows, matched POSITIONALLY against the source's
    * columns. The refinement runs as a DISTRIBUTED semi/anti equi-join
    * on the scan, so "delete the keys named by this staging table"
    * costs one shuffle-or-broadcast join at any table size — never a
    * collected value list. */
  /** `residuals`: one-side-outer comparison conjuncts of a correlated
    * subquery (`s.ts > t.ts`) — each builder takes its projected inner
    * column (the TRAILING source columns, after `values`) and returns
    * the comparison bound to the scan side by name; the condition
    * AND-folds into every join branch. */
  case class LocateSemiJoin(values: Seq[org.apache.spark.sql.Column],
                            source: DataFrame, negated: Boolean,
                            notIn3VL: Boolean = true,
                            corrKeys: Int = 0,
                            residuals: Seq[org.apache.spark.sql.Column =>
                              org.apache.spark.sql.Column] = Seq.empty)

  /** A decorrelated AGGREGATED scalar subquery for the DV DML paths:
    * `source` holds [value, matched, key…] with AT MOST ONE row per
    * key group (it aggregates BY the correlation keys), LEFT-joined
    * null-rejecting onto the locate scan so each row sees its group's
    * aggregate as column `out` (plus `out_m`, the matched indicator
    * the substituted expression uses for COUNT's 0-on-empty). ≤1 match
    * per key means scan rows never duplicate — the DV positions stay
    * exact. */
  case class LocateScalarJoin(values: Seq[org.apache.spark.sql.Column],
                              source: DataFrame, out: String)

  /** LEFT-join each scalar refinement onto the scan; the appended
    * `out`/`out_m` columns feed the rewritten condition/assignments
    * and are dropped before anything persists. */
  private def applyScalarJoins(scan: DataFrame,
                               joins: Seq[LocateScalarJoin]): DataFrame = {
    import org.apache.spark.sql.functions.col
    joins.foldLeft(scan) { (df, j) =>
      val keyNames = j.values.indices.map(i => s"${j.out}_k$i")
      val renamed = j.source.toDF(
        (Seq(j.out, s"${j.out}_m") ++ keyNames): _*)
      val cond = j.values.zip(keyNames)
        .map { case (v, k) => v === renamed(k) }.reduce(_ && _)
      df.join(renamed, cond, "left").drop(keyNames: _*)
    }
  }

  /** The scratch columns [[applyScalarJoins]] appended. */
  private def scalarJoinCols(joins: Seq[LocateScalarJoin]): Seq[String] =
    joins.flatMap(j => Seq(j.out, s"${j.out}_m"))

  /** Fold locate refinements onto the located row set with EXACT SQL
    * three-valued semantics — the DV payload holds rows where the whole
    * condition is TRUE:
    *  - IN / correlated EXISTS: a null-rejecting equi semi-join (a NULL
    *    value or NULL source key is never TRUE — exactly `=`'s unknown);
    *  - correlated NOT EXISTS (`notIn3VL = false`): a plain equi
    *    anti-join — a NULL key never matches, so the row QUALIFIES
    *    (EXISTS semantics, not NOT IN's null poison);
    *  - single-column NOT IN: TRUE only when the subquery yields NO
    *    NULLs, the value is non-NULL, and no row matches. One
    *    metadata-sized null probe on the subquery (it executes once
    *    regardless), then an equi anti-join over the non-null values —
    *    hash-partitionable at any subquery size. An EMPTY subquery
    *    keeps every row, NULL values included (`x NOT IN ()` is TRUE);
    *  - CORRELATED NOT IN (equality-decorrelated, `corrKeys` trailing
    *    key columns): ONE anti-join, condition = corr keys `=` AND
    *    every probe pair (equal OR either side NULL) — keeps exactly
    *    the rows whose key group is empty or holds no NULL/match/
    *    NULL-probe blocker (exact 3VL); the equi keys keep it
    *    hash-partitionable at any subquery size;
    *  - multi-column NOT IN: the exact-3VL "compatibility" anti-join —
    *    an inner row blocks a target tuple when every column pair is
    *    equal OR either side NULL (the predicate is then TRUE/UNKNOWN).
    *    The OR-shaped condition is not an equi-join, so the subquery
    *    side BROADCASTS (Spark's own null-aware anti-join carries the
    *    same broadcast-only restriction — SPARK-32290's
    *    BroadcastNestedLoopJoin shape). */
  private def applyLocateJoins(hit0: DataFrame,
                               joins: Seq[LocateSemiJoin]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    joins.foldLeft(hit0) { (hit, j) =>
      val names = j.source.columns.indices.map(i => s"__gvt_sq_$i")
      val renamed = j.source.toDF(names: _*)
      require(j.values.size + j.residuals.size == names.size,
        s"locate join: ${j.values.size} values + ${j.residuals.size} " +
          s"residuals vs ${names.size} subquery columns")
      // residual one-side-outer comparisons: each binds to its trailing
      // projected inner column and AND-folds into the join condition —
      // membership in a correlated set requires them TRUE, exactly like
      // the equality keys (a NULL comparison is unknown → not a member)
      val resNames = names.drop(j.values.size)
      def withRes(cond: org.apache.spark.sql.Column) =
        j.residuals.zip(resNames)
          .map { case (b, n) => b(renamed(n)) }
          .foldLeft(cond)(_ && _)
      if (!j.negated) {
        val cond = j.values.zip(names)
          .map { case (v, n) => v === renamed(n) }.reduce(_ && _)
        hit.join(renamed, withRes(cond), "left_semi")
      } else if (j.notIn3VL && j.corrKeys > 0) {
        // correlated NOT IN, exact 3VL in ONE distributed anti-join on
        // the equality keys: the predicate is TRUE iff the row's key
        // group is empty, or the probe is non-NULL, the group carries
        // no NULL, and nothing matches. Equivalently: no group row is
        // a BLOCKER, where a row blocks when every probe pair is
        // (equal OR either side NULL). NULL correlation keys never
        // match (=-semantics: the group is then empty → TRUE), unlike
        // the probe pairs' null poison. Equi keys keep the join
        // hash-partitionable at any subquery size — no broadcast
        // restriction (the pure-OR multi-column shape below).
        val (valPairs, corrPairs) =
          j.values.zip(names).splitAt(j.values.size - j.corrKeys)
        val corrCond = corrPairs
          .map { case (v, n) => v === renamed(n) }.reduce(_ && _)
        val blockCond = valPairs
          .map { case (v, n) => v.isNull || renamed(n).isNull || v === renamed(n) }
          .reduce(_ && _)
        hit.join(renamed, withRes(corrCond && blockCond), "left_anti")
      } else if (!j.notIn3VL) {
        val cond = j.values.zip(names)
          .map { case (v, n) => v === renamed(n) }.reduce(_ && _)
        hit.join(renamed, withRes(cond), "left_anti")
      } else if (j.values.size == 1) {
        if (renamed.isEmpty) hit // NOT IN (): TRUE for every row
        else {
          val hasNull = !renamed.filter(col(names.head).isNull).limit(1).isEmpty
          if (hasNull) hit.limit(0) // NOT IN over a NULL-bearing set: never TRUE
          else hit.filter(j.values.head.isNotNull)
            .join(renamed, j.values.head === renamed(names.head), "left_anti")
        }
      } else {
        val cond = j.values.zip(names).map { case (v, n) =>
          (v === renamed(n)) || v.isNull || renamed(n).isNull
        }.reduce(_ && _)
        hit.join(broadcast(renamed), cond, "left_anti")
      }
    }
  }

  /** Timestamp time travel (Delta `timestampAsOf` analogue): the newest
    * COMMITTED snapshot whose commit wall-clock is ≤ `tsMillis` —
    * candidates come from [[committedVersions]], never the raw directory
    * listing, so an in-flight or crash-orphaned version directory can't
    * be served. Versions predating the commit-timestamp metadata are
    * treated as arbitrarily old (eligible), matching Delta's
    * last-commit-at-or-before rule. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(root, tsMillis))

  /** The newest COMMITTED version at or before `tsMillis` (the version
    * [[readAsOf]] resolves to; also the `timestampAsOf` resolution of
    * the `gvt` DataSource). */
  def versionAsOf(root: String, tsMillis: Long): Long =
    committedChain(root)
      .filter(_.tsMillis.forall(_ <= tsMillis))
      .lastOption.map(_.version).getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before $tsMillis at $root"))

  /** The newest committed version STRICTLY before `tsMillis` (0 = none)
    * — the cursor a change-feed consumer starts from so that every
    * commit at-or-after the timestamp is emitted (the `startingTimestamp`
    * resolution of the gvt streaming sources). Pre-timestamp-metadata
    * commits count as arbitrarily old. */
  def versionBefore(root: String, tsMillis: Long): Long =
    committedChain(root)
      .filter(_.tsMillis.forall(_ < tsMillis))
      .lastOption.map(_.version).getOrElse(0L)

  /** Commit history (Delta `DESCRIBE HISTORY` analogue), newest first:
    * (version, commit_ts_millis, operation) per COMMITTED snapshot
    * ([[committedVersions]] — never-committed orphan directories are
    * excluded). Metadata-sized driver work (one small read per
    * version). */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    committedChain(root).reverse.map { c =>
      // operation metrics (commit-stamped `_metrics`): data-file count,
      // bytes, and — on DV commits — masked-row count; NULL on commits
      // predating the stamp
      val m = readMeta(root, c.version, "_metrics").map(_.trim.split('\t'))
      def part(i: Int): Option[Long] =
        m.filter(_.length > i).flatMap(a => scala.util.Try(a(i).toLong)
          .toOption).filter(_ >= 0L)
      (c.version, c.tsMillis, c.operation, part(0), part(1), part(2))
    }.toDF("version", "commit_ts_millis", "operation",
      "num_files", "size_bytes", "num_masked_rows")
  }

  /** RESTORE (Delta RESTORE analogue): re-commit snapshot `version`'s
    * content as a NEW version on top — history is preserved (the bad
    * snapshots stay time-travelable until vacuumed), readers flip
    * atomically, and a concurrent writer conflicts instead of being
    * silently rolled back. Evolution is implied: restoring to before a
    * column was added legitimately drops that column. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    // a mapped table restores under the TARGET snapshot's mapping (its
    // logical schema is what the restore resurrects); physical names the
    // current tip used beyond the target are retired so no future add
    // can collide with still-on-disk storage
    val target = snapshot(root, version)
    val cur = latestSnapshot(root).flatMap(_.colmap)
    val tgt = target.colmap
    val meta: Map[String, String] =
      if (cur.isEmpty && tgt.isEmpty) Map.empty
      else {
        val t = tgt.getOrElse(Colmap(
          target.schema.fieldNames.toSeq.map(c => (c, c)), Set.empty))
        val curPhys = cur.map(c => c.active.map(_._2).toSet ++ c.retired)
          .getOrElse(Set.empty)
        Map("_colmap" -> serializeColmap(Colmap(t.active,
          (t.retired ++ curPhys) -- t.active.map(_._2).toSet,
          t.ids ++ cur.map(_.ids).getOrElse(Map.empty))))
      }
    // a full-snapshot re-commit must carry the resurrected snapshot's
    // hive layout — written flat it would silently strip partition
    // pruning from the whole table from this version on
    write(readSnapshot(spark, target), root, allowEvolution = true,
      partitionBy = target.layout,
      metaFiles = meta, operation = s"RESTORE(v=$version)",
      assignIdentity = false)
  }

  /** One snapshot dir's carry-able meta files (watermarks, txn
    * versions) — everything but the chain links, which describe THIS
    * version's storage, not the table state. */
  private def carriedMetaOfDir(dir: HPath): Map[String, String] = {
    val fc = fcOf(dir)
    fc.util.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("_") &&
        st.getPath.getName != "_SUCCESS" && st.getPath.getName != "_parent" &&
        st.getPath.getName != "_dv_parent" &&
        st.getPath.getName != "_clone_src" &&
        st.getPath.getName != "_schema_only")
      .flatMap(st => readString(st.getPath).map(st.getPath.getName -> _))
      .toMap
  }

  /** Carry-able meta UNION across a chain's root-local dirs, newest
    * version's value winning per key. A compaction that read only the
    * TIP dir would drop a watermark committed in an EARLIER batch dir
    * (e.g. app A's `_txn_A` landed at v5, app B's `_batch` at v7):
    * once vacuum reclaims the folded-away dirs, the lost watermark
    * lets a crash-replayed idempotent writer double-apply its batch.
    * Cross-root dirs (a shallow clone's source) are excluded — the
    * source table's watermarks are not this table's state. The write()
    * path re-stamps `_commit_ts`/`_operation`/`_prev` AFTER metaFiles,
    * so carried copies of those can never shadow the new commit's own. */
  private def carriedMetaOfChain(snap: Snapshot): Map[String, String] =
    snap.dataDirs.filter(_.startsWith(s"${snap.root}/"))
      .foldLeft(Map.empty[String, String]) { (m, d) =>
        m ++ carriedMetaOfDir(new HPath(d))
      }

  /** Chain-folding compaction — Delta OPTIMIZE's bin-packing shape: fold
    * ONLY the append chain's batch directories into one consolidated
    * APPEND commit off the chain base. The base snapshot's files are
    * NEVER rewritten, so cost is O(appended data) at any table size —
    * the right periodic maintenance for a 100 TB fact table ingested by
    * O(batch) commits, where [[compact]]'s full-snapshot rewrite is
    * reserved for deletion-vector materialization and layout changes
    * (z-order, re-partitioning). The tip's meta files (sink watermarks,
    * txn versions) carry into the folded commit, so replay guards
    * survive retention reclaiming the folded-away tips. Partitioned
    * chains fold in the base's layout. No-op (returns the live version)
    * on chains of ≤ 1 batch dir; chains carrying deletion vectors must
    * use [[compact]] (the vectors have to materialize). When
    * `statsCols` is empty and EVERY batch dir carries stats, the folded
    * commit re-collects stats for the same columns, so chain-union data
    * skipping keeps working after the fold. */
  def compactChain(spark: SparkSession, root: String,
                   targetFileBytes: Long = 128L * 1024 * 1024,
                   statsCols: Seq[String] = Seq.empty): Long = {
    val snap = liveSnapshot(root)
    val v = snap.version
    require(snap.dvDirs.isEmpty,
      s"$root: chain carries deletion vectors — use compact() to materialize them")
    val dirs = snap.dataDirs
    require(dirs.forall(_.startsWith(s"$root/")),
      s"$root: chain crosses a shallow clone — use compact() (full rewrite) " +
        "to materialize the clone before chain folding")
    if (dirs.size <= 2) return v // base + at most one batch: nothing to fold
    val baseDir = dirs.head
    val baseV = baseDir.substring(baseDir.lastIndexOf("v=") + 2).toLong
    val batchDirs = dirs.tail
    val bytes = batchDirs.map(treeBytes).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val parts = snap.layout
    // re-stat the folded batch if every folded dir was statted
    val stats =
      if (statsCols.nonEmpty) statsCols
      else {
        val perDir = batchDirs.map { d =>
          val p = new HPath(s"$d/_stats")
          if (!fcOf(p).util.exists(p)) Set.empty[String]
          else parquetDirSchema(spark, s"$d/_stats").fieldNames
            .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSet
        }
        if (perDir.nonEmpty && perDir.forall(_.nonEmpty))
          perDir.reduce(_ intersect _).toSeq.sorted
        else Seq.empty
      }
    // physicalInput: the fold reads committed files back in PHYSICAL
    // column space (no logical mapping applied) and re-writes them
    // verbatim — the carried `_colmap` keeps a mapped chain's logical
    // view, and re-running logical-name gates would mis-resolve
    write(readDirs(spark, batchDirs).coalesce(nFiles), root,
      partitionBy = parts, statsCols = stats,
      metaFiles = carriedMetaOfChain(snap) + ("_parent" -> baseV.toString),
      baseVersion = Some(v), operation = "COMPACT_CHAIN",
      physicalInput = true)
  }

  /** Small-file compaction (OPTIMIZE analogue): rewrite the latest
    * snapshot into ⌈bytes / targetFileBytes⌉ files per partition as a new
    * version. Streaming/incremental MERGEs accrete a file per batch; at
    * 100 TB the small-file problem dominates scan planning (one task +
    * one footer read per file), so periodic compaction is what keeps a
    * frequently-merged table scannable. Readers flip atomically, old
    * versions stay time-travelable, vacuum reclaims them. Returns the new
    * version number.
    *
    * `zorderBy` (OPTIMIZE ZORDER BY analogue): exactly two numeric
    * columns — the rewrite range-partitions and sorts on their Morton
    * interleave ([[graft.ops.ZOrder]]) and collects per-file zone maps
    * for BOTH, so [[readPruned]] (and parquet row-group stats) skip on
    * either key afterwards — the layout half of data skipping, applied
    * where Delta applies it: at compaction time, not on the write path.
    * A hive-partitioned snapshot z-orders WITHIN partitions (Delta's
    * behavior): the rewrite clusters on (partition keys, zk), so each
    * partition directory's files stay zk-tight; the z-order keys must
    * not themselves be partition keys.
    *
    * Partitioned snapshots: the `name=value` directory layout is
    * auto-detected and preserved — a plain rewrite would silently flatten
    * it. (The schema gate stays consistent because both the compacted
    * frame and the gate's read of the existing snapshot infer partition
    * column types from the same directory values.) */
  def compact(spark: SparkSession, root: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              zorderBy: Seq[String] = Seq.empty): Long = {
    val snap = liveSnapshot(root)
    val v = snap.version
    // carry the CHAIN's meta files (e.g. the applied-batch watermark of
    // an additive streaming writer — possibly committed in an earlier
    // batch dir than the tip) into the compacted version — compaction
    // must not erase transactional metadata, or a post-compaction
    // checkpoint replay would re-apply a batch
    // (chain links must NOT carry: the compacted snapshot is FULL)
    val carriedMeta = carriedMetaOfChain(snap)
    // probe the CHAIN BASE: an append tip always follows the base's
    // partition layout, and the compacted full snapshot must keep it
    val parts = snap.layout
    // size the rewrite over the LOGICAL snapshot: an append chain's rows
    // live across every chain directory, not just the tip
    val totalBytes = snap.dataDirs.map(treeBytes).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val (rewritten, op) =
      clusteredRewrite(readSnapshot(spark, snap), parts, zorderBy, nFiles, "COMPACT")
    // conditional on the snapshot being compacted: a merge that lands
    // mid-compaction must win over the rewrite, not be clobbered by it
    write(rewritten, root, partitionBy = parts,
      statsCols = if (zorderBy.nonEmpty) zorderBy else Seq.empty,
      metaFiles = carriedMeta, baseVersion = Some(v), operation = op,
      assignIdentity = false)
  }

  /** Bytes of every file under `dir` (sidecars included) — sizes a
    * rewrite's file count. */
  private def treeBytes(dir: String): Long = {
    val fc = fcOf(new HPath(dir))
    def walk(p: HPath): Long = fc.util.listStatus(p).map { st =>
      if (st.isDirectory) walk(st.getPath) else st.getLen
    }.sum
    walk(new HPath(dir))
  }

  /** The compaction rewrite of `snap`: plain `coalesce` bin-pack, or a
    * Morton z-order on 2-4 non-partition columns clustered WITHIN hive
    * partitions (Delta's shape: range-partition + sort on (partition
    * keys, zk) so each partition directory's files stay zk-clustered).
    * Returns the rewrite plus the history operation tag. */
  private def clusteredRewrite(snap: DataFrame, parts: Seq[String],
                               zorderBy: Seq[String], nFiles: Int,
                               opBase: String): (DataFrame, String) =
    if (zorderBy.isEmpty) (snap.coalesce(nFiles), opBase)
    else {
      require(zorderBy.size >= 2 && zorderBy.size <= 4,
        s"zorderBy takes 2-4 columns (Morton interleave), got $zorderBy")
      require(!zorderBy.exists(parts.contains),
        s"zorderBy columns must not be partition keys ($parts)")
      import org.apache.spark.sql.functions.{col, lit, min, max}
      // O(1)-row driver agg: per-column bounds for the range bucketing
      val aggs = zorderBy.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
      val r = snap.agg(aggs.head, aggs.tail: _*).head
      if ((0 until zorderBy.size).exists(j => r.isNullAt(2 * j)))
        // empty snapshot / all-NULL z-order keys: nothing to cluster —
        // plain coalesce rewrite instead of an NPE on the bounds
        (snap.coalesce(nFiles), opBase)
      else {
        // 2 columns: 16-bit buckets + the 5-step magic-mask spread;
        // k>2: generic bit placement at 63/k-capped width
        val bits = math.min(16, 63 / zorderBy.size)
        val buckets = zorderBy.zipWithIndex.map { case (c, j) =>
          graft.ops.ZOrder.rangeBucket(col(c),
            lit(r.getDouble(2 * j)), lit(r.getDouble(2 * j + 1)), bits)
        }
        val zk =
          if (zorderBy.size == 2) graft.ops.ZOrder.zorder2(buckets(0), buckets(1))
          else graft.ops.ZOrder.zorderN(buckets, bits)
        val order = parts.map(col) :+ col("_zk")
        (snap.withColumn("_zk", zk)
          .repartitionByRange(nFiles, order: _*)
          .sortWithinPartitions(order: _*)
          .drop("_zk"),
          s"$opBase(zorder=${zorderBy.mkString(",")})")
      }
    }

  /** Partition-scoped OPTIMIZE (Delta `OPTIMIZE … WHERE` analogue):
    * rewrite ONLY the hive partitions `predicate` selects — bin-packed
    * to `targetFileBytes`, optionally z-ordered within partitions — as
    * ONE deletion-vector commit over the selected rows. Cost is
    * O(selected + rewrite) at ANY table size, never O(table): untouched
    * partitions' files are neither read nor rewritten and stay
    * byte-identical, while the replaced partitions' old files become
    * fully DV-masked — which whole-file elision (`_dvc`) then drops
    * from every subsequent scan, so the clustering benefit lands at the
    * NEXT query, not at the next full compaction. At 100 TB this is the
    * only affordable OPTIMIZE shape: cluster the hot/new partitions,
    * never touch the cold ones.
    *
    * `predicate` may reference PARTITION COLUMNS ONLY — the directory
    * layout is the unit of replacement; a data-column predicate would
    * strand partial files (Delta enforces the same restriction). The
    * rewrite is content-identical by construction, so the commit is
    * CDF-neutral: keyed diffs pair away and the keyless feed emits
    * nothing. Returns the new version (the CURRENT version, as a no-op,
    * when no live partition matches). */
  /** Hive `%xx` directory-name unescaping (the encoding
    * `ExternalCatalogUtils.escapePathName` applies to special
    * characters in partition values) — spec values must be DECODED
    * before they are cast and compared, or a genuinely matching
    * partition is misjudged as absent. */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = scala.util.Try(
          Integer.parseInt(s.substring(i + 1, i + 3), 16)).toOption
        hex match {
          case Some(code) => sb.append(code.toChar); i += 3
          case None => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def compactWhere(spark: SparkSession, root: String,
                   predicate: org.apache.spark.sql.Column,
                   targetFileBytes: Long = 128L * 1024 * 1024,
                   zorderBy: Seq[String] = Seq.empty,
                   minFileBytes: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val snap = liveSnapshot(root)
    val v = snap.version
    val parts = snap.layout
    require(parts.nonEmpty,
      s"OPTIMIZE … WHERE: table at $root is not hive-partitioned — the " +
        "partition directory is the unit of a scoped rewrite (use plain " +
        "OPTIMIZE for a full compaction)")
    val refs = org.apache.spark.sql.graft.NativeColumns.toExpr(predicate)
      .references.map(_.name).toSet
    require(refs.nonEmpty && refs.subsetOf(parts.toSet),
      s"OPTIMIZE … WHERE predicate may reference partition columns only " +
        s"(${parts.mkString(", ")}); got ${refs.mkString(", ")}")
    // evaluate the predicate against the partition SPECS (directory
    // names, typed via the snapshot schema) — partition-count-sized
    // driver work that sizes the rewrite and detects the no-op, with
    // the same null semantics as the scan (hive default partition →
    // NULL → predicate never true)
    val live0 = prunedVersionRead(spark, snap, Seq.empty, keepMeta = true)
    val types = parts.map(p => p -> live0.schema(p).dataType).toMap
    val specs = showPartitions(snap)
    if (specs.isEmpty) return v
    import scala.jdk.CollectionConverters._
    // each `k=v` segment maps to its column BY KEY NAME (never by
    // position — a layout listed in a different order than `parts`
    // must not shuffle values across columns), values hive-UNESCAPED
    // before typing; the raw spec string stays alongside for the
    // directory paths the rewrite lists
    val strDf = spark.createDataFrame(
      specs.map { s =>
        val kv = s.split('/').toSeq.map { seg =>
          val Array(k, v) = seg.split("=", 2)
          unescapePathName(k) -> unescapePathName(v)
        }.toMap
        org.apache.spark.sql.Row.fromSeq(s +: parts.map(p =>
          kv.getOrElse(p, throw new IllegalArgumentException(
            s"partition spec $s lacks layout column $p"))))
      }.asJava,
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__gvt_spec",
          org.apache.spark.sql.types.StringType) +:
          parts.map(p => org.apache.spark.sql.types.StructField(p,
            org.apache.spark.sql.types.StringType))))
    val hiveNull = "__HIVE_DEFAULT_PARTITION__"
    val typed = parts.foldLeft(strDf)((d, p) => d.withColumn(p,
      when(col(p) === hiveNull, lit(null)).otherwise(col(p)).cast(types(p))))
    val matchedSpecs = typed.filter(predicate)
      .select("__gvt_spec").collect().map(_.getString(0)).toSeq
    if (matchedSpecs.isEmpty) return v
    // small-file-only scope (`gvt.optimize.minFileBytes`, Delta's
    // minFileSize semantics applied WITHIN the WHERE scope): only files
    // below the threshold rewrite, so a SCHEDULED scoped OPTIMIZE is
    // idempotent — a partition already packed to >= threshold files
    // re-churns nothing (no new version, no DV, untouched bytes).
    // Z-ordered scoped rewrites keep full-scope semantics (clustering
    // must cover every row, Delta's ZORDER contract).
    minFileBytes.filter(_ => zorderBy.isEmpty).foreach { minB =>
      val cands = snap.dataBearingDirs
        .flatMap(d => matchedSpecs.map(s => s"$d/$s"))
        .flatMap(listDataFilesWithSize)
        .filter(_._2 < minB)
        .filterNot { case (f, _) => snap.elided(normFileId(f)) }
      if (cands.size < 2) return v
      val n = math.max(1,
        math.ceil(cands.map(_._2).sum.toDouble / targetFileBytes).toInt)
      val hitS = readLiveFiles(spark, snap, cands.map(_._1),
        partitioned = true)
      return commitDv(spark, snap, hitS,
        Some(hitS.drop("__gvt_file", "__gvt_pos").coalesce(n)),
        s"OPTIMIZE_WHERE(small<${minB}B,n=${cands.size})")
    }
    // size the bin-pack from the matching directories' bytes — listing
    // only, no data read
    val totalBytes = snap.dataBearingDirs
      .flatMap(d => matchedSpecs.map(s => s"$d/$s"))
      .flatMap(listDataFilesWithSize).map(_._2).sum
    val nFiles = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // partition pruning does the selection: `predicate` references only
    // directory-derived columns, so each union child's scan plans over
    // the matching subdirectories alone
    val hit = live0.filter(predicate)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lazy: the z-order bounds job runs inside commitDv's release scope
    lazy val (rewritten, op) = clusteredRewrite(
      hit.drop("__gvt_file", "__gvt_pos"), parts, zorderBy, nFiles,
      "OPTIMIZE_WHERE")
    commitDv(spark, snap, hit, Some(rewritten), op, statsCols = zorderBy)
  }

  /** The LIVE rows of `files` (members of `snap`'s chain), in logical
    * column space with `(__gvt_file, __gvt_pos)` provenance, persisted
    * for the caller's DV commit: vectors anti-joined, the mapping
    * applied (write() re-maps), and a zero-row full-schema anchor
    * unioned in — selected files may predate an evolved column, and the
    * rewrite must still carry it (NULLs). */
  private def readLiveFiles(spark: SparkSession, snap: Snapshot,
                            files: Seq[String], partitioned: Boolean): DataFrame = {
    val tagged = readFileGroups(spark, files, partitioned, withRowIds)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val masked =
      if (snap.dvDirs.isEmpty) tagged
      else applyDv(spark, tagged, snap.dvDirs, keepMeta = true)
    snap.colmap.map(applyColmap(masked, _, keepMeta = true)).getOrElse(masked)
      .unionByName(emptySnapshot(spark, snap), allowMissingColumns = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Non-hidden files under `dir` with their byte sizes ([[listDataFiles]]). */
  private def listDataFilesWithSize(dir: String): Seq[(String, Long)] =
    listDataStatuses(dir).map(st => (st.getPath.toString, st.getLen))

  /** The statuses of [[listDataFiles]]. */
  private def listDataStatuses(dir: String): Seq[FileStatus] = {
    val p = new HPath(dir)
    val fc = fcOf(p)
    if (!fc.util.exists(p)) return Nil
    def walk(d: HPath): List[FileStatus] =
      fc.util.listStatus(d).toList.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else List(st)
      }
    walk(p)
  }

  /** Small-file-only OPTIMIZE (Delta's actual bin-packing semantics:
    * only files below `smallFileBytes` are rewritten; files already at
    * target size are never touched). The selected files' LIVE rows are
    * re-packed into ~`targetFileBytes` files and committed as ONE
    * deletion-vector commit masking the originals — whole-file elision
    * then drops the originals from every subsequent scan. Cost is
    * O(small files) at ANY table size: on a 100 TB table that is 99%
    * well-packed, this touches only the ragged tail the last day of
    * streaming appends left behind, where the full [[compact]] rewrite
    * would cost O(table). Content-identical → CDF-neutral (the
    * OPTIMIZE-family contract). Returns the new version (the current
    * version when fewer than two candidate files exist — packing one
    * file is a no-op). */
  def compactSmall(spark: SparkSession, root: String,
                   smallFileBytes: Long = 32L * 1024 * 1024,
                   targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = liveSnapshot(root)
    val cands = snap.dataBearingDirs
      .flatMap(listDataFilesWithSize)
      .filter(_._2 < smallFileBytes)
      .filterNot { case (f, _) => snap.elided(normFileId(f)) }
    if (cands.size < 2) return snap.version
    val nFiles = math.max(1,
      math.ceil(cands.map(_._2).sum.toDouble / targetFileBytes).toInt)
    val hit = readLiveFiles(spark, snap, cands.map(_._1), snap.layout.nonEmpty)
    commitDv(spark, snap, hit,
      Some(hit.drop("__gvt_file", "__gvt_pos").coalesce(nFiles)),
      s"OPTIMIZE_SMALL(<${smallFileBytes}B,n=${cands.size})")
  }

  /** The table's registered clustering keys (`gvt.clusterBy`). */
  private[graft] def clusterByOf(root: String): Seq[String] =
    (try tblProperties(root) catch {
      case scala.util.control.NonFatal(_) => Map.empty[String, String]
    }).get("gvt.clusterBy").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Incremental clustering OPTIMIZE (Delta Liquid Clustering
    * analogue): with `gvt.clusterBy = c1[,c2[,c3[,c4]]]` registered
    * (TBLPROPERTIES or `ALTER TABLE … CLUSTER BY`), plain `OPTIMIZE t`
    * rewrites ONLY the chain members not already clustered on the
    * CURRENT keys — each clustering commit stamps `_clustered` with its
    * key list, so the selection is metadata-only — as ONE
    * deletion-vector commit: O(new data since the last OPTIMIZE) at any
    * table size, and a SCHEDULED optimize is idempotent (no commit at
    * all when everything is clustered; changing the keys naturally
    * re-clusters everything, Delta's re-cluster-on-key-change). One key
    * sorts linearly; 2-4 keys z-order (Morton). Clustering bounds come
    * from the rewritten slice itself — per-increment clustering, the
    * liquid trade: new data clusters among itself and zone maps stay
    * file-accurate; a FULL re-cluster remains the explicit
    * `OPTIMIZE t ZORDER BY (…)`. Content-identical ⇒ CDF-neutral.
    * Returns the new version (the current one on no-op). */
  def clusterIncremental(spark: SparkSession, root: String,
                         targetFileBytes: Long = 128L * 1024 * 1024,
                         force: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val snap = liveSnapshot(root)
    val v = snap.version
    val keys = clusterByOf(root)
    require(keys.nonEmpty && keys.size <= 4,
      s"incremental clustering: gvt.clusterBy must name 1-4 columns at $root")
    val parts = snap.layout
    require(!keys.exists(parts.contains),
      s"clusterBy columns must not be partition keys ($parts)")
    val vdirRe = "^(.*)/v=(\\d+)$".r
    // `force` (OPTIMIZE … FULL): ignore the stamps, re-cluster every
    // live file on the current keys — one global layout
    val cands = snap.dataBearingDirs
      .filterNot {
        case _ if force => false
        case vdirRe(r, vv) => readMeta(r, vv.toLong, "_clustered")
          .map(_.trim).contains(keys.mkString(","))
        case _ => false
      }
      .flatMap(listDataFilesWithSize)
      .filterNot { case (f, _) => snap.elided(normFileId(f)) }
    if (cands.isEmpty) return v
    val nFiles = math.max(1,
      math.ceil(cands.map(_._2).sum.toDouble / targetFileBytes).toInt)
    val hit = readLiveFiles(spark, snap, cands.map(_._1), parts.nonEmpty)
    val data = hit.drop("__gvt_file", "__gvt_pos")
    // lazy: the z-order bounds job runs inside commitDv's release scope
    lazy val (rewritten, op) =
      if (keys.size == 1) {
        val order = parts.map(col) :+ col(keys.head)
        (data.repartitionByRange(nFiles, order: _*)
          .sortWithinPartitions(order: _*),
          s"OPTIMIZE_CLUSTER(sort=${keys.head})")
      } else clusteredRewrite(data, parts, keys, nFiles, "OPTIMIZE_CLUSTER")
    // zone maps on the cluster keys PLUS any registered
    // gvt.dataSkippingCols — passing only the keys would silently
    // drop the table's standing skip columns on the rewritten rows
    // (explicit statsCols bypass the property fallback in write())
    val skipExtra = (try tblProperties(root) catch {
      case scala.util.control.NonFatal(_) => Map.empty[String, String]
    }).get("gvt.dataSkippingCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .filter { c =>
        data.schema.find(_.name == c).map(_.dataType).exists(dt =>
          dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
            dt == org.apache.spark.sql.types.StringType)
      }
    commitDv(spark, snap, hit, Some(rewritten), op,
      statsCols = (keys ++ skipExtra).distinct,
      metaFiles = Map("_clustered" -> keys.mkString(",")))
  }

  /** SHOW PARTITIONS: the live snapshot's hive partition specs, from
    * DIRECTORY NAMES alone — no job, no data read (directory-granular:
    * a partition whose every row a deletion vector removed still lists
    * until compaction materializes the delete). Sorted `p=v[/q=w…]`
    * strings, duplicates across chain members collapsed. */
  def showPartitions(root: String): Seq[String] = showPartitions(liveSnapshot(root))

  private def showPartitions(snap: Snapshot): Seq[String] = {
    val dirs = snap.dataBearingDirs
    val parts = snap.layout
    require(parts.nonEmpty,
      s"SHOW PARTITIONS: table at ${snap.root} is not partitioned")
    if (dirs.isEmpty) return Seq.empty // created empty: no partitions yet
    def walk(d: HPath, depth: Int, prefix: List[String]): Seq[List[String]] = {
      if (depth == 0) return Seq(prefix)
      val fc = fcOf(d)
      fc.util.listStatus(d).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st =>
          walk(st.getPath, depth - 1, prefix :+ st.getPath.getName))
    }
    dirs.flatMap(d => walk(new HPath(d), parts.size, Nil))
      .map(_.mkString("/")).distinct.sorted
  }

  /** CONVERT TO DELTA analogue: turn a directory of plain parquet —
    * flat files or a hive `name=value` partition layout — into a gvt
    * table IN PLACE. The files are RENAMED into the first snapshot dir
    * (one metadata op per top-level entry, zero bytes copied — at
    * 100 TB this is the difference between a conversion and a
    * migration), then the normal commit protocol publishes v1: the
    * claim + put-if-absent marker arbitrate racing converters exactly
    * like racing writers, and every downstream facility (time travel,
    * appends, DML, CDF, maintenance) works from the converted commit.
    * Refuses directories that are already gvt tables or that carry
    * non-parquet data files. On a failed commit the renames are
    * reverted best-effort and the error rethrown. */
  def convertFromParquet(spark: SparkSession, root: String): Long = {
    require(latestVersion(root).isEmpty,
      s"convertFromParquet: $root is already a gvt table")
    val rootP = new HPath(root)
    val fc = fcOf(rootP)
    require(fc.util.exists(rootP), s"convertFromParquet: no such dir $root")
    val entries = fc.util.listStatus(rootP).toSeq.filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    require(entries.nonEmpty, s"convertFromParquet: $root holds no data")
    entries.filterNot(_.isDirectory).foreach(st => require(
      st.getPath.getName.endsWith(".parquet"),
      s"convertFromParquet: non-parquet data file ${st.getPath.getName}"))
    // a loose `v=N` entry would collide with the snapshot layout the
    // conversion is about to create (and suggests a half-converted or
    // foreign table) — refuse rather than nest it
    entries.foreach(st => require(!st.getPath.getName.matches("v=\\d+"),
      s"convertFromParquet: $root already contains a version-like entry " +
        s"${st.getPath.getName}"))
    val next = claimNextVersion(root)
    val vDir = new HPath(s"$root/v=$next")
    val moved = scala.collection.mutable.ListBuffer.empty[(HPath, HPath)]
    var committed = false
    try {
      fc.mkdir(vDir, org.apache.hadoop.fs.permission.FsPermission
        .getDirDefault, true)
      entries.foreach { st =>
        val dst = new HPath(vDir, st.getPath.getName)
        fc.rename(st.getPath, dst)
        moved += ((st.getPath, dst))
      }
      // schema sanity: the moved files must read as one parquet relation
      // (hive layout included) — fails the convert BEFORE it publishes
      // (a plain dir read: no snapshot of the uncommitted version)
      readDirs(spark, Seq(vDir.toString)).schema
      writeString(new HPath(vDir, "_commit_ts"),
        System.currentTimeMillis.toString, overwrite = true)
      writeString(new HPath(vDir, "_operation"), "CONVERT", overwrite = true)
      writeString(new HPath(vDir, "_prev"), "none", overwrite = true)
      writeString(commitMarker(root, None), next.toString, overwrite = false)
      committed = true
      try {
        writeString(latestFile(root), next.toString, overwrite = true)
      } catch { case scala.util.control.NonFatal(_) => () }
      next
    } catch {
      case e: Throwable if !committed =>
        moved.reverseIterator.foreach { case (src, dst) =>
          try fc.rename(dst, src)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        delete(vDir, recursive = true)
        throw e
    } finally delete(new HPath(root, s"_claim_v=$next"), recursive = false)
  }

  /** REORG TABLE … APPLY (PURGE) analogue (Delta's physical-cleanup
    * verb): rewrite the live snapshot so its PHYSICAL layout matches
    * its logical view — deletion vectors materialize (deleted rows
    * leave the files), dropped/renamed columns' data is not copied
    * (retired physicals fall out of existence), and the column mapping
    * RESETS: the new snapshot carries no `_colmap`, so reads return to
    * the plain file-relation path and drop the per-read mapping
    * resolution a long-mapped chain pays. History below the purge keeps
    * its own mapping and vectors (time travel unaffected) until VACUUM
    * reclaims it. O(live data) — the same cost class as [[compact]],
    * which handles the DV half on its own; purge is the verb when
    * mapping debt must ALSO leave the storage. */
  def purge(spark: SparkSession, root: String,
            targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = liveSnapshot(root)
    val v = snap.version
    val dirs = snap.dataDirs
    // partition layout: drop/rename of partition columns is refused, so
    // the physical dir layout's names ARE the logical ones
    val parts = snap.layout
    val totalBytes = dirs.map(treeBytes).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // logical space, DVs applied
    write(readSnapshot(spark, snap).coalesce(nFiles), root, partitionBy = parts,
      metaFiles = carriedMetaOfChain(snap) + ("_colmap" -> ""),
      baseVersion = Some(v), operation = "REORG(PURGE)",
      assignIdentity = false)
  }

  /** Retention (VACUUM analogue): keep the newest `keep` COMMITTED
    * snapshots — retention counts only the committed chain, so
    * crash-orphaned never-committed directories can't occupy keep slots
    * — and garbage-collect orphan directories older than
    * `orphanGraceMs` (the grace period protects an IN-FLIGHT writer
    * whose data landed but whose commit marker hasn't yet; age = the
    * directory's filesystem modification time). Commit markers and the
    * checkpoint are rewritten to match the surviving chain; if the
    * checkpoint rewrite fails it is deleted so readers fall back to the
    * pure chain walk rather than trusting stale entries. Returns the
    * dropped version numbers, ascending.
    *
    * `retainMinMs` (Delta retention-window analogue, default 24h): a
    * snapshot committed within the last `retainMinMs` is NEVER dropped,
    * whatever its retention rank — a concurrent reader's in-flight plan
    * (or a change-feed consumer's cursor) may still reference it, and
    * there is no cluster-wide reader registry to consult. The contract:
    * readers and CDF consumers lagging more than `retainMinMs` behind
    * the vacuum are not protected (exactly Delta's
    * `deletedFileRetentionDuration` boundary); pass 0 only when no
    * concurrent readers exist (tests, single-process batch). Age comes
    * from the commit timestamp, falling back to directory mtime for
    * pre-timestamp snapshots. */
  def vacuum(root: String, keep: Int,
             orphanGraceMs: Long = 24L * 3600 * 1000,
             retainMinMs: Long = 24L * 3600 * 1000,
             dryRun: Boolean = false): Seq[Long] = {
    val chain = committedChain(root)
    val committed = chain.map(_.version)
    val nowMs = System.currentTimeMillis
    val young = chain.filter { c =>
      val age = c.tsMillis.getOrElse {
        val p = new HPath(s"$root/v=${c.version}")
        fcOf(p).getFileStatus(p).getModificationTime
      }
      age > nowMs - retainMinMs
    }.map(_.version).toSet
    // a retained APPEND version's rows live partly in its `_parent`
    // chain — every ancestor of a kept version must survive, whatever
    // its own retention rank (compaction folds chains so this set stays
    // bounded in practice)
    val keepBase = committed.takeRight(keep).toSet ++ latestVersion(root) ++ young
    // walk BOTH link kinds: a kept deletion-vector commit's rows live
    // entirely in its _dv_parent chain
    val links = scala.collection.mutable.Map.empty[Long, Option[Long]]
    def link(v: Long) = links.getOrElseUpdate(v, chainLink(root, v))
    val keepSet = keepBase.flatMap { v =>
      var chain = List(v)
      var parent = link(v)
      while (parent.isDefined) { chain = parent.get :: chain
        parent = link(parent.get) }
      chain
    }
    val dropCommitted = committed.filterNot(keepSet)
    val now = System.currentTimeMillis
    val fc = fcOf(new HPath(root))
    val orphans = versions(root)
      .filterNot(committed.contains).filterNot(keepSet)
      .filter { v =>
        val st = fc.getFileStatus(new HPath(s"$root/v=$v"))
        st.getModificationTime <= now - orphanGraceMs
      }
    val drop = (dropCommitted ++ orphans).sorted
    // DRY RUN (Delta's VACUUM … DRY RUN): report what WOULD be dropped,
    // touch nothing — markers and checkpoint included
    if (dryRun) return drop
    drop.foreach(v => delete(new HPath(s"$root/v=$v"), recursive = true))
    // vacuum edits history under an UNCHANGED tip — cached chains (and
    // anything keyed on dropped version dirs) must not outlive it
    if (drop.nonEmpty) invalidate(Some(root))
    // GC commit markers that reference a dropped version on either side,
    // plus empty "husk" markers (a writer that crashed between the
    // marker create and its content write) past the grace period — they
    // would otherwise block their base version forever
    val droppedSet = drop.toSet
    listNames(new HPath(s"$root/_commits")).foreach { name =>
      val mp = new HPath(s"$root/_commits", name)
      val key = name.stripPrefix("after=")
      val content = readString(mp).map(_.trim)
      val keyDropped = key != "none" &&
        scala.util.Try(key.toLong).toOption.exists(droppedSet)
      val targetDropped = content.flatMap(c =>
        scala.util.Try(c.toLong).toOption).exists(droppedSet)
      // crashed overwrite() litter: a writer that died between its
      // temp write and the atomic rename leaves a `.<name>.tmp.<id>`
      // file no reader ever resolves — sweep it past the grace period
      val agedTmpLitter = name.startsWith(".") && name.contains(".tmp.") &&
        fc.getFileStatus(mp).getModificationTime <= now - orphanGraceMs
      val agedHusk = !agedTmpLitter && content.exists(_.isEmpty) &&
        fc.getFileStatus(mp).getModificationTime <= now - orphanGraceMs
      if (keyDropped || targetDropped || agedHusk || agedTmpLitter)
        delete(mp, recursive = false)
    }
    try checkpoint(root)
    catch { case scala.util.control.NonFatal(_) =>
      delete(checkpointFile(root), recursive = false) }
    // ── file-granular pass: DV-dead data files are physically
    // reclaimed. A file fully masked at the live tip whose LAST masking
    // commit is at-or-below every retained read point carries no row
    // any supported read can see — deleting it frees the storage of a
    // masked-out partition WITHOUT the O(live) REORG PURGE rewrite.
    // Time travel below that commit was already outside the supported
    // window (the version-drop contract above); the `_purged` record
    // keeps elision and the row-count arithmetic exact without the
    // files' footers. Pure metadata: `_dvc` text reads + one footer
    // read per candidate.
    latestVersion(root).foreach { live =>
      val dvDirs = snapshot(root, live).dvDirs
      if (dvDirs.nonEmpty && dvDirs.forall(_.startsWith(s"$root/"))) {
        val minRead = keepBase.min
        val already = purgedEntries(root)
        // per-file cumulative masks + LAST masking commit (masks never
        // shrink: a fully-masked file is never touched by a later DV,
        // so the last toucher IS the completion commit) + the commit-
        // recorded footer total where available (no footer read then)
        val cum = scala.collection.mutable.Map.empty[String, Long]
        val raw = scala.collection.mutable.Map.empty[String, String]
        val last = scala.collection.mutable.Map.empty[String, Long]
        val tot = scala.collection.mutable.Map.empty[String, Long]
        dvDirs.map { d =>
          (d.stripSuffix("/_dv").substring(d.stripSuffix("/_dv")
            .lastIndexOf("v=") + 2).toLong, d)
        }.sortBy(_._1).foreach { case (v, d) =>
          readString(new HPath(d.stripSuffix("_dv") + "_dvc")).foreach {
            _.linesIterator.filter(_.nonEmpty).foreach { line =>
              parseDvcLine(line).foreach { case (fRaw, n, t) =>
                val f = normFileId(fRaw)
                cum(f) = cum.getOrElse(f, 0L) + n
                raw(f) = fRaw
                last(f) = v
                t.foreach(tot(f) = _)
              }
            }
          }
        }
        // a prior pass that crashed between its `_purged` record and
        // the deletes leaves recorded-but-present files: re-delete them
        // (reads already elide them by record, so this is pure storage
        // reclaim — the repair the record-first ordering makes possible),
        // and make sure the purge floor exists (a legacy record written
        // before the floor was introduced — current minRead is a
        // conservative, loud-side floor)
        cum.keys.filter(already.contains).foreach { f =>
          try { delete(new HPath(new java.net.URI(raw(f))),
            recursive = false); () }
          catch { case scala.util.control.NonFatal(_) => () }
        }
        if (already.nonEmpty && readPurgeFloor(root).isEmpty) {
          writeString(purgeFloorFile(root), minRead.toString, overwrite = true)
          invalidate(Some(root))
        }
        // probe only files this pass could actually reclaim: unrecorded,
        // total-less, AND mask-complete at-or-below every retained read
        // point — a recently-masked file can never qualify, so its
        // footer read would be pure waste
        val probed = footerRowsOf(cum.keys.toSeq
          .filter(f => !already.contains(f) && !tot.contains(f) &&
            last(f) <= minRead)
          .map(raw))
        val reclaimed = cum.toSeq.collect {
          case (f, n) if !already.contains(f) && last(f) <= minRead &&
            tot.get(f).orElse(probed.get(raw(f))).exists(n >= _) => (f, n)
        }
        if (reclaimed.nonEmpty) {
          // CRASH ORDER: floor, then record, then deletes. The
          // minimum-readable-version floor lands FIRST (versions below
          // it may be missing reclaimed files — readVersion refuses
          // them LOUDLY, the version-drop contract, instead of a
          // listing-based read silently returning fewer rows); a crash
          // after the floor alone is benign (files still present and
          // still fully masked by counts). The `_purged` record lands
          // BEFORE any file is deleted — a crash between record and
          // deletes leaves recorded-but-still-present files, which
          // readers elide by record, [[metaRowCount]]/[[analyzeTable]]
          // exclude from footer sums, and a re-run re-deletes. The old
          // delete-then-record order left a missing-but-unrecorded file
          // whose footer probe failed every subsequent read.
          val floor = math.max(minRead,
            readPurgeFloor(root).getOrElse(Long.MinValue))
          writeString(purgeFloorFile(root), floor.toString, overwrite = true)
          val vdir = "^(.*/v=\\d+)/".r
          // GC: entries whose version dir is gone (version-drop vacuum
          // removed it) carry no reachable masks. The existence probe
          // resolves against the TABLE ROOT's filesystem — record keys
          // are scheme-free, and probing them on the default FS would
          // silently drop live entries for tables on a non-default FS.
          val rootFc = fcOf(new HPath(root))
          val merged = (already ++ reclaimed).filter { case (f, _) =>
            vdir.findFirstMatchIn(f).map(_.group(1)).exists { d =>
              rootFc.util.exists(rootFc.makeQualified(new HPath(d)))
            }
          }
          writeString(purgedFile(root),
            merged.toSeq.sorted.map { case (f, n) => s"$f\t$n" }
              .mkString("\n"), overwrite = true)
          reclaimed.foreach { case (f, _) =>
            delete(new HPath(new java.net.URI(raw(f))), recursive = false)
          }
          invalidate(Some(root))
        }
      }
    }
    drop
  }
}
