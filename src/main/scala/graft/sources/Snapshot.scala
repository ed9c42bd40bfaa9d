package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One gvt table version, resolved once (Delta's `Snapshot`): every
  * metadata fact a reader or writer of `(root, version)` needs, read
  * from the version's commit files and its data chain a single time and
  * then shared by every statement that addresses the version.
  *
  * Built only by [[VersionedTable.snapshot]], which caches snapshots in
  * one bounded LRU and extends a predecessor's cached snapshot when a
  * new tip resolves; see the "Snapshots" section of [[VersionedTable]]
  * for where they are invalidated.
  *
  * @param stamp      fingerprint of the version dir when resolved — a
  *                   cache entry whose dir changed since is not served
  * @param metaNames  the meta files (`_`-prefixed) the version dir holds
  * @param metas      their contents (`_prev`, `_operation`, `_dvc`, user
  *                   watermarks, …) — presence markers and history-only
  *                   payloads are listed but read on demand
  * @param chain      the committed chain up to this version, ascending
  * @param dataDirs   version dirs composing the snapshot, base-first,
  *                   across `_parent` / `_dv_parent` / `_clone_src`
  * @param dvDirs     the chain's deletion-vector payload dirs
  * @param dvCounts   each DV dir's `_dvc` text, aligned with `dvDirs`
  * @param schemaOnly chain dirs that are zero-row schema-only slices
  * @param colmap     the logical→physical column mapping (None = none)
  * @param flat       true when no chain dir has a hive layout
  * @param dirLayout  partition columns of the first data-bearing dir
  * @param purgeFloor the lowest version VACUUM's file purge left readable
  * @param protocol   newest `_protocol` entry number and its
  *                   (reader, writer) feature sets
  */
private[graft] final class Snapshot(
    val root: String,
    val version: Long,
    private[sources] val stamp: Long,
    private[sources] val metaNames: Set[String],
    private[sources] val metas: Map[String, String],
    val chain: Seq[VersionedTable.CommitInfo],
    val dataDirs: Seq[String],
    val dvDirs: Seq[String],
    private[sources] val dvCounts: Seq[String],
    val schemaOnly: Set[String],
    val colmap: Option[VersionedTable.Colmap],
    val flat: Boolean,
    private[sources] val dirLayout: Seq[String],
    val purgeFloor: Option[Long],
    private[sources] val protocol: (Long, (Set[String], Set[String])),
    elide: Snapshot => Set[String]) {

  /** Every table root the data chain reads from: a shallow clone's
    * chain crosses into its source table. */
  val roots: Set[String] =
    dataDirs.map(d => d.substring(0, d.lastIndexOf("/v="))).toSet

  /** Chain dirs that hold rows (schema-only slices dropped). */
  def dataBearingDirs: Seq[String] = dataDirs.filterNot(schemaOnly)

  /** Content of meta file `name` in this version's own dir. */
  def meta(name: String): Option[String] =
    if (!metaNames(name)) None
    else metas.get(name).orElse(
      VersionedTable.readString(new Path(s"$root/v=$version", name)))

  def readerFeatures: Set[String] = protocol._2._1

  /** Hive partition columns: the first data-bearing dir's layout, or —
    * for a chain of schema-only slices only (a freshly created table) —
    * the newest `_layout` declared along the committed chain. */
  lazy val layout: Seq[String] =
    if (dataBearingDirs.nonEmpty) dirLayout
    else VersionedTable.declaredLayout(this)

  /** The logical schema (column mapping applied). */
  lazy val schema: StructType =
    VersionedTable.readSnapshot(SparkSession.active, this).schema

  /** Data files whose every row the chain's deletion vectors mask, as
    * scheme-free paths — scans skip them. */
  lazy val elided: Set[String] = elide(this)
}
