package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.NativeColumns
import graft.sources.VersionedTable

/** SQL `INSERT INTO` / `INSERT OVERWRITE` over gvt relations, routed
  * through the versioned commit protocol — the last DML verb the SQL
  * surface was missing (DELETE/UPDATE/MERGE live in [[GvtDml]]; the
  * reference's consumption notebook is SQL-first,
  * 03_gold_metrics_serverless.py:78-118). Spark would otherwise plan
  * the insert as a plain file write INTO the resolved snapshot's
  * version directories — bypassing the commit protocol entirely (no
  * new version, no schema gate, no marker, a corrupted live snapshot)
  * — so every gvt target is intercepted here at resolution and
  * rewritten into an eager command:
  *
  *   INSERT INTO t SELECT …                → append commit (retried on
  *                                           conflict — pure row adds
  *                                           compose with any winner)
  *   INSERT INTO t (a, b) SELECT …         → unlisted columns fill from
  *                                           their DEFAULT / identity
  *                                           registration, else NULL
  *   INSERT INTO t PARTITION (p=v) …       → static values become
  *                                           columns; append commit
  *   INSERT OVERWRITE t SELECT …           → full overwrite commit in
  *                                           the table's layout — or,
  *                                           under `spark.sql.sources.
  *                                           partitionOverwriteMode=
  *                                           dynamic` on a partitioned
  *                                           table, replace only the
  *                                           partitions the batch
  *                                           touches (Delta parity)
  *   INSERT OVERWRITE t PARTITION (p=v) …  → replaceWhere(p=v) — one
  *                                           O(replaced+new) DV commit,
  *                                           other partitions untouched
  *   INSERT OVERWRITE t PARTITION (p) …    → dynamic: the batch's
  *                                           DISTINCT p values become
  *                                           one replaceWhere commit
  *                                           over their disjunction —
  *                                           O(replaced+new), untouched
  *                                           partitions keep their
  *                                           files byte-identical
  *
  * Inexpressible shapes fail LOUDLY (never silently mis-execute):
  * `IF NOT EXISTS`, and a dynamic spec naming a non-layout column (the
  * hive directory layout is the unit of replacement). Time-travel-
  * pinned relations are read-only. Assignment uses store-assignment
  * casts per column (positional without a column list, by-name with
  * one or with `BY NAME`). */
object GvtInsertGuard extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case i: InsertIntoStatement if i.query.resolved =>
      GvtDml.gvtRootOf(i.table) match {
        case Some((root, pinned)) =>
          if (pinned) throw new UnsupportedOperationException(
            "INSERT into a time-travel-pinned gvt relation: historical " +
              "snapshots are read-only — address the live table")
          if (i.ifPartitionNotExists) throw new UnsupportedOperationException(
            "gvt INSERT: IF NOT EXISTS is not supported")
          val dynamic = i.partitionSpec.collect { case (k, None) => k }.toSeq
          val static = i.partitionSpec.collect { case (k, Some(v)) => k -> v }
          GvtInsertCommand(root, i.query, i.overwrite, static, dynamic,
            i.userSpecifiedCols, i.byName)
        case None => i
      }
  }
}

/** The eager insert: aligns the query's output to the LIVE table
  * schema, then commits through append / write / replaceWhere. */
case class GvtInsertCommand(root: String, query: LogicalPlan,
                            overwrite: Boolean,
                            staticParts: Map[String, String],
                            dynamicParts: Seq[String],
                            userCols: Seq[String], byName: Boolean)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    val snap = VersionedTable.latestSnapshot(root).getOrElse(
      throw new IllegalArgumentException(s"gvt INSERT: no table at $root"))
    val target = snap.schema
    val targetNames = target.fieldNames.toSeq
    def typeOf(n: String) = target(target.fieldIndex(n)).dataType
    (staticParts.keys ++ dynamicParts).foreach(k =>
      require(targetNames.contains(k),
        s"gvt INSERT: PARTITION column $k is not a table column"))

    val src0 = NativeColumns.ofPlan(spark, query)
    // the columns the QUERY supplies, as target-column names
    val named =
      if (userCols.nonEmpty) {
        require(userCols.size == src0.columns.length,
          s"gvt INSERT: column list has ${userCols.size} names but the " +
            s"query produces ${src0.columns.length} columns")
        userCols.foreach(c => require(targetNames.contains(c),
          s"gvt INSERT: unknown target column $c"))
        src0.toDF(userCols: _*)
      } else if (byName) {
        src0.columns.foreach(c => require(targetNames.contains(c),
          s"gvt INSERT BY NAME: unknown target column $c"))
        src0
      } else {
        // positional: the query covers every non-static column in
        // table-schema order (the SQL assignment rule)
        val expected = targetNames.filterNot(staticParts.contains)
        require(src0.columns.length == expected.size,
          s"gvt INSERT: query produces ${src0.columns.length} columns, " +
            s"table expects ${expected.size} (${expected.mkString(", ")})")
        src0.toDF(expected: _*)
      }
    require(named.columns.toSeq.distinct.size == named.columns.length,
      "gvt INSERT: duplicate target columns in the insert list")
    staticParts.keys.foreach(k =>
      require(!named.columns.contains(k),
        s"gvt INSERT: PARTITION column $k also supplied by the query"))
    val withStatic = staticParts.foldLeft(named) { case (d, (k, v)) =>
      d.withColumn(k, lit(v).cast(typeOf(k)))
    }
    // store-assignment casts + target-schema column order; columns the
    // insert does NOT supply stay OMITTED so the write path fills them
    // from their DEFAULT / identity registration — unless neither is
    // registered, in which case they insert NULL explicitly
    val supplied = withStatic.columns.toSet
    val filled = VersionedTable.columnDefaults(root).keySet ++
      VersionedTable.identityColumns(root).keySet ++
      VersionedTable.generatedColumns(root).keySet
    val out = targetNames.flatMap {
      case n if supplied(n) => Some(withStatic(n).cast(typeOf(n)).as(n))
      case n if filled(n) => None
      case n => Some(lit(null).cast(typeOf(n)).as(n))
    }
    val aligned = withStatic.select(out: _*)

    if (!overwrite) {
      // an append composes with ANY concurrent winner — retry is safe
      retryConflict { VersionedTable.append(aligned, root,
        operation = "INSERT") }
      return Seq.empty
    }
    val layout = snap.layout
    // dynamic partitions to resolve from the batch: an explicit
    // `PARTITION (p)` key, or — under the SQL-standard conf
    // spark.sql.sources.partitionOverwriteMode=dynamic — every layout
    // column of a bare INSERT OVERWRITE (Delta/Hive dynamic semantics:
    // replace exactly the partitions the batch touches)
    val dynMode = spark.conf
      .get("spark.sql.sources.partitionOverwriteMode", "static")
      .equalsIgnoreCase("dynamic")
    val dynCols: Seq[String] =
      if (dynamicParts.nonEmpty) dynamicParts
      else if (dynMode && staticParts.isEmpty) layout
      else Seq.empty
    if (dynCols.isEmpty && staticParts.isEmpty) {
      // full overwrite, preserving the table's hive layout the way
      // append() follows the base's
      VersionedTable.write(aligned, root, partitionBy = layout,
        operation = "INSERT OVERWRITE")
      return Seq.empty
    }
    val staticPred = staticParts.map { case (k, v) =>
      col(k) === lit(v).cast(typeOf(k)): Column }
      .reduceOption(_ && _)
    if (dynCols.isEmpty) {
      // static-partition overwrite: one replaceWhere commit
      retryConflict {
        VersionedTable.replaceWhere(spark, root, staticPred.get, aligned) }
      return Seq.empty
    }
    // dynamic: the replaced scope is the batch's DISTINCT partition
    // tuples ([[VersionedTable.dynamicOverwrite]] — shared with the
    // writer's Overwrite + dynamic mode). Persist across retries: each
    // attempt re-reads the fresh snapshot but the batch is stable.
    val cached = aligned
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a concurrent commit conflicts rather than interleaving;
      // replaceWhere re-reads the fresh snapshot per attempt, so the
      // retry converges on last-writer-wins for the touched partitions
      retryConflict {
        VersionedTable.dynamicOverwrite(spark, root, cached, dynCols,
          staticPred) }
    } finally cached.unpersist()
    Seq.empty
  }

  private def retryConflict[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: VersionedTable.ConcurrentWriteException =>
          if (attempt >= 3) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
