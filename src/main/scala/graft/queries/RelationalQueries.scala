package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables.t
import graft.ops.RelationalOps._
import graft.ops.ZOrder
import graft.marts.GoldMarts

/** SURVEY.md §2 relational operator inventory, registered as verifiable
  * queries over the testdata star schema (role mapping FIXTURES.md §B.1).
  * Every query is deterministic (rounded doubles, dates as strings, total
  * ORDER BY) and has a DuckDB oracle with IDENTICAL output column names.
  */
object RelationalQueries {

  /** Per-invocation scratch dir, deleted at JVM exit: bench runs each
    * sink/CDF query several times and a long-lived driver would
    * otherwise accrete orders-sized snapshots in /tmp unboundedly. */
  private def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(d.toFile)
    }))
    d.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S2 scan + projection pushdown: only 5 of 11 lineitem columns read.
    "q_scan_table" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_returnflag"))),

    // S1 CSV scan with header + enforced schema (FAILFAST), via a local
    // roundtrip of the smallest table. Exercises the bronze ingest path.
    "q_scan_csv" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = tmpDir("graft_csv")
      t(s, dir, "region").write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType, nullable = false),
        StructField("r_name", StringType, nullable = false)))
      graft.sources.Tables.readCsv(s, out, schema).orderBy(col("r_regionkey"))
    }),

    // S4 partitioned sink + read-back with partition pruning layout.
    "q_sink_partitioned" -> ((s, dir) => {
      val out = tmpDir("graft_part")
      graft.sources.Tables.overwritePartitioned(t(s, dir, "orders"), out, "o_orderstatus")
      graft.sources.VersionedTable.readParquetDir(s, out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          rnd(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // File-level data skipping (zone maps) through the `gvt` DataSource:
    // orders snapshotted into 8 files range-partitioned on o_custkey
    // with per-file min/max stats; the PUSHED filter prunes the file
    // list inside the FileIndex at planning (~1-2 of 8 files reach the
    // scan) — no side API, any WHERE clause skips automatically. The
    // pruning must be result-invisible — the oracle is the same filter
    // over the raw table. GvtSpec asserts the executed-scan numFiles
    // reduction; DataSkippingSpec covers the readPruned twin + z-order.
    "q_data_skipping" -> ((s, dir) => {
      val out = tmpDir("graft_skip")
      graft.sources.VersionedTable.write(
        t(s, dir, "orders").repartitionByRange(8, col("o_custkey")),
        s"$out/t", statsCols = Seq("o_custkey"))
      s.read.format("gvt").load(s"$out/t")
        .filter(col("o_custkey") >= 100 && col("o_custkey") <= 200)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          rnd(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // STRING zone-map skipping through gvt: the reference's dominant
    // scope-filter shape (`o_orderstatus = 'F'`, 03_gold_metrics) over
    // a status-clustered layout prunes files at planning via the
    // truncation-sound lexicographic stats — numeric zone maps alone
    // cannot serve a string equality.
    "q_data_skipping_str" -> ((s, dir) => {
      val out = tmpDir("graft_skipstr")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(
        o.repartitionByRange(6, col("status"), col("k")), root,
        statsCols = Seq("status", "k"))
      s.read.format("gvt").load(root).filter(col("status") === "F")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    }),

    // Multi-column data skipping over a z-ordered layout, through gvt:
    // the 2-key range conjunction intersects BOTH columns' zone maps —
    // the read-side payoff of Morton clustering (a linear sort would
    // prune only its leading key). Bounds derive from the table's own
    // min/max with integer arithmetic so the oracle reproduces them
    // exactly.
    "q_data_skipping_multi" -> ((s, dir) => {
      val out = tmpDir("graft_skipm")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val b = li.agg(min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).head
      val (amin, amax, bmin, bmax) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val zk = graft.ops.ZOrder.zorder2(
        graft.ops.ZOrder.rangeBucket(col("l_orderkey"), lit(amin), lit(amax), 16),
        graft.ops.ZOrder.rangeBucket(col("l_partkey"), lit(bmin), lit(bmax), 16))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(
        li.withColumn("_zk", zk).repartitionByRange(16, col("_zk")).drop("_zk"),
        root, statsCols = Seq("l_orderkey", "l_partkey"))
      val (aLo, aHi) = (amin + (amax - amin) / 2,
        amin + (amax - amin) / 2 + (amax - amin) / 8)
      val (bLo, bHi) = (bmin + (bmax - bmin) / 2,
        bmin + (bmax - bmin) / 2 + (bmax - bmin) / 8)
      s.read.format("gvt").load(root)
        .filter(col("l_orderkey") >= aLo && col("l_orderkey") <= aHi &&
          col("l_partkey") >= bLo && col("l_partkey") <= bHi)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).as("sum_key"))
    }),

    // SQL time travel through registered gvt relations (the reference's
    // consumption surface: spark.sql over Delta tables with versionAsOf,
    // 03_gold_metrics_serverless.py:57-64): v1 = all orders, v2 =
    // row-level DELETE of every 13th key; both snapshots queried side by
    // side from ONE table root via temp views pinned at different
    // versions.
    "q_gvt_time_travel" -> ((s, dir) => {
      val out = tmpDir("graft_gvttt")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.deleteWhereVector(s, root, col("k") % 13 === 0)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gvt_tt_v1 USING gvt " +
        s"OPTIONS (path '$root', versionAsOf '1')")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gvt_tt_live USING gvt " +
        s"OPTIONS (path '$root')")
      s.sql("""SELECT status, v1.n AS n_v1, live.n AS n_live
        FROM (SELECT status, count(*) AS n FROM gvt_tt_v1 GROUP BY status) v1
        JOIN (SELECT status, count(*) AS n FROM gvt_tt_live GROUP BY status) live
        USING (status) ORDER BY status""")
    }),

    // S1-variant: ORC source roundtrip (columnar format beyond parquet).
    "q_scan_orc" -> ((s, dir) => {
      val out = tmpDir("graft_orc")
      t(s, dir, "supplier").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // U1 positional union of two same-schema branches (bronze prior+train).
    "q_union" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_linestatus") === "O")
        .union(li.filter(col("l_linestatus") === "F"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // MERGE/upsert (Delta MERGE semantics on plain DataFrames): a derived
    // changeset — price corrections on every 100th order plus brand-new
    // keys — merged into orders; updates win, unmatched rows pass through.
    "q_merge_upsert" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val changes = base.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(base.filter(col("o_orderkey") % 1000 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      mergeUpsert(base, changes, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // CHANGE DATA FEED (Delta CDF analogue): the row-level diff between
    // two committed snapshots — v1 = orders, v2 = deletes (every 97th
    // key) + updates (every 100th repriced) + inserts (every 1000th
    // cloned to a new key) — classified insert/delete/update with
    // Delta's preimage/postimage pair per update. One co-partitioned
    // full-outer join of the snapshots; the base is never rescanned.
    "q_table_changes" -> ((s, dir) => {
      val out = tmpDir("graft_cdf")
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val updates = base.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(base.filter(col("o_orderkey") % 1000 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      graft.sources.VersionedTable.write(base, s"$out/t")
      graft.sources.VersionedTable.write(
        mergeUpsert(base.filter(col("o_orderkey") % 97 =!= 0), updates,
          Seq("o_orderkey")), s"$out/t")
      graft.sources.VersionedTable.changes(s, s"$out/t", 1L, 2L, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("_change_type"))
    }),

    // Incremental aggregate maintenance — the materialized-view delta
    // pattern a lakehouse gold layer needs at 100 TB: the refreshed
    // aggregate comes from MERGING the existing gold rows with a
    // partial aggregate of the changeset (inserts op=+1, deletes
    // op=−1), never rescanning the base facts. count/sum are the
    // mergeable state (new = old + Σop, old_sum + Σop·cents); exact
    // integer cents keep the retraction arithmetic bit-exact. The
    // oracle aggregates the final row set directly — the merged result
    // must equal the from-scratch rebuild. Groups whose count reaches 0
    // drop out (the view deletes the row). Cost: one pass over the
    // DELTA + a gold-sized join; the base table is never read.
    "q_incremental_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderpriority").as("prio"),
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val base = o.filter(col("k") % 10 =!= 0)         // yesterday's facts
      val inserts = o.filter(col("k") % 10 === 0)      // new arrivals
      val deletes = base.filter(col("k") % 7 === 0)    // retracted rows
      val gold = base.groupBy(col("prio")).agg(
        count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      val delta = inserts.withColumn("op", lit(1L))
        .unionByName(deletes.withColumn("op", lit(-1L)))
        .groupBy(col("prio")).agg(
          sum(col("op")).as("dn"), sum(col("op") * col("cents")).as("ds"))
      gold.join(delta, Seq("prio"), "full_outer")
        .select(col("prio"),
          (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("ds"), lit(0L)))
            .as("sum_cents"))
        .filter(col("n_orders") > 0)
        .orderBy(col("prio"))
    }),

    // Incremental JOIN-view maintenance — the join-side twin of
    // q_incremental_agg (insert-only deltas): with V = A ⋈ B maintained
    // as a gold table, a refresh computes ONLY
    //   ΔV = (ΔA ⋈ B_new) ∪ (A_old ⋈ ΔB)
    // (ΔA⋈ΔB lands once, inside the first term) and unions it onto the
    // stored view — A_old ⋈ B_old, the term that dominates at 100 TB,
    // is NEVER recomputed. The oracle is the from-scratch rebuild over
    // the final row sets, which the maintained view must equal exactly.
    "q_incremental_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("ck"), col("o_orderstatus").as("status"))
      val c = t(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_mktsegment").as("segment"))
      val oOld = o.filter(col("k") % 10 =!= 0)   // yesterday's facts
      val dO = o.filter(col("k") % 10 === 0)     // today's fact arrivals
      val cOld = c.filter(col("ck") % 5 =!= 0)   // yesterday's dim rows
      val dC = c.filter(col("ck") % 5 === 0)     // today's dim arrivals
      val viewOld = oOld.join(cOld, Seq("ck"))   // the STORED view (read, not rebuilt)
      val cNew = cOld.unionByName(dC)
      val deltaV = dO.join(cNew, Seq("ck"))
        .unionByName(oOld.join(dC, Seq("ck")))
      viewOld.unionByName(deltaV)
        .select(col("k"), col("ck"), col("status"), col("segment"))
        .orderBy(col("k"), col("ck"))
    }),

    // CDF-FED incremental maintenance — the end-to-end Delta pattern
    // (change feed → downstream materialized-view refresh) closing the
    // loop between q_table_changes and q_incremental_agg: here the
    // changeset is NOT synthesized by filters but read from the ACTUAL
    // change feed of a versioned table. v1 = yesterday's facts
    // (k%10≠0); v2 = v1 minus deletes (k%97=0) with repricings
    // (k%7=0, +1000.00) plus the day's arrivals (k%10=0). The gold
    // aggregate built on v1 is merged with a partial aggregate of
    // changes(v1→v2) — insert/update_postimage op=+1,
    // delete/update_preimage op=−1 — and must equal the from-scratch
    // rebuild over snapshot v2 (the oracle). The refresh reads only
    // the feed (one co-partitioned diff join of the snapshots) and the
    // gold-sized view; at 100 TB the base facts are never rescanned.
    "q_cdf_refresh" -> ((s, dir) => {
      val out = tmpDir("graft_cdfr")
      val o = t(s, dir, "orders").select(col("o_orderpriority").as("prio"),
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val v1 = o.filter(col("k") % 10 =!= 0)
      val v2 = o.filter(col("k") % 10 === 0 ||
          (col("k") % 10 =!= 0 && col("k") % 97 =!= 0))
        .withColumn("cents", when(col("k") % 10 =!= 0 && col("k") % 7 === 0,
          col("cents") + 100000L).otherwise(col("cents")))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(v1, root)
      graft.sources.VersionedTable.write(v2, root)
      val gold = graft.sources.VersionedTable.readVersion(s, root, 1L)
        .groupBy(col("prio")).agg(
          count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      val feed = graft.sources.VersionedTable.changes(s, root, 1L, 2L, Seq("k"))
      val delta = feed.withColumn("op",
          when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
            .otherwise(lit(-1L)))
        .groupBy(col("prio")).agg(
          sum(col("op")).as("dn"), sum(col("op") * col("cents")).as("ds"))
      gold.join(delta, Seq("prio"), "full_outer")
        .select(col("prio"),
          (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("ds"), lit(0L)))
            .as("sum_cents"))
        .filter(col("n_orders") > 0)
        .orderBy(col("prio"))
    }),

    // APPEND-commit chain: orders lands in three insert-only commits
    // (one full write + two O(batch) appends — the streaming-ingestion
    // commit shape); the logical snapshot is the parent-chain union,
    // resolved at read planning. The aggregate over readLatest must
    // equal the same aggregate over the raw table (nothing lost or
    // duplicated across the chain).
    "q_append_chain" -> ((s, dir) => {
      val out = tmpDir("graft_appendq")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 1), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root)
      graft.sources.VersionedTable.readLatest(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // SCHEMA-EVOLVED append chain (Delta mergeSchema analogue): the
    // second batch ADDS a column — older chain members NULL-pad it at
    // read, the third batch omits it (reads NULL). The aggregate over
    // the evolved union must equal the oracle's conditional arithmetic.
    "q_append_evolve" -> ((s, dir) => {
      val out = tmpDir("graft_appevoq")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root)
      graft.sources.VersionedTable.append(
        o.filter(col("k") % 3 === 1).withColumn("prio", (col("k") % 5).cast("long")),
        root, allowEvolution = true)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root,
        allowEvolution = true)
      graft.sources.VersionedTable.readLatest(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"),
          sum(coalesce(col("prio"), lit(0L))).as("sum_prio"),
          count(col("prio")).as("n_prio"))
        .orderBy(col("status"))
    }),

    // replaceWhere (Delta predicate-scoped overwrite): one commit swaps
    // exactly the 'F'-status rows for repriced copies — old positions
    // become a deletion vector, the replacements land as the version's
    // data, every other row's file untouched. Oracle: conditional
    // arithmetic over the raw table.
    "q_replace_where" -> ((s, dir) => {
      val out = tmpDir("graft_replw")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.replaceWhere(s, root, col("status") === "F",
        o.filter(col("status") === "F")
          .withColumn("cents", col("cents") + 100000L))
      graft.sources.VersionedTable.readLatest(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // SHALLOW CLONE + DML on the clone (Delta CREATE TABLE CLONE): the
    // clone commit stores NO data (O(1)); reads resolve through the
    // source chain; a deletion-vector DELETE stacks on the clone
    // without touching the source. Aggregate over the clone == oracle
    // row arithmetic; the untouched source is implicitly verified by
    // every other orders-based query in this run.
    "q_clone" -> ((s, dir) => {
      val out = tmpDir("graft_cloneq")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val (src, dst) = (s"$out/src", s"$out/clone")
      graft.sources.VersionedTable.write(o, src)
      graft.sources.VersionedTable.cloneTable(s, src, dst, shallow = true)
      graft.sources.VersionedTable.deleteWhereVector(s, dst, col("k") % 17 === 0)
      graft.sources.VersionedTable.readLatest(s, dst)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // Chain-folding compaction (Delta OPTIMIZE's bin-packing shape):
    // three O(batch) commits, then compactChain folds ONLY the two
    // batch dirs into one consolidated append off the untouched base —
    // O(appended) maintenance at any table size. The post-fold
    // aggregate must equal the raw table's.
    "q_compact_chain" -> ((s, dir) => {
      val out = tmpDir("graft_cchainq")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 1), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root)
      graft.sources.VersionedTable.compactChain(s, root)
      graft.sources.VersionedTable.readLatest(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // APPEND chain over a HIVE-PARTITIONED table — the 100 TB standard
    // combination (a partitioned fact table ingested by O(batch)
    // appends; reference partitions its fact by eval_set,
    // 03_gold_metrics.py:96): each appended batch lands in the base's
    // name=value layout, chain reads keep the partition column, and
    // partition pruning reaches every chain member's scan
    // (VersionedTableSpec asserts the per-scan partition filters).
    "q_append_chain_part" -> ((s, dir) => {
      val out = tmpDir("graft_appendp")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root,
        partitionBy = Seq("status"))
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 1), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root)
      graft.sources.VersionedTable.readLatest(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // Row-level DELETE + UPDATE commits (Delta DML analogue) composed
    // with the change feed: delete every 13th order, reprice every 7th
    // survivor, then classify the v1→v3 net feed — the per-change-type
    // counts are fully predictable from the predicates, which is what
    // the oracle checks.
    "q_delete_update" -> ((s, dir) => {
      val out = tmpDir("graft_delupd")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.deleteWhereVector(s, root, col("k") % 13 === 0)
      graft.sources.VersionedTable.updateWhereVector(s, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 100000L)))
      graft.sources.VersionedTable.changes(s, root, 1L, 3L, Seq("k"))
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("_change_type"))
    }),

    // O(changed) CDF of deletion-vector DML: both hops are single
    // `_dv_parent` links, so the feed reconstructs from each commit's
    // own artifacts (touched files ⋉ _dv positions, diffed against the
    // commit slice) — never a base rescan. Classification must equal
    // q_delete_update's two-hop snapshot-diff arithmetic.
    "q_cdf_dv_feed" -> ((s, dir) => {
      val out = tmpDir("graft_cdfdv")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.deleteWhereVector(s, root, col("k") % 13 === 0)
      graft.sources.VersionedTable.updateWhereVector(s, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 100000L)))
      graft.sources.VersionedTable.changes(s, root, 1L, 2L, Seq("k"))
        .unionByName(graft.sources.VersionedTable.changes(s, root, 2L, 3L, Seq("k")))
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("_change_type"))
    }),

    // KEYLESS CDF (Delta's exact table_changes signature — no key
    // argument): appends and sidecar-less DELETE_DV hops derive
    // keylessly; UPDATE_DV and MERGE rewrites serve the `_cdf` sidecar
    // their commits captured under gvt.enableChangeDataFeed (Delta's
    // CDC-file contract — O(changed) storage and read, no diff join at
    // feed time). Per-hop drain, hop-tagged so the oracle pins every
    // class's count AND value sum per commit.
    "q_cdf_keyless" -> ((s, dir) => {
      val out = tmpDir("graft_cdfkeyless")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      val VT = graft.sources.VersionedTable
      VT.write(o, root)
      VT.setTblProperties(root, Map("gvt.enableChangeDataFeed" -> "true"))
      VT.deleteWhereVector(s, root, col("k") % 13 === 0)
      VT.updateWhereVector(s, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 100000L)))
      VT.merge(s, root, o.filter(col("k") % 9 === 0)
        .withColumn("cents", col("cents") * 2 + 100001L), Seq("k"))
      Seq((1L, 2L, 1), (2L, 3L, 2), (3L, 4L, 3)).map { case (f, tv, hop) =>
        VT.changes(s, root, f, tv).withColumn("hop", lit(hop)) // NO keys
      }.reduce(_.unionByName(_))
        .groupBy(col("hop"), col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("hop"), col("_change_type"))
    }),

    // CDF BACKFILL (beyond Delta, which serves only post-enablement
    // commits): UPDATE_DV commits land BEFORE the change feed is
    // enabled; `ALTER TABLE … SET TBLPROPERTIES` then materializes the
    // historical `_cdf` sidecars from each commit's own artifacts
    // (removed positions' rows = preimages, the commit's slice =
    // postimages — O(changed) per hop), and the KEYLESS feed serves the
    // full range.
    "q_cdf_backfill" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_cdfbackfill")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      val VT = graft.sources.VersionedTable
      VT.write(o, root)                                          // v1
      VT.updateWhereVector(sess, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 100000L)))                // v2, no sidecar
      VT.updateWhereVector(sess, root, col("k") % 11 === 0,
        Map("status" -> lit("B")))                               // v3, no sidecar
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES " +
        "('gvt.enableChangeDataFeed' = 'true')") // backfills v2 + v3
      Seq((1L, 2L, 1), (2L, 3L, 2)).map { case (f, tv, hop) =>
        VT.changes(sess, root, f, tv).withColumn("hop", lit(hop)) // NO keys
      }.reduce(_.unionByName(_))
        .groupBy(col("hop"), col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("hop"), col("_change_type"))
    }),

    // CDF through SQL (Delta's table_changes TVF, injected by
    // GraftExtensions): the q_delete_update change feed queried as
    // SELECT … FROM table_changes(path, 1, 3, 'k') — same classification
    // algebra, SQL-first surface.
    "q_sql_table_changes" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqltc")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.deleteWhereVector(sess, root, col("k") % 13 === 0)
      graft.sources.VersionedTable.updateWhereVector(sess, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 100000L)))
      sess.sql(s"""SELECT _change_type, count(*) AS n
        FROM table_changes('$root', 1, 3, 'k')
        GROUP BY _change_type ORDER BY _change_type""")
    }),

    // Clause-level MERGE (the full Delta MERGE INTO surface): matched
    // rows whose TARGET status is 'F' are deleted, other matched rows
    // get an UPDATE assignment mixing both sides (t.cents + s.cents),
    // source-only keys insert — one key-partitioned full-outer join,
    // target scanned once. Oracle: the three disjoint row classes
    // unioned.
    "q_merge_clauses" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      mergeClauses(
        o.filter(col("k") % 10 =!= 0),          // target
        o.filter(col("k") % 5 === 0),           // source changeset
        Seq("k"),
        matchedDelete = Some(col("t.status") === "F"),
        matchedUpdate = Map("cents" -> (col("t.cents") + col("s.cents"))),
        insertNotMatched = true)
        .orderBy(col("k"))
    }),

    // MERGE with NOT MATCHED BY SOURCE clauses (Delta 2.3+): matched
    // rows reprice from both sides; target rows WITHOUT a source match
    // delete when status 'F', else stamp 'S' — one key-partitioned
    // full-outer join, target scanned once. Oracle: the two disjoint
    // surviving row classes unioned.
    "q_merge_nms" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      mergeClauses(
        o.filter(col("k") % 10 =!= 0),          // target
        o.filter(col("k") % 5 === 0),           // source changeset
        Seq("k"),
        matchedUpdate = Map("cents" -> (col("t.cents") + col("s.cents"))),
        insertNotMatched = false,
        nmsDelete = Some(col("t.status") === "F"),
        nmsUpdate = Map("status" -> lit("S")))
        .orderBy(col("k"))
    }),

    // DELETION-VECTOR deletes (Delta deletion-vector analogue): two
    // stacked O(delete) DELETE commits — each version dir holds only
    // the (file, row-position) vector of its deleted rows, never a
    // rewritten table — then a readLatest aggregate over the DV-applied
    // snapshot, which must equal the oracle's plain filtered aggregate.
    // The second delete's predicate is evaluated on the ALREADY-DV'd
    // live view (stacked vectors compose); compact() folds them away.
    "q_delete_dv" -> ((s, dir) => {
      val out = tmpDir("graft_dv")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.deleteWhereVector(s, root, col("k") % 13 === 0)
      graft.sources.VersionedTable.deleteWhereVector(s, root, col("k") % 7 === 0)
      graft.sources.VersionedTable.readLatest(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // DELETION-VECTOR UPDATE: O(changed) commits — each version holds
    // only the updated copies + the old positions' vector. A DV delete
    // then a DV update stack; readLatest must equal the oracle's plain
    // row-set arithmetic.
    "q_update_dv" -> ((s, dir) => {
      val out = tmpDir("graft_dvu")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.deleteWhereVector(s, root, col("k") % 13 === 0)
      graft.sources.VersionedTable.updateWhereVector(s, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 100000L), "status" -> lit("U")))
      graft.sources.VersionedTable.readLatest(s, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // DV-AWARE DataSource/SQL reads: a DV DELETE and a DV UPDATE land
    // (no compact), then plain `spark.sql` over a gvt view — the
    // reference's consumption shape (03_gold_metrics_serverless.py:
    // 57-64) — reads THROUGH the chain's vectors: the relation
    // anti-joins the broadcast-sized `_dv` union inside a zone-map-
    // pruned scan (the WHERE k-range predicate prunes files at scan
    // build). Must equal the oracle's plain row-set arithmetic.
    "q_gvt_dv_read" -> ((s, dir) => {
      val out = tmpDir("graft_gvtdvr")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.repartitionByRange(8, col("k")),
        root, statsCols = Seq("k"))
      graft.sources.VersionedTable.deleteWhereVector(s, root, col("k") % 13 === 0)
      graft.sources.VersionedTable.updateWhereVector(s, root, col("k") % 7 === 0,
        Map("cents" -> (col("cents") + 100000L), "status" -> lit("U")))
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gvt_dv_t USING gvt " +
        s"OPTIONS (path '$root')")
      s.sql("""SELECT status, count(*) AS n_orders, sum(cents) AS sum_cents
        FROM gvt_dv_t WHERE k >= 300 GROUP BY status ORDER BY status""")
    }),

    // Metadata-only aggregates (Delta OptimizeMetadataOnlyDeltaQuery —
    // MetaAggRewrite): the 'full' row folds count/min/max to a
    // LocalRelation built from parquet footer row counts + zone-map
    // bounds — ZERO tasks, zero data pages, the 100 TB `SELECT
    // count(*)` monitoring shape. The 'after_delete' row aggregates a
    // DV-bearing snapshot, where min/max could have been deleted — the
    // rewrite must stand down and the real DV-resolving scan answers.
    // Both rows must equal plain row-set arithmetic (MetaAggSpec pins
    // the plan shapes; this registry entry pins the VALUES).
    "q_meta_agg" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_metaagg")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 2 === 0),
        root, statsCols = Seq("k", "cents"))
      graft.sources.VersionedTable.append(o.filter(col("k") % 2 === 1),
        root, statsCols = Seq("k", "cents"))
      def aggOf(df: org.apache.spark.sql.DataFrame, phase: String) =
        df.agg(count(lit(1)).as("n_rows"), min(col("k")).as("min_k"),
            max(col("k")).as("max_k"), max(col("cents")).as("max_cents"))
          .withColumn("phase", lit(phase))
      // snapshot pinned BEFORE the delete: folds entirely from metadata
      val full = aggOf(sess.read.format("gvt").load(root), "full")
      graft.sources.VersionedTable.deleteWhereVector(sess, root,
        col("k") % 13 === 0)
      val afterDel = aggOf(sess.read.format("gvt").load(root), "after_delete")
      full.union(afterDel)
        .select("phase", "n_rows", "min_k", "max_k", "max_cents")
        .orderBy("phase")
    }),

    // The grouped metadata fold: `GROUP BY <partition col>` + count/
    // min/max over a partitioned append chain answers from partition
    // directory values, footer row counts, and per-file zone maps —
    // one LocalRelation row per partition, zero tasks. The per-
    // partition row-count monitor is THE daily operational query on a
    // 100 TB date-partitioned table; at that scale this is the
    // difference between a metadata read and a full scan.
    "q_meta_agg_part" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_metaaggp")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 2 === 0),
        root, partitionBy = Seq("status"), statsCols = Seq("k", "cents"))
      graft.sources.VersionedTable.append(o.filter(col("k") % 2 === 1),
        root, statsCols = Seq("k", "cents"))
      // the WHERE is a partition predicate: dir-level evaluation is
      // exact, so the filtered grouped fold is STILL metadata-only
      sess.read.format("gvt").load(root)
        .filter(col("status") >= "O")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), max(col("cents")).as("max_cents"))
        .orderBy("status")
    }),

    // SQL DML surface (Delta parity: the reference's authoritative
    // notebook is pure SQL — 03_gold_metrics_serverless.py:78-371):
    // DELETE FROM and UPDATE over a registered gvt view, routed by the
    // GvtDml resolution rule (GraftExtensions) into O(changed)
    // deletion-vector commits. Same semantics as q_update_dv, driven
    // entirely through SQL text in an extensions-bearing session.
    "q_sql_delete_dv" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqldel")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.repartitionByRange(8, col("k")),
        root, statsCols = Seq("k"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sql_dml_t USING gvt OPTIONS (path '$root')")
      view()
      sess.sql("DELETE FROM sql_dml_t WHERE k % 13 = 0")
      view() // re-resolve: a gvt view pins its snapshot at creation
      sess.sql("UPDATE sql_dml_t SET status = 'U', cents = cents + 100000 " +
        "WHERE k % 7 = 0")
      view()
      sess.sql("""SELECT status, count(*) AS n_orders, sum(cents) AS sum_cents
        FROM sql_dml_t GROUP BY status ORDER BY status""")
    }),

    // SQL INSERT surface (the last DML verb — Delta parity): positional
    // INSERT … SELECT appends through the commit protocol; a column
    // list fills the unlisted column from its registered DEFAULT; a
    // static PARTITION spec becomes the column value; INSERT OVERWRITE
    // PARTITION is a partition-scoped replaceWhere (one O(replaced+new)
    // DV commit — the other partitions' files untouched). The final
    // aggregate must equal plain row-set arithmetic over the batches,
    // with the px batch fully replaced by the partition overwrite.
    "q_sql_insert" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlins")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(
        o.filter(col("k") % 2 === 0).withColumn("src", lit("seed")),
        root, partitionBy = Seq("status"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sql_ins_t USING gvt OPTIONS (path '$root')")
      view()
      o.filter(col("k") % 2 === 1).createOrReplaceTempView("sql_ins_src")
      // positional = the TABLE's schema order, where the hive partition
      // column rides last: (k, cents, src, status)
      sess.sql("INSERT INTO sql_ins_t SELECT k, cents, 'b1', status " +
        "FROM sql_ins_src WHERE k % 3 = 0")
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN src SET DEFAULT 'dflt'")
      sess.sql("INSERT INTO sql_ins_t (k, status, cents) " +
        "SELECT k, status, cents FROM sql_ins_src WHERE k % 3 = 1")
      sess.sql("INSERT INTO sql_ins_t PARTITION (status='X') " +
        "SELECT k, cents, 'px' FROM sql_ins_src WHERE k % 3 = 2")
      sess.sql("INSERT OVERWRITE sql_ins_t PARTITION (status='X') " +
        "SELECT k, cents, 'po' FROM sql_ins_src WHERE k % 21 = 2")
      view()
      sess.sql("""SELECT status, src, count(*) AS n_rows,
        sum(cents) AS sum_cents
        FROM sql_ins_t GROUP BY status, src ORDER BY status, src""")
    }),

    // Generated-column partition pruning: the table is partitioned by
    // a GENERATED day column (cast(ts AS date)); queries filter the
    // BASE timestamp and the file index derives the partition bound —
    // only the matching day directories scan (GeneratedPruningSpec pins
    // the plan shape; this query pins the ANSWER against the raw rows).
    "q_gen_partition" -> ((s, dir) => {
      val out = tmpDir("graft_genpart")
      val root = s"$out/t"
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      graft.sources.VersionedTable.addGeneratedColumn(s, root, "day",
        "cast(ts as date)")
      graft.sources.VersionedTable.write(ev, root, partitionBy = Seq("day"))
      s.read.format("gvt").load(root)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("event_type"))
    }),

    // Schema-first CREATE TABLE (the standard SQL workflow: declare,
    // then INSERT): a schema-only v1 commit — O(1) at any table size —
    // that subsequent INSERTs land on with the declared hive layout.
    // The final aggregate must equal plain row-set arithmetic over the
    // two inserted batches.
    "q_sql_create" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlcreate")
      val root = s"$out/t"
      sess.sql(s"CREATE TABLE gvt.`$root` (k BIGINT, cents BIGINT, " +
        "status STRING) USING gvt PARTITIONED BY (status)")
      t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .createOrReplaceTempView("sql_create_src")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_create_t USING gvt " +
        s"OPTIONS (path '$root')")
      // positional order = declared non-partition columns then the
      // trailing partition column: (k, cents, status)
      sess.sql("INSERT INTO sql_create_t SELECT k, cents, status " +
        "FROM sql_create_src WHERE k % 2 = 0")
      sess.sql("INSERT INTO sql_create_t SELECT k, cents, status " +
        "FROM sql_create_src WHERE k % 3 = 0 AND k % 2 = 1")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_create_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n_rows, sum(cents) AS sum_cents
        FROM sql_create_t GROUP BY status ORDER BY status""")
    }),

    // Dynamic-partition INSERT OVERWRITE (the standard warehouse
    // partition-refresh idiom): `PARTITION (status)` with no value
    // replaces EXACTLY the partitions the batch touches — one
    // O(replaced+new) replaceWhere commit over the batch's distinct
    // partition values; untouched partitions keep their files. The
    // bare-OVERWRITE form under partitionOverwriteMode=dynamic is the
    // same semantics conf-selected. The final aggregate must equal
    // plain row-set arithmetic: O and F fully swapped for the dyn
    // batch, P fully swapped for the dyn2 batch.
    "q_sql_insert_dyn" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlinsdyn")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(
        o.filter(col("k") % 2 === 0).withColumn("src", lit("seed")),
        root, partitionBy = Seq("status"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sql_dyn_t USING gvt OPTIONS (path '$root')")
      view()
      o.filter(col("k") % 2 === 1).createOrReplaceTempView("sql_dyn_src")
      sess.sql("INSERT INTO sql_dyn_t SELECT k, cents, 'b1', status " +
        "FROM sql_dyn_src WHERE k % 3 = 0")
      // explicit dynamic spec: the batch touches O and F only — they
      // are replaced whole, P keeps both prior batches
      sess.sql("INSERT OVERWRITE sql_dyn_t PARTITION (status) " +
        "SELECT k, cents, 'dyn', status FROM sql_dyn_src " +
        "WHERE k % 3 = 1 AND status IN ('O', 'F')")
      // bare OVERWRITE under the dynamic conf: touches P only
      val prior = sess.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static")
      sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try sess.sql("INSERT OVERWRITE sql_dyn_t " +
        "SELECT k, cents, 'dyn2', status FROM sql_dyn_src " +
        "WHERE k % 5 = 0 AND status = 'P'")
      finally sess.conf.set(
        "spark.sql.sources.partitionOverwriteMode", prior)
      view()
      sess.sql("""SELECT status, src, count(*) AS n_rows,
        sum(cents) AS sum_cents
        FROM sql_dyn_t GROUP BY status, src ORDER BY status, src""")
    }),

    // Subqueries in DML predicates (Delta parity — the reference's
    // orphan-reconciliation left_anti gate, utils/quality.py:110-116,
    // becomes exactly `DELETE … WHERE fk NOT IN (SELECT pk)` at scale):
    // uncorrelated IN / NOT IN / EXISTS conjuncts route into the DV
    // locate scan as DISTRIBUTED semi/anti joins — never a collected
    // value list. SQL NULL semantics pinned by the oracle: a
    // NULL-bearing NOT IN subquery deletes NOTHING; a FALSE EXISTS
    // no-ops the whole command (no commit).
    "q_sql_delete_in" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqldelin")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.repartitionByRange(8, col("k")),
        root, statsCols = Seq("k"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sqldin_t USING gvt OPTIONS (path '$root')")
      view()
      o.filter(col("k") % 11 === 0).select(col("k").as("dk"))
        .createOrReplaceTempView("sqldin_stage")
      // staging-keyed DELETE: a semi join on the locate scan
      sess.sql("DELETE FROM sqldin_t WHERE k IN (SELECT dk FROM sqldin_stage)")
      view()
      // residual + IN + TRUE-EXISTS mix on UPDATE
      sess.sql("UPDATE sqldin_t SET status = 'X' WHERE k % 5 = 0 " +
        "AND k IN (SELECT dk + 1 FROM sqldin_stage) " +
        "AND EXISTS (SELECT 1 FROM sqldin_stage WHERE dk % 2 = 0)")
      view()
      // NOT IN over a NULL-bearing subquery is never TRUE: deletes NOTHING
      sess.sql("DELETE FROM sqldin_t WHERE k NOT IN " +
        "(SELECT CASE WHEN dk % 2 = 0 THEN NULL ELSE dk END FROM sqldin_stage)")
      view()
      // bounded NOT IN without NULLs: an anti join under a residual bound
      sess.sql("DELETE FROM sqldin_t WHERE k <= 512 AND k NOT IN " +
        "(SELECT dk FROM sqldin_stage WHERE dk % 2 = 1)")
      view()
      // FALSE EXISTS: the command no-ops (nothing committed)
      sess.sql("DELETE FROM sqldin_t WHERE EXISTS " +
        "(SELECT 1 FROM sqldin_stage WHERE dk < 0)")
      view()
      sess.sql("""SELECT status, count(*) AS n_orders, sum(cents) AS sum_cents
        FROM sqldin_t GROUP BY status ORDER BY status""")
    }),

    // Incremental clustering (Delta Liquid Clustering analogue):
    // ALTER TABLE … CLUSTER BY registers keys; plain OPTIMIZE z-orders
    // ONLY not-yet-clustered chain members (each clustering commit
    // stamps `_clustered`) — O(new data since the last OPTIMIZE),
    // idempotent under scheduling. Content-identical rewrites: the
    // oracle is plain row algebra; the zone-map benefit shows in the
    // pruned scan the final range query plans.
    "q_sql_cluster_by" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_clusterby")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(
        o.filter(col("k") % 3 =!= 0).repartition(6), root)
      sess.sql(s"ALTER TABLE gvt.`$root` CLUSTER BY (k, cents)")
      sess.sql(s"OPTIMIZE gvt.`$root`") // clusters the whole table
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 0), root)
      sess.sql(s"OPTIMIZE gvt.`$root`") // incremental: the new batch only
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW clb_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n_orders, sum(cents) AS sum_cents
        FROM clb_t WHERE k BETWEEN 1000 AND 30000
        GROUP BY status ORDER BY status""")
    }),

    // Correlated + scalar + multi-column subqueries in DML (round-14
    // Delta-parity extension): a correlated EXISTS/NOT EXISTS conjunct
    // whose correlation is a top-level equality decomposes into a
    // distributed semi/anti locate join (EXISTS null semantics, not NOT
    // IN's); uncorrelated SCALAR subqueries evaluate once at command
    // time (condition and SET assignment); multi-column NOT IN rides
    // the exact-3VL compatibility anti-join (broadcast subquery side —
    // Spark's own null-aware-anti restriction). The oracle mirrors each
    // step as plain SELECT algebra.
    "q_sql_delete_corr" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqldelcorr")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.repartitionByRange(8, col("k")),
        root, statsCols = Seq("k"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sqldc_t USING gvt OPTIONS (path '$root')")
      view()
      o.filter(col("k") % 7 === 0).select(col("k").as("dk"))
        .createOrReplaceTempView("sqldc_stage")
      // correlated EXISTS (the staging idiom): semi locate join on dk = k
      sess.sql("DELETE FROM sqldc_t WHERE EXISTS " +
        "(SELECT 1 FROM sqldc_stage WHERE dk = k AND dk % 2 = 0)")
      view()
      // correlated NOT EXISTS under a residual bound: anti locate join
      sess.sql("DELETE FROM sqldc_t WHERE k <= 400 AND NOT EXISTS " +
        "(SELECT 1 FROM sqldc_stage WHERE dk = k)")
      view()
      // uncorrelated scalar subqueries: once-evaluated literal in the
      // condition AND in a SET assignment, mixed with a plain assign
      sess.sql("UPDATE sqldc_t SET status = 'Z', " +
        "cents = cents + (SELECT min(dk) FROM sqldc_stage) " +
        "WHERE k > (SELECT max(dk) - 100 FROM sqldc_stage)")
      view()
      // multi-column NOT IN with a NULL-bearing pair column: exact 3VL
      // (a pair with NULL status blocks its key as UNKNOWN; only rows
      // FALSE against every pair delete)
      sess.sql("CREATE OR REPLACE TEMPORARY VIEW sqldc_pairs AS " +
        "SELECT dk AS pk, CASE WHEN dk % 3 = 0 THEN NULL ELSE 'O' END " +
        "AS pstatus FROM sqldc_stage WHERE dk <= 2000")
      sess.sql("DELETE FROM sqldc_t WHERE k BETWEEN 500 AND 2000 AND " +
        "(k, status) NOT IN (SELECT pk, pstatus FROM sqldc_pairs)")
      view()
      // correlated EXISTS with a RESIDUAL one-side-outer comparison
      // beside the equality key (the staging freshness idiom): the
      // bound rides the semi join's condition, never a collected list
      sess.sql("DELETE FROM sqldc_t WHERE EXISTS " +
        "(SELECT 1 FROM sqldc_stage WHERE dk = k AND dk > cents)")
      view()
      sess.sql("""SELECT status, count(*) AS n_orders, sum(cents) AS sum_cents
        FROM sqldc_t GROUP BY status ORDER BY status""")
    }),

    // CORRELATED AGGREGATED scalar subqueries in DML: each decomposes
    // into a per-key aggregate LEFT-joined onto the locate scan (one
    // row per key by construction — DV positions never duplicate) with
    // a matched indicator, so COUNT over an empty key group folds to 0
    // (the classic decorrelation bug) and every other aggregate to
    // NULL. The UPDATE reads max() per key in SET, bounded by a
    // correlated count() in the condition; the DELETE removes exactly
    // the rows whose key group is EMPTY.
    "q_sql_update_corr_scalar" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlcscal")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_custkey") % 100).as("g"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root, statsCols = Seq("k"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sqlcs_t USING gvt OPTIONS (path '$root')")
      view()
      t(sess, dir, "orders").filter(col("o_orderkey") % 9 === 0)
        .select((col("o_custkey") % 100).as("sk"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("amt"))
        .createOrReplaceTempView("sqlcs_stage")
      sess.sql("UPDATE sqlcs_t SET cents = cents + " +
        "(SELECT max(amt) FROM sqlcs_stage WHERE sk = g) " +
        "WHERE k % 2 = 0 AND " +
        "(SELECT count(*) FROM sqlcs_stage WHERE sk = g) > 0")
      view()
      sess.sql("DELETE FROM sqlcs_t WHERE k % 5 = 0 AND " +
        "(SELECT count(*) FROM sqlcs_stage WHERE sk = g) = 0")
      view()
      sess.sql("""SELECT status, count(*) AS n_orders,
        sum(cents) AS sum_cents
        FROM sqlcs_t GROUP BY status ORDER BY status""")
    }),

    // BARE (non-aggregated) correlated scalars in DML: the per-key
    // locate join passes the single staged value through (the stage
    // has unique keys), an empty key group evaluates to NULL (UNKNOWN
    // in the DELETE condition → row survives; the SET is EXISTS-
    // bounded), and a multi-row group would raise the standard
    // more-than-one-row error (pinned in ExtensionsSpec).
    "q_sql_update_bare_scalar" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlbscal")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_custkey") % 100).as("g"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root, statsCols = Seq("k"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sqlbs_t USING gvt OPTIONS (path '$root')")
      view()
      // UNIQUE-key staging: exactly one row per sk in 0..49
      sess.sql("""CREATE OR REPLACE TEMPORARY VIEW sqlbs_stage AS
        SELECT CAST(id AS BIGINT) AS sk, CAST(id * 7 + 3 AS BIGINT) AS amt
        FROM range(50)""")
      sess.sql("UPDATE sqlbs_t SET cents = cents + " +
        "(SELECT amt FROM sqlbs_stage WHERE sk = g) " +
        "WHERE k % 3 = 0 AND EXISTS " +
        "(SELECT 1 FROM sqlbs_stage WHERE sk = g)")
      view()
      sess.sql("DELETE FROM sqlbs_t WHERE k % 4 = 0 AND " +
        "(SELECT amt FROM sqlbs_stage WHERE sk = g) > 300")
      view()
      sess.sql("""SELECT status, count(*) AS n_orders,
        sum(cents) AS sum_cents
        FROM sqlbs_t GROUP BY status ORDER BY status""")
    }),

    // CORRELATED NOT IN in DML — the null-probe decomposition: one
    // distributed anti-join on the correlation keys, exact 3VL. The
    // fixture pins every branch: a NULL-bearing key group (g=3) never
    // deletes, an ABSENT group (g=7..9) always deletes (NOT IN () is
    // TRUE, NULL probes included), elsewhere only non-NULL probes that
    // match nothing delete.
    "q_sql_delete_notin_corr" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlnotin")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_custkey") % 10).as("g"),
        when(col("o_orderkey") % 11 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("p"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root, statsCols = Seq("k"))
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sqlni_t USING gvt OPTIONS (path '$root')")
      view()
      sess.sql("""CREATE OR REPLACE TEMPORARY VIEW sqlni_s AS
        SELECT CAST(sg AS BIGINT) AS sg, sv FROM VALUES
          (0, '1-URGENT'), (1, '2-HIGH'), (2, '3-MEDIUM'),
          (3, CAST(NULL AS STRING)), (3, '1-URGENT'),
          (4, '5-LOW'), (5, '4-NOT SPECIFIED'),
          (6, '1-URGENT'), (6, '2-HIGH') AS v(sg, sv)""")
      sess.sql("DELETE FROM sqlni_t WHERE p NOT IN " +
        "(SELECT sv FROM sqlni_s WHERE sg = g)")
      view()
      sess.sql("""SELECT g, coalesce(p, '(null)') AS pn,
        count(*) AS n_orders, sum(cents) AS sum_cents
        FROM sqlni_t GROUP BY g, coalesce(p, '(null)')
        ORDER BY g, pn""")
    }),

    // SQL MERGE INTO with the full clause surface (conditional DELETE,
    // UPDATE SET over both sides, INSERT *) — the exact q_merge_clauses
    // semantics driven through SQL text; GvtDml routes it to
    // mergeInto's one-join clause merge with conditional-commit retry.
    "q_sql_merge" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlmerge")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 10 =!= 0), root)
      o.filter(col("k") % 5 === 0).createOrReplaceTempView("sql_merge_src")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_merge_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""MERGE INTO sql_merge_t t USING sql_merge_src s ON t.k = s.k
        WHEN MATCHED AND t.status = 'F' THEN DELETE
        WHEN MATCHED THEN UPDATE SET cents = t.cents + s.cents
        WHEN NOT MATCHED THEN INSERT *""")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_merge_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("SELECT k, status, cents FROM sql_merge_t ORDER BY k")
    }),

    // MERGE with MULTIPLE, CONDITIONED NOT MATCHED INSERT clauses (Delta
    // `WHEN NOT MATCHED AND cond THEN INSERT` chains): first-wins per
    // source row as nested whens inside the same ONE-JOIN merge; an
    // explicit column list is general — an unlisted column inserts NULL
    // (n_cents pins that), and a row matching no clause is NOT inserted.
    "q_merge_ins_clauses" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_mergeins")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 10 =!= 0), root)
      o.filter(col("k") % 5 === 0).createOrReplaceTempView("mic_src")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW mic_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""MERGE INTO mic_t t USING mic_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET cents = t.cents + 1
        WHEN NOT MATCHED AND s.status = 'O'
          THEN INSERT (k, status, cents) VALUES (s.k, 'NEW_O', s.cents + 10)
        WHEN NOT MATCHED AND s.cents % 3 = 0
          THEN INSERT (k, status) VALUES (s.k, 'DIV3')""")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW mic_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n_rows, sum(cents) AS sum_cents,
        count(cents) AS n_cents
        FROM mic_t GROUP BY status ORDER BY status""")
    }),

    // CONVERT TO GVT (Delta's CONVERT TO DELTA analogue): an existing
    // plain-parquet directory becomes a live gvt table IN PLACE — file
    // renames, zero bytes copied — and immediately supports the full
    // surface (the append here commits through the normal protocol).
    // The final aggregate must equal plain row-set arithmetic over
    // both halves: conversion is registration, never transformation.
    "q_convert" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_convert")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      o.filter(col("k") % 2 === 0).write.partitionBy("status").parquet(root)
      sess.sql(s"CONVERT TO GVT parquet.`$root`").collect()
      graft.sources.VersionedTable.append(o.filter(col("k") % 2 === 1), root)
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW convert_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n_orders,
        sum(cents) AS sum_cents
        FROM convert_t GROUP BY status ORDER BY status""")
    }),

    // REORG TABLE … APPLY (PURGE) (Delta's physical-cleanup verb): a
    // mapped chain accumulates dropped-column data, rename indirection,
    // and deletion vectors; the purge rewrites the live snapshot so the
    // physical layout equals the logical view and RESETS the mapping —
    // reads return to the plain file-relation path. The post-purge
    // aggregate must equal plain row-set arithmetic: purge is storage,
    // never semantics.
    "q_sql_reorg" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlreorg")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
        concat(lit("n"), col("o_orderkey").cast("string")).as("note"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root)
      graft.sources.VersionedTable.setTblProperties(root,
        Map("gvt.columnMapping" -> "name"))
      graft.sources.VersionedTable.dropColumns(sess, root, Seq("note"))
      graft.sources.VersionedTable.renameColumn(sess, root, "cents", "amount")
      graft.sources.VersionedTable.deleteWhereVector(sess, root,
        col("k") % 7 === 0)
      sess.sql(s"REORG TABLE gvt.`$root` APPLY (PURGE)").collect()
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW reorg_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n_orders,
        sum(amount) AS sum_amount
        FROM reorg_t GROUP BY status ORDER BY status""")
    }),

    // MERGE WITH SCHEMA EVOLUTION (Delta parity): the source carries a
    // column the target lacks — the merge joins it to the target schema
    // (typed NULLs for untouched rows), UPDATE SET * takes the source
    // values on matched keys, INSERT * lands the new keys with it. The
    // final aggregate must equal plain row-set arithmetic: target rows
    // the source missed keep flag NULL; every k%3 source row carries
    // its flag and bumped cents.
    "q_merge_evolve" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_mergevo")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 2 === 0), root)
      o.filter(col("k") % 3 === 0)
        .withColumn("cents", col("cents") + 5L)
        .withColumn("flag", concat(lit("f"), (col("k") % 2).cast("string")))
        .createOrReplaceTempView("merge_evo_src")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW merge_evo_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""MERGE WITH SCHEMA EVOLUTION INTO merge_evo_t t
        USING merge_evo_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW merge_evo_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT coalesce(flag, 'none') AS flag,
        count(*) AS n_rows, sum(cents) AS sum_cents
        FROM merge_evo_t GROUP BY 1 ORDER BY flag""")
    }),

    // Maintenance SQL (Delta's non-ANSI statements via the injected
    // GvtSqlParser): OPTIMIZE folds the append chain, VACUUM RETAIN 0
    // HOURS reclaims the folded-away tips (the base survives as the
    // fold's ancestor), and in-query `VERSION AS OF` reads the v1
    // snapshot next to the live one. Results must equal plain row-set
    // arithmetic — maintenance is storage, never semantics.
    "q_sql_optimize" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlopt")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 1), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root)
      def view(): Unit = sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW " +
        s"sql_opt_t USING gvt OPTIONS (path '$root')")
      view()
      sess.sql("OPTIMIZE sql_opt_t").collect()
      sess.sql("VACUUM sql_opt_t RETAIN 0 HOURS").collect()
      view()
      sess.sql("""SELECT status, live.n AS n_live, v1.n AS n_v1
        FROM (SELECT status, count(*) AS n FROM sql_opt_t GROUP BY status) live
        JOIN (SELECT status, count(*) AS n FROM sql_opt_t VERSION AS OF 1
              GROUP BY status) v1
        USING (status) ORDER BY status""")
    }),

    // Partition-scoped OPTIMIZE (Delta `OPTIMIZE t WHERE …`): rewrite
    // ONLY the selected hive partition — one DV commit over the
    // selected rows, O(selected) at any table size; untouched
    // partitions' files stay byte-identical and the replaced files are
    // whole-file-elided from subsequent scans. Content must be
    // bit-identical to the plain row-set arithmetic — maintenance is
    // storage, never semantics (OptimizeWhereSpec pins the file-level
    // claims; this query pins the semantics against the oracle).
    "q_sql_optimize_part" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqloptw")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root,
        partitionBy = Seq("status"))
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 1), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root)
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_optw_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("OPTIMIZE sql_optw_t WHERE status = 'O' ZORDER BY (k, price)")
        .collect()
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_optw_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n,
        sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS cents
        FROM sql_optw_t GROUP BY status ORDER BY status""")
    }),

    // VACUUM's file-granular pass: a whole partition deleted via a
    // deletion vector, then VACUUM RETAIN 0 HOURS physically reclaims
    // its files (no O(live) REORG rewrite) — reads, counts, and sums
    // must equal the plain row-set arithmetic afterwards, from a cold
    // elision cache (VacuumPurgeSpec pins the file-level claims).
    "q_sql_vacuum_purge" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlvacp")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o, root, partitionBy = Seq("status"))
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_vacp_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("DELETE FROM sql_vacp_t WHERE status = 'F'").collect()
      sess.sql("VACUUM sql_vacp_t RETAIN 0 HOURS").collect()
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_vacp_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n,
        sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS cents
        FROM sql_vacp_t GROUP BY status ORDER BY status""")
    }),

    // Small-file-only OPTIMIZE (Delta bin-packing): with the
    // gvt.optimize.minFileBytes property set, plain OPTIMIZE re-packs
    // ONLY the ragged tail of small append files as one DV commit —
    // O(small files) at any table size — and whole-file elision drops
    // the originals from scans. Content must equal the plain row-set
    // arithmetic (OptimizeSmallSpec pins the file-level claims).
    "q_sql_optimize_small" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqloptsm")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      val root = s"$out/t"
      // one well-packed base + four small tail appends
      graft.sources.VersionedTable.write(
        o.filter(col("k") % 5 === 0).coalesce(1), root)
      (1 to 4).foreach { r =>
        graft.sources.VersionedTable.append(
          o.filter(col("k") % 5 === r).coalesce(1), root)
      }
      val bigBytes = new java.io.File(s"$root/v=1").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_")
          && !f.getName.startsWith(".")).map(_.length).max
      graft.sources.VersionedTable.setTblProperties(root,
        Map("gvt.optimize.minFileBytes" -> bigBytes.toString))
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_optsm_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("OPTIMIZE sql_optsm_t").collect()
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_optsm_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, count(*) AS n,
        sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS cents
        FROM sql_optsm_t GROUP BY status ORDER BY status""")
    }),

    // TBLPROPERTIES (Delta's table-property surface through the injected
    // parser): SET upserts (second SET overwrites), UNSET removes, SHOW
    // lists key-ordered — free-form table metadata riding the root, not
    // any snapshot.
    "q_sql_tblproperties" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlprops")
      val root = s"$out/t"
      graft.sources.VersionedTable.write(
        t(sess, dir, "region").select(col("r_regionkey"), col("r_name")), root)
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES " +
        "('owner' = 'alpha', 'quality.tier' = 'gold', 'ttl_days' = '30')")
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES ('owner' = 'pipeline')")
      sess.sql(s"ALTER TABLE gvt.`$root` UNSET TBLPROPERTIES IF EXISTS " +
        "(ttl_days, never_set)")
      sess.sql(s"SHOW TBLPROPERTIES gvt.`$root`")
    }),

    // ALTER TABLE ADD COLUMNS (Delta schema-evolution DDL): an O(1)
    // schema-only commit — older chain members NULL-pad the new column
    // at read, later appends may carry or omit it. Same aggregate
    // algebra as q_append_evolve, driven through DDL instead of an
    // evolved append.
    "q_sql_add_columns" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqladdc")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root)
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS (bonus BIGINT)")
      graft.sources.VersionedTable.append(
        o.filter(col("k") % 3 === 1).withColumn("bonus", (col("k") % 5).cast("long")),
        root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root,
        allowEvolution = true)
      graft.sources.VersionedTable.readLatest(sess, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"),
          sum(coalesce(col("bonus"), lit(0L))).as("sum_bonus"),
          count(col("bonus")).as("n_bonus"))
        .orderBy(col("status"))
    }),

    // COPY INTO (Delta's idempotent bulk-file load): two batches land as
    // parquet files in a landing directory and COPY INTO loads each file
    // exactly once — the second run over already-loaded files is a
    // no-op, files appended later load incrementally. The final table
    // must equal the full raw aggregate (a duplicate load would double
    // counts; a missed file would drop rows).
    "q_copy_into" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_copyq")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val (land, root) = (s"$out/landing", s"$out/t")
      o.filter(col("k") % 2 === 0).repartition(3)
        .write.mode("overwrite").parquet(land)
      sess.sql(s"COPY INTO gvt.`$root` FROM '$land' FILEFORMAT = PARQUET").collect()
      sess.sql(s"COPY INTO gvt.`$root` FROM '$land' FILEFORMAT = PARQUET").collect()
      o.filter(col("k") % 2 === 1).repartition(2)
        .write.mode("append").parquet(land)
      sess.sql(s"COPY INTO gvt.`$root` FROM '$land' FILEFORMAT = PARQUET").collect()
      graft.sources.VersionedTable.readLatest(sess, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("status"))
    }),

    // CREATE TABLE … CLONE through SQL (Delta's CLONE DDL): a DEEP
    // clone decouples from the source, then SQL DELETE runs on the
    // clone — the aggregate must equal the raw rows minus the deleted
    // keys (the untouched source is implicitly verified by every other
    // orders query in this run).
    "q_sql_clone" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_sqlclone")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val (src, dst) = (s"$out/src", s"$out/clone")
      graft.sources.VersionedTable.write(o, src)
      sess.sql(s"CREATE TABLE gvt.`$dst` CLONE gvt.`$src`").collect()
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_clone_t USING gvt " +
        s"OPTIONS (path '$dst')")
      sess.sql("DELETE FROM sql_clone_t WHERE k % 19 = 0")
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW sql_clone_t USING gvt " +
        s"OPTIONS (path '$dst')")
      sess.sql("""SELECT status, count(*) AS n_orders, sum(cents) AS sum_cents
        FROM sql_clone_t GROUP BY status ORDER BY status""")
    }),

    // COLUMN MAPPING (Delta columnMapping=name): RENAME COLUMN and DROP
    // COLUMN as O(1) metadata commits — no data file rewritten. The
    // sequence: rename cents→amount_cents, drop the note column, re-ADD
    // a fresh note, append a batch under the new names. The aggregate
    // must show the full row set under the RENAMED name, and
    // count(note) must be 0 — the re-added column maps to fresh
    // physical storage, so the dropped values can never resurface (the
    // exact hazard column mapping exists to prevent; a naive
    // name-reuse implementation would read the old values back).
    "q_column_mapping" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_colmap")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
        (col("o_orderkey") % 7).as("note"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 2 === 0), root)
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES " +
        "('gvt.columnMapping' = 'name')")
      sess.sql(s"ALTER TABLE gvt.`$root` RENAME COLUMN cents TO amount_cents")
      sess.sql(s"ALTER TABLE gvt.`$root` DROP COLUMN note")
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS (note BIGINT)")
      graft.sources.VersionedTable.append(
        o.filter(col("k") % 2 === 1)
          .select(col("k"), col("status"), col("cents").as("amount_cents")),
        root, allowEvolution = true)
      graft.sources.VersionedTable.readLatest(sess, root)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("amount_cents")).as("sum_cents"),
          count(col("note")).as("n_note"))
        .orderBy(col("status"))
    }),

    // ALTER COLUMN TYPE widening (Delta's type-widening surface): the
    // INT cents column widens to BIGINT as a schema-only commit — no
    // data file rewritten — and a post-widen append lands BIGINT
    // batches next to the INT base files; the live aggregate must equal
    // plain arithmetic over ALL rows, and the pre-widen snapshot (read
    // through in-query VERSION AS OF) must still produce the base
    // half's numbers under its original narrow type.
    "q_column_widen" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_widenq")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(
        o.filter(col("k") % 2 === 0).withColumn("cents", col("cents").cast("int")),
        root)
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN cents TYPE BIGINT")
        .collect()
      graft.sources.VersionedTable.append(o.filter(col("k") % 2 === 1), root)
      sess.sql(s"CREATE OR REPLACE TEMPORARY VIEW widen_q_t USING gvt " +
        s"OPTIONS (path '$root')")
      sess.sql("""SELECT status, live.n AS n_live, live.sc AS sum_cents,
          v1.n AS n_v1, v1.sc AS sum_cents_v1
        FROM (SELECT status, count(*) AS n, sum(cents) AS sc
              FROM widen_q_t GROUP BY status) live
        JOIN (SELECT status, count(*) AS n, sum(cents) AS sc
              FROM widen_q_t VERSION AS OF 1 GROUP BY status) v1
        USING (status) ORDER BY status""")
    }),

    // CDF ACROSS A COLUMN-MAPPED CHAIN at O(changed): the incremental
    // drain of a table that was renamed mid-stream — the rename commit
    // is metadata-only and emits NO change rows (the Delta CDF
    // contract), the append hop emits its batch as inserts, and the
    // DV-delete hop emits the removed rows — all surfaced under the
    // LOGICAL (renamed) column names, reading only the touched
    // batch/files, never an O(table) snapshot diff (the pre-r11
    // mapped-chain behavior this query pins down).
    "q_cdf_colmap" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_cdfcm")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 2 === 0), root)
      sess.sql(s"ALTER TABLE gvt.`$root` SET TBLPROPERTIES " +
        "('gvt.columnMapping' = 'name')")
      sess.sql(s"ALTER TABLE gvt.`$root` RENAME COLUMN cents TO amount_cents")
      graft.sources.VersionedTable.append(
        o.filter(col("k") % 2 === 1)
          .select(col("k"), col("status"), col("cents").as("amount_cents")),
        root)
      graft.sources.VersionedTable.deleteWhereVector(sess, root,
        col("k") % 9 === 0)
      val vt = graft.sources.VersionedTable
      vt.changes(sess, root, 1L, 3L, Seq("k"))
        .unionByName(vt.changes(sess, root, 3L, 4L, Seq("k")))
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("amount_cents")).as("sum_cents"))
        .orderBy(col("_change_type"))
    }),

    // BLOOM-FILTER file skipping (Delta BLOOMFILTER INDEX): a point
    // lookup on an UNCLUSTERED high-cardinality column (md5 of the key,
    // hash-scattered across 8 files) — zone maps cannot prune it (every
    // file spans the whole value space) but the per-file bloom keeps
    // only the file(s) whose filter contains all 4 probe positions.
    // Result must equal the plain filtered row (false positives cost a
    // scan, never a row); GvtDdlSpec asserts the executed-scan file
    // counts (<=2 of 8 on a hit, 0 on an absent value).
    "q_bloom_skip" -> ((s, dir) => {
      val out = tmpDir("graft_bloomq")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .withColumn("id", md5(concat(lit("id-"), col("k").cast("string"))))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.repartition(8, col("k")), root)
      graft.sources.VersionedTable.collectBlooms(s, root, 1L, Seq("id"))
      val kmin = o.agg(min(col("k"))).head.getLong(0)
      val d = java.security.MessageDigest.getInstance("MD5")
      val probe = d.digest(s"id-$kmin".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      s.read.format("gvt").load(root)
        .filter(col("id") === probe)
        .select(col("k"), col("status"), col("cents"))
    }),

    // Column DEFAULT values (the SQL DEFAULT contract): after ADD
    // COLUMNS + SET DEFAULT, a batch OMITTING the column fills with the
    // default at write, a batch carrying it keeps its values, and rows
    // written before the column existed stay NULL (defaults are
    // write-time, never read-time backfill).
    "q_column_default" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_coldflt")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 3 === 0), root)
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS (src STRING)")
      sess.sql(s"ALTER TABLE gvt.`$root` ALTER COLUMN src SET DEFAULT 'dflt'")
      graft.sources.VersionedTable.append(
        o.filter(col("k") % 3 === 1).withColumn("src", lit("b1")), root)
      graft.sources.VersionedTable.append(o.filter(col("k") % 3 === 2), root,
        allowEvolution = true)
      graft.sources.VersionedTable.readLatest(sess, root)
        .groupBy(coalesce(col("src"), lit("none")).as("src"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("src"))
    }),

    // IDENTITY columns (Delta GENERATED … AS IDENTITY): the registered
    // column's missing values fill with fresh monotonic ids on every
    // data-arrival commit — the high-water mark rides per-commit meta,
    // so the second batch continues exactly where the first stopped and
    // ids are never reused. Batches are single-partition sorted frames,
    // so assignment order is the key order and the oracle reproduces it
    // with row_number(). Pre-registration rows stay NULL (no silent
    // backfill — maintenance never invents data).
    "q_identity" -> ((s, dir) => graft.GraftSession.withExtensions(s) { sess =>
      val out = tmpDir("graft_identq")
      val o = t(sess, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"))
      val root = s"$out/t"
      graft.sources.VersionedTable.write(o.filter(col("k") % 2 === 0), root)
      sess.sql(s"ALTER TABLE gvt.`$root` ADD COLUMNS " +
        "(rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1))")
      def batch(m: Int) = o.filter(col("k") % 4 === m)
        .repartition(1).sortWithinPartitions(col("k"))
      graft.sources.VersionedTable.append(batch(1), root, allowEvolution = true)
      graft.sources.VersionedTable.append(batch(3), root, allowEvolution = true)
      graft.sources.VersionedTable.readLatest(sess, root)
        .filter(col("rid").isNotNull)
        .select(col("k"), col("rid"))
        .orderBy(col("k"))
    }),

    // CDF-FED incremental JOIN-view maintenance — the counting-algorithm
    // generalization of q_incremental_join (which is insert-only with
    // synthesized deltas): BOTH sides of V = A ⋈ B are versioned tables
    // whose commits carry deletes and updates, the changesets are read
    // from the ACTUAL change feeds, and the signed delta algebra
    //   ΔV = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
    // (op = +1 insert/postimage, −1 delete/preimage; ΔA⋈ΔB lands once,
    // inside the first term) is applied to the stored view by a
    // full-row signed count — rows netting to 0 vanish, exactly the
    // DBToaster/counting IVM update. A_old ⋈ B_old is NEVER recomputed;
    // the refresh cost is two feed-diff joins + two delta-sized joins +
    // one view-sized aggregate, at any base size. Oracle: the
    // from-scratch rebuild A_new ⋈ B_new, which the maintained view
    // must equal exactly.
    "q_cdf_join_refresh" -> ((s, dir) => {
      val out = tmpDir("graft_cdfj")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("ck"), col("o_orderstatus").as("status"))
      val c = t(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_mktsegment").as("segment"))
      val a1 = o.filter(col("k") % 10 =!= 0)                 // yesterday's facts
      val a2 = o.filter(col("k") % 10 === 0 || col("k") % 97 =!= 0)
        .withColumn("status",                                 // deletes + updates + inserts
          when(col("k") % 7 === 0, lit("U")).otherwise(col("status")))
      val b1 = c.filter(col("ck") % 5 =!= 0)                 // yesterday's dims
      val b2 = c.filter(col("ck") % 13 =!= 0)
        .withColumn("segment",
          when(col("ck") % 11 === 0, lit("U")).otherwise(col("segment")))
      val (ra, rb) = (s"$out/a", s"$out/b")
      graft.sources.VersionedTable.write(a1, ra)
      graft.sources.VersionedTable.write(a2, ra)
      graft.sources.VersionedTable.write(b1, rb)
      graft.sources.VersionedTable.write(b2, rb)
      val op = graft.streaming.ChangeFeed.changeOp
      val feedA = graft.sources.VersionedTable.changes(s, ra, 1L, 2L, Seq("k"))
        .select(col("k"), col("ck"), col("status"), op.as("op"))
      val feedB = graft.sources.VersionedTable.changes(s, rb, 1L, 2L, Seq("ck"))
        .select(col("ck"), col("segment"), op.as("op"))
      val aOld = graft.sources.VersionedTable.readVersion(s, ra, 1L)
      val bOld = graft.sources.VersionedTable.readVersion(s, rb, 1L)
      val bNew = graft.sources.VersionedTable.readVersion(s, rb, 2L)
      val vOld = aOld.join(bOld, Seq("ck")).withColumn("op", lit(1L)) // the STORED view
      val dVA = feedA.join(bNew, Seq("ck"))
      val dVB = aOld.join(feedB, Seq("ck"))
      val cols = Seq("k", "ck", "status", "segment", "op")
      vOld.select(cols.map(col): _*)
        .unionByName(dVA.select(cols.map(col): _*))
        .unionByName(dVB.select(cols.map(col): _*))
        .groupBy(col("k"), col("ck"), col("status"), col("segment"))
        .agg(sum(col("op")).as("net"))
        .filter(col("net") > 0)
        .select(col("k"), col("ck"), col("status"), col("segment"))
        .orderBy(col("k"), col("ck"))
    }),

    // P1/P2 projection + rename.
    "q_project_rename" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey").as("customer_id"),
          col("c_name").as("customer_name"),
          col("c_mktsegment").as("segment"))
        .orderBy(col("customer_id"))),

    // P3/P4/P10-P16/P22 enrichment expression battery (silver enrich).
    "q_enrich_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumns(Map(
          "day_name" -> dayNameSunday0(dayofweek(col("o_orderdate")) - 1),
          "quarter_bucket" ->
            when(month(col("o_orderdate")).between(1, 3), "Q1")
              .when(month(col("o_orderdate")).between(4, 6), "Q2")
              .when(month(col("o_orderdate")).between(7, 9), "Q3")
              .otherwise("Q4"),
          "is_urgent" -> (col("o_orderpriority") === "1-URGENT"),
          "order_key_hash" -> surrogateKey(col("o_orderkey"), col("o_custkey")),
          "price_k" -> (col("o_totalprice") / 1000.0)))
        .select(col("o_orderkey"), col("day_name"), col("quarter_bucket"),
          col("is_urgent"), col("order_key_hash"), col("price_k"))
        .orderBy(col("o_orderkey"))),

    // W1 dedup-keep-first with deterministic tie-break: first order per customer.
    "q_dedup_orders" -> ((s, dir) =>
      dedupFirst(t(s, dir, "orders"), Seq("o_custkey"),
        Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("first_order_date"),
          col("o_totalprice").as("first_order_price"))
        .orderBy(col("o_custkey"))),

    // W1 composite-key dedup (order_products analogue: lineitem has real
    // duplicate (l_orderkey, l_partkey) pairs in the testdata).
    "q_dedup_lineitem" -> ((s, dir) =>
      dedupFirst(t(s, dir, "lineitem"), Seq("l_orderkey", "l_partkey"),
        Seq(col("l_linenumber"), col("l_suppkey")))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_partkey"))),

    // W3 lag with offset + default over a per-customer sequence.
    "q_window_lag" -> ((s, dir) =>
      lagPrev(t(s, dir, "orders"), col("o_totalprice"),
        Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")), 0.0, "prev_price_raw")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice").as("price"),
          col("prev_price_raw").as("prev_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))),

    // W4 count-over-partition duplicate detection (quality.py:74-79 form).
    "q_window_count_over" -> ((s, dir) =>
      groupSize(t(s, dir, "lineitem"), Seq("l_orderkey", "l_partkey"))
        .filter(col("group_size") > 1)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("group_size"))
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))),

    // J1+A1-A6 star join rolled up to region grain (dims broadcast).
    "q_enriched_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region_name"))
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("region_name"))
    }),

    // Gold mart: fct at line-item grain with md5 surrogate key.
    "q_fct_orders" -> ((s, dir) =>
      GoldMarts.fctOrderItems(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "part"), t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))),

    // Gold mart: customer dim with segments.
    "q_dim_users" -> ((s, dir) =>
      GoldMarts.dimUsers(t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))),

    // Gold mart: product dim with popularity tier.
    "q_dim_products" -> ((s, dir) =>
      GoldMarts.dimProducts(t(s, dir, "part"), t(s, dir, "lineitem"), t(s, dir, "orders"))),

    // Gold mart: nation performance (dept analogue) with shares + pct-of-total.
    "q_mart_dept" -> ((s, dir) =>
      GoldMarts.martNationPerformance(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "nation"))),

    // Gold mart: repeat-purchase velocity (row_number + lag + HAVING).
    "q_mart_velocity" -> ((s, dir) =>
      GoldMarts.martRepeatVelocity(t(s, dir, "lineitem"), t(s, dir, "orders"))),

    // O3 top-k: TakeOrderedAndProject, deterministic tie-break.
    "q_topk" -> ((s, dir) =>
      topK(t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items")),
        10, col("revenue").desc, col("l_partkey"))),

    // S5/S6/A9 temp view + SQL text with GROUP BY ordinal.
    "q_sql_ctas" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""CREATE OR REPLACE TEMP VIEW ctas_demo AS
               SELECT o_orderstatus, o_orderpriority,
                      count(*) AS n, floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS total
               FROM orders_v GROUP BY 1, 2""")
      s.sql("SELECT * FROM ctas_demo ORDER BY o_orderstatus, o_orderpriority")
    }),

    // G1 null-rate gate as a single-pass aggregate (nullif provides a
    // genuinely nullable column in the all-NOT-NULL testdata).
    "q_gate_null_rate" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .agg(rnd(avg(when(nullif(col("l_discount"), lit(0.0)).isNull, 1.0).otherwise(0.0)), 6)
          .as("null_rate"))
        .select(lit("l_discount_zero_as_null").as("column_name"), col("null_rate"),
          when(col("null_rate") <= 0.5, "PASS").otherwise("FAIL").as("status"))),

    // G2 duplicate-rate gate via groupBy-count (no window shuffle of raw rows).
    "q_gate_dup_rate" -> ((s, dir) => {
      val perKey = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_partkey")).agg(count(lit(1)).as("n"))
      perKey.agg(
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_rows"),
        sum(col("n")).as("total_rows"))
        .select(col("dup_rows"), col("total_rows"),
          rnd(col("dup_rows") / col("total_rows"), 6).as("dup_rate"))
    }),

    // G3 referential-integrity gate as one declarative aggregate (left join
    // + null-parent count; no driver-side actions).
    "q_gate_ref_integrity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      val o = t(s, dir, "orders").select(col("o_orderkey"))
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left")
        .agg(count(lit(1)).as("total_fk"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orphans"))
        .select(lit("lineitem.l_orderkey->orders").as("relation"),
          col("total_fk"), col("orphans"),
          rnd(col("orphans") / col("total_fk"), 6).as("orphan_rate"))
    }),

    // ROLLUP hierarchy totals (subtotal + grand-total rows); null group
    // markers replaced via coalesce so null-ordering differences between
    // engines cannot affect the sort.
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("return_flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("line_status"),
          col("n"), col("sum_qty"))
        .orderBy(col("return_flag"), col("line_status"))),

    // CUBE: every grouping-set combination in one pass (partial aggs are
    // expanded map-side, one exchange total); grouping() bits
    // disambiguate data rows from supertotals, coalesce labels keep
    // null-ordering out of the cross-engine compare.
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          (grouping(col("l_returnflag")) * 2 +
            grouping(col("l_linestatus"))).cast("long").as("gid"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("return_flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("line_status"),
          col("gid"), col("n"), col("sum_qty"))
        .orderBy(col("gid"), col("return_flag"), col("line_status"))),

    // Explicit GROUPING SETS (the general form CUBE/ROLLUP specialize):
    // an arbitrary mix of grouping shapes — here both margins plus the
    // full cross, WITHOUT the grand total — in one pass. Same Expand →
    // partial agg → one exchange plan as CUBE; supertotals cost map-side
    // row expansion, never extra shuffles. SQL surface by nature (the
    // Dataset API exposes only cube/rollup).
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT coalesce(l_returnflag, '(all)') AS return_flag,
                      coalesce(l_linestatus, '(all)') AS line_status,
                      CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                        AS BIGINT) AS gid,
                      count(*) AS n, sum(l_quantity) AS sum_qty
               FROM lineitem_gs
               GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                       (l_returnflag), (l_linestatus))
               ORDER BY gid, return_flag, line_status""")
    }),

    // UNPIVOT via stack(): wide per-flag measures to long (measure, value)
    // rows — the melt step in front of generic metric sinks.
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(rnd(sum(col("l_quantity")), 2).as("quantity"),
          count(lit(1)).cast("double").as("items"))
        .select(col("l_returnflag"),
          expr("stack(2, 'quantity', quantity, 'items', items) AS (measure, value)"))
        .orderBy(col("l_returnflag"), col("measure"))),

    // Correlated EXISTS / NOT EXISTS subqueries: Catalyst rewrites them
    // to one semi and one anti join against the same orders scan.
    "q_exists" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_x")
      t(s, dir, "customer").createOrReplaceTempView("customer_x")
      s.sql("""SELECT c_mktsegment, count(*) AS n_custs
               FROM customer_x c
               WHERE EXISTS (SELECT 1 FROM orders_x o
                             WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
                 AND NOT EXISTS (SELECT 1 FROM orders_x o
                                 WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // PIVOT: order counts by priority x status (explicit pivot values ->
    // deterministic output columns).
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy(col("o_orderpriority"))),

    // INTERSECT / EXCEPT (distinct set semantics in both engines).
    "q_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val both = f.intersect(op).agg(count(lit(1)).as("n_both"))
      val onlyF = f.except(op).agg(count(lit(1)).as("n_only_f"))
      both.crossJoin(onlyF)
    }),

    // lead / ntile / first_value / last_value with explicit frames.
    // Rank-statistics windows: percent_rank / cume_dist (the two the
    // battery above lacks) — both engines share the exact definitions
    // ((rank-1)/(n-1), peers/n) so the doubles compare bit-identically.
    "q_window_pct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "q_window_extras" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").as("price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        first_value(col("o_totalprice")).over(w).as("first_price"),
        last_value(col("o_totalprice")).over(
          w.rowsBetween(Window.currentRow, Window.unboundedFollowing)).as("last_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Date arithmetic battery (the reference pre-encodes dates as ints;
    // the engine still owns the date function surface).
    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since_95"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_date"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"))
        .orderBy(col("o_orderkey"))),

    // Sort-based aggregates: exact interpolated percentiles (median/p90)
    // per group — Spark percentile() and DuckDB quantile_cont share the
    // linear-interpolation definition.
    "q_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          rnd(expr("percentile(l_extendedprice, 0.5)"), 2).as("median_price"))
        .orderBy(col("l_returnflag"))),

    // Z-order (Morton) clustering key — the multi-dimensional sort layout
    // (Delta OPTIMIZE ZORDER BY analogue): writing lineitem sorted by
    // this key lets parquet min/max stats prune scans filtered on EITHER
    // l_orderkey or l_partkey. Keys are range-normalized to 16-bit
    // buckets before interleaving (raw-key interleave is WORSE than a
    // single-key sort when ranges differ — ZOrderSpec); bucket + spread
    // are pure codegen'd arithmetic, hash-verified against DuckDB.
    "q_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val mm = li.agg(
        min(col("l_orderkey")).as("amin"), max(col("l_orderkey")).as("amax"),
        min(col("l_partkey")).as("bmin"), max(col("l_partkey")).as("bmax"))
      // buckets projected first: the 5-step spread references its input
      // twice per step (2^5 inlinings after projection collapse), so the
      // interleave must see a cheap column ref, not the bucket arithmetic
      li.crossJoin(broadcast(mm))
        .select(col("l_orderkey"), col("l_partkey"),
          ZOrder.rangeBucket(col("l_orderkey"), col("amin"), col("amax"), 16).as("ba"),
          ZOrder.rangeBucket(col("l_partkey"), col("bmin"), col("bmax"), 16).as("bb"))
        .localCheckpoint()
        .select(col("l_orderkey"), col("l_partkey"),
          ZOrder.zorder2(col("ba"), col("bb")).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_partkey"))
    }),

    // N-column Morton key (ZORDER BY over MORE than two columns): bit i
    // of bucket j lands at position i·k + j — the oracle rebuilds the
    // exact placement from the shared zorderNSql, so the key itself is
    // hash-verified cross-engine at k=3.
    "q_zorder3" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val mm = li.agg(
        min(col("l_orderkey")).as("amin"), max(col("l_orderkey")).as("amax"),
        min(col("l_partkey")).as("bmin"), max(col("l_partkey")).as("bmax"),
        min(col("l_suppkey")).as("cmin"), max(col("l_suppkey")).as("cmax"))
      li.crossJoin(broadcast(mm))
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          ZOrder.rangeBucket(col("l_orderkey"), col("amin"), col("amax"), 8).as("ba"),
          ZOrder.rangeBucket(col("l_partkey"), col("bmin"), col("bmax"), 8).as("bb"),
          ZOrder.rangeBucket(col("l_suppkey"), col("cmin"), col("cmax"), 8).as("bc"))
        .localCheckpoint()
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          ZOrder.zorderN(Seq(col("ba"), col("bb"), col("bc")), 8).as("zkey"))
        .orderBy(col("zkey"), col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    }),

    // Approximate sketch aggregates — the 100 TB substitutes for exact
    // countDistinct/percentile (HyperLogLog++ / KLL-style, constant
    // memory, single pass, mergeable across partitions — no giant
    // distinct shuffle). No DuckDB oracle: sketch estimates are
    // algorithm-specific, so the driver records the rows-only check and
    // ApproxSpec pins the error bounds against the exact operators.
    // SketchQueries carries the oracle-VERIFIABLE counterparts —
    // q_hll_est / q_cms_topk / q_hist_quantile hash-match DuckDB
    // because their sketch arithmetic is pinned to md5 + exact longs.
    "q_approx_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("approx_median_qty"),
          expr("percentile(l_quantity, 0.5)").as("exact_median_qty"))
        .orderBy(col("l_returnflag"))),

    // Typed Dataset + custom Aggregator[IN,BUF,OUT] (revenue + qty stats
    // per flag) — results identical to the untyped SQL aggregation.
    "q_typed_agg" -> ((s, dir) =>
      graft.typed.TypedOps.revenueByFlag(graft.typed.TypedOps.lineitemsSlim(s, dir))
        .select(col("l_returnflag"), rnd(col("revenue_raw"), 2).as("revenue"),
          col("n_rows"), col("sum_qty"), col("max_qty"))
        .orderBy(col("l_returnflag"))),

    // JSON source roundtrip (schema-enforced read of a JSON-lines dump).
    "q_scan_json" -> ((s, dir) => {
      val out = tmpDir("graft_json")
      t(s, dir, "nation").write.mode("overwrite").json(out)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(out)
        .orderBy(col("n_nationkey"))
    }),

    // Custom operator: per-group top-k (LogicalPlan + Strategy + Exec with
    // partial bounded-heap pass). Oracle = the window row_number form.
    "q_topk_per_key" -> ((s, dir) =>
      topKPerKey(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_partkey"), col("l_linenumber")),
        3)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_partkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_partkey"), col("l_linenumber"))),

    // Skew-safe salted aggregation: two-stage (keys+salt partial, keys
    // final) with deterministic hash-derived salt — results identical to a
    // plain groupBy, which is exactly what the oracle checks.
    "q_salted_agg" -> ((s, dir) =>
      saltedSumCount(t(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq(col("l_orderkey"), col("l_partkey")), 16,
        Map("sum_qty" -> col("l_quantity"),
          "sum_revenue_raw" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          rnd(col("sum_revenue_raw"), 2).as("sum_revenue"))
        .orderBy(col("l_returnflag"))),

    // FULL OUTER completes the join-type surface (inner/left/semi/anti/
    // cross covered elsewhere): per-nation customer vs supplier rollups
    // with deliberately asymmetric coverage (fixture filters), unmatched
    // sides surfacing as NULLs coalesced to 0. Both inputs pre-aggregate
    // BEFORE the join — the outer join runs on ≤25-row sides, not raw
    // tables (at scale: aggregate-then-join beats join-then-aggregate
    // whenever the join key is the grouping key).
    "q_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_nationkey") < 15)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val p = t(s, dir, "supplier").filter(col("s_nationkey") >= 10)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(p, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          (col("n_cust").isNull || col("n_supp").isNull).as("one_sided"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // Skew-safe salted JOIN: the derived fact key concentrates ~70% of
    // lineitem on one value, so a plain shuffle join sends all of it to
    // ONE reducer. Salting joins on (key, salt): the fact side takes a
    // stable per-row salt, the dim side is replicated once per salt
    // value, and the hot key fans out over S reducers. The salt never
    // reaches the output — result is identical to the plain join (the
    // oracle). This dim is small enough to broadcast (which needs no
    // salting); .hint("merge") forces the sort-merge path to exercise
    // the salted exchange — at corpus scale the same construction
    // handles dims too big to broadcast. AQE's skew-join splitter covers
    // sort-merge skew it can observe at runtime; explicit salting
    // remains the tool when it can't (skew into a window/grouping).
    "q_salted_join" -> ((s, dir) => {
      val salts = 8
      val fact = t(s, dir, "lineitem")
        .withColumn("skew_key",
          when(col("l_orderkey") % 10 < 7, lit(0L))
            .otherwise(pmod(col("l_orderkey"), lit(97L))))
        .withColumn("_salt",
          pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(salts)))
      val dim = s.range(97)
        .select(col("id").as("skew_key"),
          concat(lit("grp_"), lpad(col("id").cast("string"), 2, "0")).as("grp"))
        .withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
      fact.hint("merge").join(dim, Seq("skew_key", "_salt"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("grp"))
    }),

    // Skew DIAGNOSIS — the report you run before reaching for the
    // salting/AQE tools above: per-key row counts (the same 70%-hot
    // synthetic key as q_salted_join) reduced to the decision numbers —
    // hot-key share, p50/p99 key size, max/median skew ratio. Two hash
    // aggregations, the second over key-count rows only; the hot key
    // skews the FIRST aggregate's reducers, which map-side partial
    // aggregation absorbs (each mapper emits one row per key).
    "q_skew_report" -> ((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .withColumn("skew_key",
          when(col("l_orderkey") % 10 < 7, lit(0L))
            .otherwise(pmod(col("l_orderkey"), lit(97L))))
        .groupBy(col("skew_key")).agg(count(lit(1)).as("n"))
      counts.agg(
        count(lit(1)).cast("long").as("n_keys"),
        sum(col("n")).cast("long").as("total_rows"),
        max(col("n")).cast("long").as("max_rows"),
        expr("percentile(n, 0.5)").as("p50_rows"),
        expr("percentile(n, 0.99)").as("p99_rows"))
        .withColumn("hot_share",
          rnd(col("max_rows") / col("total_rows").cast("double"), 4))
        .withColumn("skew_ratio", rnd(col("max_rows") / col("p50_rows"), 2))
    }),

    // Iterative graph analytics: weighted PageRank (damping 0.85, 5
    // fixed iterations) over the supplier-nation → customer-nation trade
    // graph, via graft.ops.PageRank — the bucketed-rank shape where
    // edges AND ranks stay hash-partitioned on the join key, each round
    // shuffles only the inflow regroup, and the rank vector is never
    // broadcast (so executor memory stays O(nodes/partitions) at 10⁹
    // nodes). Integer micro-unit ranks keep every step exact long
    // arithmetic — bit-identical across engines. PageRankSpec asserts
    // the one-exchange / no-broadcast round plan.
    "q_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("dst"))
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("src"))
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val ranks = graft.ops.PageRank.run(edges, iterations = 5)
      ranks.join(broadcast(t(s, dir, "nation")), col("node") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("rank"))
        .orderBy(col("rank").desc, col("nation"))
    }),

    // J3 semi/anti join pair: orders with and without line items, one
    // declarative row (left_semi = EXISTS, left_anti = NOT EXISTS).
    "q_semi_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      val withItems = o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_items"))
      val withoutItems = o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_items"))
      withItems.crossJoin(withoutItems)
    }),

    // Range join (point-in-interval, no equi-key): each order date
    // matched into lineitem fulfillment windows [shipdate,
    // shipdate + quantity days] (short spans kept: quantity ≤ 5).
    // Spark-first realization is graft.ops.RangeJoin — bucket the time
    // axis, explode intervals into their O(1) overlapping buckets,
    // equi-join on bucket, residual BETWEEN — versus the
    // BroadcastNestedLoopJoin a raw BETWEEN join plans to. The width
    // self-tunes to the MEDIAN INTERVAL SPAN (one approx-quantile pass;
    // RangeJoin.autoBucketWidth): candidate rows ∝ (width + span), so
    // the r4 hand-tuned 32→4 (measured 6.3s → 3.2s at sf0.1) is now the
    // derived default — RangeJoinSpec holds auto within 2× of it; the
    // floor is the ~14.5M genuine matches feeding the distinct-count.
    "q_range_join" -> ((s, dir) => {
      val pts = t(s, dir, "orders")
        .select(col("o_orderkey"),
          unix_date(to_date(col("o_orderdate"))).as("p"))
      val ivs = t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 5.0)
        .select(col("l_returnflag"),
          unix_date(to_date(col("l_shipdate"))).as("lo"),
          (unix_date(to_date(col("l_shipdate"))) +
            col("l_quantity").cast("long")).as("hi"))
      graft.ops.RangeJoin.rangeJoinAuto(pts, ivs, "p", "lo", "hi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("pairs"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("l_returnflag"))
    }),

    // The SAME range join written the way a user would write it — a raw
    // BETWEEN join — compiled into the bucketed equi-join by the
    // RangeJoinRewrite optimizer rule (installed imperatively here, the
    // extraOptimizations twin of the GraftExtensions injection; width 4
    // = the span-derived default q_range_join measures). One registry
    // query per mechanism: q_range_join times the explicit API,
    // q_range_join_rewrite proves the DECLARATIVE form reaches the same
    // plan and the same oracle-checked answer.
    "q_range_join_rewrite" -> ((s, dir) => {
      val pts = t(s, dir, "orders")
        .select(col("o_orderkey"),
          unix_date(to_date(col("o_orderdate"))).as("p"))
      val ivs = t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 5.0)
        .select(col("l_returnflag"),
          unix_date(to_date(col("l_shipdate"))).as("lo"),
          (unix_date(to_date(col("l_shipdate"))) +
            col("l_quantity").cast("long")).as("hi"))
      // Per-join width via the marker predicate (widthHint) — the same
      // span-derived width the API path self-tunes to, carried INSIDE
      // this join's subtree: no session conf is touched, so a
      // concurrent query's BETWEEN join can't inherit a lineitem-scaled
      // width. The rule is applied to the analyzed plan EAGERLY and the
      // returned frame wraps the rewritten plan: every downstream
      // QueryExecution (count(), write) inherits the bucket join with
      // no session-state mutation at all.
      val declarative = pts
        .join(ivs.filter(graft.ops.RangeJoin.widthHint(
          graft.ops.RangeJoin.autoBucketWidth(ivs, "lo", "hi"))),
          col("p") >= col("lo") && col("p") <= col("hi"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("pairs"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("l_returnflag"))
      org.apache.spark.sql.graft.NativeColumns.ofPlan(s,
        graft.plans.RangeJoinRewrite(declarative.queryExecution.analyzed))
    }),

    // G4 reconciliation drift, fully declarative (two 1-row aggs cross-joined).
    "q_gate_recon" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val src = li.agg(count(lit(1)).as("source_rows"))
      val tgt = li.select(col("l_orderkey"), col("l_partkey")).distinct()
        .agg(count(lit(1)).as("target_rows"))
      src.crossJoin(tgt)
        .withColumn("drift",
          rnd(abs(col("target_rows") - col("source_rows")).cast("double") / col("source_rows"), 6))
        .withColumn("status", when(col("drift") <= 0.01, "PASS").otherwise("FAIL"))
    }),

    // ── BI verification queries (03_gold_metrics_serverless.py:396-436) ──
    // The reference's four eyeball queries over the gold tables, as
    // first-class registry entries over the mart analogues.

    // BI-1: top departments (nations) by return rate (03_serverless:399-403).
    "q_bi_top_dept" -> ((s, dir) =>
      topK(GoldMarts.martNationPerformance(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "nation"))
        .select(col("nation_name"), col("pct_returned"),
          col("total_line_items"), col("pct_of_total_items")),
        10, col("pct_returned").desc, col("nation_name"))),

    // BI-2: user segment breakdown with GROUP BY ordinal semantics
    // (03_serverless:407-413).
    "q_bi_segments" -> ((s, dir) =>
      GoldMarts.dimUsers(t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))
        .groupBy(col("frequency_segment"), col("basket_segment"))
        .agg(count(lit(1)).as("user_count"))
        .orderBy(col("user_count").desc, col("frequency_segment"), col("basket_segment"))),

    // BI-3: top-10 most-returned products among frequently ordered ones
    // (03_serverless:417-424: reorder_rate DESC with a times_ordered floor).
    "q_bi_top_products" -> ((s, dir) =>
      topK(GoldMarts.dimProducts(t(s, dir, "part"), t(s, dir, "lineitem"), t(s, dir, "orders"))
        .filter(col("times_ordered") >= 20)
        .select(col("product_id"), col("product_name"), col("brand"),
          col("return_rate"), col("times_ordered"), col("avg_cart_position")),
        10, col("return_rate").desc, col("product_id"))),

    // BI-4: fastest habit-forming products — highest early-position repeat
    // signal with a volume floor (03_serverless:428-436). The mart runs
    // un-HAVING'd (minPurchases=1) because repeat purchases of the same
    // part are rare in the testdata; the BI floor (>= 2) plays the
    // reference's `purchase_count >= 500` role.
    "q_bi_habit" -> ((s, dir) =>
      topK(GoldMarts.martRepeatVelocity(t(s, dir, "lineitem"), t(s, dir, "orders"),
        minPurchases = 1L)
        .filter(col("position_bucket") === "early" && col("purchase_count") >= 2)
        .select(col("product_id"), col("position_bucket"),
          col("purchase_count"), col("prev_return_rate")),
        10, col("prev_return_rate").desc, col("product_id"))))

  private val oracleBase: Map[String, String] = Map(

    "q_zorder" ->
      s"""WITH mm AS (
         |  SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
         |         min(l_partkey) AS bmin, max(l_partkey) AS bmax
         |  FROM lineitem),
         |bk AS (
         |  SELECT l_orderkey, l_partkey,
         |    ${ZOrder.rangeBucketSql("l_orderkey", "amin", "amax", 16)} AS ba,
         |    ${ZOrder.rangeBucketSql("l_partkey", "bmin", "bmax", 16)} AS bb
         |  FROM lineitem CROSS JOIN mm)
         |SELECT l_orderkey, l_partkey,
         |  ${ZOrder.zorder2Sql("ba", "bb")} AS zkey
         |FROM bk
         |ORDER BY zkey, l_orderkey, l_partkey""".stripMargin,

    "q_zorder3" ->
      s"""WITH mm AS (
         |  SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
         |         min(l_partkey) AS bmin, max(l_partkey) AS bmax,
         |         min(l_suppkey) AS cmin, max(l_suppkey) AS cmax
         |  FROM lineitem),
         |bk AS (
         |  SELECT l_orderkey, l_partkey, l_suppkey,
         |    ${ZOrder.rangeBucketSql("l_orderkey", "amin", "amax", 8)} AS ba,
         |    ${ZOrder.rangeBucketSql("l_partkey", "bmin", "bmax", 8)} AS bb,
         |    ${ZOrder.rangeBucketSql("l_suppkey", "cmin", "cmax", 8)} AS bc
         |  FROM lineitem CROSS JOIN mm)
         |SELECT l_orderkey, l_partkey, l_suppkey,
         |  ${ZOrder.zorderNSql(Seq("ba", "bb", "bc"), 8)} AS zkey
         |FROM bk
         |ORDER BY zkey, l_orderkey, l_partkey, l_suppkey""".stripMargin,

    // The from-scratch rebuild over the final row set: (base \ deletes)
    // ∪ inserts = keys where k%10==0 OR (k%10<>0 AND k%7<>0). The
    // incremental merge must reproduce it exactly.
    "q_incremental_agg" ->
      """WITH o AS (SELECT o_orderpriority AS prio, o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |fin AS (SELECT * FROM o
        |  WHERE k % 10 = 0 OR (k % 10 <> 0 AND k % 7 <> 0))
        |SELECT prio, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY prio HAVING count(*) > 0
        |ORDER BY prio""".stripMargin,

    // The from-scratch rebuild over snapshot v2's row set: survivors of
    // the delete (k%97), repriced where k%7=0, plus the arrivals
    // (k%10=0). The CDF-fed merge must reproduce it exactly.
    "q_cdf_refresh" ->
      """WITH o AS (SELECT o_orderpriority AS prio, o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |fin AS (SELECT prio,
        |    CASE WHEN k % 10 <> 0 AND k % 7 = 0 THEN cents + 100000 ELSE cents END AS cents
        |  FROM o WHERE k % 10 = 0 OR (k % 10 <> 0 AND k % 97 <> 0))
        |SELECT prio, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY prio HAVING count(*) > 0
        |ORDER BY prio""".stripMargin,

    // The chain union must equal the raw table: same aggregate directly.
    "q_append_chain" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // Rows NULL-pad outside the evolved batch: prio exists only where
    // k % 3 = 1, so its sum/count are conditional over that slice.
    "q_append_evolve" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN o_orderkey % 5 ELSE 0 END) AS BIGINT) AS sum_prio,
        |  CAST(count(CASE WHEN o_orderkey % 3 = 1 THEN 1 END) AS BIGINT) AS n_prio
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // The replaced scope is repriced; everything else untouched.
    "q_replace_where" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      + CASE WHEN o_orderstatus = 'F' THEN 100000 ELSE 0 END AS cents
        |  FROM orders)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o GROUP BY status ORDER BY status""".stripMargin,

    // The clone sees the source rows minus its own DV delete.
    "q_clone" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o WHERE k % 17 <> 0
        |GROUP BY status ORDER BY status""".stripMargin,

    // Folding the batches is invisible to the aggregate.
    "q_compact_chain" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // Partitioned chains must union to the same logical table — the
    // layout is invisible to the aggregate.
    "q_append_chain_part" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // Both pinned snapshots from one table root: v1 = all orders,
    // live = minus every 13th key.
    "q_gvt_time_travel" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status FROM orders)
        |SELECT status, v1.n AS n_v1, live.n AS n_live
        |FROM (SELECT status, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY status) v1
        |JOIN (SELECT status, CAST(count(*) AS BIGINT) AS n FROM o
        |      WHERE k % 13 <> 0 GROUP BY status) live
        |USING (status) ORDER BY status""".stripMargin,

    // String skipping is result-invisible too.
    "q_data_skipping_str" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    // File pruning is result-invisible: the oracle reproduces the
    // data-derived bounds with the same integer arithmetic and filters
    // the raw table.
    "q_data_skipping_multi" ->
      """WITH bnd AS (SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
        |    min(l_partkey) AS bmin, max(l_partkey) AS bmax FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key
        |FROM lineitem, bnd
        |WHERE l_orderkey >= amin + (amax - amin) // 2
        |  AND l_orderkey <= amin + (amax - amin) // 2 + (amax - amin) // 8
        |  AND l_partkey >= bmin + (bmax - bmin) // 2
        |  AND l_partkey <= bmin + (bmax - bmin) // 2 + (bmax - bmin) // 8""".stripMargin,

    // The three disjoint MERGE row classes: target-only pass-through,
    // matched-not-deleted updated, source-only inserted.
    "q_merge_clauses" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |tgt AS (SELECT * FROM o WHERE k % 10 <> 0),
        |src AS (SELECT * FROM o WHERE k % 5 = 0)
        |SELECT k, status, cents FROM (
        |  SELECT t.k AS k, t.status AS status, t.cents AS cents
        |  FROM tgt t LEFT JOIN src s ON t.k = s.k WHERE s.k IS NULL
        |  UNION ALL
        |  SELECT t.k, t.status, t.cents + s.cents
        |  FROM tgt t JOIN src s ON t.k = s.k WHERE t.status <> 'F'
        |  UNION ALL
        |  SELECT s.k, s.status, s.cents
        |  FROM src s LEFT JOIN tgt t ON s.k = t.k WHERE t.k IS NULL
        |) ORDER BY k""".stripMargin,

    // NMS algebra: matched (k%5=0 targets) reprice; target-only rows
    // delete when 'F', else restatus 'S'.
    "q_merge_nms" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |tgt AS (SELECT * FROM o WHERE k % 10 <> 0),
        |src AS (SELECT * FROM o WHERE k % 5 = 0)
        |SELECT k, status, cents FROM (
        |  SELECT k, 'S' AS status, cents FROM tgt
        |  WHERE k % 5 <> 0 AND status <> 'F'
        |  UNION ALL
        |  SELECT t.k, t.status, t.cents + s.cents
        |  FROM tgt t JOIN src s ON t.k = s.k
        |) ORDER BY k""".stripMargin,

    // Vectors are storage, not semantics: the DV-applied snapshot must
    // equal the plain filtered row set.
    "q_delete_dv" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o WHERE k % 13 <> 0 AND k % 7 <> 0
        |GROUP BY status ORDER BY status""".stripMargin,

    // DV storage is invisible to semantics: survivors of the delete,
    // repriced/restatused where k%7=0.
    "q_update_dv" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      + CASE WHEN o_orderkey % 7 = 0 THEN 100000 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o GROUP BY status ORDER BY status""".stripMargin,

    // OPTIMIZE/VACUUM are storage-only; VERSION AS OF 1 is the k%3=0
    // base slice.
    "q_sql_optimize" ->
      """WITH o AS (SELECT o_orderstatus AS status, o_orderkey AS k FROM orders)
        |SELECT status, CAST(live.n AS BIGINT) AS n_live, CAST(v1.n AS BIGINT) AS n_v1
        |FROM (SELECT status, count(*) AS n FROM o GROUP BY status) live
        |JOIN (SELECT status, count(*) AS n FROM o WHERE k % 3 = 0 GROUP BY status) v1
        |USING (status) ORDER BY status""".stripMargin,

    "q_sql_optimize_part" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY status ORDER BY status""".stripMargin,

    "q_sql_optimize_small" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY status ORDER BY status""".stripMargin,

    "q_sql_vacuum_purge" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY status ORDER BY status""".stripMargin,

    // SQL DELETE+UPDATE must equal the plain row-set arithmetic —
    // identical semantics to q_update_dv, driven through SQL text.
    "q_sql_delete_dv" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      + CASE WHEN o_orderkey % 7 = 0 THEN 100000 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o GROUP BY status ORDER BY status""".stripMargin,

    // Widening is storage, never semantics: live = all rows, v1 = the
    // even half, both equal to plain row-set arithmetic.
    "q_column_widen" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |live AS (SELECT status, count(*) AS n, sum(cents) AS sc
        |  FROM o GROUP BY status),
        |v1 AS (SELECT status, count(*) AS n, sum(cents) AS sc
        |  FROM o WHERE k % 2 = 0 GROUP BY status)
        |SELECT status, CAST(live.n AS BIGINT) AS n_live,
        |  CAST(live.sc AS BIGINT) AS sum_cents,
        |  CAST(v1.n AS BIGINT) AS n_v1, CAST(v1.sc AS BIGINT) AS sum_cents_v1
        |FROM live JOIN v1 USING (status) ORDER BY status""".stripMargin,

    // The mapped-chain feed must equal plain row-set arithmetic: the
    // odd half inserted, the k%9 keys deleted, nothing else.
    "q_cdf_colmap" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |evs AS (
        |  SELECT 'insert' AS _change_type, cents FROM o WHERE k % 2 = 1
        |  UNION ALL
        |  SELECT 'delete', cents FROM o WHERE k % 9 = 0)
        |SELECT _change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM evs GROUP BY 1 ORDER BY _change_type""".stripMargin,

    // SQL INSERT must equal the plain batch union, with the static-
    // partition batch fully replaced by the partition overwrite.
    "q_sql_insert" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |rows_ AS (
        |  SELECT k, status, cents, 'seed' AS src FROM o WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT k, status, cents, 'b1' FROM o WHERE k % 2 = 1 AND k % 3 = 0
        |  UNION ALL
        |  SELECT k, status, cents, 'dflt' FROM o WHERE k % 2 = 1 AND k % 3 = 1
        |  UNION ALL
        |  SELECT k, 'X', cents, 'po' FROM o WHERE k % 2 = 1 AND k % 21 = 2)
        |SELECT status, src, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM rows_ GROUP BY status, src ORDER BY status, src""".stripMargin,

    // The generated-partition read must equal the raw-row filter (the
    // derivation is result-invisible — pruning only skips directories
    // no matching row can live in).
    "q_gen_partition" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Create-then-insert must equal the plain batch union.
    "q_sql_create" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |rows_ AS (
        |  SELECT k, status, cents FROM o WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT k, status, cents FROM o WHERE k % 3 = 0 AND k % 2 = 1)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM rows_ GROUP BY status ORDER BY status""".stripMargin,

    // Dynamic-partition overwrite must equal the row-set algebra:
    // O and F hold only the dyn batch, P only the dyn2 batch (the two
    // dynamic overwrites each replaced exactly the partitions their
    // batches touched — all three statuses exist in every batch's
    // modular slice at sf0.01, so each partition is genuinely swapped).
    "q_sql_insert_dyn" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |rows_ AS (
        |  SELECT k, status, cents, 'dyn' AS src FROM o
        |  WHERE k % 2 = 1 AND k % 3 = 1 AND status IN ('O', 'F')
        |  UNION ALL
        |  SELECT k, status, cents, 'dyn2' FROM o
        |  WHERE k % 2 = 1 AND k % 5 = 0 AND status = 'P')
        |SELECT status, src, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM rows_ GROUP BY status, src ORDER BY status, src""".stripMargin,

    // Subquery DML must equal plain row-set arithmetic: the two no-op
    // deletes (NULL-bearing NOT IN; FALSE EXISTS) change nothing and so
    // do not appear; the rest mirrors 1:1 as SELECT-side subqueries.
    "q_sql_delete_in" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |stage AS (SELECT o_orderkey AS dk FROM orders WHERE o_orderkey % 11 = 0),
        |d1 AS (SELECT * FROM o WHERE k NOT IN (SELECT dk FROM stage)),
        |u1 AS (SELECT k, CASE WHEN k % 5 = 0
        |    AND k IN (SELECT dk + 1 FROM stage) THEN 'X' ELSE status END AS status,
        |  cents FROM d1),
        |d2 AS (SELECT * FROM u1 WHERE NOT (k <= 512
        |  AND k NOT IN (SELECT dk FROM stage WHERE dk % 2 = 1)))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM d2 GROUP BY status ORDER BY status""".stripMargin,

    // Clustering rewrites are content-identical: the clustered +
    // incrementally-clustered table must equal the plain table.
    "q_sql_cluster_by" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o WHERE k BETWEEN 1000 AND 30000
        |GROUP BY status ORDER BY status""".stripMargin,

    // Correlated/scalar/multi-column subquery DML must equal plain
    // row-set algebra: EXISTS hops mirror as [NOT] EXISTS, the scalars
    // as scalar subqueries, and the multi-column NOT IN as its exact
    // 3VL expansion (no compatible pair: equal-or-NULL per column).
    "q_sql_delete_corr" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |stage AS (SELECT o_orderkey AS dk FROM orders WHERE o_orderkey % 7 = 0),
        |d1 AS (SELECT * FROM o WHERE NOT EXISTS
        |  (SELECT 1 FROM stage WHERE dk = k AND dk % 2 = 0)),
        |d2 AS (SELECT * FROM d1 WHERE NOT (k <= 400 AND NOT EXISTS
        |  (SELECT 1 FROM stage WHERE dk = k))),
        |u1 AS (SELECT k,
        |  CASE WHEN k > (SELECT max(dk) - 100 FROM stage)
        |    THEN 'Z' ELSE status END AS status,
        |  CASE WHEN k > (SELECT max(dk) - 100 FROM stage)
        |    THEN cents + (SELECT min(dk) FROM stage) ELSE cents END AS cents
        |  FROM d2),
        |pairs AS (SELECT dk AS pk,
        |  CASE WHEN dk % 3 = 0 THEN NULL ELSE 'O' END AS pstatus
        |  FROM stage WHERE dk <= 2000),
        |d3 AS (SELECT * FROM u1 WHERE NOT (k BETWEEN 500 AND 2000
        |  AND NOT EXISTS (SELECT 1 FROM pairs
        |    WHERE (pk = k OR pk IS NULL OR k IS NULL)
        |      AND (pstatus = status OR pstatus IS NULL OR status IS NULL)))),
        |d4 AS (SELECT * FROM d3 WHERE NOT EXISTS
        |  (SELECT 1 FROM stage WHERE dk = k AND dk > cents))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM d4 GROUP BY status ORDER BY status""".stripMargin,

    // Correlated aggregated scalars = the per-key LEFT-join mirror:
    // max() per key group in SET, count()-bounded condition, and the
    // empty-group DELETE via coalesce(count, 0).
    "q_sql_update_corr_scalar" ->
      """WITH t AS (SELECT o_orderkey AS k, o_custkey % 100 AS g,
        |    o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |stage AS (SELECT o_custkey % 100 AS sk,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS amt
        |  FROM orders WHERE o_orderkey % 9 = 0),
        |mx AS (SELECT sk, max(amt) AS m, count(*) AS c FROM stage
        |  GROUP BY sk),
        |u AS (SELECT k, g, status,
        |    CASE WHEN k % 2 = 0 AND coalesce(c, 0) > 0
        |         THEN cents + m ELSE cents END AS cents,
        |    coalesce(c, 0) AS c
        |  FROM t LEFT JOIN mx ON sk = g),
        |kept AS (SELECT * FROM u WHERE NOT (k % 5 = 0 AND c = 0))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM kept GROUP BY status ORDER BY status""".stripMargin,

    // Bare correlated scalar = a unique-key LEFT join: the staged
    // value (or NULL on no match) substitutes for the subquery; the
    // UNKNOWN comparison keeps empty-group rows.
    "q_sql_update_bare_scalar" ->
      """WITH t AS (SELECT o_orderkey AS k, o_custkey % 100 AS g,
        |    o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |stage AS (SELECT CAST(range AS BIGINT) AS sk,
        |    CAST(range * 7 + 3 AS BIGINT) AS amt FROM range(50)),
        |u AS (SELECT k, g, status,
        |    CASE WHEN k % 3 = 0 AND sk IS NOT NULL
        |         THEN cents + amt ELSE cents END AS cents, amt
        |  FROM t LEFT JOIN stage ON sk = g),
        |kept AS (SELECT * FROM u
        |  WHERE NOT (k % 4 = 0 AND coalesce(amt > 300, FALSE)))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM kept GROUP BY status ORDER BY status""".stripMargin,

    // Correlated NOT IN = per-key 3VL row algebra: a row survives iff
    // the predicate is FALSE or UNKNOWN — i.e. its key group holds a
    // NULL, a match, or (for a NULL probe) any row at all.
    "q_sql_delete_notin_corr" ->
      """WITH t AS (SELECT o_orderkey AS k, o_custkey % 10 AS g,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |         ELSE o_orderpriority END AS p,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |s(sg, sv) AS (VALUES (0,'1-URGENT'),(1,'2-HIGH'),(2,'3-MEDIUM'),
        |  (3,NULL),(3,'1-URGENT'),(4,'5-LOW'),(5,'4-NOT SPECIFIED'),
        |  (6,'1-URGENT'),(6,'2-HIGH')),
        |kept AS (SELECT * FROM t
        |  WHERE (p NOT IN (SELECT sv FROM s WHERE sg = g)) IS NOT TRUE)
        |SELECT g, coalesce(p, '(null)') AS pn,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM kept GROUP BY g, coalesce(p, '(null)')
        |ORDER BY g, pn""".stripMargin,

    // SQL MERGE must equal the clause algebra (the q_merge_clauses
    // oracle verbatim: anti ∪ conditional-update ∪ insert).
    "q_sql_merge" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |tgt AS (SELECT * FROM o WHERE k % 10 <> 0),
        |src AS (SELECT * FROM o WHERE k % 5 = 0)
        |SELECT k, status, cents FROM (
        |  SELECT t.k AS k, t.status AS status, t.cents AS cents
        |  FROM tgt t LEFT JOIN src s ON t.k = s.k WHERE s.k IS NULL
        |  UNION ALL
        |  SELECT t.k, t.status, t.cents + s.cents
        |  FROM tgt t JOIN src s ON t.k = s.k WHERE t.status <> 'F'
        |  UNION ALL
        |  SELECT s.k, s.status, s.cents
        |  FROM src s LEFT JOIN tgt t ON s.k = t.k WHERE t.k IS NULL
        |) ORDER BY k""".stripMargin,

    // Conditional INSERT chains = first-wins row arithmetic: clause 1
    // takes status='O' rows, clause 2 the remaining cents%3=0 rows (with
    // NULL cents — n_cents pins it), everything else is NOT inserted.
    "q_merge_ins_clauses" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |tgt AS (SELECT * FROM o WHERE k % 10 <> 0),
        |src AS (SELECT * FROM o WHERE k % 5 = 0),
        |notm AS (SELECT s.* FROM src s LEFT JOIN tgt t ON s.k = t.k
        |  WHERE t.k IS NULL),
        |merged AS (
        |  SELECT t.k, t.status,
        |    t.cents + CASE WHEN s.k IS NULL THEN 0 ELSE 1 END AS cents
        |  FROM tgt t LEFT JOIN src s ON t.k = s.k
        |  UNION ALL
        |  SELECT k, 'NEW_O' AS status, cents + 10 AS cents
        |  FROM notm WHERE status = 'O'
        |  UNION ALL
        |  SELECT k, 'DIV3' AS status, CAST(NULL AS BIGINT) AS cents
        |  FROM notm WHERE status <> 'O' AND cents % 3 = 0)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(cents) AS BIGINT) AS n_cents
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,

    // The converted table plus its post-conversion append must equal
    // the plain union of both halves — every order exactly once.
    "q_convert" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // Post-purge rows = every order the k%7 delete spared, amounts
    // unchanged under the rename.
    "q_sql_reorg" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_amount
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // Evolution merge must equal plain row-set arithmetic: unmatched
    // target rows keep a NULL flag, every k%3 source row lands with its
    // flag and bumped cents (even k = update, odd k = insert).
    "q_merge_evolve" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |rows_ AS (
        |  SELECT k, cents, NULL AS flag FROM o WHERE k % 2 = 0 AND k % 3 <> 0
        |  UNION ALL
        |  SELECT k, cents + 5, 'f' || CAST(k % 2 AS VARCHAR)
        |  FROM o WHERE k % 3 = 0)
        |SELECT coalesce(flag, 'none') AS flag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM rows_ GROUP BY 1 ORDER BY flag""".stripMargin,

    // The SQL-over-DV read must equal the plain row-set arithmetic of
    // the two DML ops plus the residual WHERE.
    "q_gvt_dv_read" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      + CASE WHEN o_orderkey % 7 = 0 THEN 100000 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o WHERE k >= 300 GROUP BY status ORDER BY status""".stripMargin,

    // Metadata-folded aggregates must equal plain row-set arithmetic:
    // 'full' = every order, 'after_delete' = the k%13 keys removed.
    "q_meta_agg" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'full' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |    min(k) AS min_k, max(k) AS max_k, max(cents) AS max_cents
        |  FROM o
        |  UNION ALL
        |  SELECT 'after_delete', CAST(count(*) AS BIGINT),
        |    min(k), max(k), max(cents)
        |  FROM o WHERE k % 13 <> 0
        |) ORDER BY phase""".stripMargin,

    // Per-partition metadata folds must equal the plain filtered GROUP BY.
    "q_meta_agg_part" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  min(k) AS min_k, max(k) AS max_k, max(cents) AS max_cents
        |FROM o WHERE status >= 'O' GROUP BY status ORDER BY status""".stripMargin,

    // Full row set under the renamed column; the re-added note column is
    // all-NULL (fresh physical storage — dropped values never resurface).
    "q_column_mapping" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(0 AS BIGINT) AS n_note
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // The pruned point lookup must equal the plain filtered row: the
    // minimum key's record (the md5 probe addresses exactly it).
    "q_bloom_skip" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin,

    // Per-class counts: k%3=0 predates the column (NULL→none), k%3=1
    // carried explicit b1, k%3=2 omitted the column → default.
    "q_column_default" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'none'
        |  WHEN o_orderkey % 3 = 1 THEN 'b1' ELSE 'dflt' END AS src,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY src""".stripMargin,

    // Batch 1 (k%4=1, key-sorted) takes 1..n1; batch 2 (k%4=3) continues
    // at n1+1 — row_number over each batch reproduces the assignment.
    "q_identity" ->
      """WITH b1 AS (SELECT o_orderkey AS k,
        |    row_number() OVER (ORDER BY o_orderkey) AS rid
        |  FROM orders WHERE o_orderkey % 4 = 1),
        |b2 AS (SELECT o_orderkey AS k,
        |    (SELECT count(*) FROM b1) + row_number() OVER (ORDER BY o_orderkey) AS rid
        |  FROM orders WHERE o_orderkey % 4 = 3)
        |SELECT k, CAST(rid AS BIGINT) AS rid
        |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        |ORDER BY k""".stripMargin,

    // Property state after upsert-overwrite-unset: two keys, key-ordered.
    "q_sql_tblproperties" ->
      """SELECT * FROM (VALUES ('owner', 'pipeline'),
        |  ('quality.tier', 'gold')) AS t("key", "value")
        |ORDER BY "key"""".stripMargin,

    // bonus exists only on the k%3=1 slice (appended after ADD COLUMNS);
    // everything older/omitting reads NULL — conditional arithmetic.
    "q_sql_add_columns" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN o_orderkey % 5 ELSE 0 END) AS BIGINT) AS sum_bonus,
        |  CAST(count(CASE WHEN o_orderkey % 3 = 1 THEN 1 END) AS BIGINT) AS n_bonus
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // File-level idempotency: every row exactly once = the raw aggregate.
    "q_copy_into" ->
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // The deep clone after its own DELETE: raw rows minus every 19th key.
    "q_sql_clone" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o WHERE k % 19 <> 0
        |GROUP BY status ORDER BY status""".stripMargin,

    // The per-hop DV feed nets to the same classification counts.
    "q_cdf_dv_feed" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders)
        |SELECT _change_type, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'delete' AS _change_type, count(*) AS n FROM o WHERE k % 13 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', count(*) FROM o WHERE k % 7 = 0 AND k % 13 <> 0
        |  UNION ALL
        |  SELECT 'update_postimage', count(*) FROM o WHERE k % 7 = 0 AND k % 13 <> 0)
        |ORDER BY _change_type""".stripMargin,

    // Keyless feed = the same row arithmetic, value sums included: the
    // sidecar (or keyless derivation) must reproduce exactly what the
    // keyed diff computes per hop.
    "q_cdf_keyless" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |u AS (SELECT cents FROM o WHERE k % 7 = 0 AND k % 13 <> 0),
        |mm AS (SELECT cents,
        |    CASE WHEN k % 7 = 0 THEN cents + 100000 ELSE cents END AS cur
        |  FROM o WHERE k % 9 = 0 AND k % 13 <> 0),
        |mi AS (SELECT cents FROM o WHERE k % 9 = 0 AND k % 13 = 0),
        |rows_ AS (
        |  SELECT 1 AS hop, 'delete' AS _change_type, count(*) AS n,
        |    sum(cents) AS sc FROM o WHERE k % 13 = 0 HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 2, 'update_preimage', count(*), sum(cents) FROM u
        |  HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 2, 'update_postimage', count(*), sum(cents + 100000) FROM u
        |  HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 3, 'update_preimage', count(*), sum(cur) FROM mm
        |  HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 3, 'update_postimage', count(*), sum(2 * cents + 100001)
        |  FROM mm HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 3, 'insert', count(*), sum(2 * cents + 100001) FROM mi
        |  HAVING count(*) > 0)
        |SELECT CAST(hop AS INT) AS hop, _change_type,
        |  CAST(n AS BIGINT) AS n, CAST(sc AS BIGINT) AS sum_cents
        |FROM rows_ ORDER BY hop, _change_type""".stripMargin,

    // Backfilled history must equal commit-time capture: hop 1 pairs
    // the k%7 rows around the cents bump; hop 2 pairs the k%11 rows
    // (cents already bumped where k%77=0, unchanged by the status-only
    // update — pre and post sum identically).
    "q_cdf_backfill" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |h1 AS (SELECT cents FROM o WHERE k % 7 = 0),
        |h2 AS (SELECT CASE WHEN k % 7 = 0 THEN cents + 100000 ELSE cents END
        |  AS cur FROM o WHERE k % 11 = 0),
        |rows_ AS (
        |  SELECT 1 AS hop, 'update_preimage' AS _change_type, count(*) AS n,
        |    sum(cents) AS sc FROM h1 HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 1, 'update_postimage', count(*), sum(cents + 100000) FROM h1
        |  HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 2, 'update_preimage', count(*), sum(cur) FROM h2
        |  HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 2, 'update_postimage', count(*), sum(cur) FROM h2
        |  HAVING count(*) > 0)
        |SELECT CAST(hop AS INT) AS hop, _change_type,
        |  CAST(n AS BIGINT) AS n, CAST(sc AS BIGINT) AS sum_cents
        |FROM rows_ ORDER BY hop, _change_type""".stripMargin,

    // The TVF surfaces the identical classification the API feed does.
    "q_sql_table_changes" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders)
        |SELECT _change_type, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'delete' AS _change_type, count(*) AS n FROM o WHERE k % 13 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', count(*) FROM o WHERE k % 7 = 0 AND k % 13 <> 0
        |  UNION ALL
        |  SELECT 'update_postimage', count(*) FROM o WHERE k % 7 = 0 AND k % 13 <> 0)
        |ORDER BY _change_type""".stripMargin,

    // Change-type counts follow directly from the DML predicates:
    // deletes = every 13th key; update pairs = every 7th surviving key.
    "q_delete_update" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders)
        |SELECT _change_type, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'delete' AS _change_type, count(*) AS n FROM o WHERE k % 13 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', count(*) FROM o WHERE k % 7 = 0 AND k % 13 <> 0
        |  UNION ALL
        |  SELECT 'update_postimage', count(*) FROM o WHERE k % 7 = 0 AND k % 13 <> 0)
        |ORDER BY _change_type""".stripMargin,

    // The from-scratch rebuild A_new ⋈ B_new over the final row sets of
    // both versioned sides; the counting-IVM maintained view must
    // reproduce it exactly.
    "q_cdf_join_refresh" ->
      """WITH a2 AS (
        |  SELECT o_orderkey AS k, o_custkey AS ck,
        |         CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS status
        |  FROM orders WHERE o_orderkey % 10 = 0 OR o_orderkey % 97 <> 0),
        |b2 AS (
        |  SELECT c_custkey AS ck,
        |         CASE WHEN c_custkey % 11 = 0 THEN 'U' ELSE c_mktsegment END AS segment
        |  FROM customer WHERE c_custkey % 13 <> 0)
        |SELECT a2.k, a2.ck, a2.status, b2.segment
        |FROM a2 JOIN b2 USING (ck)
        |ORDER BY k, ck""".stripMargin,

    "q_incremental_join" ->
      """SELECT o.o_orderkey AS k, o.o_custkey AS ck, o.o_orderstatus AS status,
        |       c.c_mktsegment AS segment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY k, ck""".stripMargin,

    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 1000.0 AS o_totalprice
        |  FROM base WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 1000 = 0)
        |SELECT * FROM changes
        |UNION ALL
        |SELECT b.* FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_table_changes" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         o_totalprice + 1000.0 AS o_totalprice
        |  FROM base WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 1000 = 0),
        |v2 AS (
        |  SELECT * FROM changes
        |  UNION ALL
        |  SELECT b.* FROM base b
        |  WHERE b.o_orderkey % 97 <> 0
        |    AND NOT EXISTS (SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey))
        |SELECT n.o_orderkey, n.o_custkey, n.o_orderstatus, n.o_totalprice,
        |       'insert' AS _change_type
        |FROM v2 n WHERE NOT EXISTS (SELECT 1 FROM base o WHERE o.o_orderkey = n.o_orderkey)
        |UNION ALL
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, 'delete'
        |FROM base o WHERE NOT EXISTS (SELECT 1 FROM v2 n WHERE n.o_orderkey = o.o_orderkey)
        |UNION ALL
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, 'update_preimage'
        |FROM base o JOIN v2 n USING (o_orderkey)
        |WHERE o.o_custkey IS DISTINCT FROM n.o_custkey
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |UNION ALL
        |SELECT n.o_orderkey, n.o_custkey, n.o_orderstatus, n.o_totalprice, 'update_postimage'
        |FROM base o JOIN v2 n USING (o_orderkey)
        |WHERE o.o_custkey IS DISTINCT FROM n.o_custkey
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |ORDER BY o_orderkey, _change_type""".stripMargin,

    "q_scan_table" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag""".stripMargin,

    "q_scan_csv" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "q_sink_partitioned" ->
      """SELECT o_orderstatus, count(*) AS n_orders, floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS total_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_scan_orc" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    // pruning is result-invisible: the oracle ignores the file layout
    "q_data_skipping" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS total_price
        |FROM orders WHERE o_custkey >= 100 AND o_custkey <= 200
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_union" ->
      """SELECT l_returnflag, count(*) AS n FROM (
        |  SELECT * FROM lineitem WHERE l_linestatus = 'O'
        |  UNION ALL
        |  SELECT * FROM lineitem WHERE l_linestatus = 'F')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_project_rename" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name, c_mktsegment AS segment
        |FROM customer ORDER BY customer_id""".stripMargin,

    "q_enrich_orders" ->
      """SELECT o_orderkey,
        |  CASE dayofweek(o_orderdate) WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday'
        |    WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
        |    WHEN 5 THEN 'Friday' ELSE 'Saturday' END AS day_name,
        |  CASE WHEN month(o_orderdate) BETWEEN 1 AND 3 THEN 'Q1'
        |    WHEN month(o_orderdate) BETWEEN 4 AND 6 THEN 'Q2'
        |    WHEN month(o_orderdate) BETWEEN 7 AND 9 THEN 'Q3'
        |    ELSE 'Q4' END AS quarter_bucket,
        |  o_orderpriority = '1-URGENT' AS is_urgent,
        |  md5(concat_ws('_', o_orderkey::VARCHAR, o_custkey::VARCHAR)) AS order_key_hash,
        |  o_totalprice / 1000.0 AS price_k
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_dedup_orders" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS first_order_date,
        |  o_totalprice AS first_order_price
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
        |ORDER BY o_custkey""".stripMargin,

    "q_dedup_lineitem" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_suppkey
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |  ORDER BY l_linenumber, l_suppkey) = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice AS price,
        |  lag(o_totalprice, 1, 0) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_count_over" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, group_size FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber,
        |    count(*) OVER (PARTITION BY l_orderkey, l_partkey) AS group_size
        |  FROM lineitem)
        |WHERE group_size > 1
        |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin,

    "q_enriched_join" ->
      """SELECT r_name AS region_name, count(*) AS n_items,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region_name""".stripMargin,

    "q_fct_orders" ->
      """SELECT
        |  md5(concat_ws('_', l_orderkey::VARCHAR, l_partkey::VARCHAR, l_linenumber::VARCHAR))
        |    AS order_item_key,
        |  l_orderkey, l_partkey, l_linenumber, o_custkey, l_quantity,
        |  l_extendedprice * (1.0 - l_discount) AS revenue,
        |  l_returnflag, o_orderstatus, p_brand,
        |  n_name AS nation_name, r_name AS region_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin,

    "q_dim_users" ->
      """WITH order_stats AS (
        |  SELECT l_orderkey, count(*) AS basket_size,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_items
        |  FROM lineitem GROUP BY l_orderkey),
        |per_order AS (
        |  SELECT o.o_custkey, o.o_orderkey, o.o_totalprice, s.basket_size,
        |    floor(s.returned_items * 1e2 / nullif(s.basket_size, 0) + 0.5) AS order_return_rate
        |  FROM orders o LEFT JOIN order_stats s ON o.o_orderkey = s.l_orderkey),
        |user_stats AS (
        |  SELECT o_custkey,
        |    count(DISTINCT o_orderkey) AS total_orders,
        |    coalesce(CAST(sum(basket_size) AS BIGINT), 0) AS lifetime_items,
        |    floor(avg(basket_size) * 100.0 + 0.5) / 100.0 AS avg_basket_size,
        |    floor(avg(order_return_rate) * 10000.0 + 0.5) / 10000.0 AS avg_return_rate,
        |    max(o_totalprice) AS max_order_price
        |  FROM per_order GROUP BY o_custkey)
        |SELECT c_custkey AS customer_id, c_name AS customer_name, c_mktsegment AS segment,
        |  coalesce(total_orders, 0) AS total_orders,
        |  coalesce(lifetime_items, 0) AS lifetime_items,
        |  coalesce(avg_basket_size, 0.0) AS avg_basket_size,
        |  coalesce(avg_return_rate, 0.0) AS avg_return_rate,
        |  coalesce(max_order_price, 0.0) AS max_order_price,
        |  CASE WHEN coalesce(total_orders, 0) >= 15 THEN 'power'
        |    WHEN coalesce(total_orders, 0) >= 8 THEN 'regular'
        |    WHEN coalesce(total_orders, 0) >= 1 THEN 'occasional'
        |    ELSE 'inactive' END AS frequency_segment,
        |  CASE WHEN coalesce(avg_basket_size, 0.0) >= 6.0 THEN 'large'
        |    WHEN coalesce(avg_basket_size, 0.0) >= 3.0 THEN 'medium'
        |    ELSE 'small' END AS basket_segment
        |FROM customer LEFT JOIN user_stats ON c_custkey = o_custkey
        |ORDER BY customer_id""".stripMargin,

    "q_dim_products" ->
      """WITH stats AS (
        |  SELECT l_partkey,
        |    count(DISTINCT l_orderkey) AS times_ordered,
        |    count(DISTINCT o_custkey) AS unique_users,
        |    sum(l_quantity) AS total_quantity,
        |    floor(avg(l_linenumber) * 10000.0 + 0.5) / 10000.0 AS avg_cart_position,
        |    floor(avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS return_rate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_partkey)
        |SELECT p_partkey AS product_id, p_name AS product_name, p_brand AS brand,
        |  p_type AS product_type,
        |  coalesce(times_ordered, 0) AS times_ordered,
        |  coalesce(unique_users, 0) AS unique_users,
        |  coalesce(total_quantity, 0.0) AS total_quantity,
        |  coalesce(avg_cart_position, 0.0) AS avg_cart_position,
        |  coalesce(return_rate, 0.0) AS return_rate,
        |  CASE WHEN coalesce(times_ordered, 0) >= 40 THEN 'top'
        |    WHEN coalesce(times_ordered, 0) >= 20 THEN 'high'
        |    WHEN coalesce(times_ordered, 0) >= 5 THEN 'medium'
        |    ELSE 'low' END AS popularity_tier
        |FROM part LEFT JOIN stats ON p_partkey = l_partkey
        |ORDER BY product_id""".stripMargin,

    "q_mart_dept" ->
      """WITH base AS (
        |  SELECT l_quantity, l_extendedprice, l_discount, l_returnflag,
        |    o_orderkey, o_custkey, o_orderpriority,
        |    n_nationkey, n_name,
        |    CASE dayofweek(o_orderdate) WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday'
        |      WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
        |      WHEN 5 THEN 'Friday' ELSE 'Saturday' END AS day_name
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderstatus = 'F'),
        |agg0 AS (
        |  SELECT n_nationkey AS nation_id, n_name AS nation_name,
        |    count(*) AS total_line_items,
        |    count(DISTINCT o_orderkey) AS unique_orders,
        |    count(DISTINCT o_custkey) AS unique_users,
        |    floor(sum(l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) / 100.0 AS total_revenue,
        |    floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_quantity,
        |    floor(avg(CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS pct_urgent,
        |    floor(avg(CASE WHEN o_orderpriority = '5-LOW' THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS pct_low_priority,
        |    floor(avg(CASE WHEN day_name = 'Saturday' OR day_name = 'Sunday' THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS pct_weekend,
        |    floor(avg(CASE WHEN day_name = 'Monday' THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS pct_monday,
        |    floor(avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS pct_returned,
        |    floor(avg(CASE WHEN l_quantity >= 25.0 THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS pct_bulk
        |  FROM base GROUP BY 1, 2),
        |totals AS (SELECT CAST(count(*) AS DOUBLE) AS grand_total FROM base)
        |SELECT nation_id, nation_name, total_line_items, unique_orders, unique_users,
        |  total_revenue, avg_quantity, pct_urgent, pct_low_priority, pct_weekend,
        |  pct_monday, pct_returned, pct_bulk,
        |  floor(total_line_items * 100.0 / grand_total * 10000.0 + 0.5) / 10000.0 AS pct_of_total_items
        |FROM agg0 CROSS JOIN totals
        |ORDER BY total_line_items DESC, nation_id""".stripMargin,

    "q_mart_velocity" ->
      """WITH ranked AS (
        |  SELECT o_custkey, l_partkey, l_quantity,
        |    row_number() OVER (PARTITION BY o_custkey, l_partkey
        |      ORDER BY o_orderdate, o_orderkey, l_linenumber) AS purchase_seq,
        |    lag(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END, 1, 0) OVER (
        |      PARTITION BY o_custkey, l_partkey
        |      ORDER BY o_orderdate, o_orderkey, l_linenumber) AS prev_was_return
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus <> 'P'),
        |bucketed AS (
        |  SELECT l_partkey AS product_id, l_quantity, prev_was_return,
        |    CASE WHEN purchase_seq = 1 THEN 'first'
        |      WHEN purchase_seq BETWEEN 2 AND 3 THEN 'early'
        |      WHEN purchase_seq BETWEEN 4 AND 5 THEN 'mid'
        |      ELSE 'late' END AS position_bucket
        |  FROM ranked)
        |SELECT product_id, position_bucket,
        |  count(*) AS purchase_count,
        |  floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_quantity,
        |  floor(avg(prev_was_return) * 10000.0 + 0.5) / 10000.0 AS prev_return_rate
        |FROM bucketed
        |GROUP BY product_id, position_bucket
        |HAVING count(*) >= 3
        |ORDER BY product_id, position_bucket""".stripMargin,

    "q_topk" ->
      """SELECT l_partkey,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) / 100.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY revenue DESC, l_partkey LIMIT 10""".stripMargin,

    "q_sql_ctas" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_gate_null_rate" ->
      """SELECT 'l_discount_zero_as_null' AS column_name,
        |  floor(avg(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1.0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS null_rate,
        |  CASE WHEN floor(avg(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1.0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 <= 0.5
        |    THEN 'PASS' ELSE 'FAIL' END AS status
        |FROM lineitem""".stripMargin,

    "q_gate_dup_rate" ->
      """WITH k AS (
        |  SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_partkey)
        |SELECT CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_rows,
        |  CAST(sum(n) AS BIGINT) AS total_rows,
        |  floor(sum(CASE WHEN n > 1 THEN n ELSE 0 END) / sum(n) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
        |FROM k""".stripMargin,

    "q_gate_ref_integrity" ->
      """SELECT 'lineitem.l_orderkey->orders' AS relation,
        |  count(*) AS total_fk,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans,
        |  floor(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS orphan_rate
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS return_flag,
        |  coalesce(l_linestatus, '(all)') AS line_status,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY return_flag, line_status""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(l_returnflag, '(all)') AS return_flag,
        |  coalesce(l_linestatus, '(all)') AS line_status,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, return_flag, line_status""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '(all)') AS return_flag,
        |  coalesce(l_linestatus, '(all)') AS line_status,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), (l_linestatus))
        |ORDER BY gid, return_flag, line_status""".stripMargin,

    "q_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    floor(sum(l_quantity) * 1e2 + 0.5) / 1e2 AS quantity,
        |    CAST(count(*) AS DOUBLE) AS items
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag, 'quantity' AS measure, quantity AS value FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'items' AS measure, items AS value FROM w)
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q_exists" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_custs
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_setops" ->
      """SELECT a.n_both, b.n_only_f FROM
        |  (SELECT count(*) AS n_both FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) a
        |CROSS JOIN
        |  (SELECT count(*) AS n_only_f FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) b""".stripMargin,

    "q_window_pct" ->
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_extras" ->
      """SELECT o_custkey, o_orderkey, o_totalprice AS price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  ntile(4) OVER w AS quartile,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since_95,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
        |  strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 1e2 + 0.5) / 1e2 AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_typed_agg" ->
      """SELECT l_returnflag,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 1e2 + 0.5) / 1e2 AS revenue,
        |  count(*) AS n_rows, sum(l_quantity) AS sum_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_scan_json" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",

    "q_topk_per_key" ->
      """SELECT l_returnflag, l_orderkey, l_partkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |  ORDER BY l_extendedprice DESC, l_orderkey, l_partkey, l_linenumber) <= 3
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_partkey, l_linenumber""".stripMargin,

    "q_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 1e2 + 0.5) / 1e2 AS sum_revenue
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_outer_join" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_cust
        |  FROM customer WHERE c_nationkey < 15 GROUP BY 1),
        |p AS (SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_supp
        |  FROM supplier WHERE s_nationkey >= 10 GROUP BY 1)
        |SELECT nationkey,
        |  (c.n_cust IS NULL OR p.n_supp IS NULL) AS one_sided,
        |  coalesce(c.n_cust, 0) AS n_cust,
        |  coalesce(p.n_supp, 0) AS n_supp
        |FROM c FULL JOIN p USING (nationkey)
        |ORDER BY nationkey""".stripMargin,

    "q_pagerank" -> {
      val iters = (1 to 5).map { i =>
        val p = i - 1
        s"""c$i AS (SELECT e.dst AS node,
           |    CAST(sum(r.rank * e.w // o.wout) AS BIGINT) AS inflow
           |  FROM edges e JOIN outw o ON e.src = o.src
           |    JOIN r$p r ON r.node = e.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |    CAST(150000 + 85 * coalesce(c.inflow, 0) // 100 AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS (
         |  SELECT s_nationkey AS src, c_nationkey AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |$iters
         |SELECT n_name AS nation, r5.rank
         |FROM r5 JOIN nation ON node = n_nationkey
         |ORDER BY r5.rank DESC, nation""".stripMargin
    },

    "q_skew_report" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
        |    ELSE l_orderkey % 97 END AS skew_key FROM lineitem),
        |c AS (SELECT skew_key, CAST(count(*) AS BIGINT) AS n
        |  FROM f GROUP BY skew_key)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS total_rows,
        |  CAST(max(n) AS BIGINT) AS max_rows,
        |  quantile_cont(n, 0.5) AS p50_rows,
        |  quantile_cont(n, 0.99) AS p99_rows,
        |  floor(max(n) / CAST(sum(n) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS hot_share,
        |  floor(max(n) / quantile_cont(n, 0.5) * 1e2 + 0.5) / 1e2 AS skew_ratio
        |FROM c""".stripMargin,

    "q_salted_join" ->
      """WITH dim AS (SELECT skew_key,
        |    'grp_' || lpad(CAST(skew_key AS VARCHAR), 2, '0') AS grp
        |  FROM range(0, 97) t(skew_key)),
        |f AS (SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
        |    ELSE l_orderkey % 97 END AS skew_key, l_quantity FROM lineitem)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty
        |FROM f JOIN dim USING (skew_key)
        |GROUP BY grp ORDER BY grp""".stripMargin,

    "q_semi_anti_join" ->
      """SELECT a.n_with_items, b.n_without_items
        |FROM (SELECT count(*) AS n_with_items FROM orders
        |      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)) a
        |CROSS JOIN (SELECT count(*) AS n_without_items FROM orders
        |      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)) b""".stripMargin,

    // semantic form only — DuckDB plans this as an IEJoin; the Spark side
    // must produce the identical aggregate through the bucketed equi-join
    "q_range_join" ->
      """SELECT l_returnflag, count(*) AS pairs,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM (SELECT l_returnflag,
        |        datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS lo,
        |        datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |          + CAST(l_quantity AS BIGINT) AS hi
        |      FROM lineitem WHERE l_quantity <= 5) i
        |JOIN (SELECT o_orderkey,
        |        datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS p
        |      FROM orders) o
        |  ON o.p BETWEEN i.lo AND i.hi
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_range_join_rewrite" ->
      """SELECT l_returnflag, count(*) AS pairs,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM (SELECT l_returnflag,
        |        datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS lo,
        |        datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |          + CAST(l_quantity AS BIGINT) AS hi
        |      FROM lineitem WHERE l_quantity <= 5) i
        |JOIN (SELECT o_orderkey,
        |        datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS p
        |      FROM orders) o
        |  ON o.p BETWEEN i.lo AND i.hi
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_gate_recon" ->
      """WITH s AS (SELECT count(*) AS source_rows FROM lineitem),
        |t AS (SELECT count(*) AS target_rows FROM
        |  (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |SELECT source_rows, target_rows,
        |  floor(abs(target_rows - source_rows) / source_rows * 1000000.0 + 0.5) / 1000000.0 AS drift,
        |  CASE WHEN floor(abs(target_rows - source_rows) / source_rows * 1000000.0 + 0.5) / 1000000.0 <= 0.01
        |    THEN 'PASS' ELSE 'FAIL' END AS status
        |FROM s CROSS JOIN t""".stripMargin)

  /** BI verification oracles derive from the mart oracles (single source of
    * truth: any change to a mart's SQL flows into its BI query's oracle). */
  val oracle: Map[String, String] = oracleBase ++ Map(

    "q_bi_top_dept" ->
      s"""SELECT nation_name, pct_returned, total_line_items, pct_of_total_items
         |FROM (${oracleBase("q_mart_dept")})
         |ORDER BY pct_returned DESC, nation_name LIMIT 10""".stripMargin,

    "q_bi_segments" ->
      s"""SELECT frequency_segment, basket_segment, count(*) AS user_count
         |FROM (${oracleBase("q_dim_users")})
         |GROUP BY 1, 2
         |ORDER BY user_count DESC, 1, 2""".stripMargin,

    "q_bi_top_products" ->
      s"""SELECT product_id, product_name, brand, return_rate, times_ordered, avg_cart_position
         |FROM (${oracleBase("q_dim_products")})
         |WHERE times_ordered >= 20
         |ORDER BY return_rate DESC, product_id LIMIT 10""".stripMargin,

    "q_bi_habit" ->
      s"""SELECT product_id, position_bucket, purchase_count, prev_return_rate
         |FROM (${oracleBase("q_mart_velocity").replace("HAVING count(*) >= 3", "HAVING count(*) >= 1")})
         |WHERE position_bucket = 'early' AND purchase_count >= 2
         |ORDER BY prev_return_rate DESC, product_id LIMIT 10""".stripMargin)
}
