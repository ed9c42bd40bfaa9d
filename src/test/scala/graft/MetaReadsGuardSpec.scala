package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.VersionedTable

/** Metadata-IO guard: registry queries that commit and read gvt tables
  * must not issue more small metadata-file reads
  * ([[VersionedTable.metaReads]]) per execution than the per-fact memo
  * design they replaced. The ceilings are that design's counts at
  * sf0.001 (identical on every execution: each run writes fresh table
  * roots). */
class MetaReadsGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val ceilings = Seq(
    "q_sql_delete_corr" -> 163L,
    "q_sql_delete_in" -> 138L,
    "q_mv_distinct_join" -> 248L,
    "q_cdf_keyless" -> 110L)

  ceilings.foreach { case (q, ceiling) =>
    test(s"$q: metadata reads per execution stay <= $ceiling") {
      (1 to 2).foreach { run =>
        val before = VersionedTable.metaReads.get()
        SparkEntry.queries(q)(spark, dir).collect()
        val reads = VersionedTable.metaReads.get() - before
        info(s"execution $run: $reads metadata reads")
        assert(reads <= ceiling,
          s"$q execution $run: $reads metadata reads (ceiling $ceiling)")
      }
    }
  }
}
