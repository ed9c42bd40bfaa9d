package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** The analyst reads of the `medallion` workload: a fixed, seed-ordered
  * mix of read-only registry queries (`SparkEntry.queries`) on the seeded
  * star tables. The warm-up execution of each query is its reference:
  * its collected result goes to run.py for the DuckDB comparison against
  * `SparkEntry.oracleSql`, and its fingerprint must be reproduced by
  * every timed execution. Nothing is written to a table. */
final class AnalystReads(ctx: Ctx) {
  import ctx._
  import AnalystReads._
  private val dataDir = spec("data_dir")
  val order: Seq[String] = new scala.util.Random(seed).shuffle(Analyst ++ Iterative ++ Llm)
  private val resultsDir = dir("results")
  private val prints = scala.collection.mutable.Map.empty[String, String]

  private def layerOf(q: String): String =
    if (Llm.contains(q)) "llm" else if (Iterative.contains(q)) "ops"
    else if (Marts.contains(q)) "marts" else "queries"

  /** Check the mix and write each query's oracle SQL for run.py. */
  def setup(): Unit = {
    val missing = order.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown registry queries: ${missing.mkString(",")}")
    val oracle = SparkEntry.oracleSql
    order.foreach { q =>
      oracle.get(q).foreach(sql => Files.write(Paths.get(s"$resultsDir/$q.sql"), sql.getBytes("UTF-8")))
    }
  }

  def pass(p: Int): Unit = order.foreach { q =>
    val fn = SparkEntry.queries(q)
    rec.op(p, "read", layerOf(q), q) {
      val df = fn(spark, dataDir)
      val (rows, fp) = Rows.consume(df)
      if (p == 0)
        Files.write(Paths.get(s"$resultsDir/$q.json"), Rows.toJson(df, rows).getBytes("UTF-8"))
      fp
    } { fp =>
      if (p == 0) { prints(q) = fp; None }
      else if (prints.get(q).contains(fp)) None
      else Some(s"fingerprint $fp differs from the reference ${prints.get(q)}")
    }
    // release what a query persisted, as graft.Bench does between queries
    spark.catalog.clearCache()
  }

  /** `ops.*` over the iterative queries of the traced passes, and each
    * query's median latency over the untraced passes. */
  def layers(traced: Set[Int]): Map[String, Double] = {
    val probe = rec.probe.get
    val it = rec.ops.filter(o => traced.contains(o.pass) && (Iterative ++ Llm).contains(o.name))
    val work = it.map(o => Option(probe.work.get(o.id)).getOrElse(new OpWork))
    val jobs = work.map(_.jobs).sum.toDouble
    val untraced = rec.ops.filter(o => o.pass >= 1 && !rec.tracedPass(o.pass))
    Map(
      "ops.jobs_per_query" -> jobs / math.max(1, it.size),
      "ops.tasks_per_job" -> work.map(_.tasks).sum / math.max(1.0, jobs)) ++
      order.map(q => s"q.${q}_s" -> Stats.median(untraced.filter(_.name == q).map(_.seconds).toSeq))
  }

  /** The results directory for the oracle, and per query the executions
    * not already counted as failed (a wrong answer in the DuckDB check
    * fails those too, each execution once). */
  def extra(): Map[String, String] =
    Map("results_dir" -> resultsDir.getAbsolutePath) ++
      order.map(q => s"executions_ok.$q" -> rec.ops.count(o => o.name == q && o.ok).toString)
}

object AnalystReads {
  /** A fixed sample of each analyst family (TPC-H, gold marts, quality
    * gates, windows, rollups, top-k) and of the iterative operators in
    * ops/ and llm/, sized so one pass fits a run (README.md). */
  val Analyst: Seq[String] = Seq("q_tpch_q3", "q_tpch_q18", "q_fct_orders",
    "q_gate_ref_integrity", "q_window_lag", "q_rollup", "q_topk_per_key")
  val Marts: Set[String] = Set("q_fct_orders")
  val Iterative: Seq[String] = Seq("q_kcore")
  val Llm: Seq[String] = Seq("q_bm25")
}
