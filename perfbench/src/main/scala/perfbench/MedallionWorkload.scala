package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.layers.Medallion
import graft.quality.Gates
import graft.sources.VersionedTable

/** `medallion`: full bronze → silver → gold passes over the seeded
  * Instacart-shaped CSVs, each from an empty lake, then the lake's reads:
  * the quality gates re-run on the silver output, every gold table read
  * back, and the analyst queries ([[AnalystReads]]). Expected counts come
  * from the generator (bronze, silver) and from DuckDB over the same CSVs
  * (gold). */
final class MedallionWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val lake = new File(work, "lake")
  // The CSV set a pass reads and the counts it must produce: the timed
  // passes read the full set; the warm-up (pass 0) a smaller one of the
  // same shape, which warms the same code at a fraction of the cost.
  private final class Input(prefix: String) {
    private def expected(layer: String): Map[String, Long] = spec.collect {
      case (k, v) if k.startsWith(s"$prefix$layer.") => k.stripPrefix(s"$prefix$layer.") -> v.toLong
    }
    val rawDir: String = spec(prefix + "raw_dir")
    val bronze: Map[String, Long] = expected("bronze")
    val silver: Map[String, Long] = expected("silver")
    val gold: Map[String, Long] = expected("gold")
    val dupOrders: Long = spec(prefix + "duplicates.orders").toLong
  }
  private val full = new Input("")
  private val warm = new Input("warm.")
  // a fresh lake directory per pass: every pass starts from nothing
  private def cfgFor(p: Int, in: Input) = {
    val d = new File(lake, s"pass-$p")
    Medallion.Config(rawDir = in.rawDir,
      bronzeDir = s"$d/bronze", silverDir = s"$d/silver", goldDir = s"$d/gold")
  }
  private val goldTables = full.gold.keys.toSeq.sorted
  // gold fingerprints of the first timed pass; every later pass must match
  private val goldPrints = scala.collection.mutable.Map.empty[String, String]
  private val analyst = new AnalystReads(ctx)
  // rows each layer call reported writing, summed over its tables: (pass, layer) → rows
  private val layerRows = scala.collection.mutable.Map.empty[(Int, String), Long]

  private def sameCounts(want: Map[String, Long])(got: Map[String, Long]): Option[String] = {
    val bad = want.filter { case (t, n) => !got.get(t).contains(n) }
    if (bad.isEmpty) None
    else Some(bad.map { case (t, n) => s"$t: want $n got ${got.get(t)}" }.mkString("; "))
  }

  override def setup(): Map[String, Double] = {
    rec.probe.foreach(pr => graft.GraftSession.withExtensions(spark)(pr.watch))
    analyst.setup()
    val t0 = System.nanoTime()
    pass(0) // warm-up: JIT, codegen and the analyst queries' reference results
    Map("warm_s" -> (System.nanoTime() - t0) / 1e9)
  }

  override def pass(p: Int): Unit = {
    Dirs.delete(lake)
    val in = if (p == 0) warm else full
    import in.{bronze, silver, gold, dupOrders}
    val cfg = cfgFor(p, in)
    def layer(name: String, want: Map[String, Long])(f: => Map[String, Long]): Unit =
      rec.op(p, "layer", "layers", name)(f)(sameCounts(want))
        .foreach(got => layerRows((p, name)) = got.values.sum)
    layer("bronze", bronze)(Medallion.runBronze(spark, cfg))
    layer("silver", silver)(Medallion.runSilver(spark, cfg))
    layer("gold", gold)(Medallion.runGold(spark, cfg))

    def read(dir: String): DataFrame = VersionedTable.readParquetDir(spark, dir)
    val orders = read(s"${cfg.silverDir}/orders")
    val op = read(s"${cfg.silverDir}/order_products")
    rec.op(p, "read", "quality", "gate_silver_orders")(
      Medallion.gateSilverOrders(orders, cfg, "silver"))(n =>
      if (n == silver("orders")) None else Some(s"profiled $n rows"))
    rec.op(p, "read", "quality", "ref_integrity")(
      Gates.checkReferentialIntegrity(op, "order_id", orders, "order_id"))(r =>
      if (r == 0.0) None else Some(s"orphan rate $r"))
    rec.op(p, "read", "quality", "dup_rate_silver")(
      Gates.checkDuplicateRate(op, Seq("order_id", "product_id"), 0.0))(r =>
      if (r == 0.0) None else Some(s"duplicate rate $r"))
    // the bronze duplicate rate is known exactly: each injected duplicate
    // makes a key group of two
    val wantRate = 2.0 * dupOrders / bronze("orders")
    rec.op(p, "read", "quality", "dup_rate_bronze")(
      Gates.checkDuplicateRate(read(s"${cfg.bronzeDir}/orders"), Seq("order_id"), 1.0, "bronze"))(r =>
      if (math.abs(r - wantRate) < 1e-12) None else Some(s"duplicate rate $r, want $wantRate"))
    goldTables.foreach { t =>
      rec.op(p, "read", "sources", s"gold_$t")(
        Rows.consume(VersionedTable.readLatest(spark, s"${cfg.goldDir}/$t")
          .drop("_gold_computed_at")))({ case (rows, fp) =>
        if (rows.length != gold(t)) Some(s"$t: ${rows.length} rows, want ${gold(t)}")
        else if (p == 0) None
        else if (goldPrints.getOrElseUpdate(t, fp) == fp) None
        else Some(s"$t: fingerprint $fp differs from the first timed pass ${goldPrints(t)}")
      })
    }
    analyst.pass(p)
  }

  override def pipelineSeconds(p: Int): Double =
    rec.ops.filter(o => o.pass == p && o.kind == "layer").map(_.seconds).sum

  override def layers(traced: Set[Int]): Map[String, Double] = {
    val ops = rec.ops.filter(o => traced.contains(o.pass))
    def med(name: String) = Stats.median(ops.filter(_.name == name).map(_.seconds).toSeq)
    def rows(name: String) = Stats.median(traced.toSeq.flatMap(p => layerRows.get((p, name))).map(_.toDouble))
    val gates = ops.filter(_.layer == "quality")
    val gatesPerPass = gates.groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
    val probe = rec.probe.get
    def work(o: Op) = Option(probe.work.get(o.id)).getOrElse(new OpWork)
    // the pipeline's time outside any Spark job, and how busy its jobs
    // keep the cores: per-job overhead against the bulk work
    val pipe = ops.filter(_.kind == "layer").groupBy(_.pass).values.map(_.toSeq).toSeq
    def perPass(f: Seq[Op] => Double) = Stats.median(pipe.map(f))
    val gap = perPass(os => os.map(_.seconds).sum - Stats.union(os.flatMap(work(_).jobSpans)) / 1e3)
    val coreBusy = perPass(os => os.map(work(_).taskMs).sum / 1e3 / (os.map(_.seconds).sum * cores))
    val gateJobs = gates.groupBy(_.pass).values.map(os =>
      os.map(o => Option(probe.work.get(o.id)).map(_.jobs).getOrElse(0L)).sum.toDouble).toSeq
    Map(
      "layers.bronze_s" -> med("bronze"), "layers.silver_s" -> med("silver"),
      "layers.gold_s" -> med("gold"),
      "layers.bronze_rows" -> rows("bronze"), "layers.silver_rows" -> rows("silver"),
      "layers.gold_rows" -> rows("gold"),
      "layers.driver_gap_s" -> gap, "layers.core_busy" -> coreBusy,
      "quality.gates_s" -> Stats.median(gatesPerPass),
      "quality.gate_jobs" -> Stats.median(gateJobs)) ++ analyst.layers(traced)
  }

  override def endToEnd(): Map[String, Double] = {
    val q = rec.ops.filter(o => o.pass >= 1 && !rec.tracedPass(o.pass) && analyst.order.contains(o.name))
    Map("reads_per_s" -> q.size / math.max(1e-9, q.map(_.seconds).sum))
  }

  override def extra(): Map[String, String] = analyst.extra()
}
