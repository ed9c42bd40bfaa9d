package perfbench

import java.io.{File, PrintWriter}

/** Per-layer figures and the self-time summary of a traced run, over its
  * traced passes. Spans: a pass (layer `harness`) → its ops (the layer the
  * benchmark called into) → their Spark jobs (layer `spark`). */
final class TraceReport(rec: Recorder, traced: Set[Int], untraced: Set[Int], cores: Int) {
  private val probe = rec.probe.get
  private val passes = rec.passes.filter(p => traced.contains(p._1)).toSeq
  private val ops = rec.ops.filter(o => traced.contains(o.pass)).toSeq
  private def work(o: Op): OpWork = Option(probe.work.get(o.id)).getOrElse(new OpWork)
  private def jobNs(o: Op): Seq[(Long, Long)] = work(o).jobSpans.toSeq.map { case (s, e) =>
    // job times are epoch ms; clip to the op so a job's ms rounding
    // cannot spill outside its parent span
    (math.max(o.startNs, s * 1000000L + rec.offsetNs), math.min(o.endNs, e * 1000000L + rec.offsetNs))
  }.filter { case (s, e) => e > s }

  def writeSpans(f: File): Unit = {
    val out = new PrintWriter(f, "UTF-8")
    def span(id: String, parent: String, op: Long, name: String, layer: String, s: Long, e: Long): Unit =
      out.println(Json.obj(Seq("id" -> Json.str(id),
        "parent" -> (if (parent == null) "null" else Json.str(parent)),
        "op" -> op.toString, "name" -> Json.str(name), "layer" -> Json.str(layer),
        "start_ns" -> s.toString, "end_ns" -> e.toString)))
    try {
      passes.foreach { case (p, s, e) => span(s"p$p", null, 0, "pass", "harness", s, e) }
      ops.foreach { o =>
        span(s"o${o.id}", s"p${o.pass}", o.id, o.name, o.layer, o.startNs, o.endNs)
        jobNs(o).zipWithIndex.foreach { case ((s, e), i) =>
          span(s"o${o.id}j$i", s"o${o.id}", o.id, "job", "spark", s, e) }
      }
    } finally out.close()
  }

  /** Self time per layer: span duration minus the part its children
    * cover. Shares are of the traced passes' wall time. */
  def selfTime(): Seq[(String, Double, Double)] = {
    val wall = passes.map { case (_, s, e) => e - s }.sum.toDouble
    val jobs = ops.map(o => Stats.union(jobNs(o))).sum
    val byLayer = ops.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, os) =>
      l -> os.map(o => (o.endNs - o.startNs) - Stats.union(jobNs(o))).sum
    }
    val harness = wall - ops.map(o => o.endNs - o.startNs).sum
    (byLayer :+ ("spark" -> jobs) :+ ("harness" -> harness.toLong)).map { case (l, ns) =>
      (l, ns / 1e9, if (wall > 0) ns / wall else 0.0)
    }
  }

  def metrics(fsPerPass: Map[Int, Map[String, Long]]): Map[String, Double] = {
    val perPass = passes.map { case (p, s, e) =>
      val os = ops.filter(_.pass == p)
      val ws = os.map(work)
      val wallS = (e - s) / 1e9
      val jobS = Stats.union(os.flatMap(jobNs)) / 1e9
      val taskS = ws.map(_.taskMs).sum / 1e3
      Map(
        "spark.jobs" -> ws.map(_.jobs).sum.toDouble,
        "spark.stages" -> ws.map(_.stages).sum.toDouble,
        "spark.tasks" -> ws.map(_.tasks).sum.toDouble,
        "spark.job_s" -> jobS,
        "spark.driver_gap_s" -> (os.map(_.seconds).sum - jobS),
        "spark.task_s" -> taskS,
        "spark.core_busy" -> taskS / (wallS * cores),
        "spark.shuffle_read_bytes" -> ws.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> ws.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> ws.map(_.spill).sum.toDouble,
        "spark.input_bytes" -> ws.map(_.input).sum.toDouble,
        "spark.gc_s" -> rec.passGcMs.getOrElse(p, 0L) / 1e3) ++
        fsPerPass.getOrElse(p, Map.empty).map { case (k, v) => s"fs.$k" -> v.toDouble }
    }
    val medians = perPass.flatMap(_.keys).distinct.map(k =>
      k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    val n = math.max(1, ops.size).toDouble
    def phase(p: String) = Option(probe.phaseMs.get(p)).map(_.get).getOrElse(0L) / n
    val passWall = passes.map { case (_, s, e) => (e - s) / 1e9 }
    val untracedWall = rec.passes.filter(p => untraced.contains(p._1)).map { case (_, s, e) => (e - s) / 1e9 }.toSeq
    medians ++ Map(
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "plans.executions" -> probe.executions.get / n,
      "trace.overhead_s" -> (Stats.median(passWall) - Stats.median(untracedWall)))
  }
}
