package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: set up once, then repeated passes. */
trait Workload {
  /** Warm up (and build what the workload needs once); returns named
    * set-up times in seconds. */
  def setup(): Map[String, Double]
  def pass(p: Int): Unit
  /** The part of pass `p`'s wall time that `pipeline_s` reports. */
  def pipelineSeconds(p: Int): Double
  /** Workload-specific end-to-end figures (printed, and passed on). */
  def endToEnd(): Map[String, Double] = Map.empty
  /** Workload-specific per-layer figures over the traced passes. */
  def layers(traced: Set[Int]): Map[String, Double] = Map.empty
  /** Files the caller reads after the run (e.g. results for the oracle). */
  def extra(): Map[String, String] = Map.empty
}

final case class Ctx(spark: SparkSession, rec: Recorder, work: File,
                     spec: Map[String, String], seed: Long, cores: Int) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** Entry point. Usage:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --spec FILE --out FILE`
  * The spec is a `key=value` properties file written by run.py. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new File(args("work"))
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(args("spec"))
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    val spec = props.asScala.toMap
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    graft.sources.LocalFsInstall.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000L).selectExpr("sum(id % 7)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val rec = new Recorder(spark, trace)
    val ctx = Ctx(spark, rec, work, spec, args("seed").toLong, cores)
    val w: Workload = workload match {
      case "medallion" => new MedallionWorkload(ctx)
      case "table_dml" => new TableDmlWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val setup = w.setup()
    val fsStats = new FsStats

    // Measured passes, at least one, until `seconds` have passed. A traced
    // run measures at least an untraced, a traced and an untraced pass:
    // end-to-end figures come from the untraced passes, per-layer ones from
    // the traced, and the traced pass minus the untraced ones around it is
    // the tracing overhead.
    val t0 = System.nanoTime()
    val fsPerPass = mutable.Map.empty[Int, Map[String, Long]]
    var p = 1
    while (p <= (if (trace) 3 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      rec.setTracing(rec.tracedPass(p))
      val fs0 = fsStats.snapshot()
      rec.pass(p)(w.pass(p))
      rec.probe.foreach(_.drain())
      fsPerPass(p) = fsStats.diff(fs0)
      p += 1
    }
    rec.setTracing(false)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val all = (1 until p).toSet
    val untraced = all.filterNot(rec.tracedPass)
    val tracedPasses = all -- untraced

    val ops = rec.ops.toSeq
    val measured = ops.filter(o => untraced.contains(o.pass))
    val reads = measured.filter(_.kind == "read").map(_.seconds)
    val e2e = mutable.LinkedHashMap[String, Double](
      "pipeline_s" -> Stats.median(untraced.toSeq.map(w.pipelineSeconds)),
      "read_geomean_s" -> math.exp(reads.map(math.log).sum / math.max(1, reads.size)),
      "read_mean_s" -> reads.sum / math.max(1, reads.size),
      "read_p50_s" -> Stats.pct(reads, 0.5),
      "read_p90_s" -> Stats.pct(reads, 0.9),
      "heap_peak_mb" -> rec.heapPeakMb,
      "reads" -> reads.size.toDouble,
      "passes" -> untraced.size.toDouble,
      "measured_s" -> measuredS)
    e2e ++= w.endToEnd()

    val report = if (trace) Some(new TraceReport(rec, tracedPasses, untraced, cores)) else None
    report.foreach(_.writeSpans(new File(work, s"spans-$workload.jsonl")))
    val layerMetrics = report.map(_.metrics(fsPerPass.toMap) ++ w.layers(tracedPasses) ++
      Map("jvm.heap_peak_mb" -> rec.heapPeakMb)).getOrElse(Map.empty)
    val selfTime = report.map(_.selfTime()).getOrElse(Nil)

    val failures = ops.filterNot(_.ok)
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ops.size.toString,
      "failed" -> failures.size.toString,
      "ops" -> Json.arr(ops.map(o => Json.obj(Seq("pass" -> o.pass.toString,
        "kind" -> Json.str(o.kind), "layer" -> Json.str(o.layer), "name" -> Json.str(o.name),
        "seconds" -> Json.num(o.seconds), "ok" -> o.ok.toString)))),
      "failures" -> Json.arr(failures.take(50).map(o =>
        Json.obj(Seq("op" -> Json.str(o.name), "pass" -> o.pass.toString,
          "error" -> Json.str(o.error))))),
      "setup" -> Json.obj((setup + ("session_s" -> sessionS)).toSeq.map { case (k, v) => k -> Json.num(v) }),
      "e2e" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layerMetrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "pass_s" -> Json.arr(rec.passes.toSeq.map { case (n, s, e) =>
        Json.obj(Seq("pass" -> n.toString, "traced" -> rec.tracedPass(n).toString,
          "seconds" -> Json.num((e - s) / 1e9), "pipeline_s" -> Json.num(w.pipelineSeconds(n)))) }),
      "self_time" -> Json.arr(selfTime.map { case (k, s, share) =>
        Json.obj(Seq("layer" -> Json.str(k), "self_s" -> Json.num(s), "share" -> Json.num(share))) }),
      "env" -> Json.obj(Seq(
        "cores" -> cores.toString,
        "jdk" -> Json.str(System.getProperty("java.runtime.version")),
        "spark" -> Json.str(spark.version))),
      "extra" -> Json.obj(w.extra().toSeq.map { case (k, v) => k -> Json.str(v) })))
    Files.write(Paths.get(args("out")), out.getBytes("UTF-8"))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Linear-interpolated percentile (the same rule as numpy's default). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Hadoop's per-scheme IO counters for the local `file` filesystem. Only
  * the byte counters: the local filesystem never counts read/write ops,
  * and metadata IO through FileContext or java.nio is not counted at all. */
final class FsStats {
  private val keys = Seq("bytesRead" -> "bytes_read", "bytesWritten" -> "bytes_written")
  def snapshot(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    keys.map { case (k, n) =>
      n -> (if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L))
    }.toMap
  }
  def diff(before: Map[String, Long]): Map[String, Long] = {
    val now = snapshot()
    now.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
  }
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
