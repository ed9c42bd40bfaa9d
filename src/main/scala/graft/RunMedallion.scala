package graft

import org.apache.spark.sql.SparkSession
import graft.layers.Medallion

/** CLI: run the full bronze→silver→gold medallion pipeline over an
  * Instacart-shaped raw CSV directory (orders.csv, order_products_prior.csv,
  * order_products_train.csv, products.csv, aisles.csv, departments.csv). */
object RunMedallion {
  def main(args: Array[String]): Unit = {
    val cfg = args match {
      case Array("--config", yml) => Medallion.configFromYaml(yml)
      case Array(rawDir, outDir) => Medallion.Config(
        rawDir = rawDir, bronzeDir = s"$outDir/bronze",
        silverDir = s"$outDir/silver", goldDir = s"$outDir/gold")
      case _ => sys.error(
        "usage: RunMedallion <rawCsvDir> <outDir> | RunMedallion --config <pipeline_config.yml>")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.sources.LocalFsInstall.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    val layers = Seq[(String, (SparkSession, Medallion.Config) => Map[String, Long])](
      "bronze" -> Medallion.runBronze, "silver" -> Medallion.runSilver,
      "gold" -> Medallion.runGold)
    val counts = layers.map { case (layer, run) =>
      val t0 = System.nanoTime()
      val c = run(spark, cfg)
      println(f"LAYER $layer s=${(System.nanoTime() - t0) / 1e9}%.3f rows=${c.values.sum}")
      c
    }.reduce(_ ++ _)
    counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"TABLE $t rows=$n") }
    spark.stop()
  }
}
