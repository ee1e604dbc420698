package graft.tools

import graft.Bench.{masCfg, masMelted}
import graft.operators.Association

/**
 * Isolated MAS 10x point (the Bench scale_slope shape: 50 000 samples
 * x 1800 dependents x 5 covariates, 90M melted rows) for one path —
 * `runMain graft.tools.ProfMas10x <firth|gram|linear> [reps]`.
 * Dev-only.
 */
object ProfMas10x {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "gram"
    val reps = if (args.length > 1) args(1).toInt else 1
    val spark = graft.GraftSession.get()
    val d = 1800
    val melted = masMelted(spark, 50000, d, 5)
    val cfg = masCfg(d, 5)
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      (path match {
        case "firth" => Association.binary(melted, cfg)
        case "linear" => Association.linear(melted, cfg.copy(model = "linear"))
        case _ => Association.firthGram(melted, cfg)
      }).write.format("noop").mode("overwrite").save()
      println(f"PROF mas10x_$path rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"load=${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
