package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Association

/**
 * Isolated MAS 10x point (the Bench scale_slope shape: 50 000 samples
 * x 1800 dependents x 5 covariates, 90M melted rows) for one path —
 * `runMain graft.tools.ProfMas10x <firth|gram|linear|cache> [reps]`.
 * Dev-only.
 */
object ProfMas10x {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "gram"
    val reps = if (args.length > 1) args(1).toInt else 1
    val spark = graft.GraftSession.get()
    val n = 50000; val d = 1800; val k = 5
    def melted = spark.range(n.toLong * d).select(
        (col("id") % n).as("sample"), (col("id") / n).cast("long").as("di"))
      .select(
        lit("x").as("predictor"),
        concat(lit("dep_"), col("di")).as("dependent"),
        (pmod(xxhash64(col("sample"), lit(1)), lit(1000003)) / 1000003.0 * 4.0 - 2.0).as("x"),
        col("sample"), col("di"))
      .select(col("predictor"), lit(0).as("pidx"), col("dependent"),
        col("di").cast("int").as("didx"), col("x"),
        (pmod(xxhash64(col("sample"), col("di"), lit(7)), lit(1000003)) / 1000003.0 <
          lit(1.0) / (lit(1.0) + exp(-(col("x") * 0.8 - 2.0 +
            (col("di") % 7).cast("double") * 0.1)))).cast("double").as("y"),
        array((1 to k).map(c =>
          (pmod(xxhash64(col("sample"), lit(c + 100)), lit(1000003)) / 1000003.0).as(s"z$c")): _*)
          .as("covs"))
    val cfg = Association.Config(Seq("x"), (0 until d).map(i => s"dep_$i"),
      (1 to k).map(c => s"z$c"), model = "firth", minCaseCount = 10)
    def timed(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"PROF $label ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"load=${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
    }
    if (path == "cache") {
      // decompose the firstpass: generation alone, columnar cache
      // build (compressed vs not), warm cache scan
      val flat = melted.select(Seq(
        col("didx").cast("long").as("gkey"), col("x"), col("y")) ++
        (0 until k).map(i => col("covs")(i).as(s"c$i")): _*)
      timed("gen-noop")(flat.write.format("noop").mode("overwrite").save())
      timed("gen-noop2")(flat.write.format("noop").mode("overwrite").save())
      for (comp <- Seq("true", "false")) {
        spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", comp)
        val cached = flat.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        timed(s"cache-build(comp=$comp)")(
          cached.write.format("noop").mode("overwrite").save())
        timed(s"cache-scan(comp=$comp)")(
          cached.write.format("noop").mode("overwrite").save())
        timed(s"cache-scan2(comp=$comp)")(
          cached.write.format("noop").mode("overwrite").save())
        cached.unpersist(true)
      }
    } else for (r <- 1 to reps) {
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
