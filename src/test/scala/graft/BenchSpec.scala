package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("2").appName("bench-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def headline(total: Double, failed: Seq[String]) = Bench.Headline(
    total, Seq("mas_firth_5000x1800x5cov" -> 1.5), Nil, failed,
    Seq("mas_firth" -> Seq(1.5, 1.6, 1.7)), 4, 257, """"load_gate":[0.5,0,0.5]""",
    (0.5, 0.6), 0.7, "/data/testdata/sf0.01")

  test("sweep: a query whose rep throws is left out of queries and value, and listed in failed") {
    assert(Bench.attempt(throw new RuntimeException("boom")).isEmpty)
    val (swept, failed) = Bench.sweep(Seq("a01_ok", "b02_boom"),
      n => if (n == "b02_boom") Bench.attempt(throw new RuntimeException("boom")) else Some(2.0),
      () => 1.0)
    assert(swept == Seq(("a01_ok", 2.0, 1.0)))
    assert(failed == Seq("b02_boom"))
    val node = new ObjectMapper().readTree(
      headline(swept.map(_._2).sum, failed.map(Bench.shortId)).lastLine)
    assert(node.get("value").asDouble == 2.0)
    assert(node.get("failed").size == 1 && node.get("failed").get(0).asText == "b02")
  }

  test("sweep: a throw on the adaptive third rep still fails the query") {
    val shots = Iterator(Some(1.0), Some(3.0), None)
    val (swept, failed) = Bench.sweep(Seq("c03_flaky"), _ => shots.next(), () => 1.0)
    assert(swept.isEmpty && failed == Seq("c03_flaky"))
  }

  test("the 10x corpus directory is keyed by the absolute scale-factor directory") {
    val a = Bench.scale10xPath("/data/testdata/sf0.1")
    val b = Bench.scale10xPath("/data/testdata/sf0.01")
    assert(a != b)
    val rel = new java.io.File("sf0.1").getAbsolutePath
    assert(Bench.scale10xPath("sf0.1") == Bench.scale10xPath(rel))
    assert(Bench.scale10xPath("/data/testdata/./sf0.1") == a)
  }

  test("BENCH_ONLY accepts short ids and full names, and rejects a name that matches nothing") {
    val names = SparkEntry.queries.keys
    assert(Bench.selectQueries("a46", names) == Set("a46_mann_whitney"))
    assert(Bench.selectQueries("a46_mann_whitney", names) == Set("a46_mann_whitney"))
    assert(Bench.selectQueries(" a46 , q02_filter_project", names) ==
      Set("a46_mann_whitney", "q02_filter_project"))
    val e = intercept[IllegalArgumentException](Bench.selectQueries("a46,zz99", names))
    assert(e.getMessage.contains("zz99"))
    intercept[IllegalArgumentException](Bench.selectQueries(" , ", names))
  }

  test("rank replica bounds: one aggregate names the column whose span reaches its offset") {
    val sess = spark
    import sess.implicits._
    val ok = Seq((1L, -999.0, 10.0, 20.0, 3.0), (2L, 9999.0, 5e6, 9e6, 40.0))
      .toDF("id", "x", "y_avg", "y_max", "y_cnt")
    assert(Bench.rankReplicaCollisions(ok).isEmpty)
    val wide = Seq((1L, 0.0, 10.0, 20.0, 3.0), (2L, 2e5, 5e6, 9e6, 40.0))
      .toDF("id", "x", "y_avg", "y_max", "y_cnt")
    assert(Bench.rankReplicaCollisions(wide) == Seq("x"))
    val nulls = Seq((1L, 0.0, None: Option[Double], 20.0, 3.0), (2L, 1.0, None, 9e6, 1500.0))
      .toDF("id", "x", "y_avg", "y_max", "y_cnt")
    assert(Bench.rankReplicaCollisions(nulls) == Seq("y_cnt"))
  }

  test("the compact last line parses and fits the tail bound at the worst case") {
    val big = 999999.99
    val heads = Seq("mas_firth_5000x1800x5cov", "mas_firth_5000x1800x20cov",
      "mas_linear_5000x1800x5cov", "mas_firth_gram_5000x1800x5cov").map(_ -> big)
    val families = Seq("d03", "d05b", "d10", "t20", "d21", "d16", "e16", "d22", "c16",
      "m22", "a46", "a49", "g02", "g01", "t13", "mas_firth", "mas_linear", "mas_firth_gram")
    val slope = """"docs":[999999,9999990]""" +:
      families.map(Bench.slopeEntry(_, big, big, 999.9, 999.9))
    assert(slope.size == 19)
    val reps = Seq("mas_firth", "mas_firth20", "mas_linear", "mas_firth_gram")
      .map(_ -> Seq(big, big, big))
    val h = Bench.Headline(heads.map(_._2).sum + 300 * big, heads, slope, Nil, reps, 32, 257,
      """"load_gate":[999.9,600,999.9]""", (999.999, 999.999), 999.999, "/data/testdata/sf0.1")
    val line = h.lastLine
    assert(line == h.json, "the worst case must not fall back to the stub")
    assert(line.length <= Bench.TailBound, s"${line.length} chars")
    val node = new ObjectMapper().readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("value").isNumber)
    assert(node.get("queries").size == 4)
    assert(node.get("scale_slope").size == 19)
    assert(node.get("mas_firth_reps").size == 3)
  }

  test("an oversize line falls back to the fixed-size stub naming BENCH_FINAL.json") {
    val h = headline(12.5, (1 to 400).map(i => f"q$i%03d"))
    assert(h.json.length > Bench.TailBound)
    val node = new ObjectMapper().readTree(h.lastLine)
    assert(node.get("full").asText == "BENCH_FINAL.json")
    assert(node.get("value").asDouble == 12.5 && node.get("metric").asText == "total")
  }
}
