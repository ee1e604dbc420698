package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every setting the library reads is listed here: a new
  * `spark.graft.*` conf key or `SPARK_GRAFT_*` environment variable in
  * `src/main/scala` fails this spec until it is added below. So is
  * every file that writes a setting into a running session: the fit
  * path (its column-batch packer included) writes none. */
class KnobCensusSpec extends AnyFunSuite {
  private val confKeys = Set(
    "spark.graft.ann.queryRowsMax",
    "spark.graft.bpe.merges",
    "spark.graft.bpe.trainWords",
    "spark.graft.dedup.blockRowsMax",
    "spark.graft.icdMapPath",
    "spark.graft.paraDedup.checkpointFirst")

  private val envVars = Set(
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_VERIFY_ONLY")

  private val confWriters = Set(
    "src/main/scala/graft/Bench.scala",
    "src/main/scala/graft/streaming/StreamingOps.scala")

  private def literals(pattern: String): Map[String, Seq[String]] = {
    val re = pattern.r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    files.flatMap { (p: Path) =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      re.findAllMatchIn(text).map(m => m.group(1) -> p.toString)
    }.groupMap(_._1)(_._2)
  }

  test("the spark.graft.* conf keys read in src/main are exactly the listed ones") {
    val found = literals("\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"")
    assert(found.keySet == confKeys,
      s"unlisted: ${found -- confKeys}; listed but gone: ${confKeys -- found.keySet}")
  }

  test("the SPARK_GRAFT_* environment variables read in src/main are exactly the listed ones") {
    val found = literals("\"(SPARK_GRAFT_[A-Z0-9_]+)\"")
    assert(found.keySet == envVars,
      s"unlisted: ${found -- envVars}; listed but gone: ${envVars -- found.keySet}")
  }

  test("only the listed files write a setting into a running session") {
    val found = literals("""(\.conf\.(?:set|unset)|\bsetConf)\(""").values.flatten.toSet
    assert(found == confWriters,
      s"unlisted: ${found -- confWriters}; listed but gone: ${confWriters -- found}")
  }
}
