package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSuite

import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** `Probe` on the shared session at sf0.001: the JSON record of `time`, the
  * final-plan file of `plan`, and the up-front failure on an unknown name. */
class ProbeSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def stdout(args: String*): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Probe.run(spark, args))
    buf.toString("UTF-8")
  }

  test("time prints one JSON line: a cold time and one warm time per rep") {
    val lines = stdout("time", "--sf", sf, "--reps", "1", "q01_pricing_summary")
      .linesIterator.filter(_.startsWith("{")).toSeq
    assert(lines.size === 1)
    val rec = new ObjectMapper().readTree(lines.head)
    assert(rec.get("query").asText === "q01_pricing_summary")
    assert(rec.get("cold_s").asDouble > 0)
    assert(rec.get("warm_s").size === 1)
    assert(rec.get("warm_min").asDouble === rec.get("warm_s").get(0).asDouble)
    assert(rec.get("warm_median").asDouble === rec.get("warm_min").asDouble)
  }

  test("plan --out writes <query>.txt holding the final adaptive plan") {
    val out = Files.createTempDirectory("probe-plan")
    stdout("plan", "--sf", sf, "--out", out.toString, "q01_pricing_summary")
    val text = Files.readString(out.resolve("q01_pricing_summary.txt"))
    assert(text.contains("isFinalPlan=true"), text)
  }

  test("an unknown query fails before any job runs, naming the query") {
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val e = intercept[IllegalArgumentException](
      Probe.run(spark, Seq("time", "--sf", sf, "q01_pricing_summary", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length === jobsBefore)
  }
}
