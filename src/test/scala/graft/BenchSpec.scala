package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.tools.Profile.Run

/** Bench's report is a pure function of its sweep's runs: the stdout
  * contract and the median policy are checked here without Spark. */
class BenchSpec extends AnyFunSuite {

  private val Sf = "/data/tpch/sf0.1"

  private def run(name: String, rep: Int, secs: Double, ok: Boolean = true): Run =
    Run(name, rep, if (ok) None else Some("boom"), secs, jobs = 3, stages = 4,
      taskMs = 50, cpuMs = 40, gcMs = 7, jitMs = 90, cgen = 2, heapMb = 300)

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  private def report(runs: Seq[Run], reps: Int): (JsonNode, JsonNode, String) = {
    val (line, full) = Bench.report(runs, reps, Sf, "BENCH_ONLY.json")
    (parse(line), parse(full), line)
  }

  test("the stdout line carries the 10 contract keys in order; the detail keeps every entry") {
    val runs = for (rep <- 1 to 3; q <- Seq("q1_agg", "cartera_load"))
      yield run(q, rep, rep.toDouble)
    val (out, full, _) = report(runs, 3)
    assert(keys(out) == Seq("metric", "value", "unit", "reps", "n_queries", "failed",
      "failed_queries", "detail", "queries", "sf"))
    assert(keys(full) == Seq("metric", "value", "unit", "reps", "order", "n_queries",
      "failed", "failed_queries", "sf", "queries"))
    assert(out.get("detail").asText == "BENCH_ONLY.json")
    assert(out.get("sf").asText == Sf && out.get("reps").asInt == 3)
    val q = full.get("queries").get("q1_agg")
    assert(keys(q) == Seq("median", "min", "max", "gc_max_ms", "heap_after_max_mb", "reps"))
    assert(q.get("reps").size == 3)
    assert(keys(q.get("reps").get(0)) == Seq("t", "gc_ms", "jit_ms", "cgen", "task_ms",
      "cpu_ms", "heap_mb", "jobs", "stages"))
    assert((q.get("min").asDouble, q.get("max").asDouble) == ((1.0, 3.0)))
  }

  test("a query missing a rep reports -1, counts as failed and stays out of the total") {
    val runs = Seq(
      run("fine", 1, 2.0), run("fine", 2, 4.0),
      run("threw", 1, 1.0), run("threw", 2, 1.0, ok = false),
      run("short", 1, 1.0))
    val (out, full, _) = report(runs, 2)
    assert(out.get("value").asDouble == 2.0)
    assert(out.get("failed").asInt == 2)
    assert(out.get("failed_queries").elements.asScala.map(_.asText).toSeq ==
      Seq("short", "threw"))
    assert(keys(out.get("queries")) == Seq("fine"))
    for (q <- Seq("short", "threw")) {
      val e = full.get("queries").get(q)
      assert(e.get("median").asDouble == -1.0, q)
      assert(e.get("min").asDouble == -1.0 && e.get("gc_max_ms").asLong == -1L, q)
    }
    // the failed rep itself is not in the detail; the ok one is
    assert(full.get("queries").get("threw").get("reps").size == 1)
    assert(full.get("n_queries").asInt == 3 && full.get("value").asDouble == 2.0)
  }

  test("an even rep count takes the lower median") {
    val two = Seq(run("q", 1, 3.0), run("q", 2, 1.0))
    assert(report(two, 2)._1.get("queries").get("q").asDouble == 1.0)
    val four = Seq(4.0, 1.0, 3.0, 2.0).zipWithIndex.map { case (t, i) => run("q", i + 1, t) }
    assert(report(four, 4)._1.get("queries").get("q").asDouble == 2.0)
  }

  test("the stdout queries map holds only the slowest 15") {
    val runs = (1 to 20).map(i => run(f"q$i%02d", 1, i.toDouble))
    val (out, full, _) = report(runs, 1)
    assert(keys(out.get("queries")) == (20 to 6 by -1).map(i => f"q$i%02d"))
    assert(full.get("queries").size == 20)
    assert(out.get("value").asDouble == (1 to 20).sum.toDouble)
  }

  test("with 227 queries the stdout line stays under 2,000 characters") {
    // registry names run to 30 characters; 20 failing ones fill the
    // capped failed_queries list too
    val names = (1 to 227).map(i => f"synthetic_registry_query_nm_$i%03d")
    val runs = for (rep <- 1 to 3; (n, i) <- names.zipWithIndex)
      yield run(n, rep, 100.0 + i, ok = i >= 20 || rep < 3)
    val (out, _, line) = report(runs, 3)
    assert(out.get("n_queries").asInt == 227 && out.get("failed").asInt == 20)
    assert(out.get("failed_queries").size == 10)
    assert(line.length < 2000, line.length)
  }
}
