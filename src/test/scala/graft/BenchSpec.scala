package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness must be failure-honest: a throwing query can never
  * masquerade as a fast success (round 9's harness swallowed exceptions,
  * so a query breaking after 0.1 s looked like a speedup). */
class BenchSpec extends AnyFunSuite {

  test("timeOne records a failure, never a phantom success") {
    val (t, ok) = Bench.timeOne(throw new RuntimeException("boom"))
    assert(!ok)
    assert(t >= 0.0)
    val (_, ok2) = Bench.timeOne(())
    assert(ok2)
  }

  test("renderJson marks failed queries -1, excludes them from total, lists errors") {
    val results = Seq(
      ("q_ok", Seq(1.0, 2.0, 3.0), false),
      ("q_broken", Seq(0.1, 0.1, 0.1), true),
      ("q_ok2", Seq(4.0, 4.0, 4.0), false))
    val json = Bench.renderJson(results, Nil, passes = 3, sfDir = "/x")
    assert(json.contains("\"q_broken\":-1"), json)
    assert(json.contains("\"errors\":[\"q_broken\"]"), json)
    // total = 2.0 + 4.0, never the broken query's phantom 0.1
    assert(json.contains("\"value\":6.000"), json)
    assert(json.contains("\"q_ok\":2.000"), json)
  }

  test("renderJson reports per-query min alongside the median") {
    val json = Bench.renderJson(Seq(
      ("q_ok", Seq(3.0, 1.0, 2.0), false),
      ("q_broken", Seq(0.1), true)), Nil, passes = 3, sfDir = "/x")
    // min is the intrinsic-cost estimate (transients only add time);
    // failed queries stay -1 in the min map too.
    assert(json.contains("\"min\":{\"q_ok\":1.000,\"q_broken\":-1}"), json)
    assert(json.contains("\"q_ok\":2.000"), json)
  }

  test("renderJson with no failures emits an empty errors list") {
    val json = Bench.renderJson(Seq(("q", Seq(1.0), false)), Nil, 3, "/x")
    assert(json.contains("\"errors\":[]"), json)
    assert(json.contains("\"value\":1.000"), json)
  }

  test("median is the across-runs median (odd and even sample counts)") {
    assert(Bench.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("compact stdout line parses, stays within the driver's 2000-char tail") {
    // rounds 10-11 lost the perf record to parsed:null - the full render
    // (min/spread maps) overflowed the tail window the driver keeps.
    // The compact line must hold under a much larger registry than today's.
    val many = (1 to 90).map(i => (f"q$i%02d_some_operator_name", Seq(1.234, 2.345), false))
    val line = Bench.renderCompactJson(many, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 1900, s"compact line ${line.length} chars")
    assert(line.startsWith("{\"metric\":\"total\""), line.take(40))
    assert(line.contains("\"errors\":[]"), line.takeRight(60))
    // a subset render must say so, and failed queries must survive it
    assert(line.contains("\"omitted_fastest\":"), line.take(120))
    val manyWithFail = many :+ (("q99_broken_op", Seq(0.1), true))
    val lf = Bench.renderCompactJson(manyWithFail, Nil, "/x")
    assert(lf.contains("\"q99_broken_op\":-1") &&
      lf.contains("\"errors\":[\"q99_broken_op\"]"), lf)
    // failures still surface as -1 + errors entry in the compact form
    val withFail = Bench.renderCompactJson(
      Seq(("q_ok", Seq(1.0), false), ("q_bad", Seq(0.1), true)), Nil, "/x")
    assert(withFail.contains("\"q_bad\":-1") &&
      withFail.contains("\"errors\":[\"q_bad\"]"), withFail)
  }

  test("the heavy dedup family is a subset of the headline registry") {
    val names = SparkEntry.registry.filter(_.headline).map(_.name).toSet
    val missing = Bench.heavy -- names
    assert(missing.isEmpty,
      s"heavy-pass queries not in the headline set: $missing")
  }

  test("select resolves full names and qNN ids, rejects unmatched arguments") {
    val cases = Seq(
      Seq("q12") -> Seq("q12_monthly_orders"),
      Seq("q33") -> Seq("q33_embedding_neardup"),
      Seq("q30_minhash_lsh_dedup") -> Seq("q30_minhash_lsh_dedup"),
      Seq("q33_embedding_neardup", "q33", "q12") ->
        Seq("q33_embedding_neardup", "q12_monthly_orders"))
    cases.foreach { case (args, want) =>
      assert(SparkEntry.select(args).map(_.name) == want, args)
    }
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q12", "q999")))
    assert(e.getMessage.contains("q999") && !e.getMessage.contains("q12"),
      e.getMessage)
  }

  test("tracked tier: rows leave the total but stay visible, failures " +
      "surface; demoted names are real headline registry rows, never heavy") {
    val tracked = Seq(("q_t", Seq(0.3), false), ("q_tbad", Seq(0.1), true))
    val json = Bench.renderJson(Seq(("q_h", Seq(2.0), false)), tracked, 3, "/x")
    assert(json.contains("\"value\":2.000"), json)          // headline only
    assert(json.contains("\"tracked\":{\"q_t\":0.30,\"q_tbad\":-1}"), json)
    assert(json.contains("\"errors\":[\"q_tbad\"]"), json)
    val compact = Bench.renderCompactJson(
      Seq(("q_h", Seq(2.0), false)), tracked, "/x")
    assert(compact.contains("\"tracked\":{\"q_t\":0.30,\"q_tbad\":-1}"), compact)
    assert(compact.contains("\"errors\":[\"q_tbad\"]"), compact)
    // the demotion list must reference real headline rows (a renamed
    // query would silently re-promote itself) and never a heavy row
    val names = SparkEntry.registry.filter(_.headline).map(_.name).toSet
    val ghosts = Bench.demoted -- names
    assert(ghosts.isEmpty, s"demoted rows not in the registry: $ghosts")
    assert((Bench.demoted & Bench.heavy).isEmpty)
  }
}
