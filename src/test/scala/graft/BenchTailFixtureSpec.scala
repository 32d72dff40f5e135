package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-trips every committed bench-output tail fixture through the
  * REAL consumer-side extraction (`tools/parse_bench_tail.py`) inside
  * `sbt test`: the take-the-LAST-line artifact protocol is enforced by
  * conventions spread across Bench (log level ERROR, compact stdout
  * line, shutdown-hook re-print) and build.sbt (StdoutOutput,
  * showSuccess=false) — any of which a future edit can silently break.
  * The fixtures are real captures, front-truncated mid-line like a
  * real bounded tail: timeout-cut and normal-exit runs, including the
  * artifact shapes of the retired cross-run prior policy (kept so a
  * consumer of old driver artifacts keeps parsing them). Each must
  * STRICT-parse (json.loads of the last non-empty line, exit code 0 —
  * the brittlest consumer imaginable). If python3 ever disappears from
  * the environment the test fails loudly rather than skipping: the
  * artifact's consumers are python, so a box that cannot run the
  * extraction cannot validate the protocol at all. */
class BenchTailFixtureSpec extends AnyFunSuite {
  import scala.sys.process._

  private val fixtureDir = java.nio.file.Paths.get("tools/fixtures")

  private val fixtures: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(fixtureDir)
    try s.iterator().asScala.map(p => s"tools/fixtures/${p.getFileName}")
      .toSeq.sorted
    finally s.close()
  }

  /** A timeout-cut capture of the current Bench (sf0.001, SIGTERM to
    * sbt mid-suite, reference corpus absent). */
  private val fixedPolicyTail = "tools/fixtures/bench_tail_fixed_sigterm.txt"

  test("the fixture set is committed (cwd must be the repo root)") {
    assert(fixtures.contains(fixedPolicyTail), fixtures)
    assert(fixtures.size >= 9, fixtures)
  }

  for (fx <- fixtures)
    test(s"$fx strict-parses through tools/parse_bench_tail.py") {
      val out = new StringBuilder
      val logger = ProcessLogger(l => out.append(l).append('\n'))
      val rc = Seq("python3", "tools/parse_bench_tail.py", fx).!(logger)
      assert(rc === 0,
        s"strict last-line extraction failed (rc=$rc):\n$out")
      assert(out.toString.contains("strict : parsed"),
        s"unexpected extractor output:\n$out")
    }

  test("the fixed-policy capture's last line carries exactly the compact " +
      "fields: reference_cells, no cross-run prior or escape fields, " +
      "under 2 KB") {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(fixedPolicyTail))
    val last = txt.linesIterator.filter(_.trim.nonEmpty).toSeq.last
    assert(last.getBytes("UTF-8").length < 2048, last)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(last)
    import scala.jdk.CollectionConverters._
    val keys = json.fieldNames().asScala.toSet
    assert(keys === Set("metric", "value", "unit", "queries", "queries_done",
      "sibling_jvms", "load_avg", "reference_cells", "full_artifact", "sf"))
    assert(json.get("reference_cells").asText === "missing")
    assert(json.get("metric").asText === "total")
    assert(json.get("queries").size > 0)
  }
}
