package graft

import org.scalatest.funsuite.AnyFunSuite

/** `tools/compare_bench.py`, the offline comparison of two bench
  * artifacts, through the real subprocess: a cell that moves past the
  * threshold once the suite-median shift is removed fails the exit
  * code; a uniform host shift does not. */
class CompareBenchSpec extends AnyFunSuite {
  import scala.sys.process._

  private def artifact(dir: java.nio.file.Path, name: String,
      queries: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p,
      s"""{"metric":"total","unit":"sec","queries":{$queries}}""" + "\n")
    p.toString
  }

  private def compare(old: String, nw: String): (Int, String) = {
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'))
    (Seq("python3", "tools/compare_bench.py", old, nw).!(logger), out.toString)
  }

  test("compare_bench exits 1 on a median-normalized outlier, 0 on a " +
      "uniform shift") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compare")
    val old = artifact(dir, "old.json", """"a":1.0,"b":1.0,"c":2.0""")
    // every cell 2x slower: the median absorbs it, nothing flags
    val uniform = artifact(dir, "uniform.json", """"a":2.0,"b":2.0,"c":4.0""")
    val (rcU, msgU) = compare(old, uniform)
    assert(rcU === 0, msgU)
    assert(msgU.contains("median per-query ratio (the boot/host shift): 2.000"),
      msgU)
    // one cell 4x slower against a steady suite: flagged
    val outlier = artifact(dir, "outlier.json", """"a":1.0,"b":1.0,"c":8.0""")
    val (rcO, msgO) = compare(old, outlier)
    assert(rcO === 1, msgO)
    assert(msgO.linesIterator.exists(l =>
      l.trim.startsWith("c ") && l.contains("vs-suite x4.00")), msgO)
  }
}
