package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.IvfIndex

/** The q39 oracle dump must inline centroids only when they unambiguously
  * belong to the one probed dataset — a JVM that probed several sfDirs
  * must omit the entry (driver degrades to rows-only) rather than risk
  * dumping another dataset's centroids. */
class SparkEntryOracleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q39 oracle entry present for one probed dir, omitted once a second appears") {
    // a real probe (plan build runs acquire+record eagerly)
    SparkEntry.queries("q39_ivf_topk")(spark, "/root/testdata/sf0.001")
    assert(SparkEntry.oracleSql.contains("q39_ivf_topk"),
      "single-dir probe must dump the centroid twin")
    // simulate a probe of a second dataset in the same JVM
    val other = "/some/other/sfdir"
    SparkEntry.ivfState.record(other, (IvfIndex.Model(Nil), other))
    try assert(!SparkEntry.oracleSql.contains("q39_ivf_topk"),
      "ambiguous multi-dir state must omit the twin, not guess")
    finally SparkEntry.ivfState.forget(other)
    assert(SparkEntry.oracleSql.contains("q39_ivf_topk"))
  }
}
