package graft.tools

import graft.{SparkEntry, SparkSpec}

/** StageProbe is the one kept gate-level lens; running its loop here keeps
  * it working against today's registry and listener API.
  */
class StageProbeSpec extends SparkSpec {
  private lazy val dir = new java.io.File(sf("lineitem")).getParent

  test("runs gates interleaved A,B,A,B with stages and the gate's rows") {
    val gates = Seq("q1_agg", "q3_topk_join")
    val rs = StageProbe.runs(spark, dir, gates, 2)
    assert(rs.map(_.gate) == Seq("q1_agg", "q3_topk_join", "q1_agg",
      "q3_topk_join"))
    assert(rs.map(_.run) == Seq(1, 1, 2, 2))
    rs.foreach(r => assert(r.stages.nonEmpty, s"${r.gate} run ${r.run}"))
    val rows = gates.map(g => g -> SparkEntry.queries(g)(spark, dir).count())
      .toMap
    rs.foreach(r => assert(r.rows == rows(r.gate), s"${r.gate} run ${r.run}"))
  }
}
