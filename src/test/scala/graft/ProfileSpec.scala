package graft

/** The `graft.Profile` CLI: argument errors are named, `split` phases
  * add up, and `jobs` reads the counter `JobCountSpec` pins. */
class ProfileSpec extends SparkSpecBase {

  private def rejects(args: String*)(named: String): Unit = {
    val e = intercept[IllegalArgumentException](Profile.parse(args))
    assert(e.getMessage.contains(named), e.getMessage)
  }

  test("bad arguments throw IllegalArgumentException naming the bad value") {
    rejects("splitt", "q_rel_pricing_summary")("'splitt'")
    rejects("split")("missing query list")
    rejects("jobs", "q_rel_pricing_summary,q_no_such_query")("'q_no_such_query'")
    rejects("reps", "three", "q_rel_pricing_summary")("'three'")
    rejects("split", "q_rel_pricing_summary", "x2")("'x2'")
  }

  test("split returns one record per rep whose phases sum to its total") {
    val recs = Profile.split(spark, "q_rel_pricing_summary", 2, sfDir)
    assert(recs.map(_.rep) == Seq(0, 1))
    recs.foreach { r =>
      assert(r.constructNs + r.planNs + r.execNs == r.totalNs)
      assert(r.execNs > 0)
    }
  }

  test("jobs on q_sim_pagerank stays within the JobCountSpec bound") {
    val c = Profile.countJobs(spark, "q_sim_pagerank", sfDir)
    assert(c.query == "q_sim_pagerank")
    assert(c.jobs > 0 && c.jobs <= 18, s"jobs=${c.jobs}")
    assert(c.executions.map(_.jobs).sum <= c.jobs)
  }
}
