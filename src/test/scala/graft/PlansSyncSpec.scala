package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical no-late-landing enforcement (r10 VERDICT #2, after two
  * consecutive rounds shipped queries past the recorded gate run): the
  * registered query surface must equal the `## q_` sections of
  * PLANS.md. PLANS.md is only regenerated by the gate routine
  * (`runMain graft.Profile plan`), so a query added — or renamed, or
  * dropped — after the last gate run turns the whole suite red at
  * commit time instead of sailing into the snapshot unaudited.
  *
  * Discipline this encodes: add/modify a query → rerun the plan dump + the
  * full verify gate → THEN commit. No Spark session needed here; it is
  * a pure file diff, so it stays red even under `testOnly`.
  */
class PlansSyncSpec extends AnyFunSuite {

  test("SparkEntry.queries matches PLANS.md section for section") {
    val f = new java.io.File("PLANS.md")
    assert(f.isFile,
      s"PLANS.md not found at ${f.getAbsolutePath} — run " +
        "`sbt \"runMain graft.Profile plan\"` from the repo root")
    val planned = scala.io.Source.fromFile(f, "UTF-8")
      .getLines().filter(_.startsWith("## q_"))
      .map(_.stripPrefix("## ").trim).toSet
    val registered = SparkEntry.queries.keySet
    val unplanned = (registered -- planned).toSeq.sorted
    val stale = (planned -- registered).toSeq.sorted
    assert(unplanned.isEmpty && stale.isEmpty,
      s"query surface and PLANS.md diverge — regenerate PLANS.md and " +
        s"rerun the gate before committing. Registered but not in " +
        s"PLANS.md: ${unplanned.mkString(", ")}; in PLANS.md but not " +
        s"registered: ${stale.mkString(", ")}")
    // and every query needs its oracle (rows-only checks are the
    // documented exception — keep the exception list explicit)
    val noOracle = (registered -- SparkEntry.oracleSql.keySet).toSeq.sorted
    assert(noOracle.isEmpty,
      s"queries without an oracleSql entry: ${noOracle.mkString(", ")}")
  }
}
