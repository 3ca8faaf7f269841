package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench log profile denies exactly the benign accumulator race,
  * not every accumulator failure. The regex is read the way log4j2
  * reads it (java.util.Properties, so the file's escapes apply) and
  * matched the way its RegexFilter matches a formatted message (the
  * whole message). */
class LogProfilesSpec extends AnyFunSuite {

  private def accRegex(resource: String): java.util.regex.Pattern = {
    val in = getClass.getResourceAsStream(resource)
    assert(in != null, s"$resource is not on the classpath")
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    java.util.regex.Pattern.compile(
      props.getProperty("appender.console.filter.acc.regex"))
  }

  private def denies(p: java.util.regex.Pattern, msg: String): Boolean =
    p.matcher(msg).matches()

  // the message shapes DAGScheduler.updateAccumulators and
  // AccumulatorContext log
  private val raceFailure =
    "Failed to update accumulator 4127 (Unknown class) for task 3"
  private val raceWarn =
    "Attempted to access garbage collected accumulator 4127"
  private val liveFailure = "Failed to update accumulator 4127 " +
    "(org.apache.spark.sql.execution.metric.SQLMetric) for task 3"

  test("the bench profile denies the accumulator race, not a live failure") {
    val p = accRegex("/log4j2-bench.properties")
    assert(denies(p, raceFailure))
    assert(denies(p, raceWarn))
    assert(!denies(p, liveFailure))
  }

  test("the default profile denies neither accumulator-failure shape") {
    val p = accRegex("/log4j2.properties")
    assert(!denies(p, raceFailure))
    assert(!denies(p, liveFailure))
  }
}
