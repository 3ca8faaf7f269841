package graft

/** Log-profile switch for the bench/gate entry points (r13 ADVICE: the
  * packaged default config was DENYing Spark's "Broadcasting large task
  * binary" WARN for EVERY consumer of the library, suppressing a
  * legitimate perf signal; the suppression belongs only to the runs
  * whose contract is a machine-parsed output tail). The default
  * `log4j2.properties` now keeps that WARN visible; [[quietBench]]
  * reconfigures the running log4j2 context to the bundled
  * `log4j2-bench.properties` — the same config plus the broadcast DENY
  * — and is called first thing by the Bench/Verify/ScaleLadder/Profile
  * mains, so those runs stay tail-safe however they are launched (sbt
  * runMain, spark-submit, the driver). */
object LogProfiles {

  def quietBench(): Unit = {
    val url = getClass.getResource("/log4j2-bench.properties")
    if (url != null)
      org.apache.logging.log4j.core.config.Configurator.reconfigure(url.toURI)
  }
}
