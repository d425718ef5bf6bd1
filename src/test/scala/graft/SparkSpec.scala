package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (kept alive across suites — Spark
  * re-creation per suite is slow and getOrCreate returns the same one). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()
}

object SparkSpec {
  /** The shared session: the running one, or a new one after a stop. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // same extensions as the driver's Verify/Bench sessions — specs that
      // sweep SparkEntry.queries need the injected SQL functions (geo_cell)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Deliberate-refusal tests route their failures through Spark's own
    // machinery — executor task aborts (the corrupt-DV refusals),
    // analysis failures re-thrown by the BUILT-IN ObservationManager
    // listener (vacuumed-path reads), and accumulator updates landing
    // after their execution was reaped — every one asserted by
    // intercept[...], every cause still carried on the propagated
    // exception. The deliberate non-blind-append stream refusal
    // (ReadStreamTableSpec) is the fifth: MicroBatchExecution logs it
    // at ERROR before the awaitTermination rethrow the spec
    // intercepts. Their ERROR-level stack traces would drown a real
    // failure in the CI log, so these five loggers are capped in the
    // TEST session only (Bench/Verify keep defaults).
    Seq("org.apache.spark.sql.util.ExecutionListenerBus",
        "org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")
      .foreach(l => org.apache.logging.log4j.core.config.Configurator
        .setLevel(l, org.apache.logging.log4j.Level.FATAL))
    s
  }
}
