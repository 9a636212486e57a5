package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  // local[4, 2]: 4 threads, maxFailures=2 — task RETRY is enabled so the
  // failure-injection cases (GraphSpec's reliable-checkpoint smoke) can
  // prove loops survive a first-attempt task crash. Deterministic tests
  // are unaffected: a real bug still throws on the retry and fails.
  lazy val spark: SparkSession = GraftSession("graft-test",
    master = Some("local[4, 2]"), shufflePartitions = Some(4))

  lazy val sf: String = "/root/testdata/sf0.001"
}
