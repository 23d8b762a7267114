package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM via Test/fork). */
object TestSession {
  /** The production recipe ([[Sessions.local]]) at 4 cores: every conf
    * the engine ships with — RocksDB state, the checkpoint file manager,
    * the oracle-parity semantics — is what the suite exercises. Only the
    * quieter log level is the suite's own. */
  lazy val spark: SparkSession = {
    val s = Sessions.local("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
}
