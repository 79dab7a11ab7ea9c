package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for specs (one JVM-wide session; suites run
  * sequentially in the forked test JVM). */
trait SparkTestBase { this: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  /** Waits until every Spark listener has seen every event posted so far
    * (a bounded poll of the listener bus, not a fixed sleep). An action's
    * job and stage start events are posted before it returns, so a listener
    * read after this sees all of them. */
  def drainListenerBus(timeoutMs: Long = 30000L): Unit =
    org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext, timeoutMs)
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()
}
