package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator specs (sf0.001 for speed). */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSessionHolder.spark
  override def afterAll(): Unit = {} // session shared across suites

  /** Spark jobs started while `body` runs. */
  protected def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graftspec.Bus.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }
}

object SparkSessionHolder {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", Some("local[4]"), 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
