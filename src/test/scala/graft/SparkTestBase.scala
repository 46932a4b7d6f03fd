package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}

/** Spark jobs started while `f` runs, counted by a listener that sees
  * every job of the session (suites in one fork run one at a time). */
object JobCount {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  def apply[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.TestListenerBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
