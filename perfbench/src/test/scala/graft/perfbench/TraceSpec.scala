package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  import Trace._

  test("union length counts overlapping intervals once") {
    assert(unionLength(Nil) == 0)
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))) == 15)
    assert(unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  test("self time is duration minus the interval children cover") {
    val spans = Seq(
      Span(1, "root", 0, 1, 0, 100),
      Span(2, "a", 1, 1, 10, 30),
      Span(3, "b", 1, 1, 20, 50),   // overlaps a: covered once
      Span(4, "c", 1, 1, 90, 120),  // clipped to the parent's end
      Span(5, "grandchild", 2, 1, 12, 18),
      Span(6, "other", 0, 2, 0, 40))
    val self = selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 6)
    assert(self(3) == 30 && self(4) == 30 && self(5) == 6 && self(6) == 40)
    assert(subtree(spans, 1) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("recorder nests spans per thread and restores the parent") {
    val rec = new Recorder(None)
    rec.span("outer", 7) { rec.span("inner", 7)(()); rec.span("inner2", 7)(()) }
    val s = rec.spans
    val outer = s.find(_.name == "outer").get
    assert(s.filter(_.name.startsWith("inner")).forall(_.parent == outer.id))
    assert(outer.parent == 0 && s.forall(_.req == 7))
  }

  test("jobs are attributed exactly to spans under two concurrent callers") {
    val spark = SparkSession.builder().master("local[2]")
      .appName("trace-spec").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val l = new Listener
      sc.addSparkListener(l)
      val rec = new Recorder(Some(sc))
      val ids = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      val threads = Seq("a" -> 5, "b" -> 3).map { case (name, jobs) =>
        val t = new Thread(() => rec.span(name) {
          // RDD actions: exactly one job each (a Dataset action may
          // run one job per adaptive stage)
          (0 until jobs).foreach(i => sc.parallelize(0 until 100 + i, 2).count())
          rec.span(s"$name.inner")(sc.parallelize(0 until 10, 2).collect())
        })
        t.start(); t
      }
      threads.foreach(_.join())
      sc.parallelize(0 until 5, 2).count() // outside any span
      org.apache.spark.PerfbenchBus.drain(sc)
      val spans = rec.spans
      def id(n: String) = spans.find(_.name == n).get.id
      assert(l.work(id("a")).jobs == 5 && l.work(id("b")).jobs == 3)
      assert(l.work(id("a.inner")).jobs == 1 && l.work(id("b.inner")).jobs == 1)
      assert(l.work(subtree(spans, id("a"))).jobs == 6)
      assert(l.work(id("a")).tasks == 10 && l.work(id("a")).stages == 5)
      assert(l.work(0L).jobs == 1)
      assert(l.total.jobs == 11)
      assert(Option(sc.getLocalProperty(SpanKey)).isEmpty)
    } finally spark.stop()
  }
}
