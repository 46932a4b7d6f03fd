package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, SparkTestBase}

class IterateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def estimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("cut caps the size estimate: 30 inner self-join rounds stay at " +
      "or below Long.MaxValue") {
    // every inner join multiplies its inputs' estimates; uncapped, the
    // estimate squares per round and its BigInt outgrows the driver
    def step(cur: DataFrame): DataFrame =
      cur.join(cur.select(col("id"), col("k").as("k2")), "id")
        .select(col("id"), col("k2").as("k"))
    val out = Iterate.rounds((1L to 8L).map(i => (i, i % 3)).toDF("id", "k"),
      30)(step)
    assert(estimate(out) == BigInt(Long.MaxValue))
    assert(estimate(step(out)) > BigInt(Long.MaxValue), "the cap is active")
    assert(out.count() == 8L)
  }

  test("below the cap a cut leaves the estimate exactly as the uncut " +
      "frame's, observed or not") {
    val df = (1L to 100L).map(i => (i, i * 2)).toDF("a", "b")
      .filter(col("a") > 10)
    assert(estimate(Iterate.cut(df)) == estimate(df))
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(estimate(empty) == 0)
    val (observed, converged) =
      Iterate.fixedPoint(empty, 1, count(lit(1)))(identity)
    assert(converged && estimate(observed) == 0)
  }

  test("fixedPoint stops when the observed signal repeats, reports a " +
      "round cap, and decides convergence without jobs of its own") {
    val init = Seq(0L).toDF("x")
    // 0 → 1 → 2 → 2: round 3 repeats the signal
    val saturate = (cur: DataFrame) => cur.select(least(col("x") + 1, lit(2L)).as("x"))
    val ((sat, ok), jobs) = JobCount(spark)(
      Iterate.fixedPoint(init, 10, sum("x"))(saturate))
    assert(ok && sat.as[Long].collect().toSeq == Seq(2L))
    // the input's cut and three rounds' cuts: one job each
    val (_, cutJobs) = JobCount(spark)(
      Iterate.rounds(init, 3)(saturate))
    assert(jobs == cutJobs, s"fixedPoint $jobs jobs, four plain cuts $cutJobs")
    val (grown, capped) = Iterate.fixedPoint(init, 3, sum("x"))(
      _.select((col("x") + 1).as("x")))
    assert(!capped && grown.as[Long].collect().toSeq == Seq(3L))
    // a custom `done` sees both rounds: stop once x reaches 1
    val (one, hit) = Iterate.fixedPoint(init, 10, max("x"))(
      _.select((col("x") + 1).as("x")), (_, next) => next.signal == Seq(1L))
    assert(hit && one.as[Long].collect().toSeq == Seq(1L))
  }
}
