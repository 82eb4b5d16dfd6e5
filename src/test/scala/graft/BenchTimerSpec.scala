package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** Pins [[Bench.time]], the one query timer of Bench, QueryProbe and
  * ScalingProbe: a query with a run that throws gets no time and is
  * reported failed, without stopping the queries after it.
  */
class BenchTimerSpec extends SparkSpec {

  test("timer: a query that throws on its second run gets no time; the next is still timed") {
    var calls = 0
    val flaky: (SparkSession, String) => DataFrame = { (s, _) =>
      calls += 1
      if (calls == 2) throw new IllegalStateException("second run")
      s.range(10).toDF()
    }
    val steady: (SparkSession, String) => DataFrame = (s, _) => s.range(5).toDF()
    val (timed, failed) = Bench.time(
      spark, Seq("flaky" -> flaky, "steady" -> steady), "unused", 3, Bench.Count)
    assert(failed == Seq("flaky"))
    assert(calls == 2, "the failed query must not run again after its throw")
    assert(timed.map(_.name) == Seq("steady"))
    val t = timed.head
    assert(t.wall.size == 3 && t.plan.size == 3)
    assert(t.wall.zip(t.plan).forall { case (w, p) => p > 0 && p <= w },
           s"planning must be a positive part of each run: $t")
  }

  test("timer: a noop-action run returns one time per run and computes every row") {
    val rows = spark.sparkContext.longAccumulator("timer_noop_rows")
    val touch = udf((x: Long) => { rows.add(1); x })
    val build: (SparkSession, String) => DataFrame =
      (s, _) => s.range(0, 100, 1, 2).select(touch(col("id")).as("id"))
    val (timed, failed) =
      Bench.time(spark, Seq("touched" -> build), "unused", 4, Bench.NoopWrite)
    assert(failed.isEmpty)
    assert(timed.map(_.name) == Seq("touched"))
    assert(timed.head.wall.size == 4 && timed.head.plan.size == 4)
    assert(rows.value == 400L, "every run must compute every row once")
  }
}
