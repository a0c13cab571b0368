package graft

import org.apache.spark.sql.functions.{col, udf}

/** Bench's timing step fails loudly: a query that throws — while its
  * plan is built or while its action runs — is recorded with its first
  * message line and is never timed, so it cannot shorten the total.
  * `Bench.main` prints each recorded failure as `bench_failed`, counts
  * them in the JSON line's `failed` field and exits nonzero.
  */
class BenchSpec extends SparkSpec {

  test("a query that throws while building its plan is recorded, not timed") {
    val timer = new Bench.Timer(spark, sfDir)
    var calls = 0
    val boom: Bench.Query = { (_, _) =>
      calls += 1
      throw new IllegalStateException("boom\nsecond line")
    }
    assert(timer.time("q_boom", boom, 2).isEmpty)
    assert(timer.failed.toMap ==
      Map("q_boom" -> "java.lang.IllegalStateException: boom"))
    assert(calls == 1, "the pass after a throwing one must not run")
    // a recorded failure is never re-run, in any later pass
    assert(timer.time("q_boom", boom, 3).isEmpty)
    assert(calls == 1)
  }

  test("a query that throws inside its action is recorded, not timed") {
    val timer = new Bench.Timer(spark, sfDir)
    val late = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("late boom")
      id
    }
    val q: Bench.Query = (s, _) => s.range(4).toDF().filter(late(col("id")) > 0)
    assert(timer.time("q_late", q, 2).isEmpty)
    assert(timer.failed.keySet == Set("q_late"))
    assert(timer.failed("q_late").nonEmpty)
  }

  test("a query that succeeds is timed and leaves no failure") {
    val timer = new Bench.Timer(spark, sfDir)
    val t = timer.time("q_ok", (s, _) => s.range(10).toDF(), 2)
    assert(t.exists(_ >= 0.0))
    assert(timer.failed.isEmpty)
  }
}
