package graft

import org.apache.spark.sql.functions._

import graft.engine.QueryLog

class QueryLogSpec extends SparkSpec {
  import spark.implicits._

  test("query_log records finished actions with durations") {
    QueryLog.clear()
    Seq(1, 2, 3).toDF("x").filter($"x" > 1).count()
    spark.range(10).collect()
    // listener delivery is async — poll until the bus drains
    val deadline = System.currentTimeMillis() + 10000
    while (QueryLog.events().size < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val evs = QueryLog.events()
    assert(evs.nonEmpty, "no query events recorded")
    assert(evs.forall(_.status == "OK"))
    assert(evs.exists(e => Set("count", "collect").contains(e.funcName)))
    assert(evs.forall(_.durationMs >= 0))
    val df = QueryLog.asDataFrame(spark)
    assert(df.columns.toSeq ===
      Seq("eventTimeMs", "funcName", "durationMs", "status", "error"))
    assert(df.filter(col("status") === "OK").count() >= 2)
  }
}
