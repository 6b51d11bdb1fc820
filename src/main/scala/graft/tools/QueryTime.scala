package graft.tools


/** Time one named SparkEntry query: `runMain graft.tools.QueryTime
  * <name> [sfDir] [reps]`. Useful when iterating on a single operator —
  * the full Bench loop costs ~90 s of unrelated queries.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: QueryTime <name> [sfDir] [reps]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.engine.GraftSession.create() // Bench's posture
    // comma-separated names run in sequence in ONE JVM — put a cheap
    // query first to absorb session/codegen warmup when timing another
    name.split(',').foreach { nm =>
      val fn = graft.SparkEntry.queries.getOrElse(nm, sys.error(s"unknown query $nm"))
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[querytime] $nm rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
