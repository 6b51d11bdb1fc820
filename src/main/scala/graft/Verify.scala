package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Enable the replay-oracle side channel for THIS dir only (see
    // VectorQueries.captureReplay): queries export their index decision
    // sets as DuckDB VALUES while running under Verify; Bench and specs
    // never pay the export.
    System.setProperty("graft.replay.dir", sfDir)
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver passes exactly two args — all queries)
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    // engineConfs (r22): the SAME session posture as Bench — the oracle
    // gate must validate the physical plans the bench times (SHJ
    // preference + byte-sized AQE coalescing), not stock-conf plans
    // (VERDICT r21 #3).
    val spark = graft.engine.GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
