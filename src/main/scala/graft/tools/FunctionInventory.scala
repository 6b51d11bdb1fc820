package graft.tools


/** Print every function name live in a GraftSession catalog, one per
  * line: `runMain graft.tools.FunctionInventory [outFile]`. Used for
  * the §2.9 registry-closure diff against the reference's extracted
  * `static constexpr auto name` + `registerAlias` inventory
  * (ref `src/Functions/registerFunctions.cpp:9-15`).
  */
object FunctionInventory {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.create()
    val names = spark.catalog.listFunctions().collect().map(_.name).sorted
    args.headOption match {
      case Some(path) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          names.mkString("\n").getBytes("UTF-8"))
        println(s"[inventory] ${names.length} functions -> $path")
      case None => names.foreach(println)
    }
    spark.stop()
  }
}
