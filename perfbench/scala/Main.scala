package graft.perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** Engine-side half of the benchmark: one JVM per run.
  *
  * Reads the plan written by `perfbench/run.py` (`key=value` lines), sets
  * the engine up exactly as a user would (session, function install,
  * table attach, index builds), then runs each client's op list as a
  * closed loop until the deadline. Every op is timed around calls into the
  * program's public functions and materialises all output columns; the
  * result is fingerprinted after the timer stops. Everything is written to
  * the run's work directory for `score.py`, which checks the answers and
  * computes the metrics.
  */
object Main {

  final case class Op(id: String, kind: String, arg: String)

  /** One timed op. Times are epoch milliseconds with sub-ms precision.
    * `result` is the fingerprint (query ops), the returned ids (search
    * ops) or the error message.
    */
  final case class OpResult(client: Int, op: Op, start: Double, built: Double,
      end: Double, ok: Boolean, rows: Long, result: String,
      version: String = "", parts: Int = 0)

  /** Maps `System.nanoTime` onto the epoch-ms timeline Spark's listener
    * events use, so op spans and job/stage/task spans share one clock.
    */
  object Clock {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val plan = Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    val work = plan("work")
    val traced = plan("trace") == "1"
    val summary = mutable.LinkedHashMap[String, String]("jvm_start_ms" -> f"$jvmStartMs%.3f")
    def timed[T](key: String)(f: => T): T = {
      val t0 = Clock.nowMs
      val r = f
      summary(key) = f"${Clock.nowMs - t0}%.3f"
      r
    }

    val cores = plan("cores")
    val spark = timed("session_build_ms") {
      val b = graft.engine.GraftSession.withEngineConfs(
        SparkSession.builder()
          .withExtensions(new graft.engine.GraftExtensions)
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores)
          .config("spark.sql.session.timeZone", "UTC"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
      plan.get("graph_cache_bytes")
        .fold(b)(v => b.config("spark.graft.hnsw.graphCacheBytes", v))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")

    // Traced runs count the SQL statements install issues; the counter is
    // attached only around install so untraced runs carry no listener.
    val installCounter = if (traced) Some(new Trace.SqlCounter) else None
    installCounter.foreach(spark.sparkContext.addSparkListener)
    timed("install_ms")(graft.engine.GraftSession.install(spark))
    installCounter.foreach { c =>
      org.apache.spark.sql.graft.shim.waitListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(c)
      summary("install_statements") = c.count.get.toString
    }

    val workload: Workload = plan("kind") match {
      case "queries" => new QueryWorkload(spark, plan)
      case "search"  => new SearchWorkload(spark, plan)
      case other     => throw new IllegalArgumentException(s"unknown kind $other")
    }
    timed("table_attach_ms")(workload.attach())
    workload.build(summary)

    val clients = plan("clients").toInt
    val ops = (0 until clients).map { c =>
      Files.readAllLines(Paths.get(s"${plan("ops")}_$c.tsv")).asScala.toIndexedSeq
        .map(_.split('\t')).map(a => Op(a(0), a(1), a(2)))
    }
    val seconds = plan("seconds").toDouble
    // Untimed warm-up, so the window starts past the steepest part of JIT
    // warm-up. Recording (seconds <= 0) measures first executions instead.
    if (seconds > 0) workload.warmUp(ops)

    // Constant-work CPU sentinel (the one Bench.scala times): a record of
    // how clean the measurement window was, never an input to a metric.
    val sentinelStart = Clock.nowMs
    sentinel(spark) // compiles the job's code outside the timing
    summary("sentinel_pre_s") = f"${sentinel(spark)}%.4f"
    summary("sentinel_setup_ms") = f"${Clock.nowMs - sentinelStart}%.3f"

    val results = new java.util.concurrent.ConcurrentLinkedQueue[OpResult]()
    val trace = if (traced) Some(new Trace(spark)) else None

    // One pass over every op list when seconds <= 0 (recording expected
    // answers); otherwise closed loops until the deadline.
    summary("setup_end_ms") = f"${Clock.nowMs}%.3f"
    trace.foreach(_.start())
    val start = Clock.nowMs
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val sc = spark.sparkContext
        val it = ops(c).iterator
        while (it.hasNext && (seconds <= 0 || Clock.nowMs < start + seconds * 1000)) {
          val op = it.next()
          sc.setJobGroup(op.id, s"${op.kind} ${op.arg}", interruptOnCancel = false)
          val r = workload.run(c, op)
          val (version, parts) = workload.lastVersion(c)
          results.add(r.copy(version = version, parts = parts))
        }
        sc.clearJobGroup()
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    summary("timed_start_ms") = f"$start%.3f"
    summary("timed_end_ms") = f"${Clock.nowMs}%.3f"
    trace.foreach(_.stop())
    summary("sentinel_post_s") = f"${sentinel(spark)}%.4f"

    // Retained heap: after a full GC with the engine's caches still held.
    System.gc(); System.gc()
    summary("retained_heap_mb") =
      f"${ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0}%.3f"
    workload.finish(summary)

    val out = new PrintWriter(s"$work/ops.tsv", "UTF-8")
    try results.asScala.foreach { r =>
      out.println(Seq(r.client, r.op.id, r.op.kind, r.op.arg, f"${r.start}%.3f",
        f"${r.built}%.3f", f"${r.end}%.3f", if (r.ok) "ok" else "error", r.version, r.parts,
        r.rows, Trace.clean(r.result)).mkString("\t"))
    } finally out.close()
    trace.foreach(_.write(s"$work/events.jsonl"))
    Files.writeString(Paths.get(s"$work/summary.txt"),
      summary.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Seconds for the fixed constant-work job from Bench.scala (range →
    * xxhash64 → one-row aggregate, no I/O and no data shuffle) at 1/64 of
    * its rows, so that timing it twice costs little in a run.
    */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 20, 1L, 64)
      .selectExpr("xxhash64(id, id + 3) % 1024 AS h")
      .agg(org.apache.spark.sql.functions.sum("h"))
      .head()
    (System.nanoTime() - t0) / 1e9
  }

  /** Stable text form of one cell: nested values recurse, maps sort by
    * key, binary is hex, so the fingerprint ignores only row order.
    */
  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Row count plus an order-insensitive 64-bit hash of the rows' cells. */
  def fingerprint(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val bytes = r.toSeq.map(cell).mkString("\u0001").getBytes("UTF-8")
      val h1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5eed)
      val h2 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x0b0e)
      sum += (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    }
    f"${rows.length}:$sum%016x"
  }

  /** Runs one workload's setup and ops; `run` is called concurrently, one
    * thread per client.
    */
  trait Workload {
    def attach(): Unit
    def build(summary: mutable.Map[String, String]): Unit = ()
    /** Untimed requests before the window; `ops` holds each client's list. */
    def warmUp(ops: IndexedSeq[IndexedSeq[Op]]): Unit
    def run(client: Int, op: Op): OpResult
    /** Index versions (and HNSW part count) the client's last op saw. */
    def lastVersion(client: Int): (String, Int) = ("", 0)
    def finish(summary: mutable.Map[String, String]): Unit = ()

    /** Times `build` (DataFrame construction, including any eager jobs it
      * runs) and `collect` separately; `check` turns the rows into the
      * recorded result after the timer stops.
      */
    protected def timeOp(client: Int, op: Op)(build: => org.apache.spark.sql.DataFrame)(
        check: Array[Row] => String): OpResult = {
      val t0 = Clock.nowMs
      var t1 = t0
      try {
        val df = build
        t1 = Clock.nowMs
        val rows = df.collect()
        val t2 = Clock.nowMs
        OpResult(client, op, t0, t1, t2, ok = true, rows.length, check(rows))
      } catch {
        case e: Throwable =>
          val t2 = Clock.nowMs
          OpResult(client, op, t0, t1, t2, ok = false, 0L,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  /** `olap` and `llm_pipeline`: named `SparkEntry` queries over the data
    * directory, one client.
    */
  final class QueryWorkload(spark: SparkSession, plan: Map[String, String]) extends Workload {
    private val data = plan("data")

    def attach(): Unit =
      Files.list(Paths.get(data)).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSeq.sorted
        .foreach { t =>
          if (t == "events") graft.engine.Tables.events(spark, data).schema
          else graft.engine.Tables.t(spark, data, t).schema
        }

    /** Every distinct query twice. */
    def warmUp(ops: IndexedSeq[IndexedSeq[Op]]): Unit = {
      val qs = ops.flatten.map(_.arg).distinct
      for (_ <- 0 until 2) qs.foreach(q => run(0, Op("warm", "query", q)))
    }

    def run(client: Int, op: Op): OpResult =
      timeOp(client, op)(graft.SparkEntry.queries(op.arg)(spark, data))(fingerprint)
  }

  /** `search_hot` and `search_cold`: top-10 requests against indexes the
    * setup builds over benchmark-owned table copies, plus (hot only)
    * seeded appends. Appends of one index family are serialised against
    * that family's reads by a read-write lock, so every read sees one
    * whole index version; the version it saw is recorded for scoring.
    */
  final class SearchWorkload(spark: SparkSession, plan: Map[String, String]) extends Workload {
    import org.apache.spark.sql.functions._
    import graft.operators.{FtsIndex, HnswIndex, HybridSearch, IvfIndex, VectorSearch}

    private val work = plan("work")
    private val embDir = plan("emb_table")
    private val scanDir = plan("scan_table")
    private val docDir = plan.get("doc_table")
    private val hnswDir = s"$work/idx/hnsw"
    private val ivfDir = s"$work/idx/ivf"
    private val ftsDir = s"$work/idx/fts"
    private val k = 10
    private val ef = plan("hnsw_ef").toInt
    private val nprobe = plan("ivf_nprobe").toInt
    private val embSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

    private def readLines(p: String) =
      Files.readAllLines(Paths.get(p)).asScala.map(_.split('\t')).map(a => a(0) -> a(1)).toMap
    private val qvecs: Map[String, Seq[Float]] =
      readLines(plan("qvecs")).map { case (q, v) => q -> v.split(',').map(_.toFloat).toSeq }
    private val qtexts: Map[String, String] = plan.get("qtexts").map(readLines).getOrElse(Map.empty)

    private val families = Seq("hnsw", "ivf", "fts")
    private val locks = families.map(_ -> new ReentrantReadWriteLock(true)).toMap
    private val versions = families.map(_ -> new java.util.concurrent.atomic.AtomicInteger(0)).toMap
    private val seen = Array.fill(plan("clients").toInt)(("", 0))
    override def lastVersion(client: Int): (String, Int) = seen(client)

    private def graphParts: Int =
      Option(new java.io.File(s"$hnswDir/graph").list()).fold(0)(_.count(_.startsWith("part_id=")))

    /** Index family whose version a read depends on. `sql_topk` and `brute`
      * read table copies, which receive exactly the HNSW appends.
      */
    private def familiesOf(kind: String): Seq[String] = kind match {
      case "hnsw" | "sql_topk" | "brute" => Seq("hnsw")
      case "ivf" => Seq("ivf")
      case "fts" => Seq("fts")
      case "hybrid" => Seq("ivf", "fts")
    }

    private def emb = spark.read.schema(embSchema).parquet(embDir)
    private def scan = spark.read.schema(embSchema).parquet(scanDir)

    def attach(): Unit = {
      emb.schema
      docDir.foreach(d => spark.read.parquet(d).schema)
    }

    override def build(summary: mutable.Map[String, String]): Unit = {
      def timed(key: String)(f: => Unit): Unit = {
        val t0 = Clock.nowMs; f; summary(key) = f"${Clock.nowMs - t0}%.3f"
      }
      // the HNSW index is the one registered for the table copy, so SQL
      // `ORDER BY L2Distance(...) LIMIT 10` is routed through it
      timed("hnsw_build_ms")(summary("hnsw_rows") = HnswIndex.build(spark, emb, "vec_id",
        "embedding", "bench_hnsw", hnswDir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(plan("hnsw_parts").toInt),
        sourcePath = "file:" + embDir).nRows.toString)
      timed("ivf_build_ms")(IvfIndex.build(spark, emb, "embedding", "bench_ivf", ivfDir, "l2",
        nLists = plan("ivf_lists").toInt))
      docDir.foreach { d =>
        timed("fts_build_ms")(FtsIndex.build(spark, spark.read.parquet(d), "doc_id", "text",
          "bench_fts", ftsDir))
      }
    }

    /** Every client runs, closed-loop and concurrently as in the window,
      * the last `warm_reads` reads of its own list: requests the window
      * does not reach, in the same rotation of kinds. No appends, so the
      * window starts from the built index versions.
      */
    def warmUp(ops: IndexedSeq[IndexedSeq[Op]]): Unit = {
      val n = plan("warm_reads").toInt
      val threads = ops.indices.map { c =>
        val reads = ops(c).filterNot(_.kind.startsWith("append_")).takeRight(n)
        new Thread(() => reads.foreach(op => run(c, op.copy(id = "warm"))), s"warm-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    private def ids(rows: Array[Row], col: Int = 0): String =
      rows.map(r => r.get(col).toString).mkString(",")

    private def sql(q: Seq[Float]): String = {
      val lits = q.map(x => f"${x.toDouble}%.9e").mkString(",")
      s"SELECT vec_id, L2Distance(embedding, CAST(array($lits) AS ARRAY<FLOAT>)) AS d " +
        s"FROM parquet.`$embDir` ORDER BY d LIMIT $k"
    }

    def run(client: Int, op: Op): OpResult = {
      if (op.kind.startsWith("append_")) return append(client, op)
      val fams = familiesOf(op.kind)
      fams.foreach(f => locks(f).readLock().lock())
      try {
        seen(client) = (fams.map(f => s"$f${versions(f).get}").mkString("+"),
          if (op.kind == "hnsw") graphParts else 0)
        lazy val q = qvecs(op.arg)
        lazy val text = qtexts(op.arg)
        op.kind match {
          case "sql_topk" => timeOp(client, op)(spark.sql(sql(q)))(ids(_))
          case "hnsw" => timeOp(client, op)(HnswIndex.search(spark, hnswDir, q, k, ef = ef))(ids(_))
          case "ivf" => timeOp(client, op)(IvfIndex.search(spark, ivfDir, q, k, nprobe = nprobe,
            tieBreak = Seq(col("vec_id"))))(rows =>
            ids(rows, rows.headOption.fold(0)(_.fieldIndex("vec_id"))))
          case "brute" => timeOp(client, op)(VectorSearch.topK(scan, col("embedding"), q, k, "l2",
            None, "d", Seq(col("vec_id"))))(ids(_))
          case "fts" => timeOp(client, op)(FtsIndex.search(spark, ftsDir, text, k, "OR",
            "bm25_score", Seq(col("doc_id"))))(ids(_))
          case "hybrid" => timeOp(client, op)(HybridSearch.hybridSearchFullyIndexed(spark, "id",
            "vec_id", q, text, k, ivfDir, ftsDir, "rsf", denseNprobe = nprobe,
            metric = "l2"))(ids(_))
        }
      } finally fams.reverse.foreach(f => locks(f).readLock().unlock())
    }

    /** `append_<family> <batch>`: one seeded batch into one index family.
      * HNSW appends also land in both table copies, the one the SQL route
      * reads and the one brute force scans.
      */
    private def append(client: Int, op: Op): OpResult = {
      val fam = op.kind.stripPrefix("append_")
      val file = s"$work/batches/${fam}_${op.arg}.parquet"
      locks(fam).writeLock().lock()
      try {
        val r = timeOp(client, op) {
          val batch = spark.read.parquet(file)
          fam match {
            case "hnsw" =>
              HnswIndex.append(spark, hnswDir, "bench_hnsw", batch, "vec_id", "embedding",
                "l2", m = 12, efConstruction = 80)
              Seq(embDir, scanDir).foreach(d =>
                Files.copy(Paths.get(file), Paths.get(s"$d/batch_${op.arg}.parquet")))
            case "ivf" => IvfIndex.append(spark, batch, "bench_ivf", ivfDir)
            case "fts" => FtsIndex.append(spark, batch, "doc_id", "text", ftsDir)
          }
          spark.emptyDataFrame
        }(_ => "")
        if (r.ok) versions(fam).incrementAndGet()
        seen(client) = (s"$fam${versions(fam).get}", 0)
        r
      } finally locks(fam).writeLock().unlock()
    }

    override def finish(summary: mutable.Map[String, String]): Unit = {
      summary("graph_cache_resident") = HnswIndex.cachedGraphCount.toString
    }
  }
}
