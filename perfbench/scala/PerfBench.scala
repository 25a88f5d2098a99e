package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, Oracle, SparkEntry}
import graft.etl.Pipeline
import graft.streaming.Streams

/** The benchmark's JVM side: one workload, one process, one client.
  *
  * Set-up, one cold pass over the workload's operations, then warm passes
  * until the time budget is spent (at least [[MinWarmPasses]]), each pass in
  * a seed-shuffled order. Set-up is repeated [[ReSetups]] times at the end. Each
  * operation is one public call into the program, timed from outside:
  * `Pipeline.run` for the nightly job, `SparkEntry.queries(id)` followed by
  * `queryExecution.toRdd.count()` for registry operations. Outputs are
  * written out (untimed) for the checker in `run.py`; with `--trace 1` the
  * listeners in [[Tracer]] attribute engine work to each call.
  *
  * Usage (normally through `perfbench/run.py`):
  * {{{
  * perfbench.PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --cores C --data DIR --etl DIR --work DIR --ops id,id,...
  * }}}
  * Writes `<work>/result.json`.
  */
object PerfBench {

  val MinWarmPasses = 3
  val ReSetups = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, data: String, etl: String, work: String,
      ops: Seq[String], etlBatches: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cores").toInt, m("data"),
      m.getOrElse("etl", ""), m("work"),
      m.getOrElse("ops", "").split(',').filter(_.nonEmpty).toSeq,
      m.getOrElse("etl-batches", "0").toInt)
  }

  def session(cores: Int, work: String): SparkSession = {
    val t0 = System.nanoTime()
    def lap(what: String): Unit =
      System.err.println(f"[perfbench] set-up: $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    lap("session")
    GraftExtensions.install(s)
    lap("extensions")
    // warm-up: start the executor threads and the codegen path once
    s.range(0, 100000, 1, cores).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    lap("warm-up")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def streamTmpBytes(tmp: Path): Long = {
    val st = Files.list(tmp)
    try st.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_stream_"))
      .map(dirBytes).sum
    finally st.close()
  }

  def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator.asScala.foreach(f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }

  /** One timed call's record. */
  final case class OpRun(pass: Int, op: String, seconds: Double, ok: Boolean,
      rows: Long, error: String, extra: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val processStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(s"[perfbench] main entered ${System.currentTimeMillis() - processStart} ms after process start")
    val a = parse(argv)
    val work = Paths.get(a.work).toAbsolutePath
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(work)

    var spark = session(a.cores, work.toString)
    val setupCold = (System.currentTimeMillis() - processStart) / 1000.0
    val setups = mutable.ArrayBuffer.empty[Double]
    setups += setupCold
    val sc = spark.sparkContext

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install(Streams.streamingSession(spark)))
    val spans = mutable.ArrayBuffer.empty[Span]
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    val registry = SparkEntry.queries
    val isEtl = a.workload == "etl_nightly"
    val ops = if (isEtl) Seq("pipeline_run") else a.ops
    ops.filterNot(o => isEtl || registry.contains(o)).foreach(o =>
      sys.error(s"unknown operation: $o"))
    val outDir = work.resolve("out")

    /** Time one call; in traced runs, wrap it in a span. */
    def timed(pass: Int, op: String)(
        body: => (Long, Map[String, Any], () => (Set[Int], Long)))
        : OpRun = {
      val span = new Span(pass, op)
      val before = sc.getPersistentRDDs.keySet
      val tmpBefore = if (a.trace) streamTmpBytes(tmp) else 0L
      tracer.foreach(_.open(span))
      span.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try { val (n, x, reads) = body; Right((n, x, reads)) }
        catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      span.endMs = System.currentTimeMillis()
      span.wallS = sec
      tracer.foreach { t =>
        t.close()
        val now = sc.getPersistentRDDs
        val created = now.filter { case (id, _) => !before(id) }
        val sizes = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
        val (ckpt, cached) = created.values.partition(_.isCheckpointed)
        span.checkpoints = ckpt.size
        span.checkpointBytes = ckpt.map(r => sizes.getOrElse(r.id, 0L)).sum
        span.cacheBuilds = cached.size + ckpt.size
        res.foreach { case (_, _, reads) =>
          val (ids, rows) = reads()
          span.cacheHits = (span.reads ++ ids).count(before)
          span.cachedRows = math.max(span.cachedRows, rows)
        }
        span.tmpBytes = streamTmpBytes(tmp) - tmpBefore
        spans += span
      }
      val r = res match {
        case Right((n, x, _)) => OpRun(pass, op, sec, ok = true, n, "", x)
        case Left(e) =>
          OpRun(pass, op, sec, ok = false, -1L, s"${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(400), Map.empty)
      }
      runs += r
      r
    }

    // etl_nightly: each pass lands a batch under a new dir, then runs the job
    val etlRoot = work.resolve("etl")
    def land(batch: Int, dir: Path): Unit = {
      deleteDir(dir)
      copyDir(Paths.get(a.etl).resolve(s"batch$batch"), dir)
    }
    def pipelinePass(pass: Int): OpRun = {
      val batch = pass % a.etlBatches
      val landing = etlRoot.resolve(s"landing/p$pass")
      val sink = etlRoot.resolve(s"sink/p$pass")
      land(batch, landing)
      timed(pass, "pipeline_run") {
        val counts = Pipeline.run(spark, landing.toString, sink.toString)
        (counts.values.sum, Map("batch" -> batch, "sink" -> sink.toString,
          "counts" -> counts), () => (Set.empty[Int], 0L))
      }
    }

    def registryOp(pass: Int, op: String, check: Boolean): OpRun = {
      var df: DataFrame = null
      val r = timed(pass, op) {
        df = registry(op)(spark, a.data)
        val n = df.queryExecution.toRdd.count()
        (n, Map.empty, () => Tracer.planReads(df))
      }
      if (check && r.ok) {
        try df.write.mode("overwrite").parquet(outDir.resolve(op).toString)
        catch {
          case e: Throwable =>
            runs(runs.size - 1) = r.copy(ok = false, error = s"output write: $e".take(400))
        }
      }
      r
    }

    def onePass(pass: Int): Unit = {
      val order = new scala.util.Random(a.seed * 7919L + pass).shuffle(ops)
      val t0 = System.nanoTime()
      val rs = order.map { op =>
        if (isEtl) pipelinePass(pass) else registryOp(pass, op, check = pass == 0)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      passes += Map("pass" -> pass, "seconds" -> wall, "order" -> order,
        "ops_seconds" -> rs.map(_.seconds).sum, "loadavg_1m" -> loadAvg())
    }

    // cold pass, then warm passes for the time budget (at least three)
    onePass(0)
    val warmStart = System.nanoTime()
    var pass = 1
    while (pass <= MinWarmPasses || (System.nanoTime() - warmStart) / 1e9 < a.seconds) {
      onePass(pass)
      pass += 1
    }

    // what the session still holds after the last pass; the GCs are spaced
    // so that the engine's cleaner threads can drop what the first one freed
    val heapBytes = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    val storage = sc.getRDDStorageInfo
    val held = Map(
      "heap_after_gc_bytes" -> heapBytes,
      "persisted_mem_bytes" -> storage.map(_.memSize).sum,
      "persisted_disk_bytes" -> storage.map(_.diskSize).sum,
      "persisted_rdds" -> sc.getPersistentRDDs.size,
      "stream_tmp_bytes" -> streamTmpBytes(tmp))

    // same-session stale reload: a new batch re-landed under the dir the
    // last pass used, then the job again (traced runs only; outside timing)
    val probe = if (isEtl && a.trace) {
      val last = pass - 1
      val dir = etlRoot.resolve(s"landing/p$last")
      deleteDir(dir)
      copyDir(Paths.get(a.etl).resolve("probe"), dir)
      val sink = etlRoot.resolve("sink/reuse")
      val t0 = System.nanoTime()
      val counts = try Pipeline.run(spark, dir.toString, sink.toString).toString
        catch { case e: Throwable => s"error: $e" }
      Map("dir" -> dir.toString, "sink" -> sink.toString, "counts" -> counts,
        "seconds" -> (System.nanoTime() - t0) / 1e9)
    } else Map.empty

    // repeated set-ups: stop the session and build it again
    stop(spark)
    (1 to ReSetups).foreach { _ =>
      val t0 = System.nanoTime()
      spark = session(a.cores, work.toString)
      setups += (System.nanoTime() - t0) / 1e9
      stop(spark)
    }

    val oracle = if (isEtl) Map(
      "clean_sales" -> Oracle.cleanSales,
      "clean_customers" -> Oracle.cleanCustomers,
      "q1_sales_summary" -> body(SparkEntry.oracleSql("q1_sales_summary")),
      "q2_product_ranking" -> body(SparkEntry.oracleSql("q2_product_ranking")))
    else ops.flatMap(o => SparkEntry.oracleSql.get(o).map(o -> _)).toMap

    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "master" -> s"local[${a.cores}]", "trace" -> a.trace,
      "setup_seconds" -> setups.toSeq, "setup_cold_seconds" -> setupCold,
      "runs" -> runs.toSeq.map(r => Map("pass" -> r.pass, "op" -> r.op,
        "seconds" -> r.seconds, "ok" -> r.ok, "rows" -> r.rows, "error" -> r.error) ++ r.extra),
      "passes" -> passes.toSeq, "held" -> held, "stale_reload" -> probe,
      "oracle" -> oracle, "out_dir" -> outDir.toString,
      "spans" -> spans.toSeq.map(spanJson))
    Files.write(work.resolve("result.json"), Json(result).getBytes("UTF-8"))
  }

  /** The query body of a registry oracle, without the shared prelude. */
  def body(sql: String): String = {
    val prelude = Seq(Oracle.corpusTables, Oracle.salesBase, Oracle.sales,
      Oracle.customers, Oracle.dirtySales, Oracle.dirtyCustomers,
      Oracle.cleanSales, Oracle.cleanCustomers).mkString("WITH ", ",\n", "\n")
    require(sql.startsWith(prelude), "oracle does not start with the shared prelude")
    sql.stripPrefix(prelude)
  }

  def spanJson(s: Span): Map[String, Any] = Map(
    "pass" -> s.pass, "op" -> s.op, "wall_s" -> s.wallS, "jobs" -> s.jobs,
    "stages" -> s.stages, "exchanges" -> s.exchanges, "tasks" -> s.tasks,
    "task_cpu_s" -> s.cpuNs / 1e9, "task_run_s" -> s.runMs / 1e3,
    "idle_s" -> s.idleS, "shuffle_write_bytes" -> s.shuffleWrite,
    "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spillBytes,
    "scan_records" -> s.scanRecords, "scan_bytes" -> s.scanBytes,
    "scan_run_s" -> s.scanRunMs / 1e3, "scan_shuffle_write_bytes" -> s.scanShuffleWrite,
    "scan_jobs" -> s.scanJobs.size,
    "actions" -> s.actions.toSeq.map { case (n, sec) => Map("name" -> n, "seconds" -> sec) },
    "count_jobs" -> s.jobsOf("count"), "staging_s" -> s.stagingS,
    "stream_batches" -> s.streamBatches, "stream_input_rows" -> s.streamInputRows,
    "stream_trigger_s" -> s.streamTriggerMs / 1e3, "stream_commit_s" -> s.streamCommitMs / 1e3,
    "state_rows" -> s.stateRows, "cache_builds" -> s.cacheBuilds,
    "cache_hits" -> s.cacheHits, "cached_rows" -> s.cachedRows,
    "checkpoints" -> s.checkpoints,
    "checkpoint_bytes" -> s.checkpointBytes, "stream_tmp_bytes" -> s.tmpBytes)
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
