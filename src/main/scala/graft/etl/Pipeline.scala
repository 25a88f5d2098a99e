package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** End-to-end pipeline entry — the counterpart of the reference's
  * `main.py:61-93` orchestration: Extract (CSV) → Transform (clean sales +
  * customers) → four derived tables → sink, with the reference's two
  * operational behaviors:
  *
  *  - sink-readiness retry probe before loading (`wait_for_db`,
  *    `main.py:42-58`): bounded attempts with a fixed delay, final failure
  *    propagates;
  *  - fail-fast process exit: any stage error logs and exits non-zero
  *    (`main.py:91-93`) — an orchestrator (Airflow/cron) sees the failure.
  *
  * The loaded tables mirror `main.py:79-87`: clean_sales, clean_customers,
  * sales_summary, product_ranking; avg_check_by_region is computed and
  * logged but not loaded, exactly like the reference (`main.py:76`). A
  * `jdbc:` outDir routes to the warehouse sink ([[Load]]); any other path
  * writes parquet, the lake-native equivalent used where no DB ships.
  *
  * Scale: everything stays one lazy plan per output; the cleaned sales
  * frame is cached once and feeds all four consumers (the reference's one
  * eager materialization, SURVEY §3).
  */
object Pipeline {

  /** Connection-class failures — what a readiness probe should wait out:
    * transient/recoverable JDBC errors, SQLSTATE class 08 (connection
    * exception — how most drivers report "refused"/"unreachable"), and
    * I/O errors. Bad credentials or SQL syntax are NOT here: they never
    * heal, so retrying them only burns the backoff budget (the reference's
    * `wait_for_db` likewise catches only psycopg2's connection-class
    * OperationalError, `main.py:42-58`).
    */
  def connectionFailure(e: Throwable): Boolean = e match {
    case _: java.sql.SQLTransientException => true
    case _: java.sql.SQLRecoverableException => true
    case _: java.sql.SQLNonTransientConnectionException => true
    case se: java.sql.SQLException =>
      Option(se.getSQLState).exists(_.startsWith("08"))
    case _: java.io.IOException => true
    case _ => false
  }

  /** Bounded retry with fixed delay — `wait_for_db` generalized to any
    * sink probe. Retries only failures matching `transient` (default
    * [[connectionFailure]]); anything else — a permanent failure — is
    * rethrown immediately. Throws the last transient failure once
    * attempts are exhausted.
    */
  def retry[A](maxRetries: Int = 10, delayMs: Long = 2000,
      transient: Throwable => Boolean = connectionFailure)(probe: () => A): A = {
    var attempt = 1
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(probe())
      catch {
        case e: Exception if transient(e) && attempt < maxRetries =>
          System.err.println(
            s"[pipeline] sink not ready (attempt $attempt/$maxRetries): ${e.getMessage}")
          Thread.sleep(delayMs)
          attempt += 1
      }
    }
    out.get
  }

  /** customers.csv with the registration date kept RAW (string): the
    * lenient coerce-to-null parse belongs to the Transform stage
    * (`errors="coerce"`, reference `etl/transform.py:63-69`), so Extract
    * must not pre-parse it.
    */
  private def readCustomersRaw(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Extract.customersSchema.map {
      case StructField("registration_date", _, n, m) =>
        StructField("registration_date", StringType, n, m)
      case f => f
    })
    Extract.readCsv(spark, path, schema, Extract.customersRequired, "customers")
      .withColumnRenamed("registration_date", "registration_raw")
  }

  /** The E→T portion plus the four derived frames. The sales dedup
    * tiebreak (pandas `keep="first"` = file order) is pinned with
    * `monotonically_increasing_id()` — monotone in file offset for a
    * splittable CSV scan, so "first occurrence in the file wins" survives
    * a parallel read.
    */
  def derive(spark: SparkSession, dataDir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sales = Extract.readSalesCsv(spark, s"$dataDir/sales.csv")
      .withColumn("src", lit(0))
      .withColumn("line_id", monotonically_increasing_id())
    val customers = readCustomersRaw(spark, s"$dataDir/customers.csv")
    val cleanSales = TransformSales.clean(sales).cache()
    val cleanCustomers = TransformCustomers.clean(customers)
    (cleanSales, cleanCustomers,
      Aggregates.salesSummary(cleanSales),
      Aggregates.productRanking(cleanSales),
      Aggregates.avgCheckByRegion(cleanSales, cleanCustomers))
  }

  /** Run the full pipeline; returns per-output row counts (K7 logging).
    *
    * Every count rides a job that runs anyway, through `observe()`:
    *  - the cleaning steps' null/dup metrics (the reference's per-step
    *    logging, `etl/transform.py:21-48`) ride the avg-check collect;
    *  - each loaded table's row count rides its own write
    *    (`<table>_rows`), so no `count()` runs after the writes.
    * A table the JDBC empty guard skips (K6) reports 0 and is not
    * waited for.
    *
    * The whole run executes inside a [[graft.CacheScope]], and the
    * cleaned-sales cache is released through its Dataset when the run
    * returns, so its cache-manager entry goes too: a re-run over new
    * files landed under the same `dataDir` reads them, not the last
    * run's cleaned rows, and a repeatedly-invoked pipeline leaves no net
    * persisted blocks behind (PipelineSpec pins both).
    */
  def run(spark: SparkSession, dataDir: String, outDir: String): Map[String, Long] =
    graft.CacheScope.scoped(spark) { runInScope(spark, dataDir, outDir) }

  private def runInScope(spark: SparkSession, dataDir: String,
      outDir: String): Map[String, Long] = {
    val (cleanSales, cleanCustomers, summary, ranking, avgCheck) =
      derive(spark, dataDir)
    try {
      val outputs = Map(
        "clean_sales" -> Load.castForSink(cleanSales, Load.salesSinkTypes),
        "clean_customers" -> cleanCustomers,
        "sales_summary" -> summary,
        "product_ranking" -> ranking)
      // K6: the JDBC branch skips empty tables. The probe reads the
      // un-observed frame: on the observed one it would publish a partial
      // row count that can reach the listener ahead of the write's.
      val (written, write): (Map[String, DataFrame], (String, DataFrame) => Unit) =
        if (outDir.startsWith("jdbc:")) {
          retry()(() => java.sql.DriverManager.getConnection(outDir).close())
          val props = new java.util.Properties()
          (outputs.filterNot(_._2.isEmpty),
            (table, df) => Load.append(df, outDir, table, props))
        } else {
          retry()(() => new java.io.File(outDir).getCanonicalFile)
          (outputs, (table, df) => df.write.mode("overwrite").parquet(s"$outDir/$table"))
        }
      def rowsMetric(table: String) = s"${table}_rows"

      // Only the row counts are waited for. The cleaning metrics ride the
      // avg-check collect (the reference logs that table instead of
      // loading it); listener events arrive in order, so they are in by
      // the time the last write's count is. They are not waited for
      // themselves: over an empty cleaned-sales cache the engine prunes
      // the cache scan, and its metrics with it.
      val (_, metrics) = Observed.capture(spark, written.keySet.map(rowsMetric)) {
        avgCheck.collect().foreach(r => System.err.println(s"[pipeline] avg_check: $r"))
        written.foreach { case (table, df) =>
          write(table, df.observe(rowsMetric(table), count(lit(1)).as("rows")))
        }
      }
      metrics.foreach { case (name, m) =>
        System.err.println(s"[pipeline] $name: $m")
      }
      def writtenRows(table: String): Long = metrics.get(rowsMetric(table)) match {
        case Some(m) => m("rows").asInstanceOf[Long]
        case None => throw new IllegalStateException(
          s"$table: written, but its row count was not observed")
      }
      outputs.map { case (table, _) =>
        table -> (if (written.contains(table)) writtenRows(table) else 0L)
      }
    } finally cleanSales.unpersist(blocking = false)
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.etl.Pipeline <dataDir> [outDir]")
      sys.exit(2)
    }
    val dataDir = args(0)
    val outDir = args.lift(1).getOrElse("/tmp/graft_pipeline_out")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val counts = run(spark, dataDir, outDir)
      System.err.println(s"[pipeline] loaded: $counts")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"[pipeline] FAILED: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
  }
}
