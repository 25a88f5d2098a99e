package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.Pipeline

/** One-command pipeline over a small dirty CSV batch written by the test
  * itself ([[PipelineSpec.land]]): the four loaded outputs exist with the
  * shapes the batch implies, their row counts ride the writes, a re-landed
  * batch is read afresh, edge inputs fail fast or load empty tables, and
  * the orchestration behaviors (bounded retry, exhausted-retry failure)
  * hold.
  */
class PipelineSpec extends SparkSpec {
  import PipelineSpec._

  /** The names of the SQL actions `body` runs, in order. Listener delivery
    * is async, so a marker action (`tail`) is run after `body` and waited
    * for: every earlier action has been delivered once it arrives.
    */
  def actionsOf[T](body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen.add(s"failed $funcName")
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      spark.range(1).tail(1)
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains("tail") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      (result, seen.asScala.toSeq.takeWhile(_ != "tail"))
    } finally spark.listenerManager.unregister(listener)
  }

  def sinkCount(out: String, table: String): Long =
    spark.read.parquet(s"$out/$table").count()

  test("pipeline runs a dirty CSV batch end-to-end into four outputs") {
    val data = Files.createTempDirectory("graft_pipeline_data_")
    val batch = land(data, base = 1000, n = 120, customers = 40)
    val out = Files.createTempDirectory("graft_pipeline_").toString
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (counts, actions) = actionsOf(Pipeline.run(spark, data.toString, out))
    // the CacheScope contract: a completed run leaves no net persisted
    // blocks (the cleanSales cache and any operator checkpoints are
    // dropped with the scope)
    assert(spark.sparkContext.getPersistentRDDs.keySet == blocksBefore,
      "pipeline run leaked persisted blocks past its CacheScope")
    assert(counts.keySet == Set("clean_sales", "clean_customers",
      "sales_summary", "product_ranking"))
    assert(counts("clean_sales") > 0 && counts("clean_sales") <= 200,
      s"clean sales should keep <= the 200 raw rows: $counts")
    assert(counts("clean_customers") > 0 && counts("clean_customers") <= 50)
    assert(counts("product_ranking") == 5, s"top-5 ranking: $counts")
    assert(counts("sales_summary") > 0)
    assert(counts == batch.counts, "counts vs what the batch implies")
    // the sink really has the four parquet tables with the sink-cast schema,
    // and every count the run returned is its table's row count
    counts.foreach { case (table, n) =>
      assert(sinkCount(out, table) == n, s"$table: sink rows vs reported count")
    }
    val sales = spark.read.parquet(s"$out/clean_sales")
    assert(sales.count() == counts("clean_sales"))
    assert(sales.schema("unit_price").dataType.typeName.startsWith("decimal"))
    // keep-first: the later duplicates, named "dup name", did not load
    assert(sales.select("product_name").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(products.map(_._2).toSet))
    val ranking = spark.read.parquet(s"$out/product_ranking")
    assert(ranking.columns.toSet == Set("product_id", "product_name",
      "total_sold", "total_revenue", "rank_position"))
    assert(ranking.collect().map(_.getAs[Long]("rank_position")).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 5L))
    // the counts ride the writes: the run's SQL actions are the two
    // empty-file probes, the avg-check collect and the four writes
    assert(!actions.contains("count"), s"a count ran: $actions")
    assert(actions.sorted == (Seq("isEmpty", "isEmpty", "collect") ++
      Seq.fill(4)("command")).sorted, s"actions: $actions")
  }

  test("a batch re-landed under the same dir is read afresh in the same session") {
    val data = Files.createTempDirectory("graft_pipeline_data_")
    val first = land(data, base = 1000, n = 120, customers = 40)
    val out1 = Files.createTempDirectory("graft_pipeline_").toString
    assert(Pipeline.run(spark, data.toString, out1) == first.counts)
    val second = land(data, base = 90000, n = 60, customers = 25)
    val out2 = Files.createTempDirectory("graft_pipeline_").toString
    val counts = Pipeline.run(spark, data.toString, out2)
    assert(counts == second.counts, s"second run reported the first batch: $counts")
    counts.foreach { case (table, n) =>
      assert(sinkCount(out2, table) == n, s"$table: sink rows vs reported count")
    }
    val ids = spark.read.parquet(s"$out2/clean_sales").select("order_id")
      .collect().map(_.getInt(0).toLong).toSet
    assert(ids == second.orderIds, "the sink holds rows the second batch lacks")
  }

  test("CacheScope: composed checkpointing operators leave no net blocks; caller blocks survive") {
    // the r9 lifecycle gap: c3 (shingle-index checkpoints) then c17
    // (survivorship) composed in ONE session used to accumulate every
    // intermediate block — the scope must drop exactly those
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CacheScope.scoped(spark) {
      SparkEntry.queries("c3_fuzzy_corpus")(spark, sf).count()
      SparkEntry.queries("c17_dedup_survivor")(spark, sf).count()
      assert(spark.sparkContext.getPersistentRDDs.keySet.size > before.size,
        "fixture queries no longer persist anything — pick other ops")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "composed queries leaked blocks past the scope")
    // blocks persisted BEFORE the scope are the caller's — they survive
    val kept = spark.sparkContext.parallelize(1 to 10).persist()
    kept.count()
    CacheScope.scoped(spark) {
      SparkEntry.queries("c3_fuzzy_corpus")(spark, sf).count()
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(kept.id),
      "the scope swept a pre-existing caller block")
    kept.unpersist(blocking = true)
  }

  def derbyRows(url: String, table: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  test("pipeline jdbc branch loads four tables into an embedded DB") {
    val data = Files.createTempDirectory("graft_pipeline_data_")
    val batch = land(data, base = 1000, n = 120, customers = 40)
    val url = s"jdbc:derby:memory:pipedb${System.nanoTime()};create=true"
    val counts = Pipeline.run(spark, data.toString, url)
    counts.foreach { case (table, n) =>
      assert(derbyRows(url, table) == n, s"$table: db rows vs reported count")
    }
    assert(counts("product_ranking") == 5)
    assert(counts == batch.counts, "counts vs what the batch implies")
  }

  test("a zero-byte sales.csv fails fast and loads nothing") {
    val data = Files.createTempDirectory("graft_pipeline_data_")
    land(data, base = 1000, n = 120, customers = 40)
    Files.write(data.resolve("sales.csv"), Array.emptyByteArray)
    val out = Files.createTempDirectory("graft_pipeline_")
    val e = intercept[IllegalStateException](
      Pipeline.run(spark, data.toString, out.toString))
    assert(e.getMessage.contains("empty file"))
    assert(out.toFile.list().isEmpty, "a table was written for a failed run")
  }

  test("a batch with no order dates loads empty sales tables and reports 0 on both sinks") {
    val data = Files.createTempDirectory("graft_pipeline_data_")
    val batch = land(data, base = 1000, n = 120, customers = 40, dated = false)
    val empty = Set("clean_sales", "sales_summary", "product_ranking")
    assert(empty.forall(batch.counts(_) == 0) && batch.counts("clean_customers") == 40)
    // a 0-row table must still report its count without waiting out the
    // 10 s row-count capture
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val out = Files.createTempDirectory("graft_pipeline_").toString
    val (counts, secs) = timed(Pipeline.run(spark, data.toString, out))
    assert(counts == batch.counts, s"parquet: $counts")
    assert(secs < 10, f"parquet run took $secs%.1f s: a row count was waited out")
    counts.foreach { case (table, n) =>
      assert(sinkCount(out, table) == n, s"$table: sink rows vs reported count")
    }

    val url = s"jdbc:derby:memory:pipedb${System.nanoTime()};create=true"
    val (jdbcCounts, jdbcSecs) = timed(Pipeline.run(spark, data.toString, url))
    assert(jdbcCounts == batch.counts, s"jdbc: $jdbcCounts")
    assert(jdbcSecs < 10, f"jdbc run took $jdbcSecs%.1f s: a row count was waited out")
    assert(derbyRows(url, "clean_customers") == 40)
    // the empty guard skipped the other three: no table was created
    empty.foreach { table =>
      intercept[java.sql.SQLException](derbyRows(url, table))
    }
  }

  test("retry probe retries to success and fails fast when exhausted") {
    var calls = 0
    val got = Pipeline.retry(maxRetries = 5, delayMs = 1) { () =>
      calls += 1
      if (calls < 3)
        throw new java.sql.SQLTransientConnectionException("not ready")
      else 42
    }
    assert(got == 42 && calls == 3)

    var failCalls = 0
    val e = intercept[java.sql.SQLException] {
      Pipeline.retry(maxRetries = 3, delayMs = 1) { () =>
        failCalls += 1
        throw new java.sql.SQLNonTransientConnectionException("db down")
      }
    }
    assert(failCalls == 3 && e.getMessage == "db down")
  }

  test("retry rethrows permanent failures immediately (no backoff burn)") {
    // bad credentials / SQL syntax are not connection failures: the probe
    // must fail on the FIRST attempt, not after maxRetries * delayMs
    var calls = 0
    val e = intercept[RuntimeException] {
      Pipeline.retry(maxRetries = 10, delayMs = 10000) { () =>
        calls += 1
        sys.error("syntax error at or near")
      }
    }
    assert(calls == 1, s"permanent failure retried $calls times")
    assert(e.getMessage.contains("syntax error"))
    // SQLSTATE class 08 (connection exception) IS retryable even via the
    // generic SQLException type most drivers throw
    assert(Pipeline.connectionFailure(
      new java.sql.SQLException("conn refused", "08001")))
    assert(!Pipeline.connectionFailure(
      new java.sql.SQLException("bad password", "28P01")))
  }
}

object PipelineSpec {

  /** (product_id, product_name, category, unit_price) of the batch's six
    * products: the top-5 ranking always has five rows to rank.
    */
  val products: Seq[(String, String, String, String)] = Seq(
    ("P1", "red ring", "Electronics", "19.99"),
    ("P2", "blue bolt", "Home", "4.50"),
    ("P3", "old gear", "Garden", "120.00"),
    ("P4", "new plate", "Books", "7.25"),
    ("P5", "small rod", "Toys", "0.99"),
    ("P6", "hot widget", "Electronics", "55.10"))

  /** What cleaning must keep of a batch [[land]] wrote. */
  final case class Batch(orderIds: Set[Long], counts: Map[String, Long])

  /** Writes a deterministic dirty landing batch (`sales.csv`,
    * `customers.csv`) into `dir`, replacing what is there. Sales: `n`
    * valid lines, two per order, order ids from `base`; a dedup-key
    * duplicate of every tenth line, later in the file, whose customer,
    * name, date and category differ (so keep-first decides what loads);
    * one line each with a null customer_id, a null date and two
    * unparseable dates; a missing category on every seventh line. With
    * `dated = false` every order date is null, so no sale survives
    * cleaning. Customers: `customers` ids, with bad emails, missing
    * regions and unparseable registration dates among them, plus one row
    * without an id.
    */
  def land(dir: Path, base: Long, n: Int, customers: Int,
      dated: Boolean = true): Batch = {
    def line(cells: Any*): String = cells.mkString(",")
    val valid = (0 until n).map { i =>
      val (pid, name, category, price) = products(i % products.size)
      val date = if (dated) f"2024-${1 + i % 6}%02d-${1 + i % 28}%02d" else ""
      (base + i / 2, s"C${1 + i % customers}", pid, name, 1 + i % 4, price,
        date, if (i % 7 == 3) "" else category)
    }
    val dups = valid.indices.by(10).map { i =>
      valid(i).copy(_2 = "C1", _4 = "dup name", _7 = "2023-12-31", _8 = "Returns")
    }
    val bad = Seq(
      (base + n, "", "P1", "red ring", 1, "19.99", "2024-01-05", "Electronics"),
      (base + n + 1, "C1", "P2", "blue bolt", 2, "4.50", "", "Home"),
      (base + n + 2, "C2", "P3", "old gear", 1, "120.00", "not-a-date", "Garden"),
      (base + n + 3, "C3", "P4", "new plate", 3, "7.25", "N/A", "Books"))
    val sales = "order_id,customer_id,product_id,product_name,quantity,unit_price,order_date,category" +:
      (valid ++ dups ++ bad).map(r => line(r.productIterator.toSeq: _*))
    val custRows = (1 to customers).map { c =>
      val email = if (c % 9 == 0) s"user$c.example.com" else if (c % 11 == 0) "" else s"user$c@example.com"
      val reg = if (c % 13 == 0) "not-a-date" else f"2023-${1 + c % 12}%02d-15"
      line(s"C$c", s"Customer $c", email, reg, if (c % 6 == 0) "" else s"REGION_${c % 5}")
    } :+ line("", "Nobody", "nobody@example.com", "2023-01-01", "EUROPE")
    val customersCsv = "customer_id,customer_name,email,registration_date,region" +: custRows
    Files.write(dir.resolve("sales.csv"), sales.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(dir.resolve("customers.csv"), customersCsv.mkString("", "\n", "\n").getBytes(UTF_8))

    val kept = if (dated) valid else Seq.empty
    val summary = kept.map(r => (if (r._8.isEmpty) "Unknown" else r._8, r._7.take(7))).distinct
    Batch(kept.map(_._1).toSet, Map(
      "clean_sales" -> kept.size.toLong,
      "clean_customers" -> customers.toLong,
      "sales_summary" -> summary.size.toLong,
      "product_ranking" -> kept.map(_._3).distinct.size.min(5).toLong))
  }
}
