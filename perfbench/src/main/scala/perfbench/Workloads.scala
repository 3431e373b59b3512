package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.app.{CdcRunner, PipelineRunner}
import graft.streaming.CdcStream

/** The daily Airflow DAG: one op is one `PipelineRunner.run`. The first
  * timed op is the backfill of an empty warehouse; each later op first
  * lands one day's order and customer part files in the OLTP source. */
object DagDaily {
  private def land(src: Path, table: String, file: Path): Unit = {
    val dir = Files.createDirectories(src.resolve(s"$table.parquet"))
    Files.copy(file, dir.resolve(file.getFileName), StandardCopyOption.REPLACE_EXISTING)
  }

  private def days(in: Path): Seq[String] =
    Files.list(in).iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.matches("day_\\d+_orders\\.parquet") => n.stripSuffix("_orders.parquet") }
      .toSeq.sorted

  private def landDay(in: Path, src: Path, day: String): Unit = {
    land(src, "orders", in.resolve(s"${day}_orders.parquet"))
    land(src, "customer", in.resolve(s"${day}_customer.parquet"))
  }

  private def report(r: PipelineRunner.RunReport): Map[String, Any] = Map(
    "hwm_before" -> r.hwmBefore, "fact_hwm_before" -> r.factHwmBefore,
    "extracted" -> r.extracted, "loaded" -> r.loaded, "qc_passed" -> r.qcPassed)

  def run(c: Ctx): Unit = {
    val in = c.input.resolve("dag")
    val all = days(in)
    // warm-up on a throwaway warehouse: a backfill of one day's orders, then two days
    val warmSrc = c.work.resolve("warm_src")
    land(warmSrc, "customer", in.resolve("backfill_customer.parquet"))
    all.take(3).foreach { d =>
      landDay(in, warmSrc, d)
      PipelineRunner.run(c.spark, warmSrc.toString, c.work.resolve("warm_wh").toString)
    }

    val (src, wh) = (c.work.resolve("src"), c.work.resolve("wh"))
    land(src, "orders", in.resolve("backfill_orders.parquet"))
    land(src, "customer", in.resolve("backfill_customer.parquet"))
    c.op("backfill")(_ => report(PipelineRunner.run(c.spark, src.toString, wh.toString)) + ("day" -> "backfill"))
    val it = all.iterator
    while (c.running("day") && it.hasNext) {
      val d = it.next()
      landDay(in, src, d)
      c.op("day")(_ => report(PipelineRunner.run(c.spark, src.toString, wh.toString)) + ("day" -> d))
    }
    c.extra("warehouse") = wh.toString
  }
}

/** Times each `UpsertSink.merge` the stream makes, keyed by the op that
  * was in flight (the loop is closed, so at most one batch is). */
final class TimedSink(inner: CdcStream.UpsertSink, name: String) extends CdcStream.UpsertSink {
  override def merge(batch: DataFrame, pkCol: String): Unit = {
    val t0 = System.nanoTime()
    try inner.merge(batch, pkCol)
    finally TimedSink.calls.add(Map("op" -> CdcUpsert.inFlight, "sink" -> name,
      "ms" -> (System.nanoTime() - t0) / 1e6))
  }
}
object TimedSink {
  val calls = new ConcurrentLinkedQueue[Map[String, Any]]()
}

/** The Kafka→JDBC CDC stream: one op is one micro-batch, appended to a
  * MemoryStream only after the previous one merged (closed loop, one
  * producer), through `CdcStream.run` into embedded Derby. */
object CdcUpsert {
  val WarmBatches = 16
  val Url = "jdbc:derby:memory:perfbench;create=true"
  val Topic = "mongo.loan_applications"
  @volatile var inFlight: Int = -1

  private def jdbc[A](f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(Url)
    try f(conn) finally conn.close()
  }

  private def count(table: String): Long = jdbc { conn =>
    val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $table")
    rs.next(); rs.getLong(1)
  }

  private def dump(table: String, cols: Seq[String], out: Path): Unit = jdbc { conn =>
    val rs = conn.createStatement().executeQuery(s"SELECT ${cols.mkString(", ")} FROM $table")
    val w = Files.newBufferedWriter(out)
    try while (rs.next()) w.write(cols.indices.map(i => rs.getString(i + 1)).mkString("\t") + "\n")
    finally w.close()
  }

  def run(c: Ctx): Unit = {
    val in = c.input.resolve("cdc")
    jdbc(conn => Files.readString(in.resolve("derby.sql")).split(";").map(_.trim).filter(_.nonEmpty)
      .foreach(ddl => conn.createStatement().execute(ddl)))
    val schema = StructType.fromDDL(Files.readString(in.resolve("schema.ddl")).trim)
    val files = Files.list(in).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("batch_\\d+\\.tsv")).toSeq.sorted
    def load(f: String): Seq[(String, Int, Long)] =
      Files.readAllLines(in.resolve(f)).asScala.toSeq.map { l =>
        val Array(p, o, json) = l.split("\t", 3)
        (json, p.toInt, o.toLong)
      }

    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Int, Long)]
    val source = input.toDF().toDF("json", CdcStream.SrcPartitionCol, CdcStream.SrcOffsetCol)
    val counters = CdcStream.newCounters(spark)
    val query = CdcStream.run(source, schema, Topic,
      new TimedSink(new CdcRunner.JdbcUpsertSink(Url, "loan_events"), "sink"),
      c.work.resolve("checkpoint").toString,
      deadLetter = Some(new TimedSink(new CdcRunner.JdbcUpsertSink(Url, "loan_events_quarantine"), "quarantine")),
      counters = Some(counters)).start()
    try {
      files.take(WarmBatches).foreach { f => input.addData(load(f)); query.processAllAvailable() }
      val it = files.drop(WarmBatches).iterator
      var batchId = WarmBatches.toLong
      while (c.running("batch") && it.hasNext) {
        val f = it.next()
        val rows = load(f)
        val (merged0, quarantined0) = (counters.merged.value, counters.quarantined.value)
        val o = c.op("batch") { id =>
          inFlight = id
          input.addData(rows)
          query.processAllAvailable()
          Map("file" -> f, "batch_id" -> batchId, "events" -> rows.size)
        }
        inFlight = -1
        if (o.traced) c.tracer.foreach(_.awaitProgress(batchId))
        c.ops(o.id) = o.copy(detail = o.detail ++ Map(
          "rows_merged" -> (counters.merged.value - merged0),
          "rows_quarantined" -> (counters.quarantined.value - quarantined0)))
        if (o.id == 0) c.extra("table_rows_after_first_op") = count("loan_events")
        batchId += 1
      }
      c.extra("batches_appended") = batchId.toInt
    } finally query.stop()
    c.extra("sink_calls") = TimedSink.calls.asScala.toSeq
    dump("loan_events", Seq("kafka_primary_key", "raw_data"), c.work.resolve("cdc_table.tsv"))
    dump("loan_events_quarantine", Seq("kafka_primary_key", "raw_data", "error"),
      c.work.resolve("cdc_quarantine.tsv"))
  }
}

/** An analyst's dashboard: one op is one refresh, its tiles issued
  * together on a pool of `cores` threads (one dashboard client, closed
  * loop); the refresh ends when the last tile's rows are collected. */
object BiRefresh {
  val WarmRefreshes = 3

  private def plain(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toString
    case t: java.time.temporal.Temporal => t.toString
    case n: java.lang.Number => n
    case b: java.lang.Boolean => b
    case x => x.toString
  }

  private def tilesOf(o: Op): Seq[Map[String, Any]] =
    o.detail.getOrElse("tiles", Nil).asInstanceOf[Seq[Map[String, Any]]]

  def run(c: Ctx): Unit = {
    val in = c.input.resolve("bi")
    val dir = in.toString
    val orders = Files.readAllLines(in.resolve("tile_order.txt")).asScala.toSeq.map(_.split(",").toSeq)
    val pool = Executors.newFixedThreadPool(c.cores)
    val rowsDir = Files.createDirectories(c.work.resolve("bi_rows"))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

    def refresh(opId: Int, order: Seq[String], keepRows: Boolean): Map[String, Any] = {
      val submitted = c.now
      val futures = order.map { tile =>
        pool.submit(new Callable[Map[String, Any]] {
          def call(): Map[String, Any] = {
            val group = s"op$opId/tile:$tile"
            c.spark.sparkContext.setJobGroup(group, tile, interruptOnCancel = false)
            try {
              val t0 = c.now
              val df = SparkEntry.queries(tile)(c.spark, dir)
              val rows = df.collect()
              val t1 = c.now
              val planMs = df.queryExecution.tracker.phases.values
                .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
              val kept: Map[String, Any] = if (keepRows) Map("_rows" -> (df.columns.toSeq, rows)) else Map.empty
              kept ++ Map[String, Any]("id" -> group, "name" -> s"tile:$tile", "submit" -> submitted, "start" -> t0,
                "end" -> t1, "parent" -> s"op$opId", "op" -> opId,
                "attrs" -> Map("plan_ms" -> planMs, "rows" -> rows.length))
            } finally c.spark.sparkContext.clearJobGroup()
          }
        })
      }
      val tiles = futures.map(_.get())
      Map("tiles" -> tiles)
    }

    try {
      (0 until WarmRefreshes).foreach(i => refresh(-1 - i, orders(i % orders.size), keepRows = false))
      var r = 0
      while (c.running("refresh")) {
        val order = orders((WarmRefreshes + r) % orders.size)
        val o = c.op("refresh")(id => refresh(id, order, keepRows = r == 0))
        if (r == 0) c.ops(o.id) = o.copy(detail = Map("tiles" -> tilesOf(o).map { t =>
          t.get("_rows").foreach { case (cols: Seq[_], rows: Array[Row] @unchecked) =>
            val tile = t("name").toString.stripPrefix("tile:")
            mapper.writeValue(rowsDir.resolve(s"$tile.json").toFile, Map("columns" -> cols,
              "rows" -> rows.toSeq.map(_.toSeq.map(plain)), "oracle" -> SparkEntry.oracleSql(tile)))
          }
          t - "_rows"
        }))
        if (o.traced) c.spans ++= tilesOf(c.ops(o.id))
        r += 1
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }
}
