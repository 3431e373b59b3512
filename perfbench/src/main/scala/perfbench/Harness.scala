package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation: a DAG run, a CDC micro-batch or a dashboard refresh.
  * Times are epoch milliseconds with sub-millisecond digits; `cpuMs` is the
  * CPU time the JVM's Java threads spent while the op ran. */
final case class Op(id: Int, kind: String, startMs: Double, endMs: Double, cpuMs: Double,
                    traced: Boolean, ok: Boolean, error: String, detail: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "start_ms" -> startMs,
    "end_ms" -> endMs, "cpu_ms" -> cpuMs, "traced" -> traced, "ok" -> ok, "error" -> error,
    "detail" -> detail)
}

/** What a workload sees: the session, its inputs, its scratch space, the
  * measuring window and (in a traced run) the tracer. */
final class Ctx(val spark: SparkSession, val input: Path, val work: Path, val seconds: Double,
                val cores: Int, val tracer: Option[Tracer]) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU nanoseconds of each live Java thread: the session's task, driver,
    * streaming and JDBC threads, not the JIT compiler's or the collector's,
    * whose work depends on how far the JVM has warmed up. The kernel does
    * not count time the host steals from a thread as its CPU time. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 > 0).toMap
  /** CPU milliseconds the threads spent since `before`; a thread that ended
    * in between is not counted. */
  private def cpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6

  val ops = mutable.ArrayBuffer.empty[Op]
  /** Spans a workload records itself (dashboard tiles). */
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var firstOpMs = Double.NaN

  def firstOp: Double = firstOpMs
  /** True while another op of `kind` is expected to end inside the
    * measuring window, which opens at the first op of that kind: a run
    * never overshoots its window by most of an op. */
  def running(kind: String): Boolean = {
    val same = ops.filter(_.kind == kind)
    same.isEmpty || now + (same.last.endMs - same.last.startMs) < same.head.startMs + seconds * 1000
  }

  /** Runs one timed op. A traced run traces every other op, so it also
    * measures ops with tracing off and reports its own overhead. */
  def op(kind: String)(body: Int => Map[String, Any]): Op = {
    val id = ops.size
    val traced = tracer.isDefined && id % 2 == 0
    tracer.foreach(_.setEnabled(traced))
    spark.sparkContext.setJobGroup(s"op$id", kind, interruptOnCancel = false)
    if (firstOpMs.isNaN) firstOpMs = now
    val (t0, c0) = (now, threadCpu())
    val (ok, err, detail) =
      try (true, "", body(id))
      catch { case e: Throwable => (false, e.toString.take(2000), Map.empty[String, Any]) }
    val (t1, cpu) = (now, cpuSince(c0))
    spark.sparkContext.clearJobGroup()
    val o = Op(id, kind, t0, t1, cpu, traced, ok, err, detail)
    ops += o
    o
  }
}

object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    val sessionMs = System.currentTimeMillis()
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, Paths.get(opt("input")), Paths.get(opt("work")),
      opt("seconds").toDouble, cores, tracer)
    try {
      opt("workload") match {
        case "dag_daily" => DagDaily.run(ctx)
        case "cdc_upsert" => CdcUpsert.run(ctx)
        case "bi_refresh" => BiRefresh.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer.foreach(_.setEnabled(false))
      val doc = Map(
        "session_ready_ms" -> sessionMs,
        "first_op_ms" -> ctx.firstOp,
        "end_ms" -> ctx.now,
        "peak_rss_kb" -> peakRssKb(),
        "ops" -> ctx.ops.map(_.toMap),
        "extra" -> ctx.extra,
        "spans" -> tracer.map(t => ctx.spans ++ engineSpans(ctx, t)).getOrElse(Nil),
        "progress" -> tracer.map(_.progress.asScala.toSeq).getOrElse(Nil),
        "spark_version" -> spark.version,
        "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sorted.toMap,
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala)
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(Paths.get(opt("out")).toFile, doc)
    } finally spark.stop()
  }

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** Spans for every SQL execution and every job outside one, each
    * attributed to its op. Ops run one at a time, so an execution belongs
    * to the op whose window holds its start; within a dashboard refresh
    * the tiles run together and their job group names the tile. */
  private def engineSpans(c: Ctx, t: Tracer): Seq[Map[String, Any]] = {
    val traced = c.ops.filter(_.traced)
    def opAt(ms: Long): Option[Op] =
      traced.find(o => ms >= math.floor(o.startMs) && ms <= math.ceil(o.endMs))
    def opOf(group: String): Option[Op] =
      "^op(\\d+)".r.findFirstMatchIn(group).map(_.group(1).toInt).flatMap(i => traced.find(_.id == i))
    val tileSpans = c.spans.map(_("id")).toSet
    def parentOf(o: Op, group: String): String =
      if (tileSpans(group) && opOf(group).contains(o)) group else s"op${o.id}"
    val jobs = t.jobs.values.asScala.toSeq.sortBy(_.id)
    val byExec = jobs.groupBy(_.execId)
    def sum(js: Seq[t.Job]): Map[String, Any] = {
      val a = new t.Agg
      js.foreach { j =>
        val b = j.agg
        a.tasks += b.tasks; a.cpuNs += b.cpuNs; a.gcMs += b.gcMs
        a.shuffleRead += b.shuffleRead; a.shuffleWrite += b.shuffleWrite; a.spill += b.spill
        a.inputBytes += b.inputBytes; a.outputBytes += b.outputBytes; a.recordsRead += b.recordsRead
        a.firstTaskMs = math.min(a.firstTaskMs, b.firstTaskMs)
      }
      a.toMap + ("jobs" -> js.size)
    }
    val opSpans = traced.map(o => Map[String, Any]("id" -> s"op${o.id}", "name" -> o.kind,
      "start" -> o.startMs, "end" -> o.endMs, "parent" -> null, "op" -> o.id))
    val execSpans = t.execs.values.asScala.toSeq.sortBy(_.id).flatMap { x =>
      val js = byExec.getOrElse(x.id, Nil)
      val group = js.headOption.map(_.group).getOrElse("")
      opAt(x.start).map { o =>
        val p = x.plan
        Map[String, Any]("id" -> s"x${x.id}", "name" -> "execution", "start" -> x.start.toDouble,
          "end" -> x.end.toDouble, "parent" -> parentOf(o, group), "op" -> o.id,
          "attrs" -> (sum(js) ++ Map("func" -> p.func, "cols" -> p.cols, "path" -> p.path,
            "plan_ms" -> p.planMs, "files_written" -> p.files)))
      }
    }
    val jobSpans = jobs.filter(_.execId < 0).flatMap { j =>
      opOf(j.group).orElse(opAt(j.submitMs)).map { o =>
        Map[String, Any]("id" -> s"j${j.id}", "name" -> "job", "start" -> j.submitMs.toDouble,
          "end" -> j.endMs.toDouble, "parent" -> parentOf(o, j.group), "op" -> o.id,
          "attrs" -> sum(Seq(j)))
      }
    }
    (opSpans ++ execSpans ++ jobSpans).toSeq
  }
}
