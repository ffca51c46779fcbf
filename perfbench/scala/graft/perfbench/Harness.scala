package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{Audit, Engine, FrameMemo, SparkEntry}
import graft.operators._
import graft.plans.PlanAudit

/** Closed-loop workload runner behind `perfbench/run.py`.
  *
  * One JVM and one client: each key starts when the previous key's
  * final action returns. A pass runs every key of the workload once,
  * in an order drawn from the seed, after `FrameMemo.clearAllMemos()`
  * so that every pass does the same work (memos kept across passes
  * turn later passes into cache hits). Before the timed passes, one
  * untimed pass writes each key's result for the correctness check,
  * and one untimed pass over the timed path warms up the plans and
  * code the timed passes run.
  *
  * With `--trace 1` the timed passes interleave untraced and traced. A
  * traced pass labels its jobs `<workload>/<pass>/<key>/<phase>` with
  * `setJobDescription` (AQE stage jobs inherit the caller's local
  * properties, call sites do not identify the phase) and sums task
  * metrics per label through a listener registered for that pass
  * only. The traced run ends with one untraced pass at `local[1]`.
  *
  * graft is measured from outside, through `SparkEntry.queries`, the
  * frame's `queryExecution`, `PlanAudit` and `Audit.metricsOf`. The
  * raw samples go to `--out` as one JSON object; run.py reduces them.
  */
object Harness {

  /** Task-metric sums kept per job label, in this order. */
  val Fields: Seq[String] = Seq("tasks", "task_failures", "stages",
    "cpu_ns", "input_bytes", "shuffle_write_bytes", "shuffle_write_records",
    "shuffle_write_ns", "shuffle_read_bytes", "spill_bytes")

  /** Consumers of another key's memo: d07 -> d08 -> d14, s05 -> s06. */
  val MemoConsumers: Set[String] = Set("d08", "d14", "s06")

  final case class Span(name: String, id: String, parent: String,
      startNs: Long, endNs: Long, site: String = "")

  /** Listener that attributes jobs, stages and tasks to the job
    * description set by the harness; events without one are ignored.
    */
  final class Tracer(prefix: String) extends SparkListener {
    private val stageLabel = mutable.HashMap[Int, String]()
    private val jobStart = mutable.HashMap[Int, (String, String, Long)]()
    val jobs = mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    val counts = mutable.HashMap[String, Array[Long]]()

    private def label(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
        .filter(_.startsWith(prefix))

    private def add(l: String, field: String, v: Long): Unit =
      counts.getOrElseUpdate(l, new Array[Long](Fields.size))(
        Fields.indexOf(field)) += v

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      label(e.properties).foreach { l =>
        val site =
          if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        jobStart(e.jobId) = (l, site, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (l, site, t0) =>
        jobs += ((e.jobId, l, site, t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        label(e.properties).foreach(stageLabel(e.stageInfo.stageId) = _)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageLabel.get(e.stageInfo.stageId).foreach(add(_, "stages", 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageLabel.get(e.stageId).foreach { l =>
        add(l, "tasks", 1)
        if (e.reason != Success) add(l, "task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(l, "cpu_ns", m.executorCpuTime)
          add(l, "input_bytes", m.inputMetrics.bytesRead)
          add(l, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add(l, "shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
          add(l, "shuffle_write_ns", m.shuffleWriteMetrics.writeTime)
          add(l, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add(l, "spill_bytes", m.diskBytesSpilled)
        }
      }
    }
  }

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def now(): Long = System.nanoTime() - t0Ns
  private def secs(ns: Long): Double = ns / 1e9

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.tuneSql(spark)
    spark
  }

  private def memoIds(): Seq[Set[Int]] = Seq(Dedup.memoRetainedIds,
    Similarity.memoRetainedIds, Graph.memoRetainedIds,
    Itemsets.memoRetainedIds, TextAnalysis.memoRetainedIds,
    Recommend.memoRetainedIds, Events.memoRetainedIds)

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def error(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  final class Run(spark0: SparkSession, workload: String, keys: Seq[String],
      dir: String, seed: Long) {
    var spark: SparkSession = spark0
    val spans = mutable.ArrayBuffer[Span]()
    val counters = mutable.LinkedHashMap[String, Map[String, Long]]()

    private def short(key: String): String = key.takeWhile(_ != '_')

    /** Operator call, planning and final action of one key. */
    private def runKey(pass: String, key: String,
        tracer: Option[Tracer]): mutable.LinkedHashMap[String, Any] = {
      val sc = spark.sparkContext
      val id = s"$workload/$pass/${short(key)}"
      val row = mutable.LinkedHashMap[String, Any]("key" -> short(key))
      def phase[T](name: String)(body: => T): T = {
        if (tracer.isDefined) sc.setJobDescription(s"$id/$name")
        val a = now()
        try body
        finally {
          val b = now()
          row(s"${name}_s") = secs(b - a)
          if (tracer.isDefined) spans += Span(name, s"$id/$name", id, a, b)
        }
      }
      val memoBefore = memoIds()
      val start = now()
      try {
        val df = phase("construct")(SparkEntry.queries(key)(spark, dir))
        phase("plan") {
          val qe = df.queryExecution
          qe.optimizedPlan
          qe.executedPlan
        }
        val plan = phase("action")(PlanAudit.executedPlan(df))
        row("s") = secs(now() - start)
        if (tracer.isDefined) {
          val r = PlanAudit.report(plan)
          val m = Audit.metricsOf(plan)
          row("exchanges") = r.shuffleExchanges
          row("broadcasts") = r.broadcastExchanges
          row("partial_in") = m.partialAggInputRows
          row("partial_out") = m.partialAggOutputRows
          row("storage_mb") = storageMb(spark)
        }
      } catch {
        case e: Throwable => row("error") = error(e)
      } finally {
        val end = now()
        row("start_ns") = start
        row("end_ns") = end
        sc.setJobDescription(null)
        if (tracer.isDefined) spans += Span("query", id, s"$workload/$pass", start, end)
      }
      if (MemoConsumers.contains(short(key)))
        row("memo_hit") = memoIds() == memoBefore
      row
    }

    /** A seed-drawn cycle of the keys; pass n starts with key n mod k. */
    private val firsts = new scala.util.Random(seed).shuffle(keys)

    /** The key order the seed gives pass `passNo` of `tag`: its first
      * key comes from `firsts`, so over every k passes each key goes
      * first once, and the other keys follow in a drawn order. In a
      * memo chain the first key builds the memo the others read; with
      * wholly drawn orders the seed's mix of first keys, not the
      * engine, moved `query_p50_s` on iterative (spread 0.26 over ten
      * seeds).
      */
    def order(tag: String, passNo: Int): Seq[String] = {
      val first = firsts(passNo % keys.size)
      first +: new scala.util.Random(seed * 1000003L + s"$tag$passNo".hashCode)
        .shuffle(keys.filterNot(_ == first))
    }

    /** One pass over every key, in the order the seed gives it. */
    def pass(passNo: Int, traced: Boolean,
        tag: String = ""): mutable.LinkedHashMap[String, Any] = {
      val passId = s"$tag$passNo"
      FrameMemo.clearAllMemos()
      FrameMemo.releaseTransientBlocks(spark)
      val sc = spark.sparkContext
      val tracer = if (traced) Some(new Tracer(s"$workload/$passId/")) else None
      tracer.foreach(sc.addSparkListener)
      val gc0 = gcMs()
      val rows = order(tag, passNo).map { k =>
        val r = runKey(passId, k, tracer)
        FrameMemo.releaseTransientBlocks(spark)
        r
      }
      val gc = gcMs() - gc0
      val first = rows.head("start_ns").asInstanceOf[Long]
      val last = rows.last("end_ns").asInstanceOf[Long]
      tracer.foreach { t =>
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(t)
        t.synchronized {
          spans += Span("pass", s"$workload/$passId", "", first, last)
          t.jobs.foreach { case (jid, l, site, a, b) =>
            spans += Span("job", s"job$jid", l, (a - t0Ms) * 1000000L,
              (b - t0Ms) * 1000000L, site)
          }
          t.counts.foreach { case (l, v) =>
            counters(l) = Fields.zip(v).toMap
          }
        }
      }
      mutable.LinkedHashMap[String, Any]("pass" -> passNo, "traced" -> traced,
        "wall_s" -> secs(last - first), "gc_s" -> gc / 1e3,
        "keys" -> rows)
    }

    /** Untimed pass that writes each key's result under `outDir`, in
      * the order of timed pass 0: each seed checks its own producer and
      * consumer order of the memo chains.
      */
    def check(outDir: String): (Double, Seq[mutable.LinkedHashMap[String, Any]]) = {
      FrameMemo.clearAllMemos()
      val a = now()
      val rows = order("", 0).map { k =>
        val row = mutable.LinkedHashMap[String, Any]("key" -> k)
        val t = now()
        // No coalesce: the write keeps the timed plan's shape, so the
        // stages it code-generates are the ones the timed passes reuse.
        try SparkEntry.queries(k)(spark, dir).write
          .mode("overwrite").parquet(s"$outDir/$k")
        catch { case e: Throwable => row("error") = error(e) }
        row("s") = secs(now() - t)
        FrameMemo.releaseTransientBlocks(spark)
        row
      }
      (secs(now() - a), rows)
    }
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case s: Span => json(mutable.LinkedHashMap("name" -> s.name, "id" -> s.id,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "site" -> s.site))
    case other => quote(other.toString)
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8)
      .asScala.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val scratch = opt("scratch")
    val out = mutable.LinkedHashMap[String, Any]()
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val b0 = now()
    var spark = session(cores, scratch)
    out("session_s") = secs(now() - b0)
    out("spark") = spark.version
    out("jdk") = System.getProperty("java.version")
    out("cores") = cores
    val workload = opt("workload")
    val keys = opt("keys").split(",").toSeq
    keys.filterNot(SparkEntry.queries.contains).foreach(k =>
      sys.error(s"unknown key $k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val run = new Run(spark, workload, keys, opt("input"), seed)

    val w0 = now()
    val (checkS, checkRows) = run.check(opt("check-dir"))
    out("check_s") = checkS
    out("check") = checkRows
    // The check pass writes parquet, so the first pass that drives
    // toRdd.count() still generates and compiles new code; as the first
    // timed pass it ran 10-30% slower than the passes after it.
    out("warmup_pass") = run.pass(0, traced = false, tag = "w")
    out("warm_s") = secs(now() - w0)
    // Process start to the first timed call: JVM start, session build,
    // the check pass and the warm-up pass.
    out("setup_s") = (System.currentTimeMillis() - processStartMs) / 1e3

    val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val a = now()
    def count(t: Boolean) = passes.count(_("traced") == t)
    // A traced run interleaves untraced and traced passes in the order
    // U T T U, so that JIT warm-up over the run does not bias the
    // overhead (traced minus untraced pass time) either way.
    while (secs(now() - a) < seconds ||
        (traced && (count(true) < 2 || count(false) < 2))) {
      val n = passes.size
      passes += run.pass(n, traced && (n % 4 == 1 || n % 4 == 2))
    }
    out("passes") = passes

    if (traced) {
      spark.stop()
      spark = session(1, scratch)
      run.spark = spark
      out("one_core_pass") = run.pass(0, traced = false, tag = "c")
    }
    if (opt.contains("spans"))
      Files.write(Paths.get(opt("spans")),
        run.spans.map(json).mkString("", "\n", "\n").getBytes(UTF_8))
    out("counters") = run.counters
    out("peak_rss_mb") = vmHwmMb()
    spark.stop()
    Files.write(Paths.get(opt("out")), json(out).getBytes(UTF_8))
  }

}
