package perfbench

import java.lang.management.ManagementFactory
import java.util.{LinkedHashMap => JMap, ArrayList => JList}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Measuring side of the benchmark: one JVM per run.
  *
  * Drives the program only through its public entry points
  * (`SparkEntry.queries`, `Io.table`, `Io.views`, `Q.releaseSession`) and
  * Spark's public listener APIs. The rows, their order and the
  * corpus come from `run.py`; this class times them and writes one JSON
  * record of raw measurements, which `run.py` checks and reduces to
  * metrics.
  *
  * Usage: PerfBench <corpusDir> <rowsFile> <outDir> <seconds> <trace 0|1>
  *                  <release none|pass> <seed>
  *  - rowsFile: the run's rows in warm-pass order, one a line. Untraced
  *    runs reorder them for every timed pass (seeded), so no one row
  *    always pays for building a shared artifact; traced runs keep one
  *    order, so their untraced and traced passes compare like for like;
  *  - release=pass calls `Q.releaseSession` before every pass (the
  *    pipeline workload: each pass builds its artifacts once).
  */
object PerfBench {
  private val mapper = new ObjectMapper()
  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any](); kv.foreach { case (k, v) => m.put(k, v) }; m
  }
  private def list(xs: Iterable[Any]): JList[Any] = new JList[Any](xs.asJavaCollection)
  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  def main(args: Array[String]): Unit = {
    val Array(dir, rowsFile, outDir, secondsS, traceS, releaseS, seedS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val release = releaseS == "pass"
    val rows = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(rowsFile))
      .asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = rows.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] rows not in SparkEntry.queries: ${unknown.mkString(" ")}")
      sys.exit(3)
    }
    val oracles = graft.SparkEntry.oracleSql

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    // seconds since JVM start, at nanosecond resolution after the anchor
    val anchorS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val anchorNs = now()
    def sinceStart(): Double = anchorS + secs(now() - anchorNs)

    val errors = new JMap[String, Any]()
    def runRow(name: String): (Double, Double) = {
      val t0 = now()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t1 = now()
      df.write.format("noop").mode("overwrite").save()
      (secs(t1 - t0), secs(now() - t1))
    }
    def census(): JMap[String, Any] = {
      val ids = sc.getPersistentRDDs.keys.toSeq.sorted
      val info = sc.getRDDStorageInfo
      obj("persistent_rdds" -> ids.size, "rdd_ids" -> list(ids),
        "storage_mb" -> info.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    }
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    def codegen(): (Long, Long) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

    // ---- set-up: session plus one untimed warm pass over the rows
    val cg0 = codegen()
    val warm = new JList[Any]()
    rows.foreach { n =>
      val r0 = now()
      try runRow(n) catch { case e: Throwable => errors.put(n, s"warm: ${e}") }
      warm.add(obj("row" -> n, "s" -> secs(now() - r0)))
    }
    val setupS = sinceStart()
    val cg1 = codegen()

    // ---- timed passes, closed loop, one client; census after each pass
    val tracer = new Tracer(spark)
    val passes = new JList[Any]()
    val t0 = now()
    var p = 0
    // At least three passes: passes still speed up for a few passes after
    // the warm pass, and a fixed count lets every run average over the same
    // stretch of that JIT warm-up. With tracing, passes alternate
    // untraced / traced, at least five passes, so per-layer figures come
    // from two traced passes and the overhead compares them with the two
    // untraced passes after the first.
    val minPasses = if (trace) 5 else 3
    if (trace) tracer.install()
    while (p < minPasses || secs(now() - t0) < seconds) {
      val tracedPass = trace && p % 2 == 1
      val releaseSec: java.lang.Double = if (!release) null else {
        val r0 = now()
        tracer.span(tracedPass, "release", None)(graft.ops.Q.releaseSession(spark))
        secs(now() - r0)
      }
      val before = sc.getPersistentRDDs.keySet
      val gc0 = gcMs(); val cgp0 = codegen(); val cpu0 = osBean.getProcessCpuTime
      val passId = tracer.open(tracedPass, s"pass$p", None)
      val recs = new JList[Any]()
      val order = if (trace) rows else new scala.util.Random(seedS.toLong * 7919L + p).shuffle(rows)
      val w0 = now()
      order.foreach { n =>
        val r = obj("row" -> n)
        try {
          if (tracedPass) tracer.row(passId, n, dir, r)
          else { val (c, a) = runRow(n); r.put("construct_s", c); r.put("action_s", a) }
        } catch { case e: Throwable =>
          errors.put(n, s"pass $p: ${e}"); r.put("error", e.toString)
        }
        recs.add(r)
      }
      val wall = secs(now() - w0)
      val cpu = secs(osBean.getProcessCpuTime - cpu0)
      tracer.close(passId)
      val cgp1 = codegen()
      val c = census()
      c.put("created", (sc.getPersistentRDDs.keySet -- before).size)
      passes.add(obj("traced" -> tracedPass, "wall_s" -> wall, "cpu_s" -> cpu, "rows" -> recs,
        "release_s" -> releaseSec, "gc_s" -> (gcMs() - gc0) / 1e3,
        "codegen_compiles" -> (cgp1._1 - cgp0._1),
        "codegen_compile_s" -> (cgp1._2 - cgp0._2) / 1e9, "census" -> c))
      p += 1
    }
    val timedS = secs(now() - t0)

    // ---- memory the timed workload leaves behind
    System.gc(); System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- direct layer calls (traced runs only)
    val layers = new JMap[String, Any]()
    if (trace) {
      val tables = graft.io.Io.allTables.map { t =>
        val (s, jobs) = tracer.timedCall(s"io.table.$t")(graft.io.Io.table(spark, dir, t))
        obj("table" -> t, "ms" -> s * 1e3, "jobs" -> jobs)
      }
      layers.put("io_tables", list(tables))
      val (vs, vjobs) = tracer.timedCall("io.views")(graft.io.Io.views(spark, dir))
      layers.put("io_views_ms", vs * 1e3); layers.put("io_views_jobs", vjobs)
      layers.put("census_before_release", census())
      val (rs, _) = tracer.timedCall("release")(graft.ops.Q.releaseSession(spark))
      layers.put("release_s", rs)
      layers.put("census_after_release", census())
    }

    // ---- correctness: write each row's result for the DuckDB oracle
    val check0 = now()
    rows.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/results/$n")
      catch { case e: Throwable => errors.put(n, s"check: ${e}") }
    }
    mapper.writeValue(new java.io.File(s"$outDir/results/oracle_sql.json"),
      new JMap[String, Any](rows.flatMap(n => oracles.get(n).map(n -> _)).toMap.asJava))

    val checkSec = secs(now() - check0)
    val rt = ManagementFactory.getRuntimeMXBean
    val out = obj(
      "host" -> obj("nproc" -> cores, "mem_gb" -> osBean.getTotalMemorySize / 1073741824.0,
        "jdk" -> sys.props("java.vm.version"), "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> list(rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")))),
      "rows" -> list(rows), "session_s" -> anchorS, "setup_s" -> setupS, "warm" -> warm,
      "setup_codegen_compiles" -> (cg1._1 - cg0._1),
      "setup_codegen_compile_s" -> (cg1._2 - cg0._2) / 1e9,
      "timed_s" -> timedS, "check_s" -> checkSec, "passes" -> passes, "retained_mb" -> retainedMb,
      "layers" -> layers, "errors" -> errors,
      "spans" -> tracer.spansJson())
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(s"$outDir/measure.json"), out)
    spark.stop()
  }
}

/** Spans and counters for the traced passes, recorded from outside the
  * program: job groups name the span a job belongs to, a SparkListener
  * sums task metrics per span, and a QueryExecutionListener hands back
  * the timed action's QueryExecution (planning phases, executed plan).
  * Everything stays in memory until the run writes its record. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private case class Span(id: Int, parent: Option[Int], name: String, start: Long,
      var end: Long = -1L, attrs: JMap[String, Any] = new JMap[String, Any]())
  private val spans = new java.util.ArrayList[Span]()
  private val counters = new ConcurrentHashMap[String, Array[AtomicLong]]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobCount = new ConcurrentHashMap[String, AtomicLong]()
  private val writes = new LinkedBlockingQueue[QueryExecution]()
  @volatile private var armed = false // only a traced row's write is kept
  // task counters, in this order
  private val names = Seq("tasks", "task_ms", "cpu_ns", "gc_ms", "shuffle_write_b",
    "fetch_wait_ms", "input_b", "spill_b")

  private object Listener extends SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("pb:")) {
        jobCount.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()
        j.stageIds.foreach(s => stageSpan.putIfAbsent(s, g))
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val g = stageSpan.get(t.stageId)
      val m = t.taskMetrics
      if (g != null && m != null) {
        val c = counters.computeIfAbsent(g, _ => Array.fill(names.size)(new AtomicLong))
        val v = Seq(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
          m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
        v.indices.foreach(i => c(i).addAndGet(v(i)))
      }
    }
  }
  private object WriteListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (armed && qe.logical.simpleString(25).contains("noop-table")) writes.put(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(WriteListener)
  }

  def open(on: Boolean, name: String, parent: Option[Int]): Int =
    if (!on) -1 else spans.synchronized {
      val s = Span(spans.size, parent, name, System.nanoTime() - t0)
      spans.add(s); s.id
    }
  def close(id: Int): Unit = if (id >= 0) spans.get(id).end = System.nanoTime() - t0
  /** Runs `f` inside a span whose id is the job group of every job `f`
    * launches; returns the result and the span id (-1 when off). */
  def span[T](on: Boolean, name: String, parent: Option[Int])(f: => T): (T, Int) = {
    val id = open(on, name, parent)
    if (id >= 0) sc.setJobGroup(s"pb:$id", name)
    try (f, id) finally { close(id); if (id >= 0) sc.clearJobGroup() }
  }

  /** Time one direct layer call; returns seconds and the jobs it launched. */
  def timedCall[T](name: String)(f: => T): (Double, Long) = {
    val s0 = System.nanoTime()
    val (_, id) = span(true, name, None)(f)
    val s = (System.nanoTime() - s0) / 1e9
    settle()
    (s, jobs(id))
  }
  private def jobs(id: Int): Long =
    Option(jobCount.get(s"pb:$id")).map(_.get).getOrElse(0L)

  /** One traced row: construct and execute spans, with the action's
    * planning phases as children of execute. */
  def row(passId: Int, name: String, dir: String, rec: JMap[String, Any]): Unit = {
    val rowId = open(true, name, Some(passId))
    spans.get(rowId).attrs.put("row", name)
    val persisted0 = sc.getPersistentRDDs.keySet
    val c0 = System.nanoTime()
    val (df, constructId) =
      span(true, "construct", Some(rowId))(graft.SparkEntry.queries(name)(spark, dir))
    val c1 = System.nanoTime()
    writes.clear()
    armed = true
    val (_, execId) =
      span(true, "execute", Some(rowId))(df.write.format("noop").mode("overwrite").save())
    val a1 = System.nanoTime()
    close(rowId)
    rec.put("construct_s", (c1 - c0) / 1e9); rec.put("action_s", (a1 - c1) / 1e9)
    rec.put("construct_span", constructId); rec.put("execute_span", execId)
    rec.put("created", (sc.getPersistentRDDs.keySet -- persisted0).size)
    // Catalyst analyzes a Dataset when it is built, so the row's analysis
    // happened in construct; the write only re-checks the analyzed plan
    rec.put("construct_analysis_s",
      df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0))
    val qe = writes.poll(10, TimeUnit.SECONDS)
    armed = false
    if (qe != null) {
      qe.tracker.phases.foreach { case (ph, s) =>
        val id = open(true, ph, Some(execId))
        spans.get(id).attrs.put("ms", s.durationMs)
        rec.put(s"${ph}_s", s.durationMs / 1e3)
        val sp = spans.get(id)
        spans.set(id, sp.copy(start = (s.startTimeMs - epochMs0) * 1000000L,
          end = (s.endTimeMs - epochMs0) * 1000000L))
      }
      val plan = qe.executedPlan
      def count(pf: PartialFunction[SparkPlan, Int]): Int =
        collectWithSubqueries(plan)(pf).sum
      rec.put("exchanges", count { case _: ShuffleExchangeLike => 1 })
      rec.put("broadcasts", count { case _: BroadcastExchangeLike => 1 })
      rec.put("file_scans", count { case _: FileSourceScanExec => 1; case _: BatchScanExec => 1 })
      rec.put("artifact_scans", count { case _: RDDScanExec => 1; case _: InMemoryTableScanExec => 1 })
    } else rec.put("plan_missing", true)
  }

  /** Listener events arrive asynchronously: wait until the counters stop
    * moving before reading them. */
  def settle(): Unit = {
    def snap = counters.values.asScala.map(_.map(_.get).sum).sum + jobCount.values.asScala.map(_.get).sum
    var prev = snap; var stable = 0
    while (stable < 3) { Thread.sleep(30); val cur = snap; if (cur == prev) stable += 1 else { prev = cur; stable = 0 } }
  }

  def spansJson(): JList[Any] = {
    if (!spans.isEmpty) settle()
    val out = new JList[Any]()
    spans.asScala.foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent.map(Int.box).orNull)
      m.put("name", s.name); m.put("start_ms", s.start / 1e6); m.put("end_ms", s.end / 1e6)
      m.put("jobs", jobs(s.id))
      Option(counters.get(s"pb:${s.id}")).foreach { c =>
        names.indices.foreach(i => m.put(names(i), c(i).get))
      }
      m.putAll(s.attrs)
      out.add(m)
    }
    out
  }
}
