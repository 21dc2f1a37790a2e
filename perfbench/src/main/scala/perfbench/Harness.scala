package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.SparkEntry

/** One closed-loop client in one JVM: runs a list of `SparkEntry.queries`
  * in passes and writes what it saw as raw JSON for `run.py`, which does
  * all the arithmetic.
  *
  * Order of a run:
  *  1. `--setups` times: start a session on `local[cpus]` and open the
  *     workload's tables, reading one row of each; every session but the
  *     last is stopped again. The first set-up pays Spark's own class
  *     loading and JIT warm-up, so the cold pass does not.
  *  2. Cold pass: each query once in that fresh session, in name order. Its
  *     results are what `run.py` checks, written as parquet under
  *     `--check-dir`.
  *  3. Warm passes until `--warm-seconds` have gone by (at least
  *     `--min-warm`), storage reset between passes. Each timed query is the
  *     builder call `SparkEntry.queries(name)(spark, dir)` followed by a
  *     write to the `noop` sink.
  *
  * A query that throws is recorded with its error; `run.py` counts it as
  * failed and leaves it out of every timing.
  *
  * With `--trace 1` a [[Tracer]] records jobs, stages, task metrics and the
  * Catalyst phases of every query execution. The cold pass is traced and
  * warm passes alternate untraced and traced, so the trace overhead is
  * measured in the same process. */
object Harness {

  final case class Opts(
      sf: String, queries: Seq[String], tables: Seq[String], cpus: Int,
      setups: Int, warmSeconds: Double, minWarm: Int, trace: Boolean,
      checkDir: String, out: String)

  /** `--key value` pairs, as run.py passes them; all are required. */
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Opts(
      sf = m("sf"), queries = list("queries"), tables = list("tables"), cpus = m("cpus").toInt,
      setups = m("setups").toInt.max(1), warmSeconds = m("warm-seconds").toDouble,
      minWarm = m("min-warm").toInt.max(1), trace = m("trace") == "1",
      checkDir = m("check-dir"), out = m("out"))
  }

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Epoch milliseconds with sub-millisecond resolution, on the same clock
    * as Spark's listener timestamps. */
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  /** Drop what a pass cached so the next pass starts from the same storage
    * state: memoized panels, cached tables and pinned RDDs. */
  def resetStorage(spark: SparkSession): Unit = {
    SparkEntry.clearPanelCache(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  final case class Exec(pass: Int, kind: String, traced: Boolean, query: String,
      start: Double, buildEnd: Double, end: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val setupS = (1 to o.setups).map { i =>
      val t0 = System.nanoTime()
      val s = session(o.cpus)
      o.tables.foreach(t => graft.core.Tables.read(s, o.sf, t).limit(1).collect())
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < o.setups) s.stop()
      dt
    }
    val spark = session(o.cpus)
    val tracer = new Tracer
    val execs = mutable.ArrayBuffer.empty[Exec]
    val codegen = mutable.ArrayBuffer.empty[(Int, Double, Long)]
    val failed = mutable.LinkedHashMap.empty[String, String]

    /** Runs the query's write: the cold pass writes what the check reads,
      * warm passes write to noop. */
    def write(q: String, df: DataFrame, cold: Boolean): Unit =
      if (cold) df.write.mode("overwrite").parquet(s"${o.checkDir}/$q")
      else df.write.mode("overwrite").format("noop").save()

    def runPass(pass: Int, kind: String, traced: Boolean): Unit = {
      if (traced) tracer.attach(spark)
      val cg0 = WholeStageCodegenExec.codeGenTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // The cold pass goes in name order, so every run pays the same
      // first-call sequence; warm passes keep the order given.
      (if (kind == "cold") o.queries.sorted else o.queries).foreach { q =>
        val start = nowMs()
        var buildEnd = start
        val err = try {
          val df = SparkEntry.queries(q)(spark, o.sf)
          buildEnd = nowMs()
          write(q, df, kind == "cold")
          None
        } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val end = nowMs()
        err.foreach { e =>
          System.err.println(s"[perfbench] $kind pass $pass: $q failed: $e")
          failed.getOrElseUpdate(q, e)
        }
        execs += Exec(pass, kind, traced, q, start, buildEnd, end, err)
      }
      codegen += ((pass, (WholeStageCodegenExec.codeGenTime - cg0) / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0))
      if (traced) tracer.detach(spark)
    }

    runPass(0, "cold", o.trace)
    // The heap still live after the cold pass, before storage is reset:
    // what the queries left pinned or cached. The cold pass runs in name
    // order, so the same queries come last every run. The second GC
    // collects what Spark's ContextCleaner released after the first.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val liveMb =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val warm0 = System.nanoTime()
    var pass = 0
    while (pass < o.minWarm || (System.nanoTime() - warm0) / 1e9 < o.warmSeconds) {
      resetStorage(spark)
      pass += 1
      runPass(pass, "warm", o.trace && pass % 2 == 0)
    }
    val peakRssMb = vmHwmMb()
    val oracle = SparkEntry.oracleSql
    spark.stop()

    val result = Map(
      "nproc" -> o.cpus,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jvm_boot_s" -> bootS,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb,
      "live_heap_mb" -> liveMb,
      "execs" -> execs.toList.map { e =>
        Map("pass" -> e.pass, "kind" -> e.kind, "traced" -> e.traced, "query" -> e.query,
          "start" -> e.start, "build_end" -> e.buildEnd, "end" -> e.end) ++ e.error.map("error" -> _)
      },
      "codegen" -> codegen.toList.map { case (p, s, n) =>
        Map("pass" -> p, "compile_s" -> s, "classes" -> n)
      },
      "oracle_sql" -> o.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap
    ) ++ (if (o.trace) tracer.result else Map.empty)
    implicit val formats: Formats = DefaultFormats
    Files.write(Paths.get(o.out), Serialization.write(result).getBytes(StandardCharsets.UTF_8))
  }
}

/** Records spans from Spark's public listener interfaces: jobs with their
  * stages, per-stage task metrics, and the planning phases of every query
  * execution. Callbacks arrive on the listener bus thread, after the fact:
  * `detach` runs a marker job and waits for its end to come through, so
  * every event of the traced pass has been seen before the listeners go. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val MarkerProp = "perfbench.marker"
  private var markerDone = new CountDownLatch(0)
  private val markerJobs = mutable.HashSet.empty[Int]
  private val markerStages = mutable.HashSet.empty[Int]

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L; var inputRows = 0L; var resultBytes = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
  private val jobEnds = mutable.HashMap.empty[Int, Long]
  private val stages = mutable.ArrayBuffer.empty[StageInfo]
  private val aggs = mutable.HashMap.empty[(Int, Int), StageAgg]
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double, Int)]

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markerDone = new CountDownLatch(1)
    sc.setLocalProperty(MarkerProp, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerProp, null)
    markerDone.await(60, TimeUnit.SECONDS)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def isMarker(e: SparkListenerJobStart): Boolean =
    e.properties != null && e.properties.getProperty(MarkerProp) != null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (isMarker(e)) { markerJobs += e.jobId; markerStages ++= e.stageIds }
    else jobs += ((e.jobId, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs(e.jobId)) markerDone.countDown() else jobEnds(e.jobId) = e.time
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!markerStages(e.stageInfo.stageId)) stages += e.stageInfo
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages(e.stageId)) recordTask(e)
  }
  private def recordTask(e: SparkListenerTaskEnd): Unit = {
    val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead; a.inputRows += m.inputMetrics.recordsRead
      a.resultBytes += m.resultSize
    }
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    val nodes = try qe.optimizedPlan.collect { case p => p }.size catch { case NonFatal(_) => 0 }
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble, nodes))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  /** What the tracer saw, as plain maps and lists. */
  def result: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.toList.map { case (id, t, stageIds) =>
        Map("id" -> id, "start" -> t.toDouble, "end" -> jobEnds.getOrElse(id, t).toDouble,
          "stages" -> stageIds.toList)
      },
      "stages" -> stages.toList.map { s =>
        val a = aggs.getOrElse((s.stageId, s.attemptNumber()), new StageAgg)
        Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
          "start" -> s.submissionTime.getOrElse(0L).toDouble,
          "end" -> s.completionTime.getOrElse(0L).toDouble,
          "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
          "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite, "spill" -> a.spill,
          "input_bytes" -> a.inputBytes, "input_rows" -> a.inputRows, "result_bytes" -> a.resultBytes)
      },
      "phases" -> phases.toList.map { case (n, s, e, nodes) =>
        Map("name" -> n, "start" -> s, "end" -> e, "plan_nodes" -> nodes)
      })
  }
}
