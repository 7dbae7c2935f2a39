package graft.graftbench

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark and driver counters of one op. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes, outputBytes = 0L
  var shuffleRecords = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var mapStageS, reduceStageS = 0.0
  var wallS = 0.0
  var startMs, endMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Op wall time not covered by any Spark job. */
  def idleMs: Double = {
    val spans = jobSpans.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    spans.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) covered += curE - curS
    math.max(0.0, wallS * 1000 - covered)
  }
}

/** Attributes Spark listener events and query-planning phases to the op
  * that caused them. Each op tags its jobs with a local property; at the
  * op's end the listener bus is drained, so every event of op i is
  * counted before op i+1 starts and nothing carries over between ops.
  */
final class OpTrace(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import OpTrace.OpKey

  val ops = mutable.LinkedHashMap.empty[Long, OpCounters]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val jobOp = mutable.Map.empty[Int, (Long, Long)]
  @volatile private var current = -1L

  private def counters(op: Long): Option[OpCounters] = synchronized(ops.get(op))

  def begin(op: Long): Unit = {
    val c = new OpCounters
    c.startMs = System.currentTimeMillis()
    synchronized(ops(op) = c)
    current = op
    sc.setLocalProperty(OpKey, op.toString)
  }

  def end(op: Long, wallS: Double): Unit = {
    BenchBus.drain(sc)
    sc.setLocalProperty(OpKey, null)
    counters(op).foreach { c => c.wallS = wallS; c.endMs = System.currentTimeMillis() }
    current = -1L
  }

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobOp(e.jobId) = (op, e.time)
    e.stageIds.foreach(stageOp(_) = op)
    ops.get(op).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) => ops.get(op).foreach(_.jobSpans += ((start, e.time))) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).flatMap(ops.get).foreach { c =>
      c.stages += 1
      val dur = (for (s <- info.submissionTime; f <- info.completionTime) yield (f - s) / 1000.0).getOrElse(0.0)
      if (BenchBus.isMapStage(info)) c.mapStageS += dur else c.reduceStageS += dur
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).flatMap(ops.get).foreach { c =>
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        val info = e.taskInfo
        // the Spark UI's scheduler-delay formula
        c.schedDelayMs += math.max(
          0L,
          info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
        )
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    ops.get(current).foreach { c =>
      val ph = qe.tracker.phases
      def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Per-op means of the `spark.*` and `driver.*` counters over `opIds`. */
  def layerMetrics(opIds: Iterable[Long]): Seq[(String, Double, String)] = {
    val cs = synchronized(opIds.flatMap(ops.get).toSeq)
    val n = math.max(1, cs.size).toDouble
    def mean(f: OpCounters => Double): Double = cs.map(f).sum / n
    Seq(
      ("spark.jobs", mean(_.jobs.toDouble), "count"),
      ("spark.stages", mean(_.stages.toDouble), "count"),
      ("spark.tasks", mean(_.tasks.toDouble), "count"),
      ("spark.executor_run_ms", mean(_.runMs.toDouble), "ms"),
      ("spark.executor_cpu_ms", mean(_.cpuNs / 1e6), "ms"),
      ("spark.gc_ms", mean(_.gcMs.toDouble), "ms"),
      ("spark.scheduler_delay_ms", mean(_.schedDelayMs.toDouble), "ms"),
      ("spark.input_bytes", mean(_.inputBytes.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", mean(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", mean(_.shuffleReadBytes.toDouble), "bytes"),
      ("spark.spill_bytes", mean(_.spillBytes.toDouble), "bytes"),
      ("spark.output_bytes", mean(_.outputBytes.toDouble), "bytes"),
      ("driver.analysis_ms", mean(_.analysisMs.toDouble), "ms"),
      ("driver.optimization_ms", mean(_.optimizationMs.toDouble), "ms"),
      ("driver.planning_ms", mean(_.planningMs.toDouble), "ms"),
      ("driver.idle_ms", mean(_.idleMs), "ms")
    )
  }
}

object OpTrace {
  val OpKey = "graftbench.op"

  def register(spark: SparkSession): OpTrace = {
    val t = new OpTrace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

/** Process-level counters from /proc (Linux). */
object Proc {
  private def statFields: Array[String] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
    // fields after the parenthesised command name; cutime/cstime are fields 16/17
    s.substring(s.lastIndexOf(')') + 2).split(" ")
  }

  /** CPU time of waited-for child processes (cutime + cstime), ms. */
  def childCpuMs: Double = {
    val f = statFields
    val ticks = f(13).toLong + f(14).toLong
    ticks * 1000.0 / 100.0 // USER_HZ is 100 on Linux
  }

  /** Peak resident set size (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
