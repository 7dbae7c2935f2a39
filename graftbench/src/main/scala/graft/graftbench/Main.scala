package graft.graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Command-line options of one benchmark run (see run.py, which builds
  * the inputs and launches this JVM).
  */
final case class Options(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    input: Path,
    work: Path,
    result: Path,
    launchMs: Long,
    datagenS: Double
)

object Options {
  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      input = Paths.get(get("input")),
      work = Paths.get(get("work")),
      result = Paths.get(get("result")),
      launchMs = get("launch-ms").toLong,
      datagenS = get("datagen-s").toDouble
    )
  }
}

/** What a workload measured. Every workload fills every end-to-end
  * field. `opWalls` are the latencies of the timed ops that succeeded;
  * `inputBytes` is the input those ops consumed;
  * `timedRecords` counts the recorder's records made in the timed phase
  * (the last ones); `layers` holds the workload's own per-layer metrics.
  */
final case class Outcome(
    firstOpMs: Long,
    buildS: Double,
    serveTotalS: Double,
    opWalls: Seq[Double],
    timedRecords: Int,
    inputBytes: Double,
    storedBytes: Double,
    storedInputBytes: Double,
    layers: Seq[(String, Double, String)],
    info: Map[String, String] = Map.empty
)

trait Workload {
  def run(spark: SparkSession, opts: Options, rec: Recorder, trace: Option[OpTrace]): Outcome
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = Options.parse(args)
    val loadAvg = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cores, s"graftbench-${opts.workload}")
    val sessionMs = System.currentTimeMillis()
    val trace = if (opts.trace) Some(OpTrace.register(spark)) else None
    val rec = new Recorder(trace)
    val workload: Workload = opts.workload match {
      case "mr_jobs"      => new MrJobs
      case "query_suite"  => new QuerySuite
      case "ingest_ticks" => new IngestTicks
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = workload.run(spark, opts, rec, trace)
    val e2e = endToEnd(opts, out)
    val layers = if (opts.trace) sparkLayers(trace.get, rec, out) ++ out.layers else Seq.empty
    writeResult(opts.result, rec, e2e, layers, out.info + ("cores" -> cores.toString) + ("loadavg_at_start" -> loadAvg.toString) +
      ("session_s" -> ((sessionMs - opts.launchMs) / 1000.0).toString) +
      ("end_s" -> ((System.currentTimeMillis() - opts.launchMs) / 1000.0).toString))
    spark.stop()
  }

  def endToEnd(opts: Options, out: Outcome): Seq[(String, Double, String)] = {
    val walls = out.opWalls
    // throughput is over the time spent in ops: the harness's output checks
    // between ops are not the engine's work
    val opTime = math.max(1e-9, walls.sum)
    val (tailP, tailV) = if (walls.nonEmpty) Stats.tail(walls) else (0.5, 0.0)
    Seq(
      ("setup_s", opts.datagenS + (out.firstOpMs - opts.launchMs) / 1000.0, "s"),
      ("op_p50_s", if (walls.nonEmpty) Stats.median(walls) else 0.0, "s"),
      ("op_tail_s", tailV, "s"),
      ("ops_per_s", walls.size / opTime, "1/s"),
      ("input_mb_per_s", out.inputBytes / 1e6 / opTime, "MB/s"),
      ("build_s", out.buildS, "s"),
      ("serve_total_s", out.serveTotalS, "s"),
      ("stored_bytes_per_input_byte", out.storedBytes / math.max(1.0, out.storedInputBytes), "ratio"),
      ("peak_rss_mb", Proc.peakRssMb, "MB"),
      ("op_tail_pct", tailP * 100, "%"),
      ("op_count", walls.size.toDouble, "count")
    )
  }

  private def sparkLayers(t: OpTrace, rec: Recorder, out: Outcome): Seq[(String, Double, String)] = {
    // the timed ops are the last records; their ids are their 1-based positions
    val first = rec.records.size - out.timedRecords + 1
    t.layerMetrics(first.toLong to rec.records.size.toLong)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeResult(
      path: Path,
      rec: Recorder,
      e2e: Seq[(String, Double, String)],
      layers: Seq[(String, Double, String)],
      info: Map[String, String]
  ): Unit = {
    def metrics(ms: Seq[(String, Double, String)]): String =
      ms.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${num(v)}, \"unit\": ${Json.str(u)}}" }.mkString("{", ", ", "}")
    val errors = rec.records.filterNot(_.ok).map(r => Json.str(s"${r.kind}: ${r.error.get.take(300)}"))
    val json =
      s"""{"attempted": ${rec.attempted}, "failed": ${rec.failed}, "errors": ${errors.mkString("[", ", ", "]")}, """ +
        s""""end_to_end": ${metrics(e2e)}, "per_layer": ${metrics(layers)}, """ +
        s""""info": ${Json.obj(info)}}"""
    Files.write(path, json.getBytes("UTF-8"))
  }

  /** Total size of the regular files under `dir`, and their count. */
  def treeSize(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        var bytes, files = 0L
        s.filter(Files.isRegularFile(_)).forEach { p => bytes += Files.size(p); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  /** Bytes read through Hadoop's local filesystem so far (all threads). */
  def localBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** Warehouse directory of the session. */
  def warehouse(spark: SparkSession): Path =
    Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath match {
      case null => spark.conf.get("spark.sql.warehouse.dir")
      case p    => p
    })

  def medianOr0(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
}

/** JSON text for the result and oracle files (strings and flat objects). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
}
