package graft.graftbench

import graft.engine.MapReduce
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The reference job API: word count and grep, each with native Scala
  * closures (`MapReduce.runJob`) and with shell executables speaking the
  * `key\tvalue` protocol (`MapReduce.runExecJob`), over seeded text files.
  * One op is one job; the four jobs run in a fixed cycle.
  */
final class MrJobs extends Workload {
  import MrJobs._

  def run(spark: SparkSession, opts: Options, rec: Recorder, trace: Option[OpTrace]): Outcome = {
    val input = opts.input.toString
    val inputBytes = Main.treeSize(opts.input)._1.toDouble
    val expected = expectedOf(readLines(opts.input))
    var outN = 0
    def job(kind: String): Path = {
      outN += 1
      val out = opts.work.resolve(f"out$outN%05d")
      kind match {
        case "wc_native"   => MapReduce.runJob(spark, input, out.toString, wcMap, wcReduce, NumMappers, NumReducers)
        case "wc_exec"     => MapReduce.runExecJob(spark, input, out.toString, WcMapCmd, WcReduceCmd, NumMappers, NumReducers)
        case "grep_native" => MapReduce.runJob(spark, input, out.toString, grepMap, grepReduce, NumMappers, NumReducers)
        case "grep_exec"   => MapReduce.runExecJob(spark, input, out.toString, GrepMapCmd, GrepReduceCmd, NumMappers, NumReducers)
      }
      out
    }

    // set-up: the reference goldens on the reference's own input, then the
    // build phase: the first (cold) job of each kind on the generated input
    goldenCheck(spark, opts)
    val firstCalls = Kinds.map { k =>
      val t0 = System.nanoTime()
      val out = job(k)
      val s = (System.nanoTime() - t0) / 1e9
      checkOutput(out, k, expected).foreach(e => throw new IllegalStateException(s"build phase $k: $e"))
      delete(out)
      s
    }

    val firstOpMs = System.currentTimeMillis()
    val timed = rec.records.size
    val t0 = System.nanoTime()
    val deadline = t0 + (opts.seconds * 1e9).toLong
    var outputBytes, jobInputBytes = 0.0
    val childCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lastNative = scala.collection.mutable.Map.empty[String, Seq[String]]
    var i = 0
    while (System.nanoTime() < deadline) {
      val kind = Cycle(i % Cycle.size)
      i += 1
      val cpu0 = Proc.childCpuMs
      var out: Path = null
      val ok = rec.run(kind)(job(kind)) { o =>
        out = o
        checkOutput(o, kind, expected).orElse {
          val family = kind.takeWhile(_ != '_')
          val parts = partFiles(o).map(p => Files.readString(p))
          if (kind.endsWith("_native")) { lastNative(family) = parts; None }
          else lastNative.get(family).filter(_ != parts).map(_ => s"$kind output differs from ${family}_native")
        }
      }.isDefined
      if (kind.endsWith("_exec")) childCpu += Proc.childCpuMs - cpu0
      if (ok) {
        outputBytes += Main.treeSize(out)._1
        jobInputBytes += inputBytes
      }
      if (out != null) delete(out)
    }
    val ops = rec.records.drop(timed).toSeq

    def kindMedian(k: String): Double = Main.medianOr0(ops.filter(r => r.ok && r.kind == k).map(_.wallS))
    val layers = trace.toSeq.flatMap { t =>
      val cs = (timed + 1 to rec.records.size).flatMap(id => t.ops.get(id.toLong))
      val n = math.max(1, cs.size).toDouble
      Kinds.map(k => (s"engine.job_s.$k", kindMedian(k), "s")) ++ Seq(
        ("engine.map_stage_s", cs.map(_.mapStageS).sum / n, "s"),
        ("engine.reduce_stage_s", cs.map(_.reduceStageS).sum / n, "s"),
        ("engine.shuffle_records", cs.map(_.shuffleRecords.toDouble).sum / n, "count"),
        ("engine.pipe_child_cpu_ms", Main.medianOr0(childCpu), "ms"),
        ("engine.md5_partition_ns", md5Ns(expected("wc").map(_.takeWhile(_ != '\t'))), "ns")
      )
    }
    Outcome(
      firstOpMs = firstOpMs,
      buildS = firstCalls.sum,
      serveTotalS = Kinds.map(kindMedian).sum,
      opWalls = ops.filter(_.ok).map(_.wallS),
      timedRecords = ops.size,
      inputBytes = jobInputBytes,
      storedBytes = outputBytes,
      storedInputBytes = jobInputBytes,
      layers = layers,
      info = Map("input_bytes" -> inputBytes.toLong.toString, "first_calls_s" -> firstCalls.mkString(","))
    )
  }

  /** The reference goldens: word count and grep over refcorpus/input. */
  private def goldenCheck(spark: SparkSession, opts: Options): Unit = {
    val dir = RefCorpus.resolve("input").toString
    def merged(out: Path): Seq[String] = partFiles(out).flatMap(p => Files.readAllLines(p).asScala)
    val wcOut = opts.work.resolve("golden_wc")
    MapReduce.runJob(spark, dir, wcOut.toString, goldenWcMap, wcReduce, NumMappers, 2)
    val grepOut = opts.work.resolve("golden_grep")
    MapReduce.runJob(spark, dir, grepOut.toString, goldenGrepMap, grepReduce, NumMappers, 1)
    val wcGolden = Files.readAllLines(RefCorpus.resolve("correct/word_count_correct.txt")).asScala.sorted
    val grepGolden = Files.readAllLines(RefCorpus.resolve("correct/grep_correct.txt")).asScala.toSeq
    if (merged(wcOut).sorted != wcGolden) throw new IllegalStateException("word count golden mismatch")
    if (merged(grepOut) != grepGolden) throw new IllegalStateException("grep golden mismatch")
    delete(wcOut)
    delete(grepOut)
  }
}

object MrJobs {
  val Kinds: Seq[String] = Seq("wc_native", "wc_exec", "grep_native", "grep_exec")

  /** The op cycle: word count, the reference's flagship and shuffle-heavy
    * shape, runs twice per grep. Grep jobs take under half a word-count
    * job, so with equal weights the median op would fall in the gap
    * between the two shapes and jump from run to run.
    */
  val Cycle: Seq[String] = Seq("wc_native", "wc_exec", "grep_native", "grep_exec", "wc_native", "wc_exec")
  val NumMappers = 4
  val NumReducers = 4
  val Pattern = "house"
  val RefCorpus: Path = java.nio.file.Paths.get("src", "test", "resources", "refcorpus")

  private def asciiLower(s: String): String =
    s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  // word count: ASCII lower-case, split on blanks, drop empty tokens —
  // the same tokens `tr` + awk's field splitting produce
  def words(line: String): Iterator[String] =
    asciiLower(line).split("[ \t]+").iterator.filter(_.nonEmpty)
  val wcMap: String => IterableOnce[(String, String)] = line => words(line).map(w => (w, "1"))
  val wcReduce: (String, Iterator[String]) => IterableOnce[String] = (w, ones) => Iterator.single(s"$w\t${ones.size}")
  val WcMapCmd = """LC_ALL=C tr '[A-Z]' '[a-z]' | LC_ALL=C awk '{ for (i = 1; i <= NF; i++) print $i "\t1" }'"""
  val WcReduceCmd = """LC_ALL=C cut -f1 | LC_ALL=C uniq -c | LC_ALL=C awk '{ print $2 "\t" $1 }'"""

  def grepHit(line: String): Boolean = asciiLower(line).contains(Pattern)
  val grepMap: String => IterableOnce[(String, String)] =
    line => if (grepHit(line)) Iterator.single(("1", line)) else Iterator.empty
  val grepReduce: (String, Iterator[String]) => IterableOnce[String] = (_, lines) => lines
  val GrepMapCmd = s"""LC_ALL=C awk 'tolower($$0) ~ /$Pattern/ { print "1\\t" $$0 }'"""
  val GrepReduceCmd = "LC_ALL=C cut -f2-"

  // the reference's own mapper semantics, for its golden files
  val goldenWcMap: String => IterableOnce[(String, String)] =
    line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1"))
  val goldenGrepMap: String => IterableOnce[(String, String)] = line =>
    if (line.trim.nonEmpty && line.toLowerCase.contains("product")) Iterator.single(("1", line))
    else Iterator.empty

  /** The input's lines, split the way Hadoop's line reader splits them. */
  def readLines(dir: Path): Seq[String] =
    Files.list(dir).iterator.asScala.toSeq.sortBy(_.toString).flatMap { p =>
      val s = Files.readString(p)
      val ls = s.split("\r\n|\r|\n", -1).toSeq
      if (s.endsWith("\n") || s.endsWith("\r")) ls.dropRight(1) else ls
    }

  /** The plain-Scala results the jobs must reproduce, per job family. */
  def expectedOf(lines: Seq[String]): Map[String, Seq[String]] = Map(
    "wc" -> wordCount(lines).toSeq.sorted.map { case (w, c) => s"$w\t$c" },
    "grep" -> lines.filter(grepHit).sorted
  )

  def wordCount(lines: Seq[String]): Map[String, Int] =
    lines.iterator.flatMap(words).foldLeft(Map.empty[String, Int])((m, w) => m.updated(w, m.getOrElse(w, 0) + 1))

  def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala.toSeq.sortBy(_.getFileName.toString)

  /** The job's output contract: exactly R `part-NNNNN` files, each
    * sorted, each key in partition md5(key) % R, and the merged lines
    * equal to the plain-Scala result.
    */
  def checkOutput(out: Path, kind: String, expected: Map[String, Seq[String]]): Option[String] = {
    val parts = partFiles(out)
    val names = parts.map(_.getFileName.toString)
    val want = (0 until NumReducers).map(i => f"part-$i%05d")
    if (names != want) return Some(s"part files ${names.mkString(",")}")
    val family = kind.takeWhile(_ != '_')
    val contents = parts.map(p => Files.readAllLines(p).asScala.toSeq)
    contents.zipWithIndex.foreach { case (ls, i) =>
      val keys = if (family == "wc") ls.map(_.takeWhile(_ != '\t')) else ls.map(_ => "1")
      val sortKey = if (family == "wc") keys else ls
      if (sortKey != sortKey.sorted) return Some(s"part-$i is not sorted")
      keys.find(k => MapReduce.md5Partition(k, NumReducers) != i).foreach(k => return Some(s"key '$k' in part-$i"))
    }
    val merged = contents.flatten
    val got = if (family == "wc") merged.sorted else merged
    if (got != expected(family)) Some(s"$kind output differs from the plain-Scala result") else None
  }

  /** Mean ns of one md5Partition call over the job's own keys. */
  def md5Ns(keys: Seq[String]): Double = {
    var sink = 0
    (0 until 3).foreach(_ => keys.foreach(k => sink += MapReduce.md5Partition(k, NumReducers)))
    val reps = math.max(1, 200000 / math.max(1, keys.size))
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => keys.foreach(k => sink += MapReduce.md5Partition(k, NumReducers)))
    val ns = (System.nanoTime() - t0).toDouble / (reps.toLong * keys.size)
    if (sink == -1) println(sink)
    ns
  }

  def delete(p: Path): Unit = graft.GraftSession.deleteRecursively(p.toFile)
}
