package graft.graftbench

import graft.dedup.Dedup
import graft.functions.Portable.norm
import graft.similarity.Similarity
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The LLM-data write path. Set-up builds the signature index and the
  * IVF tables once; each op is one ingest tick over a seeded batch:
  * check the batch against the index, append the survivors (index and
  * doc store), append the batch's vectors to the IVF postings, and serve
  * one read from the appended postings.
  */
final class IngestTicks extends Workload {
  import IngestTicks._

  def run(spark: SparkSession, opts: Options, rec: Recorder, trace: Option[OpTrace]): Outcome = {
    import spark.implicits._
    val dir = opts.input.toString
    val corpus = spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text").as[(Long, String)].collect()

    val b0 = System.nanoTime()
    val index = Dedup.incrementalIndexTable(spark, dir)
    val (cents, postings) = Similarity.ivfAppendTables(spark, dir)
    spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text")
      .write.mode("overwrite").format("parquet").saveAsTable(Store)
    val buildS = (System.nanoTime() - b0) / 1e9

    val known = mutable.ArrayBuffer.empty[String] // texts in the index
    known ++= corpus.collect { case (id, t) if id % Dedup.NewBatchMod != 0 => t }
    val gen = new BatchGen(opts.seed)
    var indexRows = spark.table(index).count()
    var postingRows = spark.table(postings).count()
    val steps = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var candidates, verifiedDups = 0.0
    var admitted, batchBytes, admittedBytes = 0.0
    val wh = Main.warehouse(spark)

    def tick(k: Int, timed: Boolean): Unit = {
      val batch = gen.batch(k, known.toIndexedSeq)
      val docs = batch.docs.toDF("doc_id", "text")
      val vecs = batch.vectors.toDF("vec_id", "embedding").withColumn("nrm", norm($"embedding"))
      val queries = batch.vectors.take(QueriesPerTick).zipWithIndex
        .map { case ((_, e), i) => (-(i + 1).toLong, e) }.toDF("vec_id", "embedding").withColumn("nrm", norm($"embedding"))
      val (wh0, files0) = Main.treeSize(wh)
      def step[T](name: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        if (timed) steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
        r
      }
      var verdict: Map[Long, Long] = Map.empty
      var served: Array[(Long, Long, Int)] = Array.empty
      var checkDs: Dataset[(Long, Long)] = null
      rec.run("tick") {
        verdict = step("dedup.check_s") {
          checkDs = Dedup.dedupBatchAgainstIndex(spark, index, docs, spark.table(Store))
            .select($"doc_id", $"keep").as[(Long, Long)]
          checkDs.collect().toMap
        }
        step("dedup.append_s") {
          val accepted = docs.join(verdict.filter(_._2 == 1L).keys.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
          Dedup.appendToIndex(spark, index, accepted)
          accepted.write.mode("append").format("parquet").saveAsTable(Store)
        }
        step("similarity.append_s")(Similarity.ivfAppendTick(spark, cents, postings, vecs))
        served = step("similarity.serve_s") {
          Similarity.ivfServeFromPostings(queries, spark.table(cents), spark.table(postings), Similarity.IvfProbes)
            .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)].collect()
        }
      } { _ =>
        val keep = batch.docs.map { case (id, _) => verdict.getOrElse(id, -1L) }
        val nKeep = verdict.count(_._2 == 1L)
        val rows = spark.table(index).count()
        val post = spark.table(postings).count()
        val err =
          if (verdict.size != batch.docs.size) Some(s"${verdict.size} verdicts for ${batch.docs.size} docs")
          else if (batch.exact.exists(id => verdict(id) != 0L)) Some("a planted exact duplicate was admitted")
          else if (batch.fresh.exists(id => verdict(id) != 1L)) Some("a fresh document was dropped")
          else if (rows != indexRows + nKeep) Some(s"index rows $rows != $indexRows + $nKeep")
          else if (post != postingRows + batch.vectors.size) Some(s"postings $post != $postingRows + ${batch.vectors.size}")
          else {
            val top1 = served.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
            val missing = (1 to QueriesPerTick).find(i => !top1.get(-i.toLong).contains(batch.vectors(i - 1)._1))
            missing.map(i => s"appended vector ${batch.vectors(i - 1)._1} is not its own top-1 neighbour")
          }
        indexRows = rows
        postingRows = post
        batch.docs.zip(keep).foreach { case ((_, t), v) => if (v == 1L) known += t }
        if (timed && err.isEmpty) {
          val (wh1, files1) = Main.treeSize(wh)
          steps.getOrElseUpdate("warehouse.bytes_written", mutable.ArrayBuffer.empty) += (wh1 - wh0).toDouble
          steps.getOrElseUpdate("warehouse.files", mutable.ArrayBuffer.empty) += (files1 - files0).toDouble
          admitted += nKeep
          batchBytes += batch.bytes
          admittedBytes += batch.docs.zip(keep).collect { case ((_, t), 1L) => t.getBytes("UTF-8").length.toDouble }.sum +
            batch.vectors.size * VectorBytes
          verifiedDups += verdict.size - nKeep
          if (trace.isDefined) candidates += candidatePairs(checkDs)
        }
        err
      }
    }

    // warm-up tick: the tick's code paths compiled before timing starts
    tick(0, timed = false)
    val firstOpMs = System.currentTimeMillis()
    val timed = rec.records.size
    val t0 = System.nanoTime()
    val deadline = t0 + (opts.seconds * 1e9).toLong
    var k = 1
    while (System.nanoTime() < deadline) { tick(k, timed = true); k += 1 }
    val ops = rec.records.drop(timed).toSeq

    def med(name: String): Double = Main.medianOr0(steps.getOrElse(name, Nil))
    def mean(name: String): Double = steps.get(name).filter(_.nonEmpty).map(xs => xs.sum / xs.size).getOrElse(0.0)
    val checks = steps.getOrElse("dedup.check_s", mutable.ArrayBuffer.empty[Double]).toSeq
    val q = math.max(1, checks.size / 4)
    val layers = trace.toSeq.flatMap { _ =>
      Seq("dedup.check_s", "dedup.append_s", "similarity.append_s", "similarity.serve_s").map(n => (n, med(n), "s")) ++ Seq(
        ("dedup.admit_ratio", admitted / math.max(1, ops.size * BatchGen.Docs), "ratio"),
        ("dedup.candidates_per_verified", candidates / math.max(1.0, verifiedDups), "ratio"),
        ("dedup.check_growth", if (checks.isEmpty) 0.0 else Stats.median(checks.takeRight(q)) / Stats.median(checks.take(q)), "ratio"),
        ("warehouse.bytes_written", mean("warehouse.bytes_written"), "bytes"),
        ("warehouse.files", mean("warehouse.files"), "count")
      )
    }
    Outcome(
      firstOpMs = firstOpMs,
      buildS = buildS,
      serveTotalS = Seq("dedup.check_s", "dedup.append_s", "similarity.append_s", "similarity.serve_s").map(med).sum,
      opWalls = ops.filter(_.ok).map(_.wallS),
      timedRecords = ops.size,
      inputBytes = batchBytes,
      storedBytes = steps.get("warehouse.bytes_written").map(_.sum).getOrElse(0.0),
      storedInputBytes = admittedBytes,
      layers = layers,
      info = Map("ticks" -> ops.size.toString, "index_rows" -> indexRows.toString)
    )
  }

  /** Candidate pairs the check had to verify: output rows of the
    * checkpointed candidate scan in the executed plan (0 when it cannot
    * be found). Divided by the duplicates found, it is the LSH work per
    * verified duplicate.
    */
  private def candidatePairs(ds: Dataset[_]): Double = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec        => s +: nodes(s.plan)
      case other                    => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(ds.queryExecution.executedPlan).filter(_.nodeName.contains("ExistingRDD"))
    scans.flatMap(_.metrics.get("numOutputRows").map(_.value.toDouble)).reduceOption(_ max _).getOrElse(0.0)
  }
}

object IngestTicks {
  val Store = "graftbench_doc_store"
  val QueriesPerTick = 3
  val VectorBytes: Double = 64 * 4
}

/** One tick's seeded input: documents with planted exact and near
  * duplicates of indexed texts plus fresh documents, and fresh vectors.
  */
final case class Batch(
    docs: Seq[(Long, String)],
    exact: Seq[Long],
    near: Seq[Long],
    fresh: Seq[Long],
    vectors: Seq[(Long, Array[Float])]
) {
  def bytes: Long = docs.map(_._2.getBytes("UTF-8").length.toLong).sum + vectors.size * 64L * 4
}

final class BatchGen(seed: Long) {
  import BatchGen._

  /** Tick `k`'s batch; `known` are the texts already in the index. */
  def batch(k: Int, known: IndexedSeq[String]): Batch = {
    val rnd = new java.util.Random(seed * 1000003L + k)
    val base = IdBase + k.toLong * 1000
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val exact, near, fresh = mutable.ArrayBuffer.empty[Long]
    (0 until Docs).foreach { i =>
      val id = base + i
      val text = i % 10 match {
        case 0 | 1 => exact += id; known(rnd.nextInt(known.size))
        case 2     => near += id; known(rnd.nextInt(known.size)) + s" tick$k"
        case _ =>
          fresh += id
          Seq.fill(20 + rnd.nextInt(40))(s"t${k}w${rnd.nextInt(1 << 20)}").mkString(" ")
      }
      docs += ((id, text))
    }
    val vectors = (0 until Vectors).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      (base + i, v.map(_ / n))
    }
    Batch(docs.toSeq, exact.toSeq, near.toSeq, fresh.toSeq, vectors)
  }
}

object BatchGen {
  val Docs = 40
  val Vectors = 40
  val IdBase = 1000000000L
}
