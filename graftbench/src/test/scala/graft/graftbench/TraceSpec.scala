package graft.graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(2, "graftbench-trace-spec")

  test("two consecutive ops' counters do not bleed into each other") {
    val trace = OpTrace.register(spark)
    val rec = new Recorder(Some(trace))
    val sc = spark.sparkContext
    rec.run("four-tasks")(sc.parallelize(1 to 1000, 4).map(_ * 2).sum())(_ => None)
    rec.run("two-jobs")({
      sc.parallelize(1 to 10, 2).count()
      sc.parallelize(1 to 10, 3).count()
    })(_ => None)
    rec.run("shuffle")(sc.parallelize(1 to 100, 2).map(i => (i % 5, i)).reduceByKey(_ + _).collect())(_ => None)
    val Seq(a, b, c) = Seq(1L, 2L, 3L).map(trace.ops)
    assert((a.jobs, a.stages, a.tasks) === ((1L, 1L, 4L)))
    assert((b.jobs, b.stages, b.tasks) === ((2L, 2L, 5L)))
    assert(c.jobs === 1L && c.stages === 2L)
    assert(a.shuffleWriteBytes === 0L && b.shuffleWriteBytes === 0L)
    assert(c.shuffleWriteBytes > 0L && c.shuffleRecords > 0L)
    assert(c.mapStageS >= 0.0 && c.reduceStageS >= 0.0)
    // the per-op means cover exactly the ops asked for
    val m = trace.layerMetrics(Seq(1L, 2L)).map(t => t._1 -> t._2).toMap
    assert(m("spark.jobs") === 1.5)
    assert(m("spark.tasks") === 4.5)
  }

  test("planning phases land on the op whose query ran") {
    val trace = OpTrace.register(spark)
    val rec = new Recorder(Some(trace))
    rec.run("rdd")(spark.sparkContext.parallelize(1 to 10, 2).count())(_ => None)
    rec.run("sql")(spark.range(1000).selectExpr("sum(id)").collect())(_ => None)
    val Seq(rdd, sql) = Seq(1L, 2L).map(trace.ops)
    assert(rdd.analysisMs + rdd.optimizationMs + rdd.planningMs === 0L)
    assert(sql.jobs >= 1L)
    assert(sql.idleMs >= 0.0 && sql.idleMs <= sql.wallS * 1000)
  }
}
