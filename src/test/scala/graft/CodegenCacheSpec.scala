package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.{MergeOnRead, Upsert}
import graft.rtdw.IncrementalDws
import graft.tools.Profile

/** Generated code is compiled once per shape: the codegen class cache
  * holds more than Spark's default 100 classes, and a steady-state MOR
  * fold trigger generates the same code as the trigger before it.
  * Counted with Spark's compile metric, a JVM-wide count of codegen
  * cache misses (suites run one at a time, so nothing else compiles
  * between two reads).
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  test("the session's codegen cache holds more than 100 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      core.GraftSession.CodegenCacheEntries.toString)
    // the long literal is inlined in the generated source: each i is a
    // class of its own
    def projection(i: Int) =
      spark.range(4).selectExpr(s"id * ${1000003L + i}L as v").queryExecution.toRdd.count()
    val c0 = Profile.compiled()
    (0 until 150).foreach(projection)
    val distinct = Profile.compiled() - c0
    assert(distinct > 100, s"150 distinct projections compiled $distinct classes")
    val c1 = Profile.compiled()
    projection(0)
    assert(Profile.compiled() == c1,
      s"the first of $distinct classes was evicted: its re-run compiled again")
  }

  test("steady-state fold: a second wave of the same shape compiles no class") {
    val root = Files.createTempDirectory("codegen_fold").toString
    val fact = s"$root/fact"; val dws = s"$root/dws"
    def wave(v: Long) = (0 until 40).map(i => (s"k$i", i % 5L, (i + v) * 10L, v))
      .toDF("id", "gid", "cents", "__v")
    MergeOnRead.merge(spark, fact, wave(1L))
    MergeOnRead.recordContract(spark, fact, Seq("id"), "__v", None, Upsert.DefaultNumBuckets)
    MergeOnRead.merge(spark, fact, wave(2L))
    MergeOnRead.merge(spark, fact, wave(3L))
    val q = IncrementalDws.streamingMor(spark, fact, dws, Seq("gid"), Seq("cents"),
      s"$root/ckpt", Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable()
      // the first wave after the backlog compiles this shape's classes
      MergeOnRead.merge(spark, fact, wave(4L))
      q.processAllAvailable()
      val c0 = Profile.compiled()
      MergeOnRead.merge(spark, fact, wave(5L))
      q.processAllAvailable()
      val compiled = Profile.compiled() - c0
      assert(compiled == 0, s"the second wave's append and fold compiled $compiled classes")
    } finally q.stop()
    val served = IncrementalDws.current(spark, dws).get.select("gid", "cents", "row_ct")
      .collect().map(_.mkString("|")).toSet
    val full = MergeOnRead.read(spark, fact, Seq("id"), "__v", None).groupBy("gid")
      .agg(sum("cents").as("cents"), count(lit(1)).as("row_ct"))
      .collect().map(_.mkString("|")).toSet
    assert(served == full)
  }
}
