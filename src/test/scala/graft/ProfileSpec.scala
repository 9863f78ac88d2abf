package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.{PlanCanon, Profile}

/** `tools.Profile`'s record against independent witnesses: its job
  * count against a [[JobLog]] around the same evaluations, its plan sha
  * against [[PlanCanon]] of the head's executed plan, its metric names
  * against `BENCHMARK.json`, and its handling of a failing head.
  */
class ProfileSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  test("sched.jobs equals the jobs a JobLog records per evaluation; plan_sha is PlanCanon's") {
    val perLayer = mapper.readTree(new java.io.File("BENCHMARK.json")).get("per_layer")
      .elements().asScala.map(_.get("name").asText).toSet
    Seq("q1_pricing", "q18_large_orders").foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sf).queryExecution.toRdd.count() // warm, as Profile's main does
      spark.catalog.clearCache()
      val lines = ArrayBuffer.empty[String]
      val logged = JobLog.around(spark) { log =>
        log.clear()
        Profile.profile(spark, Seq(n -> fn), sf)(lines += _)
        log.jobs()
      }
      assert(lines.size == 1)
      val rec = mapper.readTree(lines.head)
      assert(!rec.has("error"), lines.head)

      // Profile runs a marker job before and after each of its two
      // evaluations: the jobs after the 1st and after the 3rd marker
      // are the two evaluations, and no job runs between them
      val byMarkers = logged.foldLeft((0, Map.empty[Int, Int])) { case ((seen, acc), p) =>
        if (p.getProperty(Profile.MarkerProp) != null) (seen + 1, acc)
        else (seen, acc + (seen -> (acc.getOrElse(seen, 0) + 1)))
      }
      assert(byMarkers._1 == 4, s"expected 4 marker jobs, saw ${byMarkers._1}")
      val jobs = rec.get("sched.jobs").asInt
      assert(jobs > 0)
      assert(byMarkers._2 == Map(1 -> jobs, 3 -> jobs), s"$n: $lines vs ${byMarkers._2}")

      val perJob = rec.get("jobs").elements().asScala.map(j => (j.get(0).asInt, j.get(1).asLong)).toSeq
      assert(perJob.size == jobs)
      assert(perJob.map(_._1).sum == rec.get("sched.stages").asInt)
      assert(perJob.map(_._2).sum == rec.get("sched.tasks").asLong)

      val qe = fn(spark, sf).queryExecution
      qe.toRdd.count()
      assert(rec.get("plan_sha").asText == PlanCanon.sha(qe.executedPlan.toString))
      spark.catalog.clearCache()

      val names = rec.fieldNames().asScala.toSet --
        Set("head", "wall_s", "fixture_s", "plan_sha", "codegen.compiles", "jobs")
      assert(names.size == 16 && names.subsetOf(perLayer),
        s"not per_layer names of BENCHMARK.json: ${names -- perLayer}")
    }
  }

  test("codegen.compiles is the compile count of the timed call; a head profiled again compiles none") {
    // each call inlines a new long literal: both evaluations compile the
    // same number of new classes, so a count around the whole profile
    // call is twice the reported one
    val calls = new java.util.concurrent.atomic.AtomicLong(7777777L)
    val fresh: Profile.Head = (s, _) =>
      s.range(8).selectExpr(s"id * ${calls.incrementAndGet()}L as v")
    val lines = ArrayBuffer.empty[String]
    val c0 = Profile.compiled()
    Profile.profile(spark, Seq("fresh" -> fresh), sf)(lines += _)
    val around = Profile.compiled() - c0
    val reported = mapper.readTree(lines.head).get("codegen.compiles").asLong
    assert(reported > 0 && 2 * reported == around, s"${lines.head} vs $around around the call")

    val q1 = Seq("q1_pricing" -> SparkEntry.queries("q1_pricing"))
    Profile.profile(spark, q1, sf)(lines += _)
    Profile.profile(spark, q1, sf)(lines += _)
    assert(mapper.readTree(lines.last).get("codegen.compiles").asLong == 0, lines.last)
  }

  test("a head that throws yields an error line and the next head is still profiled") {
    val boom: Profile.Head = (_, _) => throw new IllegalStateException("boom")
    val lines = ArrayBuffer.empty[String]
    Profile.profile(spark,
      Seq("boom" -> boom, "q1_pricing" -> SparkEntry.queries("q1_pricing")), sf)(lines += _)
    assert(lines.size == 2)
    val failed = mapper.readTree(lines(0))
    assert(failed.get("head").asText == "boom")
    assert(failed.get("error").asText.contains("IllegalStateException: boom"))
    val next = mapper.readTree(lines(1))
    assert(next.get("head").asText == "q1_pricing" && !next.has("error"), lines(1))
    assert(next.get("sched.jobs").asInt > 0 && next.get("plan_sha").asText.nonEmpty)
  }
}
