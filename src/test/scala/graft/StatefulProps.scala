package graft

import scala.util.chaining._
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.model._
import graft.streaming.{BoundedDays, StateLogic, Stateful}

/** Property-based invariants (SURVEY.md §5.3) for the stateful
  * operator family — randomized inputs, algebraic postconditions.
  */
object StatefulProps extends Properties("Stateful") {

  // Built through GraftSession.engineConfs like SparkSpec's session,
  // so it carries the same extensions and engine confs: suites share
  // one JVM-wide session via getOrCreate(), and whichever suite runs
  // first fixes the extension set for everyone (withExtensions on a
  // builder is ignored when an existing session is returned). A bare
  // builder here once stripped MvRewriteRule/DimBroadcast from the
  // whole run and failed MvSpec's rewrite assertions order-dependently.
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .pipe(graft.core.GraftSession.engineConfs)
    .getOrCreate()

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val keyGen = Gen.oneOf("u1", "u2", "u3", "u4")
  private val dayGen = Gen.choose(1, 9).map(d => f"2024-01-0$d%d")

  property("firstSeenPerDay emits exactly distinct (key, day)") =
    Prop.forAll(Gen.listOf(Gen.zip(keyGen, dayGen))) { evs =>
      import spark.implicits._
      val in = evs.map { case (k, d) => KeyDay(k, d) }
      val out = Stateful.firstSeenPerDay(in.toDS()).collect()
      out.map(f => (f.key, f.day)).toSet == in.map(e => (e.key, e.day)).toSet &&
        out.length == in.map(e => (e.key, e.day)).distinct.length
    }

  property("upsertDeltas telescopes to the newest version per key") =
    Prop.forAll(Gen.listOf(Gen.zip(keyGen, Gen.choose(0L, 5L), Gen.choose(-100L, 100L)))) { evs =>
      import spark.implicits._
      val in = evs.map { case (k, ts, amt) => VersionedAmount(k, ts, amt) }
      val out = Stateful.upsertDeltas(in.toDS()).collect()
      val sums = out.groupBy(_.key).view.mapValues(_.map(_.delta).sum).toMap
      val expected = in.groupBy(_.key).view
        .mapValues(vs => vs.maxBy(v => (v.ts, v.amount)).amount).toMap
      sums == expected
    }

  property("isNewFix: at most one day per mid carries is_new=1") =
    Prop.forAll(Gen.listOf(Gen.zip(keyGen, dayGen, Gen.oneOf("0", "1")))) { evs =>
      import spark.implicits._
      val in = evs.map { case (m, d, n) => VisitorHit(m, d, n) }
      val out = Stateful.isNewFix(in.toDS()).collect()
      out.filter(_.isNew == "1").groupBy(_.mid)
        .forall { case (_, hits) => hits.map(_.day).distinct.size <= 1 }
    }

  property("upsertDeltas window-sum equals latest-value sum (A7 contract)") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(keyGen, Gen.choose(0L, 9L), Gen.choose(0L, 500L)))) { evs =>
      import spark.implicits._
      val in = evs.map { case (k, ts, amt) => VersionedAmount(k, ts, amt) }
      val deltaTotal = Stateful.upsertDeltas(in.toDS()).collect().map(_.delta).sum
      val latestTotal = in.groupBy(_.key).values
        .map(vs => vs.maxBy(v => (v.ts, v.amount)).amount).sum
      deltaTotal == latestTotal
    }

  // ---- pure StateLogic properties (no Spark job): the 100 TB state
  // contract for the A6/login family ----

  private def foldFirstSeen(days: Seq[String]): (Int, Option[BoundedDays]) = {
    var st: Option[BoundedDays] = None
    var emits = 0
    days.foreach { d =>
      val (e, next) = StateLogic.firstSeenStep(st, d)
      if (e) emits += 1
      st = Some(next)
    }
    (emits, st)
  }

  /** Adversarial replay over 10 years of day offsets in arbitrary
    * order: per-key state NEVER exceeds retainDays+1 entries. */
  property("firstSeenStep state is bounded under adversarial multi-year replay") =
    Prop.forAll(Gen.listOf(Gen.choose(0, 3650))) { offs =>
      val base = java.time.LocalDate.parse("2020-01-01")
      var st: Option[BoundedDays] = None
      offs.forall { o =>
        val (_, next) = StateLogic.firstSeenStep(st, base.plusDays(o.toLong).toString)
        st = Some(next)
        next.recent.size + 1 <= StateLogic.DefaultRetainDays + 1 &&
          next.recent.forall(_ < next.maxDay)
      }
    }

  property("firstSeenStep ascending replay emits exactly once per day; re-replay emits zero") =
    Prop.forAll(Gen.listOf(Gen.choose(0, 3650))) { offs =>
      val base = java.time.LocalDate.parse("2020-01-01")
      val days = offs.map(o => base.plusDays(o.toLong).toString).distinct.sorted
      val (emits, st) = foldFirstSeen(days)
      // replaying the same days against the final state emits nothing
      val replayEmits = days.map { d =>
        if (StateLogic.firstSeenStep(st, d)._1) 1 else 0
      }.sum
      emits == days.size && replayEmits == 0
    }

  // ---- dormant-key eviction model (VERDICT r2 #1) ----

  /** Fold days through firstSeenStep, applying expireIfIdle against a
    * running watermark (max day seen so far across ALL keys) before
    * each step — the pure replay of the EventTimeTimeout eviction.
    */
  private def foldFirstSeenEvicting(events: Seq[(String, String)], ttlDays: Int)
      : (Map[(String, String), Int], Map[String, Option[BoundedDays]], String) = {
    var states = Map.empty[String, Option[BoundedDays]].withDefaultValue(None)
    var emits = Map.empty[(String, String), Int].withDefaultValue(0)
    var wm = ""
    events.foreach { case (k, d) =>
      if (d > wm) wm = d
      val st = StateLogic.expireIfIdle(states(k), wm, ttlDays)
      val (e, next) = StateLogic.firstSeenStep(st, d)
      if (e) emits = emits.updated((k, d), emits((k, d)) + 1)
      states = states.updated(k, Some(next))
    }
    (emits, states, wm)
  }

  /** Eviction OFF-equivalent: while every key stays active within the
    * TTL, the evicting fold emits exactly what the plain fold emits. */
  property("eviction is invisible while keys stay active within the TTL") =
    Prop.forAll(Gen.listOf(Gen.zip(keyGen, dayGen))) { evs =>
      // dayGen spans 9 days; ttl=30 ⇒ nothing can expire
      val (emits, _, _) = foldFirstSeenEvicting(evs.map { case (k, d) => (k, d) }, 30)
      val plainPerKey = evs.groupBy(_._1).map { case (k, kevs) =>
        var st: Option[BoundedDays] = None
        var cnt = Map.empty[String, Int].withDefaultValue(0)
        kevs.foreach { case (_, d) =>
          val (e, next) = StateLogic.firstSeenStep(st, d)
          if (e) cnt = cnt.updated(d, cnt(d) + 1)
          st = Some(next)
        }
        k -> cnt
      }
      emits.forall { case ((k, d), n) => plainPerKey(k)(d) == n } &&
        emits.map { case ((k, _), n) => n }.forall(_ == 1)
    }

  /** A key idle past the TTL re-counts exactly like the reference's
    * expired ValueState: its already-emitted day emits AGAIN once the
    * watermark has moved ttl past it. */
  property("evicted dormant key re-counts on return (reference TTL semantics)") =
    Prop.forAll(Gen.choose(1, 9), Gen.choose(10, 30)) { (ttl, jump) =>
      val events = Seq(
        ("idle", "2024-01-01"), // emits, then goes dormant
        ("live", "2024-01-01"),
        ("live", java.time.LocalDate.parse("2024-01-01").plusDays(jump.toLong).toString),
        ("idle", "2024-01-01")) // returns with the SAME day
      val (emits, _, _) = foldFirstSeenEvicting(events, ttl)
      val recounted = emits(("idle", "2024-01-01")) == 2
      if (jump >= ttl) recounted else !recounted && emits(("idle", "2024-01-01")) == 1
    }

  /** Churn replay: after folding, the keys whose state survives
    * expiry at the final watermark are EXACTLY the keys active within
    * the TTL window — total state tracks actives, not all-time keys. */
  property("surviving state == keys active within the TTL under churn") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("a", "b", "c", "d", "e", "f"), Gen.choose(0, 120)))) { raw =>
      val base = java.time.LocalDate.parse("2024-01-01")
      val events = raw.map { case (k, o) => (k, base.plusDays(o.toLong).toString) }
      val ttl = 14
      val (_, states, wm) = foldFirstSeenEvicting(events, ttl)
      val cutoff = java.time.LocalDate.parse(wm).minusDays(ttl.toLong).toString
      val live = states.collect {
        case (k, st) if StateLogic.expireIfIdle(st, wm, ttl).isDefined => k
      }.toSet
      val active = events.groupBy(_._1).collect {
        case (k, kevs) if kevs.map(_._2).max > cutoff => k
      }.toSet
      live == active
    }

  private def foldLogin(days: Seq[String], gapDays: Int): Long = {
    var st: Option[String] = None
    var uu = 0L
    days.foreach { d =>
      val (e, _, next) = StateLogic.loginStep(st, d, gapDays)
      if (e) uu += 1
      st = Some(next)
    }
    uu
  }

  /** VERDICT r1 #4: shuffled replay of the same events never increases
    * Σuu — an out-of-order or duplicated older day cannot re-emit. */
  property("loginStep: shuffled+duplicated replay never exceeds sorted Σuu") =
    Prop.forAll(
      Gen.listOf(Gen.choose(0, 60)),
      Gen.choose(0L, Long.MaxValue)) { (offs, seed) =>
      val base = java.time.LocalDate.parse("2024-01-01")
      val days = offs.map(o => base.plusDays(o.toLong).toString)
      val sortedUu = foldLogin(days.distinct.sorted, 7)
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(days ++ days) // duplicate + shuffle
      foldLogin(shuffled, 7) <= sortedUu &&
        sortedUu == days.distinct.size.toLong
    }

  property("window counts conserve total rows") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0L, 86400L * 30))) { offsets =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val df = offsets.toDF("off")
        .select(timestamp_seconds(lit(1704067200L) + col("off")).as("ts"))
      val windowed = df.groupBy(window(col("ts"), "1 hour")).count()
      windowed.agg(sum("count")).as[Long].head() == offsets.size.toLong
    }
}
