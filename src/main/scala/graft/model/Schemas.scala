package graft.model

import org.apache.spark.sql.types._

/** Fixed schemas for the warehouse layer contracts.
  *
  * Reference data model (SURVEY.md §1): a Maxwell-style CDC envelope
  * (SQLUtil.java:17-29) and a nested behavior-log document
  * (DwdBaseLog.java:87-125). Payloads ride in map<string,string> /
  * nested structs; business fields are projected per query.
  */
object Schemas {

  /** Maxwell-style CDC envelope (`topic_db`):
    * database/table/type/ts + data/old maps.
    * Reference: SQLUtil.java:18-28.
    */
  val cdcEnvelope: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType), // insert | update | delete | bootstrap-*
    StructField("ts", LongType),     // seconds in the reference; we carry millis
    StructField("data", MapType(StringType, StringType)),
    StructField("old", MapType(StringType, StringType))))

  /** Behavior log (`topic_log`): common/page/start/err structs +
    * displays/actions arrays + millis ts.
    * Reference: DwdBaseLog.java:87-125.
    */
  val behaviorLog: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType),
      StructField("uid", StringType),
      StructField("vc", StringType),
      StructField("ch", StringType),
      StructField("ar", StringType),
      StructField("is_new", StringType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType),
      StructField("last_page_id", StringType),
      StructField("item", StringType),
      StructField("item_type", StringType),
      StructField("during_time", LongType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType),
      StructField("loading_time", LongType)))),
    StructField("err", StructType(Seq(
      StructField("error_code", LongType),
      StructField("msg", StringType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("item", StringType),
      StructField("item_type", StringType),
      StructField("pos_id", LongType))))),
    StructField("actions", ArrayType(StructType(Seq(
      StructField("action_id", StringType),
      StructField("item", StringType),
      StructField("ts", LongType))))),
    StructField("ts", LongType)))
}

/** A keyed event for per-key daily-state operators (A6 family). */
case class KeyDay(key: String, day: String)

/** Output of FirstSeenPerDay: a key's first appearance on a day. */
case class FirstSeen(key: String, day: String)

/** Per-visitor is_new repair input (A8). day is yyyy-MM-dd. */
case class VisitorHit(mid: String, day: String, isNew: String)

/** is_new-repaired output. */
case class VisitorHitFixed(mid: String, day: String, isNew: String)

/** Per-key last-value state for upsert-correction (A7). */
case class VersionedAmount(key: String, ts: Long, amount: Long)

/** Emitted delta so downstream sums telescope to the latest value. */
case class AmountDelta(key: String, ts: Long, delta: Long)
