package graft.io

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The driver-side metadata cache ([[FileMeta]]) is bounded: a table
  * that commits more generations than [[FileMeta.Entries]] leaves the
  * cache at its cap, an evicted generation reads back equal to its first
  * read, dropping a table drops its entries, and a table recreated at the
  * same path is never served the dead table's metadata.
  */
class MetadataMemoSpec extends SparkSpec {
  import spark.implicits._

  test("the manifest memo holds at most its cap; an evicted generation re-reads equal") {
    val dir = Files.createTempDirectory("memo_cow").toString
    Upsert.merge(spark, dir,
      (0 until 20).toDF("id").select(concat(lit("k"), col("id")).as("k"),
        lit(1L).as("ver"), col("id").as("v")),
      pk = Seq("k"), versionCol = "ver", numBuckets = 2)
    val g0 = Upsert.currentManifest(spark, dir).get.gen
    val first = Upsert.manifestAt(spark, dir, g0).get
    // a rename is a manifest-only commit: one new generation, no job
    (1 to FileMeta.Entries + 8).foreach(i =>
      Upsert.renameColumn(spark, dir, if (i == 1) "v" else s"v${i - 1}", s"v$i"))
    assert(Upsert.currentManifest(spark, dir).get.gen == g0 + FileMeta.Entries + 8)
    // cap + 9 generations went through the cache and it holds cap
    // entries: g0's, the least recently used, has been evicted
    assert(FileMeta.entries(dir) == FileMeta.Entries)
    assert(Upsert.manifestAt(spark, dir, g0).get == first)
    assert(FileMeta.entries(dir) == FileMeta.Entries)

    assert(Upsert.dropTable(spark, dir))
    assert(FileMeta.entries(dir) == 0)
  }

  test("dropping a merge-on-read table drops its delta schemas and base manifests") {
    val dir = Files.createTempDirectory("memo_mor").toString + "/t"
    def batch(ver: Long) = Seq(("k1", ver, 10L * ver), ("k2", ver, 20L * ver))
      .toDF("id", "ver", "amount")
    MergeOnRead.merge(spark, dir, batch(1))
    MergeOnRead.compact(spark, dir, Seq("id"), "ver")
    MergeOnRead.merge(spark, dir, batch(2))
    MergeOnRead.merge(spark, dir, batch(3))
    assert(MergeOnRead.read(spark, dir, Seq("id"), "ver").count() == 2)
    assert(FileMeta.entries(s"$dir/delta") > 0 && FileMeta.entries(s"$dir/base") > 0)
    assert(MergeOnRead.dropTable(spark, dir))
    assert(FileMeta.entries(dir) == 0)
  }

  test("a table recreated at the same path with another schema is not served the dead table's layout") {
    val dir = Files.createTempDirectory("memo_recreate").toString + "/t"
    Upsert.merge(spark, dir, Seq(("k1", 1L, "old")).toDF("id", "ver", "v"),
      Seq("id"), "ver")
    val gen = Upsert.currentManifest(spark, dir).get.gen
    def read() = graft.sources.UpsertBucketSource.read(spark, dir).drop("__bucket")
    val dead = read()
    assert(dead.columns.toSeq == Seq("id", "ver", "v"))
    assert(dead.as[(String, Long, String)].collect().toSeq == Seq(("k1", 1L, "old")))
    // a raw delete, not dropTable: nothing is told the table went away
    val fs = FsOps.fs(spark, new Path(dir))
    assert(fs.delete(new Path(dir), true))
    Upsert.merge(spark, dir,
      Seq(("n1", 1L, 7L, 1.5), ("n2", 1L, 8L, 2.5)).toDF("id", "ver", "w", "x"),
      Seq("id"), "ver")
    assert(Upsert.currentManifest(spark, dir).get.gen == gen,
      "the recreated table restarts its generation numbering")
    val fresh = read()
    assert(fresh.columns.toSeq == Seq("id", "ver", "w", "x"))
    assert(fresh.as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq ==
      Seq(("n1", 1L, 7L, 1.5), ("n2", 1L, 8L, 2.5)))
  }

  test("reading events changes no session conf and re-keys no source schema") {
    val sfDir = Files.createTempDirectory("memo_src").toString
    Seq((1L, "r")).toDF("r_regionkey", "r_name").write.parquet(s"$sfDir/region.parquet")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("event_id", "ts")
      .write.parquet(s"$sfDir/events.parquet")
    val s = spark.newSession()
    val confs = s.conf.getAll
    graft.JobLog.around(s) { log =>
      Tables.region(s, sfDir)
      Tables.events(s, sfDir)
      log.clear()
      assert(Tables.region(s, sfDir).columns.toSeq == Seq("r_regionkey", "r_name"))
      assert(log.jobs().isEmpty, "the source schema was inferred again")
    }
    assert(s.conf.getAll == confs)
  }
}
