package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The driver-side metadata memos are bounded: a table that commits
  * more generations than [[Lru.MemoEntries]] leaves the parsed-manifest
  * memo at its cap, an evicted generation reads back equal to its first
  * read, and dropping a table drops its entries from every memo.
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
    (1 to Lru.MemoEntries + 8).foreach(i =>
      Upsert.renameColumn(spark, dir, if (i == 1) "v" else s"v${i - 1}", s"v$i"))
    assert(Upsert.currentManifest(spark, dir).get.gen == g0 + Lru.MemoEntries + 8)
    // cap + 9 generations went through the memo and it holds cap of
    // them: g0's, the least recently used, has been evicted
    assert(Upsert.manifestsMemoized(dir) == Lru.MemoEntries)
    assert(Upsert.manifestAt(spark, dir, g0).get == first)
    assert(Upsert.manifestsMemoized(dir) == Lru.MemoEntries)

    assert(Upsert.dropTable(spark, dir))
    assert(Upsert.manifestsMemoized(dir) == 0)
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
    assert(MergeOnRead.deltaSchemasMemoized(dir) > 0 && Upsert.manifestsMemoized(dir) > 0)
    assert(MergeOnRead.dropTable(spark, dir))
    assert(MergeOnRead.deltaSchemasMemoized(dir) == 0 && Upsert.manifestsMemoized(dir) == 0)
  }
}
