package graft.tools

import scala.util.chaining._
import org.apache.spark.sql.SparkSession

/** Print the job-free health snapshot of one or more tables:
  *
  *   runMain graft.tools.TableDoctor /path/to/upsert_table ...
  *   runMain graft.tools.TableDoctor mor:/path/to/mor_table ...
  *
  * Plain paths are read as io.Upsert tables; a `mor:` prefix reads the
  * merge-on-read layout (base stats + delta backlog).
  */
object TableDoctor {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .pipe(graft.core.GraftSession.engineConfs).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach {
      case p if p.startsWith("mor:") =>
        val dir = p.stripPrefix("mor:")
        val s = graft.io.MergeOnRead.stats(spark, dir)
        println(s"[doctor] $dir (merge-on-read)")
        println(s"[doctor]   compacted upto batch ${s.compactedUpto}; " +
          s"delta backlog ${s.liveDeltaBatches} batches / ${s.liveDeltaBytes} B")
        s.base match {
          case Some(b) => println(s"[doctor]   base: $b")
          case None    => println(s"[doctor]   base: not yet compacted")
        }
      case dir =>
        graft.io.Upsert.stats(spark, dir) match {
          case Some(s) =>
            println(s"[doctor] $dir\n[doctor]   $s")
            bucketHealth(spark, dir)
          case None    => println(s"[doctor] $dir: no committed manifest")
        }
    }
    spark.stop()
  }

  /** Per-bucket row counts through the DSv2 GROUP BY `__bucket`
    * metadata answer (r13): when every file carries a manifest row
    * count the whole report is a LocalTableScan — zero tasks, zero
    * file opens — and the skew summary tells an operator whether a
    * rebucket is due before any job runs.
    */
  private def bucketHealth(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val counts = graft.sources.UpsertBucketSource.read(spark, dir)
      .groupBy(col("__bucket")).agg(count(lit(1)).as("rows"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._2)
    if (counts.isEmpty) return
    val total = counts.map(_._2).sum
    val avg = total / math.max(counts.length, 1)
    println(f"[doctor]   buckets: ${counts.length} non-empty, " +
      f"rows avg=$avg max=${counts.head._2} (bucket ${counts.head._1}) " +
      f"min=${counts.last._2} skew=${
        if (avg == 0) 0.0 else counts.head._2.toDouble / avg}%.2fx")
  }
}
