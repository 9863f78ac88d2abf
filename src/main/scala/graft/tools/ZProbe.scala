package graft.tools
import scala.util.chaining._
import org.apache.spark.sql.SparkSession
object ZProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .pipe(graft.core.GraftSession.engineConfs).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val root = graft.ops.TpcH.zonesLineitemEnsure(spark, sf)
      val lo = java.sql.Timestamp.from(java.time.Instant.parse("1996-01-01T00:00:00Z"))
      val hi = java.sql.Timestamp.from(java.time.Instant.parse("1997-01-01T00:00:00Z"))
      val rect = Seq(
        ("l_shipdate", Some(lo): Option[Any], Some(hi): Option[Any]),
        ("l_discount", Some(0.05): Option[Any], Some(0.07): Option[Any]))
      val total = graft.io.Upsert.currentManifest(spark, root).get.allFiles.size
      val (rk, _) = graft.io.Upsert.rangePruneStatsMulti(spark, root, rect)
      val (dk, _) = graft.io.Upsert.rangePruneStats(spark, root, "l_shipdate", Some(lo), Some(hi))
      val (ck, _) = graft.io.Upsert.rangePruneStats(spark, root, "l_discount", Some(0.05), Some(0.07))
      println(s"zprobe] $sf total=$total rect_kept=$rk date_kept=$dk disc_kept=$ck")
      val r = graft.ops.TpcH.q6ZonesForecast(spark, sf).collect().head
      val q = graft.ops.TpcH.q6ForecastRevenue(spark, sf).collect().head
      println(s"zprobe] $sf served=$r raw=$q match=${r.toString == q.toString}")
    }
    spark.stop()
  }
}
