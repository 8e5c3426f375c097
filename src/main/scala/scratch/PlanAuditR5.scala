package scratch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object PlanAuditR5 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    // z-ordered table: both filters must reach the parquet scan
    val zdir = java.nio.file.Files.createTempDirectory("audit-z").toString
    graft.sources.ZOrder.write(
      spark.read.parquet(s"$d/lineitem.parquet")
        .select("l_partkey", "l_suppkey", "l_quantity"),
      zdir, Seq("l_partkey", "l_suppkey"), nFiles = 16)
    val zq = spark.read.parquet(zdir)
      .filter(col("l_partkey") <= 200 && col("l_suppkey") <= 20)
      .groupBy("l_suppkey").count()
    zq.collect()
    val zplan = zq.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case pp => pp.toString
    }
    println("ZORDER-PLAN-START")
    println(zplan.take(3000))
    println("ZORDER-PLAN-END")
    spark.stop()
  }
}
