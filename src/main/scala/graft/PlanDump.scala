package graft
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Runeset.host.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args) {
      println(s"===== $n")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01").explain("formatted")
    }
    spark.stop()
  }
}
