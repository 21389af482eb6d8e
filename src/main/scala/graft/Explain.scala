package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    for (n <- args.toSeq) {
      println(s"===== $n")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
