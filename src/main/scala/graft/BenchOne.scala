package graft
object BenchOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    for (name <- args) {
      val t0 = System.nanoTime()
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val n = SparkEntry.queries(name)(spark, dir).count()
      println(s"BENCHONE $name rows=$n sec=${(System.nanoTime()-t0)/1e9}")
    }
    spark.stop()
  }
}
