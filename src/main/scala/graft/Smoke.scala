package graft


/** Local twin of the driver's smoke gate: SparkEntry.entry rows>0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    assert(n > 0, "flagship entry() returned no rows")
    spark.stop()
  }
}
