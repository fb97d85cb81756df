package graft

/** Local mirror of the driver's t1 smoke: run `SparkEntry.entry` on
  * sf0.001 and assert rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions.session("local[8]", 8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
