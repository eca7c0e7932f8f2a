package graft

/** Local analog of the driver's t1 smoke: SparkEntry.entry must return >0
  * rows on sf0.001. Run: sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry returned zero rows")
    spark.stop()
  }
}
