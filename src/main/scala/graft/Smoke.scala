package graft

/** Local smoke main mirroring the driver's t1 check: run SparkEntry.entry
  * on sf0.001 and print its row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("/root/testdata/sf0.001", Harness.cpus)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
