package graft.tools

/** Dev-only replica of the driver's entry smoke check (rows > 0). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(8)
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
