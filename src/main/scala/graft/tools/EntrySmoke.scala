package graft.tools
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.create()
    val df = graft.SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, false)
    spark.stop()
  }
}
