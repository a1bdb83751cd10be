package graft

/** Flagship smoke: runs SparkEntry.entry exactly as the driver does
  * (rows > 0 on sf0.001) and prints the result.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-smoke")
    val df = SparkEntry.entry(spark)
    df.show(10, 60)
    println(s"entry rows = ${df.count()}")
    spark.stop()
  }
}
