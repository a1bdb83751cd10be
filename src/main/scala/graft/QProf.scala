package graft

/** Ad-hoc query profiler: runs each named query twice (cold incl. codegen /
  * warm) and prints timings; with "-e" also prints the formatted plan.
  * Usage: runMain graft.QProf <sfDir> [-e] name [name...]
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val sfDir   = args.head
    val explain = args.contains("-e")
    val names   = args.tail.filterNot(_ == "-e")
    val spark   = Engine.session("graft-qprof")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      // noop sink, same as Bench: count() would prune projected expressions
      def run(): Long = { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); 0L }
      val t0 = System.nanoTime(); run(); val c = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime(); run(); val w = (System.nanoTime() - t1) / 1e9
      val n1 = fn(spark, sfDir).count()
      println(f"[qprof] $name%-24s cold=$c%8.3fs warm=$w%8.3fs rows=$n1")
    }
    spark.stop()
  }
}
