package perfbench

import org.apache.spark.sql.SparkSession

/** Batch work beside writes: each step runs one round of the three batch
  * kNN joins, then one ingest batch with its post-commit probe; clustering
  * and projection follow the last batch. The two parts share nothing but
  * the session, so each keeps its own inputs, stores and checks.
  */
final class PipelineWorkload(join: BatchKnnWorkload, ingest: IngestWorkload) extends Workload {
  private val parts = Seq[Workload](join, ingest)

  def sizes = join.sizes.map { case (k, v) => s"join.$k" -> v } ++ ingest.sizes.map { case (k, v) => s"ingest.$k" -> v }
  def generate(run: Run, spark: SparkSession): Unit = parts.foreach(_.generate(run, spark))
  def setup(run: Run, spark: SparkSession, round: Int): Seq[(String, Double)] =
    parts.flatMap(_.setup(run, spark, round))
  def warm(run: Run): Unit = parts.foreach(_.warm(run))
  def step(run: Run): Unit = parts.foreach(_.step(run))
  def named(run: Run): Seq[(String, Double, String)] = parts.flatMap(_.named(run))
  override def finish(run: Run): Unit = parts.foreach(_.finish(run))
  override def afterLoop(run: Run): Unit = parts.foreach(_.afterLoop(run))
  override def exhausted: Boolean = parts.exists(_.exhausted)
}
