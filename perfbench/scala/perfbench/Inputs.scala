package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Parquet round trip of generated inputs, and the engine-side form of the
  * generator's filters.
  */
object Inputs {
  val Files = 8 // fixed, so file layout does not depend on the machine

  val PayloadCols = Seq("category", "tags", "upload_date", "text")

  def day(d: Int): Column = date_add(to_date(lit(Gen.Epoch)), d)

  def filters(f: Gen.Filter): Seq[Column] = f match {
    case Gen.NoFilter         => Nil
    case Gen.CategoryIs(c)    => Seq(col("category") === Gen.category(c))
    case Gen.DayRange(lo, hi) => Seq(col("upload_date").between(day(lo), day(hi)))
    case Gen.TagOverlap(ts)   => Seq(arrays_overlap(col("tags"), typedLit(ts.map(Gen.tag))))
  }

  /** Writes `n` corpus rows, made in parallel by the executors. */
  def writeCorpus(spark: SparkSession, seed: Long, n: Int, centres: Array[Array[Double]], dupFrac: Double,
      path: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, Files).as[Long].map { i =>
      val (v, p) = Gen.corpusRow(seed, i, centres, dupFrac)
      (i, v, Gen.category(p.category), p.tags.map(Gen.tag), p.day, p.text)
    }.toDF("id", "embedding", "category", "tags", "day", "text")
      .select(col("id"), col("embedding"), col("category"), col("tags"),
        date_add(to_date(lit(Gen.Epoch)), col("day")).as("upload_date"), col("text"))
      .write.mode("overwrite").parquet(path)
  }

  /** The corpus as the engine stored it, collected for the brute-force
    * truth: (ids, vectors, payloads) in id order.
    */
  def collectCorpus(spark: SparkSession, path: String): Gen.Corpus = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("id"), col("embedding"), substring(col("category"), 4, 2).cast("int"),
        transform(col("tags"), t => substring(t, 2, 2).cast("int")),
        datediff(col("upload_date"), to_date(lit(Gen.Epoch))), col("text"))
      .as[(Long, Array[Float], Int, Array[Int], Int, String)]
      .collect().sortBy(_._1)
    Gen.Corpus(rows.map(_._1), rows.map(_._2), rows.map(r => Gen.Payload(r._3, r._4, r._5, r._6)))
  }

  def vecSchema(extra: StructField*): StructType =
    StructType(StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false) +: extra)

  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
