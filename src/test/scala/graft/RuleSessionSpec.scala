package graft

import graft.operators.{Embedder, Hnsw, Ivf, Pq}
import org.apache.spark.sql.{GraftBridge, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Rule queries run on isolated rule sessions ([[Engine.ruleSession]]):
  * cached index handles follow the caller's session, and the eleven
  * declared rule queries run concurrently on one parent session without
  * touching it.
  */
class RuleSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ruleQueries = Seq(
    "v7_auto_probe", "v41_hnsw_auto_probe", "v45_hnsw_filtered_auto", "v46_ivf_filtered_auto",
    "v47_pq_auto_probe", "v50_knn_join_auto", "v51_brute_knn_auto", "v52_per_query_knn_auto",
    "v53_hydrated_knn_auto", "v54_pq_hydrated_auto", "v55_adaptive_auto")

  private def graftKeys(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.conf.getAll.keySet.filter(_.startsWith("spark.graft."))

  private def extraRules(s: org.apache.spark.sql.SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental.extraOptimizations

  test("index handles cached under one key come back on each caller's session") {
    val corpus = (0L until 200L)
      .map(i => (i, Embedder.default.embed(s"doc $i topic ${i % 5}").map(_.toDouble).toSeq))
      .toDF("id", "vec")
    val other = GraftBridge.cloneSession(spark)
    val elsewhere = GraftBridge.reRoot(other, corpus)

    val (ivfA, _) = Ivf.indexFor(corpus, "vec", 4, cacheKey = "rulesession-ivf")
    val (ivfB, _) = Ivf.indexFor(elsewhere, "vec", 4, cacheKey = "rulesession-ivf")
    assert(ivfA.sparkSession eq spark)
    assert(ivfB.sparkSession eq other)

    val hnswA = Hnsw.indexFor(corpus, "vec", "id", cacheKey = "rulesession-hnsw", nShards = 1)
    val hnswB = Hnsw.indexFor(elsewhere, "vec", "id", cacheKey = "rulesession-hnsw", nShards = 1)
    assert(hnswA.sparkSession eq spark)
    assert(hnswB.sparkSession eq other)

    val (codesA, floatsA, _, _) =
      Pq.ivfPqIndexFor(corpus, "vec", "id", nList = 4, m = 8, ksub = 16, cacheKey = "rulesession-pq")
    val (codesB, floatsB, _, _) =
      Pq.ivfPqIndexFor(elsewhere, "vec", "id", nList = 4, m = 8, ksub = 16, cacheKey = "rulesession-pq")
    assert((codesA.sparkSession eq spark) && (floatsA.sparkSession eq spark))
    assert((codesB.sparkSession eq other) && (floatsB.sparkSession eq other))
    // same store, same rows, whichever session reads it
    assert(ivfB.count() == 200L && hnswB.count() == 200L && floatsB.count() == 200L)
  }

  test("rule sessions are cached per (parent, rule, flags) and leave the parent alone") {
    val a = Engine.ruleSession(spark, graft.plans.IvfAutoProbe(_), "spark.graft.ivf.autoProbe" -> "true")
    assert(Engine.ruleSession(spark, graft.plans.IvfAutoProbe(_), "spark.graft.ivf.autoProbe" -> "true") eq a)
    assert(Engine.ruleSession(spark, graft.plans.KnnJoinAuto(_), "spark.graft.ivf.autoProbe" -> "true") ne a)
    assert(Engine.ruleSession(spark, graft.plans.IvfAutoProbe(_),
      "spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") ne a)
    assert(extraRules(a).map(_.getClass) == Seq(classOf[graft.plans.IvfAutoProbe]))
    assert(a.conf.get("spark.graft.ivf.autoProbe") == "true")
    // the clone keeps the parent's runtime conf
    assert(a.conf.get("spark.sql.shuffle.partitions") == spark.conf.get("spark.sql.shuffle.partitions"))
    assert(extraRules(spark).isEmpty && graftKeys(spark).isEmpty)
  }

  test("the eleven rule queries run concurrently on one parent session, as they do serially") {
    val sf = "/root/testdata/sf0.001"
    assert(extraRules(spark).isEmpty && graftKeys(spark).isEmpty)
    def run(name: String): Seq[Row] =
      SparkEntry.queries(name)(spark, sf).collect().toSeq.sortBy(_.toString)
    // every parity flag and recall gate holds: a leg whose frames missed
    // its rule session would plan without the rule and flip one of them
    def flagsHold(r: Row): Boolean = {
      val cols = r.schema.fieldNames
      if (cols.contains("path") && !cols.contains("rule_eq_call"))
        Set("exact", "beam")(r.getAs[String]("path")) || r.getAs[Long]("vec_id") == 1L
      else r.getBoolean(cols.length - 1)
    }
    val serial = ruleQueries.map(n => n -> run(n)).toMap
    for ((n, rows) <- serial) assert(rows.nonEmpty && rows.forall(flagsHold), n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ruleQueries.size)
    try {
      val futures = ruleQueries.map(n => n -> pool.submit(new java.util.concurrent.Callable[Seq[Row]] {
        override def call(): Seq[Row] = run(n)
      }))
      futures.foreach { case (n, f) => assert(f.get() == serial(n), n) }
    } finally pool.shutdown()
    assert(extraRules(spark).isEmpty, "the parent gained an optimizer rule")
    assert(graftKeys(spark).isEmpty, "the parent gained a spark.graft.* flag")
  }
}
