package perfbench

import graft.operators.{Ivf, Search}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** Pipeline batch joins: each round joins one batch of queries against the
  * corpus three ways — brute force, IVF at a fixed probe width, and IVF
  * behind per-query predicate groups — and collects every neighbour list.
  */
final class BatchKnnWorkload extends Workload {
  val N = 4000; val Clusters = 200; val DupFrac = 0.02
  val NList = math.round(math.sqrt(N.toDouble)).toInt
  val NProbe = 8; val K = 10
  val PerBatch = 96; val Batches = 8
  val RecallFloor = 0.9

  def sizes = Seq("corpus_rows" -> N, "dim" -> Gen.Dim, "latent_clusters" -> Clusters,
    "duplicate_frac" -> DupFrac, "ivf_lists" -> NList, "ivf_probe" -> NProbe, "k" -> K,
    "queries_per_batch" -> PerBatch, "query_batches" -> Batches, "predicate_groups" -> 3)

  private var truth: Gen.Corpus = _
  private var batches: Vector[Gen.QueryBatch] = _
  private var groups: Vector[Gen.Filter] = _
  private var corpus, payload, ivf, allQueries: DataFrame = _
  private var model: Ivf.Model = _
  private var round = 0
  private val truthCache = mutable.Map.empty[(Int, Int, Boolean), Vector[(Long, Double)]]

  private def corpusPath(run: Run) = run.dataDir + "/corpus"
  private def queryPath(run: Run) = run.dataDir + "/queries"

  def generate(run: Run, spark: SparkSession): Unit = {
    val centres = Gen.centres(run.seed, Clusters)
    Inputs.writeCorpus(spark, run.seed, N, centres, DupFrac, corpusPath(run))
    run.log("corpus written")
    val bs = Gen.queryBatches(run.seed, Batches, PerBatch, 3, centres)
    val schema = Inputs.vecSchema(StructField("qid", LongType), StructField("pred", StringType),
      StructField("batch", IntegerType))
    val rows = for ((b, j) <- bs.zipWithIndex; i <- 0 until PerBatch)
      yield Row(b.vecs(i).toSeq, i.toLong, s"g${b.group(i)}", j)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").partitionBy("batch").parquet(queryPath(run))
    truth = Inputs.collectCorpus(spark, corpusPath(run))
    run.log("corpus collected")
    val back = spark.read.parquet(queryPath(run)).collect().groupBy(_.getInt(3))
    batches = (0 until Batches).toVector.map { j =>
      val rs = back(j).sortBy(_.getLong(1))
      Gen.QueryBatch(rs.map(_.getSeq[Float](0).toArray), rs.map(_.getString(2).drop(1).toInt))
    }
    groups = Gen.predicateGroups(run.seed)
    run.extra("input.digest") = (Gen.digest(truth.vecs.iterator).toDouble, "hash")
  }

  def setup(run: Run, spark: SparkSession, round: Int): Seq[(String, Double)] = {
    corpus = spark.read.parquet(corpusPath(run))
    payload = corpus.select((col("id") +: Inputs.PayloadCols.map(col)): _*)
    val t0 = System.nanoTime()
    val (assigned, m) = Ivf.assign(corpus.select("id", "embedding"), "embedding", NList)
    Ivf.writeIndexed(assigned, run.storeDir(round, "join_ivf"), m, "embedding")
    ivf = spark.read.parquet(run.storeDir(round, "join_ivf"))
    model = m
    allQueries = spark.read.parquet(queryPath(run))
    Seq("setup.join_store_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  /** One round of all three joins, untimed. */
  def warm(run: Run): Unit = { step(run); round = 0 }


  private def queries(j: Int): DataFrame = allQueries.where(col("batch") === j)

  type Hits = Map[Long, Vector[(Long, Double, Int)]]

  private def collectHits(df: DataFrame): Hits =
    df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sortBy(_._3).toVector }

  private def join(run: Run, name: String, j: Int): Hits = run.layer(name) {
    val qs = queries(j)
    (name match {
      case "join_exact" =>
        Search.knnJoin(qs, corpus, "embedding", "qid", "embedding", "id", K, excludeSelf = false)
      case "join_ivf" =>
        Ivf.knnJoin(ivf, model, qs, "embedding", "qid", "embedding", "id", K, NProbe, excludeSelf = false)
      case _ =>
        Search.perQueryFiltered(qs, "pred", groups.zipWithIndex.map { case (g, i) => s"g$i" -> Inputs.filters(g) },
          (q, fs) => Ivf.knnJoin(ivf, model, q, "embedding", "qid", "embedding", "id", K, NProbe,
            excludeSelf = false, filters = fs, payload = payload))
    }).select("query_id", "neighbor_id", "score", "rank")
  }(collectHits)

  def step(run: Run): Unit = {
    val j = round % Batches
    round += 1
    for (name <- Seq("join_exact", "join_ivf", "join_filtered")) {
      run.op(name)(join(run, name, j))(h => verify(run, name, j, h))
    }
  }

  private def verify(run: Run, name: String, j: Int, hits: Hits): Boolean = {
    val b        = batches(j)
    val filtered = name == "join_filtered"
    (0 until PerBatch).forall { i =>
      val q = b.vecs(i).map(_.toDouble)
      val f = if (filtered) groups(b.group(i)) else Gen.NoFilter
      val want = truthCache.getOrElseUpdate((j, i, filtered),
        Stats.topK(truth.ids, truth.vecs, q, K, x => f.admits(truth.payloads(x))))
      def score(id: Long) = Stats.cosine(truth.vecs(id.toInt), q)
      val got = hits.getOrElse(i.toLong, Vector.empty)
      val ranked = run.check(got.map(_._3) == (1 to got.length),
        s"$name query $i: ranks are not 1..${got.length}")
      if (name == "join_exact")
        ranked && run.check(Stats.sameTopK(got.map(h => (h._1, h._2)), want, score),
          s"$name query $i differs from brute force")
      else {
        run.recalls += "join" -> Stats.recall(got.map(_._1), want, score)
        ranked && run.check(got.length == want.length &&
          got.forall(h => f.admits(truth.payloads(h._1.toInt)) && math.abs(h._2 - score(h._1)) <= 1e-9),
          s"$name query $i: hits violate the filter or carry a wrong score")
      }
    }
  }

  def named(run: Run): Seq[(String, Double, String)] = {
    def qps(k: String) = run.ops.filter(_.kind == k) match {
      case xs if xs.nonEmpty => PerBatch / (Stats.median(xs.map(_.ms).toSeq) / 1000)
      case _                 => Double.NaN
    }
    Seq(("join_exact_qps", qps("join_exact"), "1/s"), ("join_ivf_qps", qps("join_ivf"), "1/s"),
      ("join_filtered_qps", qps("join_filtered"), "1/s"))
  }

  override def finish(run: Run): Unit = {
    run.verifyRecall("join", RecallFloor)
    val store = new java.io.File(run.storeDir(Main.SetupRounds - 1, "join_ivf"))
    if (run.tracer.enabled) {
      val storeBytes = Files.bytes(store)
      val ivfW = run.spanWork("join_ivf")
      if (ivfW.nonEmpty) {
        run.extra("join_ivf.shuffle_bytes") = (ivfW.map(w => w._2.shuffleWrite + w._2.shuffleRead).sum.toDouble / ivfW.length, "bytes")
      }
      run.scanned.get("join_ivf").foreach(b => run.extra("join_ivf.scan_frac") = (Stats.mean(b.toSeq) / storeBytes, "ratio"))
      val exW = run.spanWork("join_exact")
      if (exW.nonEmpty)
        run.extra("join_exact.shuffle_bytes") = (exW.map(w => w._2.shuffleWrite + w._2.shuffleRead).sum.toDouble / exW.length, "bytes")
      val fB = run.spanWork("join_filtered.build")
      if (fB.nonEmpty) run.extra("join_filtered.gate_jobs") = (fB.map(_._2.jobs).sum.toDouble / fB.length, "count")
    }
    run.extra("join_ivf.store_files") = (Files.parquet(store).toDouble, "count")
  }
}

/** File counts and sizes of a store directory. */
object Files {
  private def all(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) all(f) else Seq(f))
  def bytes(d: java.io.File): Double = all(d).filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble
  def parquet(d: java.io.File): Int = all(d).count(_.getName.endsWith(".parquet"))
}
