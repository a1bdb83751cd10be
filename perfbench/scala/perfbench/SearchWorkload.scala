package perfbench

import graft.operators.{Hnsw, Ivf, Joins, Search}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Interactive reads: one request at a time, in equal counts of exact
  * top-k, IVF probe and HNSW search, each with a fresh query vector and a
  * filter that is none, a category, a date range or a tag overlap. Every
  * request's hits are hydrated with their payload and collected.
  */
final class SearchWorkload extends Workload {
  val N = 4000; val Clusters = 200; val DupFrac = 0.02
  val NList = math.round(math.sqrt(N.toDouble)).toInt
  val NProbe = 8; val K = 10
  val HnswShards = 4; val HnswM = 16; val HnswEfC = 48; val HnswEf = 64
  val PoolSize = 240
  val RecallFloor = 0.9

  def sizes = Seq("corpus_rows" -> N, "dim" -> Gen.Dim, "latent_clusters" -> Clusters,
    "duplicate_frac" -> DupFrac, "ivf_lists" -> NList, "ivf_probe" -> NProbe, "k" -> K,
    "hnsw_shards" -> HnswShards, "hnsw_m" -> HnswM, "hnsw_ef_construction" -> HnswEfC,
    "hnsw_ef_search" -> HnswEf, "request_pool" -> PoolSize)

  private var truth: Gen.Corpus = _
  private var reqs: Vector[Gen.Request] = _
  private var corpus, payload, ivf, hnsw: DataFrame = _
  private var model: Ivf.Model = _
  private var next = 0

  private def corpusPath(run: Run) = run.dataDir + "/corpus"
  private def requestPath(run: Run) = run.dataDir + "/requests"

  def generate(run: Run, spark: SparkSession): Unit = {
    val centres = Gen.centres(run.seed, Clusters)
    Inputs.writeCorpus(spark, run.seed, N, centres, DupFrac, corpusPath(run))
    run.log("corpus written")
    val schema = Inputs.vecSchema(StructField("kind", IntegerType), StructField("filter", IntegerType),
      StructField("a", IntegerType), StructField("b", IntegerType))
    val rows = Gen.requests(run.seed, PoolSize, centres).map { r =>
      val (f, a, b) = r.filter match {
        case Gen.NoFilter               => (0, 0, 0)
        case Gen.CategoryIs(x)          => (1, x, 0)
        case Gen.DayRange(lo, hi)       => (2, lo, hi)
        case Gen.TagOverlap(Seq(x, y))  => (3, x, y)
        case other                      => throw new IllegalStateException(s"unexpected filter $other")
      }
      Row(r.vec.toSeq, r.kind, f, a, b)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(requestPath(run))
    run.log("requests written")
    truth = Inputs.collectCorpus(spark, corpusPath(run))
    run.log("corpus collected")
    reqs = spark.read.parquet(requestPath(run)).collect().toVector.map { r =>
      val f = r.getInt(2) match {
        case 0 => Gen.NoFilter
        case 1 => Gen.CategoryIs(r.getInt(3))
        case 2 => Gen.DayRange(r.getInt(3), r.getInt(4))
        case _ => Gen.TagOverlap(Seq(r.getInt(3), r.getInt(4)))
      }
      Gen.Request(r.getInt(1), f, r.getSeq[Float](0).toArray)
    }
    run.extra("input.digest") = (Gen.digest(truth.vecs.iterator).toDouble, "hash")
  }

  def setup(run: Run, spark: SparkSession, round: Int): Seq[(String, Double)] = {
    corpus = spark.read.parquet(corpusPath(run))
    payload = corpus.select((col("id") +: Inputs.PayloadCols.map(col)): _*)
    val t0 = System.nanoTime()
    val (assigned, m) = Ivf.assign(corpus, "embedding", NList)
    Ivf.writeIndexed(assigned, run.storeDir(round, "ivf"), m, "embedding")
    ivf = spark.read.parquet(run.storeDir(round, "ivf"))
    model = m
    val t1 = System.nanoTime()
    Hnsw.writeIndex(corpus, "embedding", "id", run.storeDir(round, "hnsw"), HnswShards, HnswM, HnswEfC)
    hnsw = Hnsw.readIndex(spark, run.storeDir(round, "hnsw"))
    val t2 = System.nanoTime()
    Seq("setup.ivf_build_ms" -> (t1 - t0) / 1e6, "setup.hnsw_build_ms" -> (t2 - t1) / 1e6)
  }

  /** One block, untimed, so codegen and caches settle on every path. */
  def warm(run: Run): Unit = step(run)


  private def request(run: Run, r: Gen.Request): (Array[(Long, Double)], Array[Row]) = {
    val q    = r.vec.map(_.toDouble).toSeq
    val fs   = Inputs.filters(r.filter)
    val kind = Gen.RequestKinds(r.kind)
    val hits = run.layer(kind) {
      (kind match {
        case "exact" => Search.topK(corpus, "embedding", "id", q, K, fs)
        case "ivf"   => Ivf.search(ivf, model, "embedding", "id", q, K, NProbe, fs)
        case _       => Hnsw.searchIndex(hnsw, q, "id", K, HnswEf, fs, if (fs.isEmpty) null else payload)
      }).select(col("id"), col("score"))
    }(_.collect().map(x => (x.getLong(0), x.getDouble(1))))
    val rows = run.layer("hydrate") {
      val hitDf = Inputs.local(run.spark, hits.toSeq.map { case (i, s) => Row(i, s) },
        StructType(Seq(StructField("id", LongType), StructField("score", DoubleType))))
      Search.formatHits(Joins.hydrate(hitDf, payload, "id"), "id", Inputs.PayloadCols)
    }(_.collect())
    (hits, rows)
  }

  /** One block: every (kind, filter) pair once, in the pool's seeded order.
    * The loop ends only between blocks, so every run measures the same mix.
    */
  def step(run: Run): Unit = (0 until 12).foreach { _ =>
    val r = reqs(next % reqs.length)
    next += 1
    run.op(Gen.RequestKinds(r.kind))(request(run, r)) { case (hits, rows) => verify(run, r, hits, rows) }
  }

  private def verify(run: Run, r: Gen.Request, hits: Array[(Long, Double)], rows: Array[Row]): Boolean = {
    val q     = r.vec.map(_.toDouble)
    val want  = Stats.topK(truth.ids, truth.vecs, q, K, i => r.filter.admits(truth.payloads(i)))
    def score(id: Long) = Stats.cosine(truth.vecs(id.toInt), q)
    val kind  = Gen.RequestKinds(r.kind)
    val hitOk =
      if (kind == "exact") run.check(Stats.sameTopK(hits.toSeq, want, score), s"exact top-k differs from brute force")
      else {
        run.recalls += "search" -> Stats.recall(hits.map(_._1).toSeq, want, score)
        run.check(hits.length == want.length &&
          hits.forall { case (id, s) => r.filter.admits(truth.payloads(id.toInt)) && math.abs(s - score(id)) <= 1e-9 },
          s"$kind hits violate the filter or carry a wrong score")
      }
    val byId = rows.map(x => x.getLong(0) -> x).toMap
    val hydOk = run.check(byId.size == hits.length && hits.forall { case (id, s) =>
      byId.get(id).exists { x =>
        val p = truth.payloads(id.toInt)
        x.getDouble(1) == s && x.getString(2) == Gen.category(p.category) && x.getString(5) == p.text
      }
    }, "hydrated rows do not match the hits' payloads")
    hitOk && hydOk
  }

  def named(run: Run): Seq[(String, Double, String)] = {
    def p50(k: String) = run.ops.filter(_.kind == k).map(_.ms) match {
      case xs if xs.nonEmpty => Stats.median(xs.toSeq)
      case _                 => Double.NaN
    }
    Seq(("exact_p50_ms", p50("exact"), "ms"), ("ivf_p50_ms", p50("ivf"), "ms"),
      ("hnsw_p50_ms", p50("hnsw"), "ms"),
      ("search_tail_ms", run.tail(), "ms"))
  }

  override def finish(run: Run): Unit = {
    run.verifyRecall("search", RecallFloor)
    if (run.tracer.enabled) {
      val storeBytes = Files.bytes(new java.io.File(run.storeDir(Main.SetupRounds - 1, "ivf")))
      run.scanned.get("ivf").foreach(b => run.extra("ivf.scan_frac") = (Stats.mean(b.toSeq) / storeBytes, "ratio"))
      val hW = run.spanWork("hnsw")
      if (hW.nonEmpty) run.extra("hnsw.shuffle_bytes") = (hW.map(w => w._2.shuffleWrite + w._2.shuffleRead).sum.toDouble / hW.length, "bytes")
    }
    run.extra("ivf.store_files") = (Files.parquet(new java.io.File(run.storeDir(Main.SetupRounds - 1, "ivf"))).toDouble, "count")
  }
}
