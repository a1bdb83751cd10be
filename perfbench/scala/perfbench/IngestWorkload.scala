package perfbench

import graft.operators.{Chunker, Embedder, HashingEmbedder, Ivf, Ml}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Writes beside reads: document batches go chunk → embed → upsert into a
  * live IVF store; each batch also re-uploads and deletes earlier documents.
  * After every commit one filtered probe reads the mutated store; after the
  * last batch the store is clustered, named and projected to 3-D.
  *
  * The store keeps a constant size (each batch deletes as many documents as
  * it adds), so the run length does not change what a commit costs. At
  * about 1.2k chunks × 768 × 8 bytes it stays under Ml's 64 MB driver-fit
  * budget: clustering and PCA take the driver-fit path.
  */
final class IngestWorkload extends Workload {
  val SeedDocs = 400; val MaxBatches = 40; val Adds = 6; val Replaces = 3; val Topics = 24
  val NProbe = 4; val K = 10; val Clusters = 12
  val RecallFloor = 0.8
  val embedder = new HashingEmbedder(Gen.Dim)

  def sizes = Seq("seed_docs" -> SeedDocs, "docs_added_per_batch" -> Adds,
    "docs_replaced_per_batch" -> Replaces, "docs_deleted_per_batch" -> Adds, "topics" -> Topics,
    "dim" -> Gen.Dim, "ivf_probe" -> NProbe, "k" -> K, "kmeans_k" -> Clusters,
 "store_chunks" -> storeRows, "ivf_lists" -> nList,
    "ml_fit_path" -> (if (storeRows.toLong * Gen.Dim * 8 <= (64L << 20)) "driver" else "distributed"))

  private var plan: Gen.IngestPlan = _
  private var model: Ivf.Model = _
  private var storePath: String = _
  private var nList = 0
  private var storeRows = 0
  private var batch = 0
  private var chunks = 0L
  private var touchedLists = 0L

  /** What the store must hold: chunk id → (doc id, version, category, vector). */
  private var live = Map.empty[Long, (Long, Int, Int, Array[Float])]
  private var everDeleted = Set.empty[Long]

  private def docsPath(run: Run) = run.dataDir + "/docs"
  private def probesPath(run: Run) = run.dataDir + "/probes"
  private def deletesPath(run: Run) = run.dataDir + "/deletes"

  def generate(run: Run, spark: SparkSession): Unit = {
    plan = Gen.ingest(run.seed, SeedDocs, MaxBatches, Adds, Replaces, Topics)
    val docSchema = StructType(Seq(StructField("batch", IntegerType), StructField("doc_id", LongType),
      StructField("version", IntegerType), StructField("category", StringType),
      StructField("day", IntegerType), StructField("text", StringType)))
    val docRows = plan.seedDocs.map(d => (-1, d)) ++ plan.batches.flatMap(b => b.docs.map(d => (b.index, d)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows.map { case (b, d) =>
      Row(b, d.docId, d.version, Gen.category(d.category), d.day, d.text) }, Inputs.Files), docSchema)
      .select(col("batch"), col("doc_id"), col("version"), col("category"),
        date_add(to_date(lit(Gen.Epoch)), col("day")).as("upload_date"), col("text"), lit("en").as("lang"))
      .write.mode("overwrite").partitionBy("batch").parquet(docsPath(run))
    spark.createDataFrame(spark.sparkContext.parallelize(
      plan.probes.zipWithIndex.map { case ((t, c), i) => Row(i, t, Gen.category(c)) }, 1),
      StructType(Seq(StructField("batch", IntegerType), StructField("text", StringType),
        StructField("category", StringType))))
      .write.mode("overwrite").parquet(probesPath(run))
    spark.createDataFrame(spark.sparkContext.parallelize(
      plan.batches.flatMap(b => b.deleted.map(d => Row(b.index, d))), 1),
      StructType(Seq(StructField("batch", IntegerType), StructField("doc_id", LongType))))
      .write.mode("overwrite").parquet(deletesPath(run))
    // the run reads its schedule back from the files it hands the engine
    val probes = spark.read.parquet(probesPath(run)).collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2).drop(3).toInt)).toVector
    val deletes = spark.read.parquet(deletesPath(run)).collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).sorted.toVector }
    plan = plan.copy(probes = probes,
      batches = plan.batches.map(b => b.copy(deleted = deletes.getOrElse(b.index, Vector.empty))))
  }

  private var allDocs: DataFrame = _
  private def docs(b: Int): DataFrame = allDocs.where(col("batch") === b)

  /** Chunk rows carry the store's payload: id = doc_id·1000 + chunk index. */
  private def chunked(run: Run, d: DataFrame): DataFrame =
    Chunker.chunk(run.spark, d).toDF()
      .join(d.select("doc_id", "version", "category", "upload_date"), "doc_id")
      .select((col("doc_id") * 1000 + col("chunk_index")).as("id"), col("doc_id"), col("version"),
        col("chunk_index"), col("total_chunks"), col("category"), col("upload_date"), col("text"))

  def setup(run: Run, spark: SparkSession, round: Int): Seq[(String, Double)] = {
    allDocs = spark.read.parquet(docsPath(run))
    val t0 = System.nanoTime()
    val embedded = Embedder.withEmbedding(chunked(run, docs(-1)), "text", "embedding", embedder)
      .localCheckpoint()
    val t1 = System.nanoTime()
    storeRows = embedded.count().toInt
    nList = math.round(math.sqrt(storeRows.toDouble)).toInt
    val (assigned, m) = Ivf.assign(embedded, "embedding", nList)
    storePath = run.storeDir(round, "ingest_ivf")
    Ivf.writeIndexed(assigned, storePath, m, "embedding")
    model = m
    Seq("setup.seed_embed_ms" -> (t1 - t0) / 1e6, "setup.ingest_store_ms" -> (System.nanoTime() - t1) / 1e6)
  }

  private def store(run: Run) = run.spark.read.parquet(storePath)

  /** The store as committed by set-up becomes the expected state; then one
    * untimed batch with its probe warms the write path, and clustering and
    * projection of a 200-row slice warm Ml's code paths.
    */
  def warm(run: Run): Unit = {
    live = store(run).select("id", "doc_id", "version", "category", "embedding").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getString(3).drop(3).toInt,
        r.getSeq[Float](4).toArray)).toMap
    step(run)
    val slice = store(run).orderBy("id").limit(200)
    Ml.clusterAndName(slice, "embedding", "id", "text", new Ml.KMeansClusterer(Clusters)).collect()
    Ml.pca3d(slice, "embedding", "id").collect()
    chunks = 0
    touchedLists = 0
  }

  override def exhausted: Boolean = batch >= MaxBatches

  private val storeSchema = StructType(Seq(StructField("id", LongType), StructField("doc_id", LongType),
    StructField("version", IntegerType), StructField("chunk_index", IntegerType),
    StructField("total_chunks", IntegerType), StructField("category", StringType),
    StructField("upload_date", DateType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def step(run: Run): Unit = {
    val b = plan.batches(batch)
    batch += 1
    val replacedDocs = b.docs.map(_.docId).toSet
    val removed = live.collect { case (id, (doc, _, _, _)) if replacedDocs(doc) || b.deleted.contains(doc) => id }
    var committed = Seq.empty[Row]
    run.op("commit") {
      val rows = run.layer("chunk")(chunked(run, docs(b.index)))(_.collect().toSeq)
      val embedded = run.layer("embed") {
        Embedder.withEmbedding(Inputs.local(run.spark, rows, StructType(storeSchema.fields.dropRight(1))),
          "text", "embedding", embedder)
      }(_.collect().toSeq)
      val touched = run.call("commit") {
        Ivf.applyDelta(run.spark, storePath,
          Inputs.local(run.spark, removed.toSeq.map(Row(_)), StructType(Seq(StructField("id", LongType)))),
          Inputs.local(run.spark, embedded, storeSchema), "id")
      }
      committed = embedded
      touchedLists += touched
      touched
    } { touched => touched > 0 }
    if (committed.nonEmpty) {
      chunks += committed.length
      live = live -- removed ++ committed.map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getString(5).drop(3).toInt, r.getSeq[Float](8).toArray))
      everDeleted = everDeleted ++ removed -- committed.map(_.getLong(0))
    }
    probe(run, b.index)
  }

  /** Clustering and projection run over the store left by the last batch. */
  override def afterLoop(run: Run): Unit = analytics(run)

  private def probe(run: Run, b: Int): Unit = {
    val (text, cat) = plan.probes(b)
    val snapshot = live
    run.op("ivf") {
      val q = embedder.embed(text).map(_.toDouble).toSeq
      q -> run.layer("ivf") {
        Ivf.search(store(run), model, "embedding", "id", q, K, NProbe, Seq(col("category") === Gen.category(cat)))
          .select(col("id"), col("score"))
      }(_.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    } { case (q, hits) =>
      val ids  = snapshot.keys.toArray
      val vecs = ids.map(snapshot(_)._4)
      val want = Stats.topK(ids, vecs, q.toArray, K, i => snapshot(ids(i))._3 == cat)
      def score(id: Long) = snapshot.get(id).map(x => Stats.cosine(x._4, q.toArray)).getOrElse(Double.NaN)
      run.recalls += "probe" -> Stats.recall(hits.map(_._1), want, score)
      run.check(hits.length == want.length &&
        hits.forall { case (id, s) => snapshot.get(id).exists(_._3 == cat) && math.abs(s - score(id)) <= 1e-9 },
        s"probe after batch $b: hits are stale, violate the filter or carry a wrong score")
    }
  }

  private def analytics(run: Run): Unit = {
    val expected = live.keySet
    run.op("cluster") {
      run.layer("cluster") {
        Ml.clusterAndName(store(run), "embedding", "id", "text", new Ml.KMeansClusterer(Clusters))
          .select("id", "label", "cluster_name")
      }(_.collect())
    } { rows =>
      rows.length == expected.size && rows.map(_.getLong(0)).toSet == expected &&
        rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2))
    }
    run.op("project") {
      run.layer("project")(Ml.pca3d(store(run), "embedding", "id"))(_.collect())
    } { rows =>
      rows.length == expected.size && rows.map(_.getLong(0)).toSet == expected &&
        rows.forall(r => (1 to 3).forall(i => !r.isNullAt(i) && java.lang.Double.isFinite(r.getDouble(i))))
    }
  }

  /** Read-your-writes: the store holds exactly the committed chunks of the
    * live documents' latest versions, and nothing deleted.
    */
  override def finish(run: Run): Unit = {
    val rows = store(run).select("id", "doc_id", "version", "chunk_index", "total_chunks").collect()
    val ids  = rows.map(_.getLong(0))
    run.verify(ids.length == live.size, s"store holds ${ids.length} rows, expected ${live.size}")
    run.verify(ids.toSet == live.keySet, "store ids differ from the committed chunk ids")
    run.verify(!ids.exists(everDeleted), "a deleted chunk id is still in the store")
    run.verify(rows.forall(r => live.get(r.getLong(0)).exists(_._2 == r.getInt(2))),
      "a stored chunk is not its document's latest version")
    run.verify(rows.groupBy(_.getLong(1)).forall { case (_, rs) =>
      rs.map(_.getInt(3)).sorted.toSeq == (0 until rs.head.getInt(4)) }, "a document's chunks are incomplete")
    run.verifyRecall("probe", RecallFloor)
    if (run.tracer.enabled) {
      val cw = run.spanWork("commit")
      val n  = run.ops.count(_.kind == "commit")
      if (cw.nonEmpty && chunks > 0) run.extra("commit.bytes_per_chunk") = (cw.map(_._2.outputBytes).sum.toDouble / chunks, "bytes")
      if (n > 0) run.extra("commit.lists_touched") = (touchedLists.toDouble / n / nList, "ratio")
    }
    run.extra("store.files") = (Files.parquet(new java.io.File(storePath)).toDouble, "count")
  }

  def named(run: Run): Seq[(String, Double, String)] = {
    def p50(k: String) = run.ops.filter(_.kind == k).map(_.ms) match {
      case xs if xs.nonEmpty => Stats.median(xs.toSeq)
      case _                 => Double.NaN
    }
    val commits = run.ops.filter(_.kind == "commit").map(_.ms).toSeq
    Seq(("ingest_chunks_per_s", if (commits.isEmpty) Double.NaN else chunks / (commits.sum / 1000), "1/s"),
      ("upsert_p50_ms", p50("commit"), "ms"),
      ("upsert_tail_ms", run.tail(_ == "commit"), "ms"),
      ("ivf_p50_ms", p50("ivf"), "ms"), ("cluster_s", p50("cluster") / 1000, "s"),
      ("project_s", p50("project") / 1000, "s"), ("batches", batch.toDouble, "count"))
  }
}
