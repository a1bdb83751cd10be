package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything a workload feeds the engine is made
  * here from the seed alone (same seed, same inputs, on any JVM) and written
  * as parquet before any timing starts. The vectors are 768-d float arrays,
  * the reference's embedding shape.
  */
object Gen {
  val Dim        = 768
  val Categories = 10
  val Tags       = 20
  val Days       = 365
  val Epoch      = "2024-01-01"

  def category(i: Int): String = f"cat$i%02d"
  def tag(i: Int): String      = f"t$i%02d"

  /** Box-Muller from the splittable stream: the JDK's nextGaussian
    * algorithm is not part of its contract, this is.
    */
  private def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def unit(r: SplittableRandom): Array[Double] = {
    val g = Array.fill(Dim)(gaussian(r))
    val n = math.sqrt(g.map(x => x * x).sum)
    g.map(_ / n)
  }

  /** A point of latent cluster `c`: centre plus noise of norm `spread`. */
  private def near(r: SplittableRandom, centre: Array[Double], spread: Double): Array[Float] = {
    val e = unit(r)
    Array.tabulate(Dim)(i => (centre(i) + spread * e(i)).toFloat)
  }

  final case class Payload(category: Int, tags: Array[Int], day: Int, text: String)

  private def payload(r: SplittableRandom, id: Long): Payload = {
    val nTags = 1 + r.nextInt(3)
    val tags  = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0 until Tags).toVector).take(nTags).sorted.toArray
    Payload(r.nextInt(Categories), tags, r.nextInt(Days), s"chunk $id of a seeded synthetic corpus")
  }

  /** Filter kinds a request or query group can carry. */
  sealed trait Filter { def admits(p: Payload): Boolean }
  case object NoFilter extends Filter { def admits(p: Payload) = true }
  final case class CategoryIs(c: Int) extends Filter { def admits(p: Payload) = p.category == c }
  final case class DayRange(lo: Int, hi: Int) extends Filter { def admits(p: Payload) = p.day >= lo && p.day <= hi }
  final case class TagOverlap(ts: Seq[Int]) extends Filter { def admits(p: Payload) = p.tags.exists(ts.contains) }

  private def filter(r: SplittableRandom, kind: Int): Filter = kind match {
    case 0 => NoFilter
    case 1 => CategoryIs(r.nextInt(Categories))
    case 2 => val lo = r.nextInt(Days - 60); DayRange(lo, lo + 59)
    case _ =>
      val a = r.nextInt(Tags); val b = (a + 1 + r.nextInt(Tags - 1)) % Tags
      TagOverlap(Seq(a, b).sorted)
  }

  final case class Corpus(ids: Array[Long], vecs: Array[Array[Float]], payloads: Array[Payload])

  def centres(seed: Long, clusters: Int): Array[Array[Double]] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    Array.fill(clusters)(unit(r))
  }

  /** Each row draws from its own stream, so rows can be made in parallel,
    * in any order, and still come out the same for the same seed.
    */
  private def rowRandom(seed: Long, i: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 6 + 31 * i)

  private def isDup(seed: Long, i: Long, dupFrac: Double) = i > 0 && rowRandom(seed, i).nextDouble() < dupFrac

  /** Row `i` of the corpus: a point near one of the latent centres, or with
    * probability `dupFrac` an exact copy of an earlier row's vector (a
    * re-uploaded file) with its own id and payload.
    */
  def corpusRow(seed: Long, i: Long, centres: Array[Array[Double]], dupFrac: Double): (Array[Float], Payload) = {
    val r = rowRandom(seed, i)
    val dup = isDup(seed, i, dupFrac)
    r.nextDouble()
    val pay = payload(r, i)
    val src =
      if (!dup) i
      else { var j = r.nextLong(i); while (isDup(seed, j, dupFrac)) j -= 1; j }
    val rs = rowRandom(seed, src)
    rs.nextDouble(); payload(rs, src)
    (near(rs, centres(rs.nextInt(centres.length)), 0.8), pay)
  }

  /** The whole corpus in memory (what the parquet writer produces row by
    * row), with the centres queries are drawn near.
    */
  def corpus(seed: Long, n: Int, clusters: Int, dupFrac: Double): (Corpus, Array[Array[Double]]) = {
    val cs   = centres(seed, clusters)
    val rows = Array.tabulate(n)(i => corpusRow(seed, i.toLong, cs, dupFrac))
    (Corpus(Array.tabulate(n)(_.toLong), rows.map(_._1), rows.map(_._2)), cs)
  }

  /** One interactive request: which operator, which filter, a fresh query. */
  final case class Request(kind: Int, filter: Filter, vec: Array[Float])

  val RequestKinds = Vector("exact", "ivf", "hnsw")

  /** Requests in seeded order, equal counts per (kind, filter) pair: each
    * block of 12 holds every pair once, shuffled.
    */
  def requests(seed: Long, count: Int, centres: Array[Array[Double]]): Vector[Request] = {
    val r   = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val rnd = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
    Iterator.continually(rnd.shuffle(for (k <- 0 until 3; f <- 0 until 4) yield (k, f)))
      .flatten.take(count).map { case (k, f) =>
        Request(k, filter(r, f), near(r, centres(r.nextInt(centres.length)), 0.8))
      }.toVector
  }

  /** Query batches for the batch joins: `batches` × `perBatch` fresh
    * queries, each tagged with one of the `groups` predicate groups.
    */
  final case class QueryBatch(vecs: Array[Array[Float]], group: Array[Int])

  def queryBatches(seed: Long, batches: Int, perBatch: Int, groups: Int,
      centres: Array[Array[Double]]): Vector[QueryBatch] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    Vector.fill(batches)(QueryBatch(
      Array.fill(perBatch)(near(r, centres(r.nextInt(centres.length)), 0.8)),
      Array.tabulate(perBatch)(i => (i + r.nextInt(groups)) % groups)))
  }

  /** The predicate groups of a batch-join batch: fixed per seed. */
  def predicateGroups(seed: Long): Vector[Filter] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 4)
    Vector(filter(r, 1), filter(r, 2), filter(r, 3))
  }

  // ------------------------------------------------------------ documents

  /** Word pools: per-topic words make a topic's documents embed near each
    * other under the hashing embedder; common words are shared noise.
    */
  private def word(topic: Int, j: Int): String =
    if (topic < 0) s"c${Integer.toString(j, 36)}" else s"t${topic}w${Integer.toString(j, 36)}"

  final case class Doc(docId: Long, version: Int, topic: Int, category: Int, day: Int, text: String)

  private def document(r: SplittableRandom, docId: Long, version: Int, topics: Int): Doc = {
    val topic = r.nextInt(topics)
    val words = 400 + r.nextInt(1200)
    val sb    = new StringBuilder
    var left  = words
    while (left > 0) {
      val len = math.min(left, 8 + r.nextInt(14))
      var j = 0
      while (j < len) {
        val w = if (r.nextDouble() < 0.6) word(topic, r.nextInt(40)) else word(-1, r.nextInt(300))
        sb.append(if (j == 0) w.capitalize else w)
        sb.append(if (j == len - 1) ". " else " ")
        j += 1
      }
      left -= len
    }
    Doc(docId, version, topic, r.nextInt(Categories), r.nextInt(Days), sb.toString.trim)
  }

  /** One ingest batch: new documents, re-uploads of live documents (same
    * doc id, next version) and deletions of live documents.
    */
  final case class Batch(index: Int, docs: Vector[Doc], deleted: Vector[Long])

  final case class IngestPlan(seedDocs: Vector[Doc], batches: Vector[Batch], probes: Vector[(String, Int)])

  /** The whole ingest schedule, decided up front so it does not depend on
    * timing: `seedDocs` documents, then `batches` batches that each add
    * `adds`, re-upload `replaces` and delete `adds` live documents, so the
    * store stays the same size while every batch rewrites part of it. One
    * probe (query text, category) per batch.
    */
  def ingest(seed: Long, seedDocs: Int, batches: Int, adds: Int, replaces: Int, topics: Int): IngestPlan = {
    val r        = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 5)
    val initial  = Vector.tabulate(seedDocs)(i => document(r, i.toLong, 1, topics))
    val live     = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    initial.foreach(d => live(d.docId) = d.version)
    var next     = seedDocs.toLong
    val bs = Vector.tabulate(batches) { b =>
      val pool     = live.keys.toVector
      val picked   = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(pool).take(replaces + adds)
      val replaced = picked.take(replaces).map(id => document(r, id, live(id) + 1, topics))
      val deleted  = picked.drop(replaces)
      val fresh    = Vector.fill(adds) { val d = document(r, next, 1, topics); next += 1; d }
      deleted.foreach(live.remove)
      (replaced ++ fresh).foreach(d => live(d.docId) = d.version)
      Batch(b, replaced ++ fresh, deleted)
    }
    val probes = Vector.fill(batches) {
      val topic = r.nextInt(topics)
      (Vector.fill(12)(word(topic, r.nextInt(40))).mkString(" "), r.nextInt(Categories))
    }
    IngestPlan(initial, bs, probes)
  }

  /** Order-sensitive digest of generated vectors, for determinism checks. */
  def digest(vecs: Iterator[Array[Float]]): Long = {
    var h = 1125899906842597L
    vecs.foreach(_.foreach(x => h = 31 * h + java.lang.Float.floatToIntBits(x)))
    h
  }
}
