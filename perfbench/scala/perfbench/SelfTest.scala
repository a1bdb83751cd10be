package perfbench

/** Checks of the benchmark's pure parts: the tail percentile, recall, top-k
  * comparison, generator determinism and metric-name validity. Exits
  * non-zero on the first failure.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") } else println(s"ok: $what")

  def main(args: Array[String]): Unit = {
    // tail: p90 of a fixed-size sample, linearly interpolated
    val hundred = (1 to 100).map(_.toDouble)
    expect(math.abs(Stats.percentile(hundred, 90) - 90.1) < 1e-9, "p90 of 1..100 is 90.1 (rank 89.1)")
    expect(Stats.percentile(hundred.reverse, 90) == Stats.percentile(hundred, 90), "percentile ignores sample order")
    expect(math.abs(Stats.percentile((1 to 24).map(_.toDouble), Stats.TailPercentile) - 21.7) < 1e-12,
      "p90 of 24 samples lies between the 21st and 22nd smallest")
    expect(math.abs(Stats.percentile((1 to 10).map(_.toDouble), Stats.TailPercentile) - 9.1) < 1e-12,
      "p90 of 10 samples lies between the 9th and 10th smallest")
    expect(Stats.percentile(Seq(3.0, 1.0, 2.0), 0) == 1.0 && Stats.percentile(Seq(3.0, 1.0, 2.0), 100) == 3.0,
      "p0 and p100 are the minimum and maximum")
    expect(Stats.percentile(Seq(7.0), Stats.TailPercentile) == 7.0, "one sample is its own percentile")
    val kindA = (1 to 10).map(i => "a" -> i.toDouble)
    val kindB = (1 to 10).map(i => "b" -> 10.0 * i)
    expect(math.abs(Stats.tail(kindA) - 9.1) < 1e-9, "tail of one kind is its p90")
    expect(math.abs(Stats.tail(kindB ++ kindA) - math.sqrt(9.1 * 91)) < 1e-9,
      "tail of two kinds is the geometric mean of their p90s")
    expect(Stats.tail(Nil).isNaN, "tail of no samples is NaN")
    expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0, "median")
    expect(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12, "geomean")

    // recall: tie-aware against the exact answer
    val want  = Vector(1L -> 0.9, 2L -> 0.8, 3L -> 0.7)
    val score = Map(1L -> 0.9, 2L -> 0.8, 3L -> 0.7, 4L -> 0.7, 5L -> 0.1)
    expect(Stats.recall(Seq(1L, 2L, 3L), want, score) == 1.0, "recall: exact answer scores 1")
    expect(Stats.recall(Seq(1L, 2L, 4L), want, score) == 1.0, "recall: a tie at the k-th score is a hit")
    expect(math.abs(Stats.recall(Seq(1L, 5L, 2L), want, score) - 2.0 / 3) < 1e-12, "recall: one miss of three")
    expect(Stats.recall(Seq(1L, 1L, 1L), want, score) == 1.0 / 3, "recall: a repeated id counts once")

    // exact top-k comparison
    expect(Stats.sameTopK(want, want, score), "sameTopK: identical")
    expect(Stats.sameTopK(Vector(1L -> 0.9, 2L -> 0.8, 4L -> 0.7), want, score), "sameTopK: tied slot may differ")
    expect(!Stats.sameTopK(Vector(1L -> 0.9, 2L -> 0.8, 5L -> 0.7), want, score), "sameTopK: a wrong id fails")
    expect(!Stats.sameTopK(Vector(1L -> 0.9, 2L -> 0.8, 3L -> (0.7 + 1e-6)), want, score), "sameTopK: score off by 1e-6 fails")
    val c = Gen.corpus(7L, 300, 10, 0.02)._1
    val q = c.vecs(5).map(_.toDouble)
    expect(Stats.topK(c.ids, c.vecs, q, 3).head._1 == 5L || Stats.topK(c.ids, c.vecs, q, 3).head._2 > 0.999999,
      "brute force ranks a query's own vector first")

    // generator determinism
    def corpusDigest(seed: Long) = Gen.digest(Gen.corpus(seed, 400, 20, 0.02)._1.vecs.iterator)
    expect(corpusDigest(3L) == corpusDigest(3L), "corpus: same seed, same vectors")
    expect(corpusDigest(3L) != corpusDigest(4L), "corpus: another seed, other vectors")
    val (c3, centres) = Gen.corpus(3L, 400, 20, 0.02)
    val (c3b, _)      = Gen.corpus(3L, 400, 20, 0.02)
    expect(c3.payloads.map(p => (p.category, p.tags.toSeq, p.day, p.text)).toSeq ==
      c3b.payloads.map(p => (p.category, p.tags.toSeq, p.day, p.text)).toSeq, "corpus: same seed, same payloads")
    val dups = c3.vecs.length - c3.vecs.map(_.toSeq).distinct.length
    expect(dups > 0 && dups < 40, s"corpus: about 2 % exact duplicates ($dups of 400)")
    def reqDigest(seed: Long) = Gen.requests(seed, 60, centres).map(r => (r.kind, r.filter, r.vec.toSeq))
    expect(reqDigest(3L) == reqDigest(3L) && reqDigest(3L) != reqDigest(4L), "requests: deterministic per seed")
    expect(Gen.requests(3L, 120, centres).groupBy(r => (r.kind, r.filter.getClass)).values.forall(_.length == 10),
      "requests: equal counts of each (kind, filter) pair")
    def planOf(seed: Long) = {
      val p = Gen.ingest(seed, 30, 6, 2, 1, 4)
      (p.seedDocs, p.batches, p.probes)
    }
    expect(planOf(9L) == planOf(9L) && planOf(9L) != planOf(10L), "ingest schedule: deterministic per seed")
    val plan = Gen.ingest(9L, 30, 6, 2, 1, 4)
    val liveAtEnd = plan.batches.foldLeft(plan.seedDocs.map(_.docId).toSet) { (live, b) =>
      live -- b.deleted ++ b.docs.map(_.docId)
    }
    expect(liveAtEnd.size == 30, "ingest schedule: the live document count stays constant")
    expect(plan.batches.forall(b => b.deleted.intersect(b.docs.map(_.docId)).isEmpty),
      "ingest schedule: a batch never re-uploads a document it deletes")

    // metric names
    Seq("setup_s", "latency_ms", "tail_ms", "throughput", "recall_at_10", "live_heap_mb", "op.build_ms",
      "setup.hnsw_build_ms", "join_filtered.gate_jobs").foreach(n => expect(Stats.validName(n), s"valid name $n"))
    Seq("", "_x", "a b", "p50%", "x" * 65, "é").foreach(n => expect(!Stats.validName(n), s"invalid name '$n'"))

    if (failures > 0) { System.err.println(s"$failures self-test failure(s)"); sys.exit(1) }
    println("selftest passed")
  }
}
