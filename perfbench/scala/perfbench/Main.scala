package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One benchmark run: start the session, generate the workload's inputs
  * from the seed, build the stores (several times, median reported), then
  * drive the workload with one single-threaded closed-loop client for the
  * given seconds, check every output, and print the result line last.
  *
  *   perfbench.Main --workload search --seed 1 --seconds 15 --trace 0 --work DIR
  *
  * With --trace 1 the same run records spans around every call into the
  * engine's layers and a SparkListener attributes jobs and task metrics to
  * them; the result line then carries the per-layer metrics.
  */
object Main {
  val SetupRounds = 2
  /** The tail sample is the operations of the loop's first TailSteps
    * steps; the loop runs at least this many steps, even past its deadline,
    * so the sample's size does not depend on the code's speed.
    */
  val TailSteps = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: java.io.File, commit: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1: $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      new java.io.File(need("work")), m.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case "search"    => new SearchWorkload
      case "pipeline"  => new PipelineWorkload(new BatchKnnWorkload, new IngestWorkload)
      case other       => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val run = new Run(a)
    val out = run.execute(workload)
    println(out.info)
    println(out.line)
    if (!out.correct) sys.exit(1)
  }
}

/** What a workload does in each phase. `generate` runs untimed; `setup`
  * runs SetupRounds times in the session; `warm` and `step` use the last
  * round's stores.
  */
trait Workload {
  def sizes: Seq[(String, Any)]
  def generate(run: Run, spark: SparkSession): Unit
  /** Build the stores; returns named build timings in ms. */
  def setup(run: Run, spark: SparkSession, round: Int): Seq[(String, Double)]
  def warm(run: Run): Unit
  /** One closed-loop step: issue the next operation(s) and check them. */
  def step(run: Run): Unit
  /** Extra metrics named after the workload's own operations. */
  def named(run: Run): Seq[(String, Double, String)]
  /** Checks that need the whole measured phase (e.g. read-your-writes). */
  def finish(run: Run): Unit = ()
  /** Measured operations that run once after the timed loop, outside the
    * throughput window.
    */
  def afterLoop(run: Run): Unit = ()
  /** True when the workload's pre-generated schedule has run out. */
  def exhausted: Boolean = false
}

final class Run(val args: Main.Args) {
  val seed = args.seed
  var spark: SparkSession = _
  var tracer: Tracer      = _
  val dataDir             = new java.io.File(args.work, "input").getAbsolutePath
  def storeDir(round: Int, name: String) = new java.io.File(args.work, s"stores/r$round/$name").getAbsolutePath

  /** The operations the tail is taken over: those of the first
    * Main.TailSteps measured steps.
    */
  var tailOps: Seq[OpRec] = Nil

  /** Stats.tail of the tail sample's operations whose kind `kinds` admits. */
  def tail(kinds: String => Boolean = _ => true): Double =
    Stats.tail(tailOps.filter(o => kinds(o.kind)).map(o => o.kind -> o.ms))

  /** Operations of the measured phase: (kind, latency ms, ok). */
  val ops      = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Recall@10 samples, by the workload part that measured them. */
  val recalls  = mutable.ArrayBuffer.empty[(String, Double)]
  def recallOf(part: String): Seq[Double] = recalls.collect { case (p, r) if p == part => r }.toSeq

  /** Whole-run check that a part's mean recall meets its floor. */
  def verifyRecall(part: String, floor: Double): Unit = {
    val rs = recallOf(part)
    if (rs.nonEmpty) verify(Stats.mean(rs) >= floor, f"$part recall@10 ${Stats.mean(rs)}%.4f below floor $floor")
  }
  /** Workload-specific per-layer figures: name -> (value, unit). */
  val extra    = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var measuring = false

  def fail(what: String): Unit = if (failures.length < 20) failures += what

  final class OpRec(val kind: String, val ms: Double, var ok: Boolean)
  private val deferred = mutable.ArrayBuffer.empty[() => Unit]

  /** Run one operation: time `body`, catch its failure, and when the
    * measured phase is on record it. `verify` checks the result after the
    * measured phase, so checking costs no measured time; a false or a
    * throw marks the operation failed.
    */
  def op[T](kind: String)(body: => T)(verify: T => Boolean): Unit = {
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.span(kind)(body))
      catch { case scala.util.control.NonFatal(e) => fail(s"$kind: $e"); None }
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      val rec = new OpRec(kind, ms, res.isDefined)
      ops += rec
      res.foreach { r =>
        deferred += (() => rec.ok = rec.ok && (
          try check(verify(r), s"$kind: wrong result")
          catch { case scala.util.control.NonFatal(e) => fail(s"$kind check: $e"); false }))
      }
    }
  }

  /** A call into a layer that returns a frame: build, plan, then the action
    * reuses the planned frame. Each phase is its own span.
    */
  def layer[T](name: String)(build: => DataFrame)(exec: DataFrame => T): T =
    tracer.span(name) {
      val df  = tracer.span(s"$name.build")(build)
      tracer.span(s"$name.plan")(df.queryExecution.executedPlan)
      val out = tracer.span(s"$name.exec")(exec(df))
      if (tracer.enabled) scanned.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += filesRead(df)
      out
    }

  /** Traced runs: bytes of files each layer call's action scanned, from the
    * scan nodes' own metric (task input metrics miss parquet's reads).
    */
  val scanned = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def filesRead(df: DataFrame): Double = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    aqe.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("filesSize")).map(_.value.toDouble).sum
  }

  /** A layer call that is one opaque operation (no frame handed back). */
  def call[T](name: String)(body: => T): T = tracer.span(name)(tracer.span(s"$name.exec")(body))

  def check(ok: Boolean, what: => String): Boolean = { if (!ok) fail(what); ok }

  /** Whole-run checks (made after the measured phase) count as operations
    * of their own in `attempted` and `failed`.
    */
  var verified, verifyFailed = 0
  def verify(ok: Boolean, what: => String): Unit = {
    verified += 1
    if (!check(ok, what)) verifyFailed += 1
  }

  /** CPU time the hypervisor gave to others (steal), in seconds since boot. */
  private def stealS(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")(8).toDouble / 100)
      .getOrElse(Double.NaN)

  private def loadavg(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble).getOrElse(-1.0)

  /** Heap in use after full collections, in MB: what the run retains at
    * that point, independent of how far the heap has grown. Spark's cleaner
    * thread frees broadcast and shuffle blocks only after a collection has
    * found their handles unreachable, so collections repeat, with a pause
    * between, until the heap stops shrinking by more than 1 %.
    */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect() = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur  = prev
    var rounds = 0
    do { prev = cur; Thread.sleep(200); cur = collect(); rounds += 1 } while (rounds < 5 && cur < prev * 0.99)
    log(f"live heap $cur%.1f MB after ${rounds + 1} collections")
    cur
  }

  private def peakRssMb(): Double =
    scala.util.Try {
      val l = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  final case class Output(info: String, line: String, correct: Boolean)

  private val born = System.nanoTime()
  /** Progress on stderr, so a slow phase shows in the run's log. */
  def log(what: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s $what")

  def execute(w: Workload): Output = {
    val load0 = loadavg()
    // set-up = the cold session start a user pays once per process, plus
    // the store builds, which run SetupRounds times (median reported)
    val s0 = System.nanoTime()
    spark = graft.Engine.session("perfbench")
    val sessionMs = (System.nanoTime() - s0) / 1e6
    log("session started")
    // inputs: made and written before anything is timed
    val g0 = System.nanoTime()
    w.generate(this, spark)
    val genS = (System.nanoTime() - g0) / 1e9
    log("inputs generated")
    val rounds = (0 until Main.SetupRounds).map { r =>
      val builds = w.setup(this, spark, r)
      log(s"set-up round $r: ${builds.map { case (k, v) => f"$k=$v%.0f" }.mkString(" ")}")
      builds
    }
    val setupS = (sessionMs + Stats.median(rounds.map(_.map(_._2).sum))) / 1000
    val setupParts = ("setup.session_ms" -> sessionMs) +:
      rounds.head.map(_._1).map(k => k -> Stats.median(rounds.map(_.toMap.apply(k))))

    tracer = new Tracer(args.trace, spark.sparkContext)
    w.warm(this)
    log("warm")
    tracer.spans.clear()
    measuring = true
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val m0 = System.nanoTime()
    val steal0 = stealS()
    var steps, tailN = 0
    while ((System.nanoTime() < deadline || steps < Main.TailSteps) && !w.exhausted) {
      w.step(this)
      steps += 1
      if (steps == Main.TailSteps) tailN = ops.length
    }
    tailOps = ops.take(tailN).toSeq
    val measuredS = (System.nanoTime() - m0) / 1e9
    val stealFrac = (stealS() - steal0) / (measuredS * Runtime.getRuntime.availableProcessors())
    val loopOps   = ops.length
    w.afterLoop(this)
    measuring = false
    val liveHeap = liveHeapMb()
    tracer.drain()
    log(s"measured ${ops.length} operations")
    deferred.foreach(_())
    w.finish(this)
    log("checked")

    val load1 = loadavg()
    val attempted = ops.length + verified
    val failed    = ops.count(!_.ok) + verifyFailed
    val correct   = failed == 0 && failures.isEmpty && ops.nonEmpty
    val byKind    = ops.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.ms).toSeq) }
    // latency_ms covers the loop's operation kinds; the single after-loop
    // operations (clustering, projection) are in the record only
    val loopKinds = ops.take(loopOps).map(_.kind).toSet
    val tailV     = tail()
    val recall = if (recalls.isEmpty) 1.0 else Stats.mean(recalls.map(_._2).toSeq)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_ms", Stats.geomean(byKind.filter(k => loopKinds(k._1)).values.toSeq), "ms"),
      ("tail_ms", tailV, "ms"),
      ("throughput", loopOps / measuredS, "1/s"),
      ("recall_at_10", recall, "ratio"),
      ("live_heap_mb", liveHeap, "MB"),
    )
    val layers = if (args.trace) perLayer(setupParts) else Nil
    val metrics = if (args.trace) layers else e2e
    metrics.foreach { case (n, _, _) => require(Stats.validName(n), s"bad metric name $n") }

    val named = w.named(this)
    val spanTable = if (args.trace) perSpan() else Nil
    if (args.trace) tracer.writeJsonl(new java.io.File(args.work, s"spans-${args.workload}-s$seed.jsonl"))

    def num(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    def obj(xs: Seq[(String, Double, String)]) =
      xs.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_graft_cpus" -> str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString,
      "load1_start" -> num(load0), "load1_end" -> num(load1), "steal_frac" -> num(stealFrac),
      "commit" -> str(args.commit), "seed" -> seed.toString,
      "java" -> str(sys.props("java.version")), "spark" -> str(spark.version),
    ).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val sizes = w.sizes.map { case (k, v) =>
      s""""$k":${v match { case s: String => str(s); case x => x.toString }}""" }.mkString("{", ",", "}")
    val info = Seq(
      s""""workload":${str(args.workload)}""", s""""trace":${args.trace}""",
      s""""env":$env""", s""""sizes":$sizes""", s""""generate_s":${num(genS)}""",
      s""""measured_s":${num(measuredS)}""",
      s""""peak_rss_mb":${num(peakRssMb())}""",
      s""""error_rate":${num(if (attempted == 0) 1.0 else failed.toDouble / attempted)}""",
      s""""tail":{"value_ms":${num(tailV)},"percentile":${num(Stats.TailPercentile)},"samples":${tailOps.length}}""",
      s""""ops":${byKind.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":{"p50_ms":${num(v)},"n":${ops.count(_.kind == k)},"ms":${ops.filter(_.kind == k)
          .map(o => f"${o.ms}%.1f").mkString("[", ",", "]")}}""" }.mkString("{", ",", "}")}""",
      s""""end_to_end":${obj(e2e)}""",
      s""""named":${obj(named)}""",
      s""""setup_parts":${obj(setupParts.map { case (k, v) => (k, v, "ms") })}""",
      s""""per_layer":${obj(layers)}""",
      s""""spans":${obj(spanTable)}""",
      s""""failures":${failures.map(str).mkString("[", ",", "]")}""",
    ).mkString("{\"info\":{", ",", "}}")
    val pw = new java.io.PrintWriter(new java.io.File(args.work, s"result-${args.workload}-s$seed-t${if (args.trace) 1 else 0}.json"), "UTF-8")
    try pw.println(info) finally pw.close()
    val line =
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)}}"""
    Output(info, line, correct)
  }

  /** Every traced call of one layer, with the Spark work under it. */
  def spanWork(name: String): Seq[(Span, Work)] =
    tracer.spans.toSeq.filter(s => s.parent != 0L && s.name == name).map(s => s -> tracer.subtreeWork(s))

  /** Top-level spans are the workload's operations. */
  private def opSpans = tracer.spans.filter(_.parent == 0L)

  /** Workload-generic per-layer metrics: per operation, the mean over the
    * measured operations of each phase's time and the Spark work under it.
    */
  private def perLayer(setupParts: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val roots = opSpans.toSeq
    val n     = math.max(1, roots.length).toDouble
    def phase(suffix: String) = tracer.spans.filter(_.name.endsWith(suffix)).map(_.ms).sum / n
    val works  = roots.map(r => r -> tracer.subtreeWork(r))
    def per(f: Work => Double) = works.map(x => f(x._2)).sum / n
    val self   = tracer.selfMs
    val benchSelf = roots.map(r => self(r.id)).sum / n
    Seq(
      ("op.build_ms", phase(".build"), "ms"),
      ("op.plan_ms", phase(".plan"), "ms"),
      ("op.exec_ms", phase(".exec"), "ms"),
      ("op.driver_ms", works.map { case (r, w) => tracer.driverMs(r, w) }.sum / n, "ms"),
      ("op.jobs", per(_.jobs), "count"),
      ("op.tasks", per(_.tasks), "count"),
      ("op.cpu_ms", per(_.cpuNs / 1e6), "ms"),
      ("op.gc_ms", per(_.gcMs.toDouble), "ms"),
      ("op.input_mb", per(_.inputBytes / 1048576.0), "MB"),
      ("op.shuffle_mb", per(w => (w.shuffleWrite + w.shuffleRead) / 1048576.0), "MB"),
      ("op.bench_self_ms", benchSelf, "ms"),
      ("setup.session_ms", setupParts.toMap.apply("setup.session_ms"), "ms"),
      ("setup.build_ms", setupParts.filter(_._1 != "setup.session_ms").map(_._2).sum, "ms"),
    )
  }

  /** The `<span>.<quantity>` table: for every layer span of this
    * workload, per-call means of its phases and attributed Spark work, plus
    * its self time, and the extras the workload recorded.
    */
  private def perSpan(): Seq[(String, Double, String)] = {
    val all   = tracer.spans.toSeq
    val kids  = all.groupBy(_.parent)
    val self  = tracer.selfMs
    val layerSpans = all.filter(s => s.parent != 0L && !s.name.contains('.')).groupBy(_.name)
    layerSpans.toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val n = ss.length.toDouble
      def phase(p: String) = ss.map(s => kids.getOrElse(s.id, Nil).filter(_.name == s"$name.$p").map(_.ms).sum).sum / n
      val ws = ss.map(s => s -> tracer.subtreeWork(s))
      def per(f: Work => Double) = ws.map(x => f(x._2)).sum / n
      Seq(
        (s"$name.calls", n, "count"),
        (s"$name.wall_ms", ss.map(_.ms).sum / n, "ms"),
        (s"$name.self_ms", ss.map(s => self(s.id)).sum / n, "ms"),
        (s"$name.build_ms", phase("build"), "ms"),
        (s"$name.plan_ms", phase("plan"), "ms"),
        (s"$name.exec_ms", phase("exec"), "ms"),
        (s"$name.jobs", per(_.jobs), "count"),
        (s"$name.driver_ms", ws.map { case (s, w) => tracer.driverMs(s, w) }.sum / n, "ms"),
        (s"$name.cpu_ms", per(_.cpuNs / 1e6), "ms"),
        (s"$name.gc_ms", per(_.gcMs.toDouble), "ms"),
        (s"$name.input_bytes", per(_.inputBytes.toDouble), "bytes"),
        (s"$name.shuffle_bytes", per(w => (w.shuffleWrite + w.shuffleRead).toDouble), "bytes"),
        (s"$name.output_bytes", per(_.outputBytes.toDouble), "bytes"),
      )
    } ++ extra.toSeq.map { case (k, (v, u)) => (k, v, u) }
  }
}
