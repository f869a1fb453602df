package perfbench

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** What one iteration delivered: how many work items it completed and, for
  * workloads that hand results over one at a time, the time from the start
  * of the iteration (or the previous result) to each result.
  */
final case class IterResult(items: Long, gapsMs: Seq[Double], wallS: Double)

/** One benchmark workload. `prepare` makes or loads the inputs (set-up);
  * `iterate` runs one closed-loop iteration and records its own checks in
  * `checks`.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def iterate(spark: SparkSession, t: Tracer, checks: Checks): IterResult
  /** Ratios and counts the traced run reports next to the span metrics. */
  def traceExtras(spark: SparkSession, t: Tracer): Map[String, Double] = Map.empty
  /** Workload-named end-to-end figures, printed for readers. */
  def named(iters: Seq[IterResult]): Seq[(String, Double, String)]
}

/** Operation and check accounting behind `attempted`, `failed` and
  * `failure_rate`. A failed check counts as a failed operation.
  */
final class Checks {
  var attempted = 0
  var failed = 0
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Exception => failures += s"$what: $e"; false }
    if (!pass) {
      failed += 1
      if (!failures.exists(_.startsWith(what))) failures += what
    }
  }

  /** Run one operation; an exception marks it failed instead of ending the run. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: $e"
        None
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentile by linear interpolation between the closest ranks
    * (numpy's default method).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    val pos = (p / 100.0) * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Largest Java heap occupancy left after any garbage collection since
    * [[watchHeap]] was called, in MB: the live set the run needed at its
    * peak. Unlike resident set size it does not follow the collector's
    * heap-sizing decisions, which made peak RSS spread by about 30% between
    * otherwise identical runs.
    */
  @volatile private var heapPeakBytes = 0L

  def watchHeap(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { heapPeakBytes = math.max(heapPeakBytes, used) }
          }, null, null)
      case _ =>
    }
  }

  def peakHeapMb(): Double = heapPeakBytes / 1e6

  /** Peak resident set size of this JVM (Linux VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}

/** Benchmark entry point, run in one JVM per workload:
  * `--workload corpus|curate|feed --seed N --seconds S --trace 0|1`.
  *
  * Closed loop, one client: each iteration starts when the previous one has
  * delivered its last result, on `local[cores]` with cores = available
  * processors. The run sets up `SetupRepeats` times (session start plus
  * input generation or load) and reports the median, then measures
  * iterations for `--seconds` seconds: at least one, at least two when
  * traced so the two can be compared.
  *
  * There is no warm-up iteration. Each run is a fresh JVM, as each
  * curation or feeding job is, and users pay JIT compilation and code
  * generation on every job; the first iteration measures what they pay.
  * With the benchmark's `run_seconds` of 1 every untraced run measures
  * exactly that one iteration.
  *
  * Prints human-readable `metric` lines, then one JSON line as the last
  * line of stdout. Exits non-zero if a check failed or nothing was measured.
  */
object Main {
  val SetupRepeats = 3
  /** Paths relative to the checkout root, where the benchmark runs. */
  val Fixtures = "perfbench/fixtures"
  val Work = ".bench_build/work"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val workload: Workload = workloadName match {
      case "corpus" => new Corpus(seed, s"$Fixtures/sf0.01", s"$Fixtures/corpus_pins.tsv")
      case "curate" => new Curate(seed, s"$Work/curate")
      case "feed" => new Feed(seed, s"$Work/feed")
      case other => sys.error(s"unknown workload $other (corpus, curate, feed)")
    }
    val checks = new Checks
    Stats.watchHeap()

    // ---- set-up: session start + inputs, repeated
    var spark: SparkSession = null
    val sessionS = Seq.newBuilder[Double]
    val inputS = Seq.newBuilder[Double]
    val setupS = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = GraftSession.local(cores)
      val t1 = System.nanoTime()
      workload.prepare(spark)
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      inputS += (t2 - t1) / 1e9
      (t2 - t0) / 1e9
    }
    val tracer = new Tracer(spark.sparkContext, traced, cores)

    // ---- measured closed loop, starting cold
    val iters = Vector.newBuilder[IterResult]
    var n = 0
    val tm = System.nanoTime()
    while (n < (if (traced) 2 else 1) || (System.nanoTime() - tm) / 1e9 < seconds) {
      tracer.iteration = n + 1
      iters += workload.iterate(spark, tracer, checks)
      n += 1
    }
    val measured = iters.result()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("wall_s", Stats.median(measured.map(_.wallS)), "s"),
        ("peak_heap_mb", Stats.peakHeapMb(), "MB"))
      else {
        tracer.flush()
        tracer.iteration = Tracer.ExtrasIteration
        val extras = workload.traceExtras(spark, tracer)
        tracer.flush()
        val layer = Layers.metrics(tracer, Stats.median(sessionS.result())) ++
          extras.toSeq.map { case (k, v) => (k, v, Layers.unitOf(k)) } ++
          Seq(("failed_tasks", tracer.listener.failedTasks.toDouble, "count"),
            ("traced_wall_s", measured.head.wallS, "s"))
        val diff = Layers.determinism(tracer)
        println(s"trace $workloadName determinism " +
          (if (diff.isEmpty) "identical jobs, tasks, shuffle records and shuffle bytes per span in iterations 1 and 2"
          else s"differs: ${diff.mkString("; ")}"))
        println(s"trace $workloadName unattributed_jobs ${tracer.listener.unattributedJobs}")
        val file = new java.io.File(s"$Work/trace-$workloadName-seed$seed.json")
        file.getParentFile.mkdirs()
        java.nio.file.Files.writeString(file.toPath, tracer.json())
        println(s"trace $workloadName spans ${file.getPath}")
        Layers.names.map(n => layer.find(_._1 == n).getOrElse((n, 0.0, Layers.unitOf(n))))
      }

    val failureRate = checks.failed.toDouble / math.max(1, checks.attempted)
    if (!traced) {
      (workload.named(measured) ++ Seq(
        ("failure_rate", failureRate, "ratio"),
        ("iterations", measured.size.toDouble, "count"),
        ("setup_session_s", Stats.median(sessionS.result()), "s"),
        ("setup_inputs_s", Stats.median(inputS.result()), "s"),
        ("peak_rss_mb", Stats.peakRssMb(), "MB")))
        .foreach { case (k, v, u) => println(s"metric $workloadName $k $v $u") }
    }
    println(s"iterations $workloadName wall_s ${measured.map(_.wallS).mkString(" ")}")
    checks.failures.foreach(f => println(s"check $workloadName FAILED $f"))
    spark.stop()

    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    val correct = checks.failed == 0
    if (metrics.exists { case (_, v, _) => v.isNaN || v.isInfinite })
      sys.error("a metric is not finite")
    println(s"""{"correct": $correct, "attempted": ${checks.attempted}, "failed": ${checks.failed}, "metrics": {$body}}""")
    if (!correct) System.exit(1)
  }
}
