package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Counters the listener attributes to one span's job group. */
final class Counts {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes
  }
}

/** Attributes every job, and every task of its stages, to the span whose
  * job group was set on the driver thread that submitted it. Events are
  * handled on the listener bus thread; readers call [[ListenerFlush]]
  * before looking.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counts]()
  @volatile var unattributedJobs = 0
  @volatile var failedTasks = 0

  private def counts(span: Int): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).map(_.stripPrefix(Tracer.GroupPrefix).toInt) match {
      case Some(span) =>
        counts(span).jobs += 1
        // a stage shared by several jobs runs its tasks once, for the first
        e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
      case None => unattributedJobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != Success) failedTasks += 1
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = counts(span)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled
      }
    }
  }

  def of(span: Int): Counts = Option(bySpan.get(span)).getOrElse(new Counts)
}

/** One recorded span: a call into a layer, timed from outside. */
final case class Span(id: Int, parent: Int, name: String, iteration: Int,
    startNs: Long, var endNs: Long = 0L) {
  def totalS: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. With `enabled = false` no listener is
  * registered and every span is a pass-through, so the untraced run
  * executes exactly the calls a user would make.
  *
  * A span sets its own Spark job group, so the listener can attribute jobs
  * and tasks to it, and forces its output to materialize before it closes
  * (see [[out]]), so lazy work is charged to the layer that defined it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, val cores: Int) {
  val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var iteration = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, iteration, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A span around a call that returns a lazy frame: in the traced run the
    * frame is checkpointed inside the span, so its computation is charged
    * here and downstream spans read the materialized blocks.
    */
  def out(name: String)(body: => DataFrame): DataFrame =
    apply(name) {
      val df = body
      if (enabled) df.localCheckpoint(eager = true) else df
    }

  def flush(): Unit = org.apache.spark.perfbench.ListenerFlush(sc)

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Own time: the span's interval minus the intervals of its children. */
  def selfS(s: Span): Double = s.totalS - children(s).map(_.totalS).sum

  /** Counts of the span's own job group plus those of its descendants. */
  def inclusive(s: Span): Counts = {
    val c = new Counts
    c.add(listener.of(s.id))
    children(s).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Per span name, per iteration: summed self time, inclusive counts and
    * the idle-core time of the span's own interval (cores × self time −
    * own task time).
    */
  def table(iter: Int): Map[String, SpanStats] =
    spans.filter(_.iteration == iter).groupBy(_.name).map { case (n, ss) =>
      val st = SpanStats()
      ss.foreach { s =>
        val self = selfS(s)
        val inc = inclusive(s)
        st.selfS += self
        st.counts.add(inc)
        st.idleCoreS += cores * self - listener.of(s.id).taskMs / 1000.0
      }
      n -> st
    }

  def json(): String = spans.map { s =>
    val c = listener.of(s.id)
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","iteration":${s.iteration},""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f,"self_s":${selfS(s)}%.6f,""" +
      s""""jobs":${c.jobs},"tasks":${c.tasks},"task_s":${c.taskMs / 1000.0},""" +
      s""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      s""""shuffle_write_records":${c.shuffleWriteRecords},"spill_bytes":${c.spillBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  /** Iteration index of the spans `Workload.traceExtras` opens. */
  val ExtrasIteration = -1
}

final case class SpanStats(var selfS: Double = 0.0, counts: Counts = new Counts,
    var idleCoreS: Double = 0.0)
