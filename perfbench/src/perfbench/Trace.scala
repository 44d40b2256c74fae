package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch nanoseconds. The root span of
  * an operation has `parent == 0` and `op == id`.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (end - start) / 1e6
}

/** Spans recorded from the benchmark's side of each call into the
  * engine. Every span sets the thread's Spark job group to
  * `pb:<span>:<op>`, so [[JobListener]] can hang each Spark job under
  * the span that launched it. Disabled, it only runs the body.
  */
final class Tracer(@volatile var on: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption.getOrElse((0L, id))
      stack.set((id, op) :: outer)
      sc.setJobGroup(s"pb:$id:$op", name, interruptOnCancel = false)
      val t0 = now
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, now))
        stack.set(outer)
        outer.headOption match {
          case Some((p, o)) => sc.setJobGroup(s"pb:$p:$o", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach measured values to the innermost open span's operation. */
  def note(name: String, attrs: Map[String, Double]): Unit =
    if (on) {
      val t = now
      val (parent, op) = stack.get.headOption.getOrElse((0L, 0L))
      spans.add(Span(ids.incrementAndGet(), parent, op, name, t, t, attrs))
    }
}

/** Spark jobs, stages and tasks, attributed to benchmark spans through
  * the job group a [[Tracer]] span sets.
  */
final class JobListener extends SparkListener {
  import JobListener.Task
  final class Job(val id: Int, val span: Long, val op: Long, val start: Long) {
    @volatile var end: Long = start
    val stages = new AtomicLong(0)
    val tasks = new ConcurrentLinkedQueue[Task]()
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    group.split(":") match {
      case Array("pb", s, o) =>
        val j = new Job(e.jobId, s.toLong, o.toLong, e.time * 1000000L)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageJob.put(_, j))
      case _ => ()
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = Option(e.taskMetrics)
      j.tasks.add(Task(e.taskInfo.launchTime * 1000000L,
        e.taskInfo.finishTime * 1000000L,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
    }

  /** Block until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

object JobListener {
  final case class Task(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      records: Long, bytes: Long, shuffle: Long)
}

/** Turns spans and jobs into per-operation layer metrics, self time per
  * layer, and the span file.
  */
object Layers {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-operation metrics: one map per root span. */
  def perOp(spans: Seq[Span], jobs: Seq[JobListener#Job])
      : Seq[(Span, Map[String, Double])] = {
    val byOp = spans.groupBy(_.op)
    val jobsByOp = jobs.groupBy(_.op)
    spans.filter(_.parent == 0).map { root =>
      val kids = byOp.getOrElse(root.id, Nil).filter(_.id != root.id)
      val js = jobsByOp.getOrElse(root.id, Nil)
      val spanName = kids.map(s => s.id -> s.name).toMap
      def jobsUnder(name: String) = js.filter(j => spanName.get(j.span).contains(name))
      // A layer call the operation did not make leaves its metric out,
      // so per-type means average only the operations that made it.
      def ms(name: String): Option[(String, Double)] = {
        val xs = kids.filter(_.name == name)
        if (xs.isEmpty) None else Some(s"${name}_ms" -> xs.map(_.ms).sum)
      }
      val tasks = js.flatMap(_.tasks.asScala)
      val jobIv = js.map(j => (j.start, j.end))
      val schedGap = js.map { j =>
        (j.end - j.start) - covered(j.tasks.asScala.map(t => (t.launch, t.finish)), j.start, j.end)
      }.sum
      val notes = kids.flatMap(_.attrs)
      val calls = Seq("operators.plan", "operators.collect", "store.definition",
        "index.ensure", "index.serve", "expr.compile", "store.insert", "store.upsert",
        "store.delete").flatMap(ms)
      val jobCounts = Seq("operators.plan", "index.serve").filter(n => kids.exists(_.name == n))
        .map(n => s"${n}_jobs" -> jobsUnder(n).size.toDouble)
      val m = Map(
        "wall_ms" -> root.ms,
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> js.map(_.stages.get).sum.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.driver_gap_ms" ->
          ((root.end - root.start) - covered(jobIv, root.start, root.end)) / 1e6,
        "spark.sched_gap_ms" -> schedGap / 1e6,
        "spark.task_ms" -> tasks.map(_.runMs).sum.toDouble,
        "spark.task_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
        "spark.records_read" -> tasks.map(_.records).sum.toDouble,
        "spark.bytes_read" -> tasks.map(_.bytes).sum.toDouble,
        "spark.shuffle_bytes" -> tasks.map(_.shuffle).sum.toDouble) ++ calls ++ jobCounts ++ notes
      root -> (m ++ selfTime(root, kids, js))
    }
  }

  /** Self time per layer within one operation: each span's duration
    * minus the part its children cover; a Spark job is a child of the
    * span whose job group launched it.
    */
  def selfTime(root: Span, kids: Seq[Span], js: Seq[JobListener#Job])
      : Map[String, Double] = {
    val all = (root +: kids.filter(s => s.end > s.start)) ++
      js.map(j => Span(-j.id - 1L, j.span, root.id, "spark.job", j.start, j.end))
    val children = all.groupBy(_.parent)
    all.map { s =>
      val c = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val layer = if (s.id == root.id) "bench" else s.layer
      layer -> ((s.end - s.start) - covered(c, s.start, s.end)) / 1e6
    }.groupMapReduce(kv => s"self.${kv._1}_ms")(_._2)(_ + _)
  }

  /** Spans and Spark jobs as JSON lines. */
  def spanLines(spans: Seq[Span], jobs: Seq[JobListener#Job]): Iterator[String] = {
    def line(name: String, id: Long, parent: Long, op: Long, s: Long, e: Long,
        attrs: Map[String, Any]) = Json.render(Map(
      "name" -> name, "span_id" -> id, "parent_id" -> parent, "op_id" -> op,
      "start_ns" -> s, "end_ns" -> e) ++ attrs)
    spans.iterator.map(s => line(s.name, s.id, s.parent, s.op, s.start, s.end, s.attrs)) ++
      jobs.iterator.map { j =>
        val ts = j.tasks.asScala.toSeq
        line("spark.job", -j.id - 1L, j.span, j.op, j.start, j.end, Map(
          "job_id" -> j.id, "stages" -> j.stages.get, "tasks" -> ts.size,
          "task_ms" -> ts.map(_.runMs).sum, "records_read" -> ts.map(_.records).sum))
      }
  }
}

/** Minimal JSON writer for the report and span files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
