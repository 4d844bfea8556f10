package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One benchmark call into the program (`runFrom`, `Daemon.run`). */
final case class OpSpan(id: Long, name: String, startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** A unit of Spark work inside one op: a SQL execution with its jobs, or a
  * job that runs outside any SQL execution. `action` is the call site's
  * short form ("count at Frontier.scala:612"), `site` its long form (the
  * program's stack), `target` the path the work writes to ("" if none). */
private final case class Work(op: Long, action: String, site: String, target: String,
    startMs: Long, endMs: Long, jobIds: Seq[Int])

/**
 * In-memory trace of the benchmark's calls into the program. The benchmark
 * opens an op span around each call it makes; this listener, registered
 * from outside the program, adds the SQL executions, jobs and stages the
 * call caused. Jobs are parented to their op through a local property set
 * on the benchmark's driver thread. Nothing is written until [[dump]].
 */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val lock = new Object
  private var nextId = 1L
  private def newId(): Long = lock.synchronized { val i = nextId; nextId += 1; i }

  private final class Exec(val action: String, val site: String, val target: String,
      val startMs: Long) {
    var endMs = -1L
  }
  private final class Job(val op: Long, val execId: Long, val action: String,
      val site: String, val stageIds: Seq[Int], val startMs: Long) { var endMs = -1L }
  private final class Stage(val spanId: Long) {
    var name = ""
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L; var shuffleWrite = 0L; var spill = 0L; var output = 0L
    var startMs = -1L; var endMs = -1L
  }
  private val ops = mutable.ArrayBuffer.empty[OpSpan]
  private val execs = mutable.HashMap.empty[Long, Exec]           // by SQL execution id
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]        // by job id
  private val stageJob = mutable.HashMap.empty[Int, Int]          // stage id -> job id
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage] // (stage, attempt)
  private val flushed = mutable.HashSet.empty[String]

  /** Runs `f` as one traced op; the Spark work it triggers is parented to it. */
  def op[T](name: String)(f: => T): (T, OpSpan) = {
    val id = newId()
    sc.setLocalProperty(SpanKey, id.toString)
    val start = System.currentTimeMillis()
    try {
      val r = f
      val s = OpSpan(id, name, start, System.currentTimeMillis())
      lock.synchronized(ops += s)
      (r, s)
    } finally sc.setLocalProperty(SpanKey, null)
  }

  /** Blocks until the listener has seen every event posted so far: a marker
    * job is posted after them on the same first-in-first-out bus. */
  def flush(): Unit = {
    val marker = s"flush-${newId()}"
    sc.setLocalProperty(FlushKey, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FlushKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!lock.synchronized(flushed.contains(marker))) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(5)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => lock.synchronized {
      execs(e.executionId) = new Exec(e.description, e.details,
        writeTarget(e.physicalPlanDescription), e.time)
    }
    case e: SparkListenerSQLExecutionEnd => lock.synchronized {
      execs.get(e.executionId).foreach(_.endMs = e.time)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(FlushKey).foreach(flushed += _)
    val last = e.stageInfos.maxByOption(_.stageId)
    jobs(e.jobId) = new Job(prop(SpanKey).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      last.map(_.name).getOrElse(""), last.map(_.details).getOrElse(""), e.stageIds, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(newId()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (e.taskMetrics != null) stage(e.stageId, e.stageAttemptId).taskMs += e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    val st = stage(info.stageId, info.attemptNumber())
    st.name = info.name
    st.startMs = info.submissionTime.getOrElse(-1L)
    st.endMs = info.completionTime.getOrElse(-1L)
    Option(info.taskMetrics).foreach { m =>
      st.runMs = m.executorRunTime
      st.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      st.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      st.output = m.outputMetrics.bytesWritten
    }
  }

  // ------------------------------------------------------------------ views

  private def works: Seq[Work] = {
    val fromExecs = jobs.toSeq.filter(_._2.execId >= 0).groupBy(_._2.execId).toSeq.flatMap {
      case (eid, js) => execs.get(eid).filter(_.endMs >= 0).map { x =>
        Work(js.map(_._2.op).max, x.action, x.site, x.target, x.startMs, x.endMs, js.map(_._1))
      }
    }
    val loose = jobs.collect { case (id, j) if j.execId < 0 && j.endMs >= 0 =>
      Work(j.op, j.action, j.site, "", j.startMs, j.endMs, Seq(id))
    }
    (fromExecs ++ loose).filter(_.op > 0).sortBy(_.startMs)
  }

  /**
   * Per-layer figures over the given ops: counts, bytes and seconds per op,
   * or a share of op wall time. `dirs` maps an output-path prefix to the
   * phase its writes belong to.
   */
  def layers(opIds: Set[Long], cores: Int, dirs: Seq[(String, String)]): Map[String, Double] =
    lock.synchronized {
      val opList = ops.filter(o => opIds.contains(o.id)).toList
      val n = opList.size.max(1).toDouble
      val wallMs = opList.map(_.durMs).sum.toDouble
      val ws = works.filter(w => opIds.contains(w.op))
      val jobIdSet = ws.flatMap(_.jobIds).toSet
      val sts = stages.toSeq.collect {
        case ((sid, _), st) if stageJob.get(sid).exists(jobIdSet.contains) => st
      }
      def phaseS(p: Work => Boolean): Double = opList.map { o =>
        unionMs(ws.filter(w => w.op == o.id && p(w)).map(w => (w.startMs, w.endMs)),
          o.startMs, o.endMs)
      }.sum / 1000.0 / n
      def is(ph: String*)(w: Work) = ph.contains(phase(w, dirs))
      val taskMs = sts.map(_.runMs).sum.toDouble
      // straggler ratio over the stages wide enough to have one
      val skews = sts.filter(_.taskMs.size >= cores).map { st =>
        val mean = st.taskMs.sum.toDouble / st.taskMs.size
        if (mean <= 0) 1.0 else st.taskMs.max / mean
      }
      val opS = wallMs / 1000.0 / n
      Map(
        "spark.jobs" -> jobIdSet.size / n,
        "spark.tasks" -> sts.map(_.taskMs.size).sum / n,
        "spark.task_s" -> taskMs / 1000 / n,
        "spark.busy_frac" -> (if (wallMs <= 0) 0.0 else taskMs / (wallMs * cores)),
        "spark.shuffle_write_bytes" -> sts.map(_.shuffleWrite).sum / n,
        "spark.spill_bytes" -> sts.map(_.spill).sum / n,
        "spark.output_bytes" -> sts.map(_.output).sum / n,
        "spark.skew_max" -> (if (skews.isEmpty) 1.0 else skews.max),
        "spark.driver_gap_s" -> (opS - phaseS(_ => true)),
        "crawl.wave_write_s" -> phaseS(is("wave_write")),
        "crawl.links_write_s" -> phaseS(is("links_write")),
        "crawl.count_s" -> phaseS(w => is("crawl")(w) && w.action.startsWith("count at")),
        "crawl.sketch_s" -> phaseS(w => is("crawl")(w) && firstFrame(w.site).startsWith("graft.crawl.SeenSet")),
        "cycle.crawl_share" -> phaseS(is("crawl", "wave_write", "links_write")) / opS,
        "cycle.merge_share" -> phaseS(is("merge")) / opS,
        "cycle.sinks_share" -> phaseS(is("sinks")) / opS,
        "cycle.cache_write_share" -> phaseS(is("cache_write")) / opS)
    }

  /** Every recorded span as one JSON line: ops, SQL executions, jobs and
    * stages, each with its parent and its self time (the span minus the
    * part its children cover). */
  def dump(path: java.nio.file.Path): Unit = lock.synchronized {
    val out = mutable.ArrayBuffer.empty[String]
    def line(id: Long, parent: Long, kind: String, name: String, s: Long, e: Long,
        children: Seq[(Long, Long)], extra: (String, Any)*): Unit =
      out += Json.obj(Seq("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e, "self_ms" -> ((e - s) - unionMs(children, s, e))) ++ extra)
    val ws = works
    ops.foreach { o =>
      line(o.id, 0, "op", o.name, o.startMs, o.endMs,
        ws.filter(_.op == o.id).map(w => (w.startMs, w.endMs)))
    }
    val jobParent = mutable.HashMap.empty[Int, Long]
    ws.foreach { w =>
      val wid = if (w.jobIds.size == 1 && jobs(w.jobIds.head).execId < 0) w.op else {
        val id = newId()
        line(id, w.op, "sql", w.action, w.startMs, w.endMs,
          w.jobIds.flatMap(jobs.get).map(j => (j.startMs, j.endMs)), "target" -> w.target)
        id
      }
      w.jobIds.foreach(jobParent(_) = wid)
    }
    val jobSpan = mutable.HashMap.empty[Int, Long]
    jobs.foreach { case (jid, j) =>
      jobParent.get(jid).filter(_ => j.endMs >= 0).foreach { parent =>
        val id = newId(); jobSpan(jid) = id
        val kids = j.stageIds.flatMap(s => stages.collect {
          case ((`s`, _), st) if st.startMs >= 0 => (st.startMs, st.endMs) })
        line(id, parent, "job", j.action, j.startMs, j.endMs, kids, "job_id" -> jid)
      }
    }
    stages.foreach { case ((sid, att), st) =>
      for (jid <- stageJob.get(sid); parent <- jobSpan.get(jid) if st.startMs >= 0)
        line(st.spanId, parent, "stage", st.name, st.startMs, st.endMs, Nil,
          "stage_id" -> sid, "attempt" -> att, "tasks" -> st.taskMs.size,
          "task_ms" -> st.runMs, "max_task_ms" -> (if (st.taskMs.isEmpty) 0L else st.taskMs.max),
          "shuffle_write_bytes" -> st.shuffleWrite, "spill_bytes" -> st.spill,
          "output_bytes" -> st.output)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out.mkString("", "\n", "\n"))
  }
}

object Trace {
  private val SpanKey = "perfbench.span"
  private val FlushKey = "perfbench.flush"
  private val WavesDir = "/waves/w"

  /** The program frame of a call site's long form: the first frame below
    * Spark's API method that is not Spark's, Scala's or the JDK's own. */
  private def firstFrame(longForm: String): String =
    longForm.linesIterator.find(l => l.nonEmpty &&
      !Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(l.startsWith)).getOrElse("")

  /** Output path of a write plan: the write command comes last in the
    * plan's node details, its first argument is the path. */
  private def writeTarget(plan: String): String = {
    val i = plan.lastIndexOf("InsertIntoHadoopFsRelationCommand")
    val j = if (i < 0) -1 else plan.indexOf("Arguments: ", i)
    if (j < 0) "" else plan.substring(j + "Arguments: ".length).takeWhile(c => c != ',' && c != '\n')
  }

  /** Phase of one unit of work. Writes are classified by where they write,
    * everything else by the program package that issued it. */
  private def phase(w: Work, dirs: Seq[(String, String)]): String = {
    val frame = firstFrame(w.site)
    if (w.target.contains(WavesDir) && w.target.contains("/schedule/")) "wave_write"
    else if (w.target.contains(WavesDir) && w.target.endsWith("/links")) "links_write"
    else dirs.collectFirst { case (prefix, ph) if w.target.nonEmpty && w.target.contains(prefix) => ph }
      .getOrElse {
        if (frame.startsWith("graft.crawl.") && !frame.startsWith("graft.crawl.Pipeline")) "crawl"
        else if (frame.startsWith("graft.sinks.")) "sinks"
        else if (frame.startsWith("graft.")) "merge"
        else "bench"
      }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private[perfbench] def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > curE) { if (curE != Long.MinValue) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
    if (curE != Long.MinValue) total += curE - curS
    total
  }
}
