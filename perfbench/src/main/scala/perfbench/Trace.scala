package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One call into a layer (or a whole op), in epoch milliseconds. */
final case class Span(id: Long, name: String, parent: Long, op: Int, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** What the listeners saw for the jobs of one span (by its tag). Written
  * on the listener bus thread, read after the bus is drained. */
final class Counts {
  var jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill, written = 0L
  val busy = ArrayBuffer[(Double, Double)]()
}

/** Spans and counters of the traced run.
  *
  * A span is recorded by the benchmark around each public library call. It
  * tags its thread with a Spark local property, so the jobs the call
  * submits are attributed to it, and through the jobs their stages and
  * tasks. Query-planning phases carry no tag; they count toward the traced
  * op, whose calls run one at a time. Spans stay in memory and are written
  * once, at the end of the run. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  private var open: List[(Long, Double)] = Nil
  private var nextId = 0L
  private var opIndex = -1
  private var on = false

  private val counts = new ConcurrentHashMap[java.lang.Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val phases = new ConcurrentLinkedQueue[(String, Double)]()
  private val progress = new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]()

  private def countsOf(id: Long): Counts = counts.computeIfAbsent(id, _ => new Counts)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { tag =>
        val id = tag.toLong
        val c = countsOf(id)
        c.synchronized(c.jobs += 1)
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val c = countsOf(id)
        c.synchronized(c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = countsOf(id)
        val info = e.taskInfo
        c.synchronized {
          c.tasks += 1
          c.busy += ((info.launchTime.toDouble, info.finishTime.toDouble))
          Option(e.taskMetrics).foreach { m =>
            c.taskMs += m.executorRunTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.written += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) => phases.add((phase, s.durationMs.toDouble)) }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Micro-batch durations by phase, from each query progress report. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.durationMs)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start tracing op `i`: settle events of earlier ops, then listen. */
  def begin(i: Int): Unit = {
    PerfbenchBus.drain(sc)
    counts.clear(); stageSpan.clear(); phases.clear(); progress.clear()
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    opIndex = i
    on = true
  }

  /** Stop tracing: wait until every event of the op is delivered. */
  def end(): Unit = {
    on = false
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `f` inside a span named `name`; a no-op wrapper when not tracing. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1L)
      val prev = sc.getLocalProperty(Key)
      open = (id, nowMs) :: open
      sc.setLocalProperty(Key, id.toString)
      try f
      finally {
        val (_, start) = open.head
        open = open.tail
        sc.setLocalProperty(Key, prev)
        spans += Span(id, name, parent, opIndex, start, nowMs)
      }
    }

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  private def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
  private def merged(ss: Seq[Span]): Counts = {
    val out = new Counts
    for (s <- ss; c <- Option(counts.get(s.id))) c.synchronized {
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.taskMs += c.taskMs; out.shuffleRead += c.shuffleRead
      out.shuffleWrite += c.shuffleWrite; out.spill += c.spill; out.written += c.written
      out.busy ++= c.busy
    }
    out
  }

  /** Per-layer figures of the traced op whose root span is `root`, after
    * [[end]]. `gcMs` is the JVM's collection time during the op. */
  def opMetrics(root: Span, gcMs: Double): Map[String, Double] = {
    val kids = children(root)
    def group(names: String*): Seq[Span] = kids.filter(s => names.contains(s.name))
    def ms(ss: Seq[Span]): Double = ss.map(_.ms).sum
    def counts(ss: Seq[Span]): Counts = merged(ss.flatMap(subtree))
    def idle(ss: Seq[Span]): Double =
      ss.map(s => Stats.idle(s.startMs, s.endMs, counts(Seq(s)).busy.toSeq)).sum
    def phaseMs(key: String): Double = phases.asScala.filter(_._1 == key).map(_._2).sum
    def streamMs(key: String): Double =
      progress.asScala.map(d => Option(d.get(key)).map(_.doubleValue).getOrElse(0.0)).sum

    val snapshot = group("snapshot")
    val singer = group("singer")
    val graph = group("graph.pagerank", "graph.label_prop", "graph.triangles")
    val index = group("index.ingest", "index.probe", "index.compact")
    val all = counts(Seq(root))
    Map(
      "sources.ms" -> ms(group("sources")),
      "sources.jobs" -> counts(group("sources")).jobs.toDouble,
      "explode.ms" -> ms(group("explode")),
      "explode.jobs" -> counts(group("explode")).jobs.toDouble,
      "mapping.ms" -> ms(group("mapping")),
      "snapshot.ms" -> ms(snapshot),
      "snapshot.jobs" -> counts(snapshot).jobs.toDouble,
      "snapshot.idle_ms" -> idle(snapshot),
      "snapshot.bytes_written" -> counts(snapshot).written.toDouble,
      "singer.ms" -> ms(singer),
      "singer.jobs" -> counts(singer).jobs.toDouble,
      "singer.task_ms" -> counts(singer).taskMs.toDouble,
      "singer.idle_ms" -> idle(singer),
      "export.ms" -> ms(group("export")),
      "streaming.upsert_ms" -> ms(group("streaming.upsert")),
      "streaming.singer_ms" -> ms(group("streaming.singer")),
      "streaming.jobs" -> counts(group("streaming.upsert", "streaming.singer")).jobs.toDouble,
      "streaming.trigger_ms" -> streamMs("triggerExecution"),
      "streaming.wal_ms" -> streamMs("walCommit"),
      "streaming.plan_ms" -> streamMs("queryPlanning"),
      "streaming.add_batch_ms" -> streamMs("addBatch"),
      "streaming.batches" -> progress.size.toDouble,
      "index.ingest_ms" -> ms(group("index.ingest")),
      "index.probe_ms" -> ms(group("index.probe")),
      "index.compact_ms" -> ms(group("index.compact")),
      "index.jobs" -> counts(index).jobs.toDouble,
      "index.idle_ms" -> idle(index),
      "graph.pagerank_ms" -> ms(group("graph.pagerank")),
      "graph.label_prop_ms" -> ms(group("graph.label_prop")),
      "graph.triangles_ms" -> ms(group("graph.triangles")),
      "graph.jobs" -> counts(graph).jobs.toDouble,
      "graph.idle_ms" -> idle(graph),
      "graph.shuffle_bytes" -> counts(graph).shuffleWrite.toDouble,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "scheduler.jobs" -> all.jobs.toDouble,
      "scheduler.stages" -> all.stages.toDouble,
      "scheduler.tasks" -> all.tasks.toDouble,
      "scheduler.task_ms" -> all.taskMs.toDouble,
      "scheduler.idle_ms" -> Stats.idle(root.startMs, root.endMs, all.busy.toSeq),
      "scheduler.slot_util" -> all.taskMs / (root.ms * cores),
      "shuffle.read_bytes" -> all.shuffleRead.toDouble,
      "shuffle.write_bytes" -> all.shuffleWrite.toDouble,
      "shuffle.spill_bytes" -> all.spill.toDouble,
      "jvm.gc_ms" -> gcMs,
      "bench.self_ms" -> Stats.selfTime(root.startMs, root.endMs,
        kids.map(s => (s.startMs, s.endMs))),
    )
  }

  /** All spans as JSON lines: name, start, end, parent, op id, and self
    * time (the span minus what its child spans cover). */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    val self = Stats.selfTime(s.startMs, s.endMs, children(s).map(c => (c.startMs, c.endMs)))
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":$self}"""
  }
}
