package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed call into a layer, recorded from the benchmark's side of the
  * public API. `parent` is the enclosing span (-1 for a top-level span of
  * the op), `op` the op it belongs to, `detail` a free label such as the
  * read class.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, detail: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One op of the timed loop. Every op is timed; `traced` ops also carry
  * spans and counters.
  */
final case class OpRec(id: Int, kind: String, startNs: Long, endNs: Long,
    traced: Boolean, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters summed per (op, layer). */
final class TaskAgg {
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    recordsRead += m.inputMetrics.recordsRead
  }
}

/** Records spans, per-op counters and Spark engine counters.
  *
  * Spans are taken around the calls the benchmark makes into each layer,
  * so the program itself is untouched. Spark work is attributed through
  * two local properties set on the driver thread while a span is open:
  * every job submitted inside it carries the op id and the layer name, and
  * a [[SparkListener]] sums the job's task metrics under that tag. Query
  * planning time comes from the `QueryPlanningTracker` of the query each
  * SQL execution-end event carries (the `QueryExecution` a
  * `QueryExecutionListener` would receive), matched to its tag through the
  * execution id its jobs carry.
  *
  * Everything is kept in memory and written out once the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** (op id, counter name) → value. */
  val counters = mutable.LinkedHashMap.empty[(Int, String), Double]

  private var curOp = -1
  private var tracing = false
  private var open: List[(Int, String, String, Long)] = Nil

  // ---- Spark listeners (registered only for a traced run)
  private val jobTag = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execTag = new java.util.concurrent.ConcurrentHashMap[Long, (Int, String)]()
  /** (op, layer) → task counters. Written only on the listener thread. */
  val taskAggs = mutable.HashMap.empty[(Int, String), TaskAgg]
  /** SQL execution id → planning seconds. */
  private val planning = new java.util.concurrent.ConcurrentHashMap[Long, Double]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val op = Option(p).flatMap(x => Option(x.getProperty(OpProp))).map(_.toInt)
      op.foreach { o =>
        val tag = (o, Option(p.getProperty(LayerProp)).getOrElse(Unlayered))
        jobTag.put(e.jobId, tag)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        Option(p.getProperty("spark.sql.execution.id")).foreach(x => execTag.put(x.toLong, tag))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val job = stageJob.get(e.stageId)
        if (job != null) {
          val tag = jobTag.get(job)
          if (tag != null) taskAggs.getOrElseUpdate(tag, new TaskAgg).add(e.taskMetrics)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchBridge.planningSeconds(end).foreach(s => planning.put(end.executionId, s))
      case _ =>
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Runs one op; returns its record. An op that throws is recorded as
    * failed and the loop goes on.
    */
  def op(kind: String, traced: Boolean)(body: => Unit): OpRec = {
    val id = ops.size
    curOp = id
    tracing = enabled && traced
    if (tracing) sc.setLocalProperty(OpProp, id.toString)
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] op $id ($kind) failed: $e")
          e.printStackTrace()
          false
      }
    val t1 = System.nanoTime()
    if (tracing) { sc.setLocalProperty(OpProp, null); sc.setLocalProperty(LayerProp, null) }
    tracing = false
    open = Nil
    val rec = OpRec(id, kind, t0, t1, traced, ok)
    ops += rec
    rec
  }

  /** Times one call into `layer` when the current op is traced. */
  def span[T](layer: String, detail: String = "")(body: => T): T =
    if (!tracing) body
    else {
      val id = spans.size
      spans += null
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val t0 = System.nanoTime()
      open = (id, layer, detail, t0) :: open
      sc.setLocalProperty(LayerProp, layer)
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(LayerProp, open.headOption.map(_._2).orNull)
        spans(id) = Span(id, parent, curOp, layer, detail, t0, t1)
      }
    }

  /** Adds to a counter of the op now running, when it is traced. */
  def count(name: String, v: Double): Unit =
    if (tracing) counters((curOp, name)) = counters.getOrElse((curOp, name), 0.0) + v

  /** Adds to a counter of an op that has ended (work measured outside its
    * timer, such as a directory walk).
    */
  def countFor(op: Int, name: String, v: Double): Unit =
    counters((op, name)) = counters.getOrElse((op, name), 0.0) + v

  /** Waits for the listener bus, then folds query planning time into
    * per-(op, layer) seconds.
    */
  def finish(): Map[(Int, String), Double] = {
    if (!enabled) return Map.empty
    PerfbenchBridge.drain(sc)
    val out = mutable.HashMap.empty[(Int, String), Double]
    planning.forEach { (exec, s) =>
      val tag = execTag.get(exec)
      if (tag != null) out(tag) = out.getOrElse(tag, 0.0) + s
    }
    sc.removeSparkListener(listener)
    out.toMap
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val LayerProp = "perfbench.layer"
  val Unlayered = "(unlayered)"

  /** Bytes written through Hadoop `FileSystem`s of this JVM so far. */
  def fsBytesWritten(): Long = {
    var total = 0L
    val it = FileSystem.getGlobalStorageStatistics.iterator()
    while (it.hasNext) {
      val v = it.next().getLong("bytesWritten")
      if (v != null) total += v
    }
    total
  }

  /** (files, bytes) under a local directory; (0, 0) when it does not exist. */
  def walk(dir: String): (Long, Long) = {
    val sizes = files(dir).values
    (sizes.size.toLong, sizes.sum)
  }

  /** Paths of the regular files under a local directory. */
  def listFiles(dir: String): Set[String] = files(dir).keySet

  private def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val s = java.nio.file.Files.walk(root)
    try {
      val out = Map.newBuilder[String, Long]
      s.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) out += p.toString -> java.nio.file.Files.size(p)
      }
      out.result()
    } finally s.close()
  }
}
