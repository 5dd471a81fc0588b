package graftbench

import java.util.Locale

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.sql.SparkSession

import Workload.{p50, quantile}

/** Benchmark entry point; `perfbench/run.py` builds the classpath and
  * starts it. Arguments:
  * `--workload <ingest|query|curate> --seed <n> --seconds <s> --trace <0|1>
  *  --run-id <id> --work <dir> --out <dir>`, or `--train 1 --run-id <id>
  *  --work <dir>` for the class-data training run.
  *
  * Writes `<out>/<run-id>.json` (metrics, detail, environment, problems)
  * and, for a traced run, `<out>/<run-id>.trace.json` (every span, op and
  * counter). Every stdout line carries the run id.
  */
object Main {
  val SetupReps = 2
  /** Ops a tail percentile must have beyond it. */
  val TailOps = 10

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val runId = a("run-id")
    val work = a("work")
    def say(s: String): Unit = println(s"[perfbench $runId] $s")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, runId, work)
    try {
      if (a.get("train").contains("1")) train(spark, work)
      else run(spark, a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
        runId, work, a("out"), cores, say)
    } finally spark.stop()
  }

  /** Runs a little of every workload, so that a JVM started with
    * `-XX:ArchiveClassesAtExit` archives the classes all of them load.
    * The benchmark's runs then start from that class-data archive.
    */
  private def train(spark: SparkSession, work: String): Unit =
    Seq("ingest", "query", "curate").foreach { name =>
      val tr = new Tracer(spark, enabled = true)
      val w = Workload(name, new Ctx(spark, tr, s"$work/$name", 0L))
      w.setup(0)
      w.warm()
      tr.finish()
    }

  private def session(cores: Int, runId: String, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$runId")
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
      .tap(_.sparkContext.setLogLevel("ERROR"))

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Int,
      trace: Boolean, runId: String, work: String, out: String, cores: Int,
      say: String => Unit): Unit = {
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= Plans.selfCheck(seed).map("generator self-check: " + _)

    val tr = new Tracer(spark, trace)
    val c = new Ctx(spark, tr, work, seed)
    val w = Workload(workload, c)

    val jvm0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      say("phase %s at %.1f s".formatLocal(Locale.ROOT, name, (System.currentTimeMillis() - jvm0) / 1e3))
    phase("setup")
    val setupTimes = (0 until SetupReps).map { r =>
      System.gc()
      val t = System.nanoTime()
      w.setup(r)
      Workload.secondsSince(t)
    }
    say(s"setup ${setupTimes.map(s => "%.3f".formatLocal(Locale.ROOT, s)).mkString(" ")} s")

    phase("warm-up")
    w.warm()
    w.startMeasuring()
    val firstOp = tr.ops.size
    System.gc()

    // closed loop: whole units until the time is up and at least
    // `minUnits` ran, so every run has the same op mix. A traced run
    // alternates untraced and traced units, so the two can be compared
    phase("loop")
    val loop0 = System.nanoTime()
    val deadline = loop0 + seconds * 1000000000L
    var u = 0
    while (u < w.minUnits || System.nanoTime() < deadline) {
      w.unit(u, traced = trace && u % 2 == 1)
      u += 1
    }
    val elapsed = Workload.secondsSince(loop0)
    val planning = tr.finish()

    phase("verify")
    val (wrong, runProblems) = w.verify()
    problems ++= runProblems
    val measured = tr.ops.drop(firstOp).toSeq
    val failedOps = measured.filter(o => !o.ok || wrong(o.id))
    val lat = measured.map(_.seconds)

    val e2e = Map(
      "setup_s" -> (p50(setupTimes), "s"),
      "ops_per_s" -> (measured.count(_.ok) / elapsed, "1/s"),
      "op_p50_s" -> (p50(lat), "s"),
      "space_amp" -> (w.spaceAmp, "ratio"))
    // the highest percentile with at least ten ops beyond it, if any lies
    // above the median; too few ops give no tail figure
    val tailQ = 1.0 - TailOps.toDouble / lat.size
    val tail = if (tailQ > 0.5) Map("op_tail_q" -> tailQ, "op_tail_s" -> quantile(lat, tailQ)) else Map.empty
    val detail = w.detail ++ tail ++ Map(
      "op_count" -> lat.size.toDouble,
      "fail_ratio" -> failedOps.size.toDouble / math.max(1, measured.size),
      "measured_s" -> elapsed,
      "setup_cold_s" -> setupTimes.head)
    val layers = if (trace) Layers.metrics(tr, planning, measured, cores) else Map.empty[String, (Double, String)]

    val correct = problems.isEmpty && failedOps.isEmpty && measured.nonEmpty
    e2e.toSeq.sortBy(_._1).foreach { case (k, (v, unit)) => say(s"$k ${Json.num(v)} $unit") }
    detail.toSeq.sortBy(_._1).foreach { case (k, v) => say(s"detail $k ${Json.num(v)}") }
    layers.toSeq.sortBy(_._1).foreach { case (k, (v, unit)) => say(s"layer $k ${Json.num(v)} $unit") }
    problems.foreach(p => say(s"PROBLEM $p"))
    say(s"ops ${measured.size} failed ${failedOps.size} correct $correct")

    val env = Map(
      "note" -> "figures from one run on this machine (local mode, a single JVM); not cluster or device figures",
      "seed" -> seed, "workload" -> workload, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "input_rows" -> w.sources.map(t => t -> Sources.rows(t)).toMap,
      "stored_bytes" -> Tracer.walk(c.base)._2)
    val result = Map(
      "run_id" -> runId,
      "correct" -> correct,
      "attempted" -> measured.size,
      "failed" -> failedOps.size,
      "metrics" -> (if (trace) layers else e2e).map { case (k, (v, unit)) =>
        k -> Map("value" -> v, "unit" -> unit) },
      "end_to_end" -> e2e.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) },
      "detail" -> detail,
      "ops" -> measured.map(o => Map("id" -> o.id, "kind" -> o.kind, "seconds" -> o.seconds,
        "traced" -> o.traced, "ok" -> o.ok)),
      "problems" -> problems.toSeq,
      "environment" -> env)
    phase("report")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    Json.write(s"$out/$runId.json", result)
    if (trace) Json.write(s"$out/$runId.trace.json", Map(
      "run_id" -> runId,
      "ops" -> tr.ops.toSeq.map { o =>
        val covered = tr.spans.iterator.filter(s => s.op == o.id && s.parent == -1).map(_.seconds).sum
        Map("id" -> o.id, "kind" -> o.kind, "start_ns" -> o.startNs, "end_ns" -> o.endNs,
          "traced" -> o.traced, "ok" -> o.ok, "measured" -> (o.id >= firstOp),
          "unattributed_s" -> (if (o.traced) o.seconds - covered else o.seconds))
      },
      "spans" -> tr.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "detail" -> s.detail, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> Layers.selfSeconds(tr.spans.toSeq, s))),
      "counters" -> tr.counters.toSeq.map { case ((op, k), v) => Map("op" -> op, "name" -> k, "value" -> v) },
      "spark_tasks" -> tr.taskAggs.toSeq.map { case ((op, layer), t) =>
        Map("op" -> op, "layer" -> layer, "tasks" -> t.tasks, "run_ms" -> t.runMs,
          "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes,
          "records_read" -> t.recordsRead) },
      "planning_s" -> planning.toSeq.map { case ((op, layer), s) =>
        Map("op" -> op, "layer" -> layer, "seconds" -> s) }))
  }
}

/** Per-layer metrics of a traced run, from the traced ops of the loop. */
object Layers {
  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(spans: Seq[Span], s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  val ReadClasses = Seq("fresh", "partition", "index", "zone", "bloom", "scan", "readback")

  def metrics(tr: Tracer, planning: Map[(Int, String), Double], measured: Seq[OpRec],
      cores: Int): Map[String, (Double, String)] = {
    val traced = measured.filter(o => o.traced && o.ok)
    val ids = traced.map(_.id).toSet
    val spans = tr.spans.toSeq.filter(s => ids(s.op))
    def named(n: String) = spans.filter(_.name == n)
    def med(n: String) = p50(named(n).map(_.seconds))
    def counter(n: String) = tr.counters.collect { case ((op, k), v) if k == n && ids(op) => v }.sum
    def perOp(f: Int => Double) = p50(traced.map(o => f(o.id)))
    val tasks = tr.taskAggs.toSeq.filter { case ((op, _), _) => ids(op) }
    def taskSum(f: TaskAgg => Long, op: Int) =
      tasks.collect { case ((o, _), t) if o == op => f(t) }.sum.toDouble
    val commits = counter("commits")
    val rowsReturned = counter("read.rows_returned")
    val rowReadOps = tr.counters.collect { case ((op, "read.rows_returned"), _) if ids(op) => op }.toSet
    val recordsRead = tasks.collect {
      case ((op, "ktk.read.exec"), t) if rowReadOps(op) => t.recordsRead }.sum.toDouble
    val covered = traced.map { o =>
      val top = spans.filter(s => s.op == o.id && s.parent == -1).map(_.seconds).sum
      (o, top)
    }
    val untracedLat = measured.filter(o => !o.traced && o.ok).map(_.seconds)
    val tracedLat = traced.map(_.seconds)

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("ktk.commit.self_s") = (p50(named("ktk.commit").map(selfSeconds(spans, _))), "s")
    m("ktk.write.s") = (med("ktk.write"), "s")
    m("ktk.metadata.cold_load_s") = (med("ktk.metadata.cold"), "s")
    m("ktk.metadata.warm_load_s") = (med("ktk.metadata.warm"), "s")
    m("ktk.metadata.list_s") = (med("ktk.metadata.list"), "s")
    m("fs.bytes_written") = (if (commits > 0) counter("fs.bytes_written") / commits else 0.0, "B/commit")
    m("fs.files_created") = (if (commits > 0) counter("fs.files_created") / commits else 0.0, "files/commit")
    m("ktk.prune.s") = (med("ktk.prune"), "s")
    val considered = counter("prune.considered")
    m("ktk.prune.files_kept_ratio") = (if (considered > 0) counter("prune.kept") / considered else 0.0, "ratio")
    m("ktk.read.plan_s") = (med("ktk.read.plan"), "s")
    m("ktk.read.exec_s") = (med("ktk.read.exec"), "s")
    ReadClasses.foreach { cl =>
      m(s"ktk.read.$cl.plan_s") = (p50(named("ktk.read.plan").filter(_.detail == cl).map(_.seconds)), "s")
      m(s"ktk.read.$cl.exec_s") = (p50(named("ktk.read.exec").filter(_.detail == cl).map(_.seconds)), "s")
    }
    m("cube.query_s") = (med("cube.query"), "s")
    Seq("compact", "gc", "fsck", "history").foreach(k => m(s"ktk.maint.${k}_s") = (med(s"ktk.maint.$k"), "s"))
    Seq("exact", "signatures", "candidates").foreach(k => m(s"ops.dedup.${k}_s") = (med(s"ops.dedup.$k"), "s"))
    m("ops.dedup.cc_s") = (med("ops.dedup.cc"), "s")
    m("ops.dedup.candidate_pairs") = (perOp(op => tr.counters.getOrElse((op, "dedup.candidate_pairs"), 0.0)), "count")
    m("ops.dedup.removed") = (perOp(op => tr.counters.getOrElse((op, "dedup.removed"), 0.0)), "count")
    m("spark.planning_s") = (perOp(op => planning.collect { case ((o, _), s) if o == op => s }.sum), "s")
    m("spark.rows_read_per_row_returned") = (if (rowsReturned > 0) recordsRead / rowsReturned else 0.0, "ratio")
    m("spark.tasks") = (perOp(op => taskSum(_.tasks, op)), "tasks/op")
    m("spark.shuffle_bytes") = (perOp(op => taskSum(_.shuffleBytes, op)), "B/op")
    m("spark.spill_bytes") = (perOp(op => taskSum(_.spillBytes, op)), "B/op")
    val wallCoreMs = traced.map(_.seconds * 1000.0 * cores).sum
    m("spark.parallel_eff") = (if (wallCoreMs > 0) traced.map(o => taskSum(_.runMs, o.id)).sum / wallCoreMs else 0.0, "ratio")
    m("trace.span_coverage") = (if (covered.isEmpty) 0.0 else covered.map { case (o, t) => t / o.seconds }.min, "ratio")
    m("trace.unattributed_s") = (p50(covered.map { case (o, t) => o.seconds - t }), "s")
    m("trace.overhead_ratio") = (
      if (untracedLat.isEmpty || tracedLat.isEmpty) 0.0 else p50(tracedLat) / p50(untracedLat) - 1, "ratio")
    m("trace.traced_ops") = (traced.size.toDouble, "count")
    m.toMap
  }
}

/** JSON output. Doubles are written by `Double.toString`: independent of
  * the locale, with all their digits and always a fraction or exponent.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def num(d: Double): String = java.lang.Double.toString(d)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
