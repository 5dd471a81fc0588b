package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Predicates
import graft.cube.{Cube, CubeDef}
import graft.ktk.{DatasetMetadata, Ktk}
import graft.ops.Dedup

/** What every workload shares: the session, the tracer, where data lives. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: String, val seed: Long) {
  val base: String = s"$work/store"
  def source(t: String): DataFrame = Sources.table(spark, t)
  def datasetDir(uuid: String): String = s"$base/$uuid"
}

/** A closed-loop workload: one driver thread, each op waits for the one
  * before it. The loop runs whole units (a group of ops whose mix is fixed)
  * until the time is up, so every run has the same op mix.
  */
trait Workload {
  def sources: Seq[String]
  /** The program's set-up for this workload; timed, repeated `rep` times. */
  def setup(rep: Int): Unit
  /** Untimed ops after set-up, so the loop starts warm. */
  def warm(): Unit
  /** Units the timed loop runs at least, however short `--seconds` is. */
  def minUnits: Int
  /** Drops the figures warm-up left behind; the timed loop starts next. */
  def startMeasuring(): Unit
  /** Runs unit `u`: a fixed group of ops. */
  def unit(u: Int, traced: Boolean): Unit
  /** Ops whose result was wrong, and problems that concern the whole run.
    * Runs after the timed loop.
    */
  def verify(): (Set[Int], Seq[String])
  /** Bytes on disk under the workload's datasets per live data-file byte. */
  def spaceAmp: Double
  /** Workload-specific end-to-end figures, reported beside the metrics. */
  def detail: Map[String, Double]
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "ingest" => new Ingest(c)
    case "query"  => new Query(c)
    case "curate" => new Curate(c)
    case other    => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Live data-file bytes of a snapshot. */
  def liveBytes(md: DatasetMetadata): Long = md.partitions.keys.map(md.sizeOf).sum
}

import Workload._

// ------------------------------------------------------------------ ingest

/** Writes with reads beside them. The base `orders` dataset is partitioned
  * by `o_orderpriority`, with a secondary index on `o_custkey` and a zone
  * map on `o_totalprice`. Seeded batches are committed one by one,
  * alternating `update` with two-phase `writePartition`+`commit` and
  * replacing a whole partition via `deleteScope` every
  * [[Plans.ReplaceEvery]]-th batch. After each commit a fresh reader (cold
  * metadata cache) reads one partition; every [[Plans.MaintEvery]]-th
  * batch also runs a maintenance cycle. One op is one batch with its read
  * (and maintenance when due).
  */
final class Ingest(c: Ctx) extends Workload {
  import c.spark
  val sources = Seq("orders")
  private val plan = Plans.ingest(c.seed)
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  private var uuid = ""

  /** Batches committed, in commit order (base is commit 0). */
  private val committed = ArrayBuffer.empty[Plans.Batch]
  /** (op id, batches committed before the read, partition, digest). */
  private val reads = ArrayBuffer.empty[(Int, Int, String, Digest)]
  private val damage = ArrayBuffer.empty[String]
  private val commitS = ArrayBuffer.empty[Double]
  private val readS = ArrayBuffer.empty[Double]
  private val maintS = ArrayBuffer.empty[Double]
  private val spaceAfterMaint = ArrayBuffer.empty[Double]
  private var bytesWritten = 0L
  private var bytesCommitted = 0L
  private var versions = 0L

  private def batchFrame(b: Plans.Batch): DataFrame = {
    val slice = c.source("orders").filter(col("o_orderkey") >= b.sliceStart &&
      col("o_orderkey") < b.sliceStart + Plans.BatchRows)
    val rows =
      if (b.kind == Plans.Replace) slice.withColumn("o_orderpriority", lit(b.replacePartition))
      else slice
    // several writer tasks per batch, so each commit leaves several small
    // files per partition for compaction to merge
    rows.repartition(4)
  }

  private def eq(column: String, v: Any) = Predicates.of(Seq((column, "==", v)))

  def setup(rep: Int): Unit = {
    uuid = s"orders_$rep"
    Ktk.store(spark, c.base, uuid,
      c.source("orders").filter(col("o_orderkey") < Plans.IngestBaseRows),
      partitionOn = Seq("o_orderpriority"), secondaryIndices = Seq("o_custkey"),
      zoneMapFor = Seq("o_totalprice"))
  }

  val minUnits = 2

  /** One untimed unit, so every batch kind and maintenance are warm. */
  def warm(): Unit = batches(0, traced = false)

  def startMeasuring(): Unit = {
    Seq(commitS, readS, maintS, spaceAfterMaint).foreach(_.clear())
    bytesWritten = 0L
    bytesCommitted = 0L
  }

  /** A unit is one maintenance cycle: [[Plans.MaintEvery]] batches, the
    * last one followed by maintenance.
    */
  def unit(u: Int, traced: Boolean): Unit = batches(u + 1, traced)

  /** The batches of cycle `n` of the plan (cycle 0 is the warm-up). */
  private def batches(n: Int, traced: Boolean): Unit =
    (0 until Plans.MaintEvery).foreach { k =>
      val i = n * Plans.MaintEvery + k
      require(i < plan.size, "ingest plan exhausted")
      batch(plan(i), maintain = k == Plans.MaintEvery - 1, traced)
    }

  private def batch(b: Plans.Batch, maintain: Boolean, traced: Boolean): Unit = {
    val tr = c.tr
    val df = batchFrame(b)
    val dir = c.datasetDir(uuid)
    val before = if (traced && tr.enabled) Tracer.listFiles(dir) else Set.empty[String]
    val mdBefore = DatasetMetadata.load(spark, c.base, uuid)
    val w0 = Tracer.fsBytesWritten()
    var mdAfter: DatasetMetadata = null
    var read: Digest = null
    var maintOk = true
    val rec = tr.op("batch", traced) {
      val t0 = System.nanoTime()
      mdAfter = b.kind match {
        case Plans.Update =>
          tr.span("ktk.commit", "update") { Ktk.update(spark, c.base, uuid, Some(df)) }
        case Plans.TwoPhase =>
          val labels = tr.span("ktk.write", "writePartition") {
            Ktk.writePartition(spark, c.base, uuid, df)
          }
          tr.span("ktk.commit", "commit") { Ktk.commit(spark, c.base, uuid, labels) }
        case Plans.Replace =>
          tr.span("ktk.commit", "replace") {
            Ktk.update(spark, c.base, uuid, Some(df),
              deleteScope = eq("o_orderpriority", b.replacePartition))
          }
      }
      tr.count("commits", 1)
      commitS += secondsSince(t0)

      val t1 = System.nanoTime()
      DatasetMetadata.invalidateCache(c.base, uuid)
      tr.span("ktk.metadata.cold") { DatasetMetadata.load(spark, c.base, uuid) }
      val out = tr.span("ktk.read.plan", "fresh") {
        Ktk.readTable(spark, c.base, uuid, predicates = eq("o_orderpriority", b.readPartition))
      }
      read = tr.span("ktk.read.exec", "fresh") { Digest.of(out, cols) }
      tr.count("read.rows_returned", read.count.toDouble)
      readS += secondsSince(t1)

      if (maintain) {
        val t2 = System.nanoTime()
        maintOk = false
        tr.span("ktk.maint.compact") { Ktk.compact(spark, c.base, uuid) }
        tr.span("ktk.maint.gc") {
          Ktk.garbageCollect(spark, c.base, uuid, retainVersions = 2, sidecarGraceMs = 0L)
        }
        val issues = tr.span("ktk.maint.fsck") { Ktk.fsck(spark, c.base, uuid).collect() }
        issues.map(_.getString(0)).filterNot(k => k == "orphan_file" || k == "orphan_overflow")
          .foreach(k => damage += s"fsck after batch ${b.index}: $k")
        tr.span("ktk.maint.history") { Ktk.history(spark, c.base, uuid).collect() }
        versions = tr.span("ktk.metadata.list") { Ktk.listVersions(spark, c.base, uuid) }.max
        maintS += secondsSince(t2)
        maintOk = true
      }
    }
    bytesWritten += Tracer.fsBytesWritten() - w0
    if (mdAfter != null) {
      committed += b
      val added = mdAfter.partitions.keySet -- mdBefore.partitions.keySet
      bytesCommitted += added.toSeq.map(mdAfter.sizeOf).sum
    }
    if (read != null) reads += ((rec.id, committed.size, b.readPartition, read))
    if (traced && tr.enabled) {
      val after = Tracer.listFiles(dir)
      tr.countFor(rec.id, "fs.files_created", (after -- before).size.toDouble)
      tr.countFor(rec.id, "fs.bytes_written", (Tracer.fsBytesWritten() - w0).toDouble)
    }
    if (maintain && maintOk) {
      val md = DatasetMetadata.load(spark, c.base, uuid)
      spaceAfterMaint += Tracer.walk(dir)._2.toDouble / math.max(1L, liveBytes(md))
    }
  }

  def spaceAmp: Double = p50(spaceAfterMaint.toSeq)

  def detail: Map[String, Double] = Map(
    "commit_p50_s" -> p50(commitS.toSeq),
    "commit_p90_s" -> quantile(commitS.toSeq, 0.9),
    "read_p50_s" -> p50(readS.toSeq),
    "read_p90_s" -> quantile(readS.toSeq, 0.9),
    "maint_s" -> p50(maintS.toSeq),
    "write_amp" -> bytesWritten.toDouble / math.max(1L, bytesCommitted),
    "space_amp" -> spaceAmp,
    "versions" -> versions.toDouble,
    "batches_committed" -> committed.size.toDouble)

  /** Expected digests come straight from the generated source rows: rows
    * of each committed batch, tagged with their commit index, digested per
    * (commit, partition) in one pass; replaces then drop every earlier
    * commit's rows of their partition.
    */
  def verify(): (Set[Int], Seq[String]) = {
    val src = c.source("orders")
    val ok = col("o_orderkey")
    val commitOf = committed.zipWithIndex.foldLeft(
        when(ok < Plans.IngestBaseRows, lit(0))) { case (acc, (b, i)) =>
      acc.when(ok >= b.sliceStart && ok < b.sliceStart + Plans.BatchRows, lit(i + 1))
    }
    val replaced = committed.zipWithIndex.filter(_._1.kind == Plans.Replace)
    val tagged0 = src.withColumn("__c", commitOf).filter(col("__c").isNotNull)
    val tagged =
      if (replaced.isEmpty) tagged0
      else tagged0.withColumn("o_orderpriority", replaced.foldLeft(
          when(lit(false), lit(""))) { case (acc, (b, i)) =>
        acc.when(col("__c") === i + 1, lit(b.replacePartition))
      }.otherwise(col("o_orderpriority")))
    val aggs = Digest.aggregates(cols)
    val perCommit: Map[(Int, String), Digest] =
      tagged.groupBy(col("__c"), col("o_orderpriority")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> Digest(r.getLong(2), r.getDecimal(3)))
        .toMap

    /** Expected digest of partition `p` after the first `n` batches. */
    def expected(n: Int, p: String): Digest = {
      val lastReplace = replaced.filter { case (b, i) => i + 1 <= n && b.replacePartition == p }
        .map(_._2 + 1).maxOption.getOrElse(0)
      (lastReplace to n).foldLeft(Digest.Zero)((acc, ci) => acc + perCommit.getOrElse((ci, p), Digest.Zero))
    }

    val wrong = reads.collect {
      case (op, n, p, got) if got != expected(n, p) =>
        System.err.println(s"[perfbench] ingest op $op read $p: got $got want ${expected(n, p)}")
        op
    }.toSet
    val problems = Seq.newBuilder[String]
    problems ++= damage
    DatasetMetadata.invalidateCache(c.base, uuid)
    val finalGot = Digest.of(Ktk.readTable(spark, c.base, uuid), cols)
    val finalWant = Sources.Priorities.map(p => expected(committed.size, p)).foldLeft(Digest.Zero)(_ + _)
    if (finalGot != finalWant) problems += s"final dataset digest $finalGot, expected $finalWant"
    (wrong, problems.result())
  }
}

// ------------------------------------------------------------------ query

/** Reads only. `lineitem` is range-partitioned by `l_shipdate` into about
  * 50 files under `l_returnflag`, with a secondary index on
  * `l_linestatus`, a zone map on `l_shipdate` and a bloom filter on
  * `l_orderkey`; beside it sits the `orders`×`customer` cube. One unit is
  * one read of each class in a fixed order, with seeded constants.
  *
  * A read goes through the public steps `readTable` is made of, so that
  * pruning is timed on its own: load the snapshot, `queryLabels`, then
  * `readTableWithMetadata` over the kept labels with the predicate applied
  * on top — the same work `readTable` does, with no step repeated.
  */
final class Query(c: Ctx) extends Workload {
  import c.spark
  val sources = Seq("lineitem", "orders", "customer")
  private val plan = Plans.query
  private val k = Plans.queryConstants(c.seed)
  private val lineCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  private val cubeCols = Seq("o_custkey", "o_orderkey", "bucket", "o_totalprice", "c_acctbal",
    "c_mktsegment")
  private var uuid = ""
  private var cube: CubeDef = _
  /** (op id, class, constant index, digest). */
  private val results = ArrayBuffer.empty[(Int, String, Int, Digest)]
  private val readS = ArrayBuffer.empty[(String, Double)]

  private def ts(day: Int) = new java.sql.Timestamp(day.toLong * 86400L * 1000L)

  /** Predicate of a read class with constant `i` (the cube class has its
    * conditions in [[cubeConditions]]).
    */
  private def predicates(cls: String, i: Int): Predicates = cls match {
    case "partition" => Predicates.of(Seq(("l_returnflag", "==", k.partition(i))))
    case "index" => Predicates.of(Seq(("l_linestatus", "==", k.indexStatus(i)),
      ("l_quantity", "<", k.indexQty(i).toDouble)))
    case "zone" => Predicates.of(Seq(("l_shipdate", ">=", ts(k.zoneStartDay(i))),
      ("l_shipdate", "<", ts(k.zoneStartDay(i) + 30))))
    case "bloom" => Predicates.of(Seq(("l_orderkey", "in", k.bloomKeys(i))))
    case "scan" => Predicates.of(Seq(("l_discount", "<=", k.scanDiscount(i))))
  }

  private def cubeConditions(i: Int): Predicates =
    Predicates.of(Seq(("c_mktsegment", "==", k.cubeSegment(i)), ("o_totalprice", ">=", k.cubeMinPrice(i))))

  /** The full-scan class aggregates; exact sums keep the digest exact. */
  private def scanAggregate(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus").agg(
      count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"),
      sum(round(col("l_extendedprice") * 100).cast("long")).as("price"))

  def setup(rep: Int): Unit = {
    uuid = s"lineitem_$rep"
    Ktk.store(spark, c.base, uuid,
      c.source("lineitem").repartitionByRange(17, col("l_shipdate")),
      partitionOn = Seq("l_returnflag"), sortBy = Seq("l_shipdate"),
      secondaryIndices = Seq("l_linestatus"), zoneMapFor = Seq("l_shipdate"),
      bloomFor = Seq("l_orderkey"))
    cube = CubeDef(s"tpch_$rep", dimensionColumns = Seq("o_custkey", "o_orderkey"),
      partitionColumns = Seq("bucket"))
    val bucket = pmod(col("o_custkey"), lit(4L))
    Cube.build(spark, c.base, cube, Map(
      "seed" -> c.source("orders").withColumn("bucket", bucket),
      "cust" -> c.source("customer").withColumnRenamed("c_custkey", "o_custkey")
        .withColumn("bucket", bucket)))
  }

  val minUnits = 5

  /** Untimed units, past the steepest part of the JIT warm-up. */
  def warm(): Unit = (0 until 2).foreach(i => unit(Plans.PlanLength + i, traced = false))

  def startMeasuring(): Unit = readS.clear()

  def unit(u: Int, traced: Boolean): Unit =
    Plans.ReadClasses.indices.foreach { j =>
      val r = plan(u * Plans.ReadClasses.size + j)
      read(r, traced)
    }

  private def read(r: Plans.Read, traced: Boolean): Unit = {
    val tr = c.tr
    var got: Digest = null
    val rec = tr.op(r.cls, traced) {
      got =
        if (r.cls == "cube") tr.span("cube.query") {
          Digest.of(Cube.query(spark, c.base, cube, cubeConditions(r.constant),
            payload = Seq("o_totalprice", "c_acctbal", "c_mktsegment")), cubeCols)
        }
        else {
          val preds = predicates(r.cls, r.constant)
          val md = tr.span("ktk.metadata.warm") { DatasetMetadata.load(spark, c.base, uuid) }
          val kept = tr.span("ktk.prune", r.cls) { Ktk.queryLabels(spark, c.base, md, preds) }.toSet
          tr.count("prune.considered", md.partitions.size.toDouble)
          tr.count("prune.kept", kept.size.toDouble)
          val df = tr.span("ktk.read.plan", r.cls) {
            val pruned = md.copy(partitions = md.partitions.filter { case (l, _) => kept(l) })
            val rows = Ktk.readTableWithMetadata(spark, c.base, pruned).filter(preds.toColumn)
            if (r.cls == "scan") scanAggregate(rows) else rows
          }
          val d = tr.span("ktk.read.exec", r.cls) {
            if (r.cls == "scan") Digest.of(df) else Digest.of(df, lineCols)
          }
          if (r.cls != "scan") tr.count("read.rows_returned", d.count.toDouble)
          d
        }
    }
    readS += ((r.cls, rec.seconds))
    if (got != null) results += ((rec.id, r.cls, r.constant, got))
  }

  def spaceAmp: Double = {
    val md = DatasetMetadata.load(spark, c.base, uuid)
    Tracer.walk(c.datasetDir(uuid))._2.toDouble / math.max(1L, liveBytes(md))
  }

  def detail: Map[String, Double] = {
    val all = readS.map(_._2).toSeq
    Map("read_p50_s" -> p50(all), "read_p90_s" -> quantile(all, 0.9)) ++
      Plans.ReadClasses.map(cl => s"read_p50_s.$cl" -> p50(readS.filter(_._1 == cl).map(_._2).toSeq))
  }

  /** Each read is checked against the same predicate applied with a plain
    * `filter` to the generated source rows; cube reads against a direct
    * join. The row-returning classes are digested in one pass.
    */
  def verify(): (Set[Int], Seq[String]) = {
    val li = c.source("lineitem").cache()
    val n = Plans.ConstantsPerClass
    def conditional(df: DataFrame, cols: Seq[String], preds: Seq[Column]): Seq[Digest] = {
      val h = Digest.rowHash(cols)
      val aggs = preds.flatMap(p => Seq(count(when(p, lit(1))),
        coalesce(sum(when(p, h)), lit(0).cast("decimal(38,0)"))))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      preds.indices.map(i => Digest(r.getLong(2 * i), r.getDecimal(2 * i + 1)))
    }
    val rowReads = for (cls <- Seq("partition", "index", "zone", "bloom"); i <- 0 until n) yield (cls, i)
    val expected: Map[(String, Int), Digest] =
      rowReads.zip(conditional(li, lineCols, rowReads.map { case (cls, i) => predicates(cls, i).toColumn }))
        .toMap ++
      (0 until n).map(i => ("scan", i) -> Digest.of(scanAggregate(li.filter(predicates("scan", i).toColumn)))) ++ {
        val joined = c.source("orders").join(
            c.source("customer").withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
          .withColumn("bucket", pmod(col("o_custkey"), lit(4L)))
        conditional(joined, cubeCols, (0 until n).map(i => cubeConditions(i).toColumn))
          .zipWithIndex.map { case (d, i) => ("cube", i) -> d }
      }
    li.unpersist()
    val wrong = results.collect {
      case (op, cls, i, got) if got != expected((cls, i)) =>
        System.err.println(s"[perfbench] query op $op ($cls #$i): got $got want ${expected((cls, i))}")
        op
    }.toSet
    (wrong, Nil)
  }
}

// ------------------------------------------------------------------ curate

/** Compute and shuffle. Each pass builds the corpus from `documents` plus
  * three seeded copies of each (an exact copy, one word replaced, a token
  * prepended), runs exact dedup, minhash signatures, candidate pairs and
  * minhash dedup with connected components, stores the survivors as a
  * dataset and reads them back. One op is one pass. Set-up is a warm-up
  * pass: the first pass in a JVM pays for code generation.
  */
final class Curate(c: Ctx) extends Workload {
  import c.spark
  val sources = Seq("documents")
  private val muts = Plans.curate(c.seed)
  private val docCols = Seq("doc_id", "text", "lang", "source")
  /** Per pass: (op id, exact survivors, minhash survivors, read back). */
  private val passes = ArrayBuffer.empty[(Int, Digest, Digest, Digest)]
  private val passS = ArrayBuffer.empty[Double]
  private val space = ArrayBuffer.empty[Double]
  /** Survivor datasets on disk, oldest first. */
  private val stored = ArrayBuffer.empty[String]
  private var storeCount = 0
  val corpusRows: Long = Sources.Documents * 4

  def setup(rep: Int): Unit = { pass(); dropOlder() }

  val minUnits = 4

  /** Set-up already ran whole passes. */
  def warm(): Unit = ()

  def startMeasuring(): Unit = ()

  def unit(u: Int, traced: Boolean): Unit = {
    var got: (Digest, Digest, Digest) = null
    val rec = c.tr.op("pass", traced) { got = pass() }
    dropOlder()
    passS += rec.seconds
    if (got != null) passes += ((rec.id, got._1, got._2, got._3))
    stored.lastOption.foreach { uuid =>
      val md = DatasetMetadata.load(spark, c.base, uuid)
      space += Tracer.walk(c.datasetDir(uuid))._2.toDouble / math.max(1L, liveBytes(md))
    }
  }

  /** Deletes every stored survivor dataset but the newest, outside the
    * timed pass, so the disk holds one copy.
    */
  private def dropOlder(): Unit = {
    stored.dropRight(1).foreach(DatasetMetadata.delete(spark, c.base, _))
    stored.remove(0, math.max(0, stored.size - 1))
  }

  private def pass(): (Digest, Digest, Digest) = {
    val tr = c.tr
    val corpus = Plans.curateCorpus(c.source("documents"), muts)
    val (exact, exactD) = tr.span("ops.dedup.exact") {
      val d = Dedup.exactByHash(corpus, "doc_id", "text").persist(StorageLevel.MEMORY_AND_DISK)
      (d, Digest.of(d, Seq("doc_id")))
    }
    try {
      tr.span("ops.dedup.signatures") { Digest.of(Dedup.minhashSignatures(exact, "doc_id", "text")) }
      val pairs = tr.span("ops.dedup.candidates") {
        Digest.of(Dedup.minhashCandidates(exact, "doc_id", "text"))
      }
      tr.count("dedup.candidate_pairs", pairs.count.toDouble)
      val (kept, keptD) = tr.span("ops.dedup.cc") {
        val d = Dedup.minhashDedupCC(exact, "doc_id", "text", threshold = 0.6)
          .persist(StorageLevel.MEMORY_AND_DISK)
        (d, Digest.of(d, Seq("doc_id")))
      }
      tr.count("dedup.removed", (corpusRows - keptD.count).toDouble)
      try {
        storeCount += 1
        val uuid = s"survivors_$storeCount"
        tr.span("ktk.write", "store") { Ktk.store(spark, c.base, uuid, kept) }
        stored += uuid
        tr.count("commits", 1)
        val back = tr.span("ktk.read.plan", "readback") { Ktk.readTable(spark, c.base, uuid) }
        val backD = tr.span("ktk.read.exec", "readback") { Digest.of(back, docCols) }
        tr.count("read.rows_returned", backD.count.toDouble)
        (exactD, keptD, backD)
      } finally { kept.unpersist(); () }
    } finally { exact.unpersist(); () }
  }

  def spaceAmp: Double = p50(space.toSeq)

  def detail: Map[String, Double] = Map(
    "docs_per_s" -> corpusRows / math.max(1e-9, p50(passS.toSeq)),
    "input_docs" -> corpusRows.toDouble,
    "pass_p50_s" -> p50(passS.toSeq))

  /** Exact-dedup survivors must equal a `groupBy(text)` reference; minhash
    * survivors must be exactly the source documents (every planted cluster
    * of four leaves its original, and only it); the stored dataset must
    * read back as those documents; every pass must agree.
    */
  def verify(): (Set[Int], Seq[String]) = {
    val corpus = Plans.curateCorpus(c.source("documents"), muts)
    val exactWant = Digest.of(corpus.groupBy("text").agg(min("doc_id").as("doc_id")), Seq("doc_id"))
    val docs = c.source("documents")
    val keptWant = Digest.of(docs, Seq("doc_id"))
    val backWant = Digest.of(docs, docCols)
    val wrong = passes.collect {
      case (op, e, k, b) if e != exactWant || k != keptWant || b != backWant =>
        System.err.println(s"[perfbench] curate op $op: exact $e/$exactWant kept $k/$keptWant back $b/$backWant")
        op
    }.toSet
    val problems = Seq.newBuilder[String]
    if (passes.map(p => (p._2, p._3, p._4)).distinct.size > 1) problems += "passes disagree"
    stored.lastOption.foreach { uuid =>
      val clusters = Ktk.readTable(spark, c.base, uuid)
        .groupBy(pmod(col("doc_id"), lit(Plans.CopyOffset))).count()
      val worst = clusters.agg(max("count")).head()
      if (!worst.isNullAt(0) && worst.getLong(0) != 1L) problems += "a planted cluster kept more than one survivor"
      if (clusters.count() != Sources.Documents) problems += "a planted cluster lost every member"
    }
    (wrong, problems.result())
  }
}
