package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source tables and the seeded op plans.
  *
  * The source tables play the role of a fixed TPC-H-like extract: their
  * rows do not depend on the workload seed, so every seed runs on inputs
  * of the same size and distribution. Each is a deterministic Spark
  * expression over `range`, evaluated afresh wherever it is used: by the
  * workload, which hands the rows to the engine, and by the oracles, which
  * compute the expected results from the same rows without the engine.
  *
  * The workload seed only chooses, through [[Plans]], which batch slices
  * are committed, the predicate constants and the planted near-duplicate
  * mutations.
  */
object Sources {
  val OrdersRows = 20000L
  val CustomerRows = 2000L
  val LineitemRows = 60000L
  val Documents = 500L

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val ReturnFlags = Seq("A", "N", "R")
  /** 1992-01-01 and the day span of the generated dates. */
  val EpochDay0 = 8035
  val DateDays = 2400
  /** Line items shipped before this day are status F, later ones O. */
  val StatusCutDay = 9298

  private val Const = 20261017L

  private def h(salt: Int): Column = xxhash64(col("id"), lit(Const), lit(salt))
  private def pick(values: Seq[String], salt: Int): Column =
    element_at(array(values.map(lit): _*), (pmod(h(salt), lit(values.size.toLong)) + 1).cast("int"))
  private def day(salt: Int): Column = lit(EpochDay0.toLong) + pmod(h(salt), lit(DateDays.toLong))
  private def tsOfDay(d: Column): Column = timestamp_seconds(d * 86400L)

  def orders(spark: SparkSession): DataFrame =
    spark.range(OrdersRows).select(
      col("id").as("o_orderkey"),
      pmod(h(1), lit(CustomerRows)).as("o_custkey"),
      pick(Seq("F", "O", "P"), 2).as("o_orderstatus"),
      (pmod(h(3), lit(50000000L)) / 100.0).as("o_totalprice"),
      tsOfDay(day(4)).as("o_orderdate"),
      pick(Priorities, 5).as("o_orderpriority"))

  def customer(spark: SparkSession): DataFrame =
    spark.range(CustomerRows).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      pmod(h(11), lit(25L)).cast("int").as("c_nationkey"),
      ((pmod(h(12), lit(1100000L)) - 100000L) / 100.0).as("c_acctbal"),
      pick(Segments, 13).as("c_mktsegment"))

  def lineitem(spark: SparkSession): DataFrame = {
    val ship = day(28)
    spark.range(LineitemRows).select(
      pmod(h(21), lit(OrdersRows)).as("l_orderkey"),
      pmod(h(22), lit(20000L)).as("l_partkey"),
      pmod(h(23), lit(1000L)).as("l_suppkey"),
      (pmod(h(24), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(25), lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(h(26), lit(10000000L)) / 100.0).as("l_extendedprice"),
      (pmod(h(27), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(29), lit(9L)) / 100.0).as("l_tax"),
      pick(ReturnFlags, 30).as("l_returnflag"),
      when(ship < StatusCutDay, lit("F")).otherwise(lit("O")).as("l_linestatus"),
      tsOfDay(ship).as("l_shipdate"))
  }

  /** Documents of 40 to 79 words; each word is the 16 hex digits of a hash,
    * so distinct documents share almost no character 5-grams.
    */
  def documents(spark: SparkSession): DataFrame =
    spark.range(Documents).select(
      col("id").as("doc_id"),
      expr(s"concat_ws(' ', transform(sequence(1, 40 + cast(pmod(xxhash64(id, ${Const}L, 41), 40) as int)), " +
        s"i -> lower(hex(xxhash64(id, i, ${Const}L)))))").as("text"),
      lit("en").as("lang"),
      pick(Seq("web", "books", "news"), 42).as("source"))

  def table(spark: SparkSession, name: String): DataFrame = name match {
    case "orders"    => orders(spark)
    case "customer"  => customer(spark)
    case "lineitem"  => lineitem(spark)
    case "documents" => documents(spark)
  }

  def rows(name: String): Long = name match {
    case "orders"    => OrdersRows
    case "customer"  => CustomerRows
    case "lineitem"  => LineitemRows
    case "documents" => Documents
  }
}

/** Order-independent digest of a DataFrame: row count and the exact sum of
  * a 64-bit hash of every row. Columns are hashed by name, in sorted order
  * and as strings, so a dataset read back through the engine and the same
  * rows read straight from parquet digest alike.
  */
final case class Digest(count: Long, sum: java.math.BigDecimal) {
  def +(o: Digest): Digest = Digest(count + o.count, sum.add(o.sum))
  override def toString: String = s"($count,${sum.toPlainString})"
}

object Digest {
  val Zero: Digest = Digest(0L, java.math.BigDecimal.ZERO)

  def rowHash(columns: Seq[String]): Column =
    xxhash64(columns.sorted.map(c => col(s"`$c`").cast("string")): _*).cast("decimal(38,0)")

  def aggregates(columns: Seq[String]): Seq[Column] =
    Seq(count(lit(1)), coalesce(sum(rowHash(columns)), lit(0).cast("decimal(38,0)")))

  def of(df: DataFrame, columns: Seq[String]): Digest = {
    val r = df.agg(aggregates(columns).head, aggregates(columns).tail: _*).head()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  def of(df: DataFrame): Digest = of(df, df.columns.toSeq)
}

/** The seeded op plans. A plan is a plain value: the same seed gives an
  * identical plan, and the benchmark checks that before it starts.
  */
object Plans {
  /** Rows of the ingest base dataset; later slices feed the batches. */
  val IngestBaseRows = 8000L
  val BatchRows = 200L
  val MaintEvery = 3
  val ReplaceEvery = 5
  val PlanLength = 60

  sealed trait IngestKind
  case object Update extends IngestKind
  case object TwoPhase extends IngestKind
  case object Replace extends IngestKind

  /** One ingest batch: the source slice it commits, how, the partition a
    * replace rewrites (rows of the slice are moved into it) and the
    * partition the fresh reader reads afterwards.
    */
  final case class Batch(index: Int, kind: IngestKind, sliceStart: Long,
      replacePartition: String, readPartition: String)

  def ingest(seed: Long): Seq[Batch] = {
    val rng = new java.util.SplittableRandom(seed)
    val slots = (Sources.OrdersRows - IngestBaseRows) / BatchRows
    val order = shuffle(rng, (0L until slots).toIndexedSeq)
    (0 until PlanLength).map { i =>
      val kind =
        if (i % ReplaceEvery == ReplaceEvery - 1) Replace
        else if (i % 2 == 0) Update
        else TwoPhase
      Batch(i, kind, IngestBaseRows + order(i) * BatchRows,
        Sources.Priorities(rng.nextInt(Sources.Priorities.size)),
        Sources.Priorities(rng.nextInt(Sources.Priorities.size)))
    }
  }

  /** Read classes of the query workload, in the fixed mix order. */
  val ReadClasses = Seq("partition", "index", "zone", "bloom", "scan", "cube")
  /** Constants per class drawn per seed; ops cycle through them. */
  val ConstantsPerClass = 4

  final case class Read(index: Int, cls: String, constant: Int)

  /** Seeded constants of every read class. */
  final case class QueryConstants(
      partition: Seq[String], indexStatus: Seq[String], indexQty: Seq[Int],
      zoneStartDay: Seq[Int], bloomKeys: Seq[Seq[Long]], scanDiscount: Seq[Double],
      cubeSegment: Seq[String], cubeMinPrice: Seq[Double])

  def queryConstants(seed: Long): QueryConstants = {
    val rng = new java.util.SplittableRandom(seed ^ 0x51L)
    val n = ConstantsPerClass
    QueryConstants(
      partition = Seq.fill(n)(Sources.ReturnFlags(rng.nextInt(Sources.ReturnFlags.size))),
      indexStatus = Seq.fill(n)(if (rng.nextBoolean()) "F" else "O"),
      indexQty = Seq.fill(n)(3 + rng.nextInt(8)),
      zoneStartDay = Seq.fill(n)(Sources.EpochDay0 + rng.nextInt(Sources.DateDays - 30)),
      bloomKeys = Seq.fill(n)(Seq.fill(5)(rng.nextLong(Sources.OrdersRows))),
      scanDiscount = Seq.fill(n)((2 + rng.nextInt(8)) / 100.0),
      cubeSegment = Seq.fill(n)(Sources.Segments(rng.nextInt(Sources.Segments.size))),
      cubeMinPrice = Seq.fill(n)(100000.0 + rng.nextInt(300000)))
  }

  /** Unit `u` reads every class with constant `u % ConstantsPerClass`, so
    * every run uses each seeded constant equally often.
    */
  val query: Seq[Read] = (0 until PlanLength * 4 * ReadClasses.size).map { i =>
    Read(i, ReadClasses(i % ReadClasses.size), (i / ReadClasses.size) % ConstantsPerClass)
  }

  /** Near-duplicate copies per source document in the curate corpus:
    * an exact copy, a copy with one word replaced, and a copy with a
    * token prepended. Ids are offset by multiples of [[CopyOffset]].
    */
  val CopyOffset = 1000000L

  final case class Mutations(replaceToken: String, prefixToken: String, positionSalt: Long)

  def curate(seed: Long): Mutations = {
    val rng = new java.util.SplittableRandom(seed ^ 0x53L)
    def token(n: Int) = (1 to n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    Mutations(token(7), token(5), rng.nextLong())
  }

  def curateCorpus(docs: DataFrame, m: Mutations): DataFrame = {
    val words = split(col("text"), " ")
    val pos = pmod(xxhash64(col("doc_id"), lit(m.positionSalt)), size(words).cast("long"))
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(array((0 to 3).map(k => lit(k.toLong)): _*)).as("__k"))
      .select(
        (col("doc_id") + col("__k") * CopyOffset).as("doc_id"),
        when(col("__k") === 2L,
            concat_ws(" ", transform(words, (w, i) => when(i === pos, lit(m.replaceToken)).otherwise(w))))
          .when(col("__k") === 3L, concat(lit(m.prefixToken + " "), col("text")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))
  }

  private def shuffle[T](rng: java.util.SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** The generator self-check: the same seed gives byte-identical plans; a
    * different seed keeps the op mix and the sizes and changes the
    * constants. Returns the problems found (none on success).
    */
  def selfCheck(seed: Long): Seq[String] = {
    val other = seed + 1
    def render(s: Long): String =
      Seq(ingest(s), query, queryConstants(s), curate(s)).mkString("\n")
    val problems = Seq.newBuilder[String]
    val a = render(seed).getBytes("UTF-8")
    val b = render(seed).getBytes("UTF-8")
    if (!java.util.Arrays.equals(a, b)) problems += "same seed gave different plans"
    if (ingest(seed).map(_.kind) != ingest(other).map(_.kind))
      problems += "ingest op mix depends on the seed"
    if (ingest(seed).map(_.sliceStart) == ingest(other).map(_.sliceStart))
      problems += "ingest slices do not depend on the seed"
    if (queryConstants(seed) == queryConstants(other))
      problems += "query constants do not depend on the seed"
    if (curate(seed) == curate(other)) problems += "curate mutations do not depend on the seed"
    val (m1, m2) = (curate(seed), curate(other))
    if (m1.replaceToken.length != m2.replaceToken.length || m1.prefixToken.length != m2.prefixToken.length)
      problems += "curate mutation sizes depend on the seed"
    problems.result()
  }
}
