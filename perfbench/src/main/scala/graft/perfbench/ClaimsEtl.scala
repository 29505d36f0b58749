package graft.perfbench

import java.nio.file.Path
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Stages, Tables}
import graft.ops.Snapshot

/** The claims and dims of `claims_etl` as pure functions of the seed and
  * the order key, so any part of the input can be generated on any
  * executor and generated again for the expected state. Proportions follow
  * the sf0.1 fixture (TPC-H shaped, measured on it): order price uniform
  * in [1 000, 500 000), so ~30 % of claim rows miss the dim's 150 000
  * floor; 1-7 lines per order, uniform (the fixture's line numbers are
  * 1-7 and it has 4 lines per order on average);
  * statuses O/F/P and return flags R/A/N in equal thirds; quantity 1-50. */
final case class ClaimsModel(seed: Long) {
  import ClaimsGen._

  private def rng(k: Long) = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ k)

  /** Orders are immutable per key, so any increment can re-ship one. */
  def order(key: Long): Order = {
    val r = rng(key)
    Order(key, 1L + r.nextLong(15000L), Statuses(r.nextInt(Statuses.length)),
      (100000L + r.nextLong(49900000L)) / 100.0,
      Epoch.plusDays(r.nextInt(2405).toLong), Priorities(r.nextInt(Priorities.length)))
  }

  def lines(key: Long): Int = 1 + rng(~key).nextInt(7)

  /** Line `line` of order `o` as written by `salt` (0: its first landing,
    * d: its correction on day d). */
  def claim(o: Order, line: Int, salt: Long): Claim = {
    val r = rng(o.key * 32 + line + salt * 1000003L)
    Claim(o.key, line, r.nextLong(1L, 51L).toDouble,
      (90000L + r.nextLong(10410000L)) / 100.0, Flags(r.nextInt(Flags.length)),
      o.date.plusDays(r.nextLong(1L, 122L)))
  }

  def claims(key: Long, salt: Int => Long): Seq[Claim] = {
    val o = order(key)
    (1 to lines(key)).map(l => claim(o, l, salt(l)))
  }
}

/** Seeded inputs of `claims_etl`, written as fixture-shaped directories
  * (`lineitem.parquet`, `orders.parquet`) whose columns are exactly
  * `Tables.contracts`. Orders 1..`base` form the base; increment d adds
  * `dayOrders` fresh orders and corrects `dayCorrections` distinct claim
  * lines of the `2 * dayOrders` orders before them (the recent ones). The
  * generator remembers the last correction day of every corrected line,
  * which with the model fixes the expected upserted snapshot state. */
final class ClaimsGen(seed: Long, base: Long, dayOrders: Long, dayCorrections: Int) {
  import ClaimsGen._
  val model = ClaimsModel(seed)
  /** ck = claim_key * 100 + claim_line -> last day that corrected it. */
  private val fixedOn = mutable.HashMap.empty[Long, Int]
  var orders: Long = 0L

  def freshRange(day: Int): (Long, Long) =
    if (day == 0) (1L, base + 1) else {
      val lo = base + 1 + (day - 1) * dayOrders
      (lo, lo + dayOrders)
    }

  /** Increment `day` (0 = the base): writes it under `dir` and returns
    * (claim rows, expected join misses). */
  def write(spark: SparkSession, day: Int, dir: Path): (Long, Long) = {
    val (lo, hi) = freshRange(day)
    val fixes = if (day == 0) Seq.empty[(Long, Int)] else {
      val r = new java.util.SplittableRandom(seed ^ (day.toLong << 40))
      val picked = mutable.LinkedHashSet.empty[(Long, Int)]
      while (picked.size < dayCorrections) {
        val k = lo - 1 - r.nextLong(2 * dayOrders)
        picked += ((k, 1 + r.nextInt(model.lines(k))))
      }
      picked.toSeq
    }
    val m = model
    val sc = spark.sparkContext
    val freshKeys = sc.range(lo, hi, numSlices = Parts)
    val fixRows = sc.parallelize(fixes, Parts).map { case (k, l) =>
      lineRow(m.claim(m.order(k), l, day.toLong)) }
    val li = freshKeys.flatMap(k => m.claims(k, _ => 0L).map(lineRow)).union(fixRows)
    val or = freshKeys.union(sc.parallelize(fixes.map(_._1).distinct, Parts))
      .map(k => orderRow(m.order(k)))
    spark.createDataFrame(li, schema("lineitem")).coalesce(Parts)
      .write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
    spark.createDataFrame(or, schema("orders")).coalesce(Parts)
      .write.mode("overwrite").parquet(dir.resolve("orders.parquet").toString)

    fixes.foreach { case (k, l) => fixedOn(k * 100 + l) = day }
    orders = orders max (hi - 1)
    // counted on the driver from the model, independently of the engine
    var rows, misses = 0L
    var k = lo
    while (k < hi) {
      val n = m.lines(k)
      rows += n
      if (m.order(k).price <= DimPriceFloor) misses += n
      k += 1
    }
    (rows + fixes.size, misses + fixes.count(f => m.order(f._1).price <= DimPriceFloor))
  }

  /** The expected snapshot after every written increment, as rows of
    * [[ClaimsGen.ExpectCols]]. */
  def expected(spark: SparkSession): DataFrame = {
    val m = model
    val fixed = spark.sparkContext.broadcast(fixedOn.toMap)
    val rows = spark.sparkContext.range(1L, orders + 1, numSlices = Parts).flatMap { k =>
      m.claims(k, l => fixed.value.getOrElse(k * 100 + l, 0).toLong)
        .map(c => expectRow(c, m.order(k)))
    }
    spark.createDataFrame(rows, ExpectSchema)
  }
}

object ClaimsGen {
  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         date: LocalDateTime, prio: String)
  final case class Claim(key: Long, line: Int, qty: Double, price: Double,
                         flag: String, ship: LocalDateTime)

  val Statuses = Array("O", "F", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Flags = Array("R", "A", "N")
  val Epoch: LocalDateTime = LocalDateTime.of(1995, 1, 1, 0, 0)
  /** The load stage keeps dim rows priced above this; others miss the join. */
  val DimPriceFloor = 150000.0
  /** Files per generated table. */
  val Parts = 4
  private val Ymd = DateTimeFormatter.ofPattern("yyyyMMdd")

  def schema(table: String): StructType =
    StructType(Tables.contracts(table).map { case (n, t) => StructField(n, t) })

  def lineRow(c: Claim): Row =
    Row(c.key, c.key * 7 % 20000, c.key * 3 % 1000, c.line, c.qty, c.price,
      0.05, 0.02, c.flag, "O", c.ship)

  def orderRow(o: Order): Row = Row(o.key, o.cust, o.status, o.price, o.date, o.prio)

  /** The snapshot columns the final check compares; `cust_key` is null on
    * a join miss. */
  val ExpectCols: Seq[String] = Seq("claim_key", "claim_line", "qty", "ext_price",
    "ret_flag", "ship_ymd", "cust_key", "order_status_decoded")
  val ExpectSchema: StructType = StructType(Seq(
    StructField("claim_key", LongType), StructField("claim_line", IntegerType),
    StructField("qty", DoubleType), StructField("ext_price", DoubleType),
    StructField("ret_flag", StringType), StructField("ship_ymd", StringType),
    StructField("cust_key", LongType), StructField("order_status_decoded", StringType)))

  def expectRow(c: Claim, o: Order): Row = {
    val joined = o.price > DimPriceFloor
    Row(c.key, c.line, c.qty, c.price, c.flag, c.ship.format(Ymd),
      if (joined) o.cust else null,
      if (!joined) "Unknown"
      else o.status match { case "O" => "Open"; case "F" => "Finished"; case _ => "Unknown" })
  }
}

/** `claims_etl`: the paper's pipeline, one closed-loop client. Set-up
  * generates the base claims + dim set and loads it into the standing
  * snapshot; the measured phase lands a fixed number of increments, one at
  * a time, and runs stage -> load -> derive -> publish -> merge on each. */
object ClaimsEtl extends Workload {
  /** The sf0.1 fixture's order count: ~600 000 base claim rows. */
  val BaseOrders = 150000L
  /** An increment is a tenth of the base (~60 000 claim rows). */
  val DayOrders = 15000L
  /** Corrected claim lines per increment, a tenth of its rows. */
  val DayCorrections = 6000
  /** Nominal seconds per increment: the increment count is fixed by
    * `--seconds` alone, never by how fast the engine runs. */
  val NominalIncrementS = 4.0

  def increments(seconds: Double): Int = math.max(2, math.round(seconds / NominalIncrementS).toInt)

  def run(spark: SparkSession, t: Tracer, a: Args, out: Outcome): Double = {
    val root = a.work.resolve("claims_etl")
    def pipeline(in: Path, work: Path, tag: String): (Long, Long) = {
      t.span("stages.stage")(Stages.stage(spark, work.toString, in.toString))
      t.span("stages.load")(Stages.load(spark, work.toString))
      t.span("stages.derive")(Stages.derive(spark, work.toString))
      val pub = t.span("stages.publish")(Stages.publish(spark, work.toString))
      t.span("stages.merge")(Stages.merge(spark, work.toString, tag))
      pub
    }

    // set-up: generate the base (repeatedly), then load the standing
    // snapshot from it through the pipeline once
    val dir = root.resolve("inputs")
    val work = root.resolve("pipeline")
    val (gen, setupS) = Workload.setup {
      val g = new ClaimsGen(a.seed, BaseOrders, DayOrders, DayCorrections)
      g.write(spark, 0, dir.resolve("in-0"))
      g
    }(_ => pipeline(dir.resolve("in-0"), work, "day-0"))
    Workload.deleteTree(dir.resolve("in-0"))
    val table = work.resolve("claims_snapshot").toString
    val tracker = new FileTracker(spark, table)
    tracker.update()

    // measured phase: a fixed number of increments, one at a time
    val walls = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var rewritten, carried = 0L
    var changedRows, rewrittenRows = 0L
    var broken = false
    for (day <- 1 to increments(a.seconds) if !broken) {
      val in = dir.resolve(s"in-$day")
      val (claimRows, misses) = gen.write(spark, day, in)
      val before = Snapshot.manifest(spark, table, Snapshot.currentVersion(spark, table))
      t.measuring = true
      val res = out.op(s"increment day-$day") {
        Workload.timed(t.span("etl.increment")(pipeline(in, work, s"day-$day")))
      }
      t.measuring = false
      res match {
        case None => broken = true
        case Some(((pubRows, gotMisses), s)) =>
          walls += s
          Report.line(f"increment day-$day: $s%.3f s ($claimRows claim rows)")
          rows += claimRows
          out.check(s"day-$day published rows", pubRows, a.negative,
            (x: Long) => x + 1)(_ == claimRows)
          out.check(s"day-$day join misses", gotMisses, a.negative,
            (x: Long) => x - 1)(_ == misses)
          val after = Snapshot.manifest(spark, table, Snapshot.currentVersion(spark, table))
          val old = before.files.map(_.path).toSet
          val fresh = after.files.filterNot(f => old.contains(f.path))
          rewritten += fresh.size
          carried += after.files.size - fresh.size
          changedRows += claimRows
          rewrittenRows += fresh.map(_.rows).sum
          tracker.update()
      }
      Workload.deleteTree(in)
    }

    // output check: the final snapshot equals the expected upserted state,
    // by row count and an order-insensitive hash (the exact sum of one
    // 64-bit hash per row)
    def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(ClaimsGen.ExpectCols.map(col): _*).cast("decimal(20,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val want = digest(gen.expected(spark))
    val got = Snapshot.read(spark, table).select(ClaimsGen.ExpectCols.map(col): _*)
    out.check("final snapshot state", got, a.negative,
      (df: DataFrame) => df.withColumn("qty",
        when(col("claim_key") === df.agg(max("claim_key")).head().getLong(0), col("qty") + 1)
          .otherwise(col("qty"))))(df => digest(df) == want)

    val n = walls.size
    val wallSum = walls.sum
    Report.metric("etl_rows_per_s", "rows/s", rows / wallSum, n,
      s"($rows claim rows over $n increments onto a base of $BaseOrders orders)")
    Report.metric("etl_increment_p50_s", "s", Report.median(walls.toSeq), n)
    Report.metric("write_amp", "ratio", tracker.writeAmp, tracker.versions)
    out.e2e("latency_p50_s") = Report.median(walls.toSeq)
    out.e2e("throughput_per_s") = rows / wallSum

    if (a.trace) {
      for (st <- Seq("stage", "load", "derive", "publish", "merge"))
        out.layers(s"stages.${st}_s") = Layers.selfS(t, s"stages.$st")
      out.layers("stages.uncovered_s") = Layers.selfS(t, "etl.increment")
      val load = t.scoped("stages.load")
      out.layers("ingest.rows_loaded") = load.recordsWritten.toDouble / n
      out.layers("stages.load_input_bytes") = load.inputBytes.toDouble / n
      out.layers("stages.derive_shuffle_bytes") = t.scoped("stages.derive").shuffleBytes.toDouble / n
      out.layers("snapshot.merge_files_rewritten") = rewritten.toDouble / n
      out.layers("snapshot.merge_files_carried") = carried.toDouble / n
      out.layers("snapshot.merge_rewrite_ratio") = changedRows.toDouble / rewrittenRows.max(1L)
      val stages = Seq("stage", "load", "derive", "publish", "merge")
        .map(s => Layers.selfS(t, s"stages.$s")).sum
      Report.line(f"increment wall (mean) ${wallSum / n}%.4f s = stages $stages%.4f s " +
        f"+ uncovered ${out.layers("stages.uncovered_s")}%.4f s")
    }
    setupS
  }
}

/** Data-file bytes written into a snapshot table over its life, set-up
  * included, against the bytes of the files live at the end: every file
  * that appears in a manifest was written once. Files leave only through
  * expiry, so an update over every retained version just before each
  * expiry sees them all. */
final class FileTracker(spark: SparkSession, table: String) {
  private val seen = mutable.HashMap.empty[String, Long]
  private val fs = new org.apache.hadoop.fs.Path(table)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  var versions = 0
  private var live = 0L

  private def len(path: String): Long =
    seen.getOrElseUpdate(path, fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$table/$path")).getLen)

  /** Records the files of the current version, or of every retained one. */
  def update(allVersions: Boolean = false): Unit = {
    val cur = Snapshot.currentVersion(spark, table)
    val vs = if (allVersions) Snapshot.versions(spark, table) else Seq(cur)
    vs.foreach(v => Snapshot.manifest(spark, table, v).files.foreach(f => len(f.path)))
    live = Snapshot.manifest(spark, table, cur).files.map(f => len(f.path)).sum
    versions += 1
  }

  def written: Long = seen.values.sum
  def writeAmp: Double = written.toDouble / live.max(1L)
}
