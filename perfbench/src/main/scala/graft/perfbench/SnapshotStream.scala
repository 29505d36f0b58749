package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Fns, Tables}
import graft.ops.{SipJoin, Snapshot, StreamOps}

/** Seeded `events` files for `snapshot_stream`, one per landing slot, and
  * the q126 oracle state (per-user argmax by event_id) after each file. */
final class EventGen(seed: Long, files: Int) {
  import SnapshotStream._
  /** (event_id, user_id, event_type, cents) per file. */
  val events: IndexedSeq[IndexedSeq[(Long, Long, String, Long)]] = {
    val r = new java.util.SplittableRandom(seed * 0x632BE59BD9B4E019L + 5)
    (0 until files).map { k =>
      (0 until EventsPerFile).map { i =>
        (k.toLong * EventsPerFile + i, r.nextLong(Users.toLong),
          Types(r.nextInt(Types.length)), r.nextLong(1L, 100000L))
      }
    }
  }

  /** Order-insensitive hash of the expected table after `n` files. */
  val stateHash: IndexedSeq[Long] = {
    val state = mutable.HashMap.empty[Long, (Long, String, Double)]
    var h = 0L
    0L +: events.map { f =>
      f.foreach { case (id, u, tp, cents) =>
        state.get(u).foreach(old => h -= rowHash(u, old))
        val now = (id, tp, cents / 100.0)
        state(u) = now
        h += rowHash(u, now)
      }
      h
    }
  }

  def finalState(n: Int): Map[Long, (Long, String, Double)] = {
    val state = mutable.HashMap.empty[Long, (Long, String, Double)]
    events.take(n).foreach(_.foreach { case (id, u, tp, cents) => state(u) = (id, tp, cents / 100.0) })
    state.toMap
  }

  /** Writes file k as `<dir>/file=<k>/part-*.parquet`, one file each. */
  def write(spark: SparkSession, dir: Path): Unit = {
    val rows = events.zipWithIndex.flatMap { case (f, k) =>
      f.map { case (id, u, tp, cents) =>
        Row(id, BaseTsNs + id * 1000000L, u, tp, cents / 100.0, "{}", k)
      }
    }
    val sch = StructType(eventsSchema.fields :+ StructField("file", IntegerType))
    spark.createDataFrame(rows.asJava, sch).repartition(col("file"))
      .write.mode("overwrite").partitionBy("file").parquet(dir.toString)
  }

  def fileOf(dir: Path, k: Int): Path = {
    val d = dir.resolve(s"file=$k")
    Files.list(d).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet file under $d"))
  }
}

/** `snapshot_stream`: writes beside reads.
  *  - Write side, open loop: a generator lands one events file every
  *    `IntervalMs`; a structured stream applies each through the q126 sink
  *    (`StreamOps.snapshotSinkBatch`, one copy-on-write commit per batch),
  *    with `compactVersion` + `expireVersions` between batches every
  *    `MaintainEvery` batches.
  *  - Read side, closed loop: one reader thread cycles point read,
  *    `rangeCount`, a time-travel read and a `SipJoin.sipJoin` against the
  *    live table. */
object SnapshotStream extends Workload {
  /** The sf0.1 fixture's user count. */
  val Users = 1500
  val EventsPerFile = 400
  val IntervalMs = 1300
  val MaintainEvery = 6
  val Keep = 8
  val Types = Array("click", "view", "purchase", "signup", "error")
  val BaseTsNs = 1704067200000000000L
  val VipUsers = 16
  /** Set-up batches: two compact + expire cycles, the second of which
    * expires versions, so the measured phase starts in steady state with
    * Keep versions retained, cycling up to Keep + MaintainEvery. */
  val WarmFiles = 12

  def eventsSchema: StructType =
    StructType(Tables.contracts("events").map { case (n, t) => StructField(n, t) })

  def rowHash(u: Long, v: (Long, String, Double)): Long =
    scala.util.hashing.MurmurHash3.productHash((u, v._1, v._2, v._3)).toLong * 0x9E3779B97F4A7C15L

  private def hashRows(rows: Array[Row]): Long =
    rows.map(r => rowHash(r.getLong(0), (r.getLong(1), r.getString(2), r.getDouble(3)))).sum

  /** The q126 stream: the landing dir, one file per trigger, value in
    * exact cents, each micro-batch through the snapshot sink. */
  private def source(spark: SparkSession, land: Path): DataFrame =
    spark.readStream.schema(eventsSchema).option("maxFilesPerTrigger", "1")
      .parquet(land.toString)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Fns.od(Fns.dec2(col("value"))).as("value"))

  private def fileIndex(b: DataFrame, fallback: Long): Int =
    b.inputFiles.headOption
      .map(p => new org.apache.hadoop.fs.Path(p).getName.stripSuffix(".parquet").toInt)
      .getOrElse(fallback.toInt)

  /** The file source orders by modification time: stamp the landing time,
    * or `mtime` for files landed together. */
  private def land(src: Path, land: Path, k: Int,
                   mtime: Long = System.currentTimeMillis()): Unit = {
    val to = land.resolve(s"$k.parquet")
    Files.move(src, to, StandardCopyOption.ATOMIC_MOVE)
    to.toFile.setLastModified(mtime)
  }

  private def readMix(spark: SparkSession, t: Tracer, dir: String, vip: DataFrame,
                      i: Long, r: java.util.SplittableRandom,
                      versions: scala.collection.Map[Int, Int]): Option[(Int, Array[Row])] =
    (i % 4).toInt match {
      case 0 =>
        t.span("snapshot.read_point")(
          Snapshot.readPoints(spark, dir, "user_id", Seq(r.nextLong(Users.toLong))).collect())
        None
      case 1 =>
        val lo = r.nextLong(Users.toLong)
        t.span("snapshot.range_count")(Snapshot.rangeCount(spark, dir, lo, lo + Users / 10))
        None
      case 2 => t.span("snapshot.time_travel") {
        val cur = t.span("snapshot.manifest") {
          val v = Snapshot.currentVersion(spark, dir)
          Snapshot.manifest(spark, dir, v)
          v
        }
        // a version recorded at publication, a few behind the head, so
        // expiry between choosing and reading cannot remove it
        val known = versions.keys.filter(v => v <= cur && v > cur - (Keep - 4))
        if (known.isEmpty) None
        else {
          val v = known.min
          Some(v -> Snapshot.read(spark, dir, v)
            .select("user_id", "last_event", "last_type", "last_value").collect())
        }
      }
      case _ =>
        t.span("sipjoin.join")(SipJoin.sipJoin(spark.read.format("graft").load(dir), vip,
          "user_id", "uid").collect())
        None
    }

  def run(spark: SparkSession, t: Tracer, a: Args, out: Outcome): Double = {
    val root = a.work.resolve("snapshot_stream")
    val nFiles = math.ceil(a.seconds * 1000 / IntervalMs).toInt + 1
    val vip = spark.range(VipUsers).select((col("id") * (Users / VipUsers) + 3).as("uid"))
      .localCheckpoint()
    val genDir = root.resolve("gen")
    val dir = root.resolve("table").toString
    val landDir = Files.createDirectories(root.resolve("land"))
    val ckpt = root.resolve("ckpt").toString
    val tracker = new FileTracker(spark, dir)
    // per-batch records, written by the stream thread
    val versions = new java.util.concurrent.ConcurrentHashMap[Int, Int]().asScala
    val published = new java.util.concurrent.ConcurrentHashMap[Int, Long]().asScala
    val sinkPoints = new ConcurrentLinkedQueue[(Int, Double)]()
    val maintenance = new ConcurrentLinkedQueue[(Long, Long)]()
    val compactBytes = new ConcurrentLinkedQueue[Long]()
    val landed = new AtomicLong(0)
    val measured = new AtomicBoolean(false)
    var maxBacklog = 0L
    val streamErrors = new AtomicLong(0)

    // one micro-batch: the q126 sink, then every MaintainEvery batches
    // compaction and expiry; the bookkeeping the checks need is one
    // version listing per batch, the rest runs only in traced runs or
    // just before expiry
    def sink(b: Dataset[Row], id: Long): Unit = t.span("stream.add_batch") {
      val k = fileIndex(b.toDF(), id)
      if (measured.get()) maxBacklog = maxBacklog max (WarmFiles + landed.get() - k)
      val retained = if (a.trace) Snapshot.versions(spark, dir).size else 0
      val (_, sinkS) = Workload.timed(
        t.span("snapshot.sink")(StreamOps.snapshotSinkBatch(dir, id, b.toDF())))
      published(k) = System.nanoTime()
      versions(Snapshot.currentVersion(spark, dir)) = k + 1
      if (measured.get() && a.trace) sinkPoints.add((retained, sinkS * 1000))
      if ((id + 1) % MaintainEvery == 0) {
        val m0 = System.nanoTime()
        val cv = t.span("snapshot.compact")(Snapshot.compactVersion(spark, dir, 128L << 20))
        versions(cv) = k + 1
        if (measured.get() && a.trace) {
          val old = Snapshot.manifest(spark, dir, cv - 1).files.map(_.path).toSet
          compactBytes.add(Snapshot.manifest(spark, dir, cv).files.filterNot(f => old(f.path))
            .map(f => Files.size(Paths.get(dir, f.path))).sum)
        }
        tracker.update(allVersions = true)
        t.span("snapshot.expire")(Snapshot.expireVersions(spark, dir, Keep))
        if (measured.get()) maintenance.add((m0, System.nanoTime()))
      }
    }

    // one stream for set-up and the measured phase, so the measured phase
    // starts on a running query
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val (gen, setupS) = Workload.setup {
      val g = new EventGen(a.seed, WarmFiles + nFiles)
      g.write(spark, genDir)
      g
    } { g =>
      // history: the first WarmFiles files through the stream into the
      // measured table, then one read of each kind
      val now = System.currentTimeMillis()
      (0 until WarmFiles).foreach(k =>
        land(g.fileOf(genDir, k), landDir, k, now - (WarmFiles - k) * 1000L))
      q = source(spark, landDir).writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((b: Dataset[Row], id: Long) => sink(b, id)).start()
      q.processAllAvailable()
      val r = new java.util.SplittableRandom(1)
      (0 until 4).foreach(i => readMix(spark, t, dir, vip, i, r, versions))
    }
    Report.line(s"history: ${Snapshot.versions(spark, dir).size} retained versions after " +
      s"$WarmFiles set-up batches")
    measured.set(true)

    // write side: land measured file k at t0 + (k - WarmFiles) * interval, open loop
    val stop = new AtomicBoolean(false)
    val late = new ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime() + 200000000L
    def due(k: Int): Long = t0 + (k - WarmFiles) * IntervalMs * 1000000L
    val lander = new Thread(() => {
      var k = WarmFiles
      while (k < WarmFiles + nFiles && !stop.get()) {
        val wait = due(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(gen.fileOf(genDir, k), landDir, k)
        late.add((System.nanoTime() - due(k)) / 1e9)
        landed.incrementAndGet()
        k += 1
      }
    }, "perfbench-lander")

    // read side: closed loop against the live table
    val reads = new ConcurrentLinkedQueue[(Long, Long, Int)]()
    val travels = new ConcurrentLinkedQueue[(Int, Array[Row])]()
    val readFailed = new AtomicLong(0)
    val readAttempted = new AtomicLong(0)
    val reader = new Thread(() => {
      val r = new java.util.SplittableRandom(a.seed)
      while (versions.isEmpty && !stop.get()) Thread.sleep(5)
      var i = 0L
      while (!stop.get()) {
        readAttempted.incrementAndGet()
        val s0 = System.nanoTime()
        try {
          readMix(spark, t, dir, vip, i, r, versions).foreach(travels.add)
          reads.add((s0, System.nanoTime(), (i % 4).toInt))
        } catch {
          case e: Exception =>
            readFailed.incrementAndGet()
            Report.line(s"FAILED read op ${i % 4}: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | "))
        }
        i += 1
      }
    }, "perfbench-reader")

    t.measuring = true
    lander.start()
    reader.start()
    lander.join()
    // drain: every landed file is applied before the run ends
    try q.processAllAvailable()
    catch { case e: Exception =>
      streamErrors.incrementAndGet()
      Report.line(s"FAILED stream: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    stop.set(true)
    reader.join()
    t.measuring = false
    q.stop()

    tracker.update(allVersions = true)

    val n = landed.get().toInt
    val measuredFiles = WarmFiles until WarmFiles + n
    out.attempted += n + readAttempted.get()
    out.failed += readFailed.get() + measuredFiles.count(k => !published.contains(k)) +
      streamErrors.get()
    val fresh = measuredFiles.flatMap(k => published.get(k).map(p => (p - due(k)) / 1e9))
    val readLat = reads.asScala.toSeq.map { case (s0, s1, _) => (s1 - s0) / 1e9 }
    // one cycle = one operation of each kind, back to back (a dashboard
    // refresh); its median is steadier than the median over a mix of four
    // latency classes, which jumps between them
    val cycles = reads.asScala.toSeq.grouped(4).filter(_.size == 4)
      .map(c => (c.last._2 - c.head._1) / 1e9).toSeq

    // output checks: final table vs the q126 oracle, time travel vs the
    // state recorded at publication
    val finalRows = Snapshot.read(spark, dir).select("user_id", "last_event", "last_type", "last_value")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getDouble(3))).toMap
    out.check("final table = per-user argmax of landed events", finalRows, a.negative,
      (m: Map[Long, (Long, String, Double)]) => m - m.keys.head)(_ == gen.finalState(WarmFiles + n))
    travels.asScala.foreach { case (v, rows) =>
      out.check(s"time travel v$v", rows, a.negative,
        (xs: Array[Row]) => xs.drop(1))(xs => hashRows(xs) == gen.stateHash(versions(v)))
    }

    Report.line("freshness per file (s): " + fresh.map(x => f"$x%.3f").mkString(" "))
    Report.metric("freshness_p50_s", "s", Report.median(fresh), fresh.size,
      s"(one file every $IntervalMs ms, $EventsPerFile events each)")
    Report.tailMetric("freshness_tail_s", fresh)
    Report.metric("read_p50_s", "s", Report.median(readLat), readLat.size)
    Report.metric("read_cycle_p50_s", "s", Report.median(cycles), cycles.size,
      "(point + range + time travel + SIP join)")
    Report.tailMetric("read_tail_s", readLat)
    Report.metric("write_amp", "ratio", tracker.writeAmp, tracker.versions)
    out.e2e("latency_p50_s") = Report.median(cycles)
    // reader operations per second, first operation start to last end
    val rs = reads.asScala.toSeq
    out.e2e("throughput_per_s") =
      rs.size / ((rs.map(_._2).max - rs.map(_._1).min) / 1e9)

    if (a.trace) {
      for ((m, s) <- Seq("snapshot.read_point_s" -> "snapshot.read_point",
          "snapshot.range_count_s" -> "snapshot.range_count",
          "snapshot.time_travel_s" -> "snapshot.time_travel",
          "snapshot.manifest_s" -> "snapshot.manifest",
          "snapshot.compact_s" -> "snapshot.compact", "snapshot.expire_s" -> "snapshot.expire",
          "sipjoin.join_s" -> "sipjoin.join"))
        out.layers(m) = Layers.selfS(t, s)
      val m = Snapshot.manifest(spark, dir, Snapshot.currentVersion(spark, dir))
      out.layers("snapshot.versions_live") = Snapshot.versions(spark, dir).size.toDouble
      out.layers("snapshot.files_live") = m.files.size.toDouble
      val cb = compactBytes.asScala.toSeq
      out.layers("snapshot.compact_bytes_rewritten") = if (cb.isEmpty) 0.0 else cb.sum.toDouble / cb.size
      val windows = maintenance.asScala.toSeq
      val during = reads.asScala.toSeq.collect { case (s0, s1, _)
        if windows.exists { case (m0, m1) => s0 < m1 && s1 > m0 } => (s1 - s0) / 1e9 }
      out.layers("snapshot.reads_during_maintenance_p50_s") =
        if (during.isEmpty) 0.0 else Report.median(during)
      val pts = sinkPoints.asScala.toSeq
      out.layers("snapshot.sink_ms_per_version") = slope(pts)
      val keys = SipJoin.dimKeys(vip, "uid", LongType)
      out.layers("sipjoin.files_scanned_ratio") =
        SipJoin.plannedFiles(m, "user_id", keys).size.toDouble / m.files.size.max(1)
      val prog = t.progress.asScala.toSeq
      def meanMs(k: String) = if (prog.isEmpty) 0.0 else prog.map(_.getOrElse(k, 0L)).sum.toDouble / prog.size
      out.layers("stream.add_batch_ms") = meanMs("addBatch")
      out.layers("stream.wal_commit_ms") = meanMs("walCommit")
      out.layers("stream.commit_offsets_ms") = meanMs("commitOffsets")
      out.layers("stream.query_planning_ms") = meanMs("queryPlanning")
      out.layers("stream.latest_offset_ms") = meanMs("latestOffset")
      out.layers("stream.trigger_ms") = meanMs("triggerExecution")
      out.layers("stream.backlog_files") = maxBacklog.toDouble
      out.layers("stream.generator_late_s") = late.asScala.maxOption.getOrElse(0.0)
    }
    setupS
  }

  /** Least-squares slope of y on x. */
  private def slope(pts: Seq[(Int, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = pts.map(_._1.toDouble).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
  }
}
