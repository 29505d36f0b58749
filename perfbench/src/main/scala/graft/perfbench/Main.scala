package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. `work` is a directory the
  * run owns: inputs, tables, checkpoints and spill all go under it. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, negative: Boolean, work: Path,
                      cores: Int)

/** What a workload hands back to [[Main]]. `e2e` holds the contract
  * metrics (`latency_p50_s`, `throughput_per_s`), `layers` the per-layer
  * metrics it measured; both are reported by name. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  /** Count one operation; a failure is logged, never timed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        Report.line(s"FAILED operation $what: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}")
        None
    }
  }

  /** Run one output check outside the timed region. With `negative`, the
    * check is run a second time on a corrupted copy of the output and must
    * fail there; a check that cannot fail counts as a failed check. */
  def check[A](name: String, observed: A, negative: Boolean,
               corrupt: A => A)(ok: A => Boolean): Unit = {
    attempted += 1
    val pass = try ok(observed) catch { case e: Exception =>
      Report.line(s"check $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      false
    }
    if (!pass) failed += 1
    Report.line(s"check $name: ${if (pass) "pass" else "FAIL"}")
    if (negative) {
      val caught = try !ok(corrupt(observed)) catch { case _: Exception => true }
      if (!caught) failed += 1
      Report.line(s"negative $name: corrupted output " +
        s"${if (caught) "rejected" else "ACCEPTED (check cannot fail)"}")
    }
  }
}

object Report {
  def line(s: String): Unit = { println(s); System.out.flush() }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile that has at least ten samples beyond it
    * (nearest rank), as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      (p, rank)
    }.find { case (_, rank) => rank >= 1 && n - rank >= 10 }
      .map { case (p, rank) => (p, s(rank - 1)) }
  }

  /** One named end-to-end figure of the workload's own vocabulary. */
  def metric(name: String, unit: String, v: Double, n: Int,
             note: String = ""): Unit =
    line(f"metric $name%-24s $v%14.6f $unit%-8s n=$n" +
      (if (note.nonEmpty) s" $note" else ""))

  def tailMetric(name: String, xs: Seq[Double]): Unit =
    tail(xs) match {
      case Some((p, v)) =>
        metric(name, "s", v, xs.size, s"(p$p, ${xs.size - math.ceil(p / 100.0 * xs.size).toInt} samples beyond)")
      case None =>
        line(f"metric $name%-24s ${"n/a"}%14s s        n=${xs.size} (fewer than 20 samples: no percentile has 10 beyond it)")
    }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "claims_etl"      => ClaimsEtl
      case "corpus_curate"   => CorpusCurate
      case "snapshot_stream" => SnapshotStream
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(a.trace, spark)
    val out = new Outcome
    Report.line(s"workload ${a.workload} seed ${a.seed} seconds ${a.seconds} " +
      s"trace ${if (a.trace) 1 else 0} cores ${a.cores}")
    Report.line(f"session_start_s $sessionS%.3f (once per process, not part of setup_s)")
    if (a.trace) Layers.names.foreach(out.layers(_) = 0.0)
    val gc0 = gcNs()
    val setupS = try wl.run(spark, tracer, a, out) finally tracer.finish()
    if (a.trace) Layers.sparkScopes(tracer, out)
    val rssMb = peakRssMb()
    Report.metric("setup_s", "s", setupS, Workload.SetupReps, "(median input generation + warm build)")
    Report.metric("peak_rss_mb", "MB", rssMb, 1)
    Report.metric("error_rate", "ratio", out.failed.toDouble / out.attempted.max(1), out.attempted.toInt,
      s"(${out.failed} failed of ${out.attempted} attempted)")
    if (a.trace) {
      out.layers("jvm.gc_s") = (gcNs() - gc0) / 1e9
      out.layers("jvm.heap_peak_mb") = heapPeakMb()
      out.layers("jvm.peak_rss_mb") = rssMb
      tracer.write(a.work.getParent.resolve("trace").resolve(s"${a.workload}-${a.seed}.jsonl"),
        s"${a.workload}-${a.seed}")
      Report.line("self time by span name (s, summed over the run):")
      tracer.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        Report.line(f"  $n%-32s calls=${ss.size}%5d self=${ss.map(tracer.selfNs).sum / 1e9}%10.4f")
      }
    }
    val e2e = ("setup_s" -> setupS) +: out.e2e.toSeq
    val fields = (if (a.trace) out.layers.toSeq else e2e)
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    val correct = out.failed == 0
    spark.stop()
    // run.py turns this line into the result line, with the metric units
    Report.line(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$fields}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("negative", "0") == "1",
      Paths.get(need("work")).toAbsolutePath, Runtime.getRuntime.availableProcessors)
  }

  /** One local session on every core, built the way the repo's own
    * entry points build theirs, with every directory under `work`. */
  private def session(a: Args): SparkSession = {
    Files.createDirectories(a.work.resolve("spark-local"))
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcNs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum * 1000000L
  }

  private def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** VmHWM of this process: the peak resident set the kernel recorded. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}

/** A workload: set up, then measure for `a.seconds`, then check. Returns
  * setup_s (see [[Workload.setup]]). */
trait Workload {
  def run(spark: SparkSession, t: Tracer, a: Args, out: Outcome): Double
}

object Workload {
  /** Input-generation repetitions per run; setup_s uses their median. */
  val SetupReps = 3

  /** Set-up: `gen` (seeded input generation) runs SetupReps times, each a
    * full regeneration, then `warm` (the one-time warm build) runs once on
    * the last result. setup_s = median(gen) + warm. */
  def setup[A](gen: => A)(warm: A => Unit): (A, Double) = {
    var last: Option[A] = None
    val gens = (0 until SetupReps).map { _ =>
      val (a, s) = timed(gen); last = Some(a); s
    }
    val (_, w) = timed(warm(last.get))
    Report.line(f"setup: input generation median ${Report.median(gens)}%.3f s " +
      f"(of $SetupReps), warm build $w%.3f s")
    (last.get, Report.median(gens) + w)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }
}
