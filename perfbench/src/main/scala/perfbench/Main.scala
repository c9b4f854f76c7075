package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** The benchmark's JVM side: sets up one workload, runs its closed loop and
  * prints one `PERFBENCH {...}` line with the measurements, which
  * `perfbench/run.py` turns into the benchmark's result.
  *
  * {{{
  * perfbench.Main --workload cdc_pipeline --seed 1 --seconds 20 --trace 0 \
  *   --work .bench_build/work/x --spans .bench_build/trace/x.jsonl
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics, with set-up repeated
  * [[Main.Setups]] times. `--trace 1` runs the loop untraced, then traced on
  * fresh inputs (each for half of `--seconds`), reports the per-layer
  * metrics and the tracing overhead, writes the span file, and adds a
  * single-core (`local[1]`) reference run.
  */
object Main {
  val Nproc = 4
  val Setups = 3
  /** Percentile reported as `batch_tail_ms`. */
  val TailPct = 90.0

  final case class Phase(setupS: Seq[Double], lat: Seq[Double], offered: Long,
      wallS: Double, attempted: Int, failed: Int, storedBytes: Long,
      committed: Long, failures: Seq[String], layers: Map[String, Double],
      spans: Int)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Seq(CdcPipeline, CorpusIngestLoop)
      .find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))

    val report = new StringBuilder
    if (!traced) {
      log("starting session")
      val spark = GraftSession.get(Nproc)
      log("session up")
      val p = phase(spark, workload, seed, seconds, work.resolve("main"), Setups, None,
        workload.warmup)
      spark.stop()
      report ++= header(workload, p.failures, p.attempted, p.failed)
      report ++= s""","e2e":${e2e(workload, p)}}"""
    } else {
      val spark = GraftSession.get(Nproc)
      // a traced run holds three loops in one JVM, so each measures a part
      // of `seconds`; the traced phase runs in a warmer JVM, so the
      // overhead errs low
      val plain = phase(spark, workload, seed, seconds / 2.0, work.resolve("untraced"), 1, None,
        workload.warmup)
      val tr = phase(spark, workload, seed, seconds / 2.0, work.resolve("traced"), 1,
        Some(Paths.get(opt("spans"))), workload.warmup, minMeasured = 2 * workload.cycle)
      spark.stop()
      val spark1 = GraftSession.get(1)
      // the JVM is warm by now: one warm-up batch, for the empty-pool first
      // one; the reference needs no whole cycles
      val ref = phase(spark1, workload, seed, seconds / 4.0, work.resolve("local1"), 1,
        None, warm = 1, cycle = 1)
      spark1.stop()
      // compare the same batches of the loop
      val same = plain.lat.size min tr.lat.size
      val p50 = median(tr.lat.take(same))
      val p50Plain = median(plain.lat.take(same))
      val layers = tr.layers ++ Map(
        "trace.traced_p50_ms" -> p50,
        "trace.untraced_p50_ms" -> p50Plain,
        "trace.overhead_ms" -> (p50 - p50Plain),
        "trace.spans" -> tr.spans.toDouble,
        "ref1.batch_p50_ms" -> median(ref.lat),
        "ref1.records_per_s" -> ref.offered / ref.wallS)
      val all = Seq(plain, tr, ref)
      report ++= header(workload,
        Seq("untraced", "traced", "local1").zip(all)
          .flatMap { case (n, p) => p.failures.map(f => s"$n: $f") },
        all.map(_.attempted).sum, all.map(_.failed).sum)
      report ++= s""","e2e":${e2e(workload, tr)},"layers":{""" +
        layers.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
          .mkString(",") + "}}"
    }
    println("PERFBENCH " + report)
    System.out.flush()
  }

  private def header(w: Workload, failures: Seq[String], attempted: Int, failed: Int) =
    s"""{"workload":"${w.name}","correct":${failures.isEmpty && failed == 0},""" +
      s""""attempted":$attempted,"failed":$failed,""" +
      s""""failures":[${failures.map(Json.str).mkString(",")}]"""

  private def e2e(w: Workload, p: Phase): String = {
    val m = Seq(
      "setup_s" -> median(p.setupS),
      "batch_p50_ms" -> median(p.lat),
      "batch_tail_ms" -> quantile(p.lat, TailPct / 100),
      "tail_pct" -> TailPct,
      "samples" -> p.lat.size.toDouble,
      "beyond_tail" -> p.lat.count(_ > quantile(p.lat, TailPct / 100)).toDouble,
      "records_per_s" -> p.offered / p.wallS,
      "failed_ratio" -> p.failed.toDouble / (p.attempted max 1),
      "peak_rss_mb" -> peakRssMb,
      "stored_bytes_per_record" -> p.storedBytes.toDouble / (p.committed max 1L))
    m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
  }

  /** Set up `setups` times (keeping the last), run `warm` warm-up batches,
    * then measure batches for `seconds` (and at least `minMeasured`, ending
    * on a boundary of `cycle` batches), then check the outputs.
    */
  def phase(spark: SparkSession, w: Workload, seed: Long, seconds: Double, dir: Path,
      setups: Int, spans: Option[Path], warm: Int, minMeasured: Int = 1,
      cycle: Int = -1): Phase = {
    val wholeCycle = if (cycle > 0) cycle else w.cycle
    val staged = warm + math.ceil(seconds * w.stagedPerSecond).toInt +
      (2 * wholeCycle max minMeasured)
    // registered before set-up: a streaming query runs its batches in a
    // clone of the session, which copies the listeners present at its start
    val tracer = new Tracer(spans.isDefined)
    tracer.register(spark)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var loop: Loop = null
    for (k <- 0 until setups) {
      val d = dir.resolve(s"setup-$k")
      val t0 = System.nanoTime()
      val l = w.setup(spark, d, seed, staged)
      setupS += (System.nanoTime() - t0) / 1e9
      log(f"${w.name}: set-up $k took ${setupS.last}%.2f s")
      if (k < setups - 1) { l.close(); LocalFiles.rmrf(d) } else loop = l
    }

    val lat = mutable.ArrayBuffer.empty[Double]
    val measured = mutable.ArrayBuffer.empty[Int]
    var offered = 0L
    var attempted, failed = 0
    var windowStart = 0.0
    var windowEnd = 0.0
    var gc0 = 0.0
    var steal0 = 0.0
    var i = 0
    def more: Boolean = i < loop.capacity && (i < warm || {
      if (i == warm) { windowStart = Clock.nowMs; gc0 = gcMs(); steal0 = stealMs() }
      val n = i - warm
      Clock.nowMs - windowStart < seconds * 1000.0 || n % wholeCycle != 0 || n < minMeasured
    })
    while (more) {
      val lookups0 = CountingRegistry.lookups.get()
      val registers0 = CountingRegistry.registers.get()
      attempted += 1
      try {
        val (n, ms) = tracer.batch(i)(loop.run(i, tracer))
        if (i >= warm) { lat += ms; offered += n; measured += i }
      } catch {
        case e: Throwable =>
          failed += 1
          log(s"${w.name}: batch $i failed: $e")
          e.printStackTrace()
      }
      loop.note(i, "codec.registry_lookups", (CountingRegistry.lookups.get() - lookups0).toDouble)
      loop.note(i, "codec.registry_registers", (CountingRegistry.registers.get() - registers0).toDouble)
      windowEnd = Clock.nowMs
      i += 1
    }
    log(s"${w.name}: ran $i of ${loop.capacity} staged batches; measured ${lat.map(_.round).mkString(" ")}")
    val gc = gcMs() - gc0
    val stealPct = 100 * (stealMs() - steal0) /
      ((windowEnd - windowStart) * Runtime.getRuntime.availableProcessors) max 0.0
    log(f"${w.name}: host steal $stealPct%.1f%% of CPU time in the measured window")
    val leaked = spark.sparkContext.getPersistentRDDs.size
    if (tracer.enabled)
      org.apache.spark.sql.graft.GraftColumnsBridge.drainListenerBus(spark)
    tracer.unregister(spark)

    val dirs = loop.pools.map(p => Paths.get(p.root.toUri.getPath)) ++ loop.indexDir
    val stored = dirs.map(LocalFiles.du).sum
    val committed = loop.committed
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else Layers.perBatch(tracer, loop, measured.toSeq, lat.toSeq) ++ Map(
        "spark.gc_ms" -> gc,
        "host.steal_pct" -> stealPct,
        "spark.leaked_rdds" -> leaked.toDouble,
        "pool.segments_end" -> loop.pools.map(_.committedSegments().size).sum.toDouble,
        "pool.files_per_segment" -> {
          val segs = loop.pools.flatMap(p => p.committedSegments().map(s =>
            Paths.get(p.root.toUri.getPath).resolve(s)))
          segs.map(LocalFiles.count(_, ".parquet")).sum.toDouble / (segs.size max 1)
        },
        "ops.index_files" -> loop.indexDir.map(LocalFiles.count(_, ".parquet")).getOrElse(0).toDouble)
    val spanCount = spans.map(tracer.writeSpans).getOrElse(0)
    val failures = loop.check(i)
    loop.close()
    log(s"${w.name}: checks done, ${failures.size} failed")
    Phase(setupS.toSeq, lat.toSeq, offered, (windowEnd - windowStart) / 1000.0,
      attempted, failed, stored, committed, failures, layers, spanCount)
  }

  private val t00 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%7.2f s] $msg")

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum.toDouble

  /** CPU time the hypervisor gave to others, summed over CPUs, from the
    * `steal` column of /proc/stat (in USER_HZ ticks of 10 ms).
    */
  private def stealMs(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toDouble * 10).getOrElse(0.0)

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1) min (s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
