package perfbench

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced loop: each one is summed over a batch and
  * reported as the median over the measured batches. Listener facts are
  * joined to a batch by time, because the loop is closed: one batch runs
  * at a time, so whatever starts inside a batch's window belongs to it.
  */
object Layers {

  def perBatch(t: Tracer, loop: Loop, measured: Seq[Int], lat: Seq[Double]): Map[String, Double] = {
    val spans = t.harnessSpans
    val windows = spans.filter(_.kind == "batch").map(s => s.batch -> s).toMap
    val jobs = t.jobs.asScala.toSeq
    val stages = t.stages.asScala.toSeq
    val tasks = t.tasks.asScala.toSeq
    val qes = t.qes.asScala.toSeq
    val progress = t.progress.asScala.toSeq.filter(_.rows > 0)
    def under(root: java.nio.file.Path)(p: String) = Paths.get(p).startsWith(root)
    /** The pool the workload commits its input to (the first of its pools). */
    val inputRoot = Paths.get(loop.pools.head.root.toUri.getPath)

    def in(s: Double, e: Double)(x: Double) = x >= s && x <= e
    /** When batch `i`'s input landed on its topic: the end of its landing
      * call, else the batch's start.
      */
    def landed(i: Int, start: Double): Double =
      spans.find(x => x.batch == i && x.name == "topic.land").map(_.end).getOrElse(start)
    def callMs(i: Int, name: String): Double =
      spans.filter(s => s.batch == i && s.name == name).map(_.dur).sum
    /** Summed duration of the SQL executions in [s, e] writing under `root`. */
    def writeMs(s: Double, e: Double, root: java.nio.file.Path): Double =
      qes.filter(q => in(s, e)(q.start) && q.output.exists(under(root))).map(_.durMs).sum

    val rows: Seq[Map[String, Double]] = measured.flatMap(windows.get).map { b =>
      val (s, e) = (b.start, b.end)
      val i = b.batch
      val bj = jobs.filter(j => in(s, e)(j.start))
      val bt = tasks.filter(x => in(s, e)(x.launch))
      val bp = progress.filter(p => in(s, e)(p.triggerStart))
      def dur(k: String) = bp.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      val etl = spans.filter(x => x.batch == i && x.name == "etl.run")
      val etlJobs = jobs.count(j => etl.exists(x => in(x.start, x.end)(j.start)))
      val etlExecs = qes.filter(q => etl.exists(sp => in(sp.start, sp.end)(q.start)))
      val notes = loop.notes.getOrElse(i, Map.empty[String, Double])
      val newRows = notes.getOrElse("new_input_rows", 0.0)
      Map(
        "spark.jobs" -> bj.size.toDouble,
        "spark.stages" -> stages.count(x => in(s, e)(x.submit)).toDouble,
        "spark.tasks" -> bt.size.toDouble,
        "spark.plan_ms" -> qes.filter(q => in(s, e)(q.start)).map(_.planMs).sum,
        "spark.driver_gap_ms" -> ((e - s) - Tracer.unionLength(
          bj.map(j => (j.start max s, j.end min e)).filter(iv => iv._2 > iv._1))),
        "spark.task_cpu_ms" -> bt.map(_.cpuMs).sum,
        "spark.task_run_ms" -> bt.map(_.runMs).sum,
        "spark.shuffle_write_bytes" -> bt.map(_.shuffleWrite).sum.toDouble,
        "spark.input_bytes" -> bt.map(_.input).sum.toDouble,
        "spark.spill_bytes" -> bt.map(_.spill).sum.toDouble,
        "streaming.trigger_wait_ms" -> bp.headOption.map(_.triggerStart - landed(i, s)).getOrElse(0.0),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.log_commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "codec.registry_lookups" -> notes.getOrElse("codec.registry_lookups", 0.0),
        "codec.registry_registers" -> notes.getOrElse("codec.registry_registers", 0.0),
        "codec.decode_bytes" -> notes.getOrElse("codec.decode_bytes", 0.0),
        "pool.append_ms" -> writeMs(s, e, inputRoot),
        "pool.next_offset_ms" -> callMs(i, "pool.nextOffset"),
        "pool.drain_ms" -> callMs(i, "pool.drain"),
        "etl.run_ms" -> etl.map(_.dur).sum,
        "etl.jobs" -> etlJobs.toDouble,
        "etl.plan_ms" -> etlExecs.map(_.planMs).sum,
        "etl.records_out" -> notes.getOrElse("etl.records_out", 0.0),
        "etl.markers_out" -> notes.getOrElse("etl.markers_out", 0.0),
        "etl.scan_ratio" -> (if (newRows == 0) 0.0 else etlExecs.flatMap(_.scanRows)
          .collect { case (p, n) if under(inputRoot)(p) => n }.sum / newRows),
        "ops.kept_ratio" -> notes.getOrElse("ops.kept_ratio", 0.0),
        "ops.index_write_ms" -> loop.indexDir.map(writeMs(s, e, _)).getOrElse(0.0))
    }
    val keys = rows.headOption.map(_.keys).getOrElse(Nil)
    val compactionLat = measured.zip(lat).collect {
      case (i, ms) if loop.notes.get(i).exists(_.getOrElse("compaction", 0.0) > 0) => ms
    }
    keys.map(k => k -> Main.median(rows.map(_(k)))).toMap +
      ("ops.compaction_batch_ms" -> Main.median(compactionLat))
  }
}
