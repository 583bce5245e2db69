package perfbench

import java.nio.file.{Path => JPath}

import org.apache.spark.sql.SparkSession

/** One timed pass of a workload, as the user sees it, plus what the
  * traced form of the pass saw layer by layer. `steps` splits `workS`
  * into named parts.
  */
final case class Pass(
    workS: Double,
    filesOut: Long,
    diskBytes: Long,
    liveBytes: Long,
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    detail: Seq[(String, Double)] = Nil,
    layers: Map[String, Double] = Map.empty,
    steps: Seq[(String, Double)] = Nil,
) {
  /** Bytes on disk under the lake ÷ bytes of its live data files. */
  def spaceAmp: Double = diskBytes.toDouble / liveBytes

  /** Two workloads' passes run back to back, as one pass. */
  def +(o: Pass): Pass = Pass(workS + o.workS, filesOut + o.filesOut, diskBytes + o.diskBytes,
    liveBytes + o.liveBytes, attempted + o.attempted, failed + o.failed, errors ++ o.errors, detail ++ o.detail,
    Layers.combine(layers, o.layers), steps ++ o.steps)
}

object Pass {
  /** Seconds of a typical pass: the sum over the passes' named steps
    * (parts or queries, which add up to `workS`) of each step's median,
    * so one step's slow outlier in one pass does not move the figure.
    */
  def typicalWorkS(ps: Seq[Pass]): Double =
    ps.flatMap(_.steps).groupBy(_._1).values.map(s => Stats.median(s.map(_._2))).sum
}

trait Workload {
  /** Build the fixture under `dir` (timed as set-up; may run several
    * times, the last build is the one measured).
    */
  def setup(spark: SparkSession, dir: JPath): Unit

  /** Compute what correct outputs look like, once, untimed. */
  def expect(spark: SparkSession): Unit

  /** One pass; `tracer` set means the traced decomposition. Its output
    * stays on disk until the next pass.
    */
  def pass(spark: SparkSession, i: Int, tracer: Option[Tracer]): Pass

  /** A full and a selective `noop` scan of the last pass's output; the
    * caller times them ([[Stats.reps]]).
    */
  def readAll(spark: SparkSession): Unit
  def readPruned(spark: SparkSession): Unit

  /** The parts that are warmed up and whose scans are timed one by one;
    * a scan figure is the sum of the parts' medians, so a short part's
    * scan gets as many samples as its length allows.
    */
  def scanParts: Seq[Workload] = Seq(this)

  /** Untimed passes before the timed ones, and the fewest timed passes:
    * fixed per workload, so every run's figure is the same statistic.
    */
  def warmUps: Int = 1
  def timedPasses: Int = 1

  /** The untimed, checked warm-up passes. */
  def warmUp(spark: SparkSession): Seq[Pass] = (1 to warmUps).map(j => pass(spark, -j, None))

  /** Units of the per-pass detail metrics (named by workload, not gated). */
  def detailUnits: Map[String, String]
}

object Stats {
  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds of each run of `body`, repeated until the runs add up to
    * `budget` seconds (at least once, at most 50 times).
    */
  def reps(budget: Double)(body: => Unit): Seq[Double] = {
    val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (ts.isEmpty || (ts.sum < budget && ts.size < 50)) ts += time(body)._2
    ts.toSeq
  }
}

/** The per-layer metric names every traced run reports (0 where a layer
  * is idle in a workload), with their units.
  */
object Layers {
  /** Two parts' layers as one pass's: counts and times add up, and the
    * planner's selection ratio is weighted by the files each part listed.
    */
  def combine(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] = {
    def f(m: Map[String, Double], k: String) = m.getOrElse(k, 0.0)
    val sum = (a.keySet ++ b.keySet).map(k => k -> (f(a, k) + f(b, k))).toMap
    val listed = f(sum, "list.files")
    if (listed == 0) sum
    else sum + ("plan.select_ratio" ->
      (f(a, "plan.select_ratio") * f(a, "list.files") + f(b, "plan.select_ratio") * f(b, "list.files")) / listed)
  }

  val all: Seq[(String, String)] = Seq(
    "list.s" -> "s", "list.jobs" -> "count", "list.files" -> "count", "list.fs_list_ops" -> "count",
    "plan.s" -> "s", "plan.jobs" -> "count", "plan.groups" -> "count", "plan.select_ratio" -> "ratio",
    "route.s" -> "s",
    "merge.s" -> "s", "merge.calls" -> "count", "merge.jobs" -> "count", "merge.stage_s" -> "s",
    "merge.driver_s" -> "s", "merge.bytes_in" -> "bytes", "merge.bytes_read" -> "bytes",
    "merge.bytes_written" -> "bytes", "merge.write_amp" -> "ratio", "merge.leaf_p50_s" -> "s",
    "merge.leaf_p90_s" -> "s",
    "batch.s" -> "s", "batch.jobs" -> "count", "batch.groups" -> "count", "batch.groups_per_job" -> "ratio",
    "batch.driver_s" -> "s",
    "dml.delete_mor_s" -> "s", "dml.delete_keys_s" -> "s", "dml.delete_cow_s" -> "s", "dml.update_s" -> "s",
    "dml.merge_s" -> "s", "dml.jobs" -> "count", "dml.fs_write_ops" -> "count",
    "read.resolve_s" -> "s", "read.scan_s" -> "s",
    "maint.act_s" -> "s", "maint.commits" -> "count", "maint.noop_ms_per_leaf" -> "ms",
    "q.build_s" -> "s", "q.build_jobs" -> "count", "q.analyze_s" -> "s", "q.optimize_s" -> "s",
    "q.physical_s" -> "s", "q.exec_s" -> "s", "q.jobs" -> "count", "q.stages" -> "count",
    "q.stage_covered_s" -> "s", "q.gap_s" -> "s", "q.shuffle_bytes" -> "bytes",
    "trace_overhead_frac" -> "ratio",
  )
}
