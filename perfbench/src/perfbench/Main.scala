package perfbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.util.chaining._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One run: set up the workload's fixture
  * several times (set-up time is their median), compute the expected
  * outputs, make the workload's untimed but checked warm-up passes, then
  * its timed passes, more while `--seconds` are not used up. A traced run
  * interleaves plain and traced passes, at least two of each, so tracing
  * overhead is measured in the same JVM. Results go to `--out` as JSON
  * files.
  *
  * {{{
  * perfbench.Main --workload lake --seed 1 --seconds 10 --trace 0 --work <dir> --out <dir> [--pins <file>]
  * perfbench.Main --pin <file> --work <dir>     # pin query_mix outputs
  * }}}
  */
object Main {
  val workloads = Seq("lake", "query_mix")
  private val setupReps = 7
  /** Seconds each kind of scan of each part is repeated for at a time. */
  private val readBudgetS = 0.5

  def session(work: JPath, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def write(p: JPath, v: Any): Unit = { Files.writeString(p, Json.write(v) + "\n"); () }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required"))).toAbsolutePath
    Files.createDirectories(work)
    arg(args, "--pin") match {
      case Some(out) => pin(work, Paths.get(out))
      case None => run(args, work)
    }
  }

  private def run(args: Array[String], work: JPath): Unit = {
    val t0 = System.nanoTime()
    val name = arg(args, "--workload").filter(workloads.contains)
      .getOrElse(sys.error(s"--workload must be one of ${workloads.mkString(", ")}"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val out = Paths.get(arg(args, "--out").getOrElse(sys.error("--out is required")))
    Files.createDirectories(out)
    val w: Workload = name match {
      case "lake" => new LakeWorkload(seed, work)
      case "query_mix" => new QueryMixWorkload(seed, arg(args, "--pins").map(Paths.get(_)))
    }

    var spark: SparkSession = null
    val fixture = work.resolve("fixture")
    val setupS = (0 until setupReps).map { r =>
      Check.rmTree(fixture)
      if (r > 0) spark.stop()
      Stats.time {
        spark = session(work, trace)
        w.setup(spark, fixture)
      }._2.tap(s => log(f"setup $r: $s%.2f s"))
    }
    Stats.time(w.expect(spark)).tap(t => log(f"expect: ${t._2}%.2f s"))
    val errors = Seq.newBuilder[String]
    var attempted = 0L
    var failed = 0L
    def count(p: Pass): Pass = { attempted += p.attempted; failed += p.failed; errors ++= p.errors; p }

    // untimed, checked warm-up passes: the JIT keeps speeding a pass up
    // for several passes, so timed passes start on the plateau
    w match {
      case q: QueryMixWorkload =>
        errors ++= Stats.time(q.check(spark)).tap(t => log(f"warm-up (pinned-output check): ${t._2}%.2f s"))._1
        attempted += q.mix.size
      case _ => ()
    }
    val scanned = w.scanParts
    val readS = scanned.map(_ => Seq.newBuilder[Double])
    val prunedS = scanned.map(_ => Seq.newBuilder[Double])
    // part k's scans of its last pass's output, each repeated for
    // `readBudgetS`; a run samples them apart in time (after each part's
    // warm-up and after every timed pass), so one slow stretch of the host
    // does not become the run's figure
    def scan(k: Int, when: String): Unit = {
      val r = Stats.reps(readBudgetS)(scanned(k).readAll(spark))
      val s = Stats.reps(readBudgetS)(scanned(k).readPruned(spark))
      readS(k) ++= r
      prunedS(k) ++= s
      log(f"scans $when, part $k: full ${Stats.median(r)}%.3f s (${r.size}), pruned ${Stats.median(s)}%.3f s (${s.size})")
    }
    scanned.indices.foreach { k =>
      scanned(k).warmUp(spark).foreach(p => log(f"warm-up pass: ${count(p).workS}%.2f s"))
      // one untimed scan of each kind first: the first scan of a path is a cold one
      if (!trace) { scanned(k).readAll(spark); scanned(k).readPruned(spark); scan(k, "after warm-up") }
    }

    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val plain = Seq.newBuilder[Pass]
    val traced = Seq.newBuilder[Pass]
    var spans: Seq[Seq[(String, Any)]] = Nil
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    // a traced run orders its passes plain, traced, traced, plain, … so
    // the warm-up trend weighs on both sides of the overhead alike; only
    // traced passes listen and count filesystem calls
    while (System.nanoTime() < deadline || i <= (if (trace) 4 else w.timedPasses)) {
      System.gc()
      val t = tracer.filter(_ => i % 4 == 2 || i % 4 == 3)
      t.foreach(_.begin())
      val (p, wall) = Stats.time(count(w.pass(spark, i, t)))
      log(f"pass $i${if (t.nonEmpty) " (traced)" else ""}: ${p.workS}%.2f s, wall $wall%.2f s; " +
        p.steps.map { case (n, s) => f"$n $s%.2f" }.mkString(", "))
      if (!trace) scanned.indices.foreach(scan(_, s"after pass $i"))
      if (t.isEmpty) plain += p
      else { traced += p; spans = t.get.dump(); t.get.end() }
      i += 1
    }
    val ps = plain.result()
    val ts = traced.result()
    val med = (f: Pass => Double) => Stats.median(ps.map(f))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("work_s", Pass.typicalWorkS(ps), "s"),
        ("read_s", readS.map(b => Stats.median(b.result())).sum, "s"),
        ("read_pruned_s", prunedS.map(b => Stats.median(b.result())).sum, "s"),
        ("files_out", med(_.filesOut.toDouble), "count"),
        ("space_amp", med(_.spaceAmp), "ratio"))
      else Layers.all.map { case (n, u) =>
        val v =
          if (n == "trace_overhead_frac") Stats.median(ts.map(_.workS)) / med(_.workS) - 1
          else Stats.median(ts.map(_.layers.getOrElse(n, 0.0)))
        (n, v, u)
      }
    val errs = errors.result()
    errs.take(20).foreach(e => System.err.println(s"[perfbench] MISMATCH $e"))
    val detail = w.detailUnits.toSeq.sorted.map { case (n, u) =>
      n -> Seq("value" -> med(_.detail.toMap.getOrElse(n, 0.0)), "unit" -> u)
    }
    write(out.resolve("detail.json"), Seq(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "passes" -> ps.size, "traced_passes" -> ts.size,
      "setup_runs_s" -> setupS, "detail" -> detail,
      "mismatches" -> errs.size))
    if (trace) write(out.resolve("spans.json"), spans)
    write(out.resolve("result.json"), Seq(
      "correct" -> errs.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) }))
    log(f"results written at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }

  /** Pin `query_mix`'s per-query row counts and checksums. Re-pinning
    * into an existing file keeps the counts and drops to count-only any
    * query whose checksum differs between the two runs (not
    * deterministic across JVMs).
    */
  private def pin(work: JPath, file: JPath): Unit = {
    val spark = session(work, trace = false)
    val w = new QueryMixWorkload(0L, None)
    Check.rmTree(work.resolve("fixture"))
    w.setup(spark, work.resolve("fixture"))
    val a = w.outputs(spark)
    val b = w.outputs(spark)
    val prev = if (Files.exists(file)) QueryMixWorkload.readPins(file) else Map.empty[String, (Long, Option[Long])]
    val pins = w.mix.map { q =>
      val (n, h) = a(q.name)
      require(prev.get(q.name).forall(_._1 == n), s"${q.name} row count differs between pin runs")
      (q.name, n, Some(h).filter(_ => b(q.name) == ((n, h)) && prev.get(q.name).forall(_ == ((n, Some(h))))))
    }
    write(file, Seq(
      "fixture" -> Seq("tables" -> "Fixtures.queryTables", "sf" -> QueryMixWorkload.sf, "seed" -> 42L),
      "count_only" -> pins.collect { case (q, _, None) => q },
      "queries" -> pins.map { case (q, n, h) => q -> Seq("rows" -> n, "checksum" -> h) }))
    spark.stop()
  }
}
