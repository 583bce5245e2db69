package perfbench

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.compact._

/** `lake`'s parts `deep_leaves` and `swarm`: one `Compactor.run` per pass
  * over a fresh copy of the seeded lake. The traced pass calls the same layers in the
  * same order — listing, planning, routing, then the per-leaf `Merger`
  * or the batched `BatchMerger` — each in its own span.
  */
final class CompactionWorkload(val name: String, seed: Long, work: JPath) extends Workload {
  private val deep = name == "deep_leaves"
  private var lake: Fixtures.Lake = _
  private var cfg: CompactorConfig = _
  private var keyRange = (0L, 0L)
  private var before: Map[String, (Long, Long)] = Map.empty
  private var skipDigests: Map[String, (Long, Long)] = Map.empty

  private def rel(p: JPath): String = lake.root.relativize(p).toString

  def setup(spark: SparkSession, dir: JPath): Unit = {
    lake =
      if (deep) Fixtures.deepLeaves(dir.resolve("lake"), seed, filesPerLeaf = 32, rowsPerFile = 1000)
      else Fixtures.swarm(dir.resolve("lake"), seed, leaves = 24)
    cfg =
      if (deep) {
        // below a leaf's total, so each leaf takes the per-leaf path and
        // writes several outputs; the row cap binds as well
        val leafBytes = lake.leaves.map(l => Check.bytes(Check.plainParquet(l))).min
        CompactorConfig(targetFileBytes = leafBytes / 3, maxRowsPerFile = 32 * 1000 / 4,
          asOf = Some(Fixtures.asOf), maxConcurrentLeaves = 4, commitMode = CommitMode.Rename)
      } else CompactorConfig(asOf = Some(Fixtures.asOf), maxConcurrentLeaves = 4, commitMode = CommitMode.Manifest)
  }

  // the swarm mixes schemas across leaves; the deep lake has one schema
  private def read(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", (!deep).toString).parquet(files: _*)

  /** Live data files: the manifest's live set per leaf, or every plain file. */
  private def liveFiles(spark: SparkSession, root: JPath): Seq[String] =
    if (cfg.commitMode == CommitMode.Manifest)
      lake.leaves.flatMap(l => ManifestCommit.liveFiles(spark, root.resolve(rel(l)).toString))
    else Check.plainParquet(root).map(_.toString)

  private def leafSums(spark: SparkSession, root: JPath, files: Seq[String]): Map[String, (Long, Long)] = {
    val pfx = root.toAbsolutePath.toString + "/"
    Check.byKey(read(spark, files).withColumn("_leaf", Check.leafOfFile), "_leaf").map { case (k, v) => k.stripPrefix(pfx) -> v }
  }

  def expect(spark: SparkSession): Unit = {
    val files = Check.plainParquet(lake.root).map(_.toString)
    before = leafSums(spark, lake.root, files)
    skipDigests = lake.mustSkip.map(p => rel(p) -> Check.digest(p)).toMap
    val (lo, hi) = lake.keys
    // a 2% key range off the seed: the pruned scan's selectivity is fixed
    val w = math.max(1L, (hi - lo) / 50)
    val a = lo + new java.util.SplittableRandom(seed).nextLong(math.max(1L, hi - lo - w))
    keyRange = (a, a + w)
  }

  // a deep pass is short: it takes two to reach the plateau
  override def warmUps: Int = if (deep) 2 else 1

  def detailUnits: Map[String, String] = Map(s"${name}_compact_s" -> "s")

  private var last: JPath = _

  def pass(spark: SparkSession, i: Int, tracer: Option[Tracer]): Pass = {
    Option(last).foreach(Check.rmTree)
    val root = work.resolve(s"pass-$i")
    last = root
    Check.copyTree(lake.root, root)
    val ((results, layers), compactS) = Stats.time {
      tracer match {
        case None => (Compactor.run(spark, root.toString, cfg), Map.empty[String, Double])
        case Some(t) => traced(spark, t, root)
      }
    }
    val errors = Seq.newBuilder[String]
    results.filterNot(_.success).foreach(r => errors += s"leaf ${r.leaf}/${r.stem} failed: ${r.error.getOrElse("")}")
    val live = liveFiles(spark, root)
    val after = leafSums(spark, root, live)
    before.foreach { case (leaf, exp) =>
      val got = after.getOrElse(leaf, (0L, 0L))
      if (got != exp) errors += s"leaf $leaf rows/checksum $got != $exp before compaction"
    }
    (after.keySet -- before.keySet).foreach(l => errors += s"unexpected leaf $l after compaction")
    skipDigests.foreach { case (f, d) =>
      val p = root.resolve(f)
      if (!Files.exists(p) || Check.digest(p) != d) errors += s"skipped file $f was modified"
    }
    // a schema-mixed leaf is merged solo into one file of the wider schema
    lake.mixed.map(rel).foreach { l =>
      val out = ManifestCommit.liveFiles(spark, root.resolve(l).toString)
      if (out.size != 1 || !out.forall(f => spark.read.parquet(f).schema.fieldNames.contains("region")))
        errors += s"schema-mixed leaf $l left ${out.size} live files, not one with the added column"
    }
    val liveBytes = live.map(f => Files.size(java.nio.file.Paths.get(f))).sum
    Pass(compactS, live.size.toLong, Check.bytes(Check.files(root)), liveBytes, results.size.toLong,
      results.count(!_.success).toLong, errors.result(), Seq(s"${name}_compact_s" -> compactS), layers,
      steps = Seq(name -> compactS))
  }

  def readAll(spark: SparkSession): Unit =
    read(spark, liveFiles(spark, last)).write.mode("overwrite").format("noop").save()

  def readPruned(spark: SparkSession): Unit =
    read(spark, liveFiles(spark, last)).where(col(lake.key).between(keyRange._1, keyRange._2))
      .write.mode("overwrite").format("noop").save()

  /** `Compactor.run` decomposed into its layers, each call in a span.
    * The routing mirrors `Compactor.runBatch`; this workload's lake is
    * built so every plan routes one way, and the pass fails if not.
    */
  private def traced(spark: SparkSession, t: Tracer, root: JPath): (Seq[LeafResult], Map[String, Double]) = {
    import spark.implicits._
    val before = t.spans.size // spans of earlier parts of the same pass
    val (listed, nListed) = t.span("list", fs = true) {
      val ds = FileIndexer.list(spark, root.toString).persist(StorageLevel.MEMORY_ONLY)
      (ds, ds.count())
    }
    val plans = t.span("plan", fs = true) {
      Planner.planned(spark, listed, cfg).orderBy("leaf", "stem").as[LeafPlan].collect().toSeq
    }
    var routed = (0, 0)
    val results = plans.grouped(math.max(1, cfg.planBatchSize)).toSeq.flatMap { batch =>
      val (tiny, big) = t.span("route") {
        batch.partition(p =>
          cfg.batchTinyLeaves && p.totalBytes <= cfg.targetFileBytes &&
            (cfg.commitMode != CommitMode.Manifest || ManifestCommit.liveDeletes(spark, p.leaf).isEmpty))
      }
      routed = (routed._1 + tiny.size, routed._2 + big.size)
      if (tiny.size < 2) mergeLeaves(spark, t, batch)
      else t.span("batch", fs = true)(BatchMerger.mergeAndCommitBatch(spark, tiny, cfg)) ++ mergeLeaves(spark, t, big)
    }
    listed.unpersist()
    val expectRoute = if (deep) (0, plans.size) else (plans.size, 0)
    require(routed == expectRoute, s"$name routed (batch, solo) = $routed, built for $expectRoute")
    (results, compactionLayers(t, t.spans.drop(before), nListed, plans))
  }

  /** `Compactor.runPlans`' shape: one pool slot per leaf, each leaf's
    * plans in order, every `Merger.mergeAndCommit` call in a span.
    */
  private def mergeLeaves(spark: SparkSession, t: Tracer, plans: Seq[LeafPlan]): Seq[LeafResult] =
    if (plans.isEmpty) Nil
    else t.span("merge", fs = true) {
      val pool = Executors.newFixedThreadPool(math.max(1, cfg.maxConcurrentLeaves))
      try {
        plans.groupBy(_.leaf).toSeq.sortBy(_._1).map { case (_, ps) =>
          pool.submit(new Callable[Seq[LeafResult]] {
            override def call(): Seq[LeafResult] = ps.map(p => t.span("merge.leaf")(Merger.mergeAndCommit(spark, p, cfg)))
          })
        }.flatMap(_.get())
      } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES); () }
    }

  private def compactionLayers(t: Tracer, spans: Seq[Span], nListed: Long, plans: Seq[LeafPlan]): Map[String, Double] = {
    val c = t.counters()
    def named(n: String) = spans.filter(_.name == n)
    def sum(n: String)(f: Span => Double) = named(n).map(f).sum
    def fsSum(n: String)(f: CountingLocalFileSystem.Snapshot => Long) = named(n).flatMap(_.fs).map(f).sum.toDouble
    val mergeS = sum("merge")(_.seconds)
    val mergeStage = sum("merge")(s => c(s.id).stageCoveredS)
    val bytesIn = plans.map(_.totalBytes).sum.toDouble
    val batchGroups = if (named("batch").isEmpty) 0 else plans.size
    val batchJobs = sum("batch")(s => c(s.id).jobs.toDouble)
    val leafS = named("merge.leaf").map(_.seconds)
    val written = sum("merge")(s => c(s.id).outputBytes.toDouble)
    Map(
      "list.s" -> sum("list")(_.seconds), "list.jobs" -> sum("list")(s => c(s.id).jobs.toDouble),
      "list.files" -> nListed.toDouble, "list.fs_list_ops" -> fsSum("list")(_.lists),
      "plan.s" -> sum("plan")(_.seconds), "plan.jobs" -> sum("plan")(s => c(s.id).jobs.toDouble),
      "plan.groups" -> plans.size.toDouble,
      "plan.select_ratio" -> (if (nListed == 0) 0.0 else plans.map(_.files.size).sum.toDouble / nListed),
      "route.s" -> sum("route")(_.seconds),
      "merge.s" -> mergeS, "merge.calls" -> leafS.size.toDouble,
      "merge.jobs" -> sum("merge")(s => c(s.id).jobs.toDouble), "merge.stage_s" -> mergeStage,
      "merge.driver_s" -> (mergeS - mergeStage), "merge.bytes_in" -> (if (mergeS > 0) bytesIn else 0.0),
      "merge.bytes_read" -> sum("merge")(s => c(s.id).inputBytes.toDouble),
      "merge.bytes_written" -> written, "merge.write_amp" -> (if (mergeS > 0 && bytesIn > 0) written / bytesIn else 0.0),
      "merge.leaf_p50_s" -> Stats.pct(leafS, 50), "merge.leaf_p90_s" -> Stats.pct(leafS, 90),
      "batch.s" -> sum("batch")(_.seconds), "batch.jobs" -> batchJobs, "batch.groups" -> batchGroups.toDouble,
      "batch.groups_per_job" -> (if (batchJobs > 0) batchGroups / batchJobs else 0.0),
      "batch.driver_s" -> sum("batch")(s => c(s.id).gapS),
    )
  }
}
