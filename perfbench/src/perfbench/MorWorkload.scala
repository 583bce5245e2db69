package perfbench

import java.nio.file.{Files, Path => JPath}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compact._

/** `mor_maintain`: small lineitem leaves under a seeded sequence of
  * merge-on-read deletes, an update, a keyed delete, a merge and a
  * copy-on-write delete, with `readLeaf` scans between them, then one
  * maintenance pass that consolidates the delete sidecars and one that
  * finds nothing to do. The first commit on a leaf makes it a manifest leaf.
  * Every pass replays the same sequence on a fresh copy of the lake and
  * must agree with a plain-Spark model of the sequence.
  */
final class MorWorkload(seed: Long, work: JPath) extends Workload {
  private val nLeaves = 4
  private val filesPerLeaf = 4
  private val rowsPerFile = 1000
  private val ordersPerLeaf = filesPerLeaf.toLong * rowsPerFile / 4
  private val cfg = CompactorConfig(asOf = Some(Fixtures.asOf), commitMode = CommitMode.Manifest, maxConcurrentLeaves = 4)
  private val maintCfg = cfg.copy(maintainDeleteSidecarsMax = Some(1))

  private var raw: Fixtures.Lake = _
  private var expected: Map[String, (Long, Long)] = Map.empty
  private var keyRange = (0L, 0L)
  private var schema: org.apache.spark.sql.types.StructType = _

  /** One DML call: its kind, the leaf index, and the order-key interval. */
  private final case class Op(kind: String, leaf: Int, lo: Long, hi: Long)

  private val ops: Seq[Op] = {
    val rnd = new SplittableRandom(seed)
    // leaf j % 4: leaf 0 takes both position deletes, so the first sweep
    // has a sidecar backlog to consolidate
    val kinds = Seq("delete_mor", "update", "delete_keys", "merge", "delete_mor", "delete_cow")
    val w = ordersPerLeaf / 50
    kinds.indices.map { j =>
      val leaf = j % nLeaves
      val lo = leaf * ordersPerLeaf + rnd.nextLong(ordersPerLeaf - w)
      Op(kinds(j), leaf, lo, lo + w)
    }
  }

  def setup(spark: SparkSession, dir: JPath): Unit =
    raw = Fixtures.morRaw(dir.resolve("lake"), seed, nLeaves, filesPerLeaf, rowsPerFile)

  private def leafPath(root: JPath, k: Int): String = root.resolve(raw.root.relativize(raw.leaves(k)).toString).toString

  private def inRange(o: Op): Column = col("l_orderkey").between(o.lo, o.hi)
  private val updateSet: Map[String, Column] = Map("l_quantity" -> (col("l_quantity") + 1), "l_tax" -> lit(0.5))
  private def deleteKeys(spark: SparkSession, o: Op): DataFrame =
    spark.range(o.lo, o.hi, 3).toDF("l_orderkey")

  /** Source of a merge: new editions of half the range's orders plus as
    * many new orders past every leaf's keys, with the leaf's columns.
    */
  private def mergeSource(spark: SparkSession, o: Op): DataFrame = {
    val half = (o.hi - o.lo) / 2
    val fresh = nLeaves * ordersPerLeaf + o.lo
    val n = col("id")
    val rows = spark.range(0, half * 8).select(
      when(n < half * 4, lit(o.lo) + n / 4).otherwise(lit(fresh) + n / 4).as("l_orderkey"),
      (n * 7).as("l_partkey"), (n % 100).as("l_suppkey"), (n % 4 + 1).cast("int").as("l_linenumber"),
      lit(99.0).as("l_quantity"), (n * 1.5).as("l_extendedprice"), lit(0.01).as("l_discount"), lit(0.02).as("l_tax"),
      lit("M").as("l_returnflag"), lit("O").as("l_linestatus"), timestamp_millis(lit(Fixtures.staleMs)).as("l_shipdate"))
    rows.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
  }

  private def model(spark: SparkSession, k: Int): DataFrame = {
    val src = spark.read.parquet(Check.plainParquet(raw.leaves(k)).map(_.toString): _*)
    ops.filter(_.leaf == k).foldLeft(src) { (df, o) =>
      o.kind match {
        case "delete_mor" | "delete_cow" => df.where(!inRange(o))
        case "delete_keys" => df.join(deleteKeys(spark, o), Seq("l_orderkey"), "left_anti")
        case "update" =>
          df.select(df.columns.map(c => updateSet.get(c).fold(col(c))(v => when(inRange(o), v).otherwise(col(c))).as(c)): _*)
        case "merge" =>
          val s = mergeSource(spark, o)
          df.join(s.select("l_orderkey", "l_linenumber"), Seq("l_orderkey", "l_linenumber"), "left_anti")
            .select(df.columns.map(col): _*).unionByName(s)
      }
    }
  }

  def expect(spark: SparkSession): Unit = {
    schema = spark.read.parquet(Check.plainParquet(raw.leaves.head).head.toString).schema
    expected = sums((0 until nLeaves).map(k => k -> model(spark, k)))
    val w = nLeaves * ordersPerLeaf / 50
    val a = new SplittableRandom(seed + 1).nextLong(nLeaves * ordersPerLeaf - w)
    keyRange = (a, a + w)
  }

  /** Per-leaf row count and checksum, in one job. */
  private def sums(frames: Seq[(Int, DataFrame)]): Map[String, (Long, Long)] =
    Check.byKey(frames.map { case (k, df) => df.withColumn("_leaf", lit(k.toString)) }.reduce(_ unionByName _), "_leaf")

  def detailUnits: Map[String, String] = Map("dml_p50_s" -> "s", "dml_p90_s" -> "s", "read_backlog_s" -> "s",
    "maint_s" -> "s", "maint_noop_s" -> "s")

  private var last: JPath = _
  private def frames(spark: SparkSession, root: JPath) =
    (0 until nLeaves).map(k => k -> ManifestCommit.readLeaf(spark, leafPath(root, k)))
  private def all(spark: SparkSession, root: JPath) = frames(spark, root).map(_._2).reduce(_ unionByName _)

  def readAll(spark: SparkSession): Unit = all(spark, last).write.mode("overwrite").format("noop").save()

  def readPruned(spark: SparkSession): Unit =
    all(spark, last).where(col("l_orderkey").between(keyRange._1, keyRange._2)).write.mode("overwrite").format("noop").save()

  def pass(spark: SparkSession, i: Int, tracer: Option[Tracer]): Pass = {
    Option(last).foreach(Check.rmTree)
    val root = work.resolve(s"pass-$i")
    last = root
    Check.copyTree(raw.root, root)
    def span[T](n: String, fs: Boolean = false)(body: => T): T = tracer.fold(body)(_.span(n, fs)(body))
    val errors = Seq.newBuilder[String]
    val dml = Seq.newBuilder[(String, Double)]
    var readBacklogS = 0.0
    var failed = 0L
    val leaves = (0 until nLeaves).map(leafPath(root, _))
    def seqs() = leaves.map(ManifestCommit.currentSeq(spark, _))
    var commits = 0L
    val ((maintS, noopS), workS) = Stats.time {
      ops.zipWithIndex.foreach { case (o, j) =>
        val leaf = leaves(o.leaf)
        val (res, s) = Stats.time(span(s"dml.${o.kind}", fs = true) {
          o.kind match {
            case "delete_mor" => ManifestCommit.deleteWhereMoR(spark, leaf, inRange(o), cfg)
            case "delete_cow" => ManifestCommit.deleteWhere(spark, leaf, inRange(o), cfg)
            case "delete_keys" => ManifestCommit.deleteKeysMoR(spark, leaf, deleteKeys(spark, o), cfg)
            case "update" => ManifestCommit.updateWhere(spark, leaf, inRange(o), updateSet, cfg)
            case "merge" =>
              ManifestCommit.merge(spark, leaf, mergeSource(spark, o),
                Seq("l_orderkey", "l_linenumber"), cfg)
          }
        })
        dml += o.kind -> s
        res.filterNot(_.success).foreach { r => failed += 1; errors += s"${o.kind} on $leaf failed: ${r.error.getOrElse("")}" }
        if (j % 2 == 1) {
          val r = leaves((o.leaf + j) % nLeaves)
          readBacklogS += Stats.time {
            val df = span("read.resolve")(ManifestCommit.readLeaf(spark, r))
            span("read.scan")(df.write.mode("overwrite").format("noop").save())
          }._2
        }
      }
      val s0 = seqs()
      val act = Stats.time(span("maint.act")(Compactor.maintainAll(spark, root.toString, maintCfg)))._2
      commits = seqs().zip(s0).map { case (a, b) => a - b }.sum
      val noop = Stats.time(span("maint.noop")(Compactor.maintainAll(spark, root.toString, maintCfg)))._2
      (act, noop)
    }
    val got = sums(frames(spark, root))
    expected.foreach { case (k, exp) =>
      val g = got.getOrElse(k, (0L, 0L))
      if (g != exp) errors += s"leaf ${leaves(k.toInt)} rows/checksum $g != model $exp"
    }
    val live = leaves.flatMap(ManifestCommit.liveFiles(spark, _))
    val liveBytes = live.map(f => Files.size(java.nio.file.Paths.get(f))).sum
    val dmlS = dml.result()
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      val c = t.counters()
      val spans = t.spans
      def sum(n: String)(f: Span => Double) = spans.filter(_.name == n).map(f).sum
      Seq("delete_mor", "delete_keys", "delete_cow", "update", "merge").map(k => s"dml.${k}_s" -> sum(s"dml.$k")(_.seconds)).toMap ++ Map(
        "dml.jobs" -> spans.filter(_.name.startsWith("dml.")).map(s => c(s.id).jobs.toDouble).sum,
        "dml.fs_write_ops" -> spans.filter(_.name.startsWith("dml.")).flatMap(_.fs).map(_.writeOps.toDouble).sum,
        "read.resolve_s" -> sum("read.resolve")(_.seconds), "read.scan_s" -> sum("read.scan")(_.seconds),
        "maint.act_s" -> sum("maint.act")(_.seconds), "maint.commits" -> commits.toDouble,
        "maint.noop_ms_per_leaf" -> sum("maint.noop")(_.seconds) * 1000 / nLeaves)
    }
    Pass(workS, live.size.toLong,
      Check.bytes(Check.files(root)), liveBytes, ops.size.toLong, failed, errors.result(),
      Seq("dml_p50_s" -> Stats.pct(dmlS.map(_._2), 50), "dml_p90_s" -> Stats.pct(dmlS.map(_._2), 90),
        "read_backlog_s" -> readBacklogS, "maint_s" -> maintS, "maint_noop_s" -> noopS), layers,
      steps = Seq("mor_maintain" -> workS))
  }
}
