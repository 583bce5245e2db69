package perfbench

import java.nio.file.{Path => JPath}

import org.apache.spark.sql.SparkSession

/** `lake`: a koku lake's night and day as one pass — `deep_leaves`'
  * per-leaf compaction, `swarm`'s batched compaction, then `mor_maintain`'s
  * DML sequence and maintenance sweeps, each on its own lake. One run pays
  * the JVM's cold start once for all three; the traced run separates them
  * by layer, and each part's spans sit under a span named after the part.
  */
final class LakeWorkload(seed: Long, work: JPath) extends Workload {
  private val parts: Seq[(String, Workload)] = Seq(
    "deep_leaves" -> new CompactionWorkload("deep_leaves", seed, work.resolve("deep")),
    "swarm" -> new CompactionWorkload("swarm", seed, work.resolve("swarm")),
    "mor_maintain" -> new MorWorkload(seed, work.resolve("mor")))

  def setup(spark: SparkSession, dir: JPath): Unit = parts.foreach { case (n, w) => w.setup(spark, dir.resolve(n)) }

  def expect(spark: SparkSession): Unit = parts.foreach(_._2.expect(spark))

  def pass(spark: SparkSession, i: Int, tracer: Option[Tracer]): Pass =
    parts.map { case (n, w) => tracer.fold(w.pass(spark, i, None))(t => t.span(n)(w.pass(spark, i, tracer))) }
      .reduce(_ + _)

  def readAll(spark: SparkSession): Unit = parts.foreach(_._2.readAll(spark))

  def readPruned(spark: SparkSession): Unit = parts.foreach(_._2.readPruned(spark))

  override def scanParts: Seq[Workload] = parts.map(_._2)

  def detailUnits: Map[String, String] = parts.map(_._2.detailUnits).reduce(_ ++ _)
}
