package perfbench

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Tables
import graft.queries._

/** `query_mix`: the first query of each of the ten query families, each timed with the `noop` sink, one query at a time.
  * The tables are fixed (the pinned row counts and checksums depend on
  * them); the seed orders the queries of each pass.
  */
final class QueryMixWorkload(seed: Long, pins: Option[JPath]) extends Workload {
  val mix: Seq[Q] = Seq(CoreQueries.qs, EventQueries.qs, TextQueries.qs, DedupQueries.qs, SimilarityQueries.qs,
    MultimodalQueries.qs, PipelineQueries.qs, EtlQueries.qs, GraphQueries.qs, SearchQueries.qs)
    .map(_.head)
  private var dir: String = _
  private var pinned: Map[String, (Long, Option[Long])] = Map.empty

  def setup(spark: SparkSession, d: JPath): Unit = {
    dir = d.resolve("tables").toString
    Fixtures.queryTables(d.resolve("tables"), QueryMixWorkload.sf)
  }

  /** Row count and checksum of every query in the mix. The rows are
    * collected, so the checked plan is the timed plan with a different
    * sink; the checksum is the sum of a hash of each row's text.
    */
  def outputs(spark: SparkSession): Map[String, (Long, Long)] =
    mix.map { q =>
      val rows = q.run(spark, dir).collect()
      q.name -> (rows.length.toLong, rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong).sum)
    }.toMap

  def expect(spark: SparkSession): Unit = pinned = pins.fold(Map.empty[String, (Long, Option[Long])])(QueryMixWorkload.readPins)

  /** The pinned outputs against this build's, on an untimed pass. */
  def check(spark: SparkSession): Seq[String] = {
    val got = outputs(spark)
    mix.flatMap { q =>
      (pinned.get(q.name), got(q.name)) match {
        case (None, _) => Seq(s"query ${q.name} has no pinned output")
        case (Some((rows, sum)), (n, h)) if n != rows || sum.exists(_ != h) =>
          Seq(s"query ${q.name} rows/checksum ($n, $h) != pinned ($rows, ${sum.getOrElse("count only")})")
        case _ => Nil
      }
    }
  }

  // the pinned-output check runs every query once, and one noop pass
  // follows it: the first passes after a cold start are still speeding up
  override def warmUps: Int = 1
  override def timedPasses: Int = 3

  def detailUnits: Map[String, String] = Map("query_total_s" -> "s", "query_p50_s" -> "s", "query_p75_s" -> "s")

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private val tables: Seq[(SparkSession, String) => DataFrame] = Seq(Tables.region, Tables.nation, Tables.customer,
    Tables.supplier, Tables.part, Tables.orders, Tables.lineitem, Tables.documents, Tables.embeddings, Tables.events)

  /** The last query execution the session finished — the `noop` write's,
    * recorded during traced passes.
    */
  private val lastQe = new AtomicReference[QueryExecution]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lastQe.set(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def readAll(spark: SparkSession): Unit = tables.foreach(t => noop(t(spark, dir)))

  def readPruned(spark: SparkSession): Unit =
    noop(Tables.lineitem(spark, dir).where(col("l_orderkey").between(1000L, 1299L)))

  def pass(spark: SparkSession, i: Int, tracer: Option[Tracer]): Pass = {
    val order = new scala.util.Random(seed * 1000 + i).shuffle(mix)
    var failed = 0L
    val errors = Seq.newBuilder[String]
    val phases = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    if (tracer.nonEmpty) spark.listenerManager.register(qeListener)
    def phase(qe: QueryExecution, p: String): Double = qe.tracker.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val (lat, workS) = Stats.time(order.map { q =>
      Stats.time {
        try tracer match {
          case None => noop(q.run(spark, dir))
          case Some(t) => t.span("query") {
            val df = t.span("q.build")(q.run(spark, dir))
            t.span("q.exec")(noop(df))
            org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
            val cmd = lastQe.get
            phases("analysis") += phase(df.queryExecution, "analysis") + phase(cmd, "analysis")
            phases("optimization") += phase(cmd, "optimization")
            phases("planning") += phase(cmd, "planning")
          }
        } catch {
          case e: Exception => failed += 1; errors += s"query ${q.name} failed: $e"
        }
      }._2
    })
    if (tracer.nonEmpty) spark.listenerManager.unregister(qeListener)
    System.err.println("[perfbench] slowest queries: " +
      order.map(_.name).zip(lat).sortBy(-_._2).take(12).map { case (n, t) => f"$n=$t%.2f" }.mkString(" "))
    val root = java.nio.file.Paths.get(dir)
    val data = Check.plainParquet(root)
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      val c = t.counters()
      val spans = t.spans
      def sum(n: String)(f: Span => Double) = spans.filter(_.name == n).map(f).sum
      val planning = phases("optimization") + phases("planning")
      Map(
        "q.build_s" -> sum("q.build")(_.seconds), "q.build_jobs" -> sum("q.build")(s => c(s.id).jobs.toDouble),
        "q.analyze_s" -> phases("analysis"), "q.optimize_s" -> phases("optimization"),
        "q.physical_s" -> phases("planning"), "q.exec_s" -> (sum("q.exec")(_.seconds) - planning),
        "q.jobs" -> sum("q.exec")(s => c(s.id).jobs.toDouble), "q.stages" -> sum("query")(s => c(s.id).stages.toDouble),
        "q.stage_covered_s" -> sum("query")(s => c(s.id).stageCoveredS), "q.gap_s" -> sum("query")(s => c(s.id).gapS),
        "q.shuffle_bytes" -> sum("query")(s => c(s.id).shuffleBytes.toDouble))
    }
    Pass(workS, data.size.toLong, Check.bytes(Check.files(root)), Check.bytes(data),
      mix.size.toLong, failed, errors.result(),
      Seq("query_total_s" -> workS, "query_p50_s" -> Stats.pct(lat, 50), "query_p75_s" -> Stats.pct(lat, 75)), layers,
      steps = order.map(_.name).zip(lat))
  }
}

object QueryMixWorkload {
  val sf = 0.001

  /** Query name -> (rows, checksum or None for a count-only query). */
  def readPins(p: JPath): Map[String, (Long, Option[Long])] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(p)).get("queries")
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (v.get("rows").asLong(), Option(v.get("checksum")).filterNot(_.isNull).map(_.asLong()))
    }.toMap
  }
}
