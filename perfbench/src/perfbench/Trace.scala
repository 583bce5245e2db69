package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Operation counts of the local filesystem, measured from outside the
  * program: the session's `fs.file.impl` points at this subclass in a
  * traced run, so every list, open, create, rename and delete the program
  * makes through Hadoop during a traced pass is counted. (Bytes come from Spark's task metrics
  * instead: Hadoop's per-scheme byte statistics miss the vectored reads
  * parquet makes on the local filesystem.)
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = { count(lists); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = { count(opens); super.open(f, bufferSize) }
  override def create(
      f: Path, permission: org.apache.hadoop.fs.permission.FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable,
  ): org.apache.hadoop.fs.FSDataOutputStream = {
    count(creates)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count(renames); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count(deletes); super.delete(f, recursive) }
}

object CountingLocalFileSystem {
  val lists, opens, creates, renames, deletes = new AtomicLong
  /** Off outside traced passes: a plain pass pays one flag test per call. */
  @volatile var counting = false
  private def count(c: AtomicLong): Unit = if (counting) { c.incrementAndGet(); () }

  final case class Snapshot(lists: Long, opens: Long, creates: Long, renames: Long, deletes: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(lists - o.lists, opens - o.opens, creates - o.creates, renames - o.renames, deletes - o.deletes)
    def writeOps: Long = creates + renames + deletes
  }

  def snapshot(): Snapshot = Snapshot(lists.get, opens.get, creates.get, renames.get, deletes.get)
}

/** One closed span: wall interval in nanoseconds and epoch millis (the
  * listener's clock), the span that caused it, and the filesystem delta
  * over its interval when it asked for one (only exact for spans that
  * run alone).
  */
final case class Span(id: Int, name: String, parent: Int, t0: Long, t1: Long, ms0: Long, ms1: Long,
    fs: Option[CountingLocalFileSystem.Snapshot]) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** What the listener saw under a span and its descendants. */
final case class SpanCounters(jobs: Int, stages: Int, stageCoveredS: Double, gapS: Double, shuffleBytes: Long,
    inputBytes: Long, outputBytes: Long, selfS: Double)

/** In-memory spans plus a Spark listener, both active only between
  * [[begin]] and [[end]] of a traced pass. A span sets a thread-local
  * Spark property naming itself; jobs submitted under it (from its
  * thread or any thread that thread starts) carry the property, so jobs
  * are attributed to spans exactly even when spans run concurrently.
  */
final class Tracer(sc: SparkContext) {
  private val Key = "perfbench.span"
  private val ids = new AtomicInteger(0)
  private val closed = mutable.ArrayBuffer.empty[Span]

  private final case class Job(span: Int, stages: Seq[Int])
  private final case class Stage(start: Long, end: Long, shuffleBytes: Long, inputBytes: Long, outputBytes: Long)
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(-1)
      jobs.add(Job(span, e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) {
        val m = Option(i.taskMetrics)
        stages.put(i.stageId, Stage(s, c, m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.inputMetrics.bytesRead), m.fold(0L)(_.outputMetrics.bytesWritten)))
      }
    }
  }

  def span[T](name: String, fs: Boolean = false)(body: => T): T = {
    val parent = Option(sc.getLocalProperty(Key)).map(_.toInt).getOrElse(-1)
    val id = ids.incrementAndGet()
    sc.setLocalProperty(Key, id.toString)
    val fs0 = if (fs) Some(CountingLocalFileSystem.snapshot()) else None
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      val d = fs0.map(CountingLocalFileSystem.snapshot() - _)
      sc.setLocalProperty(Key, if (parent < 0) null else parent.toString)
      closed.synchronized { closed += Span(id, name, parent, t0, t1, ms0, ms1, d) }
    }
  }

  /** Start a traced pass: drop what earlier passes recorded, then listen
    * and count filesystem calls.
    */
  def begin(): Unit = {
    closed.synchronized(closed.clear())
    jobs.clear()
    stages.clear()
    sc.addSparkListener(listener)
    CountingLocalFileSystem.counting = true
  }

  /** End a traced pass: the next plain pass runs unobserved. */
  def end(): Unit = {
    CountingLocalFileSystem.counting = false
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def spans: Seq[Span] = closed.synchronized(closed.toList)

  /** Counters of every span, read after the listener bus has drained. */
  def counters(): Map[Int, SpanCounters] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val all = spans
    val children = all.groupBy(_.parent)
    def subtree(id: Int): Set[Int] = Set(id) ++ children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val jobList = jobs.asScala.toList
    all.map { s =>
      val ids = subtree(s.id)
      val js = jobList.filter(j => ids(j.span))
      val st = js.flatMap(_.stages).distinct.flatMap(i => Option(stages.get(i)))
      val covered = Tracer.union(st.map(x => (x.start max s.ms0, x.end min s.ms1))) / 1e3
      val childS = Tracer.union(children.getOrElse(s.id, Nil).map(c => (c.t0, c.t1))) / 1e9
      s.id -> SpanCounters(js.size, st.size, covered, math.max(0.0, s.seconds - covered),
        st.map(_.shuffleBytes).sum, st.map(_.inputBytes).sum, st.map(_.outputBytes).sum,
        math.max(0.0, s.seconds - childS))
    }.toMap
  }

  /** Spans and their counters as JSON-ready rows. */
  def dump(): Seq[Seq[(String, Any)]] = {
    val c = counters()
    val base = spans.map(_.t0).minOption.getOrElse(0L)
    spans.sortBy(_.t0).map { s =>
      val k = c(s.id)
      Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.t0 - base) / 1e9, "end_s" -> (s.t1 - base) / 1e9, "self_s" -> k.selfS,
        "jobs" -> k.jobs, "stages" -> k.stages, "stage_covered_s" -> k.stageCoveredS, "gap_s" -> k.gapS,
        "shuffle_bytes" -> k.shuffleBytes, "input_bytes" -> k.inputBytes, "output_bytes" -> k.outputBytes) ++
        s.fs.toSeq.flatMap(f => Seq("fs_lists" -> f.lists, "fs_opens" -> f.opens, "fs_write_ops" -> f.writeOps))
    }
  }
}

object Tracer {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
