package perfbench

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-insensitive row checksums and file digests. */
object Check {

  /** Row count and the sum of a 32-bit hash of every row, per group. A
    * multiset: order-insensitive, but a lost, extra or changed row moves
    * it.
    */
  def byKey(df: DataFrame, key: String): Map[String, (Long, Long)] =
    df.select(col(key).cast("string").as("k"), hash(df.columns.filter(_ != key).sorted.map(df.col): _*).cast("long").as("h"))
      .groupBy("k").agg(count(lit(1)), sum("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))).toMap

  /** The leaf directory of a data file: its parent, above any hidden
    * (`.data-*`, `.staging-*`) directory, without a URI scheme.
    */
  val leafOfFile: Column = regexp_replace(
    regexp_replace(input_file_name(), "^file:(//)?", ""), "(/\\.[^/]+)?/[^/]+$", "")

  /** Size and CRC32 of a file's bytes. */
  def digest(p: JPath): (Long, Long) = {
    val crc = new java.util.zip.CRC32
    val b = Files.readAllBytes(p)
    crc.update(b)
    (b.length.toLong, crc.getValue)
  }

  def files(root: JPath): Seq[JPath] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** Parquet files visible without a manifest: not under a hidden dir. */
  def plainParquet(root: JPath): Seq[JPath] =
    files(root).filter { p =>
      val rel = root.relativize(p).iterator.asScala.map(_.toString).toSeq
      p.toString.endsWith(".parquet") && !rel.exists(n => n.startsWith(".") || n.startsWith("_"))
    }

  def bytes(ps: Seq[JPath]): Long = ps.map(Files.size).sum

  def copyTree(from: JPath, to: JPath): Unit =
    files(from).foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }

  def rmTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
}
