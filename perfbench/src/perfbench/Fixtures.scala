package perfbench

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded inputs. Lakes are written file by file with the plain parquet
  * writer (snappy, no Spark job), so a lake's layout — leaf paths, file
  * names, row counts, mtimes — is exactly what the seed says. Sizes are
  * fixed per workload; the seed moves only values and which leaf gets
  * which trait.
  */
object Fixtures {

  /** "Now" for every compactor config: the current-month and freshness
    * rules never read the wall clock.
    */
  val asOf: LocalDate = LocalDate.of(2026, 7, 15)
  private def epochMs(d: LocalDate): Long = d.atTime(12, 0).toInstant(ZoneOffset.UTC).toEpochMilli
  val staleMs: Long = epochMs(asOf.minusDays(30))
  val freshMs: Long = epochMs(asOf.minusDays(1))

  private val lineitemFields =
    """required int64 l_orderkey; required int64 l_partkey; required int64 l_suppkey;
      |required int32 l_linenumber; required double l_quantity; required double l_extendedprice;
      |required double l_discount; required double l_tax; required binary l_returnflag (STRING);
      |required binary l_linestatus (STRING); required int64 l_shipdate (TIMESTAMP(MILLIS,true));""".stripMargin
  val lineitemSchema: MessageType = MessageTypeParser.parseMessageType(s"message lineitem { $lineitemFields }")

  private def billingSchema(extra: Boolean): MessageType = MessageTypeParser.parseMessageType(
    s"""message billing {
       |  required int64 id; required int64 usage_start (TIMESTAMP(MILLIS,true));
       |  required double cost; required binary tags (STRING);
       |  ${if (extra) "required binary region (STRING);" else ""}
       |}""".stripMargin)

  // one plain (non-Hadoop) configuration for every writer: a Hadoop
  // Configuration per file would re-parse its XML defaults each time
  private val conf = new PlainParquetConfiguration()

  def writeFile(path: JPath, schema: MessageType, mtimeMs: Long, rows: Int)(fill: (Group, Int) => Unit): Unit = {
    Files.createDirectories(path.getParent)
    val f = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try (0 until rows).foreach { i => val g = f.newGroup(); fill(g, i); w.write(g) }
    finally w.close()
    Files.setLastModifiedTime(path, FileTime.fromMillis(mtimeMs))
    ()
  }

  private val flags = Array("A", "N", "R")
  private val day0 = epochMs(LocalDate.of(1995, 1, 1))

  /** `rows` lineitem rows of orders `[firstOrder, …)`, four lines per order. */
  def lineitemFile(path: JPath, rnd: SplittableRandom, firstOrder: Long, rows: Int, mtimeMs: Long = staleMs): Unit =
    writeFile(path, lineitemSchema, mtimeMs, rows) { (g, i) =>
      val q = 1 + rnd.nextInt(50)
      g.add("l_orderkey", firstOrder + i / 4)
      g.add("l_partkey", rnd.nextLong(20000))
      g.add("l_suppkey", rnd.nextLong(1000))
      g.add("l_linenumber", 1 + i % 4)
      g.add("l_quantity", q.toDouble)
      g.add("l_extendedprice", q * (900 + rnd.nextInt(1100000) / 100.0))
      g.add("l_discount", rnd.nextInt(11) / 100.0)
      g.add("l_tax", rnd.nextInt(9) / 100.0)
      g.add("l_returnflag", flags(rnd.nextInt(3)))
      g.add("l_linestatus", if (rnd.nextBoolean()) "F" else "O")
      g.add("l_shipdate", day0 + rnd.nextInt(2500) * 86400000L)
    }

  private def billingFile(path: JPath, rnd: SplittableRandom, firstId: Long, rows: Int, mtimeMs: Long,
      extra: Boolean = false): Unit =
    writeFile(path, billingSchema(extra), mtimeMs, rows) { (g, i) =>
      g.add("id", firstId + i)
      g.add("usage_start", staleMs - rnd.nextInt(720) * 3600000L)
      g.add("cost", rnd.nextInt(1000000) / 100.0)
      g.add("tags", s"""{"app":"a${rnd.nextInt(40)}","env":"${if (rnd.nextBoolean()) "prod" else "dev"}"}""")
      if (extra) g.add("region", s"r${rnd.nextInt(8)}")
    }

  private def uuid(rnd: SplittableRandom): String =
    new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString

  private def hex32(rnd: SplittableRandom): String = uuid(rnd).replace("-", "")

  /** A leaf in the koku layout: `acct/<provider>/source=<uuid>/year=/month=`. */
  private def leafDir(root: JPath, acct: Int, provider: String, source: String, year: Int, month: Int): JPath =
    root.resolve(f"acct-$acct%03d/$provider/source=$source/year=$year/month=$month%02d")

  /** A generated lake: its leaves, the files the planner must leave
    * alone, the key column with the key range its rows span, and the
    * leaves whose files disagree on schema.
    */
  final case class Lake(root: JPath, leaves: Seq[JPath], mustSkip: Seq[JPath], key: String, keys: (Long, Long),
      mixed: Seq[JPath] = Nil)

  /** `deep_leaves`: 4 leaves of `filesPerLeaf` stale lineitem files each,
    * disjoint order keys across all files.
    */
  def deepLeaves(root: JPath, seed: Long, filesPerLeaf: Int, rowsPerFile: Int): Lake = {
    val rnd = new SplittableRandom(seed)
    val leaves = (0 until 4).map(k => leafDir(root, k, "AWS", uuid(rnd), 2026, 3 + k))
    val first = rnd.nextLong(1000L) * 1000000L
    var order = first
    for (leaf <- leaves; i <- 0 until filesPerLeaf) {
      lineitemFile(leaf.resolve(f"part-$i%05d.parquet"), rnd.split(), order, rowsPerFile)
      order += (rowsPerFile + 3) / 4
    }
    Lake(root, leaves, Nil, "l_orderkey", (first, order - 1))
  }

  /** `swarm`: `leaves` tiny leaves across four providers in the
    * reference's daily shape. The trait mix is fixed; the seed decides
    * which leaf carries which trait.
    */
  def swarm(root: JPath, seed: Long, leaves: Int): Lake = {
    val mix = Seq("plain", "fresh", "tail", "single", "current", "mixed")
    require(leaves % 4 == 0 && leaves / 4 >= mix.size, s"swarm needs ${mix.size} leaves per provider, got ${leaves / 4}")
    val rnd = new SplittableRandom(seed)
    val skip = Seq.newBuilder[JPath]
    val mixed = Seq.newBuilder[JPath]
    var id = 0L
    def rows() = 8 + rnd.nextInt(24)
    def file(p: JPath, mtime: Long, extra: Boolean = false): JPath = {
      val n = rows()
      billingFile(p, rnd.split(), id, n, mtime, extra)
      id += n
      p
    }
    val providers = Seq("AWS", "Azure", "GCP", "OCP")
    // every provider gets every trait at least once; the seed decides
    // which of its leaves carries which. `current` makes a leaf volatile
    // on AWS and Azure only (on GCP and OCP it is a plain past-month
    // leaf), and GCP leaves, named by invoice month, honour only `fresh`
    val traits = providers.map { _ =>
      val ts = Array.tabulate(leaves / 4)(j => mix(j % mix.size))
      for (j <- ts.indices.reverse) { val k = rnd.nextInt(j + 1); val x = ts(j); ts(j) = ts(k); ts(k) = x }
      ts
    }
    val out = (0 until leaves).map { i =>
      val p = providers(i % 4)
      val t = traits(i % 4)(i / 4)
      val current = t == "current" && (p == "AWS" || p == "Azure")
      val (y, m) = if (current) (asOf.getYear, asOf.getMonthValue) else (2026, 1 + rnd.nextInt(6))
      val leaf = leafDir(root, i % 16, p, uuid(rnd), y, m)
      if (p == "GCP") {
        // <invoice_month>_<date>_<suffix>: two dates, so two stems per leaf
        for (d <- Seq(1, 2); s <- Seq("a", "b")) {
          val f = file(leaf.resolve(f"2026$m%02d_2026-$m%02d-0${d}_$s${hex32(rnd).take(6)}.parquet"),
            if (t == "fresh" && d == 2 && s == "b") freshMs else staleMs)
          if (t == "fresh" && d == 2) skip += f // a one-file stem is skipped too
        }
      } else if (current) (0 until 3).foreach(j => skip += file(leaf.resolve(s"part-$j.parquet"), staleMs))
      else t match {
        case "single" => skip += file(leaf.resolve("part-0.parquet"), staleMs)
        case "fresh" =>
          (0 until 2).foreach(j => file(leaf.resolve(s"part-$j.parquet"), staleMs))
          skip += file(leaf.resolve("part-2.parquet"), freshMs)
        case "tail" =>
          val stem = leaf.getParent.getParent.getFileName.toString.stripPrefix("source=")
          skip += file(leaf.resolve(s"${stem}_${hex32(rnd)}.parquet"), staleMs - 86400000L)
          file(leaf.resolve(s"${stem}_${hex32(rnd)}.parquet"), staleMs)
          (0 until 2).foreach(j => file(leaf.resolve(s"part-$j.parquet"), staleMs))
        case "mixed" =>
          (0 until 2).foreach(j => file(leaf.resolve(s"part-$j.parquet"), staleMs))
          file(leaf.resolve("part-2.parquet"), staleMs, extra = true)
          mixed += leaf
        case _ => (0 until 3).foreach(j => file(leaf.resolve(s"part-$j.parquet"), staleMs))
      }
      leaf
    }
    Lake(root, out, skip.result(), "id", (0L, id - 1), mixed.result())
  }

  /** `mor_maintain` raw input: `leaves` leaves of `files` stale lineitem files. */
  def morRaw(root: JPath, seed: Long, leaves: Int, files: Int, rowsPerFile: Int): Lake = {
    val rnd = new SplittableRandom(seed)
    var order = 0L
    val out = (0 until leaves).map { k =>
      val leaf = leafDir(root, k, "OCP", uuid(rnd), 2026, 1 + k % 6)
      (0 until files).foreach { i =>
        lineitemFile(leaf.resolve(f"part-$i%05d.parquet"), rnd.split(), order, rowsPerFile)
        order += (rowsPerFile + 3) / 4
      }
      leaf
    }
    Lake(root, out, Nil, "l_orderkey", (0L, order - 1))
  }

  /** Every query table as one file `dir/<table>.parquet`, in the schemas
    * and value domains of the TPC-H-like test tables, at scale factor
    * `sf` (floored at the sf0.001 row counts). Fixed seed: the query mix's
    * pinned outputs depend on these bytes.
    */
  def queryTables(dir: JPath, sf: Double, seed: Long = 42L): Unit = {
    def rows(perSf: Double, floor: Long): Int = math.max(floor, (perSf * sf).toLong).toInt
    val (nCust, nSupp, nPart, nOrd) = (rows(150000, 150), rows(10000, 10), rows(200000, 200), rows(1500000, 1500))
    val (nEv, nDoc, nEmb) = (rows(1000000, 1000), rows(50000, 500), rows(20000, 500))
    var t = 0
    def table(name: String, schema: String, n: Int)(fill: (Group, Int, SplittableRandom) => Unit): Unit = {
      t += 1
      val rnd = new SplittableRandom(seed * 100 + t)
      writeFile(dir.resolve(s"$name.parquet"), MessageTypeParser.parseMessageType(s"message $name { $schema }"),
        staleMs, n)((g, i) => fill(g, i, rnd))
    }
    def pick(r: SplittableRandom, xs: String*): String = xs(r.nextInt(xs.size))
    def cents(x: Double): Double = math.round(x * 100) / 100.0
    val day = 86400000L
    val d1995 = LocalDate.of(1995, 1, 1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

    table("region", "required int32 r_regionkey; required binary r_name (STRING);", 5) { (g, i, _) =>
      g.add("r_regionkey", i); g.add("r_name", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i))
    }
    table("nation", "required int32 n_nationkey; required binary n_name (STRING); required int32 n_regionkey;", 25) {
      (g, i, _) => g.add("n_nationkey", i); g.add("n_name", s"NATION_$i"); g.add("n_regionkey", i % 5)
    }
    table("customer", "required int64 c_custkey; required binary c_name (STRING); required int32 c_nationkey; " +
      "required double c_acctbal; required binary c_mktsegment (STRING);", nCust) { (g, i, r) =>
      g.add("c_custkey", i.toLong); g.add("c_name", f"Customer#$i%09d"); g.add("c_nationkey", r.nextInt(25))
      g.add("c_acctbal", cents(r.nextDouble() * 11000 - 1000))
      g.add("c_mktsegment", pick(r, "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"))
    }
    table("supplier", "required int64 s_suppkey; required binary s_name (STRING); required int32 s_nationkey; " +
      "required double s_acctbal;", nSupp) { (g, i, r) =>
      g.add("s_suppkey", i.toLong); g.add("s_name", f"Supplier#$i%09d"); g.add("s_nationkey", r.nextInt(25))
      g.add("s_acctbal", cents(r.nextDouble() * 11000 - 1000))
    }
    table("part", "required int64 p_partkey; required binary p_name (STRING); required binary p_brand (STRING); " +
      "required binary p_type (STRING); required int32 p_size; required double p_retailprice;", nPart) { (g, i, r) =>
      g.add("p_partkey", i.toLong)
      g.add("p_name", pick(r, "large", "red", "hot", "cold", "old", "new", "blue", "small") + " " +
        pick(r, "anvil", "plate", "gizmo", "ring", "widget", "gear", "bolt", "rod"))
      g.add("p_brand", s"Brand#${1 + r.nextInt(25)}")
      g.add("p_type", pick(r, "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"))
      g.add("p_size", 1 + r.nextInt(50)); g.add("p_retailprice", cents(900 + (i % 1000) / 10.0))
    }
    table("orders", "required int64 o_orderkey; required int64 o_custkey; required binary o_orderstatus (STRING); " +
      "required double o_totalprice; required int64 o_orderdate (TIMESTAMP(MILLIS,true)); " +
      "required binary o_orderpriority (STRING);", nOrd) { (g, i, r) =>
      g.add("o_orderkey", i.toLong); g.add("o_custkey", r.nextLong(nCust)); g.add("o_orderstatus", pick(r, "F", "O", "P"))
      g.add("o_totalprice", cents(1000 + r.nextDouble() * 499000)); g.add("o_orderdate", d1995 + r.nextInt(2400) * day)
      g.add("o_orderpriority", pick(r, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    }
    table("lineitem", lineitemFields, nOrd * 4) { (g, i, r) =>
      val q = 1 + r.nextInt(50)
      g.add("l_orderkey", (i / 4).toLong); g.add("l_partkey", r.nextLong(nPart)); g.add("l_suppkey", r.nextLong(nSupp))
      g.add("l_linenumber", 1 + i % 4); g.add("l_quantity", q.toDouble)
      g.add("l_extendedprice", cents(q * (900 + r.nextDouble() * 2000))); g.add("l_discount", r.nextInt(11) / 100.0)
      g.add("l_tax", r.nextInt(9) / 100.0); g.add("l_returnflag", pick(r, "A", "N", "R"))
      g.add("l_linestatus", pick(r, "F", "O")); g.add("l_shipdate", d1995 + (1 + r.nextInt(2400)) * day)
    }
    // 30 days of events; a heavy-tailed value, so z-score outliers exist
    val evStep = 30 * day * 1000 / nEv
    table("events", "required int64 event_id; required int64 ts (TIMESTAMP(MICROS,true)); required int64 user_id; " +
      "required binary event_type (STRING); required double value; required binary props (STRING);", nEv) { (g, i, r) =>
      g.add("event_id", i.toLong); g.add("ts", 1704067200000000L + i * evStep + r.nextLong(1000000L))
      g.add("user_id", r.nextLong(math.max(15L, nEv / 66L)))
      g.add("event_type", pick(r, "click", "signup", "error", "view", "purchase"))
      g.add("value", cents(math.pow(r.nextDouble(), 3) * 490 + 0.01)); g.add("props", s"""{"k": ${r.nextInt(100)}}""")
    }
    val vocab = Array("row", "the", "query", "stream", "value", "hash", "batch", "sort", "data", "big", "filter", "dup",
      "fast", "spark", "line", "small", "customer", "group", "key", "agg", "scan", "slow", "table", "part", "a",
      "merge", "window", "order", "column", "join", "vector")
    // every 8th document repeats an earlier one with its tail changed:
    // the dedup queries need shared shingles to find
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    table("documents", "required int64 doc_id; required binary text (STRING); required binary lang (STRING); " +
      "required binary source (STRING); required int64 n_chars;", nDoc) { (g, i, r) =>
      val words =
        if (i % 8 == 7) texts(i - 1 - r.nextInt(6)).dropRight(3) ++ Array.fill(3)(vocab(r.nextInt(vocab.length)))
        else Array.fill(8 + r.nextInt(90))(vocab(r.nextInt(vocab.length)))
      texts += words
      val text = words.mkString(" ")
      g.add("doc_id", i.toLong); g.add("text", text); g.add("lang", pick(r, "en", "en", "en", "zh", "de", "fr", "es"))
      g.add("source", s"src${r.nextInt(20)}"); g.add("n_chars", text.length.toLong)
    }
    // ten labelled clusters: a centroid per label plus small noise
    val centroids = Array.tabulate(10, 64)((l, d) => new SplittableRandom(seed + l * 64 + d).nextDouble() * 0.5 - 0.25)
    table("embeddings", "required int64 vec_id; required group embedding (LIST) { repeated group list { " +
      "required float element; } } required int32 label;", nEmb) { (g, i, r) =>
      val label = r.nextInt(10)
      g.add("vec_id", i.toLong)
      val e = g.addGroup("embedding")
      centroids(label).foreach(c => e.addGroup("list").append("element", (c + r.nextDouble() * 0.1 - 0.05).toFloat))
      g.add("label", label)
    }
  }
}
