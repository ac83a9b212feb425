package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, partition-independent random draws: every value is a pure
  * function of (seed, stream, row id), so a table's content never depends
  * on how Spark splits the id range. SplitMix64 mixing. */
final class Draw(seed: Long, stream: Long, id: Long) {
  private var s = Draw.mix(Draw.mix(Draw.mix(seed) ^ stream) ^ id)
  def long(): Long = { s = Draw.mix(s); s }
  def unit(): Double = (long() >>> 11) * (1.0 / (1L << 53))
  def int(n: Int): Int = ((long() >>> 1) % n).toInt
  def gauss(): Double =
    math.sqrt(-2.0 * math.log(1.0 - unit())) * math.cos(2 * math.Pi * unit())
}

object Draw {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Generators for every benchmark input. Each writes parquet tables named
  * like the program's fixture tables into an sfDir, so the program reads
  * them through its normal `graft.Tables` loaders. Same seed, same bytes:
  * [[digest]] fingerprints a generated directory for that check. */
object Gen extends Serializable {
  /** Documents with ids below this are the evaluation set that
    * decontamination protects (the program's eval-id fence). */
  val NEVAL = 20L

  /** The fixture corpus vocabulary; `dup` marks near-duplicates. */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Stated corpus shares (of the non-eval documents). */
  val ExactDupShare = 0.03
  val NearDupShare = 0.03
  val ContamShare = 0.01
  private val ContamSpan = 13

  private val S_CENTER = 1L; private val S_POINT = 2L; private val S_KIND = 3L
  private val S_TEXT = 4L; private val S_META = 5L; private val S_TAB = 6L

  private def write(spark: SparkSession, rows: org.apache.spark.rdd.RDD[Row],
      schema: StructType, dir: String, name: String): Unit =
    spark.createDataFrame(rows, schema).write.mode("overwrite")
      .option("compression", "snappy").parquet(s"$dir/$name.parquet")

  private def ids(spark: SparkSession, n: Long, parts: Int) =
    spark.sparkContext.range(0L, n, 1L, parts)

  /** Gaussian blob generator centers: k × dim, each coordinate uniform in
    * [-box, box]. Kept by the caller as the `cost_ratio` base. */
  def centers(seed: Long, k: Int, dim: Int, box: Double): Array[Array[Double]] =
    Array.tabulate(k, dim) { (j, i) =>
      (new Draw(seed, S_CENTER, j.toLong * dim + i).unit() * 2 - 1) * box
    }

  /** `embeddings(vec_id, embedding array<float>, label)`: n points, each
    * from a uniformly chosen center plus N(0, sigma²) per coordinate;
    * `unit` rescales every vector to norm 1 (the fixture's convention). */
  def blobs(spark: SparkSession, dir: String, seed: Long, n: Long,
      cs: Array[Array[Double]], sigma: Double, parts: Int,
      unit: Boolean = false): Unit = {
    val k = cs.length
    val rows = ids(spark, n, parts).map { id =>
      val d = new Draw(seed, S_POINT, id)
      val lbl = d.int(k)
      val c = cs(lbl)
      val v = Array.tabulate(c.length)(i => c(i) + sigma * d.gauss())
      val s = if (unit) math.sqrt(v.map(x => x * x).sum) else 1.0
      Row(id, v.map(x => (x / s).toFloat).toSeq, lbl)
    }
    write(spark, rows, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding",
        ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))), dir, "embeddings")
  }

  private def baseWords(seed: Long, id: Long): Array[String] = {
    val d = new Draw(seed, S_TEXT, id)
    Array.fill(10 + d.int(91))(Vocab(d.int(Vocab.length)))
  }

  /** 0 original, 1 exact duplicate, 2 near-duplicate, 3 eval-contaminated.
    * Eval documents are always originals. */
  def kind(seed: Long, id: Long): Int =
    if (id < NEVAL) 0 else {
      val u = new Draw(seed, S_KIND, id).unit()
      if (u < ExactDupShare) 1
      else if (u < ExactDupShare + NearDupShare) 2
      else if (u < ExactDupShare + NearDupShare + ContamShare) 3
      else 0
    }

  /** The original a duplicate copies: a seeded pick among non-eval ids,
    * moved forward to the next original. */
  private def source(seed: Long, id: Long, n: Long): Long = {
    var j = NEVAL + (new Draw(seed, S_KIND, ~id).long() >>> 1) % (n - NEVAL)
    while (kind(seed, j) != 0) j = if (j + 1 < n) j + 1 else NEVAL
    j
  }

  def docText(seed: Long, id: Long, n: Long): String = kind(seed, id) match {
    case 0 => baseWords(seed, id).mkString(" ")
    case 1 => baseWords(seed, source(seed, id, n)).mkString(" ")
    case 2 =>
      val w = baseWords(seed, source(seed, id, n))
      w(new Draw(seed, S_META, ~id).int(w.length)) = "dup"
      w.mkString(" ")
    case _ =>
      val d = new Draw(seed, S_META, ~id)
      val ev = baseWords(seed, d.int(NEVAL.toInt))
      val at = d.int(math.max(1, ev.length - ContamSpan))
      val span = ev.slice(at, at + ContamSpan)
      val w = baseWords(seed, id)
      val pos = d.int(w.length)
      (w.take(pos) ++ span ++ w.drop(pos)).mkString(" ")
  }

  /** `documents(doc_id, text, lang, source, n_chars)`: single-line,
    * tab-free texts over [[Vocab]], 10-100 words each, with the stated
    * exact-duplicate, near-duplicate and contamination shares;
    * `n_chars == length(text)`. */
  def documents(spark: SparkSession, dir: String, seed: Long, n: Long,
      parts: Int): Unit = {
    val langs = Array("en", "en", "en", "en", "es", "es", "fr", "fr", "zh",
      "zh", "de")
    val rows = ids(spark, n, parts).map { id =>
      val t = docText(seed, id, n)
      Row(id, t, langs(new Draw(seed, S_META, id).int(langs.length)),
        s"src${id % 20}", t.length.toLong)
    }
    write(spark, rows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      dir, "documents")
  }

  private val Day = 86400000000L // µs
  private val Epoch1995 = 788918400000000L
  private val Epoch2024 = 1704067200000000L

  /** The star-schema and events tables at `scale` × the sf0.1 row counts,
    * with the fixture's column domains (for the query mix). */
  def starSchema(spark: SparkSession, dir: String, seed: Long, scale: Double,
      parts: Int): Unit = {
    def n(base: Long) = math.max(1L, (base * scale).toLong)
    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrd = n(150000); val nLine = n(600000); val nEv = n(100000)
    def d(t: Long, id: Long) = new Draw(seed, S_TAB * 100 + t, id)
    def r2(x: Double) = math.rint(x * 100) / 100
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val sc = spark.sparkContext
    write(spark, sc.parallelize(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) }, 1),
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))), dir, "region")
    write(spark, sc.parallelize((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)), 1),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      dir, "nation")
    val segs = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    write(spark, ids(spark, nCust, parts).map { id => val g = d(1, id)
      Row(id, f"Customer#$id%09d", g.int(25), r2(g.unit() * 11000 - 1000), segs(g.int(5)))
    }, StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))), dir, "customer")
    write(spark, ids(spark, nSupp, 1).map { id => val g = d(2, id)
      Row(id, f"Supplier#$id%09d", g.int(25), r2(g.unit() * 11000 - 1000))
    }, StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      dir, "supplier")
    val adj = Array("blue", "cold", "hot", "red", "small", "new", "old", "large")
    val noun = Array("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
    val ptypes = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
    write(spark, ids(spark, nPart, parts).map { id => val g = d(3, id)
      Row(id, s"${adj(g.int(8))} ${noun(g.int(8))}", s"Brand#${1 + g.int(25)}",
        ptypes(g.int(6)), 1 + g.int(50), r2(900 + (id % 1000) * 0.1))
    }, StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      dir, "part")
    val stat = Array("O", "P", "F")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark, ids(spark, nOrd, parts).map { id => val g = d(4, id)
      Row(id, g.int(nCust.toInt).toLong, stat(g.int(3)), r2(1000 + g.unit() * 499000),
        ts(Epoch1995 + g.int(2404) * Day), prio(g.int(5)))
    }, StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      dir, "orders")
    val flags = Array(("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "O"), ("R", "F"))
    write(spark, ids(spark, nLine, parts).map { id => val g = d(5, id)
      val q = (1 + g.int(50)).toDouble
      val (rf, ls) = flags(g.int(6))
      Row(g.int(nOrd.toInt).toLong, g.int(nPart.toInt).toLong, g.int(nSupp.toInt).toLong,
        1 + g.int(7), q, r2(q * (900 + g.unit() * 1200)), g.int(11) / 100.0,
        g.int(9) / 100.0, rf, ls, ts(Epoch1995 + (1 + g.int(2498)) * Day))
    }, StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))), dir, "lineitem")
    val evt = Array("signup", "click", "error", "view", "purchase")
    val nUsers = math.max(1L, nEv * 15 / 1000)
    write(spark, ids(spark, nEv, parts).map { id => val g = d(6, id)
      // ids ascend with time, like an append-only event log
      val at = Epoch2024 + (id * 30 * Day) / nEv + g.int(1000000)
      Row(id, ts(at), g.int(nUsers.toInt).toLong, evt(g.int(5)),
        r2(-math.log(1 - g.unit()) * 80), s"""{"k": ${g.int(100)}}""")
    }, StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), dir, "events")
  }

  /** Delete a file tree if it exists. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount).foreach(Files.delete)
    finally s.close()
  }

  /** SHA-256 over every data file under `dir` (relative path of its table
    * and part number, then content) — the byte-identity fingerprint. Spark
    * names part files with a per-write UUID, so the name is reduced to the
    * table directory and the part index. */
  def digest(dir: String): String = {
    val root = Paths.get(dir)
    val files = {
      val s = Files.walk(root)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
    def key(p: Path) = root.relativize(p.getParent).toString + "/" +
      p.getFileName.toString.split("-").take(2).mkString("-")
    val md = MessageDigest.getInstance("SHA-256")
    files.sortBy(key).foreach { p =>
      md.update(key(p).getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
