package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: the percentile rule, the self-time
  * arithmetic and generator determinism. Exits non-zero on a failure.
  * Run with `python3 perfbench/test.py`. */
object SelfTest {
  private var failures = 0
  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // percentile rule: a percentile needs ten samples beyond it
    check("p90 needs 100 samples", Stats.reportable(100, 0.9) && !Stats.reportable(99, 0.9))
    check("p50 needs 20 samples", Stats.reportable(20, 0.5) && !Stats.reportable(19, 0.5))
    check("p99 needs 1000 samples", Stats.reportable(1000, 0.99) && !Stats.reportable(999, 0.99))
    check("median of odd count", near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0))
    check("median of even count", near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    check("p90 interpolates", near(Stats.quantile((1 to 11).map(_.toDouble), 0.9), 10.0))

    // self time: wall minus the union of the direct children's intervals
    def sp(id: Long, parent: Long, s: Long, e: Long) = {
      val x = Span(id, parent, s"s$id", "l", s, s); x.endNs = e; x
    }
    check("union merges overlaps", Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    check("union ignores empty", Tracer.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L)
    val spans = Seq(sp(1, 0, 0, 100), sp(2, 1, 10, 40), sp(3, 1, 30, 60),
      sp(4, 2, 15, 20), sp(5, 0, 200, 210))
    val self = Tracer.selfTimes(spans)
    check("root self excludes overlapping children", self(1) == 50L)
    check("child self excludes grandchild", self(2) == 25L)
    check("leaf self is its wall", self(3) == 30L && self(4) == 5L && self(5) == 10L)
    val nested = Tracer.selfTimes(Seq(sp(1, 0, 0, 100), sp(2, 1, 10, 40),
      sp(3, 1, 50, 90), sp(4, 3, 60, 70)))
    check("without overlap, self times sum to the root's wall", nested.values.sum == 100L)
    val clipped = Tracer.selfTimes(Seq(sp(1, 0, 0, 10), sp(2, 1, 5, 20)))
    check("child past its parent is clipped", clipped(1) == 5L)

    // generators: same seed, same bytes; another seed, other bytes
    val tmp = Files.createTempDirectory("perfbench-selftest")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def gen(seed: Long, name: String, parts: Int): String = {
        val d = tmp.resolve(name).toString
        Gen.blobs(spark, d, seed, 2000, Gen.centers(seed, 4, 8, 5.0), 1.0, parts)
        Gen.documents(spark, d, seed, 3000, parts)
        Gen.starSchema(spark, d, seed, 0.002, parts)
        Gen.digest(d)
      }
      val a = gen(7, "a", 3)
      check("same seed gives byte-identical inputs", a == gen(7, "b", 3))
      check("another seed gives other inputs", a != gen(8, "c", 3))
      check("row content does not depend on the split",
        spark.read.parquet(tmp.resolve("a/documents.parquet").toString)
          .exceptAll(spark.read.parquet {
            Gen.documents(spark, tmp.resolve("d").toString, 7, 3000, 5)
            tmp.resolve("d/documents.parquet").toString
          }).isEmpty)
      val docs = spark.read.parquet(tmp.resolve("a/documents.parquet").toString)
      import org.apache.spark.sql.functions._
      check("n_chars equals length(text), single-line, tab-free",
        docs.where(col("n_chars") =!= length(col("text")) ||
          col("text").contains("\t") || col("text").contains("\n")).isEmpty)
      val dups = docs.count() - docs.select("text").distinct().count()
      check(s"exact duplicates present ($dups)", dups >= 3000 * Gen.ExactDupShare * 0.5)
      check("near-duplicates carry the marker word",
        docs.where(col("text").contains("dup")).count() > 0)
      val kinds = (0L until 3000L).map(Gen.kind(7, _)).groupBy(identity).map {
        case (k, v) => k -> v.size }
      check("every document kind is generated", (0 to 3).forall(kinds.contains))
      check("eval documents are originals", (0L until Gen.NEVAL).forall(Gen.kind(7, _) == 0))
    } finally {
      spark.stop()
      Gen.deleteTree(tmp)
    }
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
