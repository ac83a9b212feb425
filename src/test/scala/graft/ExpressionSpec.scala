package graft

import graft.operators.{DedupOps, KMeansOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Bit-identity contracts for the native codegen expressions: each one
  * replaced a CodegenFallback HOF tree *claiming* identical results — these
  * tests compare against the original HOF formulation with EXACT equality
  * (no tolerance), so any divergence in fold order or edge handling fails
  * here rather than as an unexplained oracle hash mismatch.
  */
class ExpressionSpec extends SparkSpec {

  import graft.functions.VectorOps.{cosine, dot}

  test("native tokenizer == filter/split HOF chain") {
    val hof = filter(split(col("text"), " "), w => length(w) > 0)
    val diff = Tables.documents(spark, sf)
      .select(DedupOps.wordsCol(col("text")).as("a"), hof.as("b"))
      .where(not(col("a") <=> col("b")))
    assert(diff.count() === 0L)
  }

  test("WordShingles == array_distinct/transform/sequence HOF chain") {
    val w = DedupOps.wordsCol(col("text"))
    val hof = array_distinct(
      when(size(w) >= 3,
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
            element_at(w, i + 2))))
        .otherwise(array().cast("array<string>")))
    val docs = Tables.documents(spark, sf)
    val diff = docs.select(col("doc_id"), DedupOps.shinglesOf(col("text")).as("a"),
        hof.as("b"))
      .where(not(col("a") <=> col("b")))
    assert(diff.count() === 0L)
    // and the guard: a <3-word doc yields an empty array, not a descent
    import spark.implicits._
    val tiny = Seq("one two", "", "a b c").toDF("text")
    val got = tiny.select(DedupOps.shinglesOf(col("text")).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(got(0).isEmpty && got(1).isEmpty && got(2) === Seq("a b c"))
  }

  test("CosineSim == HOF cosine, exactly") {
    val pts = KMeansOps.points(spark, sf).limit(50)
    val pairs = pts.select(col("id").as("ia"), col("v").as("va"))
      .crossJoin(pts.select(col("id").as("ib"), col("v").as("vb")))
      .where(col("ia") < col("ib"))
    val diff = pairs.select(
        org.apache.spark.sql.graft.CosineSim.column(col("va"), col("vb")).as("a"),
        cosine(col("va"), col("vb")).as("b"))
      .where(col("a") =!= col("b"))
    assert(diff.count() === 0L)
  }

  test("SignBucket == per-plane HOF sign sum, exactly") {
    val planes = SimilarityOps.planes(64, 12, table = 2)
    val hof = planes.zipWithIndex.map { case (p, b) =>
      when(dot(col("v"), typedlit(p)) >= 0, shiftleft(lit(1), b)).otherwise(0)
    }.reduce(_ + _)
    val diff = KMeansOps.points(spark, sf)
      .select(SimilarityOps.bucketCol(col("v"), 64, 12, 2).as("a"), hof.as("b"))
      .where(col("a") =!= col("b"))
    assert(diff.count() === 0L)
  }

  test("MarkerCounts == per-list filter/array_contains HOFs, exactly") {
    import graft.operators.TextOps
    val langs = Seq("en", "es", "de", "fr")
    val w = DedupOps.wordsCol(col("text"))
    val hof = array(langs.map(l =>
      TextOps.markerHitsHof(w, TextOps.stoplistsFor(l))): _*)
    val diff = Tables.documents(spark, sf)
      .select(TextOps.markerCounts(w).as("a"), hof.as("b"))
      .where(not(col("a") <=> col("b")))
    assert(diff.count() === 0L)
    // adversarial edges: duplicates count every occurrence; empty / all-
    // space text yields all-zero counts (never null); null array -> null
    import spark.implicits._
    val edge = Seq("the the the y la", "", "   ", "und el").toDF("text")
    val got = edge.select(TextOps.markerCounts(DedupOps.wordsCol(col("text")))
        .as("mc")).collect().map(_.getSeq[Int](0))
    assert(got(0) === Seq(3, 2, 0, 0)) // 'la' is es; 'y' is es
    assert(got(1) === Seq(0, 0, 0, 0))
    assert(got(2) === Seq(0, 0, 0, 0))
    assert(got(3) === Seq(0, 1, 1, 0)) // 'und' is a German marker, 'el' Spanish
  }

  test("AlphaTokens == HOF rlike filter, exactly (incl. unicode edges)") {
    import org.apache.spark.sql.graft.AlphaTokens
    val w = DedupOps.wordsCol(col("text"))
    val hof = size(filter(w, x => x.rlike("[a-zA-Z]")))
    val diff = Tables.documents(spark, sf)
      .select(AlphaTokens.column(w).as("a"), hof.as("b"))
      .where(not(col("a") <=> col("b")))
    assert(diff.count() === 0L)
    // adversarial edges: multi-byte tokens must NOT hit (their UTF-8
    // bytes are all >= 0x80 — the byte-scan soundness claim), digits and
    // symbols must not hit, mixed tokens hit once per token not per char
    import spark.implicits._
    val edge = Seq("日本語 カタカナ", "123 #!? 4a5 ωμέγα", "abc ABC aBc",
      "", "   ").toDF("text")
    val got = edge
      .select(AlphaTokens.column(DedupOps.wordsCol(col("text"))))
      .collect().map(_.getInt(0))
    assert(got.toSeq === Seq(0, 1, 3, 0, 0))
  }

  test("lang_id pipeline == the HOF langId formulation, exactly") {
    import graft.operators.TextOps
    val w = DedupOps.wordsCol(col("text"))
    def hits(l: String) = TextOps.markerHitsHof(w, TextOps.stoplistsFor(l))
    val (en, es, de, fr) = (hits("en"), hits("es"), hits("de"), hits("fr"))
    val hofLang = when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
    val native = SparkEntry.queries("lang_id")(spark, sf)
    val hof = Tables.documents(spark, sf)
      .select(col("doc_id"), hofLang.as("lang_guess"))
    assert(native.exceptAll(hof).count() === 0L)
    assert(hof.exceptAll(native).count() === 0L)
  }

  test("NearestCenter claims cid=0 for all-NaN distance rows") {
    import spark.implicits._
    val pts = Seq(
      (1L, Seq(0.1, 0.2)),
      (2L, Seq(Double.NaN, 0.5))).toDF("id", "v")
    val centers = Array((0, Array(0.0, 0.0)), (1, Array(1.0, 1.0)))
    val got = pts.select(col("id"),
        org.apache.spark.sql.graft.NearestCenter.struct(col("v"), centers)
          .getField("cid").as("cid"))
      .orderBy("id").collect().map(_.getInt(1))
    assert(got(0) === 0) // nearest real center
    assert(got(1) === 0) // NaN row: deterministic cid 0, never -1
  }

  test("NearestCenter.matrix rejects non-positional cids and mixed dimensions") {
    import org.apache.spark.sql.graft.NearestCenter
    assert(NearestCenter.matrix(Array((0, Array(1.0)), (1, Array(2.0))))
      .map(_.toSeq).toSeq === Seq(Seq(1.0), Seq(2.0)))
    intercept[IllegalArgumentException] {
      NearestCenter.matrix(Array((1, Array(1.0))))
    }
    intercept[IllegalArgumentException] {
      NearestCenter.matrix(Array((0, Array(1.0)), (1, Array(2.0, 3.0))))
    }
    intercept[IllegalArgumentException] { NearestCenter.matrix(Array.empty) }
  }

  test("NearestCenter rejects a point of the wrong dimension on every path") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.graft.NearestCenter
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val centers = Array((0, Array(0.0, 0.0)), (1, Array(10.0, 10.0)))
    // the generated code is one call into the shared kernel, no loop of its own
    val code = NearestCenter(BoundReference(0, ArrayType(DoubleType), nullable = true),
        NearestCenter.matrix(centers), 0)
      .genCode(new CodegenContext).code.toString
    assert(!code.contains("for (") && !code.contains("while ("), code)
    // a Range-backed relation: a local Seq would be folded into a
    // LocalRelation before execution and never reach generated code
    def pts(bad: Seq[Double]) = spark.range(4).select(
      when(col("id") === 2, typedlit(bad))
        .otherwise(array(col("id").cast("double"), lit(1.0))).as("v"))
    def failure(run: => Any): String = {
      val e = intercept[Exception](run)
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: IllegalArgumentException => t }
      assert(iae.isDefined, e)
      iae.get.getMessage
    }
    def checkAll(): Unit = for ((bad, n) <- Seq((Seq(1.0, 1.0, 100.0), 3), (Seq(9.0), 1))) {
      val want = s"point has dimension $n, centers have 2"
      assert(failure(pts(bad).select(
        NearestCenter.struct(col("v"), centers)).collect()) === want)
      assert(failure(graft.operators.KMeansOps.lloydStep(pts(bad), centers))
        === want)
    }
    assert(pts(Seq(9.0)).select(NearestCenter.struct(col("v"), centers))
      .queryExecution.executedPlan.toString.contains("*("),
      "the projection should run inside whole-stage codegen")
    checkAll()
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "NO_CODEGEN")
      checkAll()
    } finally keys.foreach(spark.conf.unset)
  }

  test("NearestCenterSums fold: update, zero merge, nulls, through lloydStep") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graft.NearestCenterSums
    def bits(b: Array[Double]) =
      b.map(java.lang.Double.doubleToLongBits).toSeq
    val centers = Array((0, Array(0.0, 0.0)), (1, Array(10.0, 10.0)))
    val sums = NearestCenterSums(centers.map(_._2), metric = 0)
    def point(v: Array[Double]) =
      if (v == null) null else ArrayData.toArrayData(v)
    val buf = Seq(Array(1.0, 2.0), Array(9.0, 11.0), null, Array(0.5, 0.25),
        Array(5.0, 5.0))
      .foldLeft(sums.zero)((b, v) => sums.update(b, point(v)))
    // cid 0: count 3 (incl. the tie at (5,5) → lower cid), cid 1: count 1;
    // the null vector is skipped and not counted
    assert(buf.toSeq === Seq(3.0, 6.5, 7.25, 1.0, 9.0, 11.0))
    // an empty partition's all-zero buffer is the merge identity
    assert(bits(NearestCenterSums.merge(buf.clone(), sums.zero)) === bits(buf))
    assert(bits(NearestCenterSums.merge(sums.zero, buf)) === bits(buf))
    // a NaN coordinate claims cid 0
    val nan = sums.update(sums.zero, point(Array(Double.NaN, 1.0)))
    assert(nan(0) === 1.0 && nan(3) === 0.0 && nan(1).isNaN)
    intercept[IllegalArgumentException] {
      sums.update(sums.zero, point(Array(1.0, 2.0, 3.0)))
    }
    // through a query: null vectors skipped (counted, they would pull cid
    // 0's mean toward the origin), 3 partition buffers merged
    import spark.implicits._
    val got = graft.operators.KMeansOps.lloydStep(
      Seq(Seq(1.0, 2.0), null, Seq(9.0, 11.0), null, Seq(2.0, 3.0)).toDF("v")
        .repartition(3), centers)
    assert(got.map(_._2.toSeq).toSeq === Seq(Seq(1.5, 2.5), Seq(9.0, 11.0)))
    // a float vector is rejected, not read as doubles
    val floats = Seq(Seq(1.0f, 2.0f)).toDF("v")
    assert(intercept[IllegalArgumentException] {
      graft.operators.KMeansOps.lloydStep(floats, centers)
    }.getMessage === "v must be array<double>, got array<float>")
  }

  test("BpeTokens: hand fold, OOV application, Ġ-mapping, edge shapes") {
    import spark.implicits._
    import org.apache.spark.sql.graft.BpeTokens
    val S1 = graft.operators.TextOps.regexSym(1)
    val S2 = graft.operators.TextOps.regexSym(2)
    // merge table: ab→S1 then S1c→S2 — applied IN RANK ORDER, so "abc"
    // collapses to the single ladder symbol
    val pats = Seq("ab", S1 + "c"); val subs = Seq(S1, S2)
    val rows = Seq(
      (1L, Seq("abc")),                 // ladder: ab→S1, S1c→S2 → 1
      (2L, Seq("abcabc", "ab")),        // 2 + 1 = 3
      (3L, Seq(" ab")),                 // Ġ-mapped BEFORE merging: Ġ+S1 → 2
      (4L, Seq("zq", "xx")),            // OOV tokens: merges still applied
                                        // (no hits) → raw lengths 2+2=4
      (5L, Seq.empty[String]),          // empty pre-token array → 0
      (6L, null.asInstanceOf[Seq[String]])) // null array → null
      .toDF("id", "toks")
    val got = rows.select(col("id"),
        BpeTokens.column(col("toks"), pats, subs).as("n"))
      .orderBy("id").collect()
    assert(got.map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq ===
      Seq(1, 3, 2, 4, 0, -1))
    // and the "space is an ordinary mergeable symbol" semantic: a merge
    // pair CONTAINING Ġ fires on the mapped leading space
    val g = 0x0120.toChar.toString
    val got2 = Seq(Tuple1(Seq(" the"))).toDF("toks")
      .select(BpeTokens.column(col("toks"), Seq(g + "t"), Seq(S1)).as("n"))
      .collect()(0).getInt(0)
    assert(got2 === 3) // Ġthe → S1he
  }

  test("CentroidAgg skips null and empty vectors without poisoning counts") {
    import spark.implicits._
    val rows = Seq(
      (0, Seq(1.0, 3.0)), (0, Seq(3.0, 5.0)),
      (0, null.asInstanceOf[Seq[Double]]), (0, Seq.empty[Double]))
      .toDF("cid", "v")
    val centroid = udaf(graft.functions.CentroidAgg)
    val out = rows.groupBy(col("cid")).agg(centroid(col("v")).as("c"))
      .collect().head.getSeq[Double](1)
    assert(out === Seq(2.0, 4.0)) // mean of the two real vectors only
  }
}
