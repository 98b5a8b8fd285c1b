package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.engine.Reductions
import org.apache.spark.sql.types.StringType

/** Native vector expressions ([[graft.functions.DotProduct]] /
  * [[graft.functions.L2Norm]]): value parity against the interpreted
  * higher-order-function formulation, null handling, codegen
  * participation, and SQL registration via extensions. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
    (2L, Array(0.0, 0.0), Array(0.0, 1.0)),
    (3L, Array(1.5, -2.5, 0.25, 8.0), Array(-1.0, 0.5, 2.0, 0.125))
  ).toDF("id", "a", "b")

  test("dot matches the HOF formulation and hand values") {
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val rows = vecs.select(VectorFunctions.dot(col("a"), col("b")).as("d"), hof.as("h"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows(0).getDouble(0) == 32.0)
    assert(rows(1).getDouble(0) == 0.0)
  }

  test("dot truncates to the shorter array like the UDF kernel did") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(10.0, 10.0))).toDF("a", "b")
    assert(df.select(VectorFunctions.dot(col("a"), col("b"))).collect()(0)
      .getDouble(0) == 30.0)
  }

  test("l2norm matches hand values; null input -> null") {
    val got = vecs.select(VectorFunctions.l2norm(col("a")).as("n")).collect()
      .map(_.getDouble(0))
    assert(got(0) == math.sqrt(14.0))
    assert(got(1) == 0.0)
    val withNull = Seq((1L, Some(Array(3.0, 4.0))), (2L, None))
      .toDF("id", "v")
    val r = withNull.select(VectorFunctions.l2norm(col("v"))).orderBy(col("id")).collect()
    assert(r(0).getDouble(0) == 5.0)
    assert(r(1).isNullAt(0))
  }

  test("native expressions stay inside whole-stage codegen") {
    // non-foldable input (range), so the projection can't constant-fold away
    val df = spark.range(100)
      .select(col("id"), array(col("id").cast("double"),
        (col("id") * 2).cast("double")).as("a"))
      .select(VectorFunctions.dot(col("a"), col("a")).as("d"),
        VectorFunctions.l2norm(col("a")).as("n"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // formatted mode marks codegen'd operators with `[codegen id : N]`;
    // the projection carrying graft_dot/graft_l2norm must be inside one
    val projLine = formatted.linesIterator
      .find(l => l.contains("Project") && l.contains("codegen id"))
    assert(projLine.isDefined, formatted)
    assert(!formatted.contains("CodegenFallback"), formatted)
    assert(df.agg(sum("d")).collect()(0).getDouble(0) > 0)
  }

  test("graft_wrap stays inside WholeStageCodegen like the other natives") {
    // spark.range (not a local Seq): ConvertToLocalRelation would fold
    // a literal frame at plan time and leave nothing to codegen
    val df = spark.range(2)
      .select(concat(lit("word"), col("id"), lit(" tail piece")).as("s"))
      .select(graft.engine.StrDt.strWrap(col("s"), 8).as("w"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val projLine = formatted.linesIterator
      .find(l => l.contains("Project") && l.contains("codegen id"))
    assert(projLine.isDefined, formatted)
    assert(!formatted.contains("CodegenFallback"), formatted)
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("word0\ntail\npiece", "word1\ntail\npiece"))
  }

  test("bucket-bin: binary search equals the indicator sum, NaN past last cut, null in null out") {
    import spark.implicits._
    val cuts = Array(1.0, 3.0, 7.0)
    val df = Seq(Some(0.5), Some(1.0), Some(2.0), Some(3.0), Some(3.5),
      Some(9.0), Some(Double.NaN), None).toDF("v")
    val out = df.select(col("v"),
      graft.functions.BucketBin.bucketBin(col("v"), cuts).as("b"),
      (cuts.map(c => when(col("v") > lit(c), 1).otherwise(0)): Seq[org.apache.spark.sql.Column])
        .reduce(_ + _).as("ref")).collect()
    out.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else if (r.getDouble(0).isNaN) assert(r.getInt(1) == cuts.length)
      else assert(r.getInt(1) == r.getInt(2), s"row $r")
    }
    // exact-cut value buckets LEFT (v > cut strict): 1.0 -> 0, 3.0 -> 1
    val m = out.filter(r => !r.isNullAt(0) && !r.getDouble(0).isNaN)
      .map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(m(1.0) == 0 && m(3.0) == 1 && m(3.5) == 2 && m(9.0) == 3)
  }

  test("rolling hash: order-sensitive, matches a hand-rolled mirror") {
    def md5p32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    def mirror(toks: Seq[String]): Long =
      toks.foldLeft(0L)((h, t) => (h * 1000003L + md5p32(t)) % 2147483647L)
    val df = Seq((1L, "hello world hello again"), (2L, "again hello world hello"))
      .toDF("id", "text")
    val got = df.select(col("id"),
      graft.pipeline.TextAnalysis.rollingFingerprint(col("text")).as("rh"))
      .orderBy("id").collect()
    assert(got(0).getLong(1) == mirror(Seq("hello", "world", "hello", "again")))
    assert(got(1).getLong(1) == mirror(Seq("again", "hello", "world", "hello")))
    assert(got(0).getLong(1) != got(1).getLong(1)) // order matters
  }

  test("window hashes: rolled values equal direct polynomial recompute") {
    import graft.functions.WindowHashes
    val df = Seq("abcabcab").toDF("t")
    val out = df.select(WindowHashes(col("t"), 3, 1, WindowHashes.Base1))
      .collect()(0).getSeq[Long](0)
    def direct(s: String): Long =
      s.foldLeft(0L)((h, c) => h * WindowHashes.Base1 + c)
    assert(out == "abcabcab".sliding(3).map(direct).toSeq)
    // equal window content -> equal hash (abc@0==abc@3, bca@1==bca@4)
    assert(out(0) == out(3) && out(1) == out(4) && out(0) != out(1))
    // stride=2 emits every other position's hash
    val s2 = df.select(WindowHashes(col("t"), 3, 2, WindowHashes.Base1))
      .collect()(0).getSeq[Long](0)
    assert(s2 == Seq(out(0), out(2), out(4)))
    // shorter than win -> empty, never null
    val e = Seq("ab").toDF("t")
      .select(WindowHashes(col("t"), 3, 1, WindowHashes.Base1))
      .collect()(0).getSeq[Long](0)
    assert(e.isEmpty)
  }

  test("window hash pairs: fused one-pass emission equals two single-base passes") {
    import graft.functions.{WindowHashes, WindowHashPairs}
    val df = Seq("abcabcabxy", "zz").toDF("t")
    for (stride <- Seq(1, 2)) {
      val fused = df.select(WindowHashPairs(col("t"), 3, stride).as("p"))
        .collect().map(_.getSeq[org.apache.spark.sql.Row](0))
      val h1 = df.select(WindowHashes(col("t"), 3, stride, WindowHashes.Base1))
        .collect().map(_.getSeq[Long](0))
      val h2 = df.select(WindowHashes(col("t"), 3, stride, WindowHashes.Base2))
        .collect().map(_.getSeq[Long](0))
      for (r <- df.collect().indices) {
        assert(fused(r).map(_.getLong(0)) == h1(r))
        assert(fused(r).map(_.getLong(1)) == h2(r))
      }
    }
    // shorter than win -> empty array, never null
    assert(df.filter(col("t") === "zz")
      .select(WindowHashPairs(col("t"), 3, 1))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0).isEmpty)
  }

  test("SQL surface: graft_dot/graft_l2norm usable after register()") {
    VectorFunctions.register(spark)
    vecs.createOrReplaceTempView("fs_vecs")
    val r = spark.sql(
      "SELECT graft_dot(a, b) AS d, graft_l2norm(b) AS n FROM fs_vecs WHERE id = 1")
      .collect()(0)
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == math.sqrt(77.0))
  }

  test("SQL surface: graft_normalize(s, form) after register()") {
    VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_normalize('cafe\u0301', 'NFC') AS c, " +
        "graft_normalize('\ufb01n', 'NFKC') AS k")
      .collect()(0)
    assert(r.getString(0) == "caf\u00e9")
    assert(r.getString(1) == "fin")
  }

  test("NearestCentroid: bit-identical to the struct-min argmin tree " +
    "on ties, NaN, null vectors, short vectors and offsets") {
    import graft.functions.NearestCentroid.nearestCentroid
    import graft.functions.VectorFunctions.sqdist
    val book = Array(
      Array(1.0, 2.0), Array(1.0, 2.0), // exact duplicate -> tie
      Array(0.0, 0.0), Array(-1.0, 5.0))
    val w = 2
    // rows: plain, exact tie with c0/c1, NaN element, null vector,
    // short (1-elem) vector, empty vector, -0.0 vs 0.0 centroid hit
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      Seq(0.9, 2.1, 7.0, 7.0), Seq(1.0, 2.0, 0.0, 0.0),
      Seq(Double.NaN, 2.0, 1.0, 2.0), null,
      Seq(1.0), Seq.empty[java.lang.Double], Seq(-0.0, 0.0, -0.0, 0.0))
    val df = rows.toDF("v").select(col("v").cast("array<double>").as("v"))
    // the r14 formulation this kernel replaced, built inline: struct
    // lexicographic min over (sqdist(slice(v)), index)
    def oldForm(off: Int): org.apache.spark.sql.Column =
      array_min(array(book.zipWithIndex.map { case (cv, c) =>
        struct(sqdist(slice(col("v"), off + 1, w),
          array(cv.map(lit): _*)).as("d"), lit(c).as("c"))
      }: _*)).getField("c")
    for (off <- Seq(0, 2)) {
      val got = df.select(
        nearestCentroid(col("v"), book, off, w).as("nc"),
        oldForm(off).as("old")).collect()
      got.zip(rows).foreach { case (r, in) =>
        val exp = if (r.isNullAt(1)) 0 else r.getInt(1)
        assert(r.getInt(0) == exp,
          s"offset=$off input=$in: kernel ${r.getInt(0)} vs tree $exp")
      }
    }
    // interpreted eval agrees with COMPILED codegen — compiled
    // explicitly via GenerateMutableProjection, which THROWS on a
    // janino error where a DataFrame run would silently fall back to
    // interpreted execution and hide a codegen bug (r15: the first
    // NearestCentroid codegen misparse was invisible to a
    // collect-based comparison for exactly that reason)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val expr = graft.functions.NearestCentroid(
      BoundReference(0, ArrayType(DoubleType), nullable = true), book, 0, w)
    val compiled = GenerateMutableProjection.generate(Seq(expr),
      useSubexprElimination = false)
    rows.foreach { vs =>
      val ad = if (vs == null) null
        else ArrayData.toArrayData(vs.map(Double.unbox).toArray)
      val in = new GenericInternalRow(Array[Any](ad))
      val viaEval = expr.eval(in)
      val viaCodegen = compiled(in).getInt(0)
      assert(viaEval == viaCodegen,
        s"eval/codegen disagree on $vs: $viaEval vs $viaCodegen")
    }
  }

  test("SortableBucket: monotone over the double order, equal values " +
    "(incl. -0.0/0.0 and any NaN payload) share a bucket, null -> null") {
    import graft.functions.SortableBucket
    // scalar form: monotonicity across signs, magnitudes, infinities
    val vals = Seq(Double.NegativeInfinity, -1e300, -2.5, -1.0, -1e-300,
      -0.0, 0.0, 1e-300, 0.5, 1.0, 1.0000001, 2.5, 1e300,
      Double.PositiveInfinity)
    val bks = vals.map(SortableBucket.bucketOf(_, 18))
    bks.sliding(2).foreach { case Seq(a, b) =>
      assert(a <= b, s"bucket order violated: $a > $b in $bks")
    }
    // -0.0 and 0.0 compare equal in Spark and must share a bucket
    assert(SortableBucket.bucketOf(-0.0, 18) ==
      SortableBucket.bucketOf(0.0, 18))
    // NaN buckets greatest regardless of payload bits
    val oddNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000001L)
    assert(SortableBucket.bucketOf(oddNaN, 18) ==
      SortableBucket.bucketOf(Double.NaN, 18))
    assert(SortableBucket.bucketOf(Double.NaN, 18) >
      SortableBucket.bucketOf(Double.PositiveInfinity, 18))
    // codegen path agrees with the scalar form, null propagates
    val df = (vals.map(v => java.lang.Double.valueOf(v)) :+
        null.asInstanceOf[java.lang.Double])
      .toDF("v")
      .select(col("v"),
        SortableBucket.sortableBucket(col("v")).as("b"))
      .collect()
    df.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getInt(1) ==
        SortableBucket.bucketOf(r.getDouble(0), 18),
        s"codegen/eval disagree at ${r.getDouble(0)}")
    }
  }

  test("MidrankLookup: compiled codegen equals interpreted eval on NaN, " +
    "-0.0 next to 0.0, nulls and group keys; a missing value throws") {
    import graft.functions.{MidrankLookup, MidrankTable}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      GenericInternalRow, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.{DoubleType, NullType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val oddNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000001L)
    // group "a": 1.0 x2, -0.0 and 0.0 (one tie group of 3), NaN x2
    // (greatest, any payload); group null: 5.0 alone
    val t = MidrankTable.build(Seq(
      UTF8String.fromString("a") -> Seq(1.0 -> 2L, -0.0 -> 1L, 0.0 -> 2L,
        Double.NaN -> 1L, oddNaN -> 1L),
      (null, Seq(5.0 -> 1L))))
    val bc = spark.sparkContext.broadcast(t)
    val expr = MidrankLookup(BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, StringType, nullable = true), bc)
    // interpreted eval agrees with COMPILED codegen — compiled via
    // GenerateMutableProjection, which throws on a janino error where a
    // DataFrame run would fall back to interpreted execution
    val compiled = GenerateMutableProjection.generate(Seq(expr),
      useSubexprElimination = false)
    def row(v: java.lang.Double, k: String) = new GenericInternalRow(
      Array[Any](v, if (k == null) null else UTF8String.fromString(k)))
    val cases: Seq[(java.lang.Double, String, Option[Double])] = Seq(
      (-0.0, "a", Some(2.0)), (0.0, "a", Some(2.0)), (1.0, "a", Some(4.5)),
      (Double.NaN, "a", Some(6.5)), (oddNaN, "a", Some(6.5)),
      (null, "a", None), (null, "zz", None), (5.0, null, Some(1.0)))
    cases.foreach { case (v, k, want) =>
      val viaEval = Option(expr.eval(row(v, k))).map(_.asInstanceOf[Double])
      val out = compiled(row(v, k))
      val viaCodegen = if (out.isNullAt(0)) None else Some(out.getDouble(0))
      assert(viaEval == want && viaCodegen == want,
        s"($v, $k): eval $viaEval codegen $viaCodegen want $want")
    }
    // a value or key the probe never saw fails loudly on both paths
    Seq[(java.lang.Double, String)]((2.0, "a"), (1.0, "zz"), (5.0, "a"))
      .foreach { case (v, k) =>
        val e1 = intercept[IllegalStateException](expr.eval(row(v, k)))
        val e2 = intercept[IllegalStateException](compiled(row(v, k)))
        assert(e1.getMessage.contains("not in the probed table") &&
          e2.getMessage == e1.getMessage, e1.getMessage)
      }
    // ungrouped form: the key is a NullType null literal
    val u = MidrankLookup(BoundReference(0, DoubleType, nullable = true),
      Literal(null, NullType), spark.sparkContext.broadcast(
        MidrankTable.build(Seq((null, Seq(3.0 -> 1L, 7.0 -> 3L))))))
    val uc = GenerateMutableProjection.generate(Seq(u),
      useSubexprElimination = false)
    Seq(3.0 -> 1.0, 7.0 -> 3.0).foreach { case (v, want) =>
      val in = new GenericInternalRow(Array[Any](v))
      assert(u.eval(in) == want && uc(in).getDouble(0) == want)
    }
    // descending tables accumulate from the greatest value down
    val d = MidrankTable.build(Seq((null, Seq(3.0 -> 1L, 7.0 -> 3L))),
      ascending = false)
    assert(d.midrank(null, 7.0) == 2.0 && d.midrank(null, 3.0) == 4.0)
  }

  test("MidrankLookup in whole-stage codegen: ungrouped and grouped " +
    "frames, empty and one-row inputs, missing value fails the job") {
    import graft.functions.MidrankLookup
    val src = spark.range(12).select(col("id"),
      (col("id") % 3).cast("string").as("k"),
      when(col("id") === 5, lit(null))
        .when(col("id") === 7, lit(Double.NaN))
        .when(col("id") === 8, lit(-0.0))
        .otherwise((col("id") % 4).cast("double")).as("v"))
    val rows = src.collect()
    val valued = rows.filter(!_.isNullAt(2))
    def hist(rs: Array[org.apache.spark.sql.Row]): Seq[(Double, Long)] =
      rs.map(_.getDouble(2)).toSeq
        .groupBy(x => java.lang.Double.valueOf(x)) // NaN-safe equality
        .map { case (x, xs) => (x.doubleValue, xs.size.toLong) }.toSeq
    val ranked = src.select(col("id"),
      MidrankLookup.midrank(spark, col("v"), hist(valued)).as("r"),
      MidrankLookup.midrankBy(spark, col("k"), StringType, col("v"),
        valued.groupBy(_.getString(1)).toSeq.map { case (k, rs) =>
          (k: Any, hist(rs)) }).as("rk"))
    val formatted = ranked.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.linesIterator.exists(l =>
      l.contains("Project") && l.contains("codegen id")), formatted)
    assert(!formatted.contains("CodegenFallback"), formatted)
    // references: the window form (pandas average rank) ungrouped, and
    // a direct count within the group (Spark's order: -0.0 == 0.0,
    // NaN greatest)
    val window = src.select(col("id"), Reductions.rankAvg(col("v")).as("r"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    def cmp(a: Double, b: Double) = java.lang.Double.compare(
      graft.functions.MidrankTable.normValue(a),
      graft.functions.MidrankTable.normValue(b))
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    ranked.collect().foreach { r =>
      val id = r.getLong(0)
      assert(Option(r.get(1)) == window(id),
        s"id $id: kernel ${r.get(1)} vs window ${window(id)}")
      val in = byId(id)
      val wantK =
        if (in.isNullAt(2)) None
        else {
          val x = in.getDouble(2)
          val g = valued.filter(_.getString(1) == in.getString(1))
            .map(_.getDouble(2))
          Some(g.count(cmp(_, x) < 0) + (g.count(cmp(_, x) == 0) + 1) / 2.0)
        }
      assert(Option(r.get(2)) == wantK,
        s"id $id: grouped kernel ${r.get(2)} vs $wantK")
    }
    // empty and one-row frames
    assert(spark.range(0).select(MidrankLookup.midrank(spark,
      col("id").cast("double"), Nil)).collect().isEmpty)
    assert(spark.range(1).select(MidrankLookup.midrank(spark,
      col("id").cast("double"), Seq(0.0 -> 1L))).collect()
      .map(_.getDouble(0)).toSeq == Seq(1.0))
    // a value outside the table fails the job instead of ranking null
    val e = intercept[Exception](spark.range(3).select(MidrankLookup
      .midrank(spark, col("id").cast("double"), Seq(0.0 -> 1L, 1.0 -> 1L)))
      .collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(
        _.contains("not in the probed table"))), e.toString)
  }
}
