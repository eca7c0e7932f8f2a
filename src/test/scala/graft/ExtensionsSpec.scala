package graft

import org.apache.spark.sql.functions._
import graft.recon.SkewJoin
import graft.ops.Similarity

class ExtensionsSpec extends SparkSuite {
  import spark.implicits._

  /** Register [[GraftExtensions]]' SQL functions on the shared session —
    * the same builders a `withExtensions` session gets (a session of its
    * own would need its own SparkContext). */
  private def registerGraftFunctions(): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit =
        spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)
    }
    new GraftExtensions().apply(ext)
  }

  test("custom expressions are SQL-callable with implicit input casts") {
    registerGraftFunctions()
    val r = spark.sql(
      "SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(0.5 as float))) AS d, " +
        "hamming64(7, 1) AS h, " +              // int literals -> implicit cast to long
        "simhash64(array('a','b')) AS s").as[(Float, Int, Long)].head()
    assert(r._1 == 4.0f && r._2 == 2 && r._3 != 0L)
    val b = spark.sql(
      "SELECT vec_lsh_bucket(array(cast(1.0 as float), cast(-2.0 as float)), 8) AS b")
      .as[Long].head()
    assert(b >= 0L && b < 256L)
    // a BIGINT width is the same bucket, not a ClassCastException
    assert(spark.sql("SELECT vec_lsh_bucket(array(cast(1.0 as float), " +
      "cast(-2.0 as float)), CAST(8 AS BIGINT)) AS b").as[Long].head() == b)
    // the quantization trio: scale, codes, integer dot — end-to-end in SQL
    val q = spark.sql(
      "WITH v AS (SELECT array(cast(0.5 as float), cast(-1.0 as float)) AS x) " +
        "SELECT vec_maxabs(x) AS ma, vec_quant8(x) AS c, vec_qdot(vec_quant8(x), vec_quant8(x)) AS d FROM v")
      .as[(Float, Seq[Byte], Long)].head()
    assert(q._1 == 1.0f && q._2 == Seq[Byte](64, -127))
    assert(q._3 == 64L * 64L + 127L * 127L)
  }

  test("vec_lsh_bucket kernel is deterministic, h-bit bounded, sign-sensitive") {
    import graft.functions.VectorFunctions.vec_lsh_bucket
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(1.0f, 2.0f, 3.0f)),
      (3L, Array(-1.0f, -2.0f, -3.0f))).toDF("id", "v")
    val out = df.select(col("id"), vec_lsh_bucket(col("v"), 8).as("b"))
      .as[(Long, Long)].collect().toMap
    val again = df.select(col("id"), vec_lsh_bucket(col("v"), 8).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))          // same vector, same bucket
    assert(out == again)                // deterministic across evaluations
    assert(out.values.forall(b => b >= 0L && b < 256L))   // h-bit bounded
    assert(out(1L) != out(3L))          // negated vector lands elsewhere
  }

  test("GraftExtensions injects all native functions without error") {
    // applying to a fresh extensions container exercises every injectFunction
    // (a full withExtensions session would need its own SparkContext, which
    // local tests share — verified here at the injection level instead)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("SizeFilterToExists rewrites the predicate and preserves results") {
    import graft.plans.SizeFilterToExists
    // parquet-backed (a pure local relation would be constant-folded away
    // before the rewrite could be observed)
    val dir = java.nio.file.Files.createTempDirectory("graft_rule").toFile
    Seq(
      (1L, Seq(1, 5, 7)),     // has a match (> 3)
      (2L, Seq(1, 2)),        // no match
      (3L, Seq.empty[Int]),   // empty array
      (4L, null)              // null array
    ).toDF("id", "xs").write.mode("overwrite").parquet(dir.getAbsolutePath)
    val df = spark.read.parquet(dir.getAbsolutePath)
    def q(d: org.apache.spark.sql.DataFrame) =
      d.where(size(filter(col("xs"), x => x > 3)) > 0).select("id")

    val want = q(df).as[Long].collect().toSet
    assert(want == Set(1L))

    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ SizeFilterToExists
    try {
      val rewritten = q(df)
      val plan = rewritten.queryExecution.optimizedPlan
      val exprs = plan.collect { case n => n.expressions }.flatten.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.ArrayExists => e
        case f: org.apache.spark.sql.catalyst.expressions.ArrayFilter => f
      })
      assert(exprs.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.ArrayExists]), s"no exists in: $plan")
      assert(!exprs.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.ArrayFilter]), s"filter survived: $plan")
      assert(rewritten.as[Long].collect().toSet == want)

      // the zero-equality spelling flips to NOT exists (modern semantics)
      val zero = df.where(size(filter(col("xs"), x => x > 3)) === 0).select("id")
      assert(zero.as[Long].collect().toSet ==
        Set(2L, 3L)) // null array stays null → filtered out, like size(null)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SizeFilterToExists)
    }
  }

  test("SizeFilterToExists leaves indexed and non-deterministic lambdas untouched") {
    import graft.plans.SizeFilterToExists
    val dir = java.nio.file.Files.createTempDirectory("graft_rule2").toFile
    Seq((1L, Seq(5, 1, 9)), (2L, Seq(1, 2)), (3L, Seq.empty[Int]))
      .toDF("id", "xs").write.mode("overwrite").parquet(dir.getAbsolutePath)
    val df = spark.read.parquet(dir.getAbsolutePath)

    def countExprs(d: org.apache.spark.sql.DataFrame) = {
      val exprs = d.queryExecution.optimizedPlan
        .collect { case n => n.expressions }.flatten.flatMap(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.ArrayExists => "exists"
          case f: org.apache.spark.sql.catalyst.expressions.ArrayFilter => "filter"
        })
      (exprs.count(_ == "exists"), exprs.count(_ == "filter"))
    }

    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ SizeFilterToExists
    try {
      // (element, index) lambda: ArrayExists would MatchError on a 2-arg
      // function — the rule must not fire, and the query must still run
      val indexed = df.where(
        size(filter(col("xs"), (x, i) => i < 2 && x > 3)) > 0).select("id")
      val (ex1, fl1) = countExprs(indexed)
      assert(ex1 == 0 && fl1 == 1, s"indexed lambda was rewritten ($ex1 exists, $fl1 filter)")
      assert(indexed.as[Long].collect().toSet == Set(1L))

      // non-deterministic predicate: exists short-circuits where filter
      // evaluates all elements — the rule must not fire
      val rnd = df.where(size(filter(col("xs"), x => x > rand() * 0)) > 0).select("id")
      val (_, fl2) = countExprs(rnd)
      assert(fl2 == 1, "non-deterministic lambda was rewritten")

      // sanity: the single-arg deterministic form still rewrites
      val ok = df.where(size(filter(col("xs"), x => x > 3)) > 0).select("id")
      val (ex3, fl3) = countExprs(ok)
      assert(ex3 == 1 && fl3 == 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SizeFilterToExists)
    }
  }

  test("text_token_gate's optimized plan holds ArrayExists, not Size(ArrayFilter)") {
    // the registered query installs SizeFilterToExists on its session,
    // so the production registry — not just this spec — runs the
    // short-circuiting exists form. Assert exactly that.
    val fn = graft.SparkEntry.queries("text_token_gate")
    try {
      val df = fn(spark, "/root/testdata/sf0.001")
      val exprs = df.queryExecution.optimizedPlan
        .collect { case n => n.expressions }.flatten.flatMap(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.ArrayExists => "exists"
          case f: org.apache.spark.sql.catalyst.expressions.ArrayFilter => "filter"
        })
      assert(exprs.contains("exists"), s"no ArrayExists in optimized plan: $exprs")
      assert(!exprs.contains("filter"), s"ArrayFilter survived the rewrite: $exprs")
      assert(df.count() > 0, "gate must keep at least one sf0.001 doc")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.SizeFilterToExists)
    }
  }

  test("portable md5 kernels agree with their SQL-callable forms") {
    registerGraftFunctions()
    // md5-token simhash: SQL call == Column API == python-validated kernel
    val viaSql = spark.sql("SELECT simhash64_md5(array('the','cat')) AS s").as[Long].head()
    val viaCol = Seq(Tuple1(Seq("the", "cat"))).toDF("t")
      .select(graft.functions.TextFunctions.simhash64_md5(col("t"))).as[Long].head()
    assert(viaSql == viaCol && viaSql != 0L)
    // char-window md5 fingerprint: 0 below window width, stable above
    val fp = Seq(Tuple1("abcdefghijklmnopqr"), Tuple1("short")).toDF("text")
      .select(graft.functions.TextFunctions.min_window_md5(col("text"), 16))
      .as[Long].collect()
    assert(fp(0) > 0L && fp(1) == 0L)
    // md5_slots: k 60-bit non-negative values, deterministic
    val slots = Seq(Tuple1("shingle text")).toDF("s")
      .select(graft.functions.TextFunctions.md5_slots(col("s"), 8)).as[Seq[Long]].head()
    assert(slots.size == 8 && slots.forall(v => v >= 0L && v < (1L << 60)))
  }

  test("saltedEquiJoin semi/anti forms match their plain counterparts") {
    val skewed = ((1 to 200).map(i => ("hot", i.toLong)) ++
      (1 to 50).map(i => (s"k$i", 1000L + i))).toDF("key", "row_id")
    val small = Seq(("hot", "H"), ("k1", "A"), ("kZ", "Z")).toDF("key", "tag")
    for (jt <- Seq("left_semi", "left_anti")) {
      val salted = SkewJoin.saltedEquiJoin(skewed, small, Seq("key" -> "key"),
        saltBy = Seq("key", "row_id"), saltFactor = 4, joinType = jt)
        .select("row_id").as[Long].collect().toSet
      val plain = skewed.alias("l").join(small.alias("r"),
        col("l.key") === col("r.key"), jt).select("row_id").as[Long].collect().toSet
      assert(salted == plain, s"joinType=$jt")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedEquiJoin(skewed, small, Seq("key" -> "key"),
        Seq("key"), 4, joinType = "full_outer")
    }
  }

  test("native expressions reject wrong input types at analysis time") {
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1("not an array")).toDF("v")
        .select(graft.functions.VectorFunctions.vec_dot(col("v"), col("v"))).collect()
    }
    assert(err.getMessage.contains("array<float>"))
  }

  test("saltedEquiJoin matches plain join results on skewed data") {
    // 900 rows of one hot key + 100 spread
    val skewed = ((1 to 900).map(i => ("hot", i.toLong)) ++
      (1 to 100).map(i => (s"k$i", i.toLong))).toDF("key", "row_id")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k50", "B"), ("zz", "C")).toDF("k", "tag")
    val plain = skewed.join(small, skewed("key") === small("k"))
      .select("key", "row_id", "tag")
    val salted = SkewJoin.saltedEquiJoin(skewed, small,
      keys = Seq("key" -> "k"), saltBy = Seq("key", "row_id"), saltFactor = 8)
      .select("key", "row_id", "tag")
    assert(rowsOf(salted) == rowsOf(plain))
    assert(salted.count() == 902)
  }

  test("ivfTopK returns ranked neighbors from probed cells only") {
    val vecs = (0L until 100L).map { i =>
      val angle = i.toDouble / 100.0 * math.Pi
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") === 10)
    val top = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nCentroids = 5, modulus = 20, nprobe = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(top.length == 3)
    // nearest angular neighbors of 10 are 9/11
    assert(Set(top(0)._1, top(1)._1).subsetOf(Set(9L, 11L)))
  }
}
