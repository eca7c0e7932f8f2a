package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.recon._

/** A non-`file://` Hadoop FileSystem scheme backed by the local disk —
  * the offline stand-in for `s3a://` (hadoop-aws is not on this
  * classpath): registered via `fs.graftfs.impl` exactly as S3A is via
  * `fs.s3a.impl`, so a read through it proves the CSV scan path (S4,
  * reference: second_conciliate.py:254-279) carries the scheme through
  * Hadoop's FileSystem SPI with no `file://` assumptions anywhere. */
class GraftTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

class SourcesSinksSpec extends SparkSuite {
  import spark.implicits._

  private val conf = ReconConfig(
    keys = Seq(KeyPair("ext_amount", "amount"), KeyPair("ext_code", "code")),
    types = FieldTypes(doubleFields = Set("amount")))

  test("csvAllString reads every column as string, prepareExternal casts keys") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "ext.csv")
    val w = new java.io.PrintWriter(f)
    w.println("code,amount,name")
    w.println("c1,10.50,foo")
    w.println("c2,20.00,bar")
    w.close()

    val raw = Sources.csvAllString(spark, f.getAbsolutePath)
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"))

    val prepped = Sources.prepareExternal(raw, conf)
    assert(prepped.columns.toSet ==
      Set("ext_code", "ext_amount", "ext_name", "file_row_number", "exd_code", "exd_amount"))
    assert(prepped.schema("ext_amount").dataType.typeName == "double")
    // provenance index is 1-based and follows file order
    assert(prepped.orderBy("file_row_number")
      .select("ext_code", "file_row_number").as[(String, Long)].collect().toSeq ==
      Seq(("c1", 1L), ("c2", 2L)))
    // shadow copies carry the cast values
    assert(prepped.where(col("exd_amount") === 10.5).count() == 1)
  }

  test("S4: csvAllString is scheme-agnostic — reads through a registered non-file:// FileSystem") {
    // the same SPI wiring a production job uses for s3a:// (fs.s3a.impl =
    // S3AFileSystem + credentials provider); here the scheme is graftfs://
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    val dir = Files.createTempDirectory("graft_scheme").toFile
    val f = new java.io.File(dir, "ext.csv")
    val w = new java.io.PrintWriter(f)
    w.println("code,amount,name")
    w.println("c1,10.50,foo")
    w.println("c2,0042,bar") // leading zeros must survive (all-string read)
    w.close()

    val viaScheme = Sources.csvAllString(spark, s"graftfs://${f.getAbsolutePath}")
    assert(viaScheme.schema.fields.forall(_.dataType.typeName == "string"))
    val viaFile = Sources.csvAllString(spark, f.getAbsolutePath)
    assert(rowsOf(viaScheme) == rowsOf(viaFile),
      "scheme read must equal the local read byte-for-byte")
    assert(viaScheme.where(col("amount") === "0042").count() == 1)

    // the FULL S4 pipeline (scan -> provenance index -> casts -> prefixes)
    // runs over the foreign scheme unchanged
    val prepped = Sources.prepareExternal(viaScheme, conf)
    assert(prepped.columns.toSet ==
      Set("ext_code", "ext_amount", "ext_name", "file_row_number", "exd_code", "exd_amount"))
    assert(prepped.orderBy("file_row_number")
      .select("ext_code", "file_row_number").as[(String, Long)].collect().toSeq ==
      Seq(("c1", 1L), ("c2", 2L)))
  }

  test("withRowIndex is exact and dense across partitions") {
    val df = spark.range(0, 1000).repartition(7).toDF("v")
    val idx = Sources.withRowIndex(df, "rn")
    assert(idx.count() == 1000)
    assert(idx.agg(min(col("rn")), max(col("rn")), countDistinct(col("rn")))
      .as[(Long, Long, Long)].head() == ((1L, 1000L, 1000L)))
  }

  test("withRowIndexRanged equals row_number over the order keys") {
    // regression for the in-plan rewrite's branch-divergence bug: the
    // counts branch and the stamping branch each re-executed the
    // repartitionByRange exchange, whose RangePartitioner re-samples
    // boundaries per execution (seeded from the RDD id) — offsets from
    // one layout stamped onto another interleaved the indexes. The lazy
    // cut inside withRowIndex pins ONE layout; this pins the behavior.
    val df = spark.range(0, 2000).select(
      pmod(col("id") * 7919, lit(2000)).as("key")) // scrambled, unique keys
      .repartition(11)
    val got = Sources.withRowIndexRanged(df, "rn", Seq(col("key")))
      .select(col("key"), col("rn"))
    // rn must be exactly 1 + rank of key (keys are 0..1999, unique)
    assert(got.where(col("rn") =!= col("key") + 1).count() == 0)
  }

  test("remanentLookup semi-joins ids back to the ledger") {
    val tx = Seq(("a1", 1), ("a2", 2), ("a3", 3)).toDF("_id", "v")
    val rem = Seq("a2", "a3", "a3", "zz").toDF("_id")
    val out = Sources.remanentLookup(rem, tx, "_id")
    assert(out.select("_id").as[String].collect().toSet == Set("a2", "a3"))
  }

  test("concatPreferFirst keeps the current-batch row on id conflict") {
    val cur = Seq(("a1", "cur"), ("a2", "cur")).toDF("_id", "src")
    val rem = Seq(("a2", "rem"), ("a3", "rem")).toDF("_id", "src")
    val out = Sources.concatPreferFirst(cur, rem, "_id")
    assert(out.as[(String, String)].collect().toSet ==
      Set(("a1", "cur"), ("a2", "cur"), ("a3", "rem")))
  }

  test("upsert: overwrite replaces, keepExisting preserves") {
    val existing = Seq(("a1", "old"), ("a2", "old")).toDF("_id", "v")
    val incoming = Seq(("a2", "new"), ("a3", "new")).toDF("_id", "v")
    assert(rowsOf(Sinks.upsert(existing, incoming, "_id", overwrite = true)) ==
      rowsOf(Seq(("a1", "old"), ("a2", "new"), ("a3", "new")).toDF("_id", "v")))
    assert(rowsOf(Sinks.upsert(existing, incoming, "_id", overwrite = false)) ==
      rowsOf(Seq(("a1", "old"), ("a2", "old"), ("a3", "new")).toDF("_id", "v")))
  }

  test("writeCsv emits a single headered file that round-trips") {
    val dir = Files.createTempDirectory("graft_sink").toFile
    val out = new java.io.File(dir, "res").getAbsolutePath
    val df = Seq(("a1", 1.5), ("a2", 2.5)).toDF("_id", "amt")
    Sinks.writeCsv(df, out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 2 && back.columns.toSeq == Seq("_id", "amt"))
  }

  test("orc round-trips schema, types, unicode, and nulls") {
    val dir = Files.createTempDirectory("graft_orc").toFile
    val out = new java.io.File(dir, "orc").getAbsolutePath
    val df = Seq(
      (1L, Some("héllo ✓"), Some(1.5), Some(java.sql.Timestamp.valueOf("2024-05-01 12:00:00"))),
      (2L, None, None, None))
      .toDF("id", "s", "v", "ts")
    Sinks.writeOrc(df, out)
    val back = Sources.readOrc(spark, out)
    // file scans report every column nullable; names and types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(rowsOf(back) == rowsOf(df))
    // and predicates push into the stripe reader, like parquet row groups
    val pushed = back.where(col("id") === 1L).queryExecution.executedPlan
      .toString
    assert(pushed.contains("PushedFilters: [IsNotNull(id), EqualTo(id,1)"), pushed)
  }

  test("writeRangePartitioned produces ts-range-aligned files") {
    val dir = Files.createTempDirectory("graft_sink2").toFile
    val out = new java.io.File(dir, "parts").getAbsolutePath
    val df = spark.range(0, 1000).toDF("ts")
    Sinks.writeRangePartitioned(df, out, "ts", numRanges = 4)
    val back = spark.read.parquet(out)
    assert(back.count() == 1000)
    // each output file covers a disjoint ts range
    val perFile = back.select(input_file_name().as("f"), col("ts"))
      .groupBy("f").agg(min("ts").as("lo"), max("ts").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(perFile.length == 4)
    assert(perFile.sliding(2).forall { case Array(a, b) => a._3 < b._2; case _ => true })
  }

  test("jsonl round-trips types, unicode, and nulls under the writer's schema") {
    val out = Files.createTempDirectory("graft_jsonl").toFile.getAbsolutePath
    val df = Seq(
      (1L, Some("plain words"), 3.5d),
      (2L, Some("unicode \u00e9\u00df\u4e2d \"quoted\" \\slash\t tab"), -0.0d),
      (3L, None: Option[String], 1e300)
    ).toDF("id", "s", "v")
    Sinks.writeJsonl(df, out)
    val back = Sources.readJsonl(spark, out, df.schema)
    // the JSON source relaxes every field to nullable (it cannot prove
    // otherwise); names and types must carry through exactly
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)), "explicit schema must carry through")
    assert(rowsOf(back) == rowsOf(df))
  }

  test("summary sums are decimal-exact") {
    val m = Seq(("a1", 0.1), ("a2", 0.2), ("a3", 0.3)).toDF("_id", "amt")
    val empty = m.limit(0)
    val s = Sinks.summary(m, empty, empty, "amt", "amt", "_id", "_id")
      .select("conciliated_amount", "conciliated_count").as[(Double, Long)].head()
    assert(s == ((0.6d, 3L))) // 0.1+0.2+0.3 in raw double would be 0.6000000000000001
  }

  test("Checkpoints.cut switches to reliable checkpoints when the dir conf is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    val df = spark.range(0, 100).toDF("id")
    try {
      spark.conf.set(graft.recon.Checkpoints.DirConf, dir.getAbsolutePath)
      val cut = graft.recon.Checkpoints.cut(df)
      assert(cut.select("id").as[Long].collect().toSet == (0L until 100L).toSet)
      // reliable checkpoint data landed under the configured directory
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(dir).nonEmpty, "expected checkpoint files under the configured dir")
    } finally {
      spark.conf.unset(graft.recon.Checkpoints.DirConf)
    }
  }

  test("Checkpoints.cut moves to a newly configured dir that is a string prefix of the installed one") {
    // the installed dir is `file:/…/ck2/<uuid>`; `/…/ck` is a prefix of
    // that string but a different directory — later cuts must land there
    val root = Files.createTempDirectory("graft_ckdirs").toFile
    val (ck2, ck) = (new java.io.File(root, "ck2"), new java.io.File(root, "ck"))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f).filter(_.isFile)
    try {
      Seq(ck2, ck).foreach { dir =>
        spark.conf.set(Checkpoints.DirConf, dir.getAbsolutePath)
        assert(Checkpoints.cut(spark.range(0, 10).toDF("id")).count() == 10L)
      }
      assert(files(ck2).nonEmpty, "expected checkpoint files under ck2")
      assert(files(ck).nonEmpty, "cuts kept writing under ck2 after the dir moved to ck")
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
    }
  }
}
