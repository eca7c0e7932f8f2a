package graft

/** Plan-inspection utility: prints the formatted physical plan, the
  * executed plan of each lineage cut the query makes, and a timed count
  * for one named query. Usage:
  *   sbt "runMain graft.Explain <queryName> [sfDir]"  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = LocalSession.fromEnv(8)
    // warm the JVM like Bench does: the first Spark job in a session pays
    // ~3-4 s of classloading/codegen that would otherwise be charged to
    // whichever phase runs the first job (BUILD for queries with
    // in-builder actions like zipWithIndex's partition-size count)
    graft.tools.Warmup.warmJvm(spark)
    // time construction + execution: queries with eager lineage cuts do
    // real work inside the builder fn, so timing count() alone lies
    val t0 = System.nanoTime()
    val (df, cuts) =
      graft.tools.PlanAudit.cutPlans(spark)(SparkEntry.queries(name)(spark, sfDir))
    val tBuild = (System.nanoTime() - t0) / 1e9
    df.explain("formatted")
    for ((plan, i) <- cuts.zipWithIndex) println(s"== Cut ${i + 1}/${cuts.size} ==\n$plan")
    val t1 = System.nanoTime()
    val n = df.count()
    val tRun = (System.nanoTime() - t1) / 1e9
    println(f"QUERY=$name ROWS=$n SECONDS=${tBuild + tRun}%.2f BUILD=$tBuild%.2f RUN=$tRun%.2f")
    spark.stop()
  }
}
