package graft.tools

import graft.LocalSession

/** Paired A/B timing of session-conf overrides on named registry queries.
  *
  * The shared host's load bands make unpaired sittings incomparable, so
  * each rep times the BASELINE arm and the OVERRIDE arm back to back in
  * one session (confs set via `spark.conf.set`, restored after) — load
  * noise hits both arms alike and the per-rep ratio stays meaningful.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.ConfAB <sfDir> \
  *     "k=v;k=v" <q1,q2,...> [reps]'
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val overrides = args(1).split(";").map(_.trim).filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 3) args(3).toInt else 3
    val spark = LocalSession.fromEnv(32)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in registry: ${unknown.mkString(", ")}")
    Warmup.warmJvm(spark)
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      s
    }
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    def setArm(on: Boolean): Unit =
      if (on) overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      else saved.foreach { case (k, ov) =>
        ov.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val acc = scala.collection.mutable.Map[String, (List[Double], List[Double])]()
      .withDefaultValue((Nil, Nil))
    for (r <- 1 to reps; name <- names) {
      // alternate which arm goes first so warm-cache order bias cancels
      val baseFirst = r % 2 == 1
      def runBase(): Double = { setArm(false); once(name) }
      def runOver(): Double = { setArm(true); val s = once(name); setArm(false); s }
      val (b, o) = if (baseFirst) (runBase(), runOver())
                   else { val o0 = runOver(); (runBase(), o0) }
      val (bs, os) = acc(name)
      acc(name) = (b :: bs, o :: os)
      println(f"AB rep=$r $name%-32s base=$b%6.2f over=$o%6.2f ratio=${o / b}%5.2f")
    }
    println("== summary (min per arm) ==")
    names.foreach { n =>
      val (bs, os) = acc(n)
      println(f"AB MIN $n%-32s base=${bs.min}%6.2f over=${os.min}%6.2f " +
        f"ratio=${os.min / bs.min}%5.2f")
    }
    spark.stop()
  }
}
