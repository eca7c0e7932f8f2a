package graft

import graft.recon.Checkpoints

/** A lazy `Checkpoints.cut` leaves `spark.sql.adaptive.enabled` and
  * `spark.sql.shuffle.partitions` exactly as it found them — the same
  * value, and explicitly set only if they were explicitly set before
  * (the cut plans in a child session; [[CutPlanningSpec]] covers the
  * other cut forms and concurrent cuts). */
class ConfRestoreSpec extends SparkSuite {

  private val keys = Seq("spark.sql.adaptive.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> "7")

  private val calls: Seq[(String, () => Unit)] = Seq(
    "Checkpoints.cut (lazy)" -> (() => { Checkpoints.cut(spark.range(0, 10).toDF("id")); () }))

  /** `(explicit setting, effective value)` of `key`. */
  private def state(key: String): (Option[String], String) =
    (spark.sessionState.conf.getAllConfs.get(key), spark.conf.get(key))

  /** Put `key` into `before` (None = unset), run `call`, return the
    * state before and after; the suite's own setting is restored. */
  private def around(key: String, before: Option[String])(call: () => Unit) = {
    val own = spark.sessionState.conf.getAllConfs.get(key)
    try {
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val pre = state(key)
      call()
      (pre, state(key))
    } finally own.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  for ((name, call) <- calls; (key, value) <- keys; set <- Seq(true, false)) {
    val how = if (set) s"explicitly set to $value" else "unset"
    test(s"$name leaves $key as found when $how") {
      val (pre, post) = around(key, if (set) Some(value) else None)(call)
      assert(pre._1 == (if (set) Some(value) else None))
      assert(post == pre)
    }
  }
}
