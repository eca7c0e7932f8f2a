package graft

import graft.ops.Adaptive
import graft.recon.Checkpoints

/** The session-conf set/restore contract of the two planning-time
  * overrides: a lazy `Checkpoints.cut` (AQE off while the cut is planned)
  * and `Adaptive.withShufflePartitions` (shuffle width while the body
  * builds) leave `spark.sql.adaptive.enabled` and
  * `spark.sql.shuffle.partitions` exactly as they found them — the same
  * value, and explicitly set only if they were explicitly set before. */
class ConfRestoreSpec extends SparkSuite {

  private val keys = Seq("spark.sql.adaptive.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> "7")

  private val calls: Seq[(String, () => Unit)] = Seq(
    "Checkpoints.cut (lazy)" -> (() => { Checkpoints.cut(spark.range(0, 10).toDF("id")); () }),
    "Adaptive.withShufflePartitions" -> (() => {
      Adaptive.withShufflePartitions(spark, 3) {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      }
    }),
    "Adaptive.withShufflePartitions, throwing body" -> (() => {
      intercept[IllegalStateException] {
        Adaptive.withShufflePartitions(spark, 3)(throw new IllegalStateException("body failed"))
      }
      ()
    }))

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
