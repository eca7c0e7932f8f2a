package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), the
  * [[LocalSession]] policy at a small shuffle fan-out to keep unit tests
  * fast. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession(4)

  def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toSet

  val sf = "/root/testdata/sf0.001"
}
