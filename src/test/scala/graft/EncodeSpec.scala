package graft

import org.apache.spark.sql.functions.col
import graft.ops.Encode

class EncodeSpec extends SparkSuite {
  import spark.implicits._

  test("dictionary assigns dense value-ordered codes; nulls stay unencoded") {
    val df = Seq(Some("banana"), Some("apple"), Some("cherry"), Some("apple"), None)
      .toDF("fruit")
    val dict = Encode.dictionary(df, "fruit")
      .as[(Long, String)].collect().toSet
    assert(dict == Set((0L, "apple"), (1L, "banana"), (2L, "cherry")))

    val enc = Encode.dictionaryEncode(df, "fruit", Encode.dictionary(df, "fruit"))
      .select("fruit", "fruit_code").as[(Option[String], Option[Long])]
      .collect().toSet
    assert(enc == Set(
      (Some("apple"), Some(0L)), (Some("banana"), Some(1L)),
      (Some("cherry"), Some(2L)), (None, None)))
  }

  test("codes are order-preserving and stable under repartition") {
    val vals = (0 until 500).map(i => f"v$i%03d")
    val df = vals.toDF("s").repartition(7)
    val dict = Encode.dictionary(df, "s").as[(Long, String)].collect().sortBy(_._1)
    assert(dict.map(_._2).toSeq == vals.sorted)
    assert(dict.map(_._1).toSeq == (0L until 500L))
  }
}
