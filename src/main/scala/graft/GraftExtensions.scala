package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/**
 * SparkSessionExtensions entry point: registers the engine's native
 * Catalyst expressions as SQL functions, so any session built with
 * `withExtensions(new GraftExtensions)` (or with
 * `spark.sql.extensions=graft.GraftExtensions`) can call `vec_dot`, `vec_cosine`, `vec_lsh_bucket`, `simhash64`,
 * `hamming64`, `min_window_hash` from SQL as first-class, codegen'd
 * functions.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // the multi-arg ExpressionInfo constructors are deprecated/validating,
  // so register with the minimal (class, db, name) form; the call sites'
  // usage strings stay as in-place documentation even though DESCRIBE
  // FUNCTION cannot surface them
  private def info(name: String, @annotation.unused usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: size(filter(a,f)) > 0 → exists(a,f) — drops a
    // per-row array materialization from predicate-shaped plans
    ext.injectOptimizerRule(_ => graft.plans.SizeFilterToExists)
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - float32 dot product of two float arrays"),
      (es: Seq[Expression]) => FloatVecDot(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - float32 cosine similarity"),
      (es: Seq[Expression]) => FloatVecCosine(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("vec_lsh_bucket"),
      info("vec_lsh_bucket", "vec_lsh_bucket(v, h) - h-bit sign-random-projection LSH bucket"),
      (es: Seq[Expression]) => FloatVecLshBucket(es.head, IntArg.of(es(1)))))
    ext.injectFunction((FunctionIdentifier("vec_maxabs"),
      info("vec_maxabs", "vec_maxabs(v) - max absolute component (int8 quantization scale)"),
      (es: Seq[Expression]) => FloatVecMaxAbs(es.head)))
    ext.injectFunction((FunctionIdentifier("vec_quant8"),
      info("vec_quant8", "vec_quant8(v) - symmetric int8 quantization to array<tinyint>"),
      (es: Seq[Expression]) => FloatVecQuant8(es.head)))
    ext.injectFunction((FunctionIdentifier("vec_qdot"),
      info("vec_qdot", "vec_qdot(a, b) - exact integer dot of two int8-quantized vectors"),
      (es: Seq[Expression]) => ByteVecDot(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("simhash64_md5"),
      info("simhash64_md5", "simhash64_md5(tokens) - oracle-portable md5-token SimHash"),
      (es: Seq[Expression]) => SimHash64(es.head, portable = true)))
    ext.injectFunction((FunctionIdentifier("hamming64"),
      info("hamming64", "hamming64(a, b) - Hamming distance of two int64 signatures"),
      (es: Seq[Expression]) => HammingDistance64(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("min_window_hash"),
      info("min_window_hash", "min_window_hash(text, w) - min sliding-window xxhash64 fingerprint"),
      (es: Seq[Expression]) => MinWindowHash(es.head, IntArg.of(es(1)))))
    ext.injectFunction((FunctionIdentifier("min_window_md5"),
      info("min_window_md5", "min_window_md5(text, w) - min sliding char-window md5 fingerprint"),
      (es: Seq[Expression]) => MinWindowMd5(es.head, IntArg.of(es(1)))))
  }
}
