package graft.functions

import graft.functions.expressions.{CosineSimilarity, DotProduct, HyperplaneBucket, VecNorm}
import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL-surface registration: expose the engine's functions to
  * `spark.sql(...)` users. Native expressions register through the
  * session function registry (planned + codegen'd like built-ins); the
  * remaining deterministic Scala functions register as named UDFs.
  */
object Registry {

  /** Column-API handle for the native cosine expression (Spark 4 Column
    * API split: classic conversions bridge Column <-> Expression).
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API handle for the native dot-product expression. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API handle for the native vector-norm expression. */
  def vecNorm(v: Column): Column =
    ColumnBridge.column(VecNorm(ColumnBridge.expression(v)))

  /** Column-API handle for the native hyperplane-LSH bucket expression. */
  def hyperplaneBucket(v: Column, planes: Int, seed: Long, dim: Int): Column =
    ColumnBridge.column(HyperplaneBucket(
      ColumnBridge.expression(v), planes, seed, dim))

  /** SQL builder for a fixed-arity native expression: a call with the
    * wrong argument count fails analysis the way Spark's built-ins do
    * (WRONG_NUM_ARGS, naming the function and the expected count).
    */
  private def nary(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs =>
      if (exprs.size == n) build(exprs)
      else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> n.toString,
        "actualNum" -> exprs.size.toString,
        "docroot" -> org.apache.spark.SPARK_DOC_ROOT))

  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("cosine_similarity",
      nary("cosine_similarity", 2)(e => CosineSimilarity(e(0), e(1))), "built-in")
    registry.createOrReplaceTempFunction("vec_dot",
      nary("vec_dot", 2)(e => DotProduct(e(0), e(1))), "built-in")
    registry.createOrReplaceTempFunction("vec_norm",
      nary("vec_norm", 1)(e => VecNorm(e(0))), "built-in")

    // both wrap the Fns kernels so SQL and Column surfaces cannot drift
    // (they HAD drifted: the SQL rolling hash skipped the normalization
    // the Column API applies, giving different fingerprints for the same
    // input through the two surfaces)
    spark.udf.register("graft_hmac_sha256",
      (key: String, s: String) => Fns.hmacSha256Raw(key, s))

    spark.udf.register("graft_rolling_hash",
      (s: String) => Fns.rollingHashRaw(s))
  }
}
