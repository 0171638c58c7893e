package graft

import graft.functions.{Fns, Registry}
import org.apache.spark.sql.functions._

/** Native Catalyst expression coverage: value parity with the interpreted
  * formulation, SQL registration, and codegen (no UDF boundary in the
  * plan).
  */
class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 1.0f), Array(1.0f, 1.0f, 0.0f)),
    (2L, Array(0.5f, -0.25f, 2.0f), Array(-1.0f, 0.75f, 0.125f)),
    (3L, Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f))).toDF("id", "a", "b")

  test("native cosine_similarity matches the aggregate/zip_with formulation") {
    val native = vecs.select(col("id"), Fns.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val interpreted = vecs.select(col("id"),
      (Fns.dot(col("a"), col("b")) / (Fns.l2norm(col("a")) * Fns.l2norm(col("b")))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // bit-identical: same summation order, both double
    assert(native === interpreted)
    assert(math.abs(native(3L) - 1.0) < 1e-12)
  }

  test("cosine_similarity registers for SQL and survives codegen") {
    Registry.registerAll(spark)
    vecs.createOrReplaceTempView("vecs")
    val viaSql = spark.sql(
      "SELECT id, cosine_similarity(a, b) AS c FROM vecs ORDER BY id")
      .collect().map(_.getDouble(1))
    val viaCol = vecs.orderBy("id")
      .select(Fns.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(viaSql.toSeq === viaCol.toSeq)
    // the plan must contain the expression inline, not a UDF boundary
    val plan = vecs.select(Fns.cosine(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosine_similarity"))
    assert(!plan.contains("ScalaUDF"))
  }

  test("null array yields null; type mismatch fails analysis") {
    val withNull = Seq((1L, Array(1.0f), Option.empty[Array[Float]]))
      .toDF("id", "a", "b")
    val r = withNull.select(Fns.cosine(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
    val bad = Seq((1L, "x")).toDF("id", "s")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(Fns.cosine(col("s"), col("s"))).collect()
    }
  }

  test("wrong-arity SQL calls fail analysis naming the function and its arity") {
    Registry.registerAll(spark)
    vecs.createOrReplaceTempView("vecs")
    Seq(
      "cosine_similarity(a)" -> ("`cosine_similarity`", 2),
      "vec_dot(a, b, a)" -> ("`vec_dot`", 2),
      "vec_norm()" -> ("`vec_norm`", 1)).foreach { case (call, (name, n)) =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call FROM vecs").collect()
      }
      assert(e.getMessage.contains(name) &&
        e.getMessage.contains(s"requires $n parameters"), e.getMessage)
    }
  }

  test("registered UDFs: hmac + rolling hash usable from SQL") {
    Registry.registerAll(spark)
    val out = spark.sql(
      "SELECT graft_hmac_sha256('k', 'payload') AS h, graft_rolling_hash('abc') AS r")
      .head()
    assert(out.getString(0).nonEmpty)
    assert(out.getLong(1) != 0L)
  }
}
