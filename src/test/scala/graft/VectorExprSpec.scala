package graft

import graft.functions.VectorExpressions
import org.apache.spark.sql.functions._

/** The native QuantizedDotProduct expression: equivalence with the
  * built-in HOF formulation, codegen participation, SQL registration,
  * and null/length-mismatch edges. */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, z) => acc + z)

  test("native dot == HOF dot on the embeddings fixture") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id", VectorExpressions.quantize($"embedding").as("q"))
    val probe = e.filter($"vec_id" === 0).select($"q".as("pq"))
    val both = e.crossJoin(probe).select(
      VectorExpressions.quantizedDot($"pq", $"q").as("native"),
      hofDot($"pq", $"q").as("hof"))
    assert(both.filter($"native" =!= $"hof").isEmpty)
  }

  test("codegen: expression participates in whole-stage codegen") {
    // parquet-backed pre-quantized input: transform() is a
    // HigherOrderFunction (CodegenFallback) that would knock the whole
    // project out of WSCG, and a local relation would be
    // constant-folded — so materialize quantized arrays first, then
    // check the dot-only project compiles into a WSCG stage.
    val dir = java.nio.file.Files.createTempDirectory("quantized").toString + "/q"
    Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id", VectorExpressions.quantize($"embedding").as("q"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(VectorExpressions.quantizedDot($"q", $"q").as("d"))
    assert(df.as[Long].collect().forall(_ > 0L))
    // '*(n)' prefixes mark operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [quantized_dot"), s"plan was:\n$plan")
    val simple = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
      .select(VectorExpressions.quantizedDot($"a", $"b").as("d"))
    assert(simple.as[Long].head() == 32L)
  }

  test("null input → null out; mismatched lengths use min length") {
    val df = Seq(
      (Some(Seq(1L, 2L)), Some(Seq(3L))),
      (None: Option[Seq[Long]], Some(Seq(1L)))
    ).toDF("a", "b")
      .select(VectorExpressions.quantizedDot($"a", $"b").as("d"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(Some(3L), None))
  }

  test("SQL registration: quantized_dot callable from spark.sql") {
    VectorExpressions.register(spark)
    val got = spark.sql("SELECT quantized_dot(array(1L,2L), array(10L,20L))")
      .as[Long].head()
    assert(got == 50L)
  }

  test("rounded cosine of identical vectors is 1.0") {
    val e = VectorExpressions.signatures(
      Tables.embeddings(spark, sf("sf0.001")).limit(5), $"vec_id")
    val cos = e.select(VectorExpressions.cosine($"q", $"q", $"qn", $"qn").as("c"))
      .as[Double].collect()
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-12))
  }
}
