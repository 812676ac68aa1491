package graft

import graft.operators.BucketCap
import org.apache.spark.sql.functions._

/** The shared lowest-id bucket cap on both of its branches, each with
  * a cap that binds: one bucket of 1,200 ids (in scrambled order) and
  * one of 40, capped once at 1,000 (the bounded top-k aggregate) and
  * once at 1,100 (the window). */
class BucketCapSpec extends SparkSpec {
  import spark.implicits._

  // (id * 7919) % 1200 permutes 0..1199; ids stay int so the
  // cast back to the input type is exercised
  private lazy val rows = spark.range(0, 1200)
    .select(((col("id") * 7919) % 1200).cast("int").as("doc_id"),
      lit(0).as("band"), lit(7L).as("bval"))
    .union(spark.range(0, 40).select(col("id").cast("int").as("doc_id"),
      lit(1).as("band"), lit(7L).as("bval")))

  private def keptIds(cap: Int): (Map[Int, Seq[Int]], String, String) = {
    val kept = BucketCap.lowestIds(rows, Seq("band", "bval"), "doc_id", cap)
    val byBand = kept.select($"band", $"doc_id").as[(Int, Int)].collect()
      .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).toSeq.sorted }
    (byBand, kept.schema.simpleString,
      kept.queryExecution.executedPlan.toString)
  }

  private val schema = "struct<doc_id:int,band:int,bval:bigint>"

  test("cap ≤ 1024: the bounded aggregate keeps exactly the cap lowest ids") {
    val (got, sch, plan) = keptIds(1000)
    assert(got(0) == (0 until 1000))
    assert(got(1) == (0 until 40))
    assert(sch == schema)
    assert(plan.contains("bounded_topk") && !plan.contains("Window"), plan)
  }

  test("cap > 1024: the window keeps exactly the cap lowest ids") {
    val (got, sch, plan) = keptIds(1100)
    assert(got(0) == (0 until 1100))
    assert(got(1) == (0 until 40))
    assert(sch == schema)
    assert(plan.contains("Window"), plan)
  }
}
