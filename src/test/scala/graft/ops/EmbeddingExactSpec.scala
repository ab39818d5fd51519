package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The fused all-pairs cosine scan must be BIT-identical to the join
  * formulation it replaced (same kernel fold, same NULL/NaN/zero-norm
  * drops), on every degenerate row shape the kernel contract names. */
class EmbeddingExactSpec extends SparkSpec {

  private def joinForm(df: org.apache.spark.sql.DataFrame, t: Double) = {
    val v = df.select(col("vec_id").as("id"), col("embedding").as("v"))
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(!isnan(col("cosine")) && col("cosine") >= t)
  }

  test("fused all-pairs scan == join formulation on degenerate inputs") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val rows = Seq(
      Row(1L, Seq(1.0f, 2.0f, 3.0f)),
      Row(2L, Seq(1.0f, 2.0f, 3.0f)),          // exact dup of 1
      Row(3L, Seq(-1.0f, -2.0f, -3.0f)),       // anti-parallel
      Row(4L, Seq(0.0f, 0.0f, 0.0f)),          // zero norm -> NULL -> dropped
      Row(5L, null),                           // null vector -> dropped
      Row(6L, Seq(1.0f, null, 3.0f)),          // null element -> dropped
      Row(7L, Seq(1.0f, 2.0f)),                // length mismatch vs others
      Row(8L, Seq(Float.NaN, 1.0f, 2.0f)),     // NaN poisons -> dropped
      Row(null, Seq(1.0f, 2.0f, 3.0f)),        // null id -> no pairs
      Row(9L, Seq(2.0f, 4.0f, 6.0f)))          // parallel to 1/2
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    for (t <- Seq(-2.0, 0.0, 0.5, 0.9999999)) {
      val fused = Dedup.embeddingNearDupsExact(df, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val joined = joinForm(df, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(fused == joined, s"threshold $t: $fused != $joined")
    }
    // and on the real fixture shape (documents-scale corpus via range)
    val big = spark.range(300).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        i => (pmod(xxhash64(col("id"), i), lit(97)) / lit(48.5) - 1.0).cast(FloatType))
        .as("embedding"))
    val f2 = Dedup.embeddingNearDupsExact(big, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val j2 = joinForm(big, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(f2 == j2 && f2.nonEmpty)
  }

  test("past the all-pairs bound the exact scan takes the join formulation; " +
    "the bound counts the LONGEST vector, output unchanged") {
    // the lowest id carries a 1-element vector: sizing from the first row
    // would count 300 cells, the longest vector makes it 300 × 16
    val corpus = spark.range(300).select(col("id").as("vec_id"),
      transform(sequence(lit(1), when(col("id") === 0, lit(1)).otherwise(lit(16))),
        i => (pmod(xxhash64(col("id"), i), lit(97)) / lit(48.5) - 1.0).cast(FloatType))
        .as("embedding"))
    def joins(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val local = Dedup.exactPairs(corpus, 0.4, "embedding", "vec_id")
    val over = Dedup.exactPairs(corpus, 0.4, "embedding", "vec_id", maxCells = 300L * 8)
    assert(!joins(local), "within the bound: the fused local scan")
    assert(joins(over), "past the bound: the join formulation, not a throw")
    val expected = pairs(local)
    assert(expected.nonEmpty && pairs(over) == expected)
  }
}
