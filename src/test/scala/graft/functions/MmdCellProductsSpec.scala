package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

class MmdCellProductsSpec extends SparkSpec {
  import spark.implicits._

  test("mmd_cell_products takes array<float> and rejects array<double> " +
      "at analysis time") {
    val cells = Seq(Seq(0.5f, 0.25f, -1.0f)).toDF("embedding")
      .select(explode(MmdCellProducts(col("embedding"))).as("c"))
      .select(col("c.cell"), col("c.p")).as[(Long, Long)].collect().toMap
    val q = Seq(524288L, 262144L, -1048576L) // floor(x * 2^20)
    val expected = (for (i <- 0 until 3; j <- i until 3)
      yield (i * 65L + (j - i)) -> q(i) * q(j)).toMap
    assert(cells === expected)

    // the kernel reads elements as floats: a double array used to yield
    // garbage cells instead of an error
    val e = intercept[AnalysisException] {
      Seq(Seq(0.5, 0.25)).toDF("embedding")
        .select(MmdCellProducts(col("embedding")))
    }
    assert(e.getMessage.contains(
      "mmd_cell_products needs an array<float> input, got array<double>"),
      e.getMessage)
  }
}
