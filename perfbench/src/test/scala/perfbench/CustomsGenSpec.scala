package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{KnowledgeBase, Pipeline}

class CustomsGenSpec extends AnyFunSuite {

  test("a block is a pure function of (seed, block index)") {
    val a = CustomsGen.block(7, 3).map(_.toSeq)
    assert(a.length == CustomsGen.BlockRows)
    assert(a.toSeq == CustomsGen.block(7, 3).map(_.toSeq).toSeq)
    assert(a.toSeq != CustomsGen.block(8, 3).map(_.toSeq).toSeq)
    assert(a.toSeq != CustomsGen.block(7, 4).map(_.toSeq).toSeq)
    assert(a.forall(_.size == CustomsGen.schema.size))
  }

  test("the expected histogram is the block's kept rows, scaled by block count") {
    val one = CustomsGen.expectedHistogram(1)
    assert(one.values.sum == CustomsGen.keptPerBlock)
    assert(CustomsGen.expectedHistogram(5).values.sum == 5 * CustomsGen.keptPerBlock)
    val byRemark = one.groupBy(_._1._1).map { case (r, m) => r -> m.values.sum }
    assert(byRemark(Pipeline.Remark.fully) == 970)
    assert(byRemark(Pipeline.Remark.parts) == 24)
  }

  test("the pipeline reproduces the expected histogram on two blocks") {
    val spark = SparkSession.builder().master("local[2]").appName("CustomsGenSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      val rows = (0 until 2).flatMap(b => CustomsGen.block(11, b))
      val fact = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), CustomsGen.schema)
      val kb = KnowledgeBase.sampleModelKb(spark)
      val rx = KnowledgeBase.sampleRegexKb(spark)
      val rates = KnowledgeBase.sampleRates(spark)
      def hist(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("remark"), col("outliers"), col("`type interval`")).count().collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      assert(hist(Pipeline.run(fact, kb, rx, rates)) == CustomsGen.expectedHistogram(2))
    } finally spark.stop()
  }
}
