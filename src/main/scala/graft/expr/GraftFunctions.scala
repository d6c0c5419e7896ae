package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase.build

/** The SQL surface of the graft expressions. Spark's
  * `FunctionRegistryBase.build` derives each entry's ExpressionInfo and
  * builder from the class's all-Expression constructor, so a wrong
  * argument count fails as WRONG_NUM_ARGS naming the function.
  *
  * Every entry point that calls one of these by name (`call_function`,
  * SQL) runs `register(spark)` first: Spark 4.1's Expression-to-Column
  * bridges (ExpressionUtils, ExpressionColumnNode) are private[sql], so a
  * graft expression reaches a DataFrame only through the session's
  * function registry.
  */
object GraftFunctions {
  private val entries = Seq(
    build[SolveHomography]("solve_homography", None),
    build[DotF32]("dot_f32", None),
    build[NearestCells]("nearest_cells", None),
    build[WordShingles]("word_shingles", None),
    build[MinHashSig]("minhash_sig", None),
    build[TopKBySim]("topk_by_sim", None),
    build[WinnowFp]("winnow_fp", None),
    build[CharGramDistinct]("chargram_distinct", None),
    build[ArraySumAgg]("array_sum_agg", None),
    build[SimHash64]("simhash64", None),
    build[ClosestPairAgg]("argmax_pair", None),
    build[SimHash32Bits]("simhash32_bits", None),
    build[TokenStats]("token_stats", None),
    build[BpeStats]("bpe_stats", None))

  def register(spark: SparkSession): Unit =
    entries.foreach { case (info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(info.getName), info, builder)
    }
}
