package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions as SQL
  * functions, so `spark.sql("... graft_cosine(a, b) ...")` works anywhere
  * the DataFrame wrappers do. Install with
  * `.config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")`
  * or programmatically via `SparkSession.builder.withExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Resolve a literal-int function parameter at registration time with a
    * proper analysis error instead of the unbound-reference / NPE / CCE a
    * raw `eval().asInstanceOf` produces on a column reference or NULL:
    * non-foldable args fail with NON_FOLDABLE_ARGUMENT, NULL literals with
    * INVALID_PARAMETER_VALUE.NULL, non-integral literals with
    * INVALID_PARAMETER_VALUE.INTEGER — each naming the function and
    * parameter.
    */
  private def literalInt(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable) {
      throw new org.apache.spark.sql.AnalysisException(
        "NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
    }
    e.eval() match {
      case n: Number => n.intValue()
      case null =>
        throw new org.apache.spark.sql.AnalysisException(
          "INVALID_PARAMETER_VALUE.NULL",
          Map("parameter" -> s"`$param`", "functionName" -> s"`$fn`"))
      case other =>
        throw new org.apache.spark.sql.AnalysisException(
          "INVALID_PARAMETER_VALUE.INTEGER",
          Map("parameter" -> s"`$param`", "functionName" -> s"`$fn`",
            "invalidValue" -> other.toString))
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        FunctionIdentifier("graft_cosine"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
        (children: Seq[Expression]) => {
          require(children.length == 2, "graft_cosine expects exactly 2 arguments")
          CosineSimilarity(children.head, children(1))
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_minhash_sig"),
        new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_sig"),
        (children: Seq[Expression]) => {
          require(children.length == 1 || children.length == 3,
            "graft_minhash_sig expects (text) or (text, n, k)")
          if (children.length == 1) MinHashSignature(children.head, 5, 128)
          else {
            val n = literalInt("graft_minhash_sig", "n", children(1))
            val k = literalInt("graft_minhash_sig", "k", children(2))
            MinHashSignature(children.head, n, k)
          }
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_simhash60"),
        new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash60"),
        (children: Seq[Expression]) => {
          require(children.length == 1 || children.length == 2,
            "graft_simhash60 expects (text) or (text, n)")
          val n = if (children.length == 2)
            literalInt("graft_simhash60", "n", children(1)) else 5
          SimHash60(children.head, n)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_gram_codes"),
        new ExpressionInfo(classOf[SortedGramCodes].getName, "graft_gram_codes"),
        (children: Seq[Expression]) => {
          require(children.length == 1 || children.length == 2,
            "graft_gram_codes expects (text) or (text, n)")
          val n = if (children.length == 2)
            literalInt("graft_gram_codes", "n", children(1)) else 5
          SortedGramCodes(children.head, n)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bitmap"),
        new ExpressionInfo(classOf[LongBitmap].getName, "graft_bitmap"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_bitmap expects exactly 1 argument")
          LongBitmap(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bitmap_or_count"),
        new ExpressionInfo(classOf[BitmapOrCardinality].getName, "graft_bitmap_or_count"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_bitmap_or_count expects exactly 1 argument")
          BitmapOrCardinality(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_byte_stats"),
        new ExpressionInfo(classOf[ByteStats].getName, "graft_byte_stats"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_byte_stats expects exactly 1 argument")
          ByteStats(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_byte_histogram"),
        new ExpressionInfo(classOf[ByteHistogram].getName, "graft_byte_histogram"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_byte_histogram expects exactly 1 argument")
          ByteHistogram(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_block_avg_hash"),
        new ExpressionInfo(classOf[BlockAvgHash60].getName, "graft_block_avg_hash"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_block_avg_hash expects exactly 1 argument")
          BlockAvgHash60(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_winnow_codes"),
        new ExpressionInfo(classOf[WinnowCodes].getName, "graft_winnow_codes"),
        (children: Seq[Expression]) => {
          require(children.length == 1 || children.length == 3,
            "graft_winnow_codes expects (text) or (text, k, w)")
          if (children.length == 1) WinnowCodes(children.head, 8, 4)
          else {
            val k = literalInt("graft_winnow_codes", "k", children(1))
            val w = literalInt("graft_winnow_codes", "w", children(2))
            WinnowCodes(children.head, k, w)
          }
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_roaring_distinct"),
        new ExpressionInfo(classOf[RoaringDistinctCount].getName, "graft_roaring_distinct"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_roaring_distinct expects exactly 1 argument")
          RoaringDistinctCount(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_roaring_set"),
        new ExpressionInfo(classOf[RoaringSetAgg].getName, "graft_roaring_set"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_roaring_set expects exactly 1 argument")
          RoaringSetAgg(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_roaring_union"),
        new ExpressionInfo(classOf[RoaringBlobUnionCount].getName, "graft_roaring_union"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_roaring_union expects exactly 1 argument")
          RoaringBlobUnionCount(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_roaring_union_blob"),
        new ExpressionInfo(classOf[RoaringBlobUnionBlob].getName, "graft_roaring_union_blob"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_roaring_union_blob expects exactly 1 argument")
          RoaringBlobUnionBlob(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_roaring_card"),
        new ExpressionInfo(classOf[RoaringBlobCardinality].getName, "graft_roaring_card"),
        (children: Seq[Expression]) => {
          require(children.length == 1, "graft_roaring_card expects exactly 1 argument")
          RoaringBlobCardinality(children.head)
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_roaring_and"),
        new ExpressionInfo(classOf[RoaringBlobAndCount].getName, "graft_roaring_and"),
        (children: Seq[Expression]) => {
          require(children.length == 2, "graft_roaring_and expects exactly 2 arguments")
          RoaringBlobAndCount(children.head, children(1))
        }
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_sorted_intersect"),
        new ExpressionInfo(classOf[SortedIntersectCountLong].getName, "graft_sorted_intersect"),
        (children: Seq[Expression]) => {
          require(children.length == 2, "graft_sorted_intersect expects exactly 2 arguments")
          SortedIntersectCountLong(children.head, children(1))
        }
      )
    )
    // Z-order curve value as a SQL function, so layout writes (CTAS
    // ... ORDER BY graft_zvalue(a, b)) work from pure SQL. The builder
    // expands to the same composed shift/mask tree Layout.zValue emits —
    // one definition of the curve.
    ext.injectFunction(
      (
        FunctionIdentifier("graft_zvalue"),
        new ExpressionInfo(VectorExpressions.getClass.getName, "graft_zvalue"),
        (children: Seq[Expression]) => {
          require(children.length == 2, "graft_zvalue expects exactly 2 arguments")
          VectorExpressions.zValueExpr(children.head, children(1))
        }
      )
    )
    // Multi-count(DISTINCT) over integral keys → one-pass roaring
    // aggregates (kills the Expand replication); see the rule's scaladoc
    // for the exact guards.
    ext.injectOptimizerRule(_ => RewriteMultiDistinctToRoaring)
    // Materialized-view rewrite: day-aligned-range count(DISTINCT user_id)
    // over the registered raw table answers from the persisted ExactRollup
    // cell store (see the rule's scaladoc for the registration contract
    // and the exactness guards).
    ext.injectOptimizerRule(_ => RewriteRangeDistinctToRollup)
    // Plans the per-partition settle pass of connected components.
    ext.injectPlannerStrategy(_ => LocalComponentsStrategy)
  }
}
