package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, BooleanType, StructType}

/** Connected components settled inside each partition (Giraph++'s
  * "think like a graph", Tian et al. 2013): the narrow pass that
  * `GraphIter.connectedComponents` runs on its vertex state after the init
  * aggregate and after every superstep's fold, before the pin.
  *
  * The input holds one row per node, `(node, state, adj, prev)`: `state` is
  * the node's component label so far, `adj` its neighbours as
  * `array<struct<dst>>` and `prev` the label it held before this fold.
  * Union-find over the `adj` entries whose `dst` is a row of the same
  * partition joins each partition's local components, and every node takes
  * the least state of its local component (Spark's ordering for the state
  * type, so numeric and string ids both work). The output is
  * `(node, state, adj, active)`: a row is active when its state dropped
  * below `prev` and it has a neighbour outside its partition, because its
  * local neighbours already hold the same state. So a state that fits one
  * partition converges here, and across partitions the loop stays hash-min
  * with local shortcuts: labels only fall, never more supersteps than
  * plain hash-min.
  *
  * The pass keeps the child's partitioning (no exchange, no job) and works
  * on `InternalRow`s without decoding the adjacency; it buffers one
  * partition's rows, as a sort does. Planned by [[LocalComponentsStrategy]],
  * which [[GraftExtensions]] installs.
  */
object LocalComponents {

  def settle(state: DataFrame): DataFrame = {
    val ds = state.asInstanceOf[classic.Dataset[_]]
    val plan = ds.logicalPlan
    def attr(name: String) = plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"settle needs a `$name` column, got ${ds.columns.mkString(", ")}"))
    classic.Dataset.ofRows(ds.sparkSession, SettleLocalComponents(attr("node"), attr("state"),
      attr("adj"), attr("prev"), AttributeReference("active", BooleanType, nullable = false)(), plan))
  }

  /** The pass over one partition; `ordinals` locate node, state, adj and
    * prev in the input rows.
    */
  private[graft] def settlePartition(rows: Iterator[InternalRow], ordinals: Array[Int],
      node: Attribute, state: Attribute, adj: Attribute): Iterator[InternalRow] = {
    val Array(iNode, iState, iAdj, iPrev) = ordinals
    val nodeType = node.dataType
    val stateType = state.dataType
    val adjWidth = adj.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].length
    val ord = PhysicalDataType.ordering(stateType)
    val buf = rows.map(_.copy()).toArray
    val n = buf.length
    val index = new java.util.HashMap[Any, Integer](math.max(16, n * 2))
    var i = 0
    while (i < n) { index.put(buf(i).get(iNode, nodeType), i); i += 1 }

    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    val remote = new Array[Boolean](n)
    i = 0
    while (i < n) {
      if (!buf(i).isNullAt(iAdj)) {
        val nbrs = buf(i).getArray(iAdj)
        var j = 0
        while (j < nbrs.numElements()) {
          val k = index.get(nbrs.getStruct(j, adjWidth).get(0, nodeType))
          if (k == null) remote(i) = true
          else {
            val a = find(i)
            val b = find(k)
            if (a != b) parent(math.max(a, b)) = math.min(a, b)
          }
          j += 1
        }
      }
      i += 1
    }
    // The least state of each local component, kept at its root.
    val least = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!buf(i).isNullAt(iState)) {
        val r = find(i)
        val s = buf(i).get(iState, stateType)
        if (least(r) == null || ord.lt(s, least(r))) least(r) = s
      }
      i += 1
    }

    val out = new GenericInternalRow(4)
    val toUnsafe = UnsafeProjection.create(Array(nodeType, stateType, adj.dataType, BooleanType))
    buf.iterator.zipWithIndex.map { case (row, x) =>
      val s = least(find(x))
      out.update(0, row.get(iNode, nodeType))
      out.update(1, s)
      out.update(2, if (row.isNullAt(iAdj)) null else row.getArray(iAdj))
      out.setBoolean(3, remote(x) && s != null &&
        (row.isNullAt(iPrev) || ord.lt(s, row.get(iPrev, stateType))))
      toUnsafe(out)
    }
  }
}

/** The logical node behind [[LocalComponents.settle]]. */
case class SettleLocalComponents(node: Attribute, state: Attribute, adj: Attribute,
    prev: Attribute, active: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(node, state, adj, active)
  override def producedAttributes: AttributeSet = AttributeSet(active)
  override protected def withNewChildInternal(newChild: LogicalPlan): SettleLocalComponents =
    copy(child = newChild)
}

case class SettleLocalComponentsExec(node: Attribute, state: Attribute, adj: Attribute,
    prev: Attribute, active: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(node, state, adj, active)
  override def producedAttributes: AttributeSet = AttributeSet(active)
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val ordinals = Array(node, state, adj, prev).map(a => child.output.indexWhere(_.exprId == a.exprId))
    val (n, s, a) = (node, state, adj)
    child.execute().mapPartitionsInternal(LocalComponents.settlePartition(_, ordinals, n, s, a))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SettleLocalComponentsExec =
    copy(child = newChild)
}

object LocalComponentsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SettleLocalComponents(node, state, adj, prev, active, child) =>
      SettleLocalComponentsExec(node, state, adj, prev, active, planLater(child)) :: Nil
    case _ => Nil
  }
}
