package org.apache.spark.sql

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, BoundReference, ExprId, Expression, GenericInternalRow, InterpretedMutableProjection, InterpretedUnsafeProjection, JoinedRow, NamedExpression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}

/** One task's per-file aggregate results: (file basename, group value or
  * null, result row in `aggs` order). */
private[sql] final class GraftFileStats(val rows: Seq[(String, Any, InternalRow)])
    extends WriteTaskStats

/** Aggregates computed over each written file's rows inside the write
  * task (Delta's `DeltaJobStatisticsTracker` pattern): no second pass
  * reads the files back to learn what was just written.
  *
  * `aggs` are resolved aggregate expressions over `dataCols` (the
  * written attributes), with runtime-replaceable expressions already
  * replaced. Rows are keyed per file, or per (file, value of
  * `dataCols(groupOrdinal)`) when a group column is set. A file that
  * receives no row gets no result, like a grouped read of it. */
private[sql] final class GraftStatsJobTracker(
    dataCols: Seq[Attribute],
    aggs: Seq[NamedExpression],
    groupOrdinal: Option[Int]) extends WriteJobStatsTracker {

  @transient @volatile private[sql] var results: Seq[(String, Any, InternalRow)] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker =
    new GraftStatsTaskTracker(dataCols, aggs, groupOrdinal)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    results = stats.flatMap(_.asInstanceOf[GraftFileStats].rows)
}

private final class GraftStatsTaskTracker(
    dataCols: Seq[Attribute],
    aggs: Seq[NamedExpression],
    groupOrdinal: Option[Int]) extends WriteTaskStatsTracker {

  private val aggExprs: Seq[AggregateExpression] =
    aggs.flatMap(_.collect { case a: AggregateExpression => a })
  require(aggExprs.forall(a => !a.isDistinct && a.filter.isEmpty &&
      (a.aggregateFunction.isInstanceOf[DeclarativeAggregate] ||
        a.aggregateFunction.isInstanceOf[ImperativeAggregate])),
    "write-task stats take plain declarative or imperative aggregates " +
      "(no DISTINCT or FILTER)")

  // Declarative aggregates share one buffer. The per-row update is a
  // generated mutable projection, as in query execution; the once-per-file
  // initial values and results are interpreted, which saves a task the
  // code generation a small file's rows would not repay. The one
  // imperative aggregate the stats use (approx_count_distinct's
  // HyperLogLogPlusPlus) runs through its own initialize/update/eval on
  // a buffer of its own, so its sketch is the one the aggregate operator
  // builds.
  private val decl: Seq[DeclarativeAggregate] =
    aggExprs.map(_.aggregateFunction).collect { case d: DeclarativeAggregate => d }
  private val imper: Seq[ImperativeAggregate] =
    aggExprs.map(_.aggregateFunction).collect { case i: ImperativeAggregate =>
      BindReferences.bindReference(i: Expression, dataCols).asInstanceOf[ImperativeAggregate]
    }
  private val bufAttrs = decl.flatMap(_.aggBufferAttributes)
  private val initDecl = new InterpretedMutableProjection(decl.flatMap(_.initialValues))
  private val updateDecl = GenerateMutableProjection.generate(
    decl.flatMap(_.updateExpressions), bufAttrs ++ dataCols, useSubexprElimination = true)
  private val evalDecl = new InterpretedMutableProjection(decl.map(_.evaluateExpression), bufAttrs)

  // the named expressions over the aggregate results, each aggregate
  // replaced by a reference into the row of results (aggExprs order)
  private val slot: Map[ExprId, Int] = aggExprs.map(_.resultId).zipWithIndex.toMap
  private val result = InterpretedUnsafeProjection.createProjection(aggs.map(_.transformDown {
    case a: AggregateExpression => BoundReference(slot(a.resultId), a.dataType, nullable = true)
  }))
  // per aggregate: Left(index into decl) or Right(index into imper)
  private val source: Array[Either[Int, Int]] = {
    var d = 0; var i = 0
    aggExprs.map(_.aggregateFunction match {
      case _: DeclarativeAggregate => d += 1; Left(d - 1)
      case _                       => i += 1; Right(i - 1)
    }).toArray
  }

  private final class Buf(val decl: InternalRow, val imper: Array[InternalRow])
  private val bufs = mutable.LinkedHashMap.empty[(String, Any), Buf]
  private val joined = new JoinedRow
  private var lastKey: (String, Any) = _
  private var lastBuf: Buf = _

  private def newBuf(): Buf = {
    val d = new SpecificInternalRow(bufAttrs.map(_.dataType))
    initDecl.target(d).apply(InternalRow.empty)
    val is = imper.map { f =>
      val b = new SpecificInternalRow(f.aggBufferAttributes.map(_.dataType))
      f.initialize(b)
      b: InternalRow
    }.toArray
    new Buf(d, is)
  }

  override def newPartition(partitionValues: InternalRow): Unit = ()
  override def newFile(filePath: String): Unit = ()
  override def closeFile(filePath: String): Unit = ()

  override def newRow(filePath: String, row: InternalRow): Unit = {
    val g = groupOrdinal match {
      case Some(i) if !row.isNullAt(i) => InternalRow.copyValue(row.get(i, dataCols(i).dataType))
      case _                           => null
    }
    val buf =
      if (lastKey != null && (lastKey._1 eq filePath) && lastKey._2 == g) lastBuf
      else {
        lastKey = (filePath, g)
        lastBuf = bufs.getOrElseUpdate(lastKey, newBuf())
        lastBuf
      }
    updateDecl.target(buf.decl).apply(joined(buf.decl, row))
    var k = 0
    while (k < imper.length) { imper(k).update(buf.imper(k), row); k += 1 }
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
    val declOut = new SpecificInternalRow(decl.map(_.dataType))
    val values = new GenericInternalRow(aggExprs.size)
    new GraftFileStats(bufs.iterator.map { case ((path, g), b) =>
      evalDecl.target(declOut).apply(b.decl)
      source.indices.foreach { j =>
        values.update(j, source(j) match {
          case Left(d)  => declOut.get(d, decl(d).dataType)
          case Right(i) => imper(i).eval(b.imper(i))
        })
      }
      (path.substring(path.lastIndexOf('/') + 1), g, result(values).copy(): InternalRow)
    }.toList)
  }
}
