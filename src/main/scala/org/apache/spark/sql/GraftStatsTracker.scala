package org.apache.spark.sql

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, BoundReference, ExprId, Expression, GenericInternalRow, InterpretedMutableProjection, InterpretedUnsafeProjection, JoinedRow, NamedExpression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.MutableProjection
import org.apache.spark.sql.catalyst.expressions.aggregate.NoOp
import org.apache.spark.sql.catalyst.expressions.codegen.{BaseMutableProjection, CodeAndComment, CodeFormatter, CodeGenerator, CodegenContext, ExprCode, ExpressionCanonicalizer, FalseLiteral, JavaCode}
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

  // The declarative aggregates' per-row update is generated here, once
  // per job, and shipped as source plus references, the way
  // WholeStageCodegenExec ships its code: each task compiles it through
  // Spark's per-JVM class cache instead of generating it again.
  private val updateCode: (CodeAndComment, Array[Any]) = {
    val decl = GraftStatsTracker.declarative(aggs)
    GraftStatsTracker.mutableProjectionCode(decl.flatMap(_.updateExpressions),
      decl.flatMap(_.aggBufferAttributes) ++ dataCols)
  }

  override def newTaskInstance(): WriteTaskStatsTracker =
    new GraftStatsTaskTracker(dataCols, aggs, groupOrdinal, updateCode)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    results = stats.flatMap(_.asInstanceOf[GraftFileStats].rows)
}

private[sql] object GraftStatsTracker {
  /** The aggregate expressions of `aggs`, which must be plain declarative
    * or imperative aggregates. */
  def aggregates(aggs: Seq[NamedExpression]): Seq[AggregateExpression] = {
    val aggExprs = aggs.flatMap(_.collect { case a: AggregateExpression => a })
    require(aggExprs.forall(a => !a.isDistinct && a.filter.isEmpty &&
        (a.aggregateFunction.isInstanceOf[DeclarativeAggregate] ||
          a.aggregateFunction.isInstanceOf[ImperativeAggregate])),
      "write-task stats take plain declarative or imperative aggregates " +
        "(no DISTINCT or FILTER)")
    aggExprs
  }

  def declarative(aggs: Seq[NamedExpression]): Seq[DeclarativeAggregate] =
    aggregates(aggs).map(_.aggregateFunction).collect { case d: DeclarativeAggregate => d }

  /** `GenerateMutableProjection.generate(exprs, input, useSubexprElimination
    * = true)` up to, not including, its compile: the source and the
    * references its generated class is instantiated with. Spark's
    * generator compiles inside `create`, so its body is followed here. */
  def mutableProjectionCode(exprs: Seq[Expression],
      input: Seq[Attribute]): (CodeAndComment, Array[Any]) = {
    val expressions =
      BindReferences.bindReferences(exprs, input).map(ExpressionCanonicalizer.execute)
    val ctx = new CodegenContext
    val valid = expressions.zipWithIndex.filter { case (e, _) => e != NoOp }
    val exprVals = ctx.generateExpressions(valid.map(_._1), doSubexpressionElimination = true)
    val projectionCodes = valid.zip(exprVals).map { case ((e, i), ev) =>
      val value = JavaCode.global(
        ctx.addMutableState(CodeGenerator.javaType(e.dataType), "value"), e.dataType)
      val (code, isNull) = if (e.nullable) {
        val isNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "isNull")
        (s"""
            |${ev.code}
            |$isNull = ${ev.isNull};
            |$value = ${ev.value};
          """.stripMargin, JavaCode.isNullGlobal(isNull))
      } else {
        (s"""
            |${ev.code}
            |$value = ${ev.value};
          """.stripMargin, FalseLiteral)
      }
      (code, CodeGenerator.updateColumn("mutableRow", e.dataType, i,
        ExprCode(isNull, value), e.nullable))
    }
    val evalSubexpr = ctx.subexprFunctionsCode
    val allProjections = ctx.splitExpressionsWithCurrentInputs(projectionCodes.map(_._1))
    val allUpdates = ctx.splitExpressionsWithCurrentInputs(projectionCodes.map(_._2))
    val base = classOf[BaseMutableProjection].getName
    val body = s"""
      public java.lang.Object generate(Object[] references) {
        return new SpecificMutableProjection(references);
      }

      class SpecificMutableProjection extends $base {

        private Object[] references;
        private InternalRow mutableRow;
        ${ctx.declareMutableStates()}

        public SpecificMutableProjection(Object[] references) {
          this.references = references;
          mutableRow = new ${classOf[GenericInternalRow].getName}(${expressions.size});
          ${ctx.initMutableStates()}
        }

        public void initialize(int partitionIndex) {
          ${ctx.initPartition()}
        }

        public $base target(InternalRow row) {
          mutableRow = row;
          return this;
        }

        public InternalRow currentValue() {
          return (InternalRow) mutableRow;
        }

        public java.lang.Object apply(java.lang.Object _i) {
          InternalRow ${ctx.INPUT_ROW} = (InternalRow) _i;
          $evalSubexpr
          $allProjections
          $allUpdates
          return mutableRow;
        }

        ${ctx.declareAddedFunctions()}
      }
    """
    (CodeFormatter.stripOverlappingComments(
      new CodeAndComment(body, ctx.getPlaceHolderToComments())), ctx.references.toArray)
  }
}

private final class GraftStatsTaskTracker(
    dataCols: Seq[Attribute],
    aggs: Seq[NamedExpression],
    groupOrdinal: Option[Int],
    updateCode: (CodeAndComment, Array[Any])) extends WriteTaskStatsTracker {

  private val aggExprs: Seq[AggregateExpression] = GraftStatsTracker.aggregates(aggs)

  // Declarative aggregates share one buffer. The per-row update is a
  // generated mutable projection, as in query execution, generated once
  // per job (`GraftStatsJobTracker`) and compiled through Spark's class
  // cache; the once-per-file initial values and results are interpreted.
  // The one imperative aggregate the stats use (approx_count_distinct's
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
  private val updateDecl: MutableProjection = {
    val (clazz, _) = CodeGenerator.compile(updateCode._1)
    clazz.generate(updateCode._2).asInstanceOf[MutableProjection]
  }
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
