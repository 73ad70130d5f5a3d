package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.GetColumnByOrdinal
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, CreateNamedStruct, Expression,
  GetStructField, If, IsNull, KnownNotNull, LeafExpression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{FlatMapGroupsWithState, LocalRelation, LogicalGroupState, LogicalPlan,
  SerializeFromObject}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DataType, ObjectType, StructType}

/** Column <-> catalyst Expression bridge. ExpressionUtils is private[sql] in
  * Spark 4, so this one-liner lives inside the org.apache.spark.sql namespace
  * — the standard pattern for extension libraries shipping native
  * expressions (no other Spark internals are touched). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Converted now, not when a Dataset resolves the column: a SQL function
    * that GraftExtensions builds never passes through a Dataset. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The column `target.method(args)`: one JVM method, called from
    * whole-stage codegen and reflectively when codegen is off. A Scala
    * `object` is called through its static forwarders (`StaticInvoke`); any
    * other kernel rides the plan as an object literal (`Invoke`), so plans
    * built with equal kernels are equal. `nullSafe`: a null argument gives a
    * null result without a call; otherwise the null reaches the method.
    * `nullableResult`: the method may return null. */
  def invoke(target: AnyRef, method: String, dataType: DataType, args: Seq[Column],
      nullSafe: Boolean = true, nullableResult: Boolean = false): Column = {
    val exprs = args.map(expression)
    column(
      if (target.getClass.getName.endsWith("$")) {
        StaticInvoke(target.getClass, dataType, method, exprs, propagateNull = nullSafe,
          returnNullable = nullableResult)
      } else {
        Invoke(Literal.fromObject(target), method, dataType, exprs, propagateNull = nullSafe,
          returnNullable = nullableResult)
      })
  }

  /** The DataFrame of a logical plan (classic.Dataset.ofRows is
    * private[sql]; used to wrap graft's own plan nodes). */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /**
   * `flatMapGroupsWithState` (Append) over the rows of `child`, grouped on
   * its column `key`, with no object decoding on the way in: `func` gets the
   * key row (one column) and the child's rows as they are, and returns rows
   * of `outSchema`, which are written out field by field. Each key's state
   * is a row of `state`, stored as that struct.
   */
  def flatMapGroupsWithState(
      child: DataFrame,
      key: String,
      func: (InternalRow, Iterator[InternalRow], GroupState[InternalRow]) => Iterator[InternalRow],
      state: StructType,
      outSchema: StructType,
      timeout: GroupStateTimeout): DataFrame = {
    val plan = child.queryExecution.analyzed
    val keyAttr = plan.output.filter(_.name == key)
    require(keyAttr.size == 1, s"no single column $key in ${plan.output}")
    val obj = AttributeReference("obj", ObjectType(classOf[InternalRow]), nullable = false)()
    val node = FlatMapGroupsWithState(
      (k: Any, rows: Iterator[Any], gs: LogicalGroupState[Any]) => func(k.asInstanceOf[InternalRow],
        rows.asInstanceOf[Iterator[InternalRow]], gs.asInstanceOf[GroupState[InternalRow]]),
      InputRow, InputRow, keyAttr, plan.output, obj, rowEncoder(state).asInstanceOf[ExpressionEncoder[Any]],
      OutputMode.Append, isMapGroupsWithState = false, timeout,
      hasInitialState = false, keyAttr, plan.output, InputRow,
      LocalRelation(DataTypeUtils.toAttributes(state)), plan)
    dataFrame(child.sparkSession, SerializeFromObject(fields(obj, outSchema), node))
  }

  /** The fields of `schema` out of an `InternalRow` object `row`. */
  private def fields(row: Expression, schema: StructType): Seq[Alias] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      Alias(serializer(RowField(row, i, f.dataType, f.nullable)), f.name)()
    }

  /** Stores `InternalRow`s of `schema` as that struct, with no per-type
    * (de)serializer code: the state is read as the stored struct itself. */
  private def rowEncoder(schema: StructType): ExpressionEncoder[InternalRow] = {
    val in = BoundReference(0, ObjectType(classOf[InternalRow]), nullable = true)
    val struct = CreateNamedStruct(fields(in, schema).flatMap(a => Seq(Literal(a.name), a.child)))
    val stored = CreateNamedStruct(schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      Seq(Literal(f.name), GetColumnByOrdinal(i, f.dataType))
    })
    ExpressionEncoder(RowEncoding(schema), If(IsNull(in), Literal.create(null, schema), struct), AsRow(stored))
  }

  /** A struct field rebuilt as a named struct of its fields, the shape of
    * Spark's own serializers, which the optimizer prunes nested fields of
    * (`ObjectSerializerPruning` rewrites the readers of a pruned field by
    * the pruned schema, so a serializer it cannot prune would be read at
    * the wrong ordinals). */
  private def serializer(e: Expression): Expression = e.dataType match {
    case st: StructType =>
      val named = CreateNamedStruct(st.fields.toSeq.zipWithIndex.flatMap { case (f, j) =>
        val field = GetStructField(e, j)
        Seq(Literal(f.name), serializer(if (f.nullable) field else KnownNotNull(field)))
      })
      if (e.nullable) If(IsNull(e), Literal.create(null, st), named) else named
    case _ => e
  }
}

/** The input row itself, as an object: the (de)serializer that hands a
  * grouped operator its rows undecoded. */
private[graftbridge] case object InputRow extends LeafExpression {
  def nullable: Boolean = false
  def dataType: DataType = ObjectType(classOf[InternalRow])
  def eval(input: InternalRow): Any = input
  protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = code"InternalRow ${ev.value} = (InternalRow) ${ctx.INPUT_ROW};", isNull = FalseLiteral)
}

/** A struct value as an `InternalRow` object. */
private[graftbridge] case class AsRow(child: Expression) extends UnaryExpression {
  def dataType: DataType = ObjectType(classOf[InternalRow])
  override protected def nullSafeEval(v: Any): Any = v
  protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = defineCodeGen(ctx, ev, c => c)
  protected def withNewChildInternal(c: Expression): AsRow = copy(child = c)
}

/** The encoder description of [[AsRow]] state: `InternalRow`s of `schema`. */
private[graftbridge] case class RowEncoding(schema0: StructType) extends AgnosticEncoder[InternalRow] {
  def isPrimitive: Boolean = false
  def dataType: DataType = schema0
  def clsTag: ClassTag[InternalRow] = ClassTag(classOf[InternalRow])
}

/** Field `ordinal` of an `InternalRow` object: writes an operator's output
  * rows field by field. */
private[graftbridge] case class RowField(child: Expression, ordinal: Int, dataType: DataType,
    override val nullable: Boolean) extends UnaryExpression {
  override def eval(input: InternalRow): Any = {
    val row = child.eval(input).asInstanceOf[InternalRow]
    if (row.isNullAt(ordinal)) null else row.get(ordinal, dataType)
  }
  protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val row = child.genCode(ctx)
    val value = CodeGenerator.getValue(s"((InternalRow) ${row.value})", dataType, ordinal.toString)
    ev.copy(code = code"""
      ${row.code}
      boolean ${ev.isNull} = ((InternalRow) ${row.value}).isNullAt($ordinal);
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $value;""")
  }
  protected def withNewChildInternal(c: Expression): RowField = copy(child = c)
}
