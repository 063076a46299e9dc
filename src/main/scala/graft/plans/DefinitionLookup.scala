package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A collected definition side keyed by its first (string) column: per
  * key, the rows that carry it, over the remaining columns (`rowType`),
  * prebuilt as one Catalyst array of structs. Several rows may share a
  * key (a series with several statistics or SLAs); all are kept, in
  * collect order. */
final class DefinitionTable private[plans] (val rowType: StructType,
    byKey: java.util.HashMap[UTF8String, ArrayData]) extends Serializable {

  /** `key`'s rows, or null when no row carries it. */
  def rowsFor(key: UTF8String): ArrayData = byKey.get(key)

  @transient private lazy val toRow = CatalystTypeConverters.createToScalaConverter(rowType)

  /** `key`'s rows as external rows over `rowType` (empty when none). */
  def rowsOf(key: String): Seq[Row] = {
    val rows = rowsFor(UTF8String.fromString(key))
    if (rows == null) Nil
    else (0 until rows.numElements()).map(i =>
      toRow(rows.getStruct(i, rowType.length)).asInstanceOf[Row])
  }
}

/**
 * Native Catalyst lookup of a key in a broadcast [[DefinitionTable]]:
 * the key's definition rows as an array of structs, or null when the
 * table holds none. `inline` of the result fans a fact row out to every
 * definition row of its key, as an inner equi-join on the key would.
 *
 * Why not a broadcast join of the collected rows: the join runs one
 * Spark job to ship them and builds a hash relation of at least one
 * `pageSizeBytes` page (16 MB at `local[4]` with a 2 GB heap) however
 * few rows it holds, which a cached output pins (ENGINE.md "Definition
 * sides"). The table here ships as one broadcast variable, which runs
 * no job, and holds only its rows.
 *
 * Codegen: the broadcast handle enters the generated class through
 * `addReferenceObj` (as [[BloomMightContain]]'s filter does) and its
 * value is read once per partition into a field; a row's lookup is one
 * hash probe returning the key's prebuilt array, with no allocation.
 */
case class DefinitionLookup(child: Expression, table: Broadcast[DefinitionTable],
    rowType: StructType) extends UnaryExpression {

  override def dataType: DataType = ArrayType(rowType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "definition_lookup"

  @transient private lazy val defs: DefinitionTable = table.value

  override def nullSafeEval(key: Any): Any = defs.rowsFor(key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[DefinitionTable].getName
    val handle = ctx.addReferenceObj("definitionsBroadcast", table)
    val defsVar = ctx.addMutableState(cls, "definitions",
      v => s"$v = ($cls) $handle.value();", forceInline = true)
    val k = child.genCode(ctx)
    ev.copy(code = code"""
      ${k.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${k.isNull} ? null : $defsVar.rowsFor(${k.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): DefinitionLookup =
    copy(child = newChild)
}

object DefinitionLookup {

  /** Ships `rows` (of `schema`, keyed by its first column, a string)
    * to each executor once, as one broadcast variable. Creating it
    * runs no Spark job. Rows with a null key can match no fact row
    * and are left out. */
  def table(spark: SparkSession, rows: Seq[Row], schema: StructType): Broadcast[DefinitionTable] = {
    require(schema.nonEmpty && schema.head.dataType == StringType,
      s"definition lookup keys on a string first column, got ${schema.headOption}")
    val rowType = StructType(schema.tail)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(rowType)
    val byKey = new java.util.HashMap[UTF8String, ArrayData]()
    rows.filter(!_.isNullAt(0)).groupBy(_.getString(0)).foreach { case (key, rs) =>
      byKey.put(UTF8String.fromString(key), new GenericArrayData(
        rs.map(r => toInternal(Row.fromSeq(r.toSeq.tail))).toArray))
    }
    spark.sparkContext.broadcast(new DefinitionTable(rowType, byKey))
  }

  /** `key`'s definition rows in `table` (an array of structs over the
    * non-key columns), or null when it has none. */
  def rowsFor(key: Column, table: Broadcast[DefinitionTable]): Column =
    column(DefinitionLookup(expression(key.cast(StringType)), table, table.value.rowType))
}
