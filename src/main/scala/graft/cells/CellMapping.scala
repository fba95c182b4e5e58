package graft.cells

import graft.geom.Geom
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, LongType}
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** How a partitioning scheme keys rows: the ONE copy of its arithmetic.
  * Every map side (DataFrame plans and the SQL rule, through [[CellsOf]]),
  * every ownership test (through [[CellOf]] or a direct call on the reduce
  * side) and every test oracle calls these two methods, so replication and
  * the reference-point dedup cannot disagree (SwiftSpatial's one
  * `cell_id = y·n + x`, `partition_multi.hpp:25-102`, `join.hpp:56-71`).
  *
  * Both are total on doubles: NaN orders above every value (as in Spark
  * SQL), ±∞ clamp into the edge cells, and an inverted row (max < min)
  * spans the cells between its two ends.
  */
trait CellMapping extends Serializable {
  /** The owner key of a reference point. */
  def cellOf(x: Double, y: Double): Long

  /** The replication keys of an MBR. */
  def cellsOf(xmin: Double, xmax: Double, ymin: Double, ymax: Double): CellKeys

  final def cellsOf(g: Geom): CellKeys = cellsOf(g.xmin, g.xmax, g.ymin, g.ymax)

  /** Exactly-once ownership: pair (a, b) is emitted under `key` iff the
    * bottom-left corner of their intersection maps to `key`.
    */
  final def owns(key: Long, a: Geom, b: Geom): Boolean =
    cellOf(math.max(a.xmin, b.xmin), math.max(a.ymin, b.ymin)) == key
}

/** A row's replication keys, the i-th computed on demand: a row spanning a
  * whole 8192×8192 grid is one small object, not 67M longs.
  */
abstract class CellKeys extends scala.collection.immutable.IndexedSeq[Long] {
  /** The i-th key, unboxed when called on a `CellKeys` (the generic
    * `IndexedSeq.apply` would box every key).
    */
  def apply(i: Int): Long
}

object CellKeys {
  /** The keys `offset + y·stride + x·step` over `x0..x1 × y0..y1`, in row-major order. */
  final case class Rect(offset: Long, stride: Long, step: Long,
                        x0: Int, x1: Int, y0: Int, y1: Int) extends CellKeys {
    private val w = x1 - x0 + 1
    val length: Int = Math.toIntExact(w.toLong * (y1 - y0 + 1))
    def apply(i: Int): Long = offset + (y0 + i / w) * stride + (x0 + i % w) * step
  }

  /** Keys listed one by one (schemes whose every row spans few of them). */
  final class Listed(keys: Array[Long]) extends CellKeys {
    def length: Int = keys.length
    def apply(i: Int): Long = keys(i)
  }
}

/** [[CellKeys]] as a read-only Catalyst array of non-null longs, indexed on
  * demand. Generated `explode` code reads it by `numElements`/`getLong`;
  * `copy`/`array` materialize it (an unsafe projection does).
  */
private[graft] final class KeysArray(keys: CellKeys) extends ArrayData {
  def numElements(): Int = keys.length
  def getLong(i: Int): Long = keys(i)
  def isNullAt(i: Int): Boolean = false
  def get(i: Int, t: DataType): AnyRef = Long.box(keys(i))
  def copy(): ArrayData = UnsafeArrayData.fromPrimitiveArray(keys.toArray)
  def array: Array[Any] = keys.toArray[Any]
  private def readOnly = throw new UnsupportedOperationException("cell keys are a read-only long array")
  def setNullAt(i: Int): Unit = readOnly
  def update(i: Int, v: Any): Unit = readOnly
  def getBoolean(i: Int): Boolean = readOnly
  def getByte(i: Int): Byte = readOnly
  def getShort(i: Int): Short = readOnly
  def getInt(i: Int): Int = readOnly
  def getFloat(i: Int): Float = readOnly
  def getDouble(i: Int): Double = readOnly
  def getDecimal(i: Int, p: Int, s: Int): Decimal = readOnly
  def getUTF8String(i: Int): UTF8String = readOnly
  def getBinary(i: Int): Array[Byte] = readOnly
  def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal = readOnly
  def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal = readOnly
  def getInterval(i: Int): CalendarInterval = readOnly
  def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal = readOnly
  def getStruct(i: Int, n: Int): InternalRow = readOnly
  def getArray(i: Int): ArrayData = readOnly
  def getMap(i: Int): MapData = readOnly
}

/** A call of one Scala method of `target` on double children, as a
  * Catalyst expression; its generated code calls the method with the
  * primitive doubles. The ONE such expression: [[CellOf]] and [[CellsOf]]
  * call a [[CellMapping]], [[graft.join.OccupancyProbe]] an occupancy
  * bitmap. A null coordinate makes the call null, or, where `nullAsNaN`,
  * reads as NaN. Serializable itself, so Java serialization of a task
  * restores the subclasses through Expression's no-argument constructor.
  */
private[graft] abstract class MappingCall(targetClass: Class[_]) extends Expression with Serializable {
  /** The object whose method the call runs, referenced from generated code. */
  protected def target: AnyRef
  protected def nullAsNaN: Boolean
  protected def call(v: Seq[Double]): Any
  /** The generated call on `t` with the children's value terms. */
  protected def callCode(t: String, v: Seq[String]): String

  override def nullable: Boolean = !nullAsNaN && children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (v.contains(null) && !nullAsNaN) null
    else call(v.map(e => if (e == null) Double.NaN else e.asInstanceOf[Double]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("target", target, targetClass.getName)
    val cs = children.map(_.genCode(ctx))
    val anyNull = if (nullAsNaN) "false" else cs.map(_.isNull.toString).mkString(" || ")
    val vs = cs.map(c => if (nullAsNaN) s"(${c.isNull} ? Double.NaN : ${c.value})" else c.value.toString)
    ev.copy(code = code"""
      |${cs.map(_.code.toString).mkString("\n")}
      |boolean ${ev.isNull} = $anyNull;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
      |  ${CodeGenerator.defaultValue(dataType)} : ${callCode(t, vs)};
      |""".stripMargin)
  }
}

/** [[CellMapping.cellOf]] over `x, y`: the owner key, as a long column that
  * is never null. A null coordinate keys like NaN, to the last cell; such a
  * row meets no row there, since every join over the key also compares the
  * coordinates. Being total, it adds no `isnotnull(cell_of(…))` to a point
  * side's scan filter, which would compute the key twice per row.
  */
private[graft] final case class CellOf(mapping: CellMapping, children: Seq[Expression])
    extends MappingCall(classOf[CellMapping]) {
  require(children.size == 2)
  protected def target: AnyRef = mapping
  protected def nullAsNaN: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_of"
  protected def call(v: Seq[Double]): Any = mapping.cellOf(v(0), v(1))
  protected def callCode(t: String, v: Seq[String]): String = s"$t.cellOf(${v.mkString(", ")})"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** [[CellMapping.cellsOf]] over `xmin, xmax, ymin, ymax`: the replication
  * keys, as an array column that is indexed on demand ([[KeysArray]]), so
  * `explode(CellsOf)` streams a row's keys in generated code. Null when a
  * coordinate is null: such a row meets no row, so it is keyed nowhere.
  */
private[graft] final case class CellsOf(mapping: CellMapping, children: Seq[Expression])
    extends MappingCall(classOf[CellMapping]) {
  require(children.size == 4)
  protected def target: AnyRef = mapping
  protected def nullAsNaN: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cells_of"
  protected def call(v: Seq[Double]): Any = new KeysArray(mapping.cellsOf(v(0), v(1), v(2), v(3)))
  protected def callCode(t: String, v: Seq[String]): String =
    s"new ${classOf[KeysArray].getName}($t.cellsOf(${v.mkString(", ")}))"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
