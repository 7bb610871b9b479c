package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Read-only base of the collections the `CollectionGenerator`s hand to
  * `GenerateExec`: a subclass defines `numElements`, `get`, `array` and
  * its element accessor; every other accessor and every mutator throws.
  */
abstract class ReadOnlyArrayData extends ArrayData {
  override def isNullAt(i: Int): Boolean = false

  /** The elements as struct rows of `numFields` fields, in order: a
    * generator's interpreted `eval` over the collection its generated
    * code builds.
    */
  final def structRows(numFields: Int): Iterator[InternalRow] =
    Iterator.tabulate(numElements())(getStruct(_, numFields))

  override def copy(): ArrayData = new GenericArrayData(array)

  private def unsupported(): Nothing =
    throw new UnsupportedOperationException(s"${getClass.getSimpleName} is read-only")
  override def setNullAt(i: Int): Unit = unsupported()
  override def update(i: Int, value: Any): Unit = unsupported()
  override def getBoolean(i: Int): Boolean = unsupported()
  override def getByte(i: Int): Byte = unsupported()
  override def getShort(i: Int): Short = unsupported()
  override def getInt(i: Int): Int = unsupported()
  override def getLong(i: Int): Long = unsupported()
  override def getFloat(i: Int): Float = unsupported()
  override def getDouble(i: Int): Double = unsupported()
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = unsupported()
  override def getUTF8String(i: Int): UTF8String = unsupported()
  override def getBinary(i: Int): Array[Byte] = unsupported()
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal = unsupported()
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal = unsupported()
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval = unsupported()
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal = unsupported()
  override def getStruct(i: Int, numFields: Int): InternalRow = unsupported()
  override def getArray(i: Int): ArrayData = unsupported()
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData = unsupported()
}
