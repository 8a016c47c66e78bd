package graft.tablelog

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, StructType}

/** Where a written row carries each stat-bearing column: the
  * serializable half of [[FileStats]], built once on the driver from
  * the file schema and shipped to every writing task. `keyIdx < 0`
  * means the row has no key column (identity-key sink writes);
  * `ndvCols` is empty when the writer records no sketches. */
private[graft] final class StatLayout(schema: StructType, keyCol: String,
    partCols: Seq[String], sketches: Boolean) extends Serializable {
  val keyIdx: Int =
    if (schema.fieldNames.contains(keyCol)) schema.fieldIndex(keyCol) else -1
  require(keyIdx < 0 || Seq(LongType, IntegerType)
      .contains(schema(keyIdx).dataType),
    s"key column '$keyCol' must be BIGINT or INT, got " +
      s"${schema(keyIdx).dataType.sql}")
  val keyIsInt: Boolean = keyIdx >= 0 && schema(keyIdx).dataType == IntegerType
  val cols: Seq[(String, Char)] = TableLog.statCols(schema, keyCol, partCols)
  val colIdx: Array[Int] = cols.map(c => schema.fieldIndex(c._1)).toArray
  val colTypes: Array[DataType] = colIdx.map(schema.fields(_).dataType)
  // the key plus the integral/string stat columns — the types
  // hll_sketch_agg hashes; doubles stay un-sketched
  val ndvCols: Seq[String] =
    if (!sketches || keyIdx < 0) Nil
    else (keyCol +: cols.collect { case (c, t) if t == 'l' || t == 's' => c })
      .distinct
  val ndvIdx: Array[Int] = ndvCols.map(schema.fieldIndex).toArray
  val ndvTypes: Array[DataType] = ndvIdx.map(schema.fields(_).dataType)
}

/** The stats of ONE data file, observed row by row while a task
  * writes it — the single accumulator behind every writer (the
  * staged batch write and the DSv2 sink), so row count, key bounds
  * and the [[TableLog.statCols]] min/max share one observation path
  * and one ordering ([[TableLog.cmpStat]]). `off` shifts every
  * ordinal (the sink's leading row-operation field).
  *
  * NDV sketches run Spark's own `hll_sketch_agg` aggregate
  * ([[HllSketchAgg]]) `update` per row; [[ndvCells]] finishes them
  * the way the SQL aggregate's final phase would (partial buffer
  * serialized, merged into a fresh buffer, evaluated), so the manifest
  * bytes are the aggregate's bytes. Null counts ride beside them. */
private[graft] final class FileStats(l: StatLayout, off: Int = 0) {
  var rows = 0L
  private var keyMin = Long.MaxValue
  private var keyMax = Long.MinValue
  private val cMin = new Array[Any](l.cols.length)
  private val cMax = new Array[Any](l.cols.length)
  private val aggs: Array[HllSketchAgg] = l.ndvIdx.indices.map(j =>
    new HllSketchAgg(BoundReference(l.ndvIdx(j) + off, l.ndvTypes(j),
      nullable = true), TableLog.ndvLgK)).toArray
  private val sketches: Array[HllSketch] = aggs.map(_.createAggregationBuffer())
  private val nulls = new Array[Long](aggs.length)

  def add(r: InternalRow): Unit = {
    rows += 1L
    if (l.keyIdx >= 0 && !r.isNullAt(l.keyIdx + off)) {
      val k =
        if (l.keyIsInt) r.getInt(l.keyIdx + off).toLong
        else r.getLong(l.keyIdx + off)
      if (k < keyMin) keyMin = k
      if (k > keyMax) keyMax = k
    }
    var j = 0
    while (j < l.colIdx.length) {
      val i = l.colIdx(j) + off
      if (!r.isNullAt(i)) {
        val v: Any = l.colTypes(j) match {
          case LongType    => r.getLong(i)
          case IntegerType => r.getInt(i)
          case DoubleType  => r.getDouble(i)
          case FloatType   => r.getFloat(i)
          case _           => r.getUTF8String(i).clone()
        }
        val t = l.cols(j)._2
        if (cMin(j) == null || TableLog.cmpStat(t, v, cMin(j)) < 0) cMin(j) = v
        if (cMax(j) == null || TableLog.cmpStat(t, v, cMax(j)) > 0) cMax(j) = v
      }
      j += 1
    }
    j = 0
    while (j < aggs.length) {
      if (r.isNullAt(l.ndvIdx(j) + off)) nulls(j) += 1L
      else sketches(j) = aggs(j).update(sketches(j), r)
      j += 1
    }
  }

  /** Key `(min, max)`; `(0, 0)` when the row carries no key (the
    * identity-key sink's transitional bounds, re-staged at commit). */
  def keyBounds: (Long, Long) =
    if (l.keyIdx < 0) (0L, 0L)
    else {
      require(keyMin <= keyMax || rows == 0L,
        "staged file has rows but no non-null key")
      (keyMin, keyMax)
    }

  def colStats: Seq[TableLog.ColStat] =
    FileStats.foldCols(l, Seq(this))

  /** `(column, sketch bytes, nulls)` per sketched column. */
  def ndvCells: Seq[(String, Array[Byte], Long)] =
    l.ndvCols.indices.map { j =>
      val a = aggs(j)
      val fin = a.merge(a.createAggregationBuffer(),
        a.deserialize(a.serialize(sketches(j))))
      (l.ndvCols(j), a.eval(fin).asInstanceOf[Array[Byte]], nulls(j))
    }

  /** Manifest NDV tokens: `<b64 sketch>:<nulls>` per sketched column. */
  def ndvs: Seq[(String, String)] =
    ndvCells.map { case (c, b, n) => c -> FileStats.ndvToken(b, n) }
}

private[graft] object FileStats {
  def ndvToken(sketch: Array[Byte], nulls: Long): String =
    java.util.Base64.getEncoder.encodeToString(sketch) + ":" + nulls

  /** The column stats of several accumulators over the same layout
    * folded to one file, in the shared stat ordering; a column null in
    * every accumulator carries no stat. */
  def foldCols(l: StatLayout, accs: Seq[FileStats]): Seq[TableLog.ColStat] =
    l.cols.zipWithIndex.flatMap { case ((c, t), j) =>
      val mns = accs.map(_.cMin(j)).filter(_ != null)
      val mxs = accs.map(_.cMax(j)).filter(_ != null)
      if (mns.isEmpty) None
      else TableLog.mkColStat(c, t,
        mns.reduce((a, b) => if (TableLog.cmpStat(t, a, b) <= 0) a else b),
        mxs.reduce((a, b) => if (TableLog.cmpStat(t, a, b) >= 0) a else b))
    }

  /** The file-grain NDV tokens of per-partition-tuple accumulators:
    * each column's tuple sketches UNION by register max into one
    * HLL_4 sketch; null counts sum exactly. */
  def unionNdvs(accs: Seq[FileStats]): Seq[(String, String)] =
    accs.map(_.ndvCells).transpose.map { cells =>
      val u = new Union(TableLog.ndvLgK)
      cells.foreach(c => u.update(HllSketch.heapify(c._2)))
      cells.head._1 -> ndvToken(
        u.getResult(TgtHllType.HLL_4).toCompactByteArray, cells.map(_._3).sum)
    }
}
