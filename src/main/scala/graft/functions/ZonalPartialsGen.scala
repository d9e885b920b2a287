package graft.functions

import graft.geom.{RasterGrid, ZoneIndex}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The zonal per-tile kernel as a codegen-able COLLECTION GENERATOR —
  * the r8 replacement for the typed `Dataset.flatMap` boundary in
  * `ZonalStats.tilePartials`.
  *
  * Why: the flatMap path forces
  * `DeserializeToObject → MapPartitions → SerializeFromObject`, which
  * (a) splits whole-stage codegen around the hottest operator in the
  * engine and (b) materializes a `(String, Array[Byte], String)` per
  * tile — the ~16 KB payload is copied ONCE from the columnar scan
  * into the UnsafeRow and a SECOND time into the Scala byte array,
  * plus two String decodes. At 10⁶ tiles that is ~17 GB of pure
  * deserialization garbage per run (the "allocation-heavy" share of
  * the main-stage CPU in SCALING.md §2). As a CollectionGenerator the
  * kernel participates in whole-stage codegen: the scan's byte copy
  * is the ONLY copy, ids stay UTF8String, and scan → generate →
  * partial hash-aggregation fuse into one codegen stage.
  *
  * The pixel kernels themselves ([[graft.operators.ZonalStats
  * .processTile]] / `processTileLastWins`) are reused VERBATIM, so
  * per-pixel semantics (center-point assignment, isclose nodata,
  * top-left ties, last-burn-wins) are untouched; ZonalParitySpec and
  * the zonal driver oracles pin the equality. The zone index still
  * travels as a broadcast (torrent distribution for large zone sets);
  * only the handle is serialized in the plan.
  */
case class ZonalPartialsGen(id: Expression, bytes: Expression,
    fmt: Expression, grid: RasterGrid, bc: Broadcast[ZoneIndex],
    nodata: Option[Double], collectValues: Boolean, lastWins: Boolean)
    extends Expression with CollectionGenerator {

  override def children: Seq[Expression] = Seq(id, bytes, fmt)
  override def inline: Boolean = true
  override def position: Boolean = false
  override def prettyName: String = "zonal_partials"

  override def elementSchema: StructType = ZonalPartialsGen.Schema

  override def collectionType: DataType =
    ArrayType(elementSchema, containsNull = false)

  /** Shared kernel invocation: one ArrayData of struct rows per tile.
    * Null inputs (never produced by the tile table) yield no rows —
    * the same as the flatMap path, which could not see them at all
    * past the non-null scan schema. */
  def compute(idVal: UTF8String, bytesVal: Array[Byte],
      fmtVal: UTF8String): ArrayData = {
    if (idVal == null || bytesVal == null || fmtVal == null)
      return ZonalPartialsGen.EmptyRows
    val it =
      if (lastWins)
        graft.operators.ZonalStats.processTileLastWins(idVal.toString,
          bytesVal, fmtVal.toString, grid, bc.value, nodata,
          collectValues)
      else
        graft.operators.ZonalStats.processTile(idVal.toString, bytesVal,
          fmtVal.toString, grid, bc.value, nodata, collectValues)
    if (!it.hasNext) return ZonalPartialsGen.EmptyRows
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    it.foreach { p =>
      out += InternalRow(p.fid, p.cnt, p.nodata, p.mn, p.mx, p.sum,
        p.sumsq,
        if (p.vals.isEmpty) ZonalPartialsGen.EmptyVals
        else UnsafeArrayData.fromPrimitiveArray(p.vals))
    }
    new GenericArrayData(out.toArray)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = compute(
      id.eval(input).asInstanceOf[UTF8String],
      bytes.eval(input).asInstanceOf[Array[Byte]],
      fmt.eval(input).asInstanceOf[UTF8String])
    (0 until arr.numElements()).iterator
      .map(i => arr.getStruct(i, 8))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("zonalGen", this,
      classOf[ZonalPartialsGen].getName)
    val idG = id.genCode(ctx)
    val bG = bytes.genCode(ctx)
    val fG = fmt.genCode(ctx)
    val arrCls = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${idG.code}
        ${bG.code}
        ${fG.code}
        $arrCls ${ev.value} = $ref.compute(
          ${idG.isNull} ? null : ${idG.value},
          ${bG.isNull} ? null : ${bG.value},
          ${fG.isNull} ? null : ${fG.value});
      """, isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  override def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZonalPartialsGen =
    copy(id = newChildren(0), bytes = newChildren(1),
      fmt = newChildren(2))
}

object ZonalPartialsGen {
  /** One per-(tile, fid) partial row — also the schema of the
    * checkpointed partials parquet, so reading it back needs no
    * footer inference. */
  val Schema: StructType = StructType(Seq(
    StructField("fid", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("nodata", LongType, nullable = false),
    StructField("mn", DoubleType, nullable = false),
    StructField("mx", DoubleType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("sumsq", DoubleType, nullable = false),
    StructField("vals", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  private val EmptyRows = new GenericArrayData(Array.empty[Any])
  private val EmptyVals =
    UnsafeArrayData.fromPrimitiveArray(Array.empty[Float])
}
