package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._

/** Driver-built midrank tables: for each group key, the group's
  * distinct values sorted ascending (NaN greatest, -0.0 merged into
  * 0.0 — Spark's grouping and ordering) next to each value's pandas
  * average rank `before + (cnt + 1) / 2`, computed with the same double
  * operations the former stats join-back evaluated, so the ranks are
  * bit-identical. Group keys are Catalyst internal values
  * (`UTF8String`, boxed primitives); the ungrouped table has the single
  * key `null`. Built once per call on the driver and shipped to the
  * executors as ONE Spark broadcast (never a LocalRelation in the
  * plan). */
final class MidrankTable private (
    index: java.util.HashMap[AnyRef, Integer],
    vals: Array[Array[Double]],
    mids: Array[Array[Double]]) extends Serializable {

  /** Table slot of a group key, or -1 when the key was never probed. */
  def groupOf(key: AnyRef): Int = {
    val g = index.get(MidrankTable.normKey(key))
    if (g == null) -1 else g.intValue
  }
  def valuesOf(g: Int): Array[Double] = vals(g)
  def midranksOf(g: Int): Array[Double] = mids(g)

  /** Midrank of `v` in group `key` — the interpreted twin of the
    * generated binary search. */
  def midrank(key: AnyRef, v: Double): Double = {
    val g = groupOf(key)
    val i =
      if (g < 0) -1
      else java.util.Arrays.binarySearch(vals(g), MidrankTable.normValue(v))
    if (i < 0) throw missing(key, v)
    mids(g)(i)
  }

  /** A frame value absent from its table means the probe and the frame
    * disagree (a non-deterministic input, or a caller bug): fail loudly
    * instead of ranking the row null. */
  def missing(key: AnyRef, v: Double): IllegalStateException =
    new IllegalStateException(s"graft_midrank: value $v of group " +
      s"${if (key == null) "<none>" else key} is not in the probed table")
}

object MidrankTable {
  /** -0.0 → 0.0 and every NaN payload → the canonical NaN: the value
    * normalization Spark applies before grouping and joining. */
  def normValue(v: Double): Double =
    if (v.isNaN) Double.NaN else if (v == 0.0d) 0.0d else v

  private def normKey(k: AnyRef): AnyRef = k match {
    case d: java.lang.Double => java.lang.Double.valueOf(normValue(d))
    case f: java.lang.Float =>
      java.lang.Float.valueOf(
        if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f.floatValue)
    case other => other
  }

  /** Group-key types the table can hash: atomic types whose internal
    * values have value equality (`NullType` is the ungrouped table). */
  def keyTypeSupported(dt: DataType): Boolean = dt match {
    case NullType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** Build from exact per-group (value → count) histograms; `groups`
    * carries internal group keys. `ascending = false` accumulates the
    * before-counts from the greatest value down (NaN first), the
    * descending rank. */
  def build(groups: Seq[(AnyRef, Iterable[(Double, Long)])],
            ascending: Boolean = true): MidrankTable = {
    val index = new java.util.HashMap[AnyRef, Integer]
    val vals = new Array[Array[Double]](groups.size)
    val mids = new Array[Array[Double]](groups.size)
    groups.zipWithIndex.foreach { case ((k, hist), g) =>
      require(index.put(normKey(k), g) == null,
        s"MidrankTable: group key $k appears twice")
      val merged = new java.util.TreeMap[java.lang.Double, java.lang.Long]
      hist.foreach { case (v, n) =>
        val nv = java.lang.Double.valueOf(normValue(v))
        val prev = merged.get(nv)
        merged.put(nv, if (prev == null) n else prev + n)
      }
      val vs = new Array[Double](merged.size)
      val cs = new Array[Double](merged.size)
      var i = 0
      val it = merged.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        vs(i) = e.getKey; cs(i) = e.getValue.doubleValue; i += 1
      }
      val ms = new Array[Double](vs.length)
      var before = 0.0
      val order = if (ascending) vs.indices else vs.indices.reverse
      order.foreach { j =>
        ms(j) = before + (cs(j) + 1) / 2.0
        before += cs(j)
      }
      vals(g) = vs; mids(g) = ms
    }
    new MidrankTable(index, vals, mids)
  }
}

/** pandas average rank (`rank(method='average')`) of `value` within its
  * `key` group, looked up in a broadcast [[MidrankTable]]: one
  * whole-stage-codegen'd binary search per row instead of a join
  * against a stats relation. The probe that counted the values runs
  * once, the driver keeps the small sorted table, and ranks attach
  * map-side — no exchange, no join, no window.
  *
  * Semantics, pinned by FunctionsSpec:
  *   - null value → null rank; -0.0 ranks as 0.0; NaN ranks greatest;
  *   - a value (or group key) missing from the table throws — it means
  *     the frame is not the one that was probed;
  *   - `key` is a `NullType` null literal for the ungrouped rank. */
case class MidrankLookup(value: Expression, key: Expression,
                         table: Broadcast[MidrankTable])
  extends Expression {

  override def children: Seq[Expression] = Seq(value, key)
  override def checkInputDataTypes(): TypeCheckResult =
    if (value.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a double value, got ${value.dataType}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = value.nullable
  override def prettyName: String = "graft_midrank"
  override def toString: String = s"$prettyName($value, $key)"

  @transient private lazy val tbl: MidrankTable = table.value

  override def eval(input: InternalRow): Any = {
    val v = value.eval(input)
    if (v == null) null
    else tbl.midrank(key.eval(input).asInstanceOf[AnyRef],
      v.asInstanceOf[Double])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableCls = classOf[MidrankTable].getName
    val bref = ctx.addReferenceObj("midrankTables", table,
      classOf[Broadcast[_]].getName)
    // the broadcast is read once per generated-class instance, on the
    // executor that runs it
    val t = ctx.addMutableState(tableCls, "midrankTable",
      v => s"$v = ($tableCls) $bref.value();", forceInline = true)
    val vGen = value.genCode(ctx)
    val kGen = key.genCode(ctx)
    val keyObj =
      if (key.dataType == NullType) "null"
      else if (CodeGenerator.isPrimitiveType(key.dataType))
        s"(${kGen.isNull} ? null : " +
          s"(Object) ${CodeGenerator.boxedType(key.dataType)}.valueOf(${kGen.value}))"
      else s"(${kGen.isNull} ? null : (Object) ${kGen.value})"
    val k = ctx.freshName("key")
    val nv = ctx.freshName("nv")
    val g = ctx.freshName("g")
    val idx = ctx.freshName("idx")
    val code =
      code"""
        |${vGen.code}
        |${kGen.code}
        |boolean ${ev.isNull} = ${vGen.isNull};
        |double ${ev.value} = -1.0;
        |if (!${ev.isNull}) {
        |  final Object $k = $keyObj;
        |  final double $nv = Double.isNaN(${vGen.value}) ? Double.NaN
        |    : (${vGen.value} == 0.0d ? 0.0d : ${vGen.value});
        |  final int $g = $t.groupOf($k);
        |  int $idx = -1;
        |  if ($g >= 0) {
        |    $idx = java.util.Arrays.binarySearch($t.valuesOf($g), $nv);
        |  }
        |  if ($idx < 0) {
        |    throw $t.missing($k, ${vGen.value});
        |  }
        |  ${ev.value} = $t.midranksOf($g)[$idx];
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), key = newChildren(1))
}

object MidrankLookup {
  import org.apache.spark.sql.GraftSqlShim

  /** Midrank of `value` (cast to double) within its `key` group; the
    * table holds exact per-group histograms whose keys are EXTERNAL
    * values of `keyType` (as collected), converted here. */
  def midrankBy(spark: SparkSession, key: Column, keyType: DataType,
                value: Column,
                perKey: Seq[(Any, Iterable[(Double, Long)])]): Column = {
    require(MidrankTable.keyTypeSupported(keyType),
      s"graft_midrank: unsupported group-key type $keyType")
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(keyType)
    val t = MidrankTable.build(perKey.map { case (k, h) =>
      (toInternal(k).asInstanceOf[AnyRef], h) })
    GraftSqlShim.column(MidrankLookup(
      GraftSqlShim.expression(value.cast("double")),
      GraftSqlShim.expression(key), spark.sparkContext.broadcast(t)))
  }

  /** Ungrouped midrank of `value` (cast to double) from its exact
    * (value → count) histogram. */
  def midrank(spark: SparkSession, value: Column,
              counts: Iterable[(Double, Long)],
              ascending: Boolean = true): Column =
    GraftSqlShim.column(MidrankLookup(
      GraftSqlShim.expression(value.cast("double")),
      Literal(null, NullType),
      spark.sparkContext.broadcast(
        MidrankTable.build(Seq((null, counts)), ascending))))
}
