package graft.functions

import scala.reflect.ClassTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A small static frame collected to the driver and shipped to the
  * executors once through `SparkContext.broadcast`, for kernels that probe
  * it per row instead of joining against it.
  *
  * A static whose plan is a checkpoint (`LogicalRDD`: the product of
  * `localCheckpoint()` or `checkpoint()`, whose rows cannot change) is
  * collected once per checkpoint and kept in a weak map keyed on its RDD,
  * so later calls against it run no job; the entry goes when the
  * checkpoint does. Any other static is collected on every call — the
  * same job the `BroadcastExchange` of a join against it would run.
  * `collect` must either return the one value the static stands for or
  * throw; a throw caches nothing. */
final class StaticCache[T: ClassTag] {
  private val frozen = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Broadcast[T]]())

  def apply(static: DataFrame)(collect: DataFrame => T): Broadcast[T] = {
    def ship = static.sparkSession.sparkContext.broadcast(collect(static))
    static.queryExecution.analyzed match {
      case lr: LogicalRDD => frozen.computeIfAbsent(lr.rdd, _ => ship)
      case _ => ship
    }
  }
}

object StaticKernels {
  /** A band index as per-band key sets: element b holds band b's keys. */
  type BandSets = Array[java.util.HashSet[AnyRef]]

  /** [[dsirSum]]'s sum is typed as a SUM over decimal(27,12) terms. */
  final val DsirSumPrecision = 37

  /** 1 when some band b's key `keys(b)` is in `sets(b)`, else 0. Keys are
    * longs (`longKeys`) or strings; a band past the sets' width, or a
    * null key, never hits. */
  def bandHit(keys: ArrayData, sets: Broadcast[BandSets],
              longKeys: Boolean): Long = {
    val s = sets.value
    val m = math.min(keys.numElements(), s.length)
    var b = 0
    while (b < m) {
      if (!keys.isNullAt(b)) {
        val k: AnyRef =
          if (longKeys) java.lang.Long.valueOf(keys.getLong(b))
          else keys.getUTF8String(b)
        if (s(b).contains(k)) return 1L
      }
      b += 1
    }
    0L
  }

  /** (n_grams, sum) of a document's word n-grams against per-bucket
    * terms: each gram (the [[SketchKernels.gramStrings]] windows) falls in
    * bucket md5_u32(salt || gram) mod terms.length and adds that bucket's
    * term, an unscaled decimal(27,12) long. The sum is exact: a sum past
    * the signed 64-bit range throws, naming dsirScore. A document without
    * a gram returns (0, null). */
  def dsirSum(text: UTF8String, n: Int, salt: Array[Byte],
              terms: Broadcast[Array[Long]]): InternalRow = {
    val t = terms.value
    val toks = SketchKernels.columnTokens(text)
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = toks.length - n
    if (m < 0) return InternalRow(0L, null)
    val md = SketchKernels.md5Local.get()
    var sum = 0L
    var i = 0
    while (i <= m) {
      md.reset()
      md.update(salt)
      var k = 0
      while (k < n) {
        if (k > 0) md.update(' '.toByte)
        md.update(toks(i + k))
        k += 1
      }
      val d = md.digest()
      val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      try sum = Math.addExact(sum, t((u32 % t.length).toInt))
      catch {
        case _: ArithmeticException => throw new ArithmeticException(
          "dsirScore: a document's log-weight sum left the exact range " +
            "of a 64-bit unscaled decimal(27,12) (|sum| < 9.2e6)")
      }
      i += 1
    }
    InternalRow((m + 1).toLong, Decimal(sum, DsirSumPrecision, 12))
  }
}

/** `band_hit(keys, sets)` — 0/1, whether any band's key is in the frozen
  * band index (see [[StaticKernels.bandHit]]). */
case class BandHitExpr(child: Expression,
                       sets: Broadcast[StaticKernels.BandSets])
    extends UnaryExpression {
  private lazy val longKeys: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    StaticKernels.bandHit(input.asInstanceOf[ArrayData], sets, longKeys)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("bandSets", sets,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.StaticKernels.bandHit($c, $bc, $longKeys);""")
  }
  override protected def withNewChildInternal(c: Expression): BandHitExpr =
    copy(child = c)
  override def prettyName: String = "band_hit"
}

/** `dsir_sum(text, n, salt, terms)` — struct(n_grams, sum) of the text's
  * grams against the frozen DSIR terms (see [[StaticKernels.dsirSum]]). */
case class DsirSumExpr(child: Expression, n: Int, salt: String,
                       terms: Broadcast[Array[Long]])
    extends UnaryExpression {
  require(n >= 1, s"gram width $n must be >= 1")
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("sum", DecimalType(StaticKernels.DsirSumPrecision, 12))))
  private lazy val saltBytes =
    salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override def nullSafeEval(input: Any): Any =
    StaticKernels.dsirSum(input.asInstanceOf[UTF8String], n, saltBytes, terms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("dsirSalt", saltBytes, "byte[]")
    val bc = ctx.addReferenceObj("dsirTerms", terms,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.StaticKernels.dsirSum($c, $n, $s, $bc);""")
  }
  override protected def withNewChildInternal(c: Expression): DsirSumExpr =
    copy(child = c)
  override def prettyName: String = "dsir_sum"
}
