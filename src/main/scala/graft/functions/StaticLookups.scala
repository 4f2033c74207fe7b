package graft.functions

import scala.reflect.ClassTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
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

  /** The near-dup gate's lookup flag of `text`: 0 for a null text or one
    * with fewer than `shingleSize` whitespace parts
    * ([[TextKernels.wsParts]]); otherwise 1 when, over the MinHash
    * signature of `bands · rowsPerBand` rows, some band b's key is in
    * `sets(b)`, else 0. A band past the sets' width never hits. Band b's
    * key is what the band-key columns the index is built with give its
    * rows [b·r, (b+1)·r): in the xxhash64 family (`minhash`)
    * `xxhash64(slice(sig, b·r+1, r), b)`, i.e. seed 42, `hashLong` folded
    * over the slice, then `hashInt(b)`, boxed; in the md5 family
    * (`minhashMd5`) the lowercase hex md5 of the slice's decimal strings
    * joined by ','. */
  def nearDupHit(text: UTF8String, sets: Broadcast[BandSets], bands: Int,
                 rowsPerBand: Int, shingleSize: Int,
                 md5Keys: Boolean): Long = {
    if (text == null || TextKernels.wsParts(text) < shingleSize) return 0L
    val s = sets.value
    val m = math.min(bands, s.length)
    val sig =
      if (md5Keys) SketchKernels.minhashMd5(text, bands * rowsPerBand,
        shingleSize)
      else SketchKernels.minhash(text, bands * rowsPerBand, shingleSize)
    var b = 0
    while (b < m) {
      val lo = b * rowsPerBand
      val key: AnyRef =
        if (md5Keys) md5BandKey(sig, lo, rowsPerBand)
        else {
          var h = 42L
          var i = lo
          while (i < lo + rowsPerBand) { h = XXH64.hashLong(sig(i), h); i += 1 }
          java.lang.Long.valueOf(XXH64.hashInt(b, h))
        }
      if (s(b).contains(key)) return 1L
      b += 1
    }
    0L
  }

  /** `md5(array_join(transform(slice(sig, lo+1, r), cast string), ","))`
    * with the hex encoder of Spark's own `md5`. */
  private def md5BandKey(sig: Array[Long], lo: Int, r: Int): UTF8String =
    UTF8String.fromString(org.apache.commons.codec.digest.DigestUtils
      .md5Hex(sig.slice(lo, lo + r).mkString(",")))

  /** DSIR log weight of a document's word n-grams against per-bucket
    * terms: each gram (the [[SketchKernels.gramStrings]] windows) falls in
    * bucket md5_u32(salt || gram) mod terms.length and adds that bucket's
    * term, an unscaled decimal(27,12) long. The sum is exact: a sum past
    * the signed 64-bit range throws, naming dsirScore. Returns the sum as
    * a double (the decimal's own conversion) rounded HALF_UP to 6 places,
    * or null for a document without a gram. */
  def dsirLogWeight(text: UTF8String, n: Int, salt: Array[Byte],
                    terms: Broadcast[Array[Long]]): java.lang.Double = {
    val t = terms.value
    val toks = SketchKernels.columnTokens(text)
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = toks.length - n
    if (m < 0) return null
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
    java.math.BigDecimal.valueOf(
        java.math.BigDecimal.valueOf(sum, 12).doubleValue)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }
}

/** `near_dup_hit(text, sets, bands, rowsPerBand, shingleSize, md5Keys)` —
  * 0/1, never null, see [[StaticKernels.nearDupHit]]. */
case class NearDupHitExpr(child: Expression,
                          sets: Broadcast[StaticKernels.BandSets],
                          bands: Int, rowsPerBand: Int, shingleSize: Int,
                          md5Keys: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    StaticKernels.nearDupHit(child.eval(input).asInstanceOf[UTF8String],
      sets, bands, rowsPerBand, shingleSize, md5Keys)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("bandSets", sets,
      classOf[Broadcast[_]].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = graft.functions.StaticKernels.nearDupHit(
        ${c.isNull} ? null : ${c.value}, $bc, $bands, $rowsPerBand,
        $shingleSize, $md5Keys);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): NearDupHitExpr =
    copy(child = c)
  override def prettyName: String = "near_dup_hit"
}

/** `dsir_log_weight(text, n, salt, terms)` — double, null for a null text
  * or one without a gram, see [[StaticKernels.dsirLogWeight]]. */
case class DsirLogWeightExpr(child: Expression, n: Int, salt: String,
                             terms: Broadcast[Array[Long]])
    extends UnaryExpression {
  require(n >= 1, s"gram width $n must be >= 1")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val saltBytes =
    salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override def nullSafeEval(input: Any): Any = StaticKernels.dsirLogWeight(
    input.asInstanceOf[UTF8String], n, saltBytes, terms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("dsirSalt", saltBytes, "byte[]")
    val bc = ctx.addReferenceObj("dsirTerms", terms,
      classOf[Broadcast[_]].getName)
    val w = ctx.freshName("w")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double $w =
        graft.functions.StaticKernels.dsirLogWeight($c, $n, $s, $bc);
      if ($w == null) ${ev.isNull} = true; else ${ev.value} = $w;""")
  }
  override protected def withNewChildInternal(c: Expression): DsirLogWeightExpr =
    copy(child = c)
  override def prettyName: String = "dsir_log_weight"
}
