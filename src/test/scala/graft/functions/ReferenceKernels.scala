package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Formulations the engine's native kernels replaced, kept as the
  * references the specs pin them against: the interpreted HOF MinHash
  * signatures behind `minhash_sig`/`minhash_sig_md5` (TextDedupSpec),
  * and `band_hit` over the band-key columns and the `dsir_sum` struct
  * behind the ingest screen's `near_dup_hit` and DSIR kernels
  * (TextQualitySpec). */
object ReferenceKernels {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  import org.apache.spark.sql.functions._

  /** MinHash signature as an array<long> of `numHashes` minima over word
    * `shingleSize`-shingles. Hash family: xxhash64(shingle, seed_i),
    * with each shingle hashed WITHOUT materializing its string: one
    * multi-argument xxhash64 over the n tokens of each window.
    *
    * Single-pass formulation: one `aggregate` over the shingle array
    * updating all minima via `zip_with`, so the shingle builder is
    * evaluated once per row — NOT once per hash function. Every lambda
    * reads ONLY its input elements: a lambda capturing an outer
    * expression re-evaluates it per array element. */
  def minHashSignature(text: Column, numHashes: Int = 32,
                       shingleSize: Int = 3): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val rolled = (2 to shingleSize).foldLeft(transform(toks, t => xxhash64(t))) {
      (acc, k) => zip_with(acc, slice(toks, k, 1 << 30),
        (a, b) => xxhash64(a, b))
    }
    val shingles = array_distinct(slice(rolled, lit(1),
      greatest(size(toks) - (shingleSize - 1), lit(0))))
    val init = transform(sequence(lit(1), lit(numHashes)),
      _ => lit(Long.MaxValue))
    aggregate(shingles, init, (acc, s) =>
      zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), i => xxhash64(s, i)),
        (a, h) => least(a, h)))
  }

  /** md5-derived MinHash signature — cross-engine recomputable (any SQL
    * engine with md5 can rebuild it, which is how the DuckDB oracle checks
    * t03 end to end): x = first 32 bits of md5(shingle), then the classic
    * universal family h_i(x) = (a_i*x + b_i) mod (2^31-1) with
    * deterministic a_i = 2654435761*(i+1) mod p, b_i = 40503*(i+1) mod p.
    * All arithmetic stays under 2^63 so Java long and SQL BIGINT agree. */
  def minHashSignatureMd5(text: Column, numHashes: Int = 32,
                          shingleSize: Int = 3): Column = {
    val P = 2147483647L
    val xs = transform(graft.ops.TextOps.wordShingles(text, shingleSize),
      s => graft.ops.TextOps.md5U32(s))
    val init = transform(sequence(lit(1), lit(numHashes)),
      _ => lit(Long.MaxValue))
    aggregate(xs, init, (acc, x) =>
      zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), i =>
          (((lit(2654435761L) * (i + 1)) % P) * x +
            ((lit(40503L) * (i + 1)) % P)) % P),
        (a, h) => least(a, h)))
  }

  /** [[DsirSumExpr]]'s sum is typed as a SUM over decimal(27,12) terms. */
  final val DsirSumPrecision = 37

  /** 1 when some band b's key `keys(b)` is in `sets(b)`, else 0. Keys are
    * longs (`longKeys`) or strings; a band past the sets' width, or a
    * null key, never hits. */
  def bandHit(keys: ArrayData, sets: Broadcast[StaticKernels.BandSets],
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
    * terms: each gram falls in bucket md5_u32(salt || gram) mod
    * terms.length and adds that bucket's term, an unscaled decimal(27,12)
    * long. A document without a gram returns (0, null). */
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
      sum = Math.addExact(sum, t((u32 % t.length).toInt))
      i += 1
    }
    InternalRow((m + 1).toLong, Decimal(sum, DsirSumPrecision, 12))
  }

  def band_hit(keys: Column, sets: Broadcast[StaticKernels.BandSets]): Column =
    column(BandHitExpr(expression(keys), sets))
  def dsir_sum(text: Column, n: Int, salt: String,
               terms: Broadcast[Array[Long]]): Column =
    column(DsirSumExpr(expression(text), n, salt, terms))
}

/** `band_hit(keys, sets)` — 0/1, whether any band's key is in the frozen
  * band index (see [[ReferenceKernels.bandHit]]). */
case class BandHitExpr(child: Expression,
                       sets: Broadcast[StaticKernels.BandSets])
    extends UnaryExpression {
  private lazy val longKeys: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    ReferenceKernels.bandHit(input.asInstanceOf[ArrayData], sets, longKeys)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("bandSets", sets,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ReferenceKernels.bandHit($c, $bc, $longKeys);""")
  }
  override protected def withNewChildInternal(c: Expression): BandHitExpr =
    copy(child = c)
  override def prettyName: String = "band_hit"
}

/** `dsir_sum(text, n, salt, terms)` — struct(n_grams, sum) of the text's
  * grams against the frozen DSIR terms (see [[ReferenceKernels.dsirSum]]). */
case class DsirSumExpr(child: Expression, n: Int, salt: String,
                       terms: Broadcast[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("sum", DecimalType(ReferenceKernels.DsirSumPrecision, 12))))
  private lazy val saltBytes =
    salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override def nullSafeEval(input: Any): Any =
    ReferenceKernels.dsirSum(input.asInstanceOf[UTF8String], n, saltBytes,
      terms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("dsirSalt", saltBytes, "byte[]")
    val bc = ctx.addReferenceObj("dsirTerms", terms,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ReferenceKernels.dsirSum($c, $n, $s, $bc);""")
  }
  override protected def withNewChildInternal(c: Expression): DsirSumExpr =
    copy(child = c)
  override def prettyName: String = "dsir_sum"
}
