package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Native Catalyst expressions for the dedup sketch hot path.
  *
  * The higher-order-function formulations (graft.ops.Dedup) are pure
  * `functions._` compositions — correct and shuffle-friendly, but each
  * shingle allocates intermediate arrays inside aggregate/zip_with. These
  * expressions run one tight JVM loop per row over the tokenized text with
  * zero per-shingle allocation, and generate inline Java (doGenCode) so
  * they stay inside the whole-stage-codegen span of the enclosing plan.
  *
  * Hash family: XXH64 over the UTF-8 token bytes, chained across the n
  * tokens of a shingle (seed = previous hash), then re-seeded per minhash
  * function — the same construction as the HOF version, so both paths are
  * drop-in equivalent sketch families (not bit-identical, both valid).
  */
object SketchKernels {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** Token hashes of the lowercased, trimmed text — one XXH64 per token. */
  def tokenHashes(text: UTF8String, seed: Long): Array[Long] = {
    val s = text.trimAll().toLowerCase.toString
    if (s.isEmpty) return Array.emptyLongArray
    val toks = ws.split(s)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(i) = XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)
      i += 1
    }
    out
  }

  /** Rolling shingle hashes: h(i) = chain of n consecutive token hashes. */
  def shingleHashes(th: Array[Long], n: Int): Array[Long] = {
    val m = th.length - (n - 1)
    if (m <= 0) return Array.emptyLongArray
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = th(i)
      var k = 1
      while (k < n) { h = XXH64.hashLong(th(i + k), h); k += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** Distinct shingle hashes (sorted — set identity is what matters). */
  /** |a ∩ b| over two ascending-sorted duplicate-free long arrays —
    * the [[graft.functions.SortedIntersectCountExpr]] kernel. Both
    * preconditions are what [[distinctShingles]] guarantees. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val la = a.numElements(); val lb = b.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < la && j < lb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  def distinctShingles(text: UTF8String, shingleSize: Int): Array[Long] = {
    val sh = shingleHashes(tokenHashes(text, 42L), shingleSize)
    if (sh.length <= 1) return sh
    java.util.Arrays.sort(sh)
    var n = 1
    var i = 1
    while (i < sh.length) {
      if (sh(i) != sh(i - 1)) { sh(n) = sh(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(sh, n)
  }

  def minhash(text: UTF8String, numHashes: Int, shingleSize: Int): Array[Long] = {
    val sh = shingleHashes(tokenHashes(text, 42L), shingleSize)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var j = 0
      while (j < numHashes) {
        val h = XXH64.hashLong(sh(i), j.toLong)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Tokens exactly as the Column path produces them:
    * `split(lower(trim(text)), "\\s+")` — UTF8String.trim strips ASCII
    * spaces only (Spark's `trim`), then lowercase, then regex split. The
    * md5 kernels below must agree bit-for-bit with the HOF formulations
    * the specs keep (and hence the DuckDB oracle), so they share this
    * tokenizer rather than the trimAll-based one above. */
  private[functions] def columnTokens(text: UTF8String): Array[String] = {
    val s = text.trim().toLowerCase.toString
    // limit -1: Spark's `split` keeps trailing empty strings; Java's
    // default drops them (differs when text ends in non-space whitespace,
    // which space-only `trim` leaves in place)
    ws.split(s, -1)
  }

  private[functions] val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** First 4 bytes of md5(s) as an unsigned 32-bit value — the number
    * DuckDB gets from `('0x'||substr(md5(s),1,8))::bigint` and Spark's
    * Column path from `conv(substring(md5(s),1,8),16,10)`. Second chunk
    * (hex chars 9-16) returned alongside for SimHash. */
  private def md5Chunks(s: String): (Long, Long) = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val c0 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val c1 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    (c0, c1)
  }

  /** First `hexChars` hex characters of md5(s) as an unsigned long —
    * the value `conv(substring(md5(s), 1, hexChars), 16, 10)` computes,
    * read straight off the digest bytes (hex char i is nibble i of the
    * big-endian digest) instead of hex-encoding 32 chars, substringing
    * and string-parsing base 16 per row. Value-identical for every
    * input; hexChars <= 15 keeps the result in [0, 2^60) non-negative.
    * This chain sat under every hash60 consumer (gram digests, KMV,
    * CMS x depth rows, shard shuffle, stratified split), several of
    * which run it inside single-task fixture scans. */
  def md5Prefix(s: UTF8String, hexChars: Int): Long =
    md5Prefix(s.getBytes, hexChars)

  /** [[md5Prefix]] of a binary value: its bytes digest as they are. */
  def md5Prefix(bytes: Array[Byte], hexChars: Int): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < hexChars) {
      val nibble =
        if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xf else d(i >> 1) & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }

  /** Per-position word-n-gram digests: element i is the digest of the
    * space-joined gram tokens[i..i+n-1] over the [[columnTokens]]
    * tokenization (= split(lower(trim(text)), "\\s+")) — one compact
    * long array per document, the native form of the shifted-slices +
    * arrays_zip + posexplode + per-window digest column chain
    * (value-identical, SketchExprSpec pins both families). md5Keys
    * selects hash60 of the joined gram (digest streamed over the token
    * bytes + single ' ' separators — byte-identical to digesting the
    * joined string, UTF-8 being context-free); the xxhash64 family
    * chains each token through XXH64 with seed 42, exactly
    * xxhash64(s0, ..., s(n-1)). Fewer than n tokens -> empty array
    * (the complete-window filter); n = 1 emits every token incl. the
    * [""] of empty text, matching the column form. */
  def gramDigests(text: UTF8String, n: Int, md5Keys: Boolean): Array[Long] = {
    val toks = columnTokens(text)
    val m = toks.length - n
    if (m < 0) return Array.emptyLongArray
    val out = new Array[Long](m + 1)
    if (md5Keys) {
      val md = md5Local.get()
      var i = 0
      while (i <= m) {
        md.reset()
        var k = 0
        while (k < n) {
          if (k > 0) md.update(' '.toByte)
          md.update(toks(i + k)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          k += 1
        }
        val d = md.digest()
        out(i) = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
        i += 1
      }
    } else {
      val tb = new Array[Array[Byte]](toks.length)
      var j = 0
      while (j < toks.length) {
        tb(j) = toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        j += 1
      }
      var i = 0
      while (i <= m) {
        var h = 42L
        var k = 0
        while (k < n) {
          val b = tb(i + k)
          h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(b,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              b.length, h)
          k += 1
        }
        out(i) = h
        i += 1
      }
    }
    out
  }

  /** Per-position word-n-gram STRINGS (space-joined) over the
    * [[columnTokens]] tokenization — the native form of the
    * shifted-slices + arrays_zip + explode + concat_ws chain for
    * consumers whose gram keys stay strings (the lm/dsir/top-ngram
    * family joins and oracle-replays the literal bigram text). Same
    * window semantics as [[gramDigests]]: fewer than n tokens -> empty
    * array; n = 1 emits every token including the [""] of empty
    * text. */
  def gramStrings(text: UTF8String, n: Int): Array[UTF8String] = {
    val toks = columnTokens(text)
    val m = toks.length - n
    if (m < 0) return Array.empty[UTF8String]
    val out = new Array[UTF8String](m + 1)
    var i = 0
    while (i <= m) {
      if (n == 1) out(i) = UTF8String.fromString(toks(i))
      else {
        val sb = new java.lang.StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        out(i) = UTF8String.fromString(sb.toString)
      }
      i += 1
    }
    out
  }

  private final val MersennePrime = 2147483647L

  /** md5-derived MinHash signature — bit-identical to the test-scope
    * HOF formulation ReferenceKernels.minHashSignatureMd5 (and the
    * DuckDB oracle): x = first 32 bits of md5(shingle),
    * h_i(x) = (a_i*x + b_i) mod (2^31-1), a_i = 2654435761*(i+1) mod p,
    * b_i = 40503*(i+1) mod p. One tight loop, no per-shingle allocation
    * beyond the joined shingle string (which md5 needs materialized). */
  def minhashMd5(text: UTF8String, numHashes: Int, shingleSize: Int): Array[Long] = {
    val toks = columnTokens(text)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      as(j) = (2654435761L * (j + 1)) % MersennePrime
      bs(j) = (40503L * (j + 1)) % MersennePrime
      j += 1
    }
    val m = toks.length - shingleSize
    var i = 0
    while (i <= m) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < shingleSize) { sb.append(' ').append(toks(i + k)); k += 1 }
      val x = md5Chunks(sb.toString)._1
      j = 0
      while (j < numHashes) {
        val h = (as(j) * x + bs(j)) % MersennePrime
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** md5-derived 64-bit SimHash — bit-identical to the HOF formulation
    * TextDedupSpec keeps (and the DuckDB oracle): distinct word shingles; bit b of a shingle's feature hash is
    * bit b%32 of md5 chunk b/32; majority vote per bit (>0 sets the bit). */
  def simhashMd5(text: UTF8String, shingleSize: Int): Long = {
    val toks = columnTokens(text)
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](64)
    val m = toks.length - shingleSize
    var i = 0
    while (i <= m) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < shingleSize) { sb.append(' ').append(toks(i + k)); k += 1 }
      val s = sb.toString
      if (seen.add(s)) {
        val (c0, c1) = md5Chunks(s)
        var b = 0
        while (b < 32) {
          if (((c0 >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          if (((c1 >>> b) & 1L) == 1L) votes(b + 32) += 1 else votes(b + 32) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhash(text: UTF8String, shingleSize: Int): Long = {
    val sh = shingleHashes(tokenHashes(text, 42L), shingleSize)
    // distinct features: sort a copy, skip equal neighbors
    java.util.Arrays.sort(sh)
    val votes = new Array[Int](64)
    var i = 0
    while (i < sh.length) {
      if (i == 0 || sh(i) != sh(i - 1)) {
        val h = sh(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** `minhash_sig(text)` — array<long> MinHash signature, native kernel. */
case class MinHashSigExpr(child: Expression, numHashes: Int = 32,
                          shingleSize: Int = 3)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(SketchKernels.minhash(
      input.asInstanceOf[UTF8String], numHashes, shingleSize))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SketchKernels.minhash($c, $numHashes, $shingleSize));
         |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** `shingle_hashes(text)` — distinct 64-bit word-shingle hashes. */
case class ShingleHashesExpr(child: Expression, shingleSize: Int = 3)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(SketchKernels.distinctShingles(
      input.asInstanceOf[UTF8String], shingleSize))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SketchKernels.distinctShingles($c, $shingleSize));
         |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr =
    copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** `sorted_intersect_count(a, b)` — |a ∩ b| for two ASCENDING-sorted
  * duplicate-free long arrays (what [[ShingleHashesExpr]] emits), one
  * two-pointer pass, zero allocation. Round-16: jaccardVerify's
  * intersection previously EXPLODED both shingle sets and counted the
  * equality join's rows — the count is identical (distinct arrays make
  * the join multiplicity 1 per shared value), but the exploded form
  * sort-merge-sorted millions of (id, shingle) rows per side where
  * this kernel walks two already-sorted arrays per candidate pair. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count requires two array<bigint>, got " +
            s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sortedIntersectCount(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.SketchKernels.sortedIntersectCount($a, $b);""")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SortedIntersectCountExpr = copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

/** `minhash_sig_md5(text)` — the md5-derived MinHash signature (same
  * values as the HOF formulation and the DuckDB oracle), native kernel. */
case class MinHashSigMd5Expr(child: Expression, numHashes: Int = 32,
                             shingleSize: Int = 3)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(SketchKernels.minhashMd5(
      input.asInstanceOf[UTF8String], numHashes, shingleSize))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SketchKernels.minhashMd5($c, $numHashes, $shingleSize));
         |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): MinHashSigMd5Expr =
    copy(child = c)
  override def prettyName: String = "minhash_sig_md5"
}

/** `simhash64_md5(text)` — the md5-derived 64-bit SimHash (same values as
  * the HOF formulation and the DuckDB oracle), native kernel. */
case class SimHash64Md5Expr(child: Expression, shingleSize: Int = 2)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhashMd5(input.asInstanceOf[UTF8String], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.simhashMd5($c, $shingleSize);")
  override protected def withNewChildInternal(c: Expression): SimHash64Md5Expr =
    copy(child = c)
  override def prettyName: String = "simhash64_md5"
}

/** `simhash64(text)` — 64-bit SimHash over word shingles, native kernel. */
case class SimHash64Expr(child: Expression, shingleSize: Int = 2)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhash(input.asInstanceOf[UTF8String], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchKernels.simhash($c, $shingleSize);")
  override protected def withNewChildInternal(c: Expression): SimHash64Expr =
    copy(child = c)
  override def prettyName: String = "simhash64"
}

object LineKernel {
  /** Per-line (line_no, xxhash64, blank) rows for corpus-wide line dedup —
    * the hash-first kernel: one pass over the document's UTF-8 bytes, no
    * line-string materialization. Splits on the 0x0A byte (UTF-8-safe:
    * a continuation byte is never 0x0A) keeping trailing empty segments,
    * exactly like Spark's `split(text, "\n")`; `blank` mirrors the
    * `trim(ln) = ''` predicate (T-SQL-parity trim: the space character
    * only); hash = XXH64 over the line's raw bytes, seed 42. */
  def lineHashes(text: UTF8String): Array[InternalRow] = {
    val b = text.getBytes
    val n = b.length
    var cnt = 1
    var i = 0
    while (i < n) { if (b(i) == '\n') cnt += 1; i += 1 }
    val out = new Array[InternalRow](cnt)
    var seg = 0
    var start = 0
    while (seg < cnt) {
      var end = start
      while (end < n && b(end) != '\n') end += 1
      var blank = true
      var j = start
      while (j < end && blank) { if (b(j) != ' ') blank = false; j += 1 }
      val h = XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
        end - start, 42L)
      out(seg) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](seg + 1, h, blank))
      seg += 1
      start = end + 1
    }
    out
  }
}

/** `line_hashes(text)` — array<struct<line_no,h,blank>>, one element per
  * line, hash-first (the exploded rows carry an 8-byte digest instead of
  * the line text — see TextOps.lineDedupScalable for the shuffle math). */
case class LineHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("line_no", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false),
    StructField("blank", BooleanType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(LineKernel.lineHashes(input.asInstanceOf[UTF8String])
      .asInstanceOf[Array[Any]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LineKernel.lineHashes($c));
         |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): LineHashesExpr =
    copy(child = c)
  override def prettyName: String = "line_hashes"
}

object VectorKernels {
  /** Cosine similarity with sequential double accumulation — bit-identical
    * to the zip_with/aggregate fold it replaces (same operation order), so
    * DuckDB-oracle parity is preserved. Accepts float or double arrays. */
  def cosine(a: ArrayData, b: ArrayData, isFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
    } else {
      while (i < n) {
        val x = a.getDouble(i)
        val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Squared L2 with sequential double accumulation — bit-identical to
    * the zip_with/aggregate fold it replaces (same operation order:
    * (x-y)*(x-y) per dimension, left-to-right sum), so DuckDB-oracle
    * parity is preserved. Accepts float or double arrays. */
  def l2sq(a: ArrayData, b: ArrayData, isFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
        acc += d * d
        i += 1
      }
    } else {
      while (i < n) {
        val d = a.getDouble(i) - b.getDouble(i)
        acc += d * d
        i += 1
      }
    }
    acc
  }

  /** Argmin over a broadcast centroid-vector array: the index i (0-based,
    * = centroid RANK when the caller sorts the array by centroid id)
    * minimizing the packed ordering
    * `floor(-cosine(vec, cvecs[i]) * 1e12).toLong * 2^20 + i` — the
    * EXACT long arithmetic graft.ops.Similarity.ivfAssign's min_by form
    * used (1e-12-bucketed distance, rank tiebreak), so assignment is
    * bit-identical to the aggregate it replaces and to the DuckDB
    * oracles that replay `ORDER BY -cosine, centroid_id`. Null centroid
    * vectors are skipped (min_by ignored null orderings); -1 when every
    * element is null or the array is empty (the expression maps it to
    * SQL NULL). Fails loud past 2^20 centroids — the packing bound. */
  def ivfArgminIdx(vec: ArrayData, cvecs: ArrayData, isFloat: Boolean): Int = {
    val n = cvecs.numElements()
    if (n >= 1048576)
      throw new IllegalArgumentException(
        "ivf_argmin packs the centroid rank into 20 bits; the centroid " +
          s"array has $n >= 2^20 elements")
    var best = Long.MaxValue
    var bestI = -1
    var i = 0
    while (i < n) {
      if (!cvecs.isNullAt(i)) {
        val c = cosine(vec, cvecs.getArray(i), isFloat)
        val packed = Math.floor(-c * 1e12).toLong * 1048576L + i
        if (packed < best) { best = packed; bestI = i }
      }
      i += 1
    }
    bestI
  }

  /** Squared-L2 argmin over a broadcast codeword array: the index i
    * (0-based = code RANK when the caller sorts by code id) minimizing
    * exact-double l2sq(vec, ws[i]), strict `<` so the FIRST (lowest
    * rank = lowest code id) wins exact ties — the fast-sum twin of
    * pqEncode's decimal-packed argmin (the production `exactSums =
    * false` path: no decimal packing, no aggregate; ordering can
    * differ from the exact path only when two distances land within
    * the decimal's 1e-12 truncation of each other, rank-identity
    * spec-pinned on the fixture). Null codewords are skipped; -1 when
    * every element is null or the array is empty. */
  def l2ArgminIdx(vec: ArrayData, ws: ArrayData, isFloat: Boolean): Int = {
    val n = ws.numElements()
    var best = Double.PositiveInfinity
    var bestI = -1
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) {
        // strict < : the first (lowest-rank) occurrence of the minimum
        // wins ties; NaN/Infinite distances never satisfy it and are
        // skipped — the exact path's decimal cast also nulls them out
        val d = l2sq(vec, ws.getArray(i), isFloat)
        if (d < best) { best = d; bestI = i }
      }
      i += 1
    }
    bestI
  }
}

/** `cosine_sim(a, b)` — cosine similarity of two float/double arrays.
  * Both inputs must be arrays of the SAME element type (float or double);
  * mixed widths are rejected at analysis time rather than silently read
  * with the wrong-width accessor. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim requires two array<float> or two array<double> " +
            s"arguments, got ${l.simpleString(10)} and ${r.simpleString(10)}")
    }
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.cosine($a, $b, $isFloat);")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CosineSimExpr = copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** `l2_sq(a, b)` — squared Euclidean distance of two float/double arrays;
  * the codegen'd kernel under the PQ encode/ADC hot path
  * (graft.ops.Similarity.pqEncode / pqTopK run it corpus x codebook
  * times — interpreted HOF folds benched ~10x slower there). */
case class L2SqExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"l2_sq requires two array<float> or two array<double> " +
            s"arguments, got ${l.simpleString(10)} and ${r.simpleString(10)}")
    }
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.l2sq($a, $b, $isFloat);")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): L2SqExpr = copy(left = l, right = r)
  override def prettyName: String = "l2_sq"
}

/** `ivf_argmin(vec, cvecs)` — 0-based index of the centroid vector in
  * `cvecs` (an array<array<float|double>> the caller has sorted into
  * rank order) nearest to `vec` under ivfAssign's packed
  * (1e-12-bucketed -cosine, rank) ordering; NULL when `cvecs` is empty
  * or all-null. The join-free quantizer kernel: one native loop per
  * corpus row over the broadcast centroid array — no corpus x k
  * expansion, no aggregate, no exchange (round-14 x44 variance fix:
  * the aggregate form's (id, vector) group key re-normalized and
  * re-hashed the float array per expansion row, and its exchange
  * never reused across semanticDedup's three assignment consumers). */
case class IvfArgminExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _)) |
           (ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_argmin requires (array<float>, array<array<float>>) or " +
            s"(array<double>, array<array<double>>), got " +
            s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val idx = VectorKernels.ivfArgminIdx(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], isFloat)
    if (idx < 0) null else idx
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.VectorKernels.ivfArgminIdx($a, $b, $isFloat);
      if (${ev.value} < 0) { ${ev.isNull} = true; }""")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): IvfArgminExpr = copy(left = l, right = r)
  override def prettyName: String = "ivf_argmin"
}

/** `l2_argmin(vec, ws)` — 0-based index of the codeword in `ws` (an
  * array<array<float|double>> sorted into rank order by the caller)
  * nearest to `vec` by exact-double squared L2, first-lowest-rank tie
  * rule; NULL when `ws` is empty or all-null. The PQ fast-sum
  * (`exactSums = false`) encode kernel — see
  * [[VectorKernels.l2ArgminIdx]] and graft.ops.Similarity.pqEncode. */
case class L2ArgminExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _)) |
           (ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"l2_argmin requires (array<float>, array<array<float>>) or " +
            s"(array<double>, array<array<double>>), got " +
            s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val idx = VectorKernels.l2ArgminIdx(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], isFloat)
    if (idx < 0) null else idx
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.VectorKernels.l2ArgminIdx($a, $b, $isFloat);
      if (${ev.value} < 0) { ${ev.isNull} = true; }""")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): L2ArgminExpr = copy(left = l, right = r)
  override def prettyName: String = "l2_argmin"
}

/** `md5_prefix(s, hexChars)` — first hexChars hex digits of md5(s) as a
  * long; the native form of `conv(substring(md5(s),1,hexChars),16,10)`
  * (value-identical — see [[SketchKernels.md5Prefix]]). A string child
  * digests its UTF-8 bytes, a binary child its bytes as they are — what
  * Spark's `md5` does with each. */
case class Md5PrefixExpr(child: Expression, hexChars: Int)
    extends UnaryExpression {
  require(hexChars >= 1 && hexChars <= 15,
    s"hexChars $hexChars must be in [1, 15] to stay non-negative in a long")
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_prefix requires a string or binary child, got ${t.simpleString(10)}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => SketchKernels.md5Prefix(b, hexChars)
    case s => SketchKernels.md5Prefix(s.asInstanceOf[UTF8String], hexChars)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SketchKernels.md5Prefix($c, $hexChars);""")
  override protected def withNewChildInternal(c: Expression): Md5PrefixExpr =
    copy(child = c)
  override def prettyName: String = "md5_prefix"
}

/** `gram_digests(text, n, md5Keys)` — per-position word-n-gram digest
  * array (see [[SketchKernels.gramDigests]]); `posexplode` over it
  * yields the (pos, dg) rows of the gram-position frame. */
case class GramDigestsExpr(child: Expression, n: Int, md5Keys: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"gram width $n must be >= 1")
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_digests requires a string child, got ${t.simpleString(10)}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(SketchKernels.gramDigests(
      input.asInstanceOf[UTF8String], n, md5Keys))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SketchKernels.gramDigests($c, $n, $md5Keys));
         |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): GramDigestsExpr =
    copy(child = c)
  override def prettyName: String = "gram_digests"
}

/** `gram_strings(text, n)` — per-position space-joined word-n-gram
  * strings (see [[SketchKernels.gramStrings]]); `explode` over it
  * yields the `ngram` rows of the lm/dsir/top-ngram family. */
case class GramStringsExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"gram width $n must be >= 1")
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_strings requires a string child, got ${t.simpleString(10)}")
    }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(SketchKernels.gramStrings(
      input.asInstanceOf[UTF8String], n)
      .asInstanceOf[Array[Any]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) graft.functions.SketchKernels.gramStrings($c, $n));
         |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): GramStringsExpr =
    copy(child = c)
  override def prettyName: String = "gram_strings"
}

/** Column API + SQL registration for the native sketch expressions. */
object GraftFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  def minhash_sig(c: Column, numHashes: Int = 32, shingleSize: Int = 3): Column =
    column(MinHashSigExpr(expression(c), numHashes, shingleSize))
  def simhash64(c: Column, shingleSize: Int = 2): Column =
    column(SimHash64Expr(expression(c), shingleSize))
  def minhash_sig_md5(c: Column, numHashes: Int = 32, shingleSize: Int = 3): Column =
    column(MinHashSigMd5Expr(expression(c), numHashes, shingleSize))
  def simhash64_md5(c: Column, shingleSize: Int = 2): Column =
    column(SimHash64Md5Expr(expression(c), shingleSize))
  def shingle_hashes(c: Column, shingleSize: Int = 3): Column =
    column(ShingleHashesExpr(expression(c), shingleSize))
  def line_hashes(c: Column): Column =
    column(LineHashesExpr(expression(c)))
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))
  def l2_sq(a: Column, b: Column): Column =
    column(L2SqExpr(expression(a), expression(b)))
  def ivf_argmin(vec: Column, cvecs: Column): Column =
    column(IvfArgminExpr(expression(vec), expression(cvecs)))
  def l2_argmin(vec: Column, ws: Column): Column =
    column(L2ArgminExpr(expression(vec), expression(ws)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCountExpr(expression(a), expression(b)))
  def md5_prefix(c: Column, hexChars: Int): Column =
    column(Md5PrefixExpr(expression(c), hexChars))
  def gram_digests(c: Column, n: Int, md5Keys: Boolean): Column =
    column(GramDigestsExpr(expression(c), n, md5Keys))
  def gram_strings(c: Column, n: Int): Column =
    column(GramStringsExpr(expression(c), n))
  def near_dup_hit(text: Column, sets: Broadcast[StaticKernels.BandSets],
                   bands: Int, rowsPerBand: Int, shingleSize: Int,
                   md5Keys: Boolean): Column =
    column(NearDupHitExpr(expression(text), sets, bands, rowsPerBand,
      shingleSize, md5Keys))
  def dsir_grams(text: Column, n: Int): Column =
    column(DsirGramsExpr(expression(text), n))
  def dsir_log_weight(text: Column, n: Int, salt: String,
                      terms: Broadcast[Array[Long]]): Column =
    column(DsirLogWeightExpr(expression(text), n, salt, terms))
  def ws_parts(text: Column): Column = column(WsPartsExpr(expression(text)))
  def quality_score(text: Column): Column =
    column(QualityScoreExpr(expression(text)))
  def pii_count(text: Column): Column = column(PiiCountExpr(expression(text)))

  /** Register as SQL functions (graft_minhash_sig / graft_simhash64). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("graft_minhash_sig",
      exprs => MinHashSigExpr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("graft_simhash64",
      exprs => SimHash64Expr(exprs.head), "built-in")
  }
}

/** SparkSessionExtensions hook:
  * `spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * native sketch functions into every session of a cluster. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash_sig"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
        (exprs: Seq[Expression]) => MinHashSigExpr(exprs.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_simhash64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SimHash64Expr].getName, "graft_simhash64"),
        (exprs: Seq[Expression]) => SimHash64Expr(exprs.head)))
  }
}
