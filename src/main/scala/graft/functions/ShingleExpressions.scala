package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native sorted-distinct character-n-gram hash array of a string column.
  *
  * The declarative formulation — `array_sort(array_distinct(transform(
  * charShingles(text, n), h)))` — nests THREE higher-order functions, and
  * Spark evaluates higher-order functions via CodegenFallback: every
  * shingle pays interpreted expression-tree walking, boxing, and a fresh
  * per-element projection. Measured at sf0.1 that interpretation costs
  * ~2 s per corpus pass vs 0.15 s for this expression (one tight JVM loop
  * per document, whole-stage-codegen'd via a static call) — the dominant
  * term of every MinHash/LSH query's hash stage, and at 100 TB a
  * fleet-wide CPU sink. This is exactly the "custom codegen Expression
  * beats the built-in composition" escape hatch, used only because the
  * built-in path cannot fuse the loop.
  *
  * Hash modes mirror the two established column formulations BIT-FOR-BIT
  * (ShingleSpec asserts equality against both):
  *  - parity: `conv(substring(md5(s), 1, 15), 16, 10)` — the top 60 bits
  *    of the md5 digest as an unsigned long (what [[graft.operators.TextDedup.stableHash]]
  *    computes via string hex conversion, reproducible in any SQL engine);
  *  - production: `pmod(xxhash64(s), mod)` via the same XxHash64Function
  *    (seed 42) Spark's codegen'd xxhash64 uses.
  * `mod > 0` applies the positive modulus; `mod <= 0` returns the raw
  * 60-bit / xxhash64 value.
  *
  * Shingle semantics mirror [[graft.operators.TextDedup.charShingles]]:
  * positions 1..len-n+1 of n characters each (SQL substring semantics,
  * code points not bytes); text shorter than n yields the whole text as
  * its single shingle. Output is ascending and duplicate-free — the
  * invariant the PPJoin prefix filter and the merge-walk verifier
  * ([[SortedIntersectCount]]) rely on.
  */
case class ShingleHashes(child: Expression, n: Int, parity: Boolean,
                         mod: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string input, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n, parity, mod)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.compute(" +
        s"$c, $n, $parity, ${mod}L);")

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashes = copy(child = newChild)
}

/** Native winnowing fingerprint set of a string column — the whole
  * Schleimer et al. 2003 pipeline (hash every k-gram, take the minimum
  * of each full sliding window of `w` k-gram hashes, emit the distinct
  * minima) as ONE per-document loop. The declarative formulation paid
  * three corpus-scale stages: an interpreted gram explode, a per-doc
  * WINDOW (one token-stream exchange + per-doc sorts just to see w
  * consecutive hashes), and a corpus-wide distinct exchange. All three
  * collapse into this expression: the only remaining exchanges in a
  * fingerprint query are the analytical ones (doc-frequency counts,
  * fp joins). Bit-identical to the windowed formulation — ShingleSpec
  * pins equality on the same fixture battery; documents with fewer than
  * w k-gram positions emit no fingerprints (only FULL windows pick
  * minima), matching the `count(*) over == w` filter it replaces.
  * Output sorted ascending, duplicate-free. */
case class WinnowFingerprints(child: Expression, kgram: Int, w: Int,
                              parity: Boolean, mod: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps requires a string input, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.winnow(input.asInstanceOf[UTF8String], kgram, w, parity, mod)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.winnow(" +
        s"$c, $kgram, $w, $parity, ${mod}L);")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowFingerprints = copy(child = newChild)
}

/** Native k-wide MinHash signature of an already-hashed shingle array:
  * element i = min over h of `(h*(2i+1) + i*i+1) mod P` — the exact
  * coefficient family of [[graft.operators.TextDedup.minHashSignature]].
  * The declarative zero-shuffle form (`array_min(transform(sh, ...))` per
  * permutation) pays k interpreted CodegenFallback traversals of the
  * array per document; this computes all k minima in ONE codegen'd loop.
  * Empty input arrays yield null (callers filter, matching the
  * "no shingles -> no signature row" semantics of both prior forms). */
case class MinHashSig(child: Expression, k: Int, p: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<bigint>, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.minHashOfArray(input.asInstanceOf[ArrayData], k, p)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.ShingleHashes.minHashOfArray(
         |  $c, $k, ${p}L);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    code
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig = copy(child = newChild)
}

/** [[MinHashSig]] fused with the shingle hashing itself: text in, k-wide
  * signature out, one loop, no intermediate shingle array (the minimum
  * over the hash MULTISET equals the minimum over the distinct set, so
  * the sort+dedup the array form pays is skipped entirely). This is the
  * whole signature stage of MinHash-LSH as a single whole-stage-codegen'd
  * projection — the explode + groupBy(id).agg(k mins) formulation it
  * replaces paid a |docs x shingles|-row exchange for the same bits. */
case class MinHashSigText(child: Expression, n: Int, parity: Boolean,
                          k: Int, p: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig_text requires a string input, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig_text"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.minHashOfText(input.asInstanceOf[UTF8String], n, parity,
      k, p)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.minHashOfText(" +
        s"$c, $n, $parity, $k, ${p}L);")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSigText = copy(child = newChild)
}

/** Native content-defined chunking of a string column — the whole CDC
  * segmentation of [[graft.operators.TextDedup.cdcRepeatedChunks]] (split
  * on single spaces keeping empties, per-token boundary test
  * pmod(hash(token), div) == 0, running-boundary-count segment ids, one
  * (token count, hash of the space-joined segment) pair per segment) as
  * ONE per-document loop returning array<struct<seg_tok int, seg_hash
  * bigint>> (r15). The declarative formulation paid a
  * token posexplode, a per-doc prefix-sum WINDOW (token-stream exchange +
  * per-doc sort), and a groupBy(doc, seg) with collect_list + array_sort
  * + an interpreted transform, all corpus-scale. Bit-identical by
  * construction: tokens are the single-space split (so a segment's
  * space-joined string IS the original byte span from its first token's
  * start to its last token's end), and both hash modes are the exact
  * [[ShingleHashes]] families. A boundary token starts the segment that
  * contains it (inclusive running sum); null text yields null (the old
  * split-then-explode emitted no rows). */
case class CdcChunks(child: Expression, div: Long, parity: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires a string input, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("seg_tok", IntegerType, nullable = false),
      StructField("seg_hash", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.cdcChunks(input.asInstanceOf[UTF8String], div, parity)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.cdcChunks(" +
        s"$c, ${div}L, $parity);")

  override protected def withNewChildInternal(
      newChild: Expression): CdcChunks = copy(child = newChild)
}

object ShingleHashes {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Per-position n-char window hashes (NOT de-duplicated). Hashes raw
    * byte SPANS of one materialized byte array — char-boundary offsets
    * from a single UTF-8 walk — so the per-gram cost is the digest alone,
    * no per-gram UTF8String or byte-array copies (the scan stage this
    * runs in is often a single input split locally, so constants here are
    * wall-clock). Hashing a span equals hashing the equivalent
    * UTF8String: md5 is bytewise, and XxHash64Function for strings
    * hashes (base, offset, numBytes) — ShingleSpec pins both. */
  private def hashAll(text: UTF8String, n: Int, parity: Boolean,
                      mod: Long): Array[Long] = {
    val bytes = text.getBytes
    val len = text.numChars()
    val count = math.max(len - n + 1, 1)
    val offs = new Array[Int](len + 1)
    var ci = 0
    var bi = 0
    while (ci < len) {
      offs(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    offs(len) = bytes.length
    val out = new Array[Long](count)
    val md = if (parity) md5.get() else null
    val buf = if (parity) new Array[Byte](16) else null
    var i = 0
    while (i < count) {
      val s = offs(i)
      val e = offs(math.min(i + n, len))
      var v =
        if (parity) {
          md.reset()
          md.update(bytes, s, e - s)
          md.digest(buf, 0, 16)
          // top 60 bits of the digest == conv(substring(hex, 1, 15), 16, 10)
          (((buf(0) & 0xffL) << 56) | ((buf(1) & 0xffL) << 48) |
            ((buf(2) & 0xffL) << 40) | ((buf(3) & 0xffL) << 32) |
            ((buf(4) & 0xffL) << 24) | ((buf(5) & 0xffL) << 16) |
            ((buf(6) & 0xffL) << 8) | (buf(7) & 0xffL)) >>> 4
        } else {
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s,
            e - s, 42L)
        }
      if (mod > 0L) v = ((v % mod) + mod) % mod
      out(i) = v
      i += 1
    }
    out
  }

  /** Sort + dedup in place; returns a right-sized ArrayData. */
  private def sortedDistinct(a: Array[Long]): ArrayData = {
    java.util.Arrays.sort(a)
    var w = 0
    var r = 1
    while (r < a.length) {
      if (a(r) != a(w)) { w += 1; a(w) = a(r) }
      r += 1
    }
    val m = if (a.isEmpty) 0 else w + 1
    new GenericArrayData(
      if (m == a.length) a else java.util.Arrays.copyOf(a, m))
  }

  /** One tight loop per document: hash every n-char window, sort, dedup.
    * Public because generated code calls it statically. */
  def compute(text: UTF8String, n: Int, parity: Boolean,
              mod: Long): ArrayData =
    sortedDistinct(hashAll(text, n, parity, mod))

  /** Winnowing: minimum of every FULL sliding window of `w` k-gram
    * hashes, distinct. Public because generated code calls it
    * statically. */
  def winnow(text: UTF8String, kgram: Int, w: Int, parity: Boolean,
             mod: Long): ArrayData = {
    val hs = hashAll(text, kgram, parity, mod)
    val nWin = hs.length - w + 1
    if (nWin <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nWin)
    var p = 0
    while (p < nWin) {
      var m = hs(p)
      var j = 1
      while (j < w) { if (hs(p + j) < m) m = hs(p + j); j += 1 }
      out(p) = m
      p += 1
    }
    sortedDistinct(out)
  }

  /** All k permutation minima of `(h*(2i+1) + i*i+1) mod p` in one pass.
    * `hs` values must already be non-negative and < p (the `% p`-reduced
    * hash family every caller stores), so the linear form stays positive
    * and a plain `%` is the exact mod. */
  private def kMins(hs: Array[Long], k: Int, p: Long): Array[Long] = {
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val a = 2L * i + 1
      val b = i.toLong * i + 1
      var m = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v = (hs(j) * a + b) % p
        if (v < m) m = v
        j += 1
      }
      out(i) = m
      i += 1
    }
    out
  }

  /** Public because generated code calls it statically; null for empty
    * arrays (no shingles -> no signature). */
  def minHashOfArray(sh: ArrayData, k: Int, p: Long): ArrayData = {
    if (sh.numElements() == 0) return null
    new GenericArrayData(kMins(sh.toLongArray(), k, p))
  }

  /** Public because generated code calls it statically. The min over the
    * raw per-position hash multiset equals the min over the sorted
    * distinct set, so no sort/dedup is needed. */
  def minHashOfText(text: UTF8String, n: Int, parity: Boolean, k: Int,
                    p: Long): ArrayData =
    new GenericArrayData(kMins(hashAll(text, n, parity, p), k, p))

  /** One tight CDC loop per document (see [[graft.functions.CdcChunks]]).
    * Byte-level single-space walking is exact: UTF-8 continuation bytes
    * are 0x80-0xBF, so 0x20 never occurs inside a multi-byte char, and
    * Spark's split(text, " ") (limit -1, empties kept) is invertible with
    * a single-space join — a segment's joined string IS the byte span
    * from its first token's start to its last token's end. Public because
    * generated code calls it statically. */
  def cdcChunks(text: UTF8String, div: Long, parity: Boolean): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val md = if (parity) md5.get() else null
    val buf = if (parity) new Array[Byte](16) else null
    def hashSpan(s: Int, e: Int): Long =
      if (parity) {
        md.reset()
        md.update(bytes, s, e - s)
        md.digest(buf, 0, 16)
        (((buf(0) & 0xffL) << 56) | ((buf(1) & 0xffL) << 48) |
          ((buf(2) & 0xffL) << 40) | ((buf(3) & 0xffL) << 32) |
          ((buf(4) & 0xffL) << 24) | ((buf(5) & 0xffL) << 16) |
          ((buf(6) & 0xffL) << 8) | (buf(7) & 0xffL)) >>> 4
      } else {
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s,
          e - s, 42L)
      }
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    var segStart = 0
    var segEnd = 0
    var segTok = 0
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val isB = java.lang.Math.floorMod(hashSpan(tokStart, i), div) == 0L
        // a boundary token closes the running segment (if any) and starts
        // the one that contains it — the inclusive running-sum semantics
        if (isB && segTok > 0) {
          rows += new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](segTok, hashSpan(segStart, segEnd)))
          segTok = 0
        }
        if (segTok == 0) segStart = tokStart
        segTok += 1
        segEnd = i
        tokStart = i + 1
      }
      i += 1
    }
    rows += new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](segTok, hashSpan(segStart, segEnd)))
    new GenericArrayData(rows.toArray)
  }

  /** Sorted-distinct shingle-hash array Column. */
  def shingleHashes(text: Column, n: Int, parity: Boolean,
                    mod: Long): Column =
    column(ShingleHashes(expression(text), n, parity, mod))

  /** Winnowing fingerprint array Column. */
  def winnowFps(text: Column, kgram: Int, w: Int, parity: Boolean,
                mod: Long): Column =
    column(WinnowFingerprints(expression(text), kgram, w, parity, mod))

  /** k-wide MinHash signature of a `% p`-reduced hash array Column; null
    * for empty arrays. */
  def minHashSig(sh: Column, k: Int, p: Long): Column =
    column(MinHashSig(expression(sh), k, p))

  /** CDC chunk array Column — array<struct<seg_tok, seg_hash>> per doc. */
  def cdcChunks(text: Column, div: Long, parity: Boolean): Column =
    column(CdcChunks(expression(text), div, parity))

  /** Text-fused k-wide MinHash signature Column. */
  def minHashSigText(text: Column, n: Int, parity: Boolean, k: Int,
                     p: Long): Column =
    column(MinHashSigText(expression(text), n, parity, k, p))
}
