package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with `doGenCode`) for the hash-sketch hot
  * paths. The same math is expressible with `aggregate`/`zip_with`, but
  * Spark's higher-order functions are CodegenFallback — interpreted, with
  * per-element boxing. Profiled on sf0.1 (5000 docs), the HOF MinHash
  * pipeline costs ~13 s; these compiled tight loops reduce it to
  * milliseconds-per-partition, which is the difference that matters when
  * the input is 100 TB, not 5000 rows.
  */
object HashExpressions {

  /** MinHash modulus: Mersenne prime 2^31-1. Inputs must be pre-reduced
    * into [0, P) (e.g. `pmod(xxhash64(s), P)`) so a·x+b stays below 2^62. */
  val P: Long = 2147483647L

  /** Shared compiled whitespace pattern (r19): `String.split("\\s+")`
    * compiles the regex ON EVERY CALL (only single-char literals take
    * String.split's fast path) — a per-row Pattern.compile in kernels that
    * run once per document of the corpus. Semantics identical to
    * `s.split("\\s+")`, which delegates to exactly this pattern. */
  private[functions] val WS: java.util.regex.Pattern =
    java.util.regex.Pattern.compile("\\s+")

  /** Sort + in-place dedup of a window-hash buffer, returning the distinct
    * ascending prefix (r19): replaces the boxed LinkedHashSet/TreeSet the
    * shingle kernels used to accumulate per-window hashes — same final
    * (sorted, distinct) contents, zero boxing, one primitive sort. */
  private[functions] def sortedDistinct(hs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hs)
    var k = 0
    var i = 0
    while (i < hs.length) {
      if (k == 0 || hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    if (k == hs.length) hs else java.util.Arrays.copyOf(hs, k)
  }

  def minHashSignature(shingleHashes: Column, as: Array[Long], bs: Array[Long]): Column =
    GraftColumnBridge.column(
      MinHashSignatureExpr(GraftColumnBridge.expression(shingleHashes), as, bs))

  def simHash64(tokenHashes: Column): Column =
    GraftColumnBridge.column(SimHash64Expr(GraftColumnBridge.expression(tokenHashes)))

  /** Distinct word-n-gram shingle hashes of a text column, reduced into
    * [0, P) — the fused form of
    * `transform(wordShingles(text,n), s => pmod(xxhash64(s), P))`. */
  def wordShingleHashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingleHashesExpr(GraftColumnBridge.expression(text), n))

  /** FULL-64-bit distinct shingle hashes — for collision GATES, where the
    * MinHash family's mod-P reduction (31 bits) would make chance hash
    * collisions, not the Bloom fpp, the false-drop floor: at ~1e6
    * benchmark shingles, 31 bits collide at ~4.7e-4 per probe (a clean
    * 1,000-shingle document would be falsely dropped with P ≈ 37%);
    * 64 bits push that to ~5e-14 per probe. */
  def wordShingleHashes64(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      WordShingleHashesExpr(GraftColumnBridge.expression(text), n, reduceModP = false))

  /** Merge-join Jaccard over two SORTED distinct long arrays — see
    * [[SortedLongJaccardExpr]]. */
  def sortedJaccard(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedLongJaccardExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Merge-join Jaccard over two SORTED (binary order) distinct STRING
    * arrays — [[SortedStringJaccardExpr]], the string face of
    * [[sortedJaccard]] (r20): array_intersect/array_union built two hash
    * sets per PAIR on the quadratic-by-design blocked-jaccard path; the
    * two-pointer merge is allocation-free per pair. */
  def sortedStringJaccard(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedStringJaccardExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Fraction of positions where two equal-length MinHash signatures
    * agree — the standard unbiased estimator of Jaccard similarity
    * (each component matches with probability J). */
  def signatureMatchFraction(a: Column, b: Column): Column =
    GraftColumnBridge.column(SigMatchFractionExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Base of the PORTABLE polynomial hash family: small enough that
    * acc·B + codepoint stays far below 2^63 when acc < P, so any engine's
    * plain int64 arithmetic reproduces it (cf. `Sampling.portableBucket`). */
  val B: Long = 131L

  /** Whitespace tokens of `text` (order + multiplicity kept), each hashed
    * with the portable codepoint-polynomial fold into [0, P). Unlike
    * xxhash64, ANY SQL engine replays this bit-exactly — the DuckDB oracle
    * computes it with `list_transform` + `unicode()` over each token. */
  def portableTokenHashes(text: Column): Column =
    GraftColumnBridge.column(PortableTokenHashesExpr(GraftColumnBridge.expression(text)))

  /** Portable codepoint-polynomial fold of ONE whole string into [0, P) —
    * h = (h·B + cp) mod P over every codepoint, whitespace included (the
    * same math as `WebDataset.shardOf`'s JVM fold, spec-pinned equal).
    * This is the string face of `Sampling.portableBucket`: ids that are
    * not numeric (crawl UUIDs, URL keys) fold here instead of silently
    * casting to NULL. Replayable in any SQL engine via the same
    * codepoint arithmetic. */
  def portableStringFold(s: Column): Column =
    GraftColumnBridge.column(PortableStringFoldExpr(GraftColumnBridge.expression(s)))

  /** Order-sensitive polynomial fold of a long array mod P — see
    * [[PolyFoldHashExpr]]. */
  def polyFoldHash(hashes: Column): Column =
    GraftColumnBridge.column(PolyFoldHashExpr(GraftColumnBridge.expression(hashes)))

  /** One-permutation MinHash with rotation densification — see
    * [[OnePermMinHashExpr]]. */
  def onePermMinHash(shingleHashes: Column, k: Int, a: Long, b: Long): Column =
    GraftColumnBridge.column(
      OnePermMinHashExpr(GraftColumnBridge.expression(shingleHashes), k, a, b))

  /** PORTABLE word-shingle hashes: like [[wordShingleHashes]] but each
    * shingle string is hashed with the codepoint-polynomial fold instead of
    * xxhash64, so any SQL engine replays the whole MinHash pipeline
    * bit-exactly — see [[PortableShingleHashesExpr]]. */
  def portableShingleHashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(PortableShingleHashesExpr(GraftColumnBridge.expression(text), n))

  /** Codegen'd Bloom-hit COUNT over an array of pre-hashed shingles —
    * see [[BloomHitCountExpr]]. */
  def bloomHitCount(
      hashes: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    GraftColumnBridge.column(
      BloomHitCountExpr(GraftColumnBridge.expression(hashes), bloom))

  /** Codegen'd probe of a broadcast Bloom filter — see
    * [[BloomMightContainExpr]]. */
  def bloomMightContain(
      hash: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    GraftColumnBridge.column(
      BloomMightContainExpr(GraftColumnBridge.expression(hash), bloom))

  /** Strided rolling-window fingerprints over a pre-hashed token stream —
    * see [[RollingWindowHashesExpr]]. */
  def rollingWindowHashes(tokenHashes: Column, width: Int, stride: Int): Column =
    GraftColumnBridge.column(
      RollingWindowHashesExpr(GraftColumnBridge.expression(tokenHashes), width, stride))
}

/** text → distinct SORTED hashes of its lowercase word n-gram shingles,
  * where each shingle string (tokens joined by one space) is hashed with
  * the PORTABLE codepoint-polynomial fold h = (h·B + cp) mod P — the same
  * per-string hash as [[PortableTokenHashesExpr]]. Unlike the xxhash64
  * kernel ([[WordShingleHashesExpr]]), a DuckDB oracle reproduces these
  * values exactly, which lets the ENTIRE banded-LSH dedup pipeline
  * (signatures → bands → bucket join → verify) be replayed in SQL on the
  * full corpus — the oracle checks the actual algorithm, not a planted
  * ground truth. xxhash64 stays the production default (stronger mixing);
  * this is the audit-grade twin. CodegenFallback like its sibling: eval is
  * one tight compiled pass per row. */
case class PortableShingleHashesExpr(child: Expression, n: Int)
  extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  // n <= 0 would hash the EMPTY window for every position: all docs emit
  // one identical hash, Jaccard = 1.0 for every pair, and dedup silently
  // drops the whole corpus -- n reaches here from user JSON config
  require(n > 0, s"shingle size must be positive: $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.trim.toLowerCase(java.util.Locale.ROOT)
    if (s.isEmpty) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val toks = HashExpressions.WS.split(s)
    if (toks.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // r19 inner-loop rework (mirror of WordShingleHashesExpr): fold each
    // window's codepoints DIRECTLY — token chars then ' ' (32) between —
    // instead of materializing the joined shingle string per window. The
    // fold sequence is char-for-char the one PortableStringFold.fold saw
    // on the StringBuilder string (a ' ' separator can never pair with a
    // surrogate across the boundary), and the boxed TreeSet becomes one
    // primitive sort+dedup of the same values.
    val nWin = toks.length - n + 1
    val hashes = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      var h = 0L
      var j = 0
      while (j < n) {
        if (j > 0) h = (h * HashExpressions.B + 32L) % HashExpressions.P
        val t = toks(i + j)
        var ci = 0
        while (ci < t.length) {
          val cp = t.codePointAt(ci)
          h = (h * HashExpressions.B + cp) % HashExpressions.P
          ci += Character.charCount(cp)
        }
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(HashExpressions.sortedDistinct(hashes))
  }

  override protected def withNewChildInternal(newChild: Expression): PortableShingleHashesExpr =
    copy(child = newChild)
}

/** Strided rolling fingerprints over a pre-hashed token stream: window j
  * covers tokens [j·stride, j·stride + width) and its fingerprint is the
  * order-sensitive polynomial fold (acc·B + x) mod P of those hashes — the
  * [[PolyFoldHashExpr]] math applied per window. This is the cross-document
  * DUPLICATE-SPAN detector's kernel (the token-granular approximation of
  * exact substring dedup, Lee et al. 2022): two documents sharing a
  * width-token run aligned to the stride produce the same fingerprint, so
  * one groupBy on the fingerprint finds every repeated span corpus-wide.
  * Inputs must lie in [0, P) (the [[PortableTokenHashesExpr]] shape) —
  * making the whole span pipeline SQL-replayable. Codegen'd: this scans
  * every token of the corpus. */
case class RollingWindowHashesExpr(child: Expression, width: Int, stride: Int)
  extends UnaryExpression {

  require(width > 0 && stride > 0, "width and stride must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_window_hashes"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < width) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val nWin = (n - width) / stride + 1
    val out = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      var acc = 0L
      var i = w * stride
      val end = i + width
      while (i < end) {
        acc = (acc * HashExpressions.B + arr.getLong(i)) % HashExpressions.P
        i += 1
      }
      out(w) = acc
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val nWin = ctx.freshName("nWin")
      val out = ctx.freshName("out")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val end = ctx.freshName("end")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $arr.numElements();
         |long[] $out;
         |if ($n < $width) {
         |  $out = new long[0];
         |} else {
         |  int $nWin = ($n - $width) / $stride + 1;
         |  $out = new long[$nWin];
         |  for (int $w = 0; $w < $nWin; $w++) {
         |    long $acc = 0L;
         |    int $end = $w * $stride + $width;
         |    for (int $i = $w * $stride; $i < $end; $i++) {
         |      $acc = ($acc * ${HashExpressions.B}L + $arr.getLong($i)) % ${HashExpressions.P}L;
         |    }
         |    $out[$w] = $acc;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingWindowHashesExpr =
    copy(child = newChild)
}

/** One-permutation MinHash (Li, Owen & Zhang 2012) with rotation
  * densification (Shrivastava & Li 2014): ONE universal hash
  * v = (a·x + b) mod P per shingle instead of k, binned into k equal
  * ranges of [0, P) with the per-bin minimum kept; an empty bin borrows
  * the value of the nearest non-empty bin to its circular right, offset
  * by distance·P so different borrow distances can never alias a real
  * (< P) value. P(sig_a[j] = sig_b[j]) ≈ J(A,B) per component exactly as
  * for k independent hashes, so the LSH banding and the match-fraction
  * estimator downstream are unchanged — but the per-shingle inner loop
  * drops from k multiply-mods to ONE. At 100 TB the signature pass is a
  * full-corpus scan, so this is the production signature kernel; the
  * k-hash form ([[MinHashSignatureExpr]]) stays the audit baseline.
  *
  * Empty input → all Long.MaxValue, matching [[MinHashSignatureExpr]]:
  * the empty-set sentinel, which `Dedup.lshBands` gives no bands, so two
  * empty docs never pair in either kernel.
  */
case class OnePermMinHashExpr(child: Expression, k: Int, a: Long, b: Long)
  extends UnaryExpression {

  require(k > 0 && k <= 4096, "bin count must be in (0, 4096]")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "one_perm_minhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    var filled = 0
    var i = 0
    while (i < arr.numElements()) {
      // normalize out-of-contract inputs into [0, P): raw/negative hashes
      // otherwise drive v (and the bin index) negative -> AIOOBE mid-query;
      // in-contract inputs are unchanged (x % P == x for x in [0, P))
      val x = ((arr.getLong(i) % HashExpressions.P) + HashExpressions.P) % HashExpressions.P
      val v = (a * x + b) % HashExpressions.P
      val bin = ((v * k) / HashExpressions.P).toInt
      if (v < sig(bin)) {
        if (sig(bin) == Long.MaxValue) filled += 1
        sig(bin) = v
      }
      i += 1
    }
    if (filled > 0 && filled < k) {
      val orig = sig.clone()
      var j = 0
      while (j < k) {
        if (orig(j) == Long.MaxValue) {
          var d = 1
          while (orig((j + d) % k) == Long.MaxValue) d += 1
          sig(j) = orig((j + d) % k) + d.toLong * HashExpressions.P
        }
        j += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val orig = ctx.freshName("orig")
      val filled = ctx.freshName("filled")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val v = ctx.freshName("v")
      val bin = ctx.freshName("bin")
      val pLit = s"${HashExpressions.P}L"
      s"""
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |int $filled = 0;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $v = (($arr.getLong($i) % $pLit) + $pLit) % $pLit;
         |  $v = (${a}L * $v + ${b}L) % $pLit;
         |  int $bin = (int) (($v * $k) / $pLit);
         |  if ($v < $sig[$bin]) {
         |    if ($sig[$bin] == Long.MAX_VALUE) $filled++;
         |    $sig[$bin] = $v;
         |  }
         |}
         |if ($filled > 0 && $filled < $k) {
         |  long[] $orig = (long[]) $sig.clone();
         |  for (int $j = 0; $j < $k; $j++) {
         |    if ($orig[$j] == Long.MAX_VALUE) {
         |      int $d = 1;
         |      while ($orig[($j + $d) % $k] == Long.MAX_VALUE) $d++;
         |      $sig[$j] = $orig[($j + $d) % $k] + ((long) $d) * $pLit;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): OnePermMinHashExpr =
    copy(child = newChild)
}

/** text → portable hash of each whitespace token, in token order WITH
  * multiplicity (SimHash and rolling fingerprints need both; the shingle
  * kernel above distinct-sorts instead). Per token: fold its Unicode
  * codepoints as h = (h·B + cp) mod P, h0 = 0 — pure int64 math that the
  * DuckDB oracle replays exactly (`unicode(t[i])` = Java `codePointAt`).
  * CodegenFallback like [[WordShingleHashesExpr]]: per-row boxing is noise
  * next to the per-element interpretation of the HOF chain it replaces. */
case class PortableTokenHashesExpr(child: Expression)
  extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_token_hashes"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString.trim
    if (s.isEmpty) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val toks = HashExpressions.WS.split(s) // shared compiled pattern (r19)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = PortableStringFold.fold(toks(i))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PortableTokenHashesExpr =
    copy(child = newChild)
}

/** JVM face of the whole-string portable fold — a named serializable
  * object so the codegen'd expression can reference it (the UrlKernel
  * pattern). Same math as `WebDataset.shardOf`'s fold, spec-pinned. */
object PortableStringFold extends Serializable {
  def fold(s: String): Long = {
    var h = 0L
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      h = (h * HashExpressions.B + cp) % HashExpressions.P
      ci += Character.charCount(cp)
    }
    h
  }
}

/** `portable_string_fold(string) -> long` — ONE whole string folded by
  * codepoints into [0, P), whitespace and all (unlike the per-token
  * kernel above). The string face of `Sampling.portableBucket`. */
case class PortableStringFoldExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "portable_string_fold"

  override def nullSafeEval(input: Any): Any =
    PortableStringFold.fold(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val k = ctx.addReferenceObj("psFold", PortableStringFold,
        PortableStringFold.getClass.getName)
      s"${ev.value} = $k.fold($c.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): PortableStringFoldExpr =
    copy(child = newChild)
}

/** Order-sensitive polynomial fold of an array<long> mod P:
  * acc = (acc·B + x_i) mod P starting from 0 — the Rabin-Karp rolling
  * fingerprint over pre-hashed tokens. Inputs must already lie in [0, P)
  * (the shape [[PortableTokenHashesExpr]] emits) so the product stays
  * below 2^62. Codegen'd: runs once per row in the fingerprint scan. */
case class PolyFoldHashExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_fold_hash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var acc = 0L
    var i = 0
    while (i < arr.numElements()) {
      acc = (acc * HashExpressions.B + arr.getLong(i)) % HashExpressions.P
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |long $acc = 0L;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  $acc = ($acc * ${HashExpressions.B}L + $arr.getLong($i)) % ${HashExpressions.P}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyFoldHashExpr =
    copy(child = newChild)
}

/** text → distinct hashes of its lowercase word n-gram shingles, one
  * compiled pass (tokenize, slide, hash) instead of five chained
  * higher-order functions. CodegenFallback: eval is tight compiled Scala;
  * the per-row boxing it pays is nothing next to per-ELEMENT interpretation
  * of the HOF chain it replaces. */
case class WordShingleHashesExpr(child: Expression, n: Int,
                                 reduceModP: Boolean = true)
  extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  // same guard as PortableShingleHashesExpr: a non-positive n silently
  // maps every document to the single hash of the empty window
  require(n > 0, s"shingle size must be positive: $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.trim.toLowerCase(java.util.Locale.ROOT)
    if (s.isEmpty) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val toks = HashExpressions.WS.split(s)
    if (toks.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // r19 inner-loop rework: this runs once per shingle of the corpus —
    // the dominant compute of the whole MinHash family. Each token's
    // UTF-8 bytes are encoded ONCE per document and windows assemble in a
    // reusable buffer, replacing the per-shingle StringBuilder + toString
    // + getBytes (three allocations and two character copies per window).
    // Byte-identical to hashing the joined string: UTF-8 encodes per code
    // point, and the ' ' separators (0x20) prevent any cross-token
    // surrogate pairing, so the concatenated bytes equal the joined
    // string's encoding exactly.
    val tokBytes = new Array[Array[Byte]](toks.length)
    var ti = 0
    while (ti < toks.length) {
      tokBytes(ti) = toks(ti).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ti += 1
    }
    val nWin = toks.length - n + 1
    val hashes = new Array[Long](nWin)
    var buf = new Array[Byte](64)
    var i = 0
    while (i < nWin) {
      var len = n - 1
      var j = 0
      while (j < n) { len += tokBytes(i + j).length; j += 1 }
      if (len > buf.length)
        buf = new Array[Byte](java.lang.Math.max(len, buf.length * 2))
      var off = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val tb = tokBytes(i + j)
        System.arraycopy(tb, 0, buf, off, tb.length)
        off += tb.length
        j += 1
      }
      // same XXH64(seed=42) core as Spark's xxhash64; reduced mod P only
      // for the MinHash family (a·x+b must stay below 2^62). Collision
      // GATES need the full 64 bits: 31-bit hashes collide by chance at
      // ~n_bench/2^31 per probe — enough to falsely drop whole documents.
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, off, 42L)
      hashes(i) =
        if (reduceModP) ((h % HashExpressions.P) + HashExpressions.P) % HashExpressions.P
        else h
      i += 1
    }
    // sorted distinct output: MinHash signatures are order-invariant, and
    // sorted distinct arrays let SortedLongJaccardExpr verify pairs with a
    // zero-allocation merge instead of per-pair hash sets
    UnsafeArrayData.fromPrimitiveArray(HashExpressions.sortedDistinct(hashes))
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashesExpr =
    copy(child = newChild)
}

/** sig[j] = min over shingle hashes x of (as(j)·x + bs(j)) mod P.
  * One pass over the shingles, k registers — the standard k-hash MinHash,
  * kept as the audit baseline; [[OnePermMinHashExpr]] is the one-pass
  * production kernel (k× cheaper inner loop, same banding semantics). */
case class MinHashSignatureExpr(child: Expression, as: Array[Long], bs: Array[Long])
  extends UnaryExpression {

  private val k = as.length
  require(bs.length == k, "as/bs length mismatch")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val x = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (as(j) * x + bs(j)) % HashExpressions.P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val aRef = ctx.addReferenceObj("minhashA", as, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bs, "long[]")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $x = $arr.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($aRef[$j] * $x + $bRef[$j]) % ${graft.functions.HashExpressions.P}L;
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

/** 64-bit SimHash over pre-hashed tokens: bit j of the result is set iff
  * Σ_tokens (bit j of hash ? +1 : -1) > 0. */
case class SimHash64Expr(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val x = arr.getLong(i)
      var j = 0
      while (j < 64) {
        counts(j) += (if (((x >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val fp = ctx.freshName("fp")
      s"""
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $x = $arr.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $counts[$j] += (((${x} >>> $j) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) $fp |= (1L << $j);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** Jaccard |A∩B| / |A∪B| of two SORTED distinct long arrays (the shape
  * [[WordShingleHashesExpr]] emits) via two-pointer merge: O(n+m), zero
  * allocation per pair. This runs once per CANDIDATE PAIR in LSH verify —
  * the hottest loop of the dedup pipeline (2.4M+ pairs at the 30× probe,
  * where the built-in array_intersect/array_union build two hash sets per
  * pair). Value is bit-identical to the built-in form: for distinct sets
  * |A∪B| = |A|+|B|−|A∩B| exactly, same integer-to-double division. */
case class SortedLongJaccardExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    val union = na + nb - c
    if (union == 0) 0.0 else c.toDouble / union.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      val u = ctx.freshName("u")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb) {
         |  long $xi = $a.getLong($i);
         |  long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |int $u = $na + $nb - $c;
         |${ev.value} = ($u == 0) ? 0.0 : ((double) $c) / ((double) $u);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SortedLongJaccardExpr =
    copy(left = newLeft, right = newRight)
}

/** Merge-join Jaccard over two SORTED (binary/array_sort order) distinct
  * STRING arrays (r20): the string face of [[SortedLongJaccardExpr]]. The
  * blocked-jaccard verify evaluated `array_intersect`/`array_union` —
  * two hash sets allocated per candidate PAIR, the hottest loop of the
  * quadratic-by-design q_dedup_ngram_jaccard path; the two-pointer merge
  * over per-DOC-sorted arrays is allocation-free per pair. UTF8String
  * comparison is the same binary order array_sort applies, so
  * |∩|/|∪| is exactly the set Jaccard the old formulation computed
  * (inputs distinct by construction). */
case class SortedStringJaccardExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_string_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val union = na + nb - c
    if (union == 0) 0.0 else c.toDouble / union.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      val u = ctx.freshName("u")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |int $u = $na + $nb - $c;
         |${ev.value} = ($u == 0) ? 0.0 : ((double) $c) / $u;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SortedStringJaccardExpr =
    copy(left = newLeft, right = newRight)
}

/** Positional agreement rate of two MinHash signatures: |{j : a[j]=b[j]}|/k.
  * E[match] = J(A,B) per the MinHash property, so thresholding this is the
  * verify mode that never re-touches the corpus — at 100 TB it removes both
  * shingle-table shuffle joins from the pair stage (estimate-only dedup is
  * the standard production configuration; exact verify is the audit mode). */
case class SigMatchFractionExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_match_fraction"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // equal length is STRUCTURAL: scoring min(length) on a 64-vs-128 pair
    // would be a silently biased Jaccard estimate on exactly the
    // numHashes-drift mismatch the indexed dedup faces fail loudly on
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: signature lengths differ (${x.numElements()} vs " +
          s"${y.numElements()}) — the two sides were built with different " +
          "numHashes; rebuild or re-sign with the index's params")
    val n = x.numElements()
    if (n == 0) return 0.0
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c.toDouble / n.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "sig_match_fraction: signature lengths differ (" + $a.numElements() +
         |    " vs " + $b.numElements() + ") — the two sides were built with " +
         |    "different numHashes; rebuild or re-sign with the index's params");
         |}
         |int $n = $a.numElements();
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = ($n == 0) ? 0.0 : ((double) $c) / ((double) $n);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SigMatchFractionExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd membership probe against a BROADCAST Bloom filter: `true` iff
  * the filter might contain the long-hash child. Replaces the boxed `udf`
  * probe on the decontamination hot path (`Decontaminate.bloomContainment`)
  * — a UDF forces an interpreted row boundary mid-aggregate, while this
  * stays inside whole-stage codegen and resolves the broadcast ONCE per
  * task (lazy mutable state), not per row.
  *
  * The expression carries the `Broadcast` handle, not the filter bytes:
  * the plan serializes a small stub and each executor pulls the (possibly
  * hundreds-of-MB) bit array over the torrent protocol exactly once —
  * same contract as the UDF closure it replaces, minus the boxing.
  */
case class BloomMightContainExpr(
    child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
  extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${child.dataType.simpleString}")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_bc"

  override def nullSafeEval(input: Any): Any =
    bloom.value.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h => {
      val bcRef = ctx.addReferenceObj("bloomBc", bloom,
        classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      val filterCls = classOf[org.apache.spark.util.sketch.BloomFilter].getName
      val f = ctx.addMutableState(filterCls, "graftBloomFilter")
      s"""
         |if ($f == null) $f = ($filterCls) $bcRef.value();
         |${ev.value} = $f.mightContainLong($h);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

/** Codegen'd COUNT of broadcast-Bloom hits over an `array<bigint>` of
  * pre-hashed shingles — the single-pass kernel of the n-gram-collision
  * decontamination verb: one compiled loop per row, no explode, no
  * groupBy, broadcast resolved once per task. One-sided error is the
  * Bloom filter's: the count can only be >= the true hit count, so a
  * `count >= minHits` DROP gate can only over-drop (the safe direction
  * for a leakage filter; size `fpp` accordingly). */
case class BloomHitCountExpr(
    child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
  extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
      child.dataType.asInstanceOf[ArrayType].elementType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${child.dataType.simpleString}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bloom_hit_count_bc"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val f = bloom.value
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      if (f.mightContainLong(arr.getLong(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val bcRef = ctx.addReferenceObj("bloomBc", bloom,
        classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      val filterCls = classOf[org.apache.spark.util.sketch.BloomFilter].getName
      val f = ctx.addMutableState(filterCls, "graftBloomFilter")
      val c = ctx.freshName("hits")
      val i = ctx.freshName("i")
      s"""
         |if ($f == null) $f = ($filterCls) $bcRef.value();
         |int $c = 0;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if ($f.mightContainLong($arr.getLong($i))) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BloomHitCountExpr =
    copy(child = newChild)
}
