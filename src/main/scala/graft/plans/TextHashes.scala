package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native codegen'd fingerprint expressions for the dedup hot paths.
  *
  * Both replace higher-order-function compositions that re-hash the SAME
  * string once per slot/bit: `xxhash64(s, i)` inside a per-slot lambda
  * recomputes the full string hash k times per shingle (k=32 for minhash,
  * and the simhash vote fold allocates a 64-slot array per token). Here the
  * string is hashed ONCE (seed 42 — Catalyst's xxhash64) and the per-slot
  * values come from a single cheap int mix, exactly reproducing
  * `xxhash64(s, i)`'s chained semantics (hash children in sequence: string
  * under seed 42, then the int under the string's hash) — outputs are
  * bit-identical to the old composition, pinned by the golden files.
  */
object TextHashes {

  private val Seed = 42L

  /** hash(s) under Catalyst xxhash64 semantics (first child, seed 42). */
  @inline private[plans] def hashString(s: org.apache.spark.unsafe.types.UTF8String): Long =
    XXH64.hashUTF8String(s, Seed)

  /** MinHash signature: sig[i] = min over shingles of xxhash64(shingle, i),
    * as ONE string hash + k int mixes per shingle. Empty input → all slots
    * Long.MaxValue (matches the fold's initial accumulator). Also accepts
    * PRE-HASHED shingles (array<long> of xxhash64(shingle) — what
    * WordShingleHashes emits): the string hash is then skipped and the int
    * mixes chain from the given base, producing bit-identical signatures. */
  case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"minhash signature length must be >= 1, got $k")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    private lazy val preHashed: Boolean = child.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig expects array<string> or array<long>, got $t")
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val sig = Array.fill(k)(Long.MaxValue)
      var j = 0
      val n = arr.numElements()
      while (j < n) {
        if (!arr.isNullAt(j)) {
          val base = if (preHashed) arr.getLong(j) else hashString(arr.getUTF8String(j))
          var i = 0
          while (i < k) {
            val h = XXH64.hashInt(i, base)
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        j += 1
      }
      new GenericArrayData(sig)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val sig = ctx.addMutableState("long[]", "mhSig", v => s"$v = new long[$k];")
      nullSafeCodeGen(ctx, ev, a => {
        val j = ctx.freshName("j")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val base = ctx.freshName("base")
        val h = ctx.freshName("h")
        val baseExpr =
          if (preHashed) s"$a.getLong($j)"
          else s"org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String($a.getUTF8String($j), ${Seed}L)"
        s"""
           |java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |final int $n = $a.numElements();
           |for (int $j = 0; $j < $n; $j++) {
           |  if (!$a.isNullAt($j)) {
           |    final long $base = $baseExpr;
           |    for (int $i = 0; $i < $k; $i++) {
           |      final long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt($i, $base);
           |      if ($h < $sig[$i]) $sig[$i] = $h;
           |    }
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  java.util.Arrays.copyOf($sig, $k));
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** text → SORTED DISTINCT xxhash64 values of its word n-gram shingles,
    * in ONE pass: lowercase, trim, whitespace-split, join each n-window
    * with single spaces, hash, sort, dedupe.
    *
    * Semantics are exactly `sort_array(transform(shingles, s =>
    * xxhash64(s)))` over the distinct word n-grams of
    * `tokens(lower(text))`, each joined with single spaces (texts shorter
    * than n tokens shingle to the whole normalized text; empty text →
    * [xxhash64("")]) — except duplicates are dropped on the HASH rather than the string,
    * indistinguishable below a 64-bit collision within one document. The
    * composed form re-evaluates the tokenizer inside every HOF lambda
    * iteration (no CSE in lambdas — measured as the dominant cost of the
    * prefix-join pipeline); this expression tokenizes once per row. The
    * heavy lifting lives in a static helper the generated code calls, so
    * the expression stays inside whole-stage codegen without Janino
    * compiling the string logic. */
  case class WordShingleHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, s"shingle width must be >= 1, got $n")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"word_shingle_hashes expects string, got $t")
    }

    override def nullSafeEval(input: Any): Any =
      TextHashes.wordShingleHashesCompute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.plans.TextHashes.wordShingleHashesCompute($t, $n);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** text → SORTED DISTINCT xxhash64 values of its character n-gram
    * shingles, in ONE pass — the char-shingle sibling of
    * [[WordShingleHashes]] (same motivation: the composed
    * `transform(sequence(...), i => substr(...))` + second hashing
    * `transform` materializes thousands of short string objects per row
    * before any join work, and HOF lambdas defeat CSE).
    *
    * Semantics are exactly `sort_array(transform(ngramSet(lower(text), n),
    * s => xxhash64(s)))` (the test oracle `Oracles.ngramSet`: texts
    * shorter than n chars shingle to the whole lowered string — no trim,
    * no tokenization),
    * except duplicates are dropped on the HASH rather than the string —
    * indistinguishable below a 64-bit collision within one document
    * (pinned by DedupSpec's native-vs-composed parity check). Zero
    * allocation per shingle: char-boundary byte offsets are computed once
    * and each window's bytes are hashed in place. */
  case class CharShingleHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, s"shingle width must be >= 1, got $n")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"char_shingle_hashes expects string, got $t")
    }

    override def nullSafeEval(input: Any): Any =
      TextHashes.charShingleHashesCompute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.plans.TextHashes.charShingleHashesCompute($t, $n);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One-pass body of WordShingleHashes (public static: invoked from the
    * generated code). Tokenization reproduces `tokens(lower(text))`
    * (Scalars/TextFunctions): lowercase → trim(' ') → regex \s+ split with
    * Java semantics (a leading non-space whitespace yields a leading empty
    * token, same as Spark's and DuckDB's regexp split). */
  // hoisted off the per-row path: UTF8String.split recompiles its regex
  // (and re-materializes the pattern string) on every call
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")
  private val SpaceSep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def wordShingleHashesCompute(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val trimmed = text.toLowerCase.trim()
    val toks: Array[UTF8String] =
      if (trimmed.numChars() == 0) Array.empty
      else WsPattern.split(trimmed.toString, -1).map(UTF8String.fromString)
    val sep = SpaceSep
    val hashes: Array[Long] =
      if (toks.length < n) Array(hashString(UTF8String.concatWs(sep, toks: _*)))
      else {
        val out = new Array[Long](toks.length - n + 1)
        var i = 0
        while (i <= toks.length - n) {
          val win = new Array[UTF8String](n)
          System.arraycopy(toks, i, win, 0, n)
          out(i) = hashString(UTF8String.concatWs(sep, win: _*))
          i += 1
        }
        out
      }
    java.util.Arrays.sort(hashes)
    // dedupe adjacent (sorted) — array_distinct-on-strings analog
    var uniq = 0
    var i = 0
    while (i < hashes.length) {
      if (i == 0 || hashes(i) != hashes(i - 1)) { hashes(uniq) = hashes(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, uniq))
  }

  /** text → 64-bit SimHash in ONE pass: per-bit majority vote over token
    * hashes (Charikar 2002) — one string hash per token, bit votes from its
    * 64 bits, `votes[i] > 0 → bit i`. The composed form over
    * `tokens(lower(text))` (test oracle `Oracles.simHash64`) materializes
    * the token array (regex split, one UTF8String per token
    * in an ArrayData) before the vote loop; here the lowered-trimmed
    * string's bytes are scanned directly for ASCII-whitespace runs (Java's
    * `\s` class is ASCII-only, and ASCII bytes never occur inside UTF-8
    * multi-byte sequences, so the byte scan is exact) and each token's
    * byte span is hashed in place — zero per-token allocation.
    *
    * Semantics are exactly `simHash64(tokens(lower(text)))` including the
    * edge tokens Java split(-1) produces: a leading separator yields a
    * leading EMPTY token and a trailing separator a trailing one (both
    * hashed, as the composed form does); empty/whitespace-only text → 0L.
    * Bit-parity pinned by DedupSpec and the q_simhash_pairs golden. */
  case class SimHashText(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"simhash_text expects string, got $t")
    }

    override def nullSafeEval(input: Any): Any =
      TextHashes.simHashTextCompute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.plans.TextHashes.simHashTextCompute($t);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One-pass body of SimHashText (public static: invoked from the
    * generated code). */
  def simHashTextCompute(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val lowered = text.toLowerCase.trim() // trim = ASCII spaces, like SQL trim()
    val nb = lowered.numBytes()
    if (nb == 0) return 0L // tokens() maps whitespace-only/empty to [] → fp 0
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    @inline def isSep(i: Int): Boolean = {
      val b = lowered.getByte(i)
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
    }
    val votes = new Array[Long](64)
    @inline def vote(start: Int, end: Int): Unit = {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + start, end - start, Seed)
      var i = 0
      while (i < 64) { votes(i) += (((h >> i) & 1L) * 2L - 1L); i += 1 }
    }
    // segments between maximal separator runs; split(-1) keeps a leading
    // empty token when the text starts with a separator and a trailing one
    // when it ends with one (interior segments are never empty)
    var segStart = 0
    var i = 0
    while (i < nb) {
      if (isSep(i)) {
        vote(segStart, i)
        i += 1
        while (i < nb && isSep(i)) i += 1
        segStart = i
      } else i += 1
    }
    vote(segStart, nb)
    var fp = 0L
    i = 0
    while (i < 64) { if (votes(i) > 0L) fp |= (1L << i); i += 1 }
    fp
  }

  /** One-pass body of CharShingleHashes (public static: invoked from the
    * generated code). Lowercases once, walks UTF-8 char-boundary byte
    * offsets once, and hashes each n-char window's byte span IN PLACE
    * (XXH64 over a byte range of the lowered string's buffer equals
    * XXH64.hashUTF8String of the substring — same bytes, same algorithm;
    * pinned by spec). */
  def charShingleHashesCompute(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val lowered = text.toLowerCase
    val nc = lowered.numChars()
    if (nc < n) return new GenericArrayData(Array(hashString(lowered)))
    // starts(i) = byte offset of char i; starts(nc) = numBytes sentinel
    val nb = lowered.numBytes()
    val starts = new Array[Int](nc + 1)
    var ci = 0
    var off = 0
    while (off < nb) {
      starts(ci) = off
      off += UTF8String.numBytesForFirstByte(lowered.getByte(off))
      ci += 1
    }
    starts(nc) = nb
    val base = lowered.getBaseObject
    val baseOff = lowered.getBaseOffset
    val hashes = new Array[Long](nc - n + 1)
    var i = 0
    while (i <= nc - n) {
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        base, baseOff + starts(i), starts(i + n) - starts(i), Seed)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var uniq = 0
    i = 0
    while (i < hashes.length) {
      if (i == 0 || hashes(i) != hashes(i - 1)) { hashes(uniq) = hashes(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, uniq))
  }

  /** Foldable-int argument extraction for the SQL function registrations
    * (GraftExtensions): the width/k parameters parameterize generated code
    * and so must be literals at plan time. */
  private[plans] def intArg(e: Expression, fn: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval(null) match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: expected a literal int argument in Int range, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: the int parameter must be a literal (it is baked into generated code)")
  }

  /** Column surfaces. */
  def minHashSig(shingles: Column, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), k))

  def simHashText(text: Column): Column =
    Bridge.column(SimHashText(Bridge.expression(text)))

  def wordShingleHashes(text: Column, n: Int): Column =
    Bridge.column(WordShingleHashes(Bridge.expression(text), n))

  def charShingleHashes(text: Column, n: Int): Column =
    Bridge.column(CharShingleHashes(Bridge.expression(text), n))
}
