package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native JVM kernels for the hot text-hashing paths, invoked from compact
  * Catalyst expressions ([[ShingleHash64]], [[MinHashSig]], [[Jaccard64]],
  * [[StopwordHits]], [[Tokens]]).
  *
  * Why not pure column expressions: the equivalent
  * `transform(shingles, s -> conv(substring(md5(s),1,15),16,10))` chain
  * evaluates an interpreted lambda per array element and materializes a
  * 32-char hex string + a string-parsed conv per shingle — measured 20-50x
  * slower at bench scale. These kernels hash straight from the Tungsten
  * `ArrayData` token bytes with no intermediate strings, while producing
  * EXACTLY the same 60-bit values (`md5 hex prefix` == `big-endian first 8
  * digest bytes >>> 4`), so the DuckDB oracle SQL in SparkEntry is
  * unchanged.
  */
object Kernels {

  val mask60: Long = (1L << 60) - 1

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of the digest = the value of the first 15 hex chars. */
  private def top60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** 60-bit md5-prefix hash of one UTF8 string (equals
    * `conv(substring(md5(s),1,15),16,10)`). */
  def md560(s: UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    md.update(s.getBytes)
    top60(md.digest())
  }

  /** The bytes java.util.regex `\s` matches (no UNICODE_CHARACTER_CLASS):
    * space and 0x09-0x0D. None of them can occur inside a multi-byte UTF-8
    * sequence, so a byte scan finds exactly the regex's separators. */
  @inline private def isSpace(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Whitespace tokens of one string: the maximal runs of non-`\s` bytes,
    * equal to `array_remove(split(trim(s), "\\s+"), "")`. A string that is
    * not valid UTF-8 is first normalized as that expression's String
    * round trip does (malformed sequences become U+FFFD). The bytes are
    * copied once per row and every token slices that copy, so no token
    * points into the input row's (possibly reused) buffer. */
  def tokenize(s0: UTF8String): ArrayData = {
    val s = if (s0.isValid) s0 else UTF8String.fromString(s0.toString)
    val n = s.numBytes()
    val b = new Array[Byte](n)
    s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    var cnt = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val sp = isSpace(b(i))
      if (!sp && !inTok) cnt += 1
      inTok = !sp
      i += 1
    }
    val out = new Array[Any](cnt)
    var k = 0
    i = 0
    while (k < cnt) {
      while (isSpace(b(i))) i += 1
      val start = i
      while (i < n && !isSpace(b(i))) i += 1
      out(k) = UTF8String.fromBytes(b, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Greedy longest-match subword piece count for one word — the kernel
    * twin of TextAnalysisOps.segmentWordCounts' relational loop: at each
    * cursor position take the LONGEST vocabulary piece of character length
    * <= maxPieceLen (1-char UNK advance when nothing matches). Positions
    * and lengths are CHARACTER-based (substringSQL), matching the SQL
    * `substring` the loop and the DuckDB oracle use. */
  def segmentCount(w: UTF8String,
                   pieces: java.util.HashSet[UTF8String],
                   maxPieceLen: Int): Long = {
    val n = w.numChars()
    var pos = 1
    var cnt = 0L
    while (pos <= n) {
      var step = 1
      var l = math.min(maxPieceLen, n - pos + 1)
      var found = false
      while (!found && l >= 1) {
        if (pieces.contains(w.substringSQL(pos, l))) { step = l; found = true }
        l -= 1
      }
      pos += step
      cnt += 1
    }
    cnt
  }

  /** 60-bit hashes of the space-joined token `n`-grams; whole doc as one
    * shingle when shorter than n; optional keep-first-occurrence dedupe.
    * Matches DedupOps.shingles + shingleHashes (null tokens are skipped the
    * way concat_ws skips them).
    */
  def shingleHash64(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val md = mdLocal.get()
    val nt = toks.numElements()

    def hashRange(from: Int, until: Int): Long = {
      md.reset()
      var first = true
      var j = from
      while (j < until) {
        if (!toks.isNullAt(j)) {
          if (!first) md.update(' '.toByte)
          md.update(toks.getUTF8String(j).getBytes)
          first = false
        }
        j += 1
      }
      top60(md.digest())
    }

    if (nt < n) return new GenericArrayData(Array(hashRange(0, nt)))
    val m = nt - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) { out(i) = hashRange(i, i + n); i += 1 }
    if (!distinct) return new GenericArrayData(out)
    // keep-first dedupe (same order as array_distinct over the strings)
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val ded = new Array[Long](m)
    var k = 0
    i = 0
    while (i < m) {
      if (seen.add(out(i))) { ded(k) = out(i); k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ded, k))
  }

  /** Odd 60-bit md5-derived multipliers (same values as
    * DedupOps.minhashMultipliers — the oracle SQL embeds them). */
  private val multCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  def multipliers(k: Int): Array[Long] =
    multCache.computeIfAbsent(k, kk => (0 until kk).map { i =>
      val d = MessageDigest.getInstance("MD5").digest(i.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) | 1L) & mask60
    }.toArray)

  /** MinHash signature: per multiplier c_i, min over h of (h*c_i) mod 2^60.
    * JVM multiply wraps mod 2^64 and 2^60 divides 2^64, so `(h*c) & mask60`
    * equals the 30-bit-split modular form in DedupOps.permuteHash. */
  def minhashSig(hs: ArrayData, k: Int): ArrayData = {
    val cs = multipliers(k)
    val out = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * cs(j)) & mask60
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Jaccard |a∩b| / |a∪b| over two DISTINCT-element long arrays (the
    * shingle-hash sets). Sort-merge intersection — no per-row hash sets. */
  def jaccard64(a: ArrayData, b: ArrayData): Double = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    java.util.Arrays.sort(x)
    java.util.Arrays.sort(y)
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    inter.toDouble / (x.length + y.length - inter)
  }

  /** SimHash packed into a long: per distinct term, a 60-bit md5-prefix
    * hash votes tf-weighted on each bit position; majority -> bit set.
    * Identical values to the relational explode-per-bit formulation
    * (DedupOps.simhashRelational) — this is a pure per-row map, so the
    * whole corpus simhash needs NO shuffle at all. */
  def simhash64(toks: ArrayData, bits: Int): Long = {
    val tf = new java.util.HashMap[UTF8String, Array[Int]]()
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val c = tf.get(toks.getUTF8String(i))
        if (c == null) tf.put(toks.getUTF8String(i).clone(), Array(1))
        else c(0) += 1
      }
      i += 1
    }
    val votes = new Array[Long](bits)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = md560(e.getKey)
      val c = e.getValue()(0)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += c else votes(j) -= c
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** token -> bitmask of stopword profiles containing it (profiles overlap:
    * e.g. "la" is in both es and fr). */
  private val stopMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    graft.operators.TextAnalysisOps.stopwordProfiles.toSeq
      .sortBy(p => StopwordHits.langs.indexOf(p._1))
      .foreach { case (lang, words) =>
        val bit = 1 << StopwordHits.langs.indexOf(lang)
        words.foreach { w =>
          val u = UTF8String.fromString(w)
          m.merge(u, Integer.valueOf(bit), (x, y) => Integer.valueOf(x | y))
        }
      }
    m
  }

  private val langStrings: Array[UTF8String] =
    (StopwordHits.langs :+ "und").map(UTF8String.fromString).toArray

  /** Language ID in one pass: argmax stopword-hit ratio with the column
    * fold's exact tiebreak (strict > keeps the EARLIER profile in
    * en,es,de,fr order), "und" below minRatio. Single kernel call replaces
    * a CASE tree that re-inlined graft_stop_hits per branch — big enough
    * to overflow codegen limits into interpreted (no-CSE) projection. */
  def langId(toks: ArrayData, minRatio: Double): UTF8String = {
    val hits = stopHits(toks)
    val n = math.max(toks.numElements(), 1).toDouble
    var best = 0
    var bestScore = hits.getLong(0).toDouble / n
    var j = 1
    while (j < StopwordHits.langs.length) {
      val s = hits.getLong(j).toDouble / n
      if (s > bestScore) { best = j; bestScore = s }
      j += 1
    }
    if (bestScore >= minRatio) langStrings(best)
    else langStrings(langStrings.length - 1)
  }

  /** Per-profile stopword hit counts (en, es, de, fr) in one token pass. */
  def stopHits(toks: ArrayData): ArrayData = {
    val counts = new Array[Long](StopwordHits.langs.length)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val mask = stopMask.get(toks.getUTF8String(i))
        if (mask != null) {
          val m = mask.intValue()
          var j = 0
          while (j < counts.length) {
            if ((m & (1 << j)) != 0) counts(j) += 1
            j += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }
}

/** `graft_tokens(text)` — whitespace tokenization with empty tokens
  * dropped (see Kernels.tokenize): one byte scan per row instead of a
  * String decode, a regex split and a UTF-8 re-encode per token. Operators
  * reach it through TextOps.tokens, SQL through its registered name. */
case class Tokens(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_tokens requires a string, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override protected def nullSafeEval(input: Any): Any =
    Kernels.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Kernels.tokenize($c);")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

/** Driver-built term -> dense id dictionary for [[TermIds]]. Ids are the
  * terms' positions in `terms`, which must be distinct and sorted in
  * UTF8String (binary) order, so that id order equals string order. The
  * term array rides the stage's task binary; the hash index is rebuilt
  * lazily wherever the dictionary is deserialized. */
final class TermDictionary(val terms: Array[UTF8String]) extends Serializable {
  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.length * 2)
    var i = 0
    while (i < terms.length) { m.put(terms(i), i); i += 1 }
    m
  }

  def size: Int = terms.length

  /** The ids of one array of terms, in the same order. */
  def ids(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val id = index.get(arr.getUTF8String(i))
      if (id == null) throw new IllegalArgumentException(
        s"term ${arr.getUTF8String(i)} is not in the dictionary")
      out(i) = id
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `TermIds(terms, dict)` — an array<string> of terms mapped to their
  * [[TermDictionary]] ids. Pair counting over ids hashes and compares two
  * ints per pair instead of two strings, and allocates nothing per pair.
  * Like [[MapLookup]] it carries a driver-built object, so it enters plans
  * through ColumnBridge rather than the FunctionRegistry. */
case class TermIds(child: Expression, dict: TermDictionary) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_term_ids requires an array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_term_ids"

  override protected def nullSafeEval(input: Any): Any =
    dict.ids(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("termDict", dict, classOf[TermDictionary].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $d.ids($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TermIds =
    copy(child = newChild)
}

/** `graft_shingle_hash(toks, n, distinct)` — 60-bit md5-prefix hashes of
  * token n-gram shingles, one codegen'd kernel call per row. */
case class ShingleHash64(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hash requires array<string> and n >= 1, got " +
        s"${child.dataType.simpleString}, n=$n")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash"

  override protected def nullSafeEval(input: Any): Any =
    Kernels.shingleHash64(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Kernels.shingleHash64($c, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash64 =
    copy(child = newChild)
}

/** `graft_minhash(hs, k)` — k-permutation MinHash signature of a 60-bit
  * shingle-hash array. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<bigint> and k >= 1, got " +
        s"${child.dataType.simpleString}, k=$k")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    Kernels.minhashSig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Kernels.minhashSig($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `graft_jaccard(a, b)` — exact Jaccard over two distinct-element
  * array<bigint> columns (sort-merge, no per-row hash sets). */
case class Jaccard64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jaccard requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccard64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.jaccard64($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Jaccard64 =
    copy(left = newLeft, right = newRight)
}

/** `graft_simhash(toks, bits)` — tf-weighted SimHash of a token array,
  * packed in a long; one kernel call per row, no corpus-level shuffle. */
case class SimHash64(child: Expression, bits: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if bits >= 1 && bits <= 60 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires array<string> and 1 <= bits <= 60, got " +
        s"${child.dataType.simpleString}, bits=$bits")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    Kernels.simhash64(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Kernels.simhash64($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object StopwordHits {
  /** Profile order = output array order = langId tiebreak order. */
  val langs: Seq[String] = Seq("en", "es", "de", "fr")
}

/** `graft_langid(toks, minRatio)` — n-gram-heuristic language ID in one
  * kernel call (see Kernels.langId for the tiebreak contract). */
case class LangId(child: Expression, minRatio: Double) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_langid requires array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid"

  override protected def nullSafeEval(input: Any): Any =
    Kernels.langId(input.asInstanceOf[ArrayData], minRatio)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Kernels.langId($c, $minRatio);")

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** `graft_stop_hits(toks)` — stopword hit counts for all language profiles
  * in one pass (vs one interpreted `filter` HOF per language). */
case class StopwordHits(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_stop_hits requires array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_stop_hits"

  override protected def nullSafeEval(input: Any): Any =
    Kernels.stopHits(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Kernels.stopHits($c);")

  override protected def withNewChildInternal(newChild: Expression): StopwordHits =
    copy(child = newChild)
}

/** `graft_segment_count(w, pieces, maxPieceLen)` — greedy longest-match
  * subword segmentation piece count under a DRIVER-HELD piece vocabulary
  * (the pieces and maxPieceLen are constructor constants, like
  * [[ShingleHash64]]'s n). The vocabulary of a subword tokenizer is a
  * bounded MODEL (topK pieces by construction — BPE/SentencePiece vocabs
  * are 32k-256k entries), so baking it into the expression is the same
  * broadcast-a-trained-model shape as the ANN centroids/codebooks; the
  * unbounded-vocabulary fallback remains the relational loop in
  * TextAnalysisOps.segmentWordCounts, which this expression must equal
  * row-for-row (TextAnalysisSpec proves it). */
case class SegmentCount(child: Expression, pieces: Seq[String], maxPieceLen: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if maxPieceLen >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_segment_count requires a string word and maxPieceLen >= 1, " +
        s"got ${child.dataType.simpleString}, maxPieceLen=$maxPieceLen")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_segment_count"

  // rebuilt lazily per deserialized instance (executors get the Seq, the
  // set is derived state); UTF8String equality is byte equality
  @transient private lazy val pieceSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](pieces.size * 2)
    pieces.foreach(p => s.add(UTF8String.fromString(p)))
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    Kernels.segmentCount(input.asInstanceOf[UTF8String], pieceSet, maxPieceLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("pieceSet", pieceSet,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Kernels.segmentCount($c, $setRef, $maxPieceLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): SegmentCount =
    copy(child = newChild)
}
