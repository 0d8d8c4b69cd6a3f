package graft

import java.security.MessageDigest

import graft.functions.{Kernels, KmvSketch}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAll, forAllNoShrink}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (ScalaCheck) for the native kernels against independent
  * scala reference implementations — no Spark round-trip per sample, so
  * hundreds of cases run in milliseconds. These are the §5-style property
  * obligations: hash/permutation correctness, sketch merge laws, metric
  * bounds. The tokenizer's reference is the Spark expression it replaced,
  * evaluated once per generated batch of strings.
  */
class KernelPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(200)
  private def check(prop: org.scalacheck.Prop, label: String): Unit = {
    val r = SCTest.check(params, prop)
    assert(r.passed, s"$label: $r")
  }

  private val genWord: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val genToks: Gen[List[String]] = Gen.choose(0, 30)
    .flatMap(n => Gen.listOfN(n, genWord))

  private def arr(toks: Seq[String]): GenericArrayData =
    new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])

  /** UTF-8 byte strings built from pieces that stress the tokenizer: the
    * six `\s` bytes, Unicode spaces `\s` does NOT match (U+00A0, U+3000),
    * multi-byte characters, and malformed sequences (stray continuation,
    * truncated lead, overlong, encoded surrogate, above U+10FFFF, 0xFF). */
  private val genTextBytes: Gen[Array[Byte]] = {
    def utf8(s: String) = s.getBytes("UTF-8").toSeq
    val spaces = Seq(" ", "\t", "\n", "\u000b", "\f", "\r").map(utf8)
    val piece = Gen.frequency(
      4 -> Gen.alphaNumChar.map(c => utf8(c.toString)),
      3 -> Gen.oneOf(spaces),
      1 -> Gen.oneOf(Seq("\u00a0", "\u3000", "\u00e9", "\u4e2d", "\ud83d\ude00",
        "\u0085", "\u2028").map(utf8)),
      1 -> Gen.oneOf(Seq(Seq(0x80), Seq(0xbf), Seq(0xc3), Seq(0xc0, 0xaf),
        Seq(0xe0, 0x80, 0xaf), Seq(0xed, 0xa0, 0x80), Seq(0xf4, 0x90, 0x80, 0x80),
        Seq(0xf0, 0x9f), Seq(0xff), Seq(0xe2, 0x82)).map(_.map(_.toByte))))
    Gen.frequency(
      1 -> Gen.const(Array.emptyByteArray),
      1 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(spaces)))
        .map(_.flatten.toArray),
      8 -> Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, piece))
        .map(_.flatten.toArray))
  }

  /** Independent md5-prefix reference: first 15 hex chars as a long. */
  private def refHash60(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("shingle hashes equal the string-join + md5-prefix reference") {
    check(forAll(genToks, Gen.choose(1, 5)) { (toks, n) =>
      val got = Kernels.shingleHash64(arr(toks), n, distinct = false).toLongArray()
      val expected =
        if (toks.length < n) Array(refHash60(toks.mkString(" ")))
        else toks.sliding(n).map(w => refHash60(w.mkString(" "))).toArray
      got.sameElements(expected)
    }, "shingleHash64")
  }

  test("distinct shingle hashing keeps first occurrences in order") {
    check(forAll(genToks, Gen.choose(1, 4)) { (toks0, n) =>
      val toks = toks0 ++ toks0 // force duplicates
      val got = Kernels.shingleHash64(arr(toks), n, distinct = true).toLongArray()
      val all = Kernels.shingleHash64(arr(toks), n, distinct = false).toLongArray()
      got.sameElements(all.distinct)
    }, "shingleHash64 distinct")
  }

  test("minhash permutation equals BigInt modular multiply; values stay in [0, 2^60)") {
    val mask = (BigInt(1) << 60) - 1
    check(forAll(Gen.nonEmptyListOf(Gen.choose(0L, Kernels.mask60)), Gen.choose(1, 16)) {
      (hs, k) =>
        val sig = Kernels.minhashSig(new GenericArrayData(hs.toArray), k).toLongArray()
        val mults = Kernels.multipliers(k)
        val expected = mults.map(c =>
          hs.map(h => ((BigInt(h) * BigInt(c)) & mask).toLong).min)
        sig.sameElements(expected) && sig.forall(v => v >= 0 && v <= Kernels.mask60)
    }, "minhashSig")
  }

  test("jaccard: bounds, symmetry, self-similarity = 1") {
    val genSet = Gen.nonEmptyListOf(Gen.choose(0L, 1000L)).map(_.distinct)
    check(forAll(genSet, genSet) { (a, b) =>
      val da = new GenericArrayData(a.toArray)
      val db = new GenericArrayData(b.toArray)
      val j = Kernels.jaccard64(da, db)
      val sym = Kernels.jaccard64(db, da)
      val self = Kernels.jaccard64(da, da)
      val ref = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
      j == sym && self == 1.0 && j >= 0.0 && j <= 1.0 && j == ref
    }, "jaccard64")
  }

  test("simhash equals the tf-weighted bit-vote reference") {
    check(forAll(genToks) { toks =>
      val got = Kernels.simhash64(arr(toks), 60)
      val tf = toks.groupBy(identity).view.mapValues(_.size)
      val expected = (0 until 60).map { j =>
        val vote = tf.map { case (t, c) =>
          if (((refHash60(t) >>> j) & 1L) == 1L) c else -c
        }.sum
        if (vote > 0) 1L << j else 0L
      }.sum
      got == expected
    }, "simhash64")
  }

  test("CMS build and probe bucket paths agree (JVM wrap-multiply vs 30-bit split)") {
    // CmsSketch.reduce buckets via Kernels.multipliers + JVM wrap-multiply;
    // CmsSketch.estimate buckets via DedupOps.permuteHash (30-bit-split
    // column form) + pmod. The one-sided CMS guarantee dies silently if
    // these ever diverge — pin their equality over random hashes.
    val d = 3; val w = 1024
    val mults = Kernels.multipliers(d)
    def splitBucket(h: Long, j: Int): Int = {
      // the exact arithmetic DedupOps.permuteHash emits as columns
      val mask30 = (1L << 30) - 1
      val c = mults(j)
      val c1 = c >> 30; val c0 = c & mask30
      val h1 = h >>> 30; val h0 = h & mask30
      val mid = (h0 * c1 + h1 * c0) & mask30
      val perm = (h0 * c0 + (mid << 30)) & Kernels.mask60
      (perm % w).toInt
    }
    check(forAll(Gen.chooseNum(0L, (1L << 60) - 1)) { h =>
      (0 until d).forall(j =>
        graft.functions.CmsSketch.bucket(h, j, d, w) == splitBucket(h, j))
    }, "cms bucket parity")
  }

  test("KMV sketch: merge is commutative/associative, partition-order invariant") {
    val agg = new KmvSketch.Agg(32)
    val genHs = Gen.listOf(Gen.choose(0L, Kernels.mask60))
    check(forAll(genHs, genHs, genHs) { (xs, ys, zs) =>
      def sk(vs: Seq[Long]) = vs.foldLeft(agg.zero)(agg.reduce)
      val (a, b, c) = (sk(xs), sk(ys), sk(zs))
      val comm = agg.merge(a, b).sameElements(agg.merge(b, a))
      val assoc = agg.merge(agg.merge(a, b), c)
        .sameElements(agg.merge(a, agg.merge(b, c)))
      // one-pass == any split of the stream
      val whole = sk(xs ++ ys ++ zs)
      val split = agg.merge(agg.merge(a, b), c)
      comm && assoc && whole.sameElements(split)
    }, "kmv merge laws")
  }

  test("KMV estimate is exact below k, positive and finite always") {
    val agg = new KmvSketch.Agg(64)
    check(forAll(Gen.listOf(Gen.choose(0L, Kernels.mask60))) { vs =>
      val st = vs.foldLeft(agg.zero)(agg.reduce)
      val est = agg.finish(st)
      val distinct = vs.distinct.size
      if (distinct < 64) est == distinct.toDouble
      else est > 0 && java.lang.Double.isFinite(est)
    }, "kmv estimate")
  }

  test("tokenize equals the former split/trim expression evaluated by Spark") {
    import org.apache.spark.sql.functions._
    val spark = SparkSpec.session
    import spark.implicits._
    val hex = (b: Seq[Byte]) => b.map(x => f"${x & 0xff}%02x").mkString(" ")
    // one Spark query per generated batch of strings; `raw` proves the
    // binary -> string cast handed the malformed bytes to split unchanged
    val prop = forAllNoShrink(Gen.listOfN(200, genTextBytes)) { batch =>
      val old = batch.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "b")
        .select(col("i"), col("b").cast("string").cast("binary").as("raw"),
          array_remove(split(trim(col("b").cast("string")), "\\s+"), "").as("toks"))
        .collect().sortBy(_.getInt(0))
      val bad = old.find { r =>
        val in = batch(r.getInt(0))
        val want = r.getSeq[String](2).map(_.getBytes("UTF-8").toSeq)
        val got = Kernels.tokenize(UTF8String.fromBytes(in)).toArray[UTF8String](
          org.apache.spark.sql.types.StringType).map(_.getBytes.toSeq).toSeq
        !(r.getAs[Array[Byte]](1).sameElements(in)) || got != want
      }
      val invalid = batch.count(b => !UTF8String.fromBytes(b).isValid)
      Prop(bad.isEmpty && invalid > 0) :| bad.fold(s"$invalid invalid rows")(r =>
        s"input [${hex(batch(r.getInt(0)).toSeq)}]")
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(r.passed, r.status match {
      case SCTest.Failed(_, labels) => s"tokenize: ${labels.mkString("; ")}"
      case other => s"tokenize: $other"
    })
  }

  test("stop hits never exceed the token count and sum profile overlaps correctly") {
    import graft.operators.TextAnalysisOps.stopwordProfiles
    val words = stopwordProfiles.values.flatten.toSeq
    val genMix = Gen.listOf(Gen.oneOf(Gen.oneOf(words), genWord))
    check(forAll(genMix) { toks =>
      val hits = Kernels.stopHits(arr(toks)).toLongArray()
      functions.StopwordHits.langs.zipWithIndex.forall { case (lang, i) =>
        val expected = toks.count(stopwordProfiles(lang).contains)
        hits(i) == expected && hits(i) <= toks.length
      }
    }, "stopHits")
  }
}
