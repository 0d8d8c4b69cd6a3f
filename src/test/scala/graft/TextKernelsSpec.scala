package graft

import graft.functions.{GraftFunctions, TermDictionary, TermIds}
import graft.operators.{DedupOps, TextAnalysisOps, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** The native kernels must produce EXACTLY the values of the column-level
  * reference implementations they replace (which in turn hash-match the
  * DuckDB oracle) — on every edge case: empty doc, doc shorter than n,
  * duplicates, multi-space runs.
  */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a b"),                      // shorter than shingle n
    (2L, ""),                         // empty
    (3L, "x x x x x x"),              // heavy duplication
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (5L, "el la de que y en un por con los la la"),       // es stopwords
    (6L, "  padded   with   runs  of spaces  ")
  ).toDF("doc_id", "text")

  test("shingle hash kernel matches the column md5/conv reference") {
    GraftFunctions.register(spark)
    for (n <- Seq(1, 3, 4); distinct <- Seq(true, false)) {
      val toks = TextOps.tokens(col("text"))
      val got = docs.select(col("doc_id"),
        DedupOps.shingleHashes64(toks, n, distinct).as("hs"))
      val ref = docs.select(col("doc_id"),
        DedupOps.shingleHashes(DedupOps.shingles(toks, n, distinct)).as("hs"))
      assert(got.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))) ===
        ref.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))),
        s"n=$n distinct=$distinct")
    }
  }

  test("minhash kernel matches the column permute/array_min reference") {
    GraftFunctions.register(spark)
    val hs = DedupOps.shingleHashes64(TextOps.tokens(col("text")), 3)
    val got = docs.select(col("doc_id"), DedupOps.minhashSignature64(hs, 12).as("sig"))
    val ref = docs.select(col("doc_id"), DedupOps.minhashSignature(hs, 12).as("sig"))
    assert(got.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))) ===
      ref.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))))
  }

  test("jaccard kernel matches the array_intersect reference") {
    GraftFunctions.register(spark)
    val sh = docs.select(col("doc_id"),
      DedupOps.shingleHashes64(TextOps.tokens(col("text")), 3).as("hs"))
    val pairs = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
    val got = pairs.select(col("a.doc_id"), col("b.doc_id"),
      call_function("graft_jaccard", col("a.hs"), col("b.hs")).as("j")).collect()
    val ref = pairs.select(col("a.doc_id"), col("b.doc_id"),
      DedupOps.jaccard(col("a.hs"), col("b.hs")).as("j")).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      ref.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    // exact duplicate docs 0 and 4 must score 1.0
    assert(got.find(r => r.getLong(0) == 0 && r.getLong(1) == 4)
      .get.getDouble(2) === 1.0)
  }

  test("stopword-hits kernel matches the filter-HOF reference, all langs") {
    GraftFunctions.register(spark)
    val toks = TextOps.tokens(col("text"))
    // reference implementation: one interpreted filter per language
    def refRatio(lang: String) = {
      val words = array(TextAnalysisOps.stopwordProfiles(lang).map(lit): _*)
      size(filter(toks, t => array_contains(words, t))).cast("double") /
        greatest(size(toks), lit(1)).cast("double")
    }
    for (lang <- functions.StopwordHits.langs) {
      val got = docs.select(TextAnalysisOps.stopwordRatio(toks, lang)).collect()
      val ref = docs.select(refRatio(lang)).collect()
      assert(got.map(_.getDouble(0)).toSeq === ref.map(_.getDouble(0)).toSeq, lang)
    }
  }

  test("simhash kernel matches the relational reference") {
    val got = DedupOps.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = DedupOps.simhashRelational(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the relational form drops token-less docs (nothing to explode);
    // the kernel emits simhash 0 for them — compare on common ids and
    // check the empty-doc convention explicitly
    assert(ref.keySet.subsetOf(got.keySet))
    for ((k, v) <- ref) assert(got(k) === v, s"doc $k")
    assert(got(2L) === 0L)
  }

  test("kernels agree between codegen and interpreted execution") {
    // NO_CODEGEN forces InterpretedUnsafeProjection -> the nullSafeEval
    // path; results must be identical to the generated-code path
    val s2 = SparkSpec.session.newSession()
    GraftFunctions.register(s2)
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val sql = """SELECT doc_id,
      |  graft_shingle_hash(split(trim(text), '\\s+'), 3, true) AS hs,
      |  graft_simhash(split(trim(text), '\\s+'), 60) AS sh,
      |  graft_langid(split(trim(text), '\\s+'), 0.02D) AS lang,
      |  graft_stop_hits(split(trim(text), '\\s+')) AS hits
      |FROM docs""".stripMargin
    docs.createOrReplaceTempView("docs")
    val base = spark.sql(sql).collect().map(_.toString).sorted
    docs.createOrReplaceTempView("docs") // register in s2's catalog too
    s2.createDataFrame(docs.collectAsList(), docs.schema)
      .createOrReplaceTempView("docs")
    val interp = s2.sql(sql).collect().map(_.toString).sorted
    assert(base.toSeq === interp.toSeq)
  }

  test("graft_tokens: codegen and interpreted agree, null stays null, and " +
      "the kernel runs inside whole-stage codegen") {
    val texts = Seq(Some("the quick  brown\tfox\n"), Some(""), Some(" \u000b\f\r "),
      Some("caf\u00e9\u00a0au\u3000lait \ud83d\ude00 x"), None, Some("  a  "))
    // a parquet-backed column: the projection runs inside a codegen stage
    // over the vectorized reader's reused buffers (a LocalRelation would be
    // folded on the driver by interpreted evaluation)
    val dir = java.nio.file.Files.createTempDirectory("graft-tokens").toString
    try {
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .write.mode("overwrite").parquet(dir)
      def tokensOf(session: org.apache.spark.sql.SparkSession) = session.read
        .parquet(dir).select(col("id"), TextOps.tokens(col("text")).as("toks"))
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).sortBy(_._1).toSeq
      val q = tokensOf(spark)
      assert(q.schema("toks").dataType ===
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.split("\n").exists(l =>
        l.contains("graft_tokens") && l.trim.startsWith("*")),
        s"graft_tokens not inside a codegen stage:\n$plan")
      val codegen = rows(q)
      val expected = texts.map(_.map(t =>
        t.split("[ \t\n\u000b\f\r]+").filter(_.nonEmpty).toSeq))
      assert(codegen.map(_._2) === expected)
      assert(codegen(4)._2.isEmpty, "null text -> null tokens")
      assert(codegen(3)._2.get ===
        Seq("caf\u00e9\u00a0au\u3000lait", "\ud83d\ude00", "x"))

      // NO_CODEGEN forces the interpreted nullSafeEval path
      val s2 = SparkSpec.session.newSession()
      s2.conf.set("spark.sql.codegen.wholeStage", "false")
      s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(rows(tokensOf(s2)) === codegen)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("graft_tokens is registered for SQL and equals the split/trim form") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("docs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_tokens(text) AS a,
        |  array_remove(split(trim(text), '\\s+'), '') AS b FROM docs""".stripMargin)
      .collect()
    assert(viaSql.length === 7)
    viaSql.foreach(r => assert(r.getSeq[String](1) === r.getSeq[String](2),
      s"doc ${r.getLong(0)}"))
    assert(spark.sql("SELECT graft_tokens(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("pmi counts pairs over term ids and equals the string-pair formulation") {
    // U+FF21 sorts before U+1F600 in UTF-8 bytes but after it in UTF-16
    // chars: the ids must follow Spark's (byte) string order for x < y
    val corpus = Seq(
      (0L, "b a c \uff21 \ud83d\ude00"), (1L, "a b b"), (2L, "\ud83d\ude00 \uff21 a"),
      (3L, "c a \uff21"), (4L, ""), (5L, "a"), (6L, "d e")
    ).toDF("doc_id", "text")
    for (minCount <- Seq(1, 2)) {
      val terms = TextOps.docDistinctTerms(corpus, "doc_id", "text")
      val n = terms.count()
      val marginals = terms.select(explode(col("terms")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("df"))
      val expected = terms
        .select(explode(col("terms")).as("x"), col("terms"))
        .select(col("x"), explode(col("terms")).as("y"))
        .where(col("x") < col("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= minCount)
        .join(marginals.withColumnRenamed("t", "x").withColumnRenamed("df", "df_x"), "x")
        .join(marginals.withColumnRenamed("t", "y").withColumnRenamed("df", "df_y"), "y")
        .select(col("x"), col("y"), col("n_docs"),
          log(col("n_docs") * lit(n.toDouble) / (col("df_x") * col("df_y"))).as("pmi"))
      val got = TextOps.pmi(corpus, "doc_id", "text", minCount)
      assert(got.schema === expected.schema)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(rows(got) === rows(expected), s"minCount $minCount")
      assert(rows(got).exists(_.startsWith("\uff21|\ud83d\ude00|")))
    }
  }

  test("graft_term_ids: codegen and interpreted agree and ids follow byte order") {
    val words = Seq("\ud83d\ude00", "b", "\uff21", "a")
    val dict = new TermDictionary(words.map(UTF8String.fromString)
      .sortWith((a, b) => a.compareTo(b) < 0).toArray)
    assert(dict.terms.map(_.toString).toSeq === Seq("a", "b", "\uff21", "\ud83d\ude00"))
    val arrays = Seq(Some(Seq("a", "\ud83d\ude00", "b")), Some(Seq.empty[String]), None)
      .toDF("terms")
    def ids(session: org.apache.spark.sql.SparkSession) = session
      .createDataFrame(arrays.rdd, arrays.schema)
      .select(ColumnBridge.column(TermIds(ColumnBridge.expression(col("terms")), dict)))
      .collect().map(r => Option(r.getSeq[Int](0))).toSeq
    val codegen = ids(spark)
    assert(codegen === Seq(Some(Seq(0, 3, 1)), Some(Seq.empty[Int]), None))
    val s2 = SparkSpec.session.newSession()
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(ids(s2) === codegen)
  }

  test("langid still classifies the spanish doc as es and empty as und") {
    val out = docs.select(col("doc_id"),
      TextAnalysisOps.langId(TextOps.tokens(col("text"))).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(5L) === "es")
    assert(out(0L) === "en")
    assert(out(2L) === "und")
  }

  test("langid kernel matches the column-fold reference on the corpus") {
    val toks = TextOps.tokens(col("text"))
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = d.select(col("doc_id"), TextAnalysisOps.langId(toks).as("l")).collect()
    val ref = d.select(col("doc_id"), TextAnalysisOps.langIdColumns(toks).as("l")).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      ref.map(r => (r.getLong(0), r.getString(1))).toSeq)
  }
}
