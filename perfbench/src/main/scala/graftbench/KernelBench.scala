package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences,
  Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
import org.apache.spark.sql.functions._

import graft.functions.{CmsSketch, GraftFunctions, HllSketch, KmvSketch,
  LogSpace, LongDoubleMap, MapLookup}
import graft.operators.{DedupOps, TextAnalysisOps}

/** Kernel micro-harness: a `System.nanoTime` loop over each `graft_*`
  * kernel on seeded generated rows, with no Spark job around it.
  *
  * Each kernel is built through its public Column helper (or, where the
  * engine has none, through the registered SQL function); the harness takes
  * the analyzed expression out of `df.select(kernel)` and evaluates it row
  * by row — once compiled by `GenerateUnsafeProjection` (codegen) and once
  * through `InterpretedUnsafeProjection` (interpreted). The sketches are
  * typed imperative aggregates with no codegen path; their `update` loop is
  * timed once, as `interpreted`.
  */
object KernelBench {

  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch",
    "der", "und", "le", "la", "el", "y")

  private val hashMask = (1L << 60) - 1

  /** Seeded input with every kernel's argument columns. */
  private def input(spark: SparkSession, rows: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val data = (0 until rows).map { i =>
      val toks = Seq.fill(10 + rnd.nextInt(50))(vocab(rnd.nextInt(vocab.size)))
      var doc = 0L
      val postings = Seq.fill(1 + rnd.nextInt(30)) {
        doc += 1 + rnd.nextInt(1000); (doc, 1L + rnd.nextInt(5))
      }
      (i.toLong, toks, Seq.fill(64)(rnd.nextGaussian()),
        Seq.fill(64)(rnd.nextGaussian()), postings, rnd.nextLong() & hashMask,
        rnd.nextDouble() * -20, rnd.nextDouble() * -20, toks.head + toks.last,
        rnd.nextInt(4096 * 8).toLong)
    }
    data.toDF("id", "toks", "va", "vb", "postings", "h", "x", "y", "word", "key")
      .withColumn("postings", expr(
        "transform(postings, p -> named_struct('doc', p._1, 'tf', p._2))"))
      .withColumn("hs", DedupOps.shingleHashes64(col("toks"), 3))
      .withColumn("hs2", expr("slice(hs, 2, greatest(size(hs) - 1, 1))"))
      .withColumn("packed", GraftFunctions.postingsEncode(spark, col("postings")))
  }

  private def kernels(spark: SparkSession): Seq[(String, Column)] = {
    GraftFunctions.register(spark)
    val table = LongDoubleMap.fromPairs(
      Array.tabulate(4096)(i => (i.toLong * 7, i / 4096.0)))
    Seq(
      "graft_shingle_hash" -> DedupOps.shingleHashes64(col("toks"), 3),
      "graft_minhash" -> DedupOps.minhashSignature64(col("hs"), 64),
      "graft_simhash" -> call_function("graft_simhash", col("toks"), lit(60)),
      "graft_jaccard" -> call_function("graft_jaccard", col("hs"), col("hs2")),
      "graft_dot" -> GraftFunctions.dot(spark, col("va"), col("vb")),
      "graft_langid" -> TextAnalysisOps.langId(col("toks")),
      "graft_stop_hits" -> TextAnalysisOps.stopwordHitCounts(col("toks")),
      "graft_segment_count" -> call_function("graft_segment_count", col("word"),
        lit(Array("sp", "ark", "win", "dow", "me", "rge", "ta", "ble", "col",
          "umn", "a", "s", "t", "e")), lit(4)),
      "graft_postings_encode" -> GraftFunctions.postingsEncode(spark, col("postings")),
      "graft_postings_decode" -> GraftFunctions.postingsDecode(spark, col("packed")),
      "graft_map_lookup" -> MapLookup.lookup(table, col("key")),
      "log_add" -> LogSpace.logAdd(col("x"), col("y")),
      "hll" -> HllSketch.hllDistinct(col("h"), 12),
      "kmv" -> KmvSketch.kmvDistinct(col("h"), 256),
      "cms" -> CmsSketch.cmsMatrix(col("h"), 4, 1024),
    )
  }

  @volatile private var sink: Any = null

  /** Nanoseconds per row for each of `fs` (evaluations of one kernel):
    * all are warmed up first — the JIT compiles the code they share — then
    * timed in turn `reps` times, each timing looping over the rows until
    * `minNs` has passed; the median per function is returned. */
  private def perRow(rows: Array[InternalRow], reps: Int, minNs: Long)
                    (fs: (InternalRow => Any)*): Seq[Double] = {
    def loop(f: InternalRow => Any): Double = {
      var n = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < minNs) {
        var i = 0
        while (i < rows.length) { sink = f(rows(i)); i += 1 }
        n += rows.length
        t = System.nanoTime()
      }
      (t - t0).toDouble / n
    }
    for (_ <- 1 to 3; f <- fs) loop(f)
    val times = for (_ <- 1 to reps) yield fs.map(loop)
    fs.indices.map(i => Stats.median(times.map(_(i))))
  }

  /** `kernel.<name>.<codegen|interpreted>.ns_per_row` for every kernel. */
  def run(spark: SparkSession, seed: Long, rows: Int = 2000, reps: Int = 3,
          minNs: Long = 10000000L): Map[String, Double] = {
    val df = input(spark, rows, seed)
    val attrs: AttributeSeq = df.queryExecution.analyzed.output
    val data = df.queryExecution.toRdd.map(_.copy()).collect()
    def bind(e: Expression): Expression = BindReferences.bindReference(e, attrs)
    kernels(spark).flatMap { case (name, c) =>
      def metric(mode: String) = s"kernel.$name.$mode.ns_per_row"
      df.select(c).queryExecution.analyzed match {
        case Project(Seq(e), _) =>
          val bound = bind(e)
          val compiled = GenerateUnsafeProjection.generate(Seq(bound), false)
          val interpreted = InterpretedUnsafeProjection.createProjection(Seq(bound))
          val Seq(c, i) = perRow(data, reps, minNs)(compiled(_), interpreted(_))
          Seq(metric("codegen") -> c, metric("interpreted") -> i)
        case Aggregate(_, Seq(e), _, _) =>
          val fn = bind(e.collectFirst { case a: AggregateExpression => a }.get
            .aggregateFunction).asInstanceOf[TypedImperativeAggregate[Any]]
          val buf = fn.createAggregationBuffer()
          Seq(metric("interpreted") -> perRow(data, reps, minNs)(fn.update(buf, _)).head)
        case other => throw new IllegalStateException(s"$name: unexpected plan $other")
      }
    }.toMap
  }
}
