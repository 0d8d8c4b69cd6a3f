package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{ScanPolicy, SparkEntry}
import graft.functions.GraftFunctions

/** The benchmark harness. It drives the engine only through its public
  * surface: `SparkEntry.queries`, `ScanPolicy.applyFor` and the kernels'
  * Column helpers.
  *
  * Modes (`--mode`):
  *  - `setup`: create the session, print the ready marker, exit.
  *  - `run`: one workload run — set-up, a cold pass, warm passes for
  *    `--seconds`, then an untimed pass that hashes every result against
  *    the golden digests. `--trace 1` adds the span tracer and the kernel
  *    micro-harness.
  *  - `golden`: write each query's result as parquet under `--dump` (with
  *    the queries' DuckDB oracle SQL beside it, for `tools/check.py`) and
  *    record the digest of what was written.
  *
  * The run's results go to `--out` as one JSON object.
  */
object Main {

  val ReadyMarker = "PERFBENCH_READY"

  /** Renders the result, golden and span files (Scala maps, sequences and
    * options included). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(mode: String, workload: String, data: String,
                        seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, bound: Double, golden: String, out: String,
                        traceOut: String, dump: String, work: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String, default: String = null): String =
      kv.getOrElse(k, Option(default).getOrElse(
        throw new IllegalArgumentException(s"missing --$k")))
    Args(get("mode"), get("workload", ""), get("data", ""),
      get("seed", "0").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("cpus").toInt,
      get("bound", "0.1").toDouble, get("golden", ""), get("out", ""),
      get("trace-out", ""), get("dump", ""), get("work"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    println(ReadyMarker)
    System.out.flush()
    try a.mode match {
      // set-up is all this mode measures; skip the orderly shutdown
      case "setup" => Runtime.getRuntime.halt(0)
      case "run" => run(spark, a)
      case "golden" => golden(spark, a)
      case m => throw new IllegalArgumentException(s"unknown --mode $m")
    } finally spark.stop()
  }

  /** Set-up: a local session with the graft functions registered. Scratch
    * space (shuffle files, warehouse) stays under the `--work` directory. */
  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", ScanPolicy.textSplit)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  private type Query = (SparkSession, String) => DataFrame

  private def queriesOf(w: Workloads.Workload): Seq[(String, Query)] =
    w.queries.map(q => q -> SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"SparkEntry has no query $q")))

  /** Release every persisted block, blocking, before a query starts (as
    * the engine's own Bench does), and size its scan splits. */
  private def prepare(spark: SparkSession, name: String): Unit = {
    ScanPolicy.applyFor(spark, name)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Warm passes per run at least, so that every run's median is taken
    * over the same number of passes of a JIT that is still warming up. */
  private val MinWarmPasses = 3

  private val canaryRows = 1L << 24

  /** The calibration canary: a fixed CPU-bound codegen kernel. */
  private def canary(spark: SparkSession): Double = {
    spark.sparkContext.setJobDescription("pb|canary")
    val t0 = System.nanoTime()
    spark.range(canaryRows).selectExpr("sum(hash(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Largest heap occupancy seen right after a collection while `on`. */
  private final class HeapWatch {
    @volatile var on = false
    @volatile var peakBytes = 0L
    def start(): Unit = { peakBytes = 0L; on = true }
    /** Collect before a query (untimed): garbage left by the queries before
      * it does not count, and its own collections then fall at the same
      * allocation points whatever order the seed gave the queries. */
    def collect(): Unit = System.gc()
    private val listener: NotificationListener = (n, _) =>
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  final case class PassResult(index: Int, traced: Boolean, wallS: Double,
                              cpuS: Double, buildS: Double, execS: Double,
                              jitS: Double, gcS: Double, codegenS: Double,
                              generatedClasses: Double,
                              peakHeapMb: Double, queryS: Map[String, Double],
                              canaries: Seq[Double])

  private def run(spark: SparkSession, a: Args): Unit = {
    val w = Workloads.byName(a.workload)
    val input = s"${a.data}/${w.input}"
    val rnd = new scala.util.Random(a.seed)
    val order = rnd.shuffle(queriesOf(w))
    val tracer = if (a.trace) Some(new Tracer(spark, a.cpus)) else None
    val runSpan = tracer.map(_.open("run", w.name, -1, -1))
    val heap = new HeapWatch
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def pass(index: Int, traced: Boolean, withCanary: Boolean): PassResult = {
      val t = if (traced) tracer else None
      t.foreach(_.attach(index))
      val passSpan = t.map(_.open("pass", s"pass $index", runSpan.get.id, index))
      // CPU, JIT, GC and codegen are summed over the queries' build and
      // exec only: the GCs forced before queries and the canaries are left out
      var wall, cpu, build, exec, jit, gc, codegen, classes = 0.0
      val perQuery = mutable.LinkedHashMap.empty[String, Double]
      val canaries = mutable.ArrayBuffer.empty[Double]
      if (withCanary) heap.start()
      for ((name, fn) <- order) {
        prepare(spark, name)
        if (withCanary) heap.collect()
        val qSpan = t.map(_.open("query", name, passSpan.get.id, index))
        val sc = spark.sparkContext
        sc.setJobDescription(s"pb|$index|$name|build")
        val c0 = processCpuNs(); val jit0 = jitMs(); val gc0 = gcMs()
        val cg0 = t.map(_.codegenCompileNs()).getOrElse(0L)
        val cls0 = t.map(_.generatedClasses()).getOrElse(0L)
        val t0 = System.nanoTime()
        var t1 = t0
        val bSpan = t.map(_.open("build", name, qSpan.get.id, index))
        try {
          val df = fn(spark, input)
          t1 = System.nanoTime()
          for (tr <- t; s <- bSpan) tr.close(s)
          sc.setJobDescription(s"pb|$index|$name|exec")
          val eSpan = t.map(_.open("exec", name, qSpan.get.id, index))
          try df.write.format("noop").mode("overwrite").save()
          finally for (tr <- t; s <- eSpan) tr.close(s)
        } catch { case e: Throwable =>
          failed += 1
          errors += s"$name (pass $index): ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[perfbench] $name failed in pass $index: $e")
        }
        val t2 = System.nanoTime()
        val c1 = processCpuNs()
        jit += (jitMs() - jit0) / 1000.0
        gc += (gcMs() - gc0) / 1000.0
        for (tr <- t) {
          codegen += (tr.codegenCompileNs() - cg0) / 1e9
          classes += (tr.generatedClasses() - cls0).toDouble
        }
        attempted += 1
        for (tr <- t; s <- bSpan if s.end.isNaN) tr.close(s)
        for (tr <- t; s <- qSpan) tr.close(s)
        wall += (t2 - t0) / 1e9
        build += (t1 - t0) / 1e9
        exec += (t2 - t1) / 1e9
        cpu += (c1 - c0) / 1e9
        perQuery(name) = (t2 - t0) / 1e9
        t.foreach(_.settle())
        if (withCanary) canaries += canary(spark)
      }
      for (tr <- t; s <- passSpan) tr.close(s)
      val res = PassResult(index, traced, wall, cpu, build, exec, jit, gc,
        codegen, classes, heap.peakBytes / (1024.0 * 1024.0), perQuery.toMap, canaries.toSeq)
      heap.on = false
      t.foreach(_.detach())
      System.err.println(f"[perfbench] pass $index${if (traced) " (traced)" else ""}: " +
        f"$wall%.3f s, cpu $cpu%.3f s, " + perQuery.map { case (q, s) => f"$q $s%.3f" }.mkString(", "))
      res
    }

    // the cold pass: every query's first execution in this JVM
    val cold = pass(0, traced = a.trace, withCanary = false)
    // untimed: hash every result against the golden digests; this pass
    // also takes the JIT past the cold pass before the timed warm passes
    val goldens = readGolden(a.golden, w.name)
    val verify = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    for ((name, fn) <- order) {
      prepare(spark, name)
      spark.sparkContext.setJobDescription(s"pb|verify|$name")
      attempted += 1
      val got = try Some(ResultHash.of(fn(spark, input))) catch { case e: Throwable =>
        errors += s"$name (verify): ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
      val want = goldens.get(name)
      val ok = got.isDefined && want.contains(got.get)
      if (!ok) {
        failed += 1
        if (got.isDefined) errors += s"$name: result digest ${got.get} != golden ${want.getOrElse("(none)")}"
      }
      verify(name) = Map("ok" -> ok, "rows" -> got.map(_.rows), "sha256" -> got.map(_.sha256))
    }
    (1 to 3).foreach(_ => canary(spark))
    // warm passes for --seconds; the traced run alternates traced and
    // untraced passes so the tracing overhead can be read off
    val warm = mutable.ArrayBuffer.empty[PassResult]
    val w0 = System.nanoTime()
    while (warm.size < MinWarmPasses || (System.nanoTime() - w0) / 1e9 < a.seconds)
      warm += pass(warm.size + 1, traced = a.trace && warm.size % 2 == 0, withCanary = true)

    // contended passes: the canary during the pass ran slower than the
    // run's median canary by more than the bound; they are excluded from
    // the medians below and reported, not averaged in
    val allCanaries = warm.flatMap(_.canaries).toSeq
    val canaryMed = Stats.median(allCanaries)
    def contended(p: PassResult): Boolean =
      Stats.median(p.canaries) > canaryMed * (1 + a.bound)
    val clean = warm.filterNot(contended).toSeq
    if (clean.size < warm.size) System.err.println(
      s"[perfbench] WARNING: ${warm.size - clean.size} of ${warm.size} warm passes " +
        s"contended (canary above ${1 + a.bound}x its run median); excluded")
    val untraced = clean.filterNot(_.traced)
    val timed = if (untraced.nonEmpty) untraced else clean
    val wallS = Stats.median(timed.map(_.wallS))
    // each pass's wall over the canary measured during that same pass:
    // host speed on a shared box drifts within seconds
    val wallNorm = Stats.median(timed.map(p => p.wallS / Stats.median(p.canaries)))

    val layers: Map[String, Double] = tracer match {
      case None => Map.empty
      case Some(tr) =>
        val tracedPasses = clean.filter(_.traced) match {
          case Seq() => warm.filter(_.traced).toSeq
          case ps => ps
        }
        def med(f: PassResult => Double): Double = Stats.median(tracedPasses.map(f))
        val perPass = tracedPasses.map(p => tr.passMetrics(p.index, p.wallS))
        val selfS = tracedPasses.map(p => tr.selfSeconds(p.index))
        val kinds = Seq("pass", "query", "build", "exec", "job", "stage")
        val untracedWall = warm.filterNot(_.traced).map(_.wallS).toSeq
        val kernels = KernelBench.run(spark, a.seed)
        val coldLayers = tr.passMetrics(cold.index, cold.wallS)
        perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap ++
          kinds.map(k => s"self.${k}_s" -> Stats.median(selfS.map(_.getOrElse(k, 0.0)))) ++
          Map(
            "op.build_s" -> med(_.buildS),
            "op.exec_s" -> med(_.execS),
            "plan.codegen_compile_s" -> med(_.codegenS),
            "plan.generated_classes" -> med(_.generatedClasses),
            "jvm.jit_s" -> med(_.jitS),
            "jvm.gc_pause_s" -> med(_.gcS),
            "jvm.cpu_s" -> med(_.cpuS),
            "cold.jit_s" -> cold.jitS,
            "cold.gc_pause_s" -> cold.gcS,
            "cold.codegen_compile_s" -> cold.codegenS,
            "cold.generated_classes" -> cold.generatedClasses,
            "cold.driver_s" -> coldLayers("driver_s"),
            "cold.plan_s" -> Seq("plan.analysis_s", "plan.optimize_s", "plan.physical_s")
              .map(coldLayers).sum,
            "canary_s" -> canaryMed,
            "canary_spread" -> Stats.spread(allCanaries),
            "trace.overhead" ->
              (if (untracedWall.isEmpty) 1.0 else med(_.wallS) / Stats.median(untracedWall)),
          ) ++ kernels
    }
    tracer.foreach { tr =>
      runSpan.foreach(tr.close)
      if (a.traceOut.nonEmpty) Files.writeString(Paths.get(a.traceOut), tr.spansJson())
    }

    val queryMedians = w.queries.map { q =>
      q -> Map("cold_s" -> cold.queryS(q), "warm_s" -> Stats.median(timed.map(_.queryS(q))))
    }.toMap
    val result = Map(
      "workload" -> w.name,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "cpus" -> a.cpus,
      "order" -> order.map(_._1),
      "attempted" -> attempted,
      "failed" -> failed,
      "correct" -> (failed == 0),
      "errors" -> errors.toSeq,
      "first_pass_s" -> cold.wallS,
      "wall_s" -> wallS,
      "wall_norm" -> wallNorm,
      "cpu_s" -> Stats.median(timed.map(_.cpuS)),
      "peak_heap_mb" -> Stats.median(timed.map(_.peakHeapMb)),
      "canary_s" -> canaryMed,
      "canary_spread" -> Stats.spread(allCanaries),
      "warm_passes" -> warm.map(p => Map("wall_s" -> p.wallS, "traced" -> p.traced,
        "contended" -> contended(p), "canary_s" -> Stats.median(p.canaries),
        "cpu_s" -> p.cpuS, "peak_heap_mb" -> p.peakHeapMb, "queries" -> p.queryS)).toSeq,
      "contended_passes" -> (warm.size - clean.size),
      "queries" -> queryMedians,
      "verify" -> verify.toMap,
      "layers" -> layers,
    )
    Files.writeString(Paths.get(a.out), json.writeValueAsString(result) + "\n")
  }

  /** `{workload: {query: {"rows": n, "sha256": hex}}}` from the golden file. */
  private def readGolden(path: String, workload: String): Map[String, ResultHash.Digest] = {
    val root = json.readTree(new java.io.File(path))
    val node = root.path(workload)
    node.fieldNames().asScala.map { q =>
      val d = node.get(q)
      q -> ResultHash.Digest(d.get("rows").asLong(), d.get("sha256").asText())
    }.toMap
  }

  private def golden(spark: SparkSession, a: Args): Unit = {
    val w = Workloads.byName(a.workload)
    val digests = queriesOf(w).map { case (name, fn) =>
      prepare(spark, name)
      val dir = s"${a.dump}/$name"
      fn(spark, s"${a.data}/${w.input}").coalesce(1).write.mode("overwrite").parquet(dir)
      val d = ResultHash.of(spark.read.parquet(dir))
      System.err.println(s"[perfbench] $name: ${d.rows} rows, ${d.sha256}")
      name -> Map("rows" -> d.rows, "sha256" -> d.sha256)
    }.toMap
    val oracle = SparkEntry.oracleSql.filter(kv => w.queries.contains(kv._1))
    Files.writeString(Paths.get(s"${a.dump}/oracle_sql.json"), json.writeValueAsString(oracle))
    Files.writeString(Paths.get(a.out),
      json.writeValueAsString(Map("input" -> w.input, "digests" -> digests)) + "\n")
  }
}
