package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.Random

/** One benchmark run in one JVM: a closed loop with a single client.
  * The driver thread runs one declared `SparkEntry.queries` entry at a
  * time, through its public lambda, into a `noop` sink, exactly as
  * `graft.Bench` does, and unpersists between queries.
  *
  *   1. set-up: start the session and run one cold pass; `setup_s` is
  *      JVM start to the end of that pass;
  *   2. untimed passes for `WarmSeconds`: first one check pass, in no
  *      metric, that writes every output as parquet for the oracle check
  *      done by run.py, then warm passes into the `noop` sink;
  *   3. timed passes until `--seconds` have elapsed; every pass runs in
  *      its own seeded query order; with `--trace 1`, traced passes
  *      alternate with untraced ones;
  *   4. with `--trace 1`, the kernels are timed, then each query of
  *      `--once` is called once, traced, for its per-query figures.
  *
  * Raw measurements go to `--result` as JSON; run.py turns them into
  * metrics. */
object Main {
  private val WarmSeconds = 12.0

  final case class Sample(name: String, seconds: Double, ok: Boolean)
  final case class Pass(phase: String, traced: Boolean, wall: Double, cpu: Double, gc: Double,
                        jit: Double, codegen: Long, heapMb: Double, steal: Double,
                        samples: Seq[Sample], span: Option[Span])

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queries = opt("queries").split(',').toSeq
    val once = opt.getOrElse("once", "").split(',').toSeq.filter(_.nonEmpty)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val input = opt("input")
    val cores = opt("cores").toInt
    val spark = session(cores, opt("scratch"))
    val tracer = if (traced) Some(new Tracer(spark)) else None

    def runPass(phase: String, order: Seq[String], trace: Option[Tracer],
                sink: (String, DataFrame) => Unit = noop): Pass = {
      val gc0 = gcSeconds(); val cpu0 = cpuSeconds(); val jit0 = jitSeconds()
      val codegen0 = codegenCompiles(); val ticks0 = cpuTicks(); val t0 = System.nanoTime()
      val passSpan = trace.map(t => t.open(t.root.id, "pass", phase))
      val samples = order.map(name => runQuery(spark, name, input, trace, passSpan, sink))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - cpu0; val gc = gcSeconds() - gc0; val jit = jitSeconds() - jit0
      val codegen = codegenCompiles() - codegen0
      val ticks1 = cpuTicks()
      val steal = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
      val closed = for (t <- trace; p <- passSpan) yield t.close(p)
      System.gc()
      Pass(phase, trace.isDefined, wall, cpu, gc, jit, codegen, heapUsedMb(), steal, samples,
        closed)
    }
    def order(tag: Long): Seq[String] = new Random(seed * 1000003L + tag).shuffle(queries)

    val cold = runPass("cold", order(-1), None)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // the JIT keeps compiling for several passes after the cold one (its
    // seconds per pass fall from 7-8 to 2-3 over five rag_serve passes on
    // a 4-vCPU host): the check pass and untimed warm passes run for
    // `WarmSeconds` to keep most of that trend out of the timed passes
    val w0 = System.nanoTime()
    val checkDir = opt("check")
    val check = runPass("check", order(-2), None,
      (name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name"))
    val warm = Seq.newBuilder[Pass]
    var j = 0
    while ((System.nanoTime() - w0) / 1e9 < WarmSeconds) {
      warm += runPass("warm", order(-3 - j), None)
      j += 1
    }
    val passes = Seq.newBuilder[Pass]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // traced passes alternate with untraced ones so that the tracing
    // overhead is measured on the same JVM state; at least two of each
    while (elapsed < seconds || (traced && i < 4)) {
      passes += runPass("timed", order(i), if (traced && i % 2 == 1) tracer else None)
      i += 1
    }
    val timedS = elapsed
    val kernels = if (traced) Kernels.run(spark, input, seed) else Map.empty[String, Double]
    val sweep = tracer.filter(_ => once.nonEmpty).map(t => runPass("once", once, Some(t)))

    val (layers, perQuery) = tracer.map { t =>
      t.close(t.root); t.attachJobs()
      Files.writeString(Paths.get(opt("spans")), Report.spansJson(t))
      (Report.layers(t, passes.result(), cores), Report.queries(t, passes.result() ++ sweep))
    }.getOrElse((Map.empty[String, Double], Map.empty[String, Map[String, Double]]))

    val result = Json.obj(
      "cores" -> cores,
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "passes" -> (Seq(cold, check) ++ warm.result() ++ passes.result() ++ sweep).map(p => Json.obj(
        "phase" -> p.phase, "traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpu,
        "gc_s" -> p.gc, "jit_s" -> p.jit, "codegen_compiles" -> p.codegen, "heap_mb" -> p.heapMb,
        "steal_frac" -> p.steal,
        "queries" -> p.samples.map(s => Json.obj("name" -> s.name, "s" -> s.seconds, "ok" -> s.ok)))),
      "oracle_sql" -> queries.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap,
      "layers" -> (layers ++ kernels),
      "queries" -> perQuery)
    Files.writeString(Paths.get(opt("result")), result.text)
    spark.stop()
  }

  /** Entries of Spark's cache of generated classes (default 100). A warm
    * build_rounds pass uses about 94 classes; the cache is split into four
    * segments by a hash that includes the identity hash of a class loader,
    * so with 100 entries whether a segment overflows, and every later pass
    * recompiles 6 to 55 classes, changes from JVM to JVM. Above the working
    * set, timed passes reuse the classes of the earlier passes in every JVM. */
  private val CodegenCacheEntries = 1000

  /** The session settings of `graft.Bench`, with every scratch path of
    * Spark inside `scratch`, and a codegen cache above a pass's working
    * set. */
  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** The sink of `graft.Bench`: forces every output column. */
  val noop: (String, DataFrame) => Unit =
    (_, df) => df.write.format("noop").mode("overwrite").save()

  /** One query into `sink`. A query that throws reports `ok = false`;
    * its time is never used. */
  def runQuery(spark: SparkSession, name: String, dir: String, trace: Option[Tracer],
               pass: Option[Span], sink: (String, DataFrame) => Unit): Sample = {
    def build: DataFrame = SparkEntry.queries(name)(spark, dir)
    def write(df: DataFrame): Unit = sink(name, df)
    val t0 = System.nanoTime()
    val ok = try {
      trace match {
        case Some(t) => t.query(pass.get.id, name, build, write)
        case None => write(build)
      }
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: ${e.getMessage}"); false
    }
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $name%s ${s}%.3f s")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    Sample(name, s, ok)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Whole-stage and expression classes compiled by Janino so far. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** (steal, total) jiffies of all CPUs from /proc/stat, (0, 0) off Linux:
    * steal is the time other guests of the host took from this one. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val ticks = try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong)
                  finally src.close()
      (ticks(7), ticks.sum)
    } catch { case _: Exception => (0L, 0L) }
  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}
