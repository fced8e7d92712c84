package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.Sessions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The benchmark's JVM side: runs one workload from outside the program's
  * public API and writes a raw record (timings, observed outputs, and with
  * `--trace 1` the listener totals and spans). `run.py` turns the record
  * into metrics and checks the outputs against `reference.json`.
  *
  * Arguments (`--name value`): workload, seed, trace, data, work, out,
  * spans, setups; `warm` and `queries` (query_suite); `share`, `dump` and
  * `batch` only when recording references.
  */
object Bench {
  final case class Args(m: Map[String, String]) {
    def s(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def i(k: String): Int = s(k).toInt
    def l(k: String): Long = s(k).toLong
  }

  /** One timed call into the program. `observed` is what the output check
    * compares (row count and content hash, or the corpus funnel).
    */
  final case class Op(id: Long, name: String, group: String, pass: Int,
                      startUs: Long, endUs: Long, ok: Boolean, error: String,
                      observed: Map[String, Any]) {
    def seconds: Double = (endUs - startUs) / 1e6
    def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
      "group" -> group, "pass" -> pass, "s" -> seconds, "start_us" -> startUs,
      "end_us" -> endUs, "ok" -> ok, "error" -> error, "observed" -> observed)
  }

  /** Order-independent content hash: row count and the exact decimal sum of
    * one 64-bit hash per row over the name-sorted columns. Map-typed
    * columns are hashed through their JSON text (Spark refuses to hash maps).
    */
  def contentHash(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols: Seq[Column] = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** A seeded permutation (Fisher–Yates over a splitmix stream). */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.indices.toArray
    var s = seed
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    for (i <- a.indices.reverse if i > 0) {
      val j = java.lang.Long.remainderUnsigned(next(), (i + 1).toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.map(xs)
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        val fs = st.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".")).toArray.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.length.toLong)
      } finally st.close()
    }

  def oneLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).replace('\n', ' ').take(300)

  def peakRssMb: Double = {
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(st).map(_.group(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val workload = a.s("workload")
    val seed = a.l("seed")
    val trace = a.i("trace") == 1
    val data = a.s("data")
    val work = Paths.get(a.s("work"))
    Files.createDirectories(work)

    val tSession = System.nanoTime()
    val spark = Sessions.withGraftConf(SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-bench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // the memoized path; reference values come from the recompute path
      .config("spark.graft.dedup.sharePairs", a.m.getOrElse("share", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString))
      .getOrCreate()
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val ctx = new Ctx(spark, a, seed, data, work, trace)
    workload match {
      case "query_suite" => QuerySuite.run(ctx)
      case "corpus" => Corpus.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    if (trace) {
      // Spark's per-job floor: the median wall time of an empty 4-task job
      val floor = (1 to 7).map { _ =>
        val t = System.nanoTime(); spark.range(0L, 4L, 1L, 4).count(); (System.nanoTime() - t) / 1e9
      }.sorted
      ctx.extra("floor_s") = floor(3)
      // the kernels run on the suite's tables; the pipeline's time is in
      // its own stages, where the kernel pass would only add run time
      if (workload == "query_suite")
        ctx.extra("kernels") = ctx.spans.timed("kernels", "kernel pass", ctx.root, 0L)(_ => Kernels.run(ctx))._1
    }
    // every run reads listener records (the stream's epochs at least), and
    // the listener bus delivers them asynchronously
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    ctx.spans.add(Span(ctx.root, 0L, ctx.root, "workload", workload, ctx.rootStart, Clock.nowUs))
    val rss = peakRssMb

    val fields = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_s" -> sessionS, "setup_s" -> ctx.setups.toList,
      "peak_rss_mb" -> rss, "ops" -> ctx.ops.map(_.toMap).toList)
    fields ++= ctx.extra
    val sb = new StringBuilder(Json(fields).dropRight(1))
    if (trace) {
      sb.append(",\"spark\":").append(ctx.jobs.toJson)
      sb.append(",\"plans\":").append(ctx.plans.toJson)
      val spanPath = Paths.get(a.s("spans"))
      val w = Files.newBufferedWriter(spanPath)
      try ctx.spans.all.foreach { s => w.write(s.toJson); w.newLine() } finally w.close()
    }
    sb.append(",\"streams\":").append(ctx.streams.toJson)
    sb.append("}")
    Files.write(Paths.get(a.s("out")), sb.toString.getBytes("UTF-8"))
    spark.stop()
  }
}

/** What a workload needs from the harness: the session, its arguments, the
  * probes, and `op`, which times one call into the program under its own
  * job group and span.
  */
final class Ctx(val spark: SparkSession, val args: Bench.Args, val seed: Long,
                val data: String, val work: Path, val trace: Boolean) {
  val spans = new Spans(trace)
  val jobs = new JobProbe
  val plans = new PlanProbe
  val streams = new StreamProbe
  spark.streams.addListener(streams)
  val root: Long = spans.nextId()
  val rootStart: Long = Clock.nowUs
  val ops = mutable.ArrayBuffer.empty[Bench.Op]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val setups = mutable.ArrayBuffer.empty[Double]

  if (trace) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Pass 0 (cold), then `warm` warm passes. */
  def passes(body: Int => Unit): Unit = (0 to args.i("warm")).foreach(body)

  /** Run the set-up step `f` `setups` + 1 times and record the seconds of
    * all but the first, which also pays class loading and JIT compilation.
    */
  def setup(name: String)(f: Int => Unit): Unit = {
    f(0)
    for (i <- 1 to args.i("setups"))
      setups += spans.timed("setup", name, root, 0L)(_ => f(i))._2
  }

  /** Time one call into the program (`f`), then run the output check
    * (`check`, untimed). Failures are recorded, never thrown.
    */
  def op(name: String, group: String, pass: Int, layer: String)
        (f: Long => Map[String, Any])(check: => Map[String, Any]): Unit = {
    val id = spans.nextId()
    val sc = spark.sparkContext
    sc.setJobGroup(s"bench:$id", name, interruptOnCancel = false)
    val t0 = Clock.nowUs
    val (ok, err, timedObs) =
      try { val o = f(id); (true, "", o) }
      catch { case e: Throwable => (false, Bench.oneLine(e), Map.empty[String, Any]) }
      finally sc.clearJobGroup()
    val t1 = Clock.nowUs
    spans.add(Span(id, root, id, layer, name, t0, t1))
    val obs = if (ok) {
      try timedObs ++ check
      catch { case e: Throwable => Map[String, Any]("check_error" -> Bench.oneLine(e)) }
    } else timedObs
    ops += Bench.Op(id, name, group, pass, t0, t1, ok, err, obs)
  }
}
